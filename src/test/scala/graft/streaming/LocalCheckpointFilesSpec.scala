package graft.streaming

import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables}

/** The production checkpoint manager: the files it leaves match the stock
  * local FS, checkpoints written by Spark's default manager stay readable,
  * and a FADS stream's triggers spawn no process from the checkpoint path.
  */
class LocalCheckpointFilesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = FadsStream.configure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private val managerConf = "spark.sql.streaming.checkpointFileManagerClass"

  private def names(dir: NioPath): Set[String] = {
    val list = Files.list(dir)
    try list.iterator().asScala.map(_.getFileName.toString).toSet finally list.close()
  }

  private def atomicWrite(fm: CheckpointFileManager, file: Path, bytes: Array[Byte],
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(file, overwriteIfPossible = overwrite)
    out.write(bytes)
    out.close()
  }

  private def engineReplay(): Seq[(Long, Double, Double, Double, Double, Boolean)] =
    SparkEntry.fadsReplay(spark, sfDir).collect().map { r =>
      val u = r.getStruct(r.fieldIndex("user_id"))
      val v = r.getStruct(r.fieldIndex("value"))
      (r.getLong(r.fieldIndex("event_id")),
        u.getDouble(0), u.getDouble(1), v.getDouble(0), v.getDouble(1),
        r.getBoolean(r.fieldIndex("suppressed")))
    }.toSeq.sortBy(_._1)

  test("createAtomic + close leaves the file and its .crc with the stock local FS's mode bits") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("ckpt-files")
    val fm = new LocalCheckpointFiles(new Path(dir.toUri), conf)
    atomicWrite(fm, new Path(dir.toUri.toString + "/1"), "batch".getBytes("UTF-8"))
    assert(names(dir) == Set("1", ".1.crc"), "no temp file left behind")
    assert(new String(Files.readAllBytes(dir.resolve("1")), "UTF-8") == "batch")

    val stock = FileSystem.getLocal(conf)
    val out = stock.create(new Path(dir.toUri.toString + "/stock"))
    out.write("batch".getBytes("UTF-8"))
    out.close()
    def mode(f: String) = Files.getPosixFilePermissions(dir.resolve(f))
    assert(mode("1") == mode("stock"))
    assert(mode(".1.crc") == mode(".stock.crc"))
    val in = fm.open(new Path(dir.toUri.toString + "/1"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "batch", "checksummed read")
    finally in.close()
  }

  test("cancel() leaves nothing behind") {
    val dir = Files.createTempDirectory("ckpt-cancel")
    val fm = new LocalCheckpointFiles(new Path(dir.toUri), new Configuration())
    val out = fm.createAtomic(new Path(dir.toUri.toString + "/1"), overwriteIfPossible = false)
    out.write(Array.fill[Byte](4096)(7))
    out.cancel()
    assert(names(dir).isEmpty, s"left: ${names(dir)}")
  }

  test("overwriteIfPossible = false on an existing file throws FileAlreadyExistsException") {
    val dir = Files.createTempDirectory("ckpt-exists")
    val fm = new LocalCheckpointFiles(new Path(dir.toUri), new Configuration())
    val file = new Path(dir.toUri.toString + "/1")
    atomicWrite(fm, file, "first".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException] {
      atomicWrite(fm, file, "second".getBytes("UTF-8"))
    }
    assert(new String(Files.readAllBytes(dir.resolve("1")), "UTF-8") == "first")
    atomicWrite(fm, file, "third".getBytes("UTF-8"), overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("1")), "UTF-8") == "third")
  }

  test("a FadsStream.configure session checkpoints through LocalCheckpointFiles") {
    val dir = new Path(Files.createTempDirectory("ckpt-session").toUri)
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFiles], fm.getClass.getName)
    assert(fm.isLocal)
  }

  test("a checkpoint written by Spark's default manager restarts under configure") {
    import spark.implicits._
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val stageDir = Files.createTempDirectory("ckpt-compat-stage").toString
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)
    val ckpt = Files.createTempDirectory("ckpt-compat").toString
    val outDir = Files.createTempDirectory("ckpt-compat-out").toString

    def startQuery() = FadsStream.anonymize(
        PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 1).as[Event],
        SparkEntry.eventsFadsConfig)
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    def sunk(): Long = scala.util.Try(spark.read.parquet(outDir).count()).getOrElse(0L)

    // phase 1: Spark's default (FileContext) manager, killed mid-stream
    val production = spark.conf.get(managerConf)
    try {
      spark.conf.unset(managerConf)
      assert(CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
        .isInstanceOf[FileContextBasedCheckpointFileManager])
      val q1 = startQuery()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (sunk() < 150 && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(sunk() >= 150, "phase 1 made progress")
      } finally q1.stop()
    } finally spark.conf.set(managerConf, production)
    assert(sunk() < 1000, "stopped mid-stream")

    // phase 2: the same checkpoint under the production policy, then drained
    val q2 = startQuery()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (sunk() < 1000 - 50 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      Seq(Event(-1L, Long.MaxValue, 0L, "", 0.0, "{}")).toDS()
        .withColumn("__chunk", lit("999999999"))
        .write.mode("append").partitionBy("__chunk").parquet(stageDir)
      while (sunk() < 1000 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally q2.stop()

    val got = spark.read.parquet(outDir).as[GenEvent].collect()
      .map(g => (g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi, g.suppressed))
      .toSeq.sortBy(_._1)
    assert(got.length == 1000, s"cardinality after drain: ${got.length}")
    assert(got == engineReplay(), "restarted stream must equal the engine replay")
  }

  test("FADS triggers under configure spawn no process from the checkpoint path") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
    val stream = MemoryStream[Event]
    val ckpt = Files.createTempDirectory("ckpt-spawn").toString
    val q = FadsStream.anonymize(stream.toDS(), SparkEntry.eventsFadsConfig)
      .writeStream.format("noop").option("checkpointLocation", ckpt).start()
    val chunks = input.grouped(100).toVector
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("ckpt-spawn", ".jfr")
    try {
      // warm-up: query start and the first commit, whose RocksDB snapshot
      // upload copies SST files through Spark's own cached FileSystem, not
      // the checkpoint manager (later snapshots follow every 10 versions)
      chunks.take(2).foreach { c => stream.addData(c.toIndexedSeq); q.processAllAvailable() }
      val warm = q.recentProgress.length
      recording.start()
      chunks.slice(2, 8).foreach { c => stream.addData(c.toIndexedSeq); q.processAllAvailable() }
      // a spawn of our own proves the recording sees spawns and their stacks
      new ProcessBuilder("true").start().waitFor()
      recording.stop()
      recording.dump(dump)
      assert(q.recentProgress.length - warm >= 5, "recorded at least 5 triggers")
    } finally {
      q.stop()
      recording.close()
    }
    val spawns = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toVector
    Files.delete(dump)
    def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName))
    assert(spawns.exists(frames(_).contains(getClass.getName)), "the recording saw our own spawn")
    val fromCheckpoints = spawns.filter(e => frames(e).exists(t =>
      t.contains("CheckpointFileManager") || t.contains("RawLocalFileSystem")))
    if (fromCheckpoints.nonEmpty)
      fail(s"${fromCheckpoints.size} spawns from the checkpoint path, e.g.\n" +
        fromCheckpoints.take(3).map(e =>
          e.getString("command") + " from " + frames(e).take(12).mkString(" < ")).mkString("\n"))
  }
}
