package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables}

/** End-to-end reference-pipeline parity (SURVEY.md §2.1 wiring): paced source
  * (O1) → FADS generalizer (O6) → memory sink (O7), with throughput history
  * (O5) recorded by the listener.
  */
class PacedReplaySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = FadsStream.configure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("paced replay drives the full pipeline and records throughput") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")

    val stageDir = Files.createTempDirectory("paced-stage").toString
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)

    val listener = ThroughputHistory.attach(spark)
    val stream = PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 5)
    val ckpt = Files.createTempDirectory("paced-ckpt").toString
    val q = FadsStream.anonymize(stream.as[Event], SparkEntry.eventsFadsConfig)
      .writeStream.format("memory").queryName("paced_gen").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(0))
      .start()
    try q.processAllAvailable() finally q.stop()

    val n = spark.table("paced_gen").count()
    // un-drained tail stays in the buffer (<= bufferConstraint + 1)
    assert(n >= 1000 - (SparkEntry.eventsFadsConfig.bufferConstraint + 1))
    assert(listener.totalRows == 1000, "listener saw every source row")
    assert(listener.history.nonEmpty, "throughput history recorded")
    spark.streams.removeListener(listener)
  }

  test("staged chunks replay in chunk order, one file per trigger, equal to the engine") {
    import spark.implicits._
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val stageDir = Files.createTempDirectory("paced-order-stage")
    // parallel writers are what interleave the chunk files' mtimes: keep
    // AQE from coalescing the tiny chunk shuffle into a single write task
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesce)
    try {
      spark.conf.set(coalesce, "false")
      PacedReplay.stage(events.repartition(8), Seq("ts", "event_id"),
        rowsPerFile = 50, stageDir.toString)
    } finally spark.conf.set(coalesce, prev)

    // the file source's admission order: modification time, then path
    val files = {
      val walk = Files.walk(stageDir)
      try walk.iterator().asScala.filter { f =>
        Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")
      }.toVector finally walk.close()
    }
    val admitted = files
      .map(f => (Files.getLastModifiedTime(f).toMillis, f.toString, f))
      .sortBy(t => (t._1, t._2))
      .map(_._3.getParent.getFileName.toString.stripPrefix("__chunk=").toInt)
    assert(admitted.size == 20, s"one file per chunk: $admitted")
    assert(admitted == admitted.sorted, s"admission order is chunk order: $admitted")

    val ckpt = Files.createTempDirectory("paced-order-ckpt").toString
    val q = FadsStream.anonymize(
        PacedReplay.stream(spark, stageDir.toString, events.schema, filesPerTrigger = 1).as[Event],
        SparkEntry.eventsFadsConfig)
      .writeStream.format("memory").queryName("paced_order").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(0))
      .start()
    try {
      q.processAllAvailable()
      // drain sentinel chunk, written after (so admitted after) every chunk
      Seq(Event(-1L, Long.MaxValue, 0L, "", 0.0, "{}")).toDS()
        .withColumn("__chunk", lit("999999999"))
        .write.mode("append").partitionBy("__chunk").parquet(stageDir.toString)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 20, "one chunk per trigger")

    val got = spark.table("paced_order").as[GenEvent].collect()
      .map(g => (g.event_id, g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi, g.suppressed))
      .sortBy(_._1)
    val want = SparkEntry.fadsReplay(spark, sfDir).collect().map { r =>
      val u = r.getStruct(r.fieldIndex("user_id"))
      val v = r.getStruct(r.fieldIndex("value"))
      (r.getLong(r.fieldIndex("event_id")),
        u.getDouble(0), u.getDouble(1), v.getDouble(0), v.getDouble(1),
        r.getBoolean(r.fieldIndex("suppressed")))
    }.sortBy(_._1)
    assert(got.length == 1000, s"cardinality after drain: ${got.length}")
    assert(got.toSeq == want.toSeq, "one-file-per-trigger replay must equal the engine replay")
  }

  test("runFor enforces the reference's wall-clock runtime bound") {
    import spark.implicits._
    val events = Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val stageDir = Files.createTempDirectory("runfor-stage").toString
    PacedReplay.stage(events, Seq("ts", "event_id"), rowsPerFile = 100, stageDir)
    val ckpt = Files.createTempDirectory("runfor-ckpt").toString
    // one file per 10 s trigger: 10 files cannot finish inside the bound
    val q = PacedReplay.stream(spark, stageDir, events.schema, filesPerTrigger = 1)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(PacedReplay.trigger(10000))
      .start()
    val finished = PacedReplay.runFor(q, runtimeMs = 3000)
    assert(!finished, "bound elapsed before the stream could finish")
    assert(!q.isActive, "query stopped at the runtime bound")
  }
}
