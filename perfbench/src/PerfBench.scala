package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.streaming.FadsStream

object Rm {
  def tree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => tree(c)) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

/** The benchmark's JVM side: runs one workload and writes its raw
  * measurements as JSON for `perfbench/run.py`, which turns them into
  * metrics.
  *
  * Usage: PerfBench <workload> <cpus> <seconds> <trace 0|1> <work dir>
  *   <data dir> <out json> [key=value ...]
  * with `entries=<name>,<name>,...` and `seed=<n>` (the order of every
  * pass over them) for the entry workloads, and
  * `rate=<events/s> prime=<events>` for `fads_paced`.
  */
object PerfBench {
  /** Filesystem type plus the time of a 1 MiB write + fsync, as graft.Bench
    * records its placements. */
  def fsProbe(dir: Path): Map[String, Any] = {
    val fsType = try Files.getFileStore(dir).`type`() catch { case NonFatal(_) => "unknown" }
    val f = Files.createTempFile(dir, "fsprobe", ".bin")
    val ms = try {
      val t = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(new Array[Byte](1 << 20))); ch.force(true) }
      finally ch.close()
      (System.nanoTime() - t) / 1e6
    } finally Files.deleteIfExists(f)
    Map("path" -> dir.getFileName.toString, "fs_type" -> fsType, "fsync_probe_ms" -> ms)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, cpus, secondsArg, traceArg, workArg, dataArg, outArg) = args.take(7)
    val opts = args.drop(7).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val entries = opts.get("entries").map(_.split(',').toSeq).getOrElse(Nil)
    val seconds = secondsArg.toInt
    val tr = new Tracer(traceArg == "1")
    val work = Paths.get(workArg)
    val data = Paths.get(dataArg)
    val local = Files.createDirectories(work.resolve("spark-local"))
    var setupEndNs = -1L

    val spark = tr.span("session", "setup") { _ =>
      FadsStream.configure(SparkSession.builder()
          .master(s"local[$cpus]")
          .appName("perfbench")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", local.toString)
          .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val layers = if (tr.on) Some(new Layers(spark, tr)) else None
    layers.foreach(_.attach())
    val placements = Seq(fsProbe(local), fsProbe(work))
    val setupDone = () => {
      setupEndNs = tr.now()
      layers.foreach(_.windowOpened())
    }

    val wdir = Files.createDirectories(work.resolve(workload))
    val result = workload match {
      case "fads_paced" => FadsWorkloads.paced(spark, tr, wdir, data, seconds,
        opts("rate").toInt, opts("prime").toInt, setupDone)
      case "fads_replay_sharded" => FadsWorkloads.sharded(spark, tr, wdir, data, seconds, setupDone)
      case "entries_small" | "entries_large" =>
        Entries.run(spark, tr, wdir, data, entries, opts("seed").toLong, seconds, setupDone)
      case other => sys.error(s"unknown workload $other")
    }
    val layerCounters = layers.map(_.finish()).getOrElse(Map.empty)
    val out = Map(
      "workload" -> workload,
      "setup_end_epoch_ms" -> tr.epochNs(setupEndNs) / 1e6,
      "peak_rss_mb" -> peakRssMb(),
      "placements" -> placements,
      "result" -> result,
      "layers" -> layerCounters,
      "triggers" -> layers.map(_.triggerSamples).getOrElse(Map.empty),
      "window_ns" -> Seq(tr.windowStart, tr.windowEnd),
      "spans" -> tr.dump)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(outArg).toFile, out)
    spark.stop()
  }
}
