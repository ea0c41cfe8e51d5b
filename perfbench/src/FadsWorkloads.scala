package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.fads.Fads
import graft.streaming.{Event, FadsStream, GenEvent, PacedReplay}

/** Chunk files in the layout `PacedReplay.stream` reads
  * (`<stage>/__chunk=<9 digits>/part-0.parquet`). Each file is written
  * under a scratch name and then renamed into the stage directory, so the
  * stream never lists a half-written file.
  */
final class ChunkWriter(stageDir: Path, tmpDir: Path) {
  private val schema = MessageTypeParser.parseMessageType(
    """message event { required int64 event_id; required int64 ts;
      | required int64 user_id; required binary event_type (UTF8);
      | required double value; required binary props (UTF8); }""".stripMargin)
  private val groups = new SimpleGroupFactory(schema)
  // built once: a fresh Configuration re-reads Hadoop's default resources
  private val conf = new org.apache.hadoop.conf.Configuration()
  private var lastMtime = 0L
  Files.createDirectories(stageDir)
  Files.createDirectories(tmpDir)

  def write(chunk: Int, events: Iterator[Event]): Unit = {
    val tmp = tmpDir.resolve(f"chunk-$chunk%09d.parquet")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(schema).withConf(conf).withCompressionCodec(CompressionCodecName.UNCOMPRESSED).build()
    try events.foreach { e =>
      w.write(groups.newGroup().append("event_id", e.event_id).append("ts", e.ts)
        .append("user_id", e.user_id).append("event_type", e.event_type)
        .append("value", e.value).append("props", e.props))
    } finally w.close()
    val dir = Files.createDirectories(stageDir.resolve(f"__chunk=$chunk%09d"))
    val file = Files.move(tmp, dir.resolve("part-0.parquet"), StandardCopyOption.ATOMIC_MOVE)
    // the file source admits files in modification-time order (ms): keep
    // it strictly increasing in chunk order
    val mtime = Files.getLastModifiedTime(file).toMillis
    if (mtime <= lastMtime)
      Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(lastMtime + 1))
    lastMtime = math.max(mtime, lastMtime + 1)
  }
}

/** Replays recorded stream input through [[Fads.Engine]] (the program's
  * batch semantics) and checks a stream's released rows against it: same
  * rows, one output per input, each QID inside its interval, every
  * non-suppressed generalization group holding ≥ k distinct PIDs, and the
  * suppressed share within the repository's FadsInvariants bound.
  */
object FadsCheck {
  final case class Released(lo0: Double, hi0: Double, lo1: Double, hi1: Double, suppressed: Boolean)

  final class Replay(val out: mutable.LongMap[Released], val drained: mutable.LongMap[Boolean],
      val stepNs: Array[Long], val stepOut: Array[Int], val stepSuppressed: Array[Int],
      val liveClustersMax: Int, val bufferMax: Int, val drainNs: Long)

  /** One engine per shard; within a shard, inputs step in (ts, event_id)
    * order on the event-time clock `ts / 1e6` ms, then the shard drains.
    */
  def replay(input: Seq[Event], cfg: Fads.Config, shardOf: Event => Long,
      tr: Tracer): Replay = tr.span("fads.replay", "fads") { _ =>
    val out = mutable.LongMap.empty[Released]
    val drained = mutable.LongMap.empty[Boolean]
    val n = input.size
    val stepNs = new Array[Long](n)
    val stepOut = new Array[Int](n)
    val stepSupp = new Array[Int](n)
    var clustersMax = 0; var bufferMax = 0; var drainNs = 0L
    var i = 0
    def emit(o: Fads.Out): Unit = {
      val e = o.payload.asInstanceOf[Event]
      out(e.event_id) = Released(o.lo(0), o.hi(0), o.lo(1), o.hi(1), o.suppressed)
    }
    input.groupBy(shardOf).toSeq.sortBy(_._1).foreach { case (_, rows) =>
      val engine = new Fads.Engine(cfg)
      val st = new Fads.State(cfg.nQid)
      var lastNow = 0L
      rows.sortBy(e => (e.ts, e.event_id)).iterator.zipWithIndex.foreach { case (e, seq) =>
        lastNow = e.ts / 1000000L
        val in = Fads.In(Array(e.user_id.toDouble, e.value), e.user_id, e, lastNow, seq.toLong)
        val t0 = System.nanoTime()
        val rel = engine.step(st, in, lastNow)
        stepNs(i) = System.nanoTime() - t0
        stepOut(i) = rel.size
        stepSupp(i) = rel.count(_.suppressed)
        clustersMax = math.max(clustersMax, st.clusters.size)
        bufferMax = math.max(bufferMax, st.buffer.size)
        rel.foreach(emit)
        i += 1
      }
      val t0 = System.nanoTime()
      val rest = engine.drain(st, lastNow)
      drainNs += System.nanoTime() - t0
      rest.foreach { o => emit(o); drained(o.payload.asInstanceOf[Event].event_id) = true }
    }
    new Replay(out, drained, stepNs, stepOut, stepSupp, clustersMax, bufferMax, drainNs)
  }

  final case class Verdict(attempted: Long, failed: Long, infoLoss: Double,
      suppressedFrac: Double, problems: Seq[String])

  def check(input: Seq[Event], released: Seq[GenEvent], expected: Replay,
      cfg: Fads.Config): Verdict = {
    val problems = mutable.ArrayBuffer.empty[String]
    val bad = mutable.HashSet.empty[Long]
    val byId = mutable.LongMap.empty[GenEvent]
    released.foreach { g =>
      if (byId.contains(g.event_id)) { bad += g.event_id; problems += s"event ${g.event_id} released twice" }
      byId(g.event_id) = g
    }
    if (released.size != input.size)
      problems += s"released ${released.size} rows for ${input.size} inputs"
    val lo = Array(input.map(_.user_id.toDouble).min, input.map(_.value).min)
    val hi = Array(input.map(_.user_id.toDouble).max, input.map(_.value).max)
    var loss = 0.0
    val groups = mutable.HashMap.empty[(Double, Double, Double, Double), mutable.HashSet[Long]]
    input.foreach { e =>
      byId.get(e.event_id) match {
        case None => bad += e.event_id
        case Some(g) =>
          val want = expected.out.get(e.event_id)
          val got = Released(g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi, g.suppressed)
          if (!want.contains(got)) {
            if (bad.isEmpty) problems += s"event ${e.event_id}: stream $got, engine replay ${want.orNull}"
            bad += e.event_id
          }
          if (e.user_id < g.user_id_lo || e.user_id > g.user_id_hi ||
              e.value < g.value_lo || e.value > g.value_hi) bad += e.event_id
          if (!g.suppressed)
            groups.getOrElseUpdate((g.user_id_lo, g.user_id_hi, g.value_lo, g.value_hi),
              mutable.HashSet.empty[Long]) += e.user_id
          loss += ((g.user_id_hi - g.user_id_lo) / math.max(hi(0) - lo(0), 1e-12) +
            (g.value_hi - g.value_lo) / math.max(hi(1) - lo(1), 1e-12)) / 2
      }
    }
    if (bad.nonEmpty) problems += s"${bad.size} rows differ from the engine replay or leave their interval"
    val smallGroups = groups.count(_._2.size < cfg.k)
    if (smallGroups > 0) problems += s"$smallGroups released groups hold fewer than k=${cfg.k} PIDs"
    val suppressed = released.count(_.suppressed)
    val suppFrac = suppressed.toDouble / math.max(released.size, 1)
    if (suppFrac > 0.5) problems += f"suppressed fraction $suppFrac%.3f exceeds 0.5"
    val failed = if (problems.isEmpty) 0L
      else math.max(bad.size.toLong, 1L) + (if (smallGroups > 0 || suppFrac > 0.5) 1L else 0L)
    Verdict(input.size.toLong, failed, loss / math.max(input.size, 1), suppFrac, problems.toSeq)
  }

  def replayJson(r: Replay): Map[String, Any] = Map(
    "step_ns" -> r.stepNs, "step_out" -> r.stepOut, "step_suppressed" -> r.stepSuppressed,
    "live_clusters_max" -> r.liveClustersMax, "buffer_max" -> r.bufferMax,
    "drain_ns" -> r.drainNs)
}

/** Released rows as the sink saw them: for each batch, its id, when the
  * sink was called, when it held the rows (tracer clock), and the rows.
  */
final class CollectingSink(tr: Tracer) {
  final case class Batch(id: Long, start: Long, seen: Long, rows: Array[GenEvent])
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer.empty

  val fn: (Dataset[GenEvent], Long) => Unit = (ds, id) =>
    tr.span("sink.batch", "sink", infer = true) { _ =>
      val start = tr.now()
      val rows = ds.collect()
      val seen = tr.now()
      batches.synchronized(batches += Batch(id, start, seen, rows))
    }

  def rows: Seq[GenEvent] = batches.synchronized(batches.toSeq.flatMap(_.rows.toSeq))
  def lastSeen: Long = batches.synchronized(batches.filter(_.rows.nonEmpty).map(_.seen).maxOption.getOrElse(-1L))
}

object FadsWorkloads {
  val eventSchema: StructType = Encoders.product[Event].schema
  private implicit val eventEnc: org.apache.spark.sql.Encoder[Event] = Encoders.product[Event]

  /** Generator content: events without `ts`, which the generator stamps. */
  def readContent(spark: SparkSession, path: String): IndexedSeq[Event] =
    spark.read.parquet(path)
      .selectExpr("event_id", "CAST(0 AS BIGINT) AS ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().sortBy(_.event_id).toIndexedSeq

  val PeriodMs = 100
  val PrimeChunks = 10

  /** Open loop at `ratePerSec` events/s into the single-key stream, after
    * `primeEvents` of back-dated history at the same rate. The history must
    * span one cluster TTL, so measurement starts with the live-cluster
    * population of a stream that has run for a full TTL.
    */
  def paced(spark: SparkSession, tr: Tracer, work: Path, data: Path,
      seconds: Int, ratePerSec: Int, primeEvents: Int, setupDone: () => Unit): Map[String, Any] = {
    val cfg = SparkEntry.eventsFadsConfig
    require(primeEvents.toLong * 1000L / ratePerSec >= cfg.reuseTtlMs,
      s"$primeEvents events of history at $ratePerSec/s span less than one TTL")
    val perChunk = ratePerSec * PeriodMs / 1000
    val content = readContent(spark, data.resolve("paced_content.parquet").toString)
    val nLive = seconds * ratePerSec
    require(content.size >= primeEvents + nLive, "paced input is smaller than the run")
    val stage = work.resolve("stage")
    val writer = new ChunkWriter(stage, work.resolve("gen_tmp"))
    val sink = new CollectingSink(tr)
    val sent = mutable.ArrayBuffer.empty[Event]

    // history: one TTL at the offered rate, ending now
    val primeEndNs = tr.epochNs(tr.now())
    val prime = content.take(primeEvents).zipWithIndex.map { case (e, i) =>
      e.copy(ts = primeEndNs - (primeEvents - i).toLong * 1000000000L / ratePerSec)
    }
    val perPrimeChunk = primeEvents / PrimeChunks
    prime.grouped(perPrimeChunk).zipWithIndex.foreach { case (c, j) => writer.write(j, c.iterator) }
    sent ++= prime

    // keep every trigger's progress: the throughput is taken from them
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val query = FadsStream.anonymize(
        PacedReplay.stream(spark, stage.toString, eventSchema, filesPerTrigger = 100000).as[Event], cfg)
      .writeStream.foreachBatch(sink.fn)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(PacedReplay.trigger(0))
      .start()
    try {
      query.processAllAvailable()
      setupDone()

      // the generator: one thread, a fixed schedule that never slows down
      val periodNs = PeriodMs * 1000000L
      val nChunks = nLive / perChunk
      val t0 = tr.now() + periodNs
      val publishedNs = new Array[Long](nChunks)
      val live = new Array[Event](nChunks * perChunk)
      tr.windowStart = t0
      @volatile var genFailure: Throwable = null
      val gen = new Thread(() => try {
        var j = 0
        while (j < nChunks) {
          val due = t0 + j * periodNs
          var wait = due - tr.now()
          while (wait > 0) { java.util.concurrent.locks.LockSupport.parkNanos(wait); wait = due - tr.now() }
          tr.span("gen.tick", "sources") { _ =>
            val ts = tr.epochNs(tr.now())
            val base = j * perChunk
            var k = 0
            while (k < perChunk) {
              live(base + k) = content(primeEvents + base + k).copy(ts = ts)
              k += 1
            }
            writer.write(PrimeChunks + j, live.iterator.slice(base, base + perChunk))
            publishedNs(j) = tr.now()
          }
          j += 1
        }
      } catch { case e: Throwable => genFailure = e }, "perfbench-generator")
      gen.start()
      gen.join()
      if (genFailure != null) throw genFailure
      tr.windowEnd = t0 + nChunks * periodNs
      query.processAllAvailable()
      sent ++= live
      // end-of-run drain: one sentinel (event_id < 0) in a chunk of its own
      writer.write(PrimeChunks + nChunks,
        Iterator(graft.streaming.Event(-1L, 0L, 0L, "", 0.0, "")))
      query.processAllAvailable()

      val expected = FadsCheck.replay(sent.toSeq, cfg, _ => 0L, tr)
      val verdict = FadsCheck.check(sent.toSeq, sink.rows, expected, cfg)
      val liveIds = mutable.ArrayBuffer.empty[Long]
      val liveSeen = mutable.ArrayBuffer.empty[Long]
      val batchLiveRows = sink.batches.map { b =>
        val live = b.rows.filter(g => g.event_id >= primeEvents && !expected.drained.contains(g.event_id))
        live.foreach { g => liveIds += g.event_id; liveSeen += b.seen }
        live.length
      }
      // whole-trigger time of each sink batch (-1 when Spark kept no progress)
      val triggerMs = query.recentProgress.map(p => p.batchId ->
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)).toMap
      val batchTriggerMs = sink.batches.map(b => triggerMs.getOrElse(b.id, -1L))
      Map(
        "attempted" -> verdict.attempted, "failed" -> verdict.failed,
        "problems" -> verdict.problems, "info_loss" -> verdict.infoLoss,
        "suppressed_frac" -> verdict.suppressedFrac,
        "schedule" -> Map("t0_ns" -> t0, "period_ns" -> periodNs, "per_chunk" -> perChunk,
          "base_id" -> primeEvents, "published_ns" -> publishedNs),
        "released_ids" -> liveIds.toArray, "released_seen_ns" -> liveSeen.toArray,
        "batch_start_ns" -> sink.batches.map(_.start), "batch_trigger_ms" -> batchTriggerMs,
        "batch_live_rows" -> batchLiveRows,
        "engine" -> FadsCheck.replayJson(expected),
        "window_s" -> (tr.windowEnd - t0) / 1e9)
    } finally query.stop()
  }

  val ShardedTriggers = 6

  /** Closed loop: the staged backlog through the region-sharded stream, as
    * many passes as fit the run; every pass is checked.
    */
  def sharded(spark: SparkSession, tr: Tracer, work: Path, data: Path,
      seconds: Int, setupDone: () => Unit): Map[String, Any] = {
    val dir = data.toString
    val cfg = FadsStream.regionCfg(spark, dir)
    val events = graft.Tables.load(spark, dir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
    val input = events.as[Event].collect().toSeq.sortBy(e => (e.ts, e.event_id))
    val stage = work.resolve("stage")
    val writer = new ChunkWriter(stage, work.resolve("gen_tmp"))
    // one chunk per trigger, written one after another: the file source
    // admits chunks in modification-time order, and PacedReplay.stage's
    // parallel writers interleave those times, which replays event time out
    // of order
    input.grouped(math.max(1, input.size / ShardedTriggers)).zipWithIndex.foreach { case (c, j) =>
      writer.write(j, c.iterator)
    }
    val sentinelChunk = 999999999
    val expected = FadsCheck.replay(input, cfg, FadsStream.regionShardOf, tr)

    def pass(i: Int): (Double, FadsCheck.Verdict, Seq[Long]) = {
      val sink = new CollectingSink(tr)
      val start = tr.now()
      val query = FadsStream.anonymizeSharded(
          PacedReplay.stream(spark, stage.toString, eventSchema).as[Event], cfg,
          FadsStream.regionShardOf)
        .writeStream.foreachBatch(sink.fn)
        .option("checkpointLocation", work.resolve(s"ckpt-$i").toString)
        .trigger(PacedReplay.trigger(0))
        .start()
      try {
        query.processAllAvailable()
        // one drain sentinel per region shard, routed by value
        writer.write(sentinelChunk, (0 until 8).iterator.map(s =>
          graft.streaming.Event(-1L, 0L, 0L, "", s * 64.0, "")))
        query.processAllAvailable()
      } finally {
        query.stop()
        Rm.tree(stage.resolve(f"__chunk=$sentinelChunk%09d"))
        Rm.tree(work.resolve(s"ckpt-$i"))
      }
      val rows = sink.rows
      val wall = (sink.lastSeen - start) / 1e9
      // closed loop: each trigger is the next request once the previous one
      // was released, so its latency runs from the previous release
      val seen = start +: sink.batches.toSeq.filter(_.rows.nonEmpty).map(_.seen)
      (wall, FadsCheck.check(input, rows, expected, cfg), seen.zip(seen.tail).map { case (a, b) => b - a })
    }

    val warmUp = pass(0) // JIT, codegen and the state store's first commit
    setupDone()
    val t0 = tr.now()
    tr.windowStart = t0
    val passes = mutable.ArrayBuffer.empty[(Double, FadsCheck.Verdict, Seq[Long])]
    while (passes.size < 4 || tr.now() - t0 < seconds * 1000000000L)
      passes += pass(passes.size + 1)
    tr.windowEnd = tr.now()
    val vs = warmUp._2 +: passes.map(_._2)
    Map(
      "attempted" -> vs.map(_.attempted).sum, "failed" -> vs.map(_.failed).sum,
      "problems" -> vs.flatMap(_.problems).distinct, "info_loss" -> vs.head.infoLoss,
      "suppressed_frac" -> vs.head.suppressedFrac,
      "pass_wall_s" -> passes.map(_._1),
      "batch_latency_ns" -> passes.flatMap(_._3),
      "passes" -> passes.size,
      "backlog_rows" -> input.size,
      "engine" -> FadsCheck.replayJson(expected),
      "window_s" -> (tr.windowEnd - t0) / 1e9)
  }
}
