package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming._
import graft.fads.Fads

/** Typed event record for the streaming surface (the `events` table with ts
  * already surfaced as epoch-nanos LONG, see graft.Tables.load).
  * `event_id < 0` is a drain sentinel: it is not processed as data but forces
  * the end-of-stream flush (the reference drains in `Generalizer.close()`,
  * /root/reference/src/main/java/fads/Generalizer.java:59-74 — Structured
  * Streaming has no operator-close emit, so the drain is triggered by a
  * sentinel or a processing-time timer, SURVEY.md §7.3).
  */
case class Event(
    event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double, props: String)

/** Generalized output: QIDs (user_id, value) replaced by [lo, hi] intervals
  * (reference output schema, Generalizer.java:259-269 — flattened rather than
  * nested structs for friction-free downstream SQL).
  */
case class GenEvent(
    event_id: Long, ts: Long,
    user_id_lo: Double, user_id_hi: Double,
    event_type: String,
    value_lo: Double, value_hi: Double,
    props: String, suppressed: Boolean)

/** Serializable FADS state snapshot (the streaming state-store image of
  * [[Fads.State]]; the reference hand-rolls Java serialization for the same
  * purpose, Generalizer.java:272-333 — here it's just a product encoder).
  */
case class BufferedEvent(qid0: Double, qid1: Double, pid: Long,
    ev: Event, arrivalMs: Long, seq: Long)
case class ClusterSnap(lo: Array[Double], hi: Array[Double],
    createdAtMs: Long, seq: Long)
case class FadsSnap(
    buffer: List[BufferedEvent],
    gLo: Array[Double], gHi: Array[Double],
    clusters: List[ClusterSnap],
    clusterSeq: Long, seqNo: Long, sawAny: Boolean)

/** FADS streaming k-anonymization as a Spark 4 `transformWithState`
  * StatefulProcessor — the one genuinely custom streaming operator of this
  * engine (SURVEY.md §4.2). The algorithm lives in [[graft.fads.Fads]]; this
  * class only adapts rows ↔ engine and snapshots state.
  *
  * The clock is EVENT time (`ts`), not the wall clock, making replays
  * deterministic and testable (SURVEY.md §7.3 hard part 3); cluster TTL
  * expiry therefore follows the data's own timeline, like a watermark.
  *
  * Scale: the reference's state is one global stream context (correct only at
  * parallelism 1, SURVEY.md §3.3), so callers key by a constant for parity —
  * or by a real shard key (tenant/region) for scale-out, giving an
  * independent, parallel FADS stream per shard with per-shard k-anonymity.
  */
object FadsProcessor {
  /** Per-key per-trigger row cap — the operator's MEMORY CONTRACT. The
    * engine consumes rows in strict (ts, event_id) order but a micro-batch
    * delivers them unordered, so each trigger's rows must be buffered and
    * sorted before stepping the engine: per-key heap is O(min(batch, cap))
    * Event objects (~150 B each ⇒ ≤ ~160 MB at the default cap), NOT
    * unbounded. Upstream sizes triggers below the cap
    * ([[PacedReplay.stage]]: rowsPerFile × filesPerTrigger rows per
    * trigger); a violating batch fails fast with the sizing hint instead of
    * silently ballooning executor heap (round-2 verdict item 3).
    */
  val DefaultMaxBatchRows: Int = 1 << 20

  /** Buffer `rows` up to `cap` and sort by (ts, event_id) in place —
    * separated from the processor so the bound is unit-testable without a
    * streaming harness. Throws IllegalStateException beyond the cap.
    */
  def boundedSorted(rows: Iterator[Event], cap: Int): scala.collection.mutable.ArrayBuffer[Event] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Event]
    rows.foreach { e =>
      if (buf.length >= cap)
        throw new IllegalStateException(
          s"FADS trigger exceeded maxBatchRows=$cap for one key: size the " +
            "replay so rowsPerFile × filesPerTrigger ≤ cap (PacedReplay.stage) " +
            "or raise maxBatchRows to match available executor heap")
      buf += e
    }
    buf.sortInPlace()(Ordering.by((e: Event) => (e.ts, e.event_id)))
    buf
  }

  /** Built once per JVM: `Encoders.product` derives the schema by Scala
    * runtime reflection under a global lock, and `init` runs once per
    * state partition per trigger.
    */
  val SnapEncoder: org.apache.spark.sql.Encoder[FadsSnap] = Encoders.product[FadsSnap]
}

class FadsProcessor(cfg: Fads.Config, drainIdleMs: Long = 0L,
    maxBatchRows: Int = FadsProcessor.DefaultMaxBatchRows)
    extends StatefulProcessor[Long, Event, GenEvent] {

  @transient private var snapState: ValueState[FadsSnap] = _
  @transient private var engine: Fads.Engine = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    snapState = getHandle.getValueState[FadsSnap](
      "fads", FadsProcessor.SnapEncoder, TTLConfig.NONE)
    engine = new Fads.Engine(cfg)
  }

  private def restore(): (Fads.State, FadsSnap) = {
    val snap = Option(snapState.get()).getOrElse(
      FadsSnap(Nil, Array.fill(cfg.nQid)(Double.PositiveInfinity),
        Array.fill(cfg.nQid)(Double.NegativeInfinity), Nil, 0L, 0L, sawAny = false))
    val st = new Fads.State(cfg.nQid)
    snap.buffer.foreach { b =>
      st.buffer += Fads.In(Array(b.qid0, b.qid1), b.pid, b.ev, b.arrivalMs, b.seq)
    }
    Array.copy(snap.gLo, 0, st.gLo, 0, cfg.nQid)
    Array.copy(snap.gHi, 0, st.gHi, 0, cfg.nQid)
    snap.clusters.foreach(c =>
      st.clusters.append(Fads.Cluster(c.lo, c.hi, c.createdAtMs, c.seq)))
    st.clusterSeq = snap.clusterSeq
    st.sawAny = snap.sawAny
    (st, snap)
  }

  private def persist(st: Fads.State, seqNo: Long): Unit =
    snapState.update(FadsSnap(
      st.buffer.iterator.map(t => BufferedEvent(
        t.qids(0), t.qids(1), t.pid, t.payload.asInstanceOf[Event],
        t.arrivalMs, t.seq)).toList,
      st.gLo.clone(), st.gHi.clone(),
      st.clusters.iterator.map(c =>
        ClusterSnap(c.lo, c.hi, c.createdAtMs, c.seq)).toList,
      st.clusterSeq, seqNo, st.sawAny))

  private def toGen(o: Fads.Out): GenEvent = {
    val e = o.payload.asInstanceOf[Event]
    GenEvent(e.event_id, e.ts, o.lo(0), o.hi(0), e.event_type,
      o.lo(1), o.hi(1), e.props, o.suppressed)
  }

  override def handleInputRows(
      key: Long, rows: Iterator[Event], timerValues: TimerValues): Iterator[GenEvent] = {
    val (st, snap) = restore()
    var seqNo = snap.seqNo
    var lastNow = st.buffer.lastOption.map(_.arrivalMs).getOrElse(0L)
    var drainRequested = false
    val out = List.newBuilder[GenEvent]
    // rows within a micro-batch arrive unordered; impose the deterministic
    // replay order (ts, event_id) the batch surface uses — bounded by the
    // maxBatchRows memory contract (see FadsProcessor.DefaultMaxBatchRows)
    FadsProcessor.boundedSorted(rows, maxBatchRows).foreach { e =>
      if (e.event_id < 0) drainRequested = true
      else {
        val nowMs = e.ts / 1000000L // event-time clock, epoch ms
        lastNow = nowMs
        val in = Fads.In(Array(e.user_id.toDouble, e.value), e.user_id, e, nowMs, seqNo)
        seqNo += 1
        out ++= engine.step(st, in, nowMs).map(toGen)
      }
    }
    if (drainRequested) out ++= engine.drain(st, lastNow).map(toGen)
    persist(st, seqNo)
    if (drainIdleMs > 0) {
      // production drain path: (re)arm an idle timer; if no data arrives for
      // drainIdleMs, handleExpiredTimer flushes the buffer — the streaming
      // analogue of the reference's close() drain, no sentinel required
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + drainIdleMs)
    }
    out.result().iterator
  }

  override def handleExpiredTimer(
      key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[GenEvent] = {
    val (st, snap) = restore()
    val lastNow = st.buffer.lastOption.map(_.arrivalMs).getOrElse(0L)
    val drained = engine.drain(st, lastNow).map(toGen)
    persist(st, snap.seqNo)
    drained.iterator
  }
}

object FadsStream {

  /** Wire a streaming Dataset[Event] through the FADS processor with a single
    * constant key (reference parity: one global stream context).
    */
  def anonymize(events: Dataset[Event], cfg: Fads.Config,
      drainIdleMs: Long = 0L): Dataset[GenEvent] = {
    implicit val genEnc = Encoders.product[GenEvent]
    val timeMode =
      if (drainIdleMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    events
      .groupByKey(_ => 0L)(Encoders.scalaLong)
      .transformWithState(
        new FadsProcessor(cfg, drainIdleMs), timeMode, OutputMode.Append())
  }

  /** Scale-out: shard the stream by key; one independent FADS instance per
    * shard, k-anonymity guaranteed within each shard. `drainIdleMs > 0`
    * arms a per-shard idle timer that flushes each shard's buffer when no
    * data arrives for that long (mirroring [[anonymize]]) — without it up to
    * `bufferConstraint` tuples per shard are withheld until a sentinel, and
    * the output==input cardinality contract needs one sentinel PER SHARD.
    */
  def anonymizeSharded(events: Dataset[Event], cfg: Fads.Config,
      shardOf: Event => Long, drainIdleMs: Long = 0L): Dataset[GenEvent] = {
    implicit val genEnc = Encoders.product[GenEvent]
    val timeMode =
      if (drainIdleMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    events
      .groupByKey(shardOf)(Encoders.scalaLong)
      .transformWithState(
        new FadsProcessor(cfg, drainIdleMs), timeMode, OutputMode.Append())
  }

  /** Session config required by transformWithState (RocksDB state store).
    * Changelog checkpointing writes per-batch deltas instead of full
    * snapshot uploads — much lighter commits for small hot state.
    *
    * Checkpoint files go through [[LocalCheckpointFiles]]. Each trigger
    * writes one changelog per state partition plus its offset and commit
    * log entries; under Spark's default `FileContext` manager every such
    * file spawned `chmod` and its rename spawned `readlink` four times (no
    * libhadoop). That — not disk fsync — was most of what the progress
    * reports as state commit time: one paced FADS benchmark run (4-core
    * Xeon, ext4) spawned 4,559 processes, with a traced trigger p50 of
    * 465 ms; with this manager, 65 spawns and 208 ms (plans/r18). The conf
    * is session-scoped, so sessions built without this policy keep
    * Spark's default manager.
    *
    * Also sets the session's metadata-path economics (guide §6, r17
    * optimization): the bucketed index families (MinHash band index, line
    * index, BM25 term buckets) pass 33-4096 partition-dir paths to one
    * parquet read. Spark dispatches file listing as a DISTRIBUTED JOB once
    * the path count exceeds `parallelPartitionDiscovery.threshold`
    * (default 32) — measured at sf0.1: each such listing job is a
    * 60-64-task stage costing 0.14-0.41 s wall + 3-10 s of task time,
    * repeated on every index read, while the driver lists the same local
    * dirs in single-digit ms. 1024 keeps listing driver-side up to the
    * bucket counts this repo ever passes to one read (bounded by
    * Dedup.MaxIndexBuckets dirs per band only at extreme corpus sizes,
    * where a deployment's object-store listing belongs in a distributed
    * job again — hence env-overridable, not hardcoded higher).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[LocalCheckpointFiles].getName)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "1024"))
      // Let AQE size the output partitioning of CACHED plans (off by
      // default). The iterative/multi-consumer operators (connected
      // components, perceptron training, MW rounds, MMR/TextRank loops,
      // the append family's persisted band rows) all pin their partition
      // count at cache-materialization time; with the default `false`
      // every cached frame keeps the static shuffle-partition count (the
      // core count here), so each downstream job pays a full-width task
      // fan-out over tiny cached partitions. `true` derives the cached
      // partitioning from the data size like any other AQE stage —
      // scale-adaptive in both directions (few partitions at bench SF,
      // size-proportional at 100 TB). Measured at sf0.1 (guide §2.4):
      // dedup_components 3.6→2.7 s, stream_quality_filter 11.6→7.6 s,
      // pipeline_e2e_refresh 12.4→8.4 s, pipeline_learned_mix 7.9→5.6 s,
      // q9_fads_sharded 0.55→0.30 s; no measured regression.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_AQE", "true"))
      // Whole-stage-codegen compile cache (guide §1/§7: per-stage fixed
      // cost). Spark caches generated-class compilations in a
      // 100-entry cache (spark.sql.codegen.cache.maxEntries default);
      // a suite that interleaves hundreds of distinct query plans per
      // pass (268 entries × ~5-50 codegen units each) evicts every
      // entry's units long before its next run, so EVERY pass re-pays
      // janino compilation for EVERY stage. 8192 keeps one full suite
      // pass resident (measured at sf0.001, where fixed costs dominate:
      // one bench pass 228.8 s → 175.4 s, −23%). The value is workload-
      // shaped (number of distinct plans), not cluster-shaped — a
      // production job with few plans never notices, and the env
      // override tunes it for exotic memory budgets.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192"))

  /** Driver entry: the REGION-sharded FADS stream end-to-end — the 100 TB
    * streaming shape (8 independent QID-region shards through ONE
    * transformWithState operator, per-shard state + per-shard drain), run to
    * completion and hash-checked against the same recursive-CTE oracle as
    * the batch twin `q9_fads_region_sharded` (round-5 verdict item 6; the
    * streaming==batch equivalence the specs assert is therefore also
    * driver-checked now).
    *
    * Determinism contract: all events arrive in one micro-batch (10k rows at
    * sf0.01 — far under [[FadsProcessor.DefaultMaxBatchRows]]), the operator
    * sorts per shard by (ts, event_id), and drain uses one sentinel per
    * shard, so the replay equals the batch per-shard sequential order.
    * Normalization uses the true domain bounds (globalNorm), computed by the
    * same pre-pass aggregation as [[graft.ops.FadsBatch.anonymizeByKey]].
    *
    * COST NOTE: the `collect()` feeds MemoryStream — a driver-resident TEST
    * source chosen for deterministic batch boundaries; the distributed
    * surface under test is the sharded transformWithState operator. The
    * production source is [[PacedReplay]] (files), as Bench runs it.
    */
  /** Typed twin of `SparkEntry.regionShard` — floor, not toLong truncation:
    * truncation rounds toward zero, so a negative value would land in a
    * different shard than the batch twin's least(floor(value / 64.0), 7)
    * and the shared oracle (code review r6). A capture-free FUNCTION VALUE,
    * not a method: an eta-expanded method here would close over the
    * non-serializable FadsStream module and fail task serialization inside
    * groupByKey.
    */
  val regionShardOf: Event => Long =
    e => math.min(math.floor(e.value / 64.0).toLong, 7L)

  /** The region-sharded pipeline's config: reference parameters with
    * normalization FIXED to the true domain bounds (globalNorm), computed by
    * the same pre-pass aggregation as [[graft.ops.FadsBatch.anonymizeByKey]].
    * Shared by the driver entry below and the checkpoint-restart spec so
    * both provably run the identical pipeline.
    */
  def regionCfg(spark: SparkSession, dir: String): Fads.Config = {
    import spark.implicits._
    val b = graft.Tables.load(spark, dir, "events")
      .agg(
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.expr("CAST(user_id AS DOUBLE)")),
        org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.expr("CAST(user_id AS DOUBLE)")),
        org.apache.spark.sql.functions.min($"value"),
        org.apache.spark.sql.functions.max($"value")).head()
    graft.SparkEntry.eventsFadsConfig.copy(
      fixedLo = Some(Array(b.getDouble(0), b.getDouble(2))),
      fixedHi = Some(Array(b.getDouble(1), b.getDouble(3))))
  }

  def regionShardedQuery(spark: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.Tables.load(spark, dir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event]
    val cfg = regionCfg(spark, dir)
    val shardOf = regionShardOf

    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.shuffle.partitions", "8") // 8 shards = 8 state stores
    val table = s"stream_fads_region_${System.nanoTime()}"
    try {
      implicit val sqlCtx = spark.sqlContext
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
      val query = anonymizeSharded(src.toDS(), cfg, shardOf)
        .writeStream.format("memory").queryName(table).outputMode("append")
        // throwaway checkpoint on the session scratch tier (TempDirs doc)
        .option("checkpointLocation", graft.TempDirs.scoped("ckpt"))
        .start()
      try {
        src.addData(events.orderBy("ts", "event_id").collect().toIndexedSeq)
        query.processAllAvailable()
        // one drain sentinel per shard, routed by value (region key)
        src.addData((0 until 8).map(s =>
          Event(-1L, 0L, 0L, "", s * 64.0, "")))
        query.processAllAvailable()
      } finally query.stop()
      // materialize before the memory table is dropped; ts_us reporting
      // convention (DuckDB reads TIMESTAMP(NANOS) at micros)
      val projected = spark.table(table)
        .select(col("event_id"), graft.Tables.tsNanosToMicros("ts").as("ts_us"),
          col("user_id_lo"), col("user_id_hi"), col("event_type"),
          col("value_lo"), col("value_hi"), col("props"), col("suppressed"))
      val out = projected.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.toIndexedSeq, 1), projected.schema)
    } finally {
      // drop the memory-sink view: each invocation otherwise pins its full
      // collected output in driver memory for the session lifetime
      spark.catalog.dropTempView(table)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      // restore-or-UNSET: leaving the RocksDB override in a session that
      // never set a provider would silently change every later streaming
      // query's state store (code review r6)
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
