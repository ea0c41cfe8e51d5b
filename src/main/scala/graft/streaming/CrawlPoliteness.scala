package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, lit, max}
import org.apache.spark.sql.streaming._

import graft.pipeline.{CrawlFrontier, RobotsFilter, UrlDedup}

/** A fetch-candidate row entering the politeness scheduler: canonical
  * URL, its domain's Crawl-delay, and the event time at which the
  * frontier surfaced it.
  */
case class FetchCand(lid: Long, domain: String, canon: String,
    ts_ms: Long, delay_ms: Long)

/** An admitted fetch: the original event time plus the event time the
  * scheduler released it at (`admit_ms ≥ ts_ms`; `deferred` iff the
  * per-domain gap pushed it later).
  */
case class FetchAdmit(doc_id: Long, link_idx: Long, domain: String,
    canon: String, ts_ms: Long, admit_ms: Long, deferred: Boolean)

/** Per-domain politeness scheduling (r15 verdict item 4) — the timing
  * half of crawl admission [[DomainQuotaProcessor]]'s count quota cannot
  * express: RFC 9309's de-facto `Crawl-delay` extension demands a MINIMUM
  * EVENT-TIME GAP between consecutive fetches of one domain, so a URL
  * arriving too soon is not dropped but HELD and released once the
  * domain's clock allows — in a streaming engine, held state plus an
  * event-time timer that fires when the watermark passes the release
  * time.
  *
  * Semantics (the greedy schedule every polite fetcher runs, processed
  * strictly in lid order — the [[DomainQuota]] determinism contract):
  * for each domain's i-th admissible URL,
  * `admit_i = max(ts_i, admit_{i-1} + delay)`, capped at the first
  * `cap` admissions; canonical first-sighting dedup marks `seen` BEFORE
  * the cap check, exactly like the count-quota processor. The closed
  * form `admit_i = d·i + max_{j≤i}(ts_j − d·j)` is what the DuckDB
  * oracle replays as ONE running-max window — so the entire timer
  * machinery is hash-gated against a declarative replica.
  *
  * State per domain: last admitted event time + admission count (two
  * longs), the seen-canon map, and the HELD queue (lid-ordered; bounded
  * by cap·(delay/arrival-gap) in steady state — politeness backpressure,
  * not corpus state). Emission: a row whose release time equals its own
  * ts is emitted on arrival (its presence proves event time reached ts);
  * a deferred row is emitted once the watermark passes its release time
  * — from [[handleExpiredTimer]], i.e. in a LATER trigger
  * ([[graft.streaming.CrawlPolitenessSpec]] pins that cross-trigger
  * release).
  */
class DomainPolitenessProcessor(cap: Int)
    extends StatefulProcessor[String, FetchCand, FetchAdmit] {

  @transient private var lastAdmit: ValueState[Long] = _
  @transient private var nAdmitted: ValueState[Long] = _
  @transient private var seen: MapState[String, Boolean] = _
  @transient private var held: ListState[FetchCand] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    lastAdmit = getHandle.getValueState[Long](
      "last", Encoders.scalaLong, TTLConfig.NONE)
    nAdmitted = getHandle.getValueState[Long](
      "n", Encoders.scalaLong, TTLConfig.NONE)
    seen = getHandle.getMapState[String, Boolean](
      "seen", Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
    held = getHandle.getListState[FetchCand](
      "held", DomainPolitenessProcessor.CandEncoder, TTLConfig.NONE)
  }

  /** Admit from `buf` (the held queue ++ this trigger's fresh rows,
    * lid-ordered), strictly in order, as far as the watermark allows;
    * park a timer at the first still-future release. `last + delay` with
    * the "never admitted" sentinel stays far below any real ts, so the
    * first admission is always at its own ts.
    *
    * STATE-WRITE ECONOMY (r16 optimization, guide §1 streamdiag: the
    * processor's allUpdatesTimeMs was ~1.5 s/trigger): fresh rows are
    * merged IN MEMORY and only the BLOCKED TAIL is written back — the
    * previous form appended every fresh row to the RocksDB ListState,
    * then immediately re-read and rewrote the whole queue inside the same
    * trigger (3 list writes + 1 read per on-time row, for rows that never
    * needed to touch the store at all). The held state's content after
    * each trigger is IDENTICAL (the un-admitted tail); only the
    * write path changed. The rewrite is also skipped when the drain
    * admitted nothing and saw no fresh rows (a still-blocked timer
    * re-fire): the stored queue is already exactly `rest`.
    */
  private def drain(wm: Long, fresh: Array[FetchCand]): Iterator[FetchAdmit] = {
    val heldBuf = held.get().toVector // lid-ordered by construction
    // fresh lids all exceed held lids (lids are ts-monotone, chunks replay
    // in order, and a held row is always from an earlier trigger), so
    // concatenation preserves the lid order drain requires
    val buf = if (fresh.isEmpty) heldBuf else heldBuf ++ fresh
    var last = if (lastAdmit.exists()) lastAdmit.get() else -(1L << 60)
    var n = if (nAdmitted.exists()) nAdmitted.get() else 0L
    val out = Vector.newBuilder[FetchAdmit]
    var i = 0
    var blocked = false
    while (i < buf.length && !blocked) {
      val r = buf(i)
      if (n >= cap) i = buf.length // budget exhausted: drop the tail
      else {
        val rel = math.max(r.ts_ms, last + r.delay_ms)
        if (rel == r.ts_ms || rel <= wm) {
          out += FetchAdmit(r.lid / 8, r.lid % 8, r.domain, r.canon,
            r.ts_ms, rel, rel > r.ts_ms)
          last = rel; n += 1; i += 1
        } else {
          getHandle.registerTimer(rel)
          blocked = true
        }
      }
    }
    lastAdmit.update(last)
    nAdmitted.update(n)
    if (i > 0 || fresh.nonEmpty) { // else stored queue already equals rest
      val rest = buf.drop(i)
      held.clear()
      if (rest.nonEmpty) held.put(rest.toArray)
    }
    out.result().iterator
  }

  override def handleInputRows(key: String, rows: Iterator[FetchCand],
      timerValues: TimerValues): Iterator[FetchAdmit] = {
    // impose arrival order inside the trigger; lids are ts-monotone and
    // the replay stages in-order chunks, so cross-trigger order holds too.
    // First-sighting dedup marks `seen` BEFORE the cap check, exactly like
    // the count-quota processor.
    val fresh = rows.toArray.sortBy(_.lid).filter { r =>
      val isNew = !seen.containsKey(r.canon)
      if (isNew) seen.updateValue(r.canon, true)
      isNew
    }
    drain(timerValues.getCurrentWatermarkInMs(), fresh)
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[FetchAdmit] =
    drain(math.max(timerValues.getCurrentWatermarkInMs(),
      expiredTimerInfo.getExpiryTimeInMs()), Array.empty)
}

object DomainPolitenessProcessor {
  /** Built once per JVM, not per `init` (see [[FadsProcessor.SnapEncoder]]). */
  val CandEncoder: org.apache.spark.sql.Encoder[FetchCand] = Encoders.product[FetchCand]
}

/** The ONLINE politeness loop: the frontier's candidate feed replayed as
  * a real event-time stream through robots gating (broadcast rule table
  * carrying the parsed `Crawl-delay`), the crawled-set check, and the
  * timer-based per-domain scheduler.
  */
object CrawlPoliteness {

  /** Event-time base (2024-01-01T00:00:00Z, ms) and per-lid tick: a
    * candidate surfaces every 100 ms, so a busy domain's arrivals run
    * far inside its 1–2 s Crawl-delay — both verdict classes (deferred /
    * on-time) live at every SF.
    */
  val BaseMs = 1704067200000L
  val TickMs = 100L

  /** Upper bound of any published Crawl-delay, ms (the 2 s `*` rule). */
  val MaxDelayMs = 2000L

  /** The gated, scheduled admission stream — exposed for the spec, which
    * attaches a per-trigger foreachBatch sink to PROVE a deferred URL is
    * released in a later trigger than it arrived in. Stages the feed as
    * a side effect; the caller owns the state-store provider conf.
    */
  /** Candidate-feed row estimate for [[StateSizing]] — set by
    * [[admittedStream]] as a side effect of staging (the feed is the
    * staged candidate count, already computed for chunk sizing), read by
    * [[politenessQuery]] to size state partitions around `start()`.
    */
  @volatile private var lastFeedRows = 0L

  private[graft] def admittedStream(spark: SparkSession,
      dir: String): Dataset[FetchAdmit] = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    // static artifacts, derived OFFLINE (the CrawlAdmit deployment shape).
    // The regex-heavy candidate chain is materialized ONCE: four batch
    // consumers read it (rules derivation, the sentinel's max-ts agg, the
    // chunk-count, the stage write) — un-checkpointed it re-ran per
    // consumer and dominated the entry's wall (39 s → 23 s at sf0.1)
    val cands = CrawlFrontier.candidatesRowLocal(docs).localCheckpoint()
    // the crawled set is an OFFLINE artifact in deployment; materialized
    // here so the stream-static join reads rows, not a re-planned
    // distinct per micro-batch
    val crawled = UrlDedup.canonCols(UrlDedup.derivedUrls(spark, dir))
      .select("canon").distinct().withColumn("already", lit(true))
      .localCheckpoint()
    // materialized like `crawled` (r17): the static broadcast side is
    // re-executed per micro-batch, and this entry runs 5+ triggers (timer
    // re-fires) — without the checkpoint every trigger re-derived the
    // robots parse from the (checkpointed) candidate table
    val rules = RobotsFilter.ruleTable(spark,
      cands.select("domain").distinct())
      .localCheckpoint()
    // the candidate FEED (frontier → fetch-scheduler hand-off): lid-tick
    // event times, plus one far-future sentinel row that only advances
    // the final watermark past every possible release time
    // (ts + (cap+2)·maxDelay bounds the longest per-domain release chain)
    // — the FADS drain-sentinel convention, filtered out after the
    // watermark node so the processor never sees it
    val feed = cands
      .selectExpr("lid", "domain", "canon",
        "regexp_extract(canon, '^[a-z]+://[^/?]+(/[^?]*)?', 1) AS path",
        s"$BaseMs + lid * $TickMs AS ts_ms")
    val maxTs = feed.agg(max("ts_ms")).head().getLong(0)
    val sentinelTs = maxTs + (CrawlFrontier.FrontierCap + 2) * MaxDelayMs
    val sentinel = spark.range(1).selectExpr(
      "CAST(-1 AS BIGINT) AS lid", "'~sentinel' AS domain", "'' AS canon",
      "'' AS path", s"CAST($sentinelTs AS BIGINT) AS ts_ms")
    val staged = feed.union(sentinel)
    val stage = graft.TempDirs.scoped("crawl-politeness") + "/feed"
    // 4 in-order chunks (the CrawlAdmit pacing): enough triggers to
    // exercise cross-trigger timer releases, half the per-trigger
    // state-commit + static-join cost of the previous 8-chunk replay
    val nStaged = staged.count()
    lastFeedRows = nStaged
    val rowsPerFile = math.max(1L, nStaged / 4L).toInt
    PacedReplay.stage(staged, Seq("ts_ms"), rowsPerFile, stage)
    val cand = PacedReplay.stream(spark, stage, staged.schema)
      .selectExpr("lid", "domain", "canon", "path", "ts_ms",
        "timestamp_millis(ts_ms) AS ts")
      .withWatermark("ts", "0 seconds")
      .where("lid >= 0") // the sentinel has advanced the watermark
    val gated: Dataset[FetchCand] = cand
      .join(broadcast(rules), Seq("domain"), "left")
      .selectExpr("lid", "domain", "canon", "ts_ms",
        "coalesce(delay_ms, CAST(0 AS BIGINT)) AS delay_ms",
        s"${RobotsFilter.allowedExpr} AS allowed")
      .where("allowed")
      .join(crawled, Seq("canon"), "left")
      .where("already IS NULL")
      .selectExpr("lid", "domain", "canon", "ts_ms", "delay_ms")
      .as[FetchCand](DomainPolitenessProcessor.CandEncoder)
    gated.groupByKey(_.domain)(Encoders.STRING)
      .transformWithState(
        new DomainPolitenessProcessor(CrawlFrontier.FrontierCap),
        TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[FetchAdmit])
  }

  def politenessQuery(spark: SparkSession, dir: String): DataFrame = {
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val qn = "graft_stream_crawl_politeness"
    try {
      val admitted = admittedStream(spark, dir)
      // state partitions sized to the staged feed (lastFeedRows, set by
      // admittedStream above), not the session constant — per-trigger
      // RocksDB commits are per-partition, and the timer-driven extra
      // batches of this entry pay them more often than any other stream
      // (guide §2 / StateSizing)
      StateSizing.withStatePartitions(spark,
        StateSizing.statePartitions(spark, lastFeedRows)) {
        val q = admitted.writeStream
          .outputMode("append").format("memory").queryName(qn)
          // throwaway checkpoint on the session scratch tier (TempDirs doc)
          .option("checkpointLocation", graft.TempDirs.scoped("ckpt"))
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      spark.table(qn).orderBy("doc_id", "link_idx")
    } finally prevProvider match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** Declarative replay: the admitted set is [[CrawlAdmit]]'s (allowed →
    * not-crawled → first per canon → first cap per domain, lid order);
    * the schedule is the greedy recurrence's closed form — ONE running
    * max over (ts − d·i) per domain. Crawl-delay parsing rides the
    * verdict chain's own line/group CTEs (`wua`/`uan`/`hb`), so the
    * directive grammar and group selection can never drift from the
    * Allow/Disallow parse.
    */
  val politenessSql: String =
    s"""WITH ${RobotsFilter.verdictCtes},
       |okc AS (SELECT c.lid, c.domain, c.canon
       |        FROM cand c LEFT JOIN w1 USING (lid)
       |        WHERE coalesce(w1.is_allow, true)),
       |crawledset AS (SELECT DISTINCT canon FROM cu),
       |newc AS (SELECT o.lid, o.domain, o.canon FROM okc o
       |         LEFT JOIN crawledset cs USING (canon)
       |         WHERE cs.canon IS NULL),
       |firsts AS (SELECT lid, domain, canon FROM (
       |             SELECT lid, domain, canon, row_number() OVER (
       |               PARTITION BY canon ORDER BY lid) AS rk
       |             FROM newc) WHERE rk = 1),
       |adm AS (SELECT lid, domain, canon FROM (
       |          SELECT lid, domain, canon, row_number() OVER (
       |            PARTITION BY domain ORDER BY lid) AS rk
       |          FROM firsts) WHERE rk <= ${CrawlFrontier.FrontierCap}),
       |cdl AS (SELECT w.domain, uan.agent,
       |               substring(w.line, 14)::BIGINT * 1000 AS delay_ms
       |        FROM wua w
       |        JOIN uan ON w.domain = uan.domain AND w.ua_idx = uan.ua_idx
       |        WHERE w.line LIKE 'Crawl-delay: %'),
       |cdd AS (SELECT c.domain, max(c.delay_ms) AS delay_ms
       |        FROM cdl c JOIN hb USING (domain)
       |        WHERE c.agent = CASE WHEN hb.has_bot
       |                             THEN '${RobotsFilter.BotAgent}'
       |                             ELSE '*' END
       |        GROUP BY c.domain),
       |sq AS (SELECT a.lid, a.domain, a.canon,
       |              ($BaseMs + a.lid * $TickMs)::BIGINT AS ts_ms,
       |              coalesce(d.delay_ms, 0)::BIGINT AS dms,
       |              row_number() OVER (PARTITION BY a.domain
       |                ORDER BY a.lid)::BIGINT AS i
       |       FROM adm a LEFT JOIN cdd d USING (domain)),
       |rel AS (SELECT lid, domain, canon, ts_ms,
       |               dms * i + max(ts_ms - dms * i) OVER (
       |                 PARTITION BY domain ORDER BY i
       |                 ROWS UNBOUNDED PRECEDING) AS admit_ms
       |        FROM sq)
       |SELECT (lid // 8)::BIGINT AS doc_id, (lid % 8)::BIGINT AS link_idx,
       |       domain, canon, ts_ms, admit_ms::BIGINT AS admit_ms,
       |       (admit_ms > ts_ms) AS deferred
       |FROM rel ORDER BY doc_id, link_idx""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_crawl_politeness" -> politenessQuery)

  val oracles: Map[String, String] = Map(
    "stream_crawl_politeness" -> politenessSql)
}
