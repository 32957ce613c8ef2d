package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.sources.Tables

/** Structured Streaming operators. Each is a function of a streaming
  * DataFrame that returns the pre-sink streaming DataFrame, so the
  * same operator runs over a file, kafka or test micro-batch source:
  *
  *  - [[windowAggStream]], [[topValuesStream]]: tumbling-window
  *    aggregates (count + sum, bounded-heap top-k);
  *  - [[sessionizeStreamDf]], [[sessionizeNativeStream]]: gap-based
  *    sessions (flatMapGroupsWithState, built-in `session_window`);
  *  - [[dedupeStreamDf]], [[neardupStreamDf]],
  *    [[simhashCandidatesStream]]: exact, signature and SimHash dedup;
  *  - [[enrichStream]], [[intervalJoinStream]], [[temporalEnrichStream]]:
  *    stream-static, stream-stream interval and as-of joins;
  *  - [[curationGateStream]]: the stateless C4 → Gopher gate.
  *
  * [[graft.sources.Tables.stream]] reads a table as a stream.
  * [[runToMemory]] (oracle and test harness) and [[runToFileSink]] (at
  * scale) drive a stream with Trigger.AvailableNow; [[sessionize]] is
  * the one directory entry point, the batch-equivalent sessions of the
  * `events` table.
  *
  * Scale notes: state is bounded by the watermark (windows expire,
  * sessions time out); sessionization state is the open sessions of
  * each key.
  */
object Streams {

  private val memorySinks = new java.util.concurrent.atomic.AtomicLong()

  /** Drive an unbounded DataFrame to a memory sink and return the
    * result table — the ORACLE/TEST harness path only: a memory sink
    * materializes in driver heap, so result size is capped there. The
    * operator APIs below return the pre-sink streaming DataFrame; at
    * scale attach [[runToFileSink]] (or kafka/foreachBatch) instead.
    * The sink's temp view is dropped before returning: the returned
    * frame holds the sink's rows, and the session keeps no reference
    * to them once that frame is released. */
  def runToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_memory_sink_${memorySinks.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try { q.awaitTermination(); df.sparkSession.table(name) }
    finally df.sparkSession.catalog.dropTempView(name)
  }

  /** Drive an unbounded DataFrame to a distributed file sink (append
    * mode — the only mode file sinks support) and return the output
    * path. Results never pass through the driver. */
  def runToFileSink(df: DataFrame, outDir: String,
                    format: String = "parquet"): String = {
    val q = df.writeStream.format(format)
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/checkpoint")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s"$outDir/data"
  }

  /** Tumbling-window agg (pre-sink, unbounded) over events: per
    * (event_type, hour) count + sum(value). A Complete-mode run emits
    * every window, identical to the batch time_bucket. */
  def windowAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // Decimal-exact sum: double partial sums are order-dependent across
      // partitions and would flake against the oracle at round() edges.
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")), 2).cast("double").as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming top-k (pre-sink, unbounded): per (hour window, type),
    * the k largest event values — the custom bounded-heap
    * [[graft.functions.TopKLargest]] aggregate running INSIDE a
    * Structured Streaming aggregation, so per-group state is the k-heap
    * (merged across micro-batches), never the value list. Values are
    * carried as decimal(18,6) so the CSV rendering is digit-identical
    * on both engines. */
  def topValuesStream(events: DataFrame, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(events.sparkSession)
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.functions.GraftFunctions.topKLargest(
        col("value").cast("decimal(18,6)"), k).as("top"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"),
        // all-null groups: the heap is empty → NULL, matching the
        // oracle's string_agg over all-NULL input
        when(size(col("top")) === 0, lit(null).cast("string"))
          .otherwise(concat_ws(",", transform(col("top"), x => x.cast("string"))))
          .as("top_csv"))
  }

  /** Streaming deduplication (pre-sink, unbounded): drop events whose
    * key was already seen within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — state stays bounded by event
    * time, unlike a full-history distinct). The staple in-flight dedup
    * stage of a streaming ingest pipeline. */
  def dedupeStreamDf(events: DataFrame,
                     keyCols: Seq[String] = Seq("event_id"),
                     watermarkMinutes: Int = 60): DataFrame =
    events
      .withWatermark("ts", s"$watermarkMinutes minutes")
      .dropDuplicatesWithinWatermark(keyCols)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))

  /** Stream-static enrichment (pre-sink, unbounded): the streaming
    * events join a BATCH dimension — per-customer lifetime spend tier
    * derived from orders — then aggregate per (hour window, tier).
    * The static side is planned once per micro-batch as an ordinary
    * batch join (broadcast while it fits, shuffled once it doesn't);
    * only the windowed aggregation keeps streaming state, and that
    * state is watermark-evicted under an APPEND-mode sink (file/kafka
    * at scale — [[runToFileSink]]). A Complete-mode memory sink, the
    * oracle harness, retains all windows by definition. This is the
    * standard "enrich the firehose against a dimension snapshot"
    * pipeline stage. */
  def enrichStream(events: DataFrame, orders: DataFrame,
                   spendCutoff: Long = 2500000L): DataFrame = {
    val dim = orders
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(30,10)")).as("spend"))
      .select(col("o_custkey").as("user_id"),
        when(col("spend") > lit(spendCutoff).cast("decimal(30,10)"), "high")
          .otherwise("low").as("tier"))
    events
      .withWatermark("ts", "30 minutes")
      .join(dim, "user_id")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("tier"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")), 2).cast("double").as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("tier"), col("n"), col("total_value"))
  }

  /** Stream-STREAM interval join (pre-sink, unbounded): each click
    * joined to the same user's purchases in the following hour. Both
    * sides are watermarked filters of the one events stream (a self-
    * join: each micro-batch feeds both join buffers) and the condition
    * bounds the event-time gap, so Spark can evict both join buffers:
    * click state is needed for at most (1h join range + purchase
    * watermark), purchase state for the click watermark. Append mode —
    * a match emits once, when both rows have arrived. */
  def intervalJoinStream(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") < col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  final case class NearDup(id_a: Long, id_b: Long, hamming: Int)
  final case class SigKeep(keep_id: Long, sig: String)
  final case class SigState(winner_id: Long, winner_ts_us: Long,
                            max_ts_ms: Long, emitted: Boolean)

  /** Streaming near-dup dedup (pre-sink): one survivor per MinHash-style
    * signature, chosen deterministically as the first doc by (event
    * time, id) within the watermark horizon.
    *
    * The signature hashes each distinct 5-char-gram shingle ONCE with
    * md5; band b is the min over grams of the digest's hex slice
    * [b*w, (b+1)*w) where w = 32/bands. Disjoint slices of one 128-bit
    * digest are independent in the random-oracle sense (the
    * one-permutation-hashing observation, Li et al. 2012), so banding
    * recall matches `bands` independent hashes at 1/bands of the hash
    * cost — the signature kernel dominated this operator's runtime
    * (the previous per-band md5(gram ++ "#b") form was 4x the hashing
    * plus a 32-char hex array materialized per band). Built ENTIRELY
    * from builtin codegen functions, so a DuckDB oracle reproduces the
    * signature (and therefore the survivor set) bit-for-bit. That makes this the SQL-verifiable twin
    * of [[simhashCandidatesStream]] (whose custom kernel needs a
    * spec-level batch-equivalence check instead): identical-shingle-set
    * docs always collide; high-Jaccard docs collide with probability
    * J^bands. Text normalization matches Dedup.normText.
    *
    * State per signature is one small record (winner, horizon, emitted
    * flag), evicted by event-time timeout — bounded by the watermark
    * horizon, never the corpus. The eviction deadline tracks the MAX
    * EVENT TIME EVER SEEN by the signature (held in state): GroupState
    * timers are cancelled and re-set on every invocation, so re-arming
    * from only the current batch's max would move the deadline
    * BACKWARDS on an in-watermark out-of-order arrival and evict a
    * signature inside its own dedup horizon (emitting a duplicate
    * survivor).
    *
    * Emission (default, `finalizeByWatermark = false`): once per
    * signature, on the micro-batch that first carries it, winner =
    * min (event time, id) within that batch — deterministic for
    * sources that deliver in event-time order and for single-batch
    * runs (the oracle harness), but the winner can depend on
    * micro-batch boundaries when one signature's docs straddle
    * batches. `finalizeByWatermark = true` holds the winner until the
    * watermark passes its event time — then NO non-late arrival can
    * beat it, and the survivor set is batch-boundary-independent (the
    * production setting; costs emission latency = the watermark
    * delay). */
  def neardupStreamDf(docs: DataFrame, idCol: String, textCol: String,
                      tsCol: String, bands: Int = 4,
                      watermarkMinutes: Int = 60,
                      finalizeByWatermark: Boolean = false): DataFrame = {
    require(bands >= 1 && 32 % bands == 0,
      s"bands must divide the 32-hex-char md5 digest, got $bands")
    val spark = docs.sparkSession
    import spark.implicits._
    val gapMs = watermarkMinutes * 60L * 1000L
    val w = 32 / bands
    // __h is its own column (not inlined into sigCol): referenced
    // `bands` times, and CollapseProject keeps multiply-referenced
    // non-cheap expressions in their own projection, so the md5 array
    // is computed once per doc, not once per band.
    val sigCol = concat_ws("|", (0 until bands).map(b =>
      array_min(transform(col("__h"), x => substring(x, b * w + 1, w)))): _*)
    docs
      // null text → empty-string signature (one shared bucket), so the
      // stateful op never sees a null grouping key. Normalization IS
      // Dedup.normText — one definition, so batch/stream/oracle cannot
      // drift.
      .withColumn("__norm",
        graft.dedup.Dedup.normText(coalesce(col(textCol), lit(""))))
      .withColumn("__grams", array_distinct(expr(
        "transform(sequence(1, greatest(length(__norm) - 4, 1)), i -> substring(__norm, i, 5))")))
      .withColumn("__h", transform(col("__grams"), g => md5(g)))
      .withColumn("sig", sigCol)
      .withWatermark(tsCol, s"$watermarkMinutes minutes")
      .select(col("sig"), col(idCol).cast("long").as("doc_id"),
        unix_micros(col(tsCol)).as("ts_us"), col(tsCol).as("__ts"))
      .as[(String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SigState, SigKeep](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (sig, rows, state: GroupState[SigState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(
            SigState(Long.MaxValue, Long.MaxValue, Long.MinValue, emitted = false))
          rows.foreach { r =>
            if (!st.emitted &&
                (r._3 < st.winner_ts_us ||
                 (r._3 == st.winner_ts_us && r._2 < st.winner_id)))
              st = st.copy(winner_id = r._2, winner_ts_us = r._3)
            st = st.copy(max_ts_ms = math.max(st.max_ts_ms, r._4.getTime))
          }
          val emitNow = !st.emitted && st.winner_ts_us != Long.MaxValue &&
            (!finalizeByWatermark || wmMs * 1000L > st.winner_ts_us)
          val out =
            if (emitNow) { st = st.copy(emitted = true)
              Iterator.single(SigKeep(st.winner_id, sig)) }
            else Iterator.empty
          if (st.emitted && state.hasTimedOut && rows.isEmpty &&
              wmMs >= st.max_ts_ms + gapMs) {
            // dedup horizon expired with no extension — retire
            state.remove()
          } else {
            state.update(st)
            val deadline =
              if (st.emitted) st.max_ts_ms + gapMs
              else if (finalizeByWatermark)
                // wake when the watermark passes the held winner
                st.winner_ts_us / 1000L + 1L
              else st.max_ts_ms + gapMs
            state.setTimeoutTimestamp(math.max(deadline, wmMs + 1L))
          }
          out
      }
      .toDF()
  }

  /** Streaming near-duplicate CANDIDATE generation (pre-sink,
    * unbounded) — the in-flight twin of [[graft.dedup.Dedup.simhashPairs]]:
    * each document fans out to its 4×16-bit SimHash bands; per band
    * bucket, flatMapGroupsWithState keeps the docs seen within the
    * watermark horizon and emits a pair for every arriving doc whose
    * hamming distance to a stored doc is ≤ maxHamming. A pair sharing
    * several bands is emitted once per shared band (candidates are
    * candidates — exact downstream dedup is one `distinct()`); state is
    * evicted by event-time timeout, so memory is bounded by the
    * watermark horizon per bucket, never the corpus.
    *
    * Input contract: a streaming DataFrame with (idCol: long,
    * textCol: string, tsCol: timestamp). */
  def simhashCandidatesStream(docs: DataFrame, idCol: String, textCol: String,
                              tsCol: String, maxHamming: Int = 6,
                              watermarkMinutes: Int = 60): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val gapMs = watermarkMinutes * 60L * 1000L
    val banded = docs
      .withWatermark(tsCol, s"$watermarkMinutes minutes")
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.GraftFunctions.simhash64(col(textCol)).as("sim"),
        unix_micros(col(tsCol)).as("ts_us"), col(tsCol).as("ts"))
      .select(inline(array((0 until 4).map(b => struct(lit(b).as("band_id"),
          shiftright(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_val"))): _*)),
        col("doc_id"), col("sim"), col("ts_us"), col("ts"))
      .as[(Int, Long, Long, Long, Long, java.sql.Timestamp)]
    banded
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(List[(Long, Long, Long)], Long), NearDup](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[(List[(Long, Long, Long)], Long)]) =>
          val gapUs = gapMs * 1000L
          // Evict entries that can no longer pair with any admissible
          // row: a future row's event time exceeds the watermark, so
          // anything older than watermark − gap is dead. This is what
          // actually bounds a hot bucket's state (the timeout below
          // only reaps fully-idle buckets, since every arrival
          // re-arms it).
          val horizonUs = state.getCurrentWatermarkMs() * 1000L - gapUs
          val (seen0, maxSeen0) = state.getOption.getOrElse((Nil, Long.MinValue))
          var seen = seen0.filter(_._3 >= horizonUs)
          if (state.hasTimedOut && rows.isEmpty && seen.isEmpty) {
            state.remove(); Iterator.empty
          } else {
            val out = Seq.newBuilder[NearDup]
            // the reap deadline tracks the max event time EVER SEEN by
            // the bucket (held in state) — timers are re-set each
            // invocation, so arming from only the batch max would move
            // the deadline backwards on an out-of-order arrival and
            // discard entries still inside their pairing horizon
            var maxTs = maxSeen0
            rows.toSeq.sortBy(_._5).foreach { case (_, _, id, sim, tsUs, ts) =>
              seen.foreach { case (id0, sim0, ts0) =>
                val h = java.lang.Long.bitCount(sim0 ^ sim)
                if (h <= maxHamming && id0 != id && math.abs(tsUs - ts0) <= gapUs)
                  out += NearDup(math.min(id0, id), math.max(id0, id), h)
              }
              seen = (id, sim, tsUs) :: seen
              maxTs = math.max(maxTs, ts.getTime)
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update((seen, maxTs))
              // idle-bucket reaper; hot buckets are bounded by the
              // horizon eviction above
              state.setTimeoutTimestamp(math.max(maxTs + gapMs,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
      .toDF()
  }

  /** Streaming curation gate (pre-sink, unbounded): C4 line cleaning
    * feeding Gopher quality scoring on the CLEANED text — the stateless
    * head of the curation gauntlet running in-flight, one pass, ZERO
    * streaming state (both stages are pure scan-stage expressions, so
    * the same operators serve batch backfill and the live firehose
    * unchanged — the lambda-architecture-free property you want from a
    * declarative pipeline). Append mode, no watermark needed. */
  def curationGateStream(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    // The gate's verdict is C4-keep AND Gopher-keep — dropping the C4
    // kill (lorem ipsum / code markers / too few surviving lines)
    // would let a document the batch gauntlet marks reason='c4' pass
    // the gate with keep=true on its Gopher stats alone.
    //
    // DELIBERATE divergence from the batch gauntlet: the gate scores
    // Gopher on the C4-CLEANED text (the text that actually ships
    // downstream), while curationPipeline's provenance stage scores
    // the RAW text (so a 'gopher' reason describes the document as
    // ingested). A doc can therefore pass the batch gauntlet and fail
    // the gate (or vice versa) when cleaning changes its stats — both
    // verdicts are oracle-pinned to their own definition.
    val cleaned = graft.text.Curation.c4Clean(docs, idCol, textCol)
      .select(col(idCol), col("keep").as("__c4_keep"),
        coalesce(col("cleaned_text"), lit("")).as("__t"))
    graft.text.Curation.gopherQuality(cleaned, idCol, "__t",
        passThrough = Seq("__c4_keep"))
      .withColumn("keep", col("keep") && col("__c4_keep"))
      .drop("__c4_keep")
  }

  final case class AsofState(dims: List[(Long, Long)], probes: List[(Long, Long)])
  final case class AsofEnriched(event_id: Long, user_id: Long,
                                last_purchase_id: Option[Long], gap_us: Option[Long])

  /** Streaming temporal (as-of) enrichment — the in-flight twin of
    * [[graft.ops.Joins.asofJoin]], and the streaming form of a
    * slowly-changing-dimension join: every event is enriched with the
    * LATEST purchase (the "dimension version") of the same user at or
    * before its event time.
    *
    * Correctness rule: a probe may only be emitted once the watermark
    * has passed its event time STRICTLY — from then on no dimension row
    * with ts <= probe.ts can still arrive, so "latest version at probe
    * time" is final (the Flink temporal-join visibility rule). Probes
    * buffer in state until then and flush on event-time timeout;
    * equal-ts versions resolve to the max id, exactly like the batch
    * oracle's pre-grouped max. Note Spark tracks event time in
    * MILLISECONDS, so the horizon is the ms-floored max event time
    * minus the delay — an oracle must floor the same way or events in
    * the sub-millisecond gap diverge.
    *
    * State per user is bounded at steady state: pending probes live only
    * within the watermark horizon, and dimension versions older than the
    * watermark are evicted down to the single LATEST one (any older
    * version can never again be "latest at or before" a future probe —
    * the same retention Flink's temporal join state keeps). That last
    * version is retained indefinitely by default (it answers arbitrarily
    * late probes), so state grows with key cardinality;
    * `idleTtlMinutes` arms an event-time idle timer that retires keys
    * with no activity past watermark + TTL (late probes after eviction
    * enrich to None — a retention policy, not a correctness change).
    * Append mode; file/kafka sinks at scale, memory sink in the oracle
    * harness. */
  def temporalEnrichStream(events: DataFrame,
                           watermarkMinutes: Int = 30,
                           idleTtlMinutes: Option[Int] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events
      .withWatermark("ts", s"$watermarkMinutes minutes")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === "purchase").as("is_dim"),
        col("ts")) // event-time column must survive for the watermark
      .as[(Long, Long, Long, Boolean, java.sql.Timestamp)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofEnriched](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[AsofState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var st = state.getOption.getOrElse(AsofState(Nil, Nil))
          // A timeout firing on a dims-only key is the idle-TTL timer
          // (probe-flush timers only exist while probes pend): the key
          // has been idle past the TTL — retire its retained latest
          // version. Probes arriving after eviction enrich to None,
          // the documented retention tradeoff.
          if (state.hasTimedOut && st.probes.isEmpty && idleTtlMinutes.isDefined) {
            state.remove()
            Iterator.empty
          } else {
          rows.foreach { case (_, eid, tsUs, isDim, _) =>
            st = AsofState(
              if (isDim) (tsUs, eid) :: st.dims else st.dims,
              (tsUs, eid) :: st.probes)
          }
          // flush probes the watermark has passed: their version set is final
          val (flush, pending) = st.probes.partition(_._1 < wmUs)
          val out = flush.sortBy(p => (p._1, p._2)).map { case (tsUs, eid) =>
            val adm = st.dims.filter(_._1 <= tsUs)
            if (adm.isEmpty) AsofEnriched(eid, user, None, None)
            else {
              val bestTs = adm.iterator.map(_._1).max
              val pid = adm.iterator.filter(_._1 == bestTs).map(_._2).max
              AsofEnriched(eid, user, Some(pid), Some(tsUs - bestTs))
            }
          }
          // evict versions below the watermark, keeping only the latest
          val (old, fresh) = st.dims.partition(_._1 < wmUs)
          val keptOld =
            if (old.isEmpty) Nil
            else {
              val bestTs = old.iterator.map(_._1).max
              List((bestTs, old.iterator.filter(_._1 == bestTs).map(_._2).max))
            }
          val next = AsofState(keptOld ++ fresh, pending)
          if (next.probes.isEmpty && next.dims.isEmpty) state.remove()
          else {
            state.update(next)
            if (pending.nonEmpty)
              // strictly above the current watermark or the API rejects it
              state.setTimeoutTimestamp(math.max(
                pending.iterator.map(_._1).min / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            else idleTtlMinutes match {
              case Some(ttl) =>
                // dims-only state: arm the idle-TTL timer — if no new
                // activity moves this key before watermark + TTL, the
                // retained latest version is evicted (data-retention
                // knob for retiring keys; state stays ∝ ACTIVE keys)
                state.setTimeoutTimestamp(
                  state.getCurrentWatermarkMs() + ttl * 60000L + 1L)
              case None =>
                // dims-only state (latest version, one entry) is kept
                // WITHOUT a timeout — deliberately. A temporal join
                // must answer a probe arriving arbitrarily later with
                // the last version, so the entry is live data, not
                // garbage; the cost is one (ts, id) pair per key, i.e.
                // state ∝ key cardinality, same as any streaming dim
                // table. Pass `idleTtlMinutes` to retire idle keys.
            }
          }
          out.iterator
          }
      }
      .toDF()
  }

  final case class SessState(start_us: Long, end_us: Long, n: Long)
  final case class SessionsState(sessions: List[SessState])
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Gap-based sessionization (pre-sink, unbounded) of a streaming
    * frame with `user_id` and `ts` columns, via flatMapGroupsWithState
    * with event-time timeout.
    *
    * CORRECTNESS UNDER OUT-OF-ORDER ARRIVAL (the whole point of the
    * watermark contract): state per user is a SET of disjoint session
    * intervals, each incoming event merges into — and may BRIDGE — the
    * intervals within `gap` of it (interval merging is order-
    * independent, so any in-watermark arrival order yields the same
    * sessions), and a session is emitted ONLY once the watermark passes
    * its end + gap, when no non-late event can extend or bridge it.
    * The earlier single-open-session form emitted a session the moment
    * a > gap successor ARRIVED and clamped bounds by arrival order —
    * both of which corrupt results when a batch carries in-watermark
    * out-of-order events (an irrevocable split of what the oracle
    * computes as one session). State stays bounded: pending intervals
    * all end within the watermark horizon. */
  def sessionizeStreamDf(raw: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val events = raw
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("ts")) // event-time column must survive for the watermark
    val sessions = events.as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionsState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionsState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var ivs: List[SessState] = state.getOption.map(_.sessions).getOrElse(Nil)
          rows.foreach { r =>
            val t = r._2
            // merge t into every interval within gap of it (possibly
            // bridging two); the fold keeps the interval set disjoint
            val (touch, rest) = ivs.partition(s =>
              t >= s.start_us - gapUs && t <= s.end_us + gapUs)
            val merged = touch.foldLeft(SessState(t, t, 1)) { (acc, s) =>
              SessState(math.min(acc.start_us, s.start_us),
                math.max(acc.end_us, s.end_us), acc.n + s.n)
            }
            ivs = merged :: rest
          }
          // finalized: the watermark passed end + gap, so no non-late
          // event can extend (t - end > gap) or bridge this interval
          val (done, pending) = ivs.partition(_.end_us + gapUs < wmUs)
          if (pending.isEmpty) state.remove()
          else {
            state.update(SessionsState(pending))
            // wake when the earliest pending interval finalizes;
            // strictly above the current watermark or the API rejects
            state.setTimeoutTimestamp(math.max(
              pending.iterator.map(_.end_us + gapUs).min / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          done.sortBy(s => (s.start_us, s.end_us))
            .map(s => Session(user, s.start_us, s.end_us, s.n)).iterator
      }
    sessions.toDF()
  }

  /** The closed sessions of the `events` table under `dir`: a
    * memory-sink run of [[sessionizeStreamDf]] over the table's stream,
    * the batch-equivalent answer a streamed run over the same files
    * must reproduce. The one `Streams` entry point that opens a path. */
  def sessionize(spark: SparkSession, dir: String,
                 gapMinutes: Int = 30): DataFrame =
    runToMemory(sessionizeStreamDf(Tables.stream(spark, dir, "events"), gapMinutes),
      OutputMode.Append())

  /** The built-in twin of [[sessionizeStreamDf]]: Spark's native
    * `session_window` aggregation instead of hand-rolled
    * flatMapGroupsWithState — prefer this form when the per-session
    * output is expressible as aggregates (state merging, watermark
    * eviction, and session-merge across micro-batches come from the
    * engine). The custom fMGWS version remains for session logic
    * aggregates can't express (mid-session emission, custom eviction).
    * Append mode emits each session once its window is closed by the
    * watermark. NOTE the two twins do NOT share an oracle: this form
    * splits sessions on a strict >= gap (window-overlap) rule where
    * fMGWS merges the exact-gap successor, so each has its own oracle
    * SQL and EngineSpec pins the subset relation between them.
    * `end_us` is the LAST EVENT time (window end minus the
    * gap), matching the fMGWS output exactly. */
  def sessionizeNativeStream(events: DataFrame,
                             gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupBy(col("user_id").cast("long").as("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        (unix_micros(col("w.end")) - gapUs).as("end_us"), col("n_events"))
  }
}
