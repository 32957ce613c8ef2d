package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.Tables
import graft.streaming.Streams
import graft.streaming.Streams.runToMemory
import QuerySpec._

/** Structured Streaming operators, each over its table's file stream
  * and run to a memory sink. */
object StreamingQueries {
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.stream(s, dir, "events")

  /** [[Tables.stream]] plus a round-robin repartition of the raw rows,
    * for streams whose PRE-shuffle pipeline is expensive (shingle
    * signatures, C4/Gopher text scoring): a single-file micro-batch
    * arrives as ONE input partition, and every projection between the
    * source and the first stateful shuffle then runs on one core —
    * observed as a 32x slowdown of the near-dup signature kernel. Light
    * streams skip this (the exchange of raw rows is pure overhead when
    * the projection is cheap); results are partition-independent
    * either way (keyed state, deterministic winners). */
  private def parallelStream(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.stream(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** An INNER stream-stream join or a Complete-mode sink emits every
    * result row inside the data batch itself (Complete re-emits the
    * full table each batch; dropDuplicatesWithinWatermark and the
    * default neardup emission emit on the batch that first carries a
    * key), so the trailing no-data micro-batch only evicts state.
    * Output is identical with it off (oracle-pinned). Operators that
    * EMIT on watermark close — q_stream_sessions(+native), q_stream_asof
    * — keep the session default. */
  private val noDataBatchesOff =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_stream_window", (s, dir) =>
      runToMemory(Streams.windowAggStream(events(s, dir)), OutputMode.Complete())
        .orderBy("window_start_us", "event_type"),
      Sql("""SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start_us,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin),
      confs = noDataBatchesOff),
    QuerySpec("q_stream_topk", (s, dir) =>
      runToMemory(Streams.topValuesStream(events(s, dir), k = 3), OutputMode.Complete())
        .orderBy("window_start_us", "event_type"),
      Sql("""WITH e AS (SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w,
        |    event_type, CAST(value AS DECIMAL(18,6)) AS d
        |  FROM events),
        |r AS (SELECT w, event_type, d,
        |    row_number() OVER (PARTITION BY w, event_type ORDER BY d DESC) AS rn
        |  FROM e)
        |SELECT CAST(epoch_us(w) AS BIGINT) AS window_start_us, event_type,
        |  string_agg(CAST(d AS VARCHAR), ',' ORDER BY rn) AS top_csv
        |FROM r WHERE rn <= 3
        |GROUP BY w, event_type
        |ORDER BY window_start_us, event_type""".stripMargin),
      confs = noDataBatchesOff),
    // Native session_window twin: emits ONLY watermark-closed sessions
    // (fMGWS also closes a session the moment its successor arrives),
    // so its oracle keeps just the watermark visibility condition.
    QuerySpec("q_stream_sessions_native", (s, dir) =>
      runToMemory(Streams.sessionizeNativeStream(events(s, dir)), OutputMode.Append())
        .orderBy("user_id", "start_us"),
      Sql("""WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t FROM events),
        |m AS (SELECT max(t) AS mx FROM e),
        |s AS (SELECT user_id, t,
        |        -- >= , not > : session_window merges on strict WINDOW
        |        -- OVERLAP, so an exact-gap successor starts a NEW
        |        -- session (unlike the fMGWS twin, which merges it)
        |        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT user_id, t,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM s),
        |sess AS (SELECT user_id, min(t) AS start_us, max(t) AS end_us,
        |           CAST(count(*) AS BIGINT) AS n_events
        |         FROM g GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events FROM sess, m
        |WHERE end_us + 1800000000 < m.mx - 1800000000
        |ORDER BY user_id, start_us""".stripMargin)),
    QuerySpec("q_stream_sessions", (s, dir) =>
      Streams.sessionize(s, dir).orderBy("user_id", "start_us"),
      Sql("""WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t FROM events),
        |m AS (SELECT max(t) AS mx FROM e),
        |s AS (SELECT user_id, t,
        |        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT user_id, t,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM s),
        |sess AS (SELECT user_id, sid, min(t) AS start_us, max(t) AS end_us,
        |           CAST(count(*) AS BIGINT) AS n_events
        |         FROM g GROUP BY 1, 2)
        |-- watermark-finalized visibility ONLY (no successor-closure):
        |-- a session is emitted once the ms-floored final watermark
        |-- (max ts, ms-floored, minus the 30 min delay) passes
        |-- end + gap — Spark tracks event time in MILLISECONDS, so the
        |-- oracle floors the same way
        |SELECT s.user_id, s.start_us, s.end_us, s.n_events
        |FROM sess s, m
        |WHERE s.end_us + 1800000000 < (m.mx // 1000) * 1000 - 1800000000
        |ORDER BY s.user_id, s.start_us""".stripMargin)),
    // Watermark-bounded streaming dedup: event_id is unique in the
    // corpus, so every event passes exactly once and the oracle is the
    // full table — pinning that the stateful pipeline neither drops nor
    // duplicates (EngineSpec's streaming-dedupe tests cover dropping a
    // re-delivered key).
    QuerySpec("q_stream_dedupe", (s, dir) =>
      runToMemory(Streams.dedupeStreamDf(events(s, dir)), OutputMode.Append())
        .orderBy("event_id"),
      Sql("""SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin),
      confs = noDataBatchesOff),
    // Streaming near-dup dedup on an md5-minhash signature built from
    // builtin functions only — the oracle recomputes the signature
    // bit-for-bit (md5, min over distinct 5-gram shingles) and takes
    // min(doc_id) per group, so survivor choice is fully checkable. The
    // event time is derived from doc_id, so it is deterministic.
    QuerySpec("q_stream_neardup", (s, dir) => {
      val docs = parallelStream(s, dir, "documents")
        .withColumn("__evt", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
      runToMemory(Streams.neardupStreamDf(docs, "doc_id", "text", "__evt"),
          OutputMode.Append())
        .orderBy("keep_id")
    },
      Sql("""WITH nrm AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
        |g AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(t) - 4, 1) + 1),
        |      i -> substr(t, CAST(i AS INT), 5))) AS grams
        |  FROM nrm),
        |h AS (SELECT doc_id, list_transform(grams, x -> md5(x)) AS hs FROM g),
        |s AS (SELECT doc_id,
        |    list_min(list_transform(hs, x -> substr(x, 1, 8))) || '|' ||
        |    list_min(list_transform(hs, x -> substr(x, 9, 8))) || '|' ||
        |    list_min(list_transform(hs, x -> substr(x, 17, 8))) || '|' ||
        |    list_min(list_transform(hs, x -> substr(x, 25, 8))) AS sig
        |  FROM h)
        |SELECT min(doc_id) AS keep_id, sig FROM s GROUP BY sig
        |ORDER BY keep_id""".stripMargin),
      confs = noDataBatchesOff),
    QuerySpec("q_stream_enrich", (s, dir) =>
      runToMemory(Streams.enrichStream(events(s, dir), T(s, dir, "orders")),
          OutputMode.Complete())
        .orderBy("window_start_us", "tier"),
      Sql("""WITH dim AS (SELECT o_custkey AS user_id,
        |    CASE WHEN sum(CAST(o_totalprice AS DECIMAL(30,10))) > 2500000
        |         THEN 'high' ELSE 'low' END AS tier
        |  FROM orders GROUP BY 1)
        |SELECT CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(e.ts AS TIMESTAMP))) AS BIGINT) AS window_start_us,
        |  d.tier, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1, 2 ORDER BY window_start_us, tier""".stripMargin),
      confs = noDataBatchesOff),
    QuerySpec("q_stream_joined", (s, dir) =>
      runToMemory(Streams.intervalJoinStream(events(s, dir)), OutputMode.Append())
        .orderBy("click_id", "purchase_id"),
      Sql("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin),
      // The session default spark.sql.codegen.hugeMethodLimit=8000
      // aligns Spark's codegen fallback with HotSpot's
      // DontCompileHugeMethods refusal: the failure it prevents is
      // SILENT interpretation of a hot loop (q_geo_join: 6.3 s → 1.2 s
      // at sf1). This join's >8000-bytecode stage is NOT its hot loop,
      // so falling back to volcano execution costs more than running
      // the generated outer method interpreted (sf0.1 isolated A/B:
      // 8.5–9.0 s at 65535 vs 10.7–12.8 s at 8000). Its no-data batch
      // re-committed 2× 32 partitions × 4 state stores for zero output
      // rows (6.8 of the query's 14.8 s isolated at sf0.1).
      confs = noDataBatchesOff + ("spark.sql.codegen.hugeMethodLimit" -> "65535")),
    // Streaming temporal (as-of) enrichment: emitted once the watermark
    // finalizes each probe's version set; visibility = events strictly
    // below the final watermark (max ts - 30min), mirrored by the oracle.
    QuerySpec("q_stream_asof", (s, dir) =>
      runToMemory(Streams.temporalEnrichStream(events(s, dir)), OutputMode.Append())
        .orderBy("event_id"),
      Sql(// the horizon is the MILLISECOND-floored Spark watermark (event
      // times are tracked in ms), not the raw max microsecond
      """WITH m AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS mx FROM events),
        |b AS (SELECT user_id, ts, max(event_id) AS pid FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1, 2),
        |vis AS (SELECT e.event_id, e.user_id, e.ts FROM events e, m
        |        WHERE epoch_us(e.ts) < m.mx - 1800000000)
        |SELECT e.event_id, e.user_id, b.pid AS last_purchase_id,
        |  epoch_us(e.ts) - epoch_us(b.ts) AS gap_us
        |FROM vis e ASOF LEFT JOIN b
        |  ON e.user_id = b.user_id AND e.ts >= b.ts
        |ORDER BY e.event_id""".stripMargin)),
    // Stateless streaming curation gate: C4 clean -> Gopher score on
    // the cleaned text, in-flight, zero state — identical operators
    // serve batch and stream, so the oracle is simply the batch chain.
    QuerySpec("q_stream_quality", (s, dir) => {
      val docs = parallelStream(s, dir, "documents")
        .select(col("doc_id"), c4Injected.as("text"))
      runToMemory(Streams.curationGateStream(docs, "doc_id", "text"), OutputMode.Append())
        .orderBy("doc_id")
    }, Sql(s"""WITH $c4InjectedSql,
        |cl AS (SELECT doc_id,
        |    coalesce(CASE WHEN len(kept) = 0 THEN NULL
        |         ELSE array_to_string(list_transform(kept, x -> trim(x)), chr(10)) END,
        |      '') AS t,
        |    (len(kept) >= 3 AND NOT (contains(lower(t0), 'lorem ipsum')
        |       OR contains(t0, '{'))) AS c4_keep
        |  FROM (SELECT doc_id, t AS t0,
        |      list_filter(string_split(t, chr(10)), x ->
        |        regexp_matches(trim(x), '[.!?"]$$')
        |        AND len(string_split(trim(x), ' ')) >= 5) AS kept
        |    FROM inj) k),
        |w AS (SELECT doc_id, t, c4_keep, string_split(t, ' ') AS ws FROM cl),
        |m AS (SELECT doc_id, c4_keep,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(floor((len(replace(t, ' ', '')) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_word_len,
        |    CAST(floor((len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS frac_alpha_words,
        |    CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stopwords,
        |    CAST(floor(((len(t) - len(replace(t, '#', '')) + (len(t) - len(replace(t, '...', ''))) / 3) * 1.0 / len(ws)) * 10000 + 0.5) AS DOUBLE) / 10000 AS symbol_ratio
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
        |  symbol_ratio,
        |  -- the gate ANDs the C4 kill into the Gopher verdict
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio < 0.1 AND frac_alpha_words > 0.8
        |   AND n_stopwords >= 2 AND c4_keep) AS keep
        |FROM m ORDER BY doc_id""".stripMargin))
  )
}
