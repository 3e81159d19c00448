package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetIO
import graft.sources.EventsSource
import graft.streaming.EventStream

import Support._

/** Catalog family: [[graft.streaming.EventStream]] — each streaming query
  * replayed to completion over a staged copy of its source, beside the
  * batch twins whose oracle it shares. */
object Streaming {

  /** Stage the events table as microsecond-timestamp parquet in a scratch
    * dir (the shape an ingestion layer lands; the streaming parquet source
    * rejects TIMESTAMP(NANOS)). `duplicate` doubles every row — the dedup
    * fixture. */
  private val eventsMicrosCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), String]()
  private def stageEventsMicros(s: SparkSession, dir: String,
      duplicate: Boolean = false): String =
    // cached per (dir, variant) per JVM: 7 streaming queries × 3 bench
    // passes were each re-writing the staged copy and leaking a /tmp dir
    eventsMicrosCache.computeIfAbsent((dir, duplicate), { case (d, dup) =>
      val out = java.nio.file.Files.createTempDirectory("graft_stream_").toString
      val ev = EventsSource.read(s, s"$d/events.parquet")
      (if (dup) ev.union(ev) else ev).write.mode("overwrite").parquet(out)
      out
    })

  /** Stage (once per source dir per JVM) the q195 stream source: the odd
    * doc_id half of `documents` written as a parquet directory the file
    * stream reads. Cached so bench passes measure the STREAMING PROBE,
    * not the staging write. */
  private val oddDocsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageOddDocs(s: SparkSession, dir: String): String =
    oddDocsCache.computeIfAbsent(dir, { d =>
      val out = java.nio.file.Files.createTempDirectory("graft_odd_").toString + "/docs"
      read(s, d, "documents").filter(col("doc_id") % 2 === 1)
        .write.mode("overwrite").parquet(out)
      out
    })

  /** q221's fixed bin edges over events.value — shared by the query's
    * baseline computation and the oracle generator so they cannot drift. */
  private val psiStreamEdges: Array[Double] =
    Array(5.0, 10.0, 20.0, 50.0, 100.0, 200.0)

  /** Replay row count of a staged parquet dir, cached per file identity
    * per JVM (a regenerated dir is counted afresh) — a parquet `count()` is
    * footer-metadata only, but 9 streaming queries × 3 bench passes need
    * not repeat even that. */
  private val stagedRowsCache = new graft.io.IdentityCache[java.lang.Long]
  private[graft] def parquetRows(s: SparkSession, path: String): Long = {
    val id = ParquetIO.fileIdentity(s, path)
    id.flatMap(stagedRowsCache.get).map(_.longValue).getOrElse {
      val n = ParquetIO.read(s, path).count()
      id.foreach(stagedRowsCache.put(_, n))
      n
    }
  }

  /** Run a streaming DataFrame to completion on its (static) source via a
    * memory sink and return the sink table.
    *
    * State partitions are sized to the fixture's stream volume for the
    * query's duration: every stateful operator materializes one state
    * store PER shuffle partition PER micro-batch (delta + snapshot files,
    * maintenance threads), a fixed cost unrelated to row count. 100k
    * events across 32 stores is overhead-dominated; 8 fits. At production
    * volume this is the same `spark.sql.shuffle.partitions` lever, raised
    * instead of lowered — the partition count is captured at stream START,
    * so the scoped set/restore pins it per query. */
  private def runToCompletion(s: SparkSession, name: String,
      stream: DataFrame, replayRows: Long): DataFrame = {
    s.catalog.dropTempView(name) // re-runs in one session
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    // Stateful-stage parallelism for the CLOSED-SET replay harness (this
    // helper is the oracle-gate tail, not a production operator): each
    // state partition pays per-micro-batch store init/commit file I/O,
    // and the replayed state is a bounded function of the replay volume
    // (sessions/windows/pairs ≪ rows), so the count DERIVES from the
    // replay's row count — one state partition per ~64k replayed rows,
    // clamped to the session shuffle setting (the cluster-sized lever a
    // real deployment raises for throughput). Measured at sf0.1 (100k
    // rows → 2 partitions): same numbers as the previous hand-tuned
    // constant 2, which this derivation replaces (a constant only made
    // sense at exactly this bench scale).
    val derived = math.max(1L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      (replayRows + 65535) / 65536))
    s.conf.set("spark.sql.shuffle.partitions", derived.toString)
    try {
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** q41/q166 oracle: gap sessionization as islands over a keyed prefix
    * sum; shared by the window-formulation and native-session_window
    * implementations (their boundary semantics coincide on this fixture —
    * no consecutive pair sits exactly on the gap). */
  private val sessionizeSql: String =
    """WITH e AS (
         SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > 1800000000
                THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (
         SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM e)
       SELECT user_id,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         count(*) AS n_events, round(sum(value), 2) AS session_value
       FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  val cases: Seq[Case] = Seq(
    // ---- STREAMING dedup probe against the stored corpus ----------------
    // the continuous form of q184: the odd-doc batch arrives as a file
    // STREAM, each micro-batch bands through the compiled kernels and
    // stream-static-joins the stored bucket/shingle tables; a real
    // streaming run to a memory sink, same oracle as q184's fused batch
    Case("q195_stream_dedup", (s, dir) => {
      val prefix = stageLshCorpus(s, dir)
      val staged = stageOddDocs(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val out = runToCompletion(s, "q195_probe",
        EventStream.dedupProbeStream(s, staged, schema, "doc_id", "text",
          prefix, threshold = 0.7), parquetRows(s, staged))
      out.select(col("new_id"), col("corpus_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("new_id"), col("corpus_id"))
    },
      // the streaming probe computes the identical pair set (q184's oracle)
      crossParityJaccardSql),

    // ---- events / streaming twin ----------------------------------------
    Case("q22_events_hourly", (s, dir) => {
      EventStream.hourlyAggBatch(EventsSource.read(s, s"$dir/events.parquet"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"), col("sum_value"), col("n_users"))
        .orderBy(col("hour"), col("event_type"))
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),

    // ---- sessionization (batch twin of sessionizeStream) ----------------
    Case("q41_sessionize", (s, dir) => {
      EventStream.sessionize(EventsSource.read(s, s"$dir/events.parquet"), gapMinutes = 30)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("session_value"))
        .gateOrdered(col("user_id"), col("session_start"))
    },
      sessionizeSql),

    // ---- attribution-window join (batch twin of the stream-stream join) --
    Case("q54_attribution_join", (s, dir) => {
      EventStream.attributionJoinBatch(
          EventsSource.read(s, s"$dir/events.parquet"), maxLagMinutes = 30)
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("purchase_ts")).as("purchase_ts_us"),
          col("view_id"),
          unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("purchase_id"), col("view_id"))
    },
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, event_id AS view_id, ts AS vts
                    FROM events WHERE event_type = 'view')
         SELECT purchase_id, user_id, epoch_us(p.ts) AS purchase_ts_us,
                view_id, epoch_us(vts) AS view_ts_us
         FROM p JOIN v USING (user_id)
         WHERE vts <= p.ts
           AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000
         ORDER BY purchase_id, view_id"""),

    // ---- streaming execution paths under the oracle ---------------------
    // Each stages the events table to micros parquet (what an ingestion
    // layer lands — the streaming source rejects TIMESTAMP(NANOS)), runs
    // the REAL streaming query to completion on it (memory sink), and
    // returns the sink table; the oracle recomputes the closed-set result
    // in SQL. These check the stream execution path itself, not a twin.
    Case("q65_sessionize_stream", (s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val sessions = runToCompletion(s, "q65_sess",
        EventStream.sessionizeStream(s, staged, schema, gapMinutes = 30), parquetRows(s, staged))
      // emitted ⟺ the final watermark (max ts, ms-floored, minus the gap
      // delay) is strictly past session_end + gap — watermark-complete
      sessions.select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // Streaming sessionization, closed-set contract: exactly the batch
      // sessions sealed by the final watermark. The watermark is the
      // ms-floored max event time minus the 30-min delay; a session is
      // sealed when the watermark is strictly past session_end + gap.
      """WITH e AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM e),
         g AS (
           SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                  count(*) AS n_events, round(sum(value), 2) AS session_value
           FROM s GROUP BY user_id, sid),
         wm AS (SELECT (epoch_ms(max(ts)) - 1800000) * 1000 AS wm_us FROM events)
         SELECT user_id,
           strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events, session_value
         FROM g, wm
         WHERE epoch_us(session_end) + 1800000000 < wm_us
         ORDER BY user_id, session_start"""),
    Case("q66_dedup_stream", (s, dir) => {
      // duplicate every event, then streaming-dedup on event_id: the
      // closed-set result is each event exactly once
      val staged = stageEventsMicros(s, dir, duplicate = true)
      val schema = ParquetIO.schema(s, staged)
      val out = runToCompletion(s, "q66_dedup",
        EventStream.dedupStream(s, staged, schema, Seq("event_id")), parquetRows(s, staged))
      out.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy(col("event_id"))
    },
      // Streaming dedup over the doubled fixture: each event exactly once
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
         FROM events ORDER BY event_id"""),

    // Hourly windowed agg through the real stream: append mode emits only
    // windows the final watermark (max ts, ms-floored, minus the 1-hour
    // delay) has sealed
    // ---- streaming PSI drift monitor ------------------------------------
    // per-hour PSI of `value` against the table's own overall bin rates
    // (the baseline a deployed monitor would carry as literals); binning
    // is pure literal comparisons, psi a fixed left-to-right fold — both
    // engines replay it bit-identically before the 6-dp round
    Case("q221_psi_drift_stream", (s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val edges = psiStreamEdges
      val ev = ParquetIO.read(s, staged).filter(col("value").isNotNull)
      val bin = edges.foldLeft(lit(0)) { (a, e) =>
        a + when(col("value").cast("double") > e, 1).otherwise(0) }
      val counts = (0 to edges.length).map(b =>
        sum(when(col("__b") === b, 1L).otherwise(0L)).as(s"c$b"))
      val base = ev.select(bin.as("__b"))
        .agg(count(lit(1)).as("n"), counts: _*).head()
      val n = base.getLong(0)
      val rates = (0 to edges.length).map(b => base.getLong(b + 1).toDouble / n)
      val out = runToCompletion(s, "q221_psi",
        EventStream.psiDriftStream(s, staged, schema, "value", edges,
          rates.toArray), parquetRows(s, staged))
      out.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"), col("psi"))
        .orderBy(col("hour"))
    },
      // Closed hourly windows only: window end at or below the final
      // watermark (max ts ms-floored minus the 1-hour delay)
      // Streaming PSI replay: same literal-edge bins, same per-hour and
      // overall integer counts, same greatest(share, 1e-6) floors and the
      // same left-to-right psi-term chain; q81's watermark CTE gates which
      // windows closed
      {
        val nb = psiStreamEdges.length + 1
        val binSql = psiStreamEdges.map(e =>
          s"CASE WHEN value > $e THEN 1 ELSE 0 END").mkString(" + ")
        val hourCnts = (0 until nb).map(b =>
          s"sum(CASE WHEN b = $b THEN 1 ELSE 0 END)::BIGINT AS c$b").mkString(", ")
        val baseCnts = (0 until nb).map(b =>
          s"sum(CASE WHEN b = $b THEN 1 ELSE 0 END)::BIGINT AS qc$b").mkString(", ")
        val psiChain = (0 until nb).map(b =>
          s"""(greatest(c$b / n, 1e-6) - greatest(qc$b / qn, 1e-6))
            * ln(greatest(c$b / n, 1e-6) / greatest(qc$b / qn, 1e-6))""")
          .mkString(" + ")
        s"""WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
         ev AS (SELECT ts, ($binSql) AS b FROM events WHERE value IS NOT NULL),
         q AS (SELECT count(*)::BIGINT AS qn, $baseCnts FROM ev),
         h AS (SELECT date_trunc('hour', ts) AS h, count(*)::BIGINT AS n,
                 $hourCnts,
                 epoch_us(date_trunc('hour', ts)) + 3600000000 AS end_us
               FROM ev GROUP BY 1)
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n,
           round($psiChain, 6) AS psi
         FROM h CROSS JOIN q, wm WHERE end_us <= wm_us ORDER BY hour"""
      }),

    Case("q81_hourly_stream", (s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val agg = runToCompletion(s, "q81_hourly",
        EventStream.hourlyAggStream(s, staged, schema), parquetRows(s, staged))
      agg.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
      """WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
         g AS (
           SELECT date_trunc('hour', ts) AS h, event_type,
                  count(*) AS n_events, round(sum(value), 4) AS sum_value,
                  epoch_us(date_trunc('hour', ts)) + 3600000000 AS end_us
           FROM events GROUP BY 1, 2)
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                n_events, sum_value
         FROM g, wm WHERE end_us <= wm_us
         ORDER BY hour, event_type"""),
    Case("q67_attribution_stream", (s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val pairs = runToCompletion(s, "q67_attr",
        EventStream.attributionJoinStream(s, staged, schema, maxLagMinutes = 30), parquetRows(s, staged))
      // stream-stream inner join with both-sided watermarks emits every
      // matched pair on a closed input — same oracle as the batch twin q54
      pairs.select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        col("view_id"),
        unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("purchase_id"), col("view_id"))
    },
      // Identical to q54: the both-sided-watermark stream-stream inner join
      // emits every matched pair on a closed input
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, event_id AS view_id, ts AS vts
                    FROM events WHERE event_type = 'view')
         SELECT purchase_id, user_id, epoch_us(p.ts) AS purchase_ts_us,
                view_id, epoch_us(vts) AS view_ts_us
         FROM p JOIN v USING (user_id)
         WHERE vts <= p.ts
           AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000
         ORDER BY purchase_id, view_id"""),

    // ---- stream-stream LEFT-OUTER attribution (null-emit semantics) -----
    Case("q176_attribution_left_stream", (s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val pairs = runToCompletion(s, "q176_attr_left",
        EventStream.attributionJoinLeftStream(s, staged, schema, maxLagMinutes = 30), parquetRows(s, staged))
      // matched rows emit like the inner join; unmatched purchases emit
      // null view columns once the final watermark (max ts, ms-floored,
      // minus the 1-hour delay) passes their timestamp — purchases inside
      // the horizon stay in state and are absent, which the oracle models
      pairs.select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        col("view_id"),
        unix_micros(col("view_ts")).as("view_ts_us"))
        .orderBy(col("purchase_id"), col("view_id"))
    },
      // Left-outer stream-stream join: matched pairs are q67's set; an
      // UNMATCHED purchase emits (with null view columns) iff the final
      // GLOBAL watermark passed its timestamp. Each watermark node sees only
      // its filtered stream, so the global value is the MIN of the per-side
      // (ms-floored max − 1 h) watermarks — purchases above it stay in state
      // on a closed input and must be absent
      """WITH wm AS (
           SELECT (least(
             (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'),
             (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'view'))
             - 3600000) * 1000 AS wm_us),
         p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, event_id AS view_id, ts AS vts
               FROM events WHERE event_type = 'view')
         SELECT purchase_id, user_id, epoch_us(p.ts) AS purchase_ts_us,
                view_id, epoch_us(vts) AS view_ts_us
         FROM p JOIN v USING (user_id)
         WHERE vts <= p.ts
           AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000
         UNION ALL
         SELECT purchase_id, p.user_id, epoch_us(p.ts) AS purchase_ts_us,
                NULL::BIGINT AS view_id, NULL::BIGINT AS view_ts_us
         FROM p CROSS JOIN wm
         WHERE epoch_us(p.ts) < wm_us
           AND NOT EXISTS (
             SELECT 1 FROM v
             WHERE v.user_id = p.user_id AND vts <= p.ts
               AND epoch_us(p.ts) - epoch_us(vts) <= 1800000000)
         ORDER BY purchase_id, view_id"""),

    // ---- sliding-window aggregation (overlapping windows) ---------------
    Case("q158_sliding_hours", (s, dir) => {
      EventStream.slidingAggBatch(
          EventsSource.read(s, s"$dir/events.parquet"),
          windowHours = 2, slideHours = 1)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
      // Overlapping epoch-aligned 2h/1h windows: each event contributes to
      // exactly the two windows starting at trunc(h) and trunc(h) − 1h
      """WITH x AS (
           SELECT date_trunc('hour', ts) AS h0, event_type, value FROM events),
         w AS (
           SELECT h0 AS ws, event_type, value FROM x
           UNION ALL
           SELECT h0 - INTERVAL 1 HOUR, event_type, value FROM x)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
                count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
         FROM w GROUP BY ws, event_type ORDER BY win_start, event_type"""),

    // ---- sliding windows through the real stream ------------------------
    Case("q165_sliding_stream", (s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val agg = runToCompletion(s, "q165_sliding",
        EventStream.slidingAggStream(s, staged, schema), parquetRows(s, staged))
      agg.select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
      // q158's sliding expansion, restricted to windows whose end the
      // 1-hour watermark closed (append-mode emission contract)
      """WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
         x AS (
           SELECT date_trunc('hour', ts) AS h0, event_type, value FROM events),
         w AS (
           SELECT h0 AS ws, event_type, value FROM x
           UNION ALL
           SELECT h0 - INTERVAL 1 HOUR, event_type, value FROM x)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
                count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
         FROM w, wm WHERE epoch_us(ws) + 7200000000 <= wm_us
         GROUP BY ws, event_type ORDER BY win_start, event_type"""),

    // ---- native session_window sessionization (≡ q41) -------------------
    Case("q166_session_native", (s, dir) => {
      // Spark's built-in gap-session operator must reproduce the
      // window-formulation sessionizer exactly (no exact-gap pairs exist
      // in the fixture, so the [ts, ts+gap) boundary nuance is moot)
      EventStream.sessionizeNative(
          EventsSource.read(s, s"$dir/events.parquet"), gapMinutes = 30)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // the native session_window operator must reproduce the same sessions
      sessionizeSql),

    // ---- stream-static enrichment under the oracle ----------------------
    Case("q73_enrich_stream", (s, dir) => {
      val staged = stageEventsMicros(s, dir)
      val schema = ParquetIO.schema(s, staged)
      val stream = s.readStream.schema(schema).parquet(staged)
      val dim = read(s, dir, "customer").select(
        col("c_custkey").as("user_id"), col("c_name"), col("c_nationkey"))
      val out = runToCompletion(s, "q73_enrich",
        EventStream.enrichStream(stream, dim, Seq("user_id")), parquetRows(s, staged))
      out.select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_nationkey"))
        .orderBy(col("event_id"))
    },
      // Stream-static enrichment on a closed input = the static left join
      """SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_nationkey
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id"""))
}
