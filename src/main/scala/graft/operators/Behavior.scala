package graft.operators

import graft.functions.kernels.{FunnelAdvanceTs, FunnelDepth, FunnelDepthWithin}
import graft.ops.ScaleOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-behavior analytics: ordered funnels, retention cohorts and
  * interval coalescing (north-star extensions — the telemetry-shaped
  * operators a training-data/eventstream pipeline needs next to the
  * sessionization family in [[graft.streaming.EventStream]]).
  *
  * Scale design:
  *  - [[funnel]] is one shuffle (groupBy user) whose state per user is a
  *    packed primitive `array<long>` of that user's FUNNEL events only —
  *    the stage filter pushes to the scan, so state is bounded by per-user
  *    funnel activity, not total event volume. The depth scan is a
  *    compiled kernel; the stage rollup that follows runs on ≤ numStages
  *    rows.
  *  - [[retentionCohorts]] reduces events to distinct (user, week) pairs
  *    BEFORE the cohort join, so the join input is |users| × |active
  *    weeks| (≤ 52/year), not |events|; both sides of the join hash on
  *    user, and the final cell aggregation is |cohorts| × |offsets| tiny.
  *  - [[mergeIntervals]] is the classic islands construction on a
  *    PARTITIONED window (one shuffle + sort per key group, no global
  *    window), so it scales with the largest single key's interval count —
  *    the same bound sessionization already accepts.
  */
object Behavior {

  /** Ordered-funnel analysis: for each user, the furthest `stages` prefix
    * reached by events whose timestamps strictly increase stage-to-stage
    * (a stage-k event counts only if STRICTLY after the event that reached
    * stage k-1). Returns one row per stage: `stage` (1-based),
    * `stage_name`, `n_users` reaching it, `conversion` = n_users /
    * stage-1 users (rounded 4dp).
    */
  /** Packed per-user event arrays shared by the funnel operators: stage
    * filter pushed to the scan, one groupBy, sorted primitive longs. */
  private def packedEvents(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.size <= 7,
      s"funnel supports 1..7 stages, got ${stages.size}")
    require(stages.distinct.size == stages.size, "funnel stages must be distinct")
    // stage index 1..k as a when-chain (codegen'd; no UDF)
    val stageIdx = stages.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (name, i)) => when(col(typeCol) === name, lit(i + 1)).otherwise(acc)
    }
    // pre-epoch timestamps would corrupt the (ts << 3 | stage) packing
    // (the kernel decodes with an UNSIGNED shift) — fail loudly, never
    // produce a silently-wrong depth
    val us = unix_micros(col(tsCol))
    val guarded = when(us < 0,
      raise_error(lit("funnel requires post-1970 timestamps"))).otherwise(us)
    val packed = (shiftleft(guarded, 3) + stageIdx.cast("long")).as("_enc")
    events
      .filter(col(typeCol).isin(stages: _*) && col(tsCol).isNotNull
        && col(userCol).isNotNull)
      .select(col(userCol).as("_user"), packed)
      .groupBy("_user")
      .agg(sort_array(collect_list(col("_enc"))).as("_evs"))
  }

  /** Depth distribution → per-stage reach + conversion: stage s is reached
    * by every user with depth ≥ s, so explode 1..depth (≤ 7 rows/user)
    * and count — tiny relative to the event scan that fed `perUser`.
    * Every declared stage gets a row, zero-reach stages included (a
    * funnel report that silently omits its empty tail misreads as a
    * shorter funnel). */
  private def stageRollup(perUser: DataFrame, stages: Seq[String]): DataFrame = {
    val counts = perUser
      .filter(col("_depth") >= 1)
      .select(explode(sequence(lit(1), col("_depth"))).as("stage"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
    val spine = perUser.sparkSession.range(1, stages.size + 1)
      .select(col("id").cast("int").as("stage"))
    val full = spine.join(counts, Seq("stage"), "left")
      .na.fill(0L, Seq("n_users"))
    val base = full.filter(col("stage") === 1)
      .select(col("n_users").as("_base"))
    full.crossJoin(broadcast(base))
      .select(col("stage"),
        element_at(array(stages.map(lit): _*), col("stage")).as("stage_name"),
        col("n_users"),
        round(col("n_users").cast("double") / col("_base"), 4).as("conversion"))
  }

  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame =
    stageRollup(
      packedEvents(events, userCol, tsCol, typeCol, stages)
        .select(col("_user"), FunnelDepth(col("_evs"), stages.size).as("_depth")),
      stages)

  /** [[funnel]] at SESSION granularity: events sessionize per user by the
    * `gapMinutes` inactivity rule (the [[graft.streaming.EventStream]]
    * convention), then the ordered funnel runs per (user, session) — the
    * reached-stage counts are SESSIONS, answering "what share of sessions
    * that start with a view convert in that same visit". Session ids come
    * from one keyed window (ordered by micros with `idCol` as the
    * deterministic tiebreak); the funnel then shuffles once on the
    * session key exactly like [[funnel]] does on the user. */
  def sessionFunnel(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, stages: Seq[String],
      gapMinutes: Int = 30): DataFrame = {
    require(gapMinutes >= 1, s"gap must be >= 1 minute, got $gapMinutes")
    val gapUs = gapMinutes * 60L * 1000000L
    val us = unix_micros(col(tsCol))
    val wOrd = Window.partitionBy(col(userCol)).orderBy(us, col(idCol))
    val withSid = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("_pt", lag(us, 1).over(wOrd))
      .withColumn("_ns",
        when(col("_pt").isNull || us - col("_pt") > gapUs, 1L).otherwise(0L))
      .withColumn("_sid",
        sum("_ns").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_skey", concat_ws(":", col(userCol), col("_sid")))
    funnel(withSid, "_skey", tsCol, typeCol, stages)
      .withColumnRenamed("n_users", "n_sessions")
  }

  /** [[funnel]] with a conversion window: stage-2+ events only count
    * within `windowMicros` of the user's FIRST stage-1 event (the
    * product-analytics attribution convention — see
    * [[graft.functions.kernels.BehaviorKernels.funnelDepthWithin]] for
    * the anchoring semantics). Same single-shuffle shape as [[funnel]]. */
  def funnelWithin(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String], windowMicros: Long): DataFrame =
    stageRollup(
      packedEvents(events, userCol, tsCol, typeCol, stages)
        .select(col("_user"),
          FunnelDepthWithin(col("_evs"), stages.size, windowMicros).as("_depth")),
      stages)

  /** Time-to-convert for users completing the WHOLE funnel: duration
    * (micros) between the stage-1 advance and the final-stage advance of
    * the same greedy scan as [[funnel]], summarized as one row
    * `(n_converted, p50_us, p90_us)` with exact interpolated percentiles.
    * The advance timestamps come from a compiled kernel over the same
    * packed per-user arrays — no second pass over events. */
  def funnelConversionTime(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    val k = stages.size
    packedEvents(events, userCol, tsCol, typeCol, stages)
      .select(FunnelAdvanceTs(col("_evs"), k).as("_adv"))
      .filter(size(col("_adv")) === k)
      .select((element_at(col("_adv"), k) - element_at(col("_adv"), 1))
        .cast("double").as("_dur"))
      .agg(count(lit(1)).as("n_converted"),
        round(percentile(col("_dur"), lit(0.5)), 4).as("p50_us"),
        round(percentile(col("_dur"), lit(0.9)), 4).as("p90_us"))
  }

  /** Weekly retention cohorts: cohort = epoch-week (`floor(days-since-
    * 1970-01-01 / 7)`, engine-neutral — no locale week-start) of the
    * user's first event; a user is retained at `week_offset` w if they
    * have any event in cohort_week + w. Returns `(cohort_week,
    * week_offset, n_active, cohort_size, retention)`; every user is
    * active at offset 0 by construction, so cohort_size is the offset-0
    * cell of its partition. */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val week = floor(datediff(to_date(col(tsCol)),
      lit("1970-01-01").cast("date")) / 7).as("_week")
    val userWeeks = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_user"), week)
      .distinct() // |users| × |active weeks| — the scale reduction step
    val firsts = userWeeks.groupBy("_user").agg(min("_week").as("cohort_week"))
    val cells = userWeeks.join(firsts, "_user")
      .groupBy(col("cohort_week"), (col("_week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active")) // (user, week) distinct ⇒ count = distinct users
    val w = Window.partitionBy("cohort_week")
    cells
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(w))
      .withColumn("retention",
        round(col("n_active").cast("double") / col("cohort_size"), 4))
  }

  /** Rolling active users: for every day with activity, `dau` (distinct
    * users that day), `wau` (distinct users over the trailing `windowDays`
    * days including it) and `stickiness` = dau/wau — the standard
    * engagement triple.
    *
    * Scale shape: a sliding-window DISTINCT cannot use a plain window
    * frame (count(distinct) over a frame isn't supported and would hold
    * per-frame sets anyway). Instead each distinct (user, day) pair is
    * exploded to the `windowDays` report days it contributes to — a
    * bounded ×window expansion of the ALREADY-deduplicated user-day table
    * (|users| × |active days|, not |events|) — then deduplicated and
    * counted per report day. Three partial-aggregated shuffles of small
    * rows; no state beyond the aggregation. Report days are the observed
    * activity days (inner join with the dau table), so leading windows
    * ramp in and trailing phantom days are dropped.
    */
  def rollingActiveUsers(events: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"window must be >= 1 day, got $windowDays")
    val userDays = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_user"),
        datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date")).as("_day"))
      .distinct()
    val dau = userDays.groupBy(col("_day").as("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("_user"),
        explode(sequence(col("_day"), col("_day") + windowDays - 1)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .withColumn("stickiness", round(col("dau").cast("double") / col("wau"), 4))
  }

  /** Event-rate anomaly scores: bucket events per hour, then score each
    * bucket against the mean/stddev of the PRECEDING `window` buckets
    * (trailing baseline, current bucket excluded — a spike must not mask
    * itself). Returns `(bucket, n_events, z)` for every bucket with a full
    * baseline window; callers threshold z (|z| > 3 is the usual alarm).
    *
    * The ordered window is global BUT runs over the hourly-count table,
    * not events: its size is bounded by the time span (8,760 rows/year),
    * so the single-partition sort is trivially safe at any corpus scale —
    * the same bounded-bucket argument as the packing block table. */
  def rateAnomaly(events: DataFrame, tsCol: String, window: Int = 24): DataFrame = {
    require(window >= 2, s"baseline window must be >= 2 buckets, got $window")
    val counts = events.filter(col(tsCol).isNotNull)
      .groupBy(date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy("bucket").rowsBetween(-window, -1)
    counts
      .withColumn("_mu", avg("n_events").over(w))
      .withColumn("_sd", stddev_samp(col("n_events").cast("double")).over(w))
      .withColumn("_n", count(lit(1)).over(w))
      .filter(col("_n") === window && col("_sd") > 0)
      .select(col("bucket"), col("n_events"),
        round((col("n_events") - col("_mu")) / col("_sd"), 3).as("z"))
  }

  /** Per-user activity-gap report: for each user, the runs of WHOLE days
    * with no activity strictly between two active days (edges of the
    * observation window are not gaps — absence before first/after last
    * activity is unbounded, not a gap). Returns `(user, gap_start_day,
    * gap_end_day, n_missing)` in epoch days.
    *
    * Shape: distinct (user, day) then ONE `lead` window partitioned by
    * user — no calendar explode, no full-range sequence materialization;
    * cost is |users| × |active days|, and a user's gap count is bounded by
    * their active-day count regardless of how long the gaps are. */
  def activityGaps(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val userDays = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("user"),
        datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date"))
          .cast("long").as("_day"))
      .distinct()
    val w = Window.partitionBy("user").orderBy("_day")
    userDays
      .withColumn("_next", lead(col("_day"), 1).over(w))
      .filter(col("_next") > col("_day") + 1)
      .select(col("user"), (col("_day") + 1).as("gap_start_day"),
        (col("_next") - 1).as("gap_end_day"),
        (col("_next") - col("_day") - 1).as("n_missing"))
  }

  /** Event-type transition counts (the first-order Markov structure of a
    * clickstream): for each consecutive event pair within a (user, day),
    * count `from_type → to_type`, with each transition's share of all
    * transitions. One `lead` window partitioned by (user, day) — the
    * sequence assembly never leaves the partition — then a tiny
    * |types|² aggregation. Ties on timestamp break by `idCol` so the
    * sequence (and therefore the counts) is deterministic. */
  def eventTransitions(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String): DataFrame = {
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date"))
    val w = Window.partitionBy(col(userCol), day)
      .orderBy(col(tsCol), col(idCol))
    val trans = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull
        && col(typeCol).isNotNull)
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val total = trans.agg(sum("n").as("_total"))
    trans.crossJoin(broadcast(total))
      .withColumn("share", round(col("n").cast("double") / col("_total"), 6))
      .drop("_total")
  }

  /** Market-basket lift over event types: treating each (user, day) as a
    * basket of the DISTINCT event types it contains, count co-occurring
    * unordered type pairs and score `lift = P(ab) / (P(a)·P(b))` — > 1
    * means the two behaviors attract, < 1 they repel. The association
    * diagnostic behind "users who error also purchase?" questions.
    *
    * Scale: baskets are the distinct (user, day, type) table; the pair
    * self-join is per-basket with fanout ≤ |types|² (types is a small
    * closed set), and the lift join sides are |types| and |types|² rows —
    * broadcast. Nothing quadratic in users or events. */
  def basketLift(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String): DataFrame = {
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date"))
    val baskets = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull
        && col(typeCol).isNotNull)
      .select(col(userCol).as("_u"), day.as("_d"), col(typeCol).as("_t"))
      .distinct()
    val nBaskets = baskets.select("_u", "_d").distinct()
      .agg(count(lit(1)).as("_nb"))
    val singles = baskets.groupBy(col("_t")).agg(count(lit(1)).as("_n1"))
    val a = baskets.select(col("_u"), col("_d"), col("_t").as("type_a"))
    val b = baskets.select(col("_u"), col("_d"), col("_t").as("type_b"))
    val pairs = a.join(b, Seq("_u", "_d"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(singles.select(col("_t").as("type_a"), col("_n1").as("_na"))),
        Seq("type_a"))
      .join(broadcast(singles.select(col("_t").as("type_b"), col("_n1").as("_nb1"))),
        Seq("type_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round((col("n_ab").cast("double") * col("_nb"))
          / (col("_na") * col("_nb1")), 4).as("lift"))
  }

  /** [[rateAnomaly]] partitioned by a key (e.g. event type): each key's
    * hourly rate scores against ITS OWN trailing baseline — a global
    * baseline hides a spike in a low-volume type behind a high-volume
    * one. The window is keyed, so even the bucket table needs no global
    * ordering; cost is bounded by the busiest key's bucket count. */
  def rateAnomalyByKey(events: DataFrame, keyCol: String, tsCol: String,
      window: Int = 24): DataFrame = {
    require(window >= 2, s"baseline window must be >= 2 buckets, got $window")
    val counts = events.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key"), date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("key").orderBy("bucket").rowsBetween(-window, -1)
    counts
      .withColumn("_mu", avg("n_events").over(w))
      .withColumn("_sd", stddev_samp(col("n_events").cast("double")).over(w))
      .withColumn("_n", count(lit(1)).over(w))
      .filter(col("_n") === window && col("_sd") > 0)
      .select(col("key"), col("bucket"), col("n_events"),
        round((col("n_events") - col("_mu")) / col("_sd"), 3).as("z"))
  }

  /** Rolling median baseline of the hourly event rate: the robust twin of
    * [[rateAnomaly]]'s mean/std (a single outlier hour drags a mean
    * baseline; the median ignores it). Returns `(bucket, n_events, med)`
    * for buckets with a full trailing window (current bucket excluded).
    * Same bounded-bucket global window as [[rateAnomaly]]. */
  def rollingMedian(events: DataFrame, tsCol: String, window: Int = 24): DataFrame = {
    require(window >= 2, s"baseline window must be >= 2 buckets, got $window")
    val counts = events.filter(col(tsCol).isNotNull)
      .groupBy(date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy("bucket").rowsBetween(-window, -1)
    counts
      .withColumn("_med", percentile(col("n_events").cast("double"), lit(0.5)).over(w))
      .withColumn("_n", count(lit(1)).over(w))
      .filter(col("_n") === window)
      .select(col("bucket"), col("n_events"), col("_med").as("med"))
  }

  /** Adoption curve: per day, how many users appear for the FIRST time
    * (`new_users`) and the running total (`cum_users`). First-seen day per
    * user is one groupBy (partial-aggregated min); the cumulative sum's
    * ordered window is global but runs over the per-day table (365
    * rows/year) — the bounded-bucket argument again, never over events. */
  def adoptionCurve(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firsts = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_user"),
        datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date"))
          .cast("long").as("_day"))
      .groupBy("_user").agg(min("_day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    firsts.withColumn("cum_users",
      sum("new_users").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Coalesce overlapping (closed) intervals per key: intervals merge when
    * `start <= max(end of any earlier interval in the island)` — touching
    * endpoints merge. Returns one row per merged island: the key columns,
    * `island` (1-based per key, in start order), `interval_start`,
    * `interval_end`, `n_rows` merged into it.
    *
    * Start/end may be any mutually comparable orderable type (longs,
    * timestamps); rows with a null start or end are dropped (an unbounded
    * interval has no well-defined island).
    */
  def mergeIntervals(df: DataFrame, keyCols: Seq[String], startCol: String,
      endCol: String): DataFrame = {
    require(keyCols.nonEmpty, "mergeIntervals needs at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(startCol), col(endCol))
    val prevMaxEnd = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull)
      .withColumn("_new_island",
        when(prevMaxEnd.isNull || col(startCol) > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("_new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(keyCols.map(col) :+ col("island"): _*)
      .agg(min(col(startCol)).as("interval_start"),
        max(col(endCol)).as("interval_end"),
        count(lit(1)).as("n_rows"))
  }

  /** Lag-`lag` autocorrelation of hourly event counts per key — the cheap
    * seasonality/burst-persistence detector (autocorr ≈ 1: smooth load;
    * ≈ 0: memoryless; < 0: alternating). Pearson over (n_t, n_{t−lag})
    * pairs of OBSERVED hours in key order (sparse hours pair with the
    * previous observed hour, not the calendar hour — densify first if
    * that distinction matters). Output: `(key, n_pairs, autocorr)` —
    * `autocorr` NULL when either series is constant (undefined), keys
    * with fewer than `k + 1` observed hours absent (no pairs).
    * One hourly groupBy + one keyed lag window + one co-moment aggregate
    * (corr spelled out as covar/σσ behind a zero-variance guard — ANSI
    * mode turns the bare `corr` into a divide-by-zero on constants) —
    * every shuffle keyed, group sizes hour-bounded. */
  def lagAutocorrelation(events: DataFrame, keyCol: String, tsCol: String,
      k: Int = 1): DataFrame = {
    require(k >= 1, s"lag must be >= 1: $k")
    val hourly = events
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__h"))
    hourly
      .withColumn("__pn", lag(col("__n"), k).over(w))
      .filter(col("__pn").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_pairs"),
        covar_samp(col("__n"), col("__pn")).as("__cov"),
        stddev_samp(col("__n")).as("__sa"),
        stddev_samp(col("__pn")).as("__sb"))
      .select(col(keyCol), col("n_pairs"),
        when(col("__sa") > 0.0 && col("__sb") > 0.0,
          col("__cov") / (col("__sa") * col("__sb"))).as("autocorr"))
  }

  /** Exponential-decay activity score per user: `Σ 2^(−age/halfLife)` with
    * `age = refTsUs − event time` — the recency-weighted engagement
    * feature (a feature-store staple). `refTsUs` is an explicit epoch-µs
    * reference, never wall-clock, so scores are reproducible. Pure
    * projection + one partial-aggregated groupBy on the user. */
  def decayActivity(events: DataFrame, userCol: String, tsCol: String,
      refTsUs: Long, halfLifeHours: Double): DataFrame = {
    require(halfLifeHours > 0, s"halfLifeHours must be positive: $halfLifeHours")
    val ageHours = (lit(refTsUs) - unix_micros(col(tsCol))).cast("double") / 3600000000.0
    events.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        sum(pow(lit(2.0), -ageHours / halfLifeHours)).as("decay_score"))
  }

  /** Multi-touch attribution: distribute each conversion's value across
    * the user's touch events inside the preceding `windowMinutes` —
    * `linear` splits equally, `first`/`last` give full credit to the
    * earliest/latest touch (the three standard position-based models; the
    * as-of join family covers last-touch WITHOUT a window bound).
    * Conversions with no in-window touch earn no row (unattributable).
    *
    * Output: one row per credited touch —
    * `(touch_event, user (as named), n_convs, credit)` where `credit`
    * sums `value/n` (linear) or full `value` (first/last) over the
    * conversions the touch participates in.
    *
    * Scale: candidate pairs come from [[Temporal.rangeJoin]]'s
    * bucketized equi-join (keys = user × window-sized time bucket — one
    * shuffle, never an inequality nested loop); the per-conversion window
    * partitions on the conversion id, whose group size is bounded by
    * touches-per-user-per-window. Final aggregation is a partial-agg
    * groupBy on the touch id. */
  def multiTouchAttribution(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      typeCol: String, valueCol: String,
      touchType: String, convType: String,
      windowMinutes: Int, model: String = "linear"): DataFrame = {
    require(windowMinutes > 0, s"windowMinutes must be positive: $windowMinutes")
    require(Set("linear", "first", "last")(model),
      s"model must be linear|first|last: $model")
    val wUs = windowMinutes * 60000000L
    val touches = events.filter(col(typeCol) === touchType)
      .select(col(userCol), unix_micros(col(tsCol)).as("__t_us"),
        col(idCol).as("touch_event"))
    val convs = events.filter(col(typeCol) === convType)
      // NULL-value conversions carry no attributable value: excluded up
      // front so n_convs and credit stay consistent under every model
      .filter(col(valueCol).isNotNull)
      .select(col(userCol), unix_micros(col(tsCol)).as("__c_us"),
        col(idCol).as("conv_event"), col(valueCol).as("__value"))
      // [c−W, c): end at c−1 µs — a touch simultaneous with the
      // conversion is not a cause
      .withColumn("__start", col("__c_us") - wUs)
      .withColumn("__end", col("__c_us") - 1L)
    val pairs = Temporal.rangeJoin(touches, convs, "__t_us", "__start", "__end",
      bucketWidth = wUs.toDouble, keyCols = Seq(userCol))
    val byConv = Window.partitionBy(col("conv_event"))
    val ordered = Window.partitionBy(col("conv_event"))
      .orderBy(col("__t_us").asc, col("touch_event").asc)
    val share = model match {
      case "linear" => col("__value") / count(lit(1)).over(byConv)
      case "first" =>
        when(row_number().over(ordered) === 1, col("__value"))
      case "last" =>
        when(row_number().over(Window.partitionBy(col("conv_event"))
          .orderBy(col("__t_us").desc, col("touch_event").desc)) === 1, col("__value"))
    }
    pairs
      .withColumn("__credit", share)
      .filter(col("__credit").isNotNull)
      .groupBy(col("touch_event"), col(userCol))
      .agg(count(lit(1)).as("n_convs"), sum(col("__credit")).as("credit"))
  }

  /** Kaplan–Meier survival estimate of user LIFETIME (days between a
    * user's first and last event), with right-censoring: a user whose
    * last event falls within `censorDays` of the corpus's latest
    * timestamp may still be active — their lifetime is a LOWER bound and
    * they leave the at-risk set without counting as churned. The naive
    * "mean lifetime" systematically understates retention precisely
    * because of those users; KM is the standard correction. Output: one
    * row per distinct lifetime at which a churn event occurs —
    * `(lifetime_days, n_risk, n_churned, n_censored, survival)` where
    * `survival` = Π_{t ≤ lifetime} (1 − d_t / n_t), the estimated share
    * of users surviving PAST that lifetime.
    *
    * Scale shape: per-user first/last (one keyed aggregation), collapsed
    * to one row per DISTINCT lifetime (day-granular — a bounded spine in
    * practice), then TWO chained deterministic-bucket cumsums: the
    * exclusive count of earlier exits gives n_risk = N − before, and the
    * running Σ ln(1 − d/n) gives the product as exp of a prefix sum
    * (identical evaluation on any engine — no float product-order
    * ambiguity). No global window; nothing after the first aggregation
    * is user-sized. */
  def kmSurvival(events: DataFrame, userCol: String, tsCol: String,
      censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0: $censorDays")
    val perUser = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("__first"),
        max(to_date(col(tsCol))).as("__last"))
    val horizon = perUser.agg(max(col("__last")).as("__hmax"))
    val durations = perUser.crossJoin(broadcast(horizon))
      .select(datediff(col("__last"), col("__first")).cast("long")
          .as("duration"),
        (datediff(col("__hmax"), col("__last")) < censorDays).as("censored"))
    kmCurve(durations, "duration", "censored")
      .withColumnRenamed("duration", "lifetime_days")
  }

  /** Generic Kaplan–Meier estimator over a DURATIONS frame — one row per
    * subject with an integer `durationCol` (days, hours, any unit) and a
    * boolean `censoredCol` (true = the event was NOT observed; the
    * duration is a lower bound). [[kmSurvival]] is the events-table
    * convenience over this; any time-to-event question (time to first
    * purchase, time to churn, label latency) reduces to building the
    * durations frame and calling this. Output and scale shape as
    * documented on [[kmSurvival]]. */
  /** Two-group log-rank test — DO the survival curves differ ([[kmCurve]]
    * draws them; log-rank is the significance test every KM plot quotes):
    * at each event time, compare group A's observed events to the
    * expectation under "same hazard" given the at-risk counts, and pool
    * over time (Mantel–Cox). One row: `(group_a, group_b, n_a, n_b,
    * events_a, events_b, expected_a, var_a, chi2)` — χ² = (O−E)²/V ~
    * χ²(1) under H₀ (> 3.84 rejects at 5%). NULL χ² when V = 0 (no
    * comparable event times). Exactly two groups required; censoring as
    * in [[kmCurve]].
    *
    * Scale: the [[kmCurve]] shape with two at-risk prefixes — per-
    * distinct-duration counts, ONE multi-column deterministic-bucket
    * cumsum, one scalar reduce over event times. */
  def logRankTest(durations: DataFrame, durationCol: String,
      censoredCol: String, groupCol: String): DataFrame = {
    val base = durations
      .filter(col(durationCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(durationCol).cast("long").as("life"),
        coalesce(col(censoredCol), lit(false)).as("__cens"))
    // ONE pass over the subject table into a calendar×2-bounded cell
    // table ([[rmst]]'s chain discipline): the group collect and the
    // per-duration pivot both derive from the checkpointed cells instead
    // of re-scanning subjects, and the shared range splits feed the cumsum
    val cells = ScaleOps.cut(base.groupBy(col("life"), col("g"))
      .agg(sum(when(!col("__cens"), 1L).otherwise(0L)).as("__d"),
        count(lit(1)).as("__all")))
    val (ga, gb, byLife) = ScaleOps.releasing(cells) {
      val groups = cells.select(col("g")).distinct().orderBy(col("g"))
        .collect().map(_.getString(0))
      require(groups.length == 2,
        s"log-rank needs exactly 2 groups, got ${groups.toSeq}")
      val (ga, gb) = (groups(0), groups(1))
      (ga, gb, ScaleOps.cut(cells.groupBy(col("life")).agg(
        sum(when(col("g") === ga, col("__d")).otherwise(0L)).as("da"),
        sum(when(col("g") === gb, col("__d")).otherwise(0L)).as("db"),
        sum(when(col("g") === ga, col("__all")).otherwise(0L)).as("alla"),
        sum(when(col("g") === gb, col("__all")).otherwise(0L)).as("allb"))))
    }
    val (nA, nB, row) = ScaleOps.releasing(byLife) {
      val lifeSplits = Some(ScaleOps.rangeSplits(byLife, col("life")))
      val (cum, grand) = ScaleOps.withExclusiveRunningSums(
        byLife, col("life"), Seq("alla", "allb"), Seq("_ba", "_bb"),
        splitsHint = lifeSplits, persistInput = false)
      val (nA, nB) = (grand(0), grand(1))
      val nra = lit(nA) - col("_ba")
      val nrb = lit(nB) - col("_bb")
      val nr = nra + nrb
      val d = (col("da") + col("db")).cast("double")
      // hypergeometric mean/variance of group-A events at each event
      // time; the chained left-assoc form is mirrored verbatim in the
      // oracle
      val ea = d * nra / nr
      val va = d * nra / nr * nrb / nr * (nr - col("da") - col("db")) / (nr - 1)
      (nA, nB, cum
        .filter(col("da") + col("db") > 0)
        .agg(sum(col("da")).cast("long").as("oa"),
          sum(col("db")).cast("long").as("ob"),
          sum(ea).as("ea"),
          sum(when(nr > 1, va).otherwise(lit(0.0))).as("va"))
        .head())
    }
    val spark = durations.sparkSession
    import spark.implicits._
    // no event at all: zero observed counts, NULL moments
    val events = !row.isNullAt(0)
    val (oa, ob) = if (events) (row.getLong(0), row.getLong(1)) else (0L, 0L)
    val ev = Option.when(events)((row.getDouble(2), row.getDouble(3)))
    val chi2 = ev.collect { case (eaV, vaV) if vaV > 0 =>
      (oa - eaV) * (oa - eaV) / vaV }
    Seq((ga, gb, nA, nB, oa, ob, ev.map(_._1), ev.map(_._2), chi2))
      .toDF("group_a", "group_b", "n_a", "n_b", "events_a", "events_b",
        "expected_a", "var_a", "chi2")
  }

  /** The at-risk spine shared by [[kmCurve]], [[kmCurveCI]] and
    * [[naCurve]]: `byLife` — per distinct lifetime, churned `d`, censored
    * `cns` and all exits `all` — and cumsum 1 over it, `cum1`, which adds
    * `__exitsBefore` (exits strictly BEFORE each lifetime). The curve's
    * `terms(cum1, n)` (n = the subject count) is cut and returned with
    * the range splits over `life`; `byLife` is released once it exists.
    *
    * The [[rmst]] chain discipline: the per-distinct-duration spine is
    * calendar-bounded, so it (and each curve's cumsum-1 output)
    * checkpoints — without the cuts, each chained cumsum's splits/totals
    * pass replayed the whole subject-table aggregation again (measured at
    * sf0.1: the byLife aggregation ran ~5× per curve), and the range
    * splits over `life` compute once and feed both cumsums (same order
    * column, same spine rows). */
  private def atRiskSpine(durations: DataFrame, durationCol: String,
      censoredCol: String)(terms: (DataFrame, Long) => DataFrame)
      : (DataFrame, Option[Array[Double]]) = {
    val byLife = ScaleOps.cut(durations
      .filter(col(durationCol).isNotNull)
      .select(col(durationCol).cast("long").as("life"),
        coalesce(col(censoredCol), lit(false)).as("__cens"))
      .groupBy(col("life"))
      .agg(sum(when(col("__cens"), 0L).otherwise(1L)).as("d"),
        sum(when(col("__cens"), 1L).otherwise(0L)).as("cns"),
        count(lit(1)).as("all")))
    ScaleOps.releasing(byLife) {
      val lifeSplits = Some(ScaleOps.rangeSplits(byLife, col("life")))
      val (cum1, grand) = ScaleOps.withExclusiveRunningSums(
        byLife, col("life"), Seq("all"), Seq("__exitsBefore"),
        splitsHint = lifeSplits, persistInput = false)
      (ScaleOps.cut(terms(cum1, grand.head)), lifeSplits)
    }
  }

  def kmCurve(durations: DataFrame, durationCol: String,
      censoredCol: String): DataFrame = {
    // ln(1 − d/n_risk): d = n_risk only at the terminal lifetime where
    // everyone remaining churns — survival is exactly 0 there, flagged and
    // excluded from the log (ln(0) is undefined under ANSI)
    val (withTerm, lifeSplits) =
      atRiskSpine(durations, durationCol, censoredCol) { (cum1, n) =>
        cum1
          .withColumn("__nRisk", lit(n) - col("__exitsBefore"))
          .withColumn("__dead", col("d") === col("__nRisk"))
          .withColumn("__lnTerm",
            when(col("d") > 0 && !col("__dead"),
              log(lit(1.0) - col("d").cast("double") / col("__nRisk")))
              .otherwise(lit(0.0)))
          .withColumn("__lnQ",
            // fixed-point (12 dp) so the long-typed cumsum machinery
            // carries it exactly; 1e-12 granularity is far below the 6-dp
            // report
            round(col("__lnTerm") * 1e12, 0).cast("long"))
      }
    // cumsum 2: running Σ ln-terms (inclusive = exclusive + own)
    val cum2 = ScaleOps.withExclusiveRunningSum(
      withTerm, col("life"), "__lnQ", "__lnBefore",
      splitsHint = lifeSplits, persistInput = false)
    cum2
      .withColumn("__lnCum",
        (col("__lnBefore") + col("__lnQ")).cast("double") / 1e12)
      .filter(col("d") > 0) // KM steps at churn times only
      .select(col("life").as("duration"),
        col("__nRisk").cast("long").as("n_risk"),
        col("d").cast("long").as("n_churned"),
        col("cns").cast("long").as("n_censored"),
        when(col("__dead"), lit(0.0)).otherwise(exp(col("__lnCum")))
          .as("survival"))
  }

  /** Kaplan–Meier curve WITH Greenwood confidence bands — the KM plot
    * nobody should ship bare ([[kmCurve]] draws the point estimate; the
    * tail of every survival curve rests on a handful of at-risk
    * subjects, and the band is what says so): per event time the
    * Greenwood variance V̂ = Ŝ²·Σ_{tᵢ≤t} dᵢ/(nᵢ(nᵢ−dᵢ)) and the
    * log(−log) ("exponential Greenwood") interval
    * Ŝ^exp(±z·√G/ln Ŝ) — the transform keeps the band inside [0, 1]
    * and is the standard-software default. One row per event time:
    * `(duration, n_risk, n_events, survival, se, ci_lo, ci_hi)`;
    * the terminal Ŝ = 0 row reports a degenerate [0, 0] band.
    *
    * Scale and determinism: the [[kmCurve]] plan exactly — the
    * Greenwood term rides the SAME second fixed-point (12 dp) cumsum
    * pass as the ln-survival prefix (one more long column, no extra
    * shuffle), so both engines exponentiate identical doubles. */
  def kmCurveCI(durations: DataFrame, durationCol: String,
      censoredCol: String, z: Double = 1.959964): DataFrame = {
    require(z > 0, s"z must be > 0: $z")
    val (withTerm, lifeSplits) =
      atRiskSpine(durations, durationCol, censoredCol) { (cum1, n) =>
        val nRisk = lit(n) - col("__exitsBefore")
        val dD = col("d").cast("double")
        val nrD = nRisk.cast("double")
        cum1
          .withColumn("__nRisk", nRisk)
          .withColumn("__dead", col("d") === col("__nRisk"))
          .withColumn("__lnQ",
            when(col("d") > 0 && !col("__dead"),
              round(log(lit(1.0) - dD / nrD) * 1e12, 0).cast("long"))
              .otherwise(lit(0L)))
          // Greenwood increment d/(n(n−d)), quantized to ride the same
          // pass
          .withColumn("__gQ",
            when(col("d") > 0 && !col("__dead"),
              round(dD / (nrD * (nrD - dD)) * 1e12, 0).cast("long"))
              .otherwise(lit(0L)))
      }
    val cum2 = ScaleOps.withExclusiveRunningSums(
      withTerm, col("life"), Seq("__lnQ", "__gQ"),
      Seq("__lnBefore", "__gBefore"), splitsHint = lifeSplits,
      persistInput = false)._1
    val s = when(col("__dead"), lit(0.0)).otherwise(
      exp((col("__lnBefore") + col("__lnQ")).cast("double") / 1e12))
    val g = (col("__gBefore") + col("__gQ")).cast("double") / 1e12
    val theta = lit(z) * sqrt(g) / log(s) // ln Ŝ < 0 on live rows
    cum2
      .filter(col("d") > 0)
      .select(col("life").as("duration"),
        col("__nRisk").cast("long").as("n_risk"),
        col("d").cast("long").as("n_events"),
        s.as("survival"),
        when(col("__dead"), lit(0.0)).otherwise(s * sqrt(g)).as("se"),
        when(col("__dead"), lit(0.0))
          .otherwise(pow(s, exp(-theta))).as("ci_lo"),
        when(col("__dead"), lit(0.0))
          .otherwise(pow(s, exp(theta))).as("ci_hi"))
  }

  /** Nelson–Aalen cumulative-hazard curve — [[kmCurve]]'s additive
    * companion: Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with variance Σ dᵢ/nᵢ² — the
    * hazard VIEW of the same censored durations ("how much churn
    * pressure has accumulated by hour t"), numerically gentler than KM
    * near small risk sets (no log of a near-zero survival) and the
    * quantity hazard-ratio models are fit against. Output one row per
    * event time: `(duration, n_risk, n_churned, n_censored, cum_hazard,
    * var_hazard, survival_na)` with `survival_na = exp(−Ĥ)` (the
    * Fleming–Harrington survival estimate).
    *
    * Scale: the [[kmCurve]] plan exactly — one lifetime aggregation,
    * the shared deterministic-bucket cumsum for at-risk counts, then
    * the hazard and its variance ride ONE two-column fixed-point (12 dp)
    * cumsum pass; no global window, no sort. */
  def naCurve(durations: DataFrame, durationCol: String,
      censoredCol: String): DataFrame = {
    val (withTerms, lifeSplits) =
      atRiskSpine(durations, durationCol, censoredCol) { (cum1, n) =>
        cum1
          .withColumn("__nRisk", lit(n) - col("__exitsBefore"))
          .withColumn("__hQ", round(col("d").cast("double") / col("__nRisk")
            * 1e12, 0).cast("long"))
          .withColumn("__vQ", round(col("d").cast("double")
            / (col("__nRisk").cast("double") * col("__nRisk")) * 1e12, 0)
            .cast("long"))
      }
    val cum2 = ScaleOps.withExclusiveRunningSums(
      withTerms, col("life"), Seq("__hQ", "__vQ"),
      Seq("__hBefore", "__vBefore"), splitsHint = lifeSplits,
      persistInput = false)._1
    cum2
      .withColumn("__h", (col("__hBefore") + col("__hQ")).cast("double") / 1e12)
      .withColumn("__v", (col("__vBefore") + col("__vQ")).cast("double") / 1e12)
      .filter(col("d") > 0)
      .select(col("life").as("duration"),
        col("__nRisk").cast("long").as("n_risk"),
        col("d").cast("long").as("n_churned"),
        col("cns").cast("long").as("n_censored"),
        col("__h").as("cum_hazard"),
        col("__v").as("var_hazard"),
        exp(-col("__h")).as("survival_na"))
  }

  /** Restricted mean survival time — the AREA under the Kaplan–Meier
    * curve up to a horizon τ: "expected event-free time within the first
    * τ hours", the model-free effect measure recommended when
    * proportional hazards is doubtful (Cox's β is then a weighted
    * average of nothing in particular; RMST differences stay
    * interpretable). One row per group: `(grp, tau, n, events, rmst,
    * rmst_se)` with `events` counted at event times ≤ τ and the SE from
    * the Klein/Greenwood form Var = Σ_{tᵢ≤τ} Aᵢ²·dᵢ/(nᵢ(nᵢ−dᵢ)), where
    * Aᵢ = ∫_{tᵢ}^τ Ŝ. A group with no events before τ reports rmst = τ,
    * se = 0 (the curve never leaves 1).
    *
    * No lead/lag anywhere: integration by parts turns the step-curve
    * area into RMST = τ·Ŝ(τ) + Σ_{tᵢ≤τ} tᵢ·ΔŜᵢ where the drop
    * ΔŜᵢ = Ŝ(tᵢ⁻) − Ŝ(tᵢ) falls out of the EXCLUSIVE ln-survival prefix
    * the [[kmCurve]] machinery already carries, and the variance's
    * Aᵢ = RMST − area(0→tᵢ) expands Σ wᵢAᵢ² into
    * RMST²·Σw − 2·RMST·Σ(area·w) + Σ(area²·w) — three more per-row
    * quantities riding the same pass, so ONE final aggregation yields
    * everything and the driver only combines scalars.
    *
    * Determinism contract: the ln-survival and tᵢ·ΔŜᵢ prefixes ride the
    * fixed-point (12 dp) long cumsum exactly as [[kmCurve]]; every
    * τ-window sum (Σtᵢ·ΔŜᵢ, Σw, Σ area·w, Σ area²·w) quantizes
    * per row to a long BEFORE summing, so partial-aggregation order
    * cannot move a bit and a DuckDB oracle replays the whole estimator
    * verbatim (area²·w quantizes at 9 dp — its magnitude is τ²·w, the
    * headroom trade documented at the call site).
    *
    * Scale: groups pivot into columns (≤ 16; collect of distinct group
    * labels only), then the [[kmCurve]] shape — per-distinct-duration
    * counts, THREE sequential multi-column deterministic-bucket cumsums
    * (at-risk, ln-survival, area), one single-row final aggregate. No
    * unkeyed window, no data-sized driver state. */
  def rmst(durations: DataFrame, durationCol: String, censoredCol: String,
      groupCol: String, tau: Long): DataFrame = {
    require(tau > 0, s"tau must be > 0: $tau")
    // Long-headroom fail-stop for the fixed quantization scales: the
    // variance terms quantize area²·w at 9 dp (area ≤ τ, w < 1), so a
    // single term can reach τ²·1e9 and the non-ANSI double→long cast
    // SATURATES silently past Long.MaxValue. τ ≤ 30000 keeps any term
    // ≤ 9e17 — 10× headroom for the per-group sum (Σw, the Greenwood
    // mass, is ≲ 1 in practice) — and the 12-dp linear terms (area·w,
    // t·ΔS) under 3e16 with ~300× headroom. Longer horizons must use a
    // coarser time unit (hours → days), not a bigger τ.
    require(tau <= 30000L,
      s"rmst: tau = $tau exceeds the 9-dp quantization headroom " +
        "(tau^2 * 1e9 must stay well under Long range or variance terms " +
        "saturate silently) — re-bucket durations to a coarser time unit")
    val base = durations
      .filter(col(durationCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(durationCol).cast("long").as("life"),
        coalesce(col(censoredCol), lit(false)).as("__cens"))
    // ONE pass over the subject table: the (life, group) cell table is
    // CALENDAR×16-bounded, so checkpointing it — and each chain link
    // below — is 100 TB-safe; groups and the pivoted spine both derive
    // from the cells (previously the group collect and the pivot each
    // re-scanned the subject table). Without the cuts, each of the three
    // chained cumsums re-derived the whole deepening lineage for its
    // totals pass and every AQE stage of the replay ran as its own job
    // (measured 61 sequential jobs at sf0.1). The range splits over
    // `life` compute once and feed all three cumsums (same order column,
    // same spine rows). Each link releases its predecessor once it is cut.
    val cells = ScaleOps.cut(base.groupBy(col("life"), col("g"))
      .agg(count(lit(1)).as("__c"),
        sum(when(!col("__cens"), 1L).otherwise(0L)).as("__dc")))
    val (groups, byLife) = ScaleOps.releasing(cells) {
      val groups = cells.select(col("g")).distinct().orderBy(col("g"))
        .collect().map(_.getString(0))
      require(groups.nonEmpty && groups.length <= 16,
        s"rmst needs 1..16 groups, got ${groups.length}")
      val pivots = groups.indices.flatMap(i => Seq(
        sum(when(col("g") === groups(i), col("__dc")).otherwise(0L))
          .as(s"__d$i"),
        sum(when(col("g") === groups(i), col("__c")).otherwise(0L))
          .as(s"__all$i")))
      (groups, ScaleOps.cut(cells.groupBy(col("life"))
        .agg(pivots.head, pivots.tail: _*)))
    }
    val gi = groups.indices
    val (lifeSplits, grand, withLn) = ScaleOps.releasing(byLife) {
      val lifeSplits = Some(ScaleOps.rangeSplits(byLife, col("life")))
      // cumsum 1: per-group exits strictly before each lifetime → n_risk
      val (cum1, grand) = ScaleOps.withExclusiveRunningSums(
        byLife, col("life"), gi.map(i => s"__all$i"), gi.map(i => s"__b$i"),
        splitsHint = lifeSplits, persistInput = false)
      (lifeSplits, grand, ScaleOps.cut(gi.foldLeft(cum1) { (df, i) =>
        val nRisk = lit(grand(i)) - col(s"__b$i")
        val d = col(s"__d$i").cast("double")
        df.withColumn(s"__nr$i", nRisk)
          .withColumn(s"__dead$i",
            col(s"__d$i") > 0 && col(s"__d$i") === nRisk)
          .withColumn(s"__lnQ$i",
            when(col(s"__d$i") > 0 && !col(s"__dead$i"),
              round(log(lit(1.0) - d / nRisk.cast("double")) * 1e12, 0)
                .cast("long")).otherwise(lit(0L)))
      }))
    }
    val withDrop = ScaleOps.releasing(withLn) {
      // cumsum 2: per-group running Σ ln(1 − d/n_risk) (exclusive = Ŝ(t⁻))
      val cum2 = ScaleOps.withExclusiveRunningSums(
        withLn, col("life"), gi.map(i => s"__lnQ$i"), gi.map(i => s"__lb$i"),
        splitsHint = lifeSplits, persistInput = false)._1
      ScaleOps.cut(gi.foldLeft(cum2) { (df, i) =>
        val sBef = exp(col(s"__lb$i").cast("double") / 1e12)
        val s = when(col(s"__dead$i"), lit(0.0)).otherwise(
          exp((col(s"__lb$i") + col(s"__lnQ$i")).cast("double") / 1e12))
        df.withColumn(s"__s$i", s)
          // tᵢ·ΔŜᵢ, quantized so its running AND final sums are exact
          // longs
          .withColumn(s"__aQ$i",
            when(col(s"__d$i") > 0,
              round(col("life").cast("double") * (sBef - s) * 1e12, 0)
                .cast("long")).otherwise(lit(0L)))
      })
    }
    val row = ScaleOps.releasing(withDrop) {
      // cumsum 3: per-group running Σ tⱼ·ΔŜⱼ → area(0→tᵢ) by parts
      val cum3 = ScaleOps.withExclusiveRunningSums(
        withDrop, col("life"), gi.map(i => s"__aQ$i"), gi.map(i => s"__ab$i"),
        splitsHint = lifeSplits, persistInput = false)._1
      val withVarTerms = gi.foldLeft(cum3) { (df, i) =>
        val area = col("life").cast("double") * col(s"__s$i") +
          (col(s"__ab$i") + col(s"__aQ$i")).cast("double") / 1e12
        val nr = col(s"__nr$i").cast("double")
        val d = col(s"__d$i").cast("double")
        val w = when(col(s"__d$i") > 0 && !col(s"__dead$i"),
          d / (nr * (nr - d))).otherwise(lit(0.0))
        df.withColumn(s"__wQ$i", round(w * 1e12, 0).cast("long"))
          .withColumn(s"__awQ$i", round(area * w * 1e12, 0).cast("long"))
          // area² ≤ τ², so 9 dp keeps Σ under Long range with 1e9
          // headroom
          .withColumn(s"__a2wQ$i",
            round(area * area * w * 1e9, 0).cast("long"))
      }
      val aggs = gi.flatMap(i => Seq(
        sum(col(s"__aQ$i")).as(s"saq$i"),
        sum(col(s"__wQ$i")).as(s"sw$i"),
        sum(col(s"__awQ$i")).as(s"saw$i"),
        sum(col(s"__a2wQ$i")).as(s"sa2w$i"),
        min(when(col(s"__d$i") > 0, col(s"__s$i"))).as(s"stau$i"),
        sum(col(s"__d$i")).as(s"ev$i")))
      withVarTerms.filter(col("life") <= tau)
        .agg(aggs.head, aggs.tail: _*).head()
    }
    val spark = durations.sparkSession
    import spark.implicits._
    gi.map { i =>
      val b = i * 6
      def lng(o: Int) = if (row.isNullAt(b + o)) 0L else row.getLong(b + o)
      val sTau = if (row.isNullAt(b + 4)) 1.0 else row.getDouble(b + 4)
      val rm = tau.toDouble * sTau + lng(0) / 1e12
      val vr = rm * rm * (lng(1) / 1e12) - 2.0 * rm * (lng(2) / 1e12) +
        lng(3) / 1e9
      (groups(i), tau, grand(i), lng(5), rm,
        math.sqrt(math.max(vr, 0.0)))
    }.toDF("grp", "tau", "n", "events", "rmst", "rmst_se")
  }

  /** Aalen–Johansen cumulative incidence under COMPETING RISKS — what
    * fraction of subjects experience event type k by horizon τ when
    * other event types remove them from risk first ([[kmCurve]] treats
    * every exit as one event; 1−KM per-type OVERSTATES incidence when
    * risks compete — the classical misuse this estimator exists to
    * fix): CIF_k(τ) = Σ_{t ≤ τ} Ŝ(t⁻)·d_k(t)/n_risk(t), with Ŝ the
    * ALL-cause Kaplan–Meier. One row per event type:
    * `(event_type, tau, n, events, cif)`; Σ_k CIF_k ≤ 1 − Ŝ(τ) by
    * construction. NULL `eventCol` = censored.
    *
    * Determinism contract (the [[rmst]] recipe): per-distinct-duration
    * counts; ln(1 − d/n) quantizes to a 1e12 long before the exclusive
    * running sum (so Ŝ(t⁻) replays exactly); each per-type increment
    * Ŝ(t⁻)·d_k/n quantizes to a 1e12 long before its final sum —
    * order-free on both engines.
    *
    * Scale: event types pivot into columns (≤ 8; the distinct-type
    * collect is type-bounded), then per-distinct-duration counts, TWO
    * deterministic-bucket cumsums (at-risk, ln-survival) and ONE final
    * τ-filtered aggregate. No unkeyed window, no data-sized driver
    * state. */
  def cumulativeIncidence(durations: DataFrame, durationCol: String,
      eventCol: String, tau: Long): DataFrame = {
    require(tau > 0, s"tau must be > 0: $tau")
    val base = durations
      .filter(col(durationCol).isNotNull)
      .select(col(durationCol).cast("long").as("life"),
        col(eventCol).cast("string").as("__k"))
    // ONE pass over the subject table + checkpointed calendar-bounded
    // spine + shared splits — the [[rmst]] chain discipline: types and
    // the pivoted spine both derive from the (life, type) cell table,
    // and without the lineage cuts each chained cumsum replayed the
    // whole deepening plan for its totals pass (measured 49 sequential
    // jobs at sf0.1)
    val cells = ScaleOps.cut(base.groupBy(col("life"), col("__k"))
      .agg(count(lit(1)).as("__c")))
    val (types, byLife) = ScaleOps.releasing(cells) {
      val types = cells.filter(col("__k").isNotNull)
        .select(col("__k")).distinct().orderBy(col("__k"))
        .collect().map(_.getString(0))
      require(types.nonEmpty && types.length <= 8,
        s"cumulativeIncidence needs 1..8 event types, got ${types.length}")
      val pivots = (sum(when(col("__k").isNotNull, col("__c")).otherwise(0L))
          .as("__dall") +:
        sum(col("__c")).as("__all") +:
        types.indices.map(i => sum(when(col("__k") === types(i), col("__c"))
          .otherwise(0L)).as(s"__d$i")))
      (types, ScaleOps.cut(cells.groupBy(col("life"))
        .agg(pivots.head, pivots.tail: _*)))
    }
    val ti = types.indices
    val (lifeSplits, nTotal, withLn) = ScaleOps.releasing(byLife) {
      val lifeSplits = Some(ScaleOps.rangeSplits(byLife, col("life")))
      // cumsum 1: exits strictly before each lifetime → n_risk
      val (cum1, grand) = ScaleOps.withExclusiveRunningSums(
        byLife, col("life"), Seq("__all"), Seq("__b"),
        splitsHint = lifeSplits, persistInput = false)
      val nTotal = grand(0)
      val nRisk = lit(nTotal) - col("__b")
      val d = col("__dall").cast("double")
      (lifeSplits, nTotal, ScaleOps.cut(cum1.withColumn("__nr", nRisk)
        .withColumn("__dead",
          col("__dall") > 0 && col("__dall") === nRisk)
        .withColumn("__lnQ",
          when(col("__dall") > 0 && !col("__dead"),
            round(log(lit(1.0) - d / nRisk.cast("double")) * 1e12, 0)
              .cast("long")).otherwise(lit(0L)))))
    }
    val row = ScaleOps.releasing(withLn) {
      // cumsum 2: running Σ ln(1 − d/n_risk) exclusive = ln Ŝ(t⁻)
      val cum2 = ScaleOps.withExclusiveRunningSums(
        withLn, col("life"), Seq("__lnQ"), Seq("__lb"),
        splitsHint = lifeSplits, persistInput = false)._1
      val sBef = exp(col("__lb").cast("double") / 1e12)
      val withInc = ti.foldLeft(cum2) { (df, i) =>
        df.withColumn(s"__incQ$i",
          when(col("__nr") > 0 && col(s"__d$i") > 0,
            round(sBef * col(s"__d$i").cast("double") /
              col("__nr").cast("double") * 1e12, 0).cast("long"))
            .otherwise(lit(0L)))
      }
      val aggs = ti.flatMap(i => Seq(
        sum(col(s"__incQ$i")).as(s"cif$i"),
        sum(col(s"__d$i")).as(s"ev$i")))
      withInc.filter(col("life") <= tau)
        .agg(aggs.head, aggs.tail: _*).head()
    }
    val spark = durations.sparkSession
    import spark.implicits._
    ti.map { i =>
      def lng(o: Int) = if (row.isNullAt(o)) 0L else row.getLong(o)
      (types(i), tau, nTotal, lng(2 * i + 1), lng(2 * i) / 1e12)
    }.toDF("event_type", "tau", "n", "events", "cif")
  }

  /** Exponential (constant-hazard) survival regression — the PARAMETRIC
    * baseline of the survival shelf ([[coxPH]] estimates hazard ratios
    * against an arbitrary baseline hazard; the exponential model pins
    * the baseline to a constant rate, which buys an absolute rate
    * intercept, full-likelihood efficiency, and a far cheaper plan):
    * hazard λᵢ = exp(β₀ + βᵀxᵢ), right-censored likelihood
    * ℓ = Σ dᵢηᵢ − tᵢ·e^ηᵢ — the censored-exponential ≡ Poisson-with-
    * exposure identity, so the fit is the [[LinearModel.poissonGlm]]
    * Newton with the duration as exposure. One row per term
    * (`intercept` first): `(term, n, n_events, beta, se, z, p_value)` —
    * exp(β) is the hazard RATIO per covariate unit, exp(β₀) the
    * baseline events-per-time-unit rate; SE from the information at
    * the REPORTED β via the trailing no-step pass. NULL stats when
    * there are no events, no exposure, or the information is singular.
    *
    * Determinism contract: durations cast to long (exact), covariates
    * to DECIMAL(8,4); each per-row moment term t·e^η·xₖ·xₗ rounds to
    * 12 dp before its exact decimal sum (the t12 recipe — t·e^η stays
    * a double product, no decimal-precision blowup), Σd·xₖ is an exact
    * decimal sum, β re-rounds to 12 dp between iterations starting
    * from the constant-hazard MLE β₀ = round₁₂(ln(Σd/Σt)). With ONE
    * covariate the step/SE replay as closed-form 2×2 CTEs.
    *
    * Scale: per iteration ONE whole-table reduce to O(d²) decimal sums
    * — no risk sets, no per-duration table, no window: the cheap
    * survival regression a 100 TB first pass should reach for. */
  def exponentialAft(durations: DataFrame, durationCol: String,
      censoredCol: String, covariates: Seq[String],
      iterations: Int = 4): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 8,
      s"exponentialAft needs 1..8 covariates, got ${covariates.size}")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val d = covariates.size
    val dim = d + 1
    val terms = "intercept" +: covariates
    val spark = durations.sparkSession
    import spark.implicits._
    def table(n: Long, ne: Long, w: Seq[NewtonFit.Wald]) =
      terms.zip(w).map { case (t, (b, se, z, p)) => (t, n, ne, b, se, z, p) }
        .toDF("term", "n", "n_events", "beta", "se", "z", "p_value")
    NewtonFit.withBase(ScaleOps.persisted(survivalDesign(durations,
        durationCol, censoredCol, covariates))) { base =>
      val yAggs = count(lit(1)).as("__n") +: sum(col("__d")).as("__sd") +:
        sum(col("__t")).as("__st") +: min(col("__t")).as("__tmin") +:
        (1 to d).map(i =>
          sum(col("__d").cast("decimal(12,0)") * NewtonFit.xDec(i))
            .as(s"__sdx${i - 1}"))
      val yRow = base.agg(yAggs.head, yAggs.tail: _*).head()
      val n = yRow.getLong(0)
      if (n == 0) return table(0, 0, NewtonFit.nullRows(dim))
      val sd = yRow.getLong(1); val st = yRow.getLong(2)
      require(yRow.getLong(3) >= 0L,
        s"exponentialAft needs durations >= 0, got min ${yRow.getLong(3)}")
      if (sd == 0 || st == 0) return table(n, sd, NewtonFit.nullRows(dim))
      // n is on the driver: narrow every Newton pass to as many tasks as
      // the cached base warrants (see [[graft.ops.ParamFrame.compactForIteration]])
      val baseIt = graft.ops.ParamFrame.compactForIteration(base, n)
      val sdx = (0 until d).map(i => NewtonFit.dec(yRow, 4 + i))
      val pairIdx = NewtonFit.pairs(dim)
      val start = Array.fill(dim)(0.0)
      start(0) = NewtonFit.round12(math.log(sd.toDouble / st))
      val x = NewtonFit.xDbl _
      val fit = NewtonFit.run(start, iterations, trailing = true) { beta =>
        // β via a broadcast one-row parameter frame (not literals) so the
        // generated code is iteration-invariant — see [[graft.ops.ParamFrame]]
        val w = col("__t").cast("double") * exp(NewtonFit.eta(d, "__eb"))
        val aggs = pairIdx.map { case (i, j) =>
          sum(round(w * x(i) * x(j), 12).cast("decimal(28,12)"))
            .as(s"__s_${i}_$j")
        } :+ NewtonFit.countWhere(round(w, 12).cast("decimal(28,12)").isNull &&
            col("__t") > 0).as("__overflowed")
        val r = graft.ops.ParamFrame.attach(baseIt, beta.toSeq, "__eb")
          .agg(aggs.head, aggs.tail: _*).head()
        require(r.getLong(pairIdx.size) == 0L,
          s"exponentialAft: ${r.getLong(pairIdx.size)} rows t*exp(eta) " +
            "overflowed DECIMAL(28,12) — feature-scale the covariates")
        val info = NewtonFit.symmetric(dim)(NewtonFit.dec(r, _))
        (Array.tabulate(dim)(i =>
          if (i == 0) sd - info(0)(0) else sdx(i - 1) - info(0)(i)), info)
      }
      table(n, sd, NewtonFit.waldRows(fit.coefs, fit.se()))
    }
  }

  /** The parametric survival fits' rows: duration as long `__t`, event
    * indicator `__d` = 1 − censored, quantized covariates. */
  private def survivalDesign(durations: DataFrame, durationCol: String,
      censoredCol: String, covariates: Seq[String]): DataFrame =
    NewtonFit.design(durations, Seq(durationCol, censoredCol),
      Seq(col(durationCol).cast("long").as("__t"),
        (lit(1L) - col(censoredCol).cast("long")).as("__d")), covariates)

  /** Weibull accelerated-failure-time regression — the NON-constant-
    * hazard parametric survival model completing the shelf
    * ([[exponentialAft]] pins the hazard flat; Weibull lets it rise or
    * fall as a power of time, and its AFT reading says each covariate
    * unit STRETCHES survival time by e^β — the natural churn/failure
    * model when risk wears in or wears out): ln T = μ + βᵀx + σ·W with
    * W standard Gumbel(min); right-censored log-likelihood
    * ℓ = Σ d(−s + z) − e^z at z = (ln t − μ − βᵀx)/σ, s = ln σ.
    * Levenberg-damped Newton ascent in (μ, β, s) — steps solve
    * (I + λ·diag I)·δ = g and are accepted only when ℓ improves (raw
    * Newton on the observed information diverges under heavy
    * censoring; the damping collapses to pure Newton near the optimum)
    * — up to `iterations` accepted steps from the event-only moment
    * warm start (μ₀ = mean ln t over events, s₀ from their spread via
    * Gumbel's σ√6/π, slopes 0), stopping early at max|g| ≤ 1e-8·n_events. One row per term
    * (`intercept`, covariates, then `ln_scale`): `(term, n, n_events,
    * beta, se, z, p_value, grad)` — SE from the observed information at
    * the REPORTED θ via the trailing no-step pass, and `grad` the score
    * at that θ: the replayable Newton FIXED-POINT CONTRACT
    * (|grad|/n_events ≈ 0 — the q369 convention for dimensions an
    * external engine cannot re-solve). NULL stats when the information
    * goes singular or there are no events. Durations must be > 0 (the
    * log needs it) — zero/negative rows fail loudly.
    *
    * Determinism contract: durations cast to long, covariates to
    * DECIMAL(8,4); every per-row gradient/Hessian term rounds to 12 dp
    * before its exact decimal sum; θ re-rounds to 12 dp between
    * iterations. The d×d solve is in-place Gaussian elimination —
    * value-level oracle replay is NOT attempted; the oracle pins the
    * gradient contract and recomputed anchors instead.
    *
    * Scale: per accepted step ONE score/information reduce plus ONE
    * batched ℓ reduce covering the whole damping λ-ladder (the ladder is
    * resolved driver-side, so all trial candidates price in one pass)
    * — every pass a whole-table partial aggregation to O(d²) decimal
    * sums; no risk sets, no window. θ enters via a broadcast one-row
    * parameter frame, keeping the generated code iteration-invariant
    * (one codegen compile per shape, not per Newton pass). */
  def weibullAft(durations: DataFrame, durationCol: String,
      censoredCol: String, covariates: Seq[String],
      iterations: Int = 40): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 6,
      s"weibullAft needs 1..6 covariates, got ${covariates.size}")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val d = covariates.size
    val dim = d + 2 // mu, betas, s = ln sigma
    val terms = ("intercept" +: covariates) :+ "ln_scale"
    val spark = durations.sparkSession
    import spark.implicits._
    def table(n: Long, ne: Long, w: Seq[NewtonFit.Wald],
        grad: Option[Array[Double]]) =
      terms.zip(w).zipWithIndex.map { case ((t, (b, se, z, p)), i) =>
        (t, n, ne, b, se, z, p, grad.map(_(i))) }
        .toDF("term", "n", "n_events", "beta", "se", "z", "p_value", "grad")
    // materialize ONCE with the lineage CUT (the kCore / cumsum
    // convention) rather than persist: ~35 Newton passes each re-analyze
    // the frame's logical plan, and over the raw upstream tree (scan →
    // groupBy → crossJoin → …) that planning overhead dominated the
    // per-pass cost at bench scale; over a LogicalRDD leaf it is nil.
    NewtonFit.withBase(ScaleOps.cut(survivalDesign(durations, durationCol,
        censoredCol, covariates))) { base =>
      // positivity guard + event-moment warm start (exact sums of
      // 12-dp-quantized ln t over events)
      val lnT = log(col("__t").cast("double"))
      val w0 = base.agg(count(lit(1)).as("__n"), sum(col("__d")).as("__sd"),
          min(col("__t")).as("__tmin"),
          sum(when(col("__d") === 1, round(lnT, 12))
            .otherwise(0.0).cast("decimal(28,12)")).as("__sl"),
          sum(when(col("__d") === 1, round(lnT * lnT, 9))
            .otherwise(0.0).cast("decimal(28,9)")).as("__sll"))
        .head()
      val n = w0.getLong(0)
      if (n == 0) return table(0, 0, NewtonFit.nullRows(dim), None)
      require(w0.getLong(2) > 0L,
        s"weibullAft needs durations > 0, got min ${w0.getLong(2)}")
      val ne = w0.getLong(1)
      if (ne < 2) return table(n, ne, NewtonFit.nullRows(dim), None)
      // n is now on the driver: narrow every Newton pass to as many
      // tasks as the cached base actually warrants (guide §2 — derive
      // partitioning from input size, not the session constant)
      val baseIt = graft.ops.ParamFrame.compactForIteration(base, n)
      val sl = BigDecimal(w0.getDecimal(3)).toDouble
      val sll = BigDecimal(w0.getDecimal(4)).toDouble
      val mu0 = sl / ne
      val varLn = math.max((sll - sl * sl / ne) / (ne - 1.0), 1e-4)
      // Gumbel residual: sd(ln T) = sigma * pi / sqrt(6)
      val s0 = 0.5 * math.log(varLn * 6.0 / (math.Pi * math.Pi))
      var theta = Array.fill(dim)(0.0)
      theta(0) = NewtonFit.round12(mu0)
      theta(dim - 1) = NewtonFit.round12(s0)
      val pairIdx = NewtonFit.pairs(dim)
      val dD = col("__d").cast("double")
      val xD = NewtonFit.xDbl _
      def t12(c: Column, scale: Int = 12) =
        sum(round(c, scale).cast(s"decimal(28,$scale)"))
      // θ enters every pass through a BROADCAST one-row parameter frame,
      // not as embedded literals: literal θ changes the generated source
      // each Newton pass, so every pass paid a fresh whole-stage-codegen
      // compile (the dominant cost of this operator — q401 measured 22.3s
      // at sf0.1, ~210 jobs each recompiling). With AttributeReference
      // parameters the plan source is iteration-invariant: Janino's cache
      // compiles each of the two shapes (trial-ll batch, score pass) once.
      // The arithmetic is value-identical — exp/negate/divide run on the
      // same doubles whether they arrive as literal or column.
      def paramDf(vals: Seq[Double], pfx: String): DataFrame =
        graft.ops.ParamFrame.oneRow(spark, vals, pfx)
      def zColP(p: Int => Column): (Column, Column) = {
        val sig = exp(p(dim - 1))
        val eta = covariates.indices.foldLeft(p(0)) { (acc, i) =>
          acc + col(s"__x$i").cast("double") * p(i + 1)
        }
        ((lnT - eta) / sig, sig)
      }
      // score block (gradient, observed information, ℓ) at parameter
      // columns p — dim + dim(dim+1)/2 + 1 aggregate columns.
      // gradient: location block (e − d)/σ·xᵢ, scale −d + z(e − d);
      // observed information (−Hessian): location block e·xᵢxⱼ/σ²,
      // cross (z·e + e − d)·xᵢ/σ, scale z(e−d) + z²·e
      def scoreAggs(p: Int => Column, sfx: String): Seq[Column] = {
        val (z, sig) = zColP(p)
        val e = exp(z)
        val gAggs = (0 to d).map(i =>
          t12((e - dD) / sig * xD(i)).as(s"__g$i$sfx")) :+
          t12(-dD + z * (e - dD)).as(s"__g${d + 1}$sfx")
        val hAggs = pairIdx.map { case (i, j) =>
          val term: Column =
            if (i < dim - 1 && j < dim - 1)
              e * xD(i) * xD(j) / (sig * sig)
            else if (i < dim - 1)
              (z * e + e - dD) * xD(i) / sig
            else z * (e - dD) + z * z * e
          t12(term).as(s"__h_${i}_$j$sfx")
        }
        val llAgg = t12(dD * (-p(dim - 1) + z) - exp(z)).as(s"__ll$sfx")
        (gAggs ++ hAggs) :+ llAgg
      }
      val blockW = dim + pairIdx.size + 1
      def decodeBlock(r: org.apache.spark.sql.Row, off: Int)
          : (Array[Double], Array[Array[Double]], Double) = {
        def dec(o: Int): Double = NewtonFit.dec(r, off + o)
        val grad = Array.tabulate(dim)(i => dec(i))
        val info = NewtonFit.symmetric(dim)(p => dec(dim + p))
        // ℓ NULL (decimal overflow far from the optimum) reads −∞: such a
        // candidate can never be accepted, matching the old llAt guard
        (grad, info,
          if (r.isNullAt(off + dim + pairIdx.size)) Double.NegativeInfinity
          else dec(dim + pairIdx.size))
      }
      // ONE pass: the log-likelihood at EVERY damping candidate (the
      // sequential trial loop this replaces paid one whole job per
      // candidate). ℓ-only keeps the aggregate narrow — the full score
      // block at every rung was measured to fall off the whole-stage
      // codegen fast path (>100 fields) and ran 10× slower per task.
      def trialLls(cands: Seq[Array[Double]]): IndexedSeq[Double] = {
        val pdf = paramDf(cands.flatten.toSeq, "__tp")
        val aggs = cands.indices.map { t =>
          def p(k: Int) = col(s"__tp${t * dim + k}")
          val (z, _) = zColP(p)
          val raw = dD * (-p(dim - 1) + z) - exp(z)
          // wild candidates (a low-λ rung probing a near-singular
          // information) can push a per-row term past DECIMAL(28,12) —
          // the ANSI cast would throw mid-trial. Clamping per row is
          // deterministic (row value → same clamp everywhere), and any
          // clamped candidate sums to a hopeless ℓ and is rejected, the
          // same outcome the unclamped trial would have reached.
          val safe = when(isnull(raw) || isnan(raw) || raw < -1e15,
            lit(-1e15)).when(raw > lit(1e15), lit(1e15)).otherwise(raw)
          t12(safe).as(s"__ll$t")
        }
        val r = baseIt.crossJoin(broadcast(pdf))
          .agg(aggs.head, aggs.tail: _*).head()
        cands.indices.map(t =>
          if (r.isNullAt(t)) Double.NegativeInfinity
          else BigDecimal(r.getDecimal(t)).toDouble)
      }
      // one pass: gradient + observed information (+ ℓ) at a single θ
      def scoreAt(th: Array[Double])
          : (Array[Double], Array[Array[Double]], Double) = {
        val pdf = paramDf(th.toSeq, "__sp")
        val aggs = scoreAggs(k => col(s"__sp$k"), "")
        val r = baseIt.crossJoin(broadcast(pdf))
          .agg(aggs.head, aggs.tail: _*).head()
        decodeBlock(r, 0)
      }
      // Levenberg-damped Newton ascent: raw Newton on the observed
      // information DIVERGES under heavy censoring (the quadratic model
      // is poor far from the optimum and nothing checks ascent — the
      // measured failure mode on the events table); ridging the
      // information by λ·diag and accepting a step ONLY when ℓ improves
      // is the classic fix, fully deterministic, and collapses to pure
      // Newton (λ → 0) near the optimum where convergence is quadratic
      var (grad, info, ll) = scoreAt(theta)
      var lambda = 1e-3
      var it = 0
      var stalled = false
      // rung count per pass: enough ladder span to re-anneal λ quickly
      // after a damping excursion. (A fused ladder computing the FULL
      // score block at every rung was tried and measured 59 s vs 7.7 s
      // at sf0.1: 9 rungs × 10 fields of clamped decimal sums blows the
      // generated aggregate past the JIT method limit and the whole pass
      // runs interpreted — the ℓ-only ladder + one score pass stands.)
      val rungs = 12
      while (it < iterations && !stalled &&
          grad.map(math.abs).max > 1e-8 * ne) {
        // λ-ladder per pass: rungs of λ·8^(t−2), so each pass probes two
        // rungs BELOW the current damping as well as above — after a heavy
        // excursion λ re-anneals by up to 8² per accepted step instead of
        // the ÷4 crawl (measured on the events fit: a λ→1e10 excursion
        // cost 16 recovery iterations under first-improving/÷4). The BEST
        // improving candidate is accepted — still strict ℓ ascent, so the
        // same fixed point, reached in fewer whole-table passes. Ladder
        // windows climb on total rejection, mirroring the old 30-try cap.
        var accepted = false
        var window = 0
        while (!accepted && !stalled) {
          val lams = Array.tabulate(rungs)(t => math.max(1e-10,
            lambda * math.pow(8.0, (window * rungs + t - 2).toDouble)))
          val cands: Array[Option[Array[Double]]] = lams.map { lam =>
            val ridged = Array.tabulate(dim, dim)((i, j) =>
              if (i == j) info(i)(j) + lam * math.max(info(i)(i), 1e-8)
              else info(i)(j))
            NewtonFit.solveSpd(ridged, grad.clone()).map(st =>
              theta.zip(st).map { case (b, v) => NewtonFit.round12(b + v) })
          }
          // padding failed solves with the current θ keeps the batch shape
          // (and so the compiled plan) fixed; they are never accepted
          val lls = trialLls(cands.map(_.getOrElse(theta)).toSeq)
          val best = cands.indices
            .filter(t => cands(t).isDefined &&
              java.lang.Double.isFinite(lls(t)) && lls(t) > ll)
            .sortBy(t => (-lls(t), t)).headOption
          best match {
            case Some(t) =>
              theta = cands(t).get
              lambda = math.max(lams(t) / 4, 1e-10)
              val next = scoreAt(theta)
              grad = next._1; info = next._2; ll = next._3
              accepted = true
            case None =>
              // 3 windows ≈ the old 30-try ladder before declaring a stall
              if (window >= 2) stalled = true
              window += 1
          }
        }
        it += 1
      }
      table(n, ne, NewtonFit.waldRows(Some(theta),
        NewtonFit.standardErrors(info)), Some(grad))
    }
  }

  /** Cox proportional-hazards regression with Breslow tie handling — the
    * covariate-adjusted member of the survival shelf ([[kmCurve]] draws
    * one curve, [[logRankTest]] compares two groups; Cox answers "how
    * does each FEATURE shift the hazard" with one log-hazard-ratio per
    * covariate). Newton–Raphson on the Breslow partial likelihood,
    * `iterations` fixed steps from β = 0; per covariate one row:
    * `(covariate, n, n_events, beta, se, z, p_value)` — SE from the
    * observed information evaluated AT the reported (post-final-step) β
    * via one extra no-step aggregation pass after the loop (the lazy
    * convention of reusing the last in-loop information would price the
    * SE at the penultimate β), two-sided p via the shared A&S normal
    * survival. NULL beta/se/z/p when there are no events or the
    * information matrix is singular (a constant covariate).
    *
    * Fail-loud overflow guard: exp(βᵀx) lands in DECIMAL(20,12), which
    * overflows to NULL past |η| ≈ 18.4 under the non-ANSI cast — a NULL
    * score would silently drop its row from every risk-set sum and bias
    * β/SE. Each pass therefore counts NULL scores and throws when any
    * row overflowed (feature-scale the covariates; the contract is
    * |x| ≲ 10³ at 4 dp).
    *
    * Determinism contract (the [[LinearModel.logregTrainHashed]] recipe —
    * what makes a DuckDB oracle possible): covariates quantize to
    * DECIMAL(8,4) (feature-scale to |x| ≲ 10³; 4-dp resolution),
    * per-subject scores exp(βᵀx) land as DECIMAL(20,12), so every
    * risk-set ingredient (S0, S1_k, S2_kl, per-duration event sums) is an
    * EXACT decimal sum — partial-aggregation order cannot move a bit.
    * Per-event-time gradient/information terms round to 12 dp before
    * their (exact) sums, and β re-rounds to 12 dp between iterations, so
    * the only cross-engine noise (libm exp, ≤ 1 ulp) is damped two
    * rounding layers before the output. With TWO covariates the Newton
    * step and the SE inverse use the closed-form 2×2 expressions the
    * oracle mirrors verbatim; higher dimensions solve by in-place
    * Gaussian elimination (documented: oracle replay covers d ≤ 2).
    *
    * Scale: per iteration ONE per-distinct-duration decimal aggregation
    * (partial-aggregated; the duration table is calendar-bounded —
    * `maxDurations` guards the driver suffix pass), then O(durations·d²)
    * driver algebra. Subjects never sort globally; no unkeyed window. */
  def coxPH(durations: DataFrame, durationCol: String, censoredCol: String,
      covariates: Seq[String], iterations: Int = 4,
      maxDurations: Long = 100000L): DataFrame =
    coxPHImpl(durations, durationCol, censoredCol, covariates, iterations,
      maxDurations, includeGradient = false)

  /** [[coxPH]] plus a `grad` column: the partial-likelihood score
    * ∂ℓ/∂βₖ evaluated at the REPORTED β̂ (computed by the same trailing
    * no-step pass that prices the SEs, from the same per-duration
    * decimal sums). At a Newton fixed point |grad|/n_events ≈ 0 — the
    * replayable convergence CONTRACT for dimensions where an external
    * engine cannot mirror the d×d solve itself (the q316 eigen-residual
    * pattern): an oracle recomputes the anchors (n, n_events) and pins
    * the normalized score to zero without replaying Gaussian
    * elimination. */
  def coxPHWithGradient(durations: DataFrame, durationCol: String,
      censoredCol: String, covariates: Seq[String], iterations: Int = 4,
      maxDurations: Long = 100000L): DataFrame =
    coxPHImpl(durations, durationCol, censoredCol, covariates, iterations,
      maxDurations, includeGradient = true)

  private def coxPHImpl(durations: DataFrame, durationCol: String,
      censoredCol: String, covariates: Seq[String], iterations: Int,
      maxDurations: Long, includeGradient: Boolean): DataFrame = {
    require(covariates.nonEmpty && covariates.size <= 8,
      s"coxPH needs 1..8 covariates, got ${covariates.size}")
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val d = covariates.size
    val spark = durations.sparkSession
    import spark.implicits._
    def table(n: Long, nEvents: Long, w: Seq[NewtonFit.Wald],
        grad: Option[Array[Double]]) = {
      val out = covariates.zip(w).zipWithIndex.map {
        case ((c, (b, se, z, p)), i) =>
          (c, n, nEvents, b, se, z, p, grad.map(_(i))) }
        .toDF("covariate", "n", "n_events", "beta", "se", "z", "p_value",
          "grad")
      if (includeGradient) out else out.drop("grad")
    }
    NewtonFit.withBase(ScaleOps.persisted(NewtonFit.design(durations,
        Seq(durationCol), Seq(col(durationCol).cast("long").as("__life"),
          (lit(1L) - coalesce(col(censoredCol), lit(false)).cast("long"))
            .as("__ev")), covariates))) { base =>
      // the subject count is iteration-invariant (base is persisted):
      // counting it once instead of once per pass saves a job per step
      val n = base.count()
      val baseIt = graft.ops.ParamFrame.compactForIteration(base, n)
      val pairIdx = NewtonFit.pairs(d)
      var nEvents = 0L
      // iterations stepping passes + ONE no-step pass that re-evaluates
      // the observed information at the converged β for the SEs
      val fit = NewtonFit.run(Array.fill(d)(0.0), iterations,
          trailing = true) { beta =>
        // β enters through a broadcast one-row parameter frame, NOT as
        // literals — see [[graft.ops.ParamFrame]]: literal β regenerated
        // the whole-stage codegen source every Newton pass. The dot
        // accumulates left-to-right in double from the 4-dp decimal
        // covariates — the identical expression (and values) the oracle
        // writes — then quantizes so every sum below is exact
        val dot = covariates.indices.map(i =>
          col(s"__x$i").cast("double") * graft.ops.ParamFrame.p("__cb", i))
          .reduce(_ + _)
        val s = exp(dot).cast("decimal(20,12)")
        val aggs =
          sum(col("__ev")).as("__d") +:
          (covariates.indices.map(i =>
            sum(col("__ev").cast("decimal(8,0)") * col(s"__x$i"))
              .as(s"__sx$i")) ++
           Seq(sum(s).as("__s0")) ++
           covariates.indices.map(i =>
             sum(s * col(s"__x$i")).as(s"__s1_$i")) ++
           pairIdx.map { case (i, j) =>
             sum(s * col(s"__x$i") * col(s"__x$j")).as(s"__s2_${i}_$j") } ++
           Seq(NewtonFit.countWhere(s.isNull).as("__overflowed")))
        val perLife = graft.ops.ParamFrame.attach(baseIt, beta.toSeq, "__cb")
          .groupBy(col("__life"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        require(perLife.length <= maxDurations,
          s"coxPH: ${perLife.length} distinct durations exceed " +
            s"maxDurations $maxDurations — bucket the durations")
        val overflowed = perLife.map(_.getLong(3 + 2 * d + pairIdx.size)).sum
        require(overflowed == 0L,
          s"coxPH: $overflowed subject scores exp(beta.x) overflowed " +
            "DECIMAL(20,12) (|eta| > ~18.4) — a NULL score silently drops " +
            "its row from every risk-set sum; feature-scale the covariates")
        // driver suffix sums over durations DESC (exact BigDecimal)
        val rows = perLife.map { r =>
          (r.getLong(0), r.getLong(1),
            covariates.indices.map(i => BigDecimal(r.getDecimal(2 + i))),
            BigDecimal(r.getDecimal(2 + d)),
            covariates.indices.map(i => BigDecimal(r.getDecimal(3 + d + i))),
            pairIdx.indices.map(p => BigDecimal(r.getDecimal(3 + 2 * d + p))))
        }.sortBy(-_._1)
        nEvents = rows.map(_._2).sum
        if (nEvents == 0) return table(n, 0, NewtonFit.nullRows(d), None)
        var s0 = BigDecimal(0)
        val s1 = Array.fill(d)(BigDecimal(0))
        val s2 = Array.fill(pairIdx.size)(BigDecimal(0))
        // exact sums of the 12-dp-rounded per-event-time terms (order-free
        // on both engines) plus the exact Σx-over-events part
        val gradTerm = Array.fill(d)(BigDecimal(0))
        val sxSum = Array.fill(d)(BigDecimal(0))
        val infoTerm = Array.fill(pairIdx.size)(BigDecimal(0))
        def r12(v: Double): BigDecimal =
          BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        rows.foreach { case (_, dEv, sx, ps0, ps1, ps2) =>
          s0 += ps0
          covariates.indices.foreach(i => s1(i) += ps1(i))
          pairIdx.indices.foreach(p => s2(p) += ps2(p))
          if (dEv > 0) {
            val dD = dEv.toDouble
            val s0d = s0.toDouble
            covariates.indices.foreach { i =>
              sxSum(i) += sx(i)
              gradTerm(i) += r12(dD * (s1(i).toDouble / s0d))
            }
            pairIdx.zipWithIndex.foreach { case ((i, j), p) =>
              infoTerm(p) += r12(dD * (s2(p).toDouble / s0d -
                s1(i).toDouble / s0d * (s1(j).toDouble / s0d)))
            }
          }
        }
        (covariates.indices.map(i =>
          sxSum(i).toDouble - gradTerm(i).toDouble).toArray,
          NewtonFit.symmetric(d)(infoTerm(_).toDouble))
      }
      table(n, nEvents, NewtonFit.waldRows(fit.coefs, fit.se()),
        if (fit.singular) None else Some(fit.grad))
    }
  }
}
