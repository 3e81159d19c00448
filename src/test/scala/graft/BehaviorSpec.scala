package graft

import graft.operators.Behavior
import org.apache.spark.sql.functions._

class BehaviorSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("funnel requires stages strictly in order") {
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      // user 2: click BEFORE first view — purchase unreachable, depth 1
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 09:30:00"), "purchase"),
      // user 3: view only
      (3L, ts("2024-01-01 08:00:00"), "view"),
      // user 4: no funnel event at all
      (4L, ts("2024-01-01 08:00:00"), "error"))
      .toDF("user_id", "ts", "event_type")
    val out = Behavior.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1) == (("view", 3L, 1.0)))
    assert(out(2) == (("click", 1L, 0.3333)))
    assert(out(3) == (("purchase", 1L, 0.3333)))
  }

  test("funnel: equal timestamps do not advance (strict ordering)") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:00:00"), "click"), // same instant — no advance
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 10:00:01"), "click"))
      .toDF("user_id", "ts", "event_type")
    val out = Behavior.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out(1) == 2L) // both users viewed
    assert(out(2) == 1L) // only user 2's click is strictly later
  }

  test("funnel: later re-view can unlock an earlier-blocked stage") {
    // view@12, click@10 (blocked), view@8? no — greedy takes earliest view,
    // then the NEXT click after it counts even if a later view also exists
    val ev = Seq(
      (1L, ts("2024-01-01 08:00:00"), "view"),
      (1L, ts("2024-01-01 07:00:00"), "click"), // before first view: dead
      (1L, ts("2024-01-01 09:00:00"), "click")) // after: counts
      .toDF("user_id", "ts", "event_type")
    val out = Behavior.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click")).collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out(2) == 1L)
  }

  test("funnel rejects pre-epoch timestamps instead of corrupting the packing") {
    val ev = Seq((1L, ts("1969-12-31 00:00:00"), "view"))
      .toDF("user_id", "ts", "event_type")
    val e = intercept[Exception] {
      Behavior.funnel(ev, "user_id", "ts", "event_type", Seq("view")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("post-1970")))
  }

  test("retention cohorts: offset-0 cell is the cohort size; retention ratios") {
    val ev = Seq(
      // cohort week of 2024-01-01 (epoch week floor(19723/7)): users 1,2
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-03 10:00:00")),
      // user 1 active next week too
      (1L, ts("2024-01-10 10:00:00")),
      // user 3 first appears in the next week
      (3L, ts("2024-01-10 12:00:00")))
      .toDF("user_id", "ts")
    val rows = Behavior.retentionCohorts(ev, "user_id", "ts")
      .orderBy("cohort_week", "week_offset").collect()
    val byKey = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val w0 = rows.map(_.getLong(0)).min
    assert(byKey((w0, 0L)) == ((2L, 2L, 1.0)))      // both users at offset 0
    assert(byKey((w0, 1L)) == ((1L, 2L, 0.5)))      // user 1 retained
    assert(byKey((w0 + 1, 0L)) == ((1L, 1L, 1.0))) // user 3's own cohort
  }

  test("mergeIntervals coalesces overlapping and touching, splits disjoint") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 20L),   // overlap → one island [0,20]
      (1L, 20L, 30L),                 // touching (start == max end) → merges
      (1L, 31L, 40L),                 // gap → new island
      (2L, 0L, 1L))                   // other key unaffected
      .toDF("k", "s", "e")
    val out = Behavior.mergeIntervals(iv, Seq("k"), "s", "e")
      .orderBy("k", "island").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 1L, 0L, 30L, 3L), (1L, 2L, 31L, 40L, 1L),
      (2L, 1L, 0L, 1L, 1L)))
  }

  test("rollingActiveUsers: wau is the trailing-window distinct union") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-03 10:00:00")),                      // u1 again day+2
      (3L, ts("2024-01-09 10:00:00")))                      // past u2's window
      .toDF("user_id", "ts")
    val rows = Behavior.rollingActiveUsers(ev, "user_id", "ts", windowDays = 7)
      .orderBy("day").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val base = rows.head._1 // epoch day of 2024-01-01
    val byDay = rows.toMap
    assert(byDay(base) == ((2L, 2L, 1.0)))          // u1, u2 same day
    assert(byDay(base + 2) == ((1L, 2L, 0.5)))      // u1 active, u2 in window
    // 2024-01-09: u3 active; u1's last activity (day+2) still within 7 days
    // (offsets 2..8 ∋ 8? no — day+2 contributes to days 2..8, and 9-1=8 ✓)
    assert(byDay(base + 8) == ((1L, 2L, 0.5)))
  }

  test("rateAnomaly: spike scores high against its trailing baseline") {
    // 30 calm hours of 10 events, then one 100-event hour
    val rows = (0 until 30).flatMap { h =>
      val n = if (h == 29) 100 else 10
      (0 until n).map(i => (h.toLong * 100 + i,
        ts(f"2024-01-01 00:00:00").toInstant.plusSeconds(h * 3600L + i)))
    }.map { case (id, inst) => (id, java.sql.Timestamp.from(inst)) }
      .toDF("event_id", "ts")
    val out = Behavior.rateAnomaly(rows, "ts", window = 24)
      .orderBy("bucket").collect()
    // buckets 0..23 lack a full window; 24..29 score — all-equal baselines
    // have sd = 0 and are dropped, so only the spike hour survives… except
    // every baseline here is constant-10: only hour 29 would score but its
    // baseline sd is 0 too ⇒ expect empty
    assert(out.isEmpty)
    // perturb one baseline hour so sd > 0 for windows containing it
    val rows2 = rows.unionByName(Seq((9999L,
      ts("2024-01-01 05:00:00"))).toDF("event_id", "ts"))
    val out2 = Behavior.rateAnomaly(rows2, "ts", window = 24)
      .orderBy("bucket").collect()
    val t0 = ts("2024-01-01 00:00:00").getTime
    val zs = out2.map(r => ((r.getTimestamp(0).getTime - t0) / 3600000L).toInt
      -> r.getDouble(2)).toMap
    assert(zs(29) > 3.0, s"spike hour must flag, got $zs")
    assert(zs.filter(_._1 != 29).values.forall(math.abs(_) < 3.0))
  }

  test("activityGaps: whole missing days between active days, edges excluded") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 09:00:00")),
      (1L, ts("2024-01-05 10:00:00")),  // gap: days 3-4
      (1L, ts("2024-01-05 23:00:00")),  // same day, no effect
      (2L, ts("2024-01-01 10:00:00")))  // single day → no gaps
      .toDF("user_id", "ts")
    val out = Behavior.activityGaps(ev, "user_id", "ts")
      .orderBy("user", "gap_start_day").collect()
      .map(r => (r.getLong(0), r.getLong(2) - r.getLong(1) + 1, r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 2L))) // one 2-day gap for user 1 only
  }

  test("eventTransitions: consecutive pairs within user-day, tie-broken by id") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "view"),
      (1L, 11L, ts("2024-01-01 10:05:00"), "click"),
      (1L, 12L, ts("2024-01-01 10:10:00"), "view"),
      // next day: its own sequence, no cross-day transition
      (1L, 13L, ts("2024-01-02 10:00:00"), "purchase"),
      // tie on ts: id order decides view→click, not click→view
      (2L, 20L, ts("2024-01-01 12:00:00"), "view"),
      (2L, 21L, ts("2024-01-01 12:00:00"), "click"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = Behavior.eventTransitions(ev, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("view", "click")) == 2L)
    assert(out(("click", "view")) == 1L)
    assert(out.values.sum == 3L) // no user-1 day-boundary transition
  }

  test("adoptionCurve: first-seen counts and running total") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-03 10:00:00")),  // not new on day 3
      (3L, ts("2024-01-03 12:00:00")))
      .toDF("user_id", "ts")
    val out = Behavior.adoptionCurve(ev, "user_id", "ts")
      .orderBy("day").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((2L, 2L), (1L, 3L)))
  }

  test("mergeIntervals: contained interval does not split the island") {
    // [0,100] then [10,20] (contained) then [50,60]: running max end keeps
    // the island open even though starts are increasing
    val iv = Seq((1L, 0L, 100L), (1L, 10L, 20L), (1L, 50L, 60L), (1L, 101L, 110L))
      .toDF("k", "s", "e")
    val out = Behavior.mergeIntervals(iv, Seq("k"), "s", "e")
      .orderBy("island").collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0L, 100L), (2L, 101L, 110L)))
  }

  test("funnelConversionTime: durations only for full converters") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:00:10"), "click"),   // converts in 30s
      (1L, ts("2024-01-01 10:00:30"), "purchase"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 10:01:40"), "click"),   // converts in 200s
      (2L, ts("2024-01-01 10:03:20"), "purchase"),
      (3L, ts("2024-01-01 10:00:00"), "view"))    // never converts
      .toDF("user_id", "ts", "event_type")
    val r = Behavior.funnelConversionTime(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).collect().head
    assert(r.getLong(0) == 2L)
    // durations 30s and 200s in micros; p50 = interpolated midpoint 115s
    assert(r.getDouble(1) == 115e6)
    assert(r.getDouble(2) == 183e6) // 30e6 + 0.9*(200e6-30e6)
  }

  test("basketLift: attracting and repelling pairs score around 1") {
    val ev = Seq(
      // baskets: {a,b} x2, {a} x1, {b} x1, {a,c} x1 -> 5 baskets
      (1L, ts("2024-01-01 10:00:00"), "a"), (1L, ts("2024-01-01 11:00:00"), "b"),
      (2L, ts("2024-01-01 10:00:00"), "a"), (2L, ts("2024-01-01 11:00:00"), "b"),
      (3L, ts("2024-01-01 10:00:00"), "a"),
      (4L, ts("2024-01-01 10:00:00"), "b"),
      (5L, ts("2024-01-01 10:00:00"), "a"), (5L, ts("2024-01-01 11:00:00"), "c"))
      .toDF("user_id", "ts", "event_type")
    val out = Behavior.basketLift(ev, "user_id", "ts", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // lift(a,b) = (2 * 5) / (4 * 3) = 0.8333; lift(a,c) = (1 * 5) / (4 * 1) = 1.25
    assert(out(("a", "b"))._1 == 2L && out(("a", "b"))._2 == 0.8333)
    assert(out(("a", "c"))._1 == 1L && out(("a", "c"))._2 == 1.25)
  }

  test("rollingMedian ignores a single outlier hour in the baseline") {
    val rows = (0 until 26).flatMap { h =>
      val n = if (h == 5) 100 else 10 // one outlier hour in every baseline
      (0 until n).map(i => (h.toLong * 1000 + i,
        java.sql.Timestamp.from(ts("2024-01-01 00:00:00").toInstant
          .plusSeconds(h * 3600L + i))))
    }.toDF("event_id", "ts")
    val out = Behavior.rollingMedian(rows, "ts", window = 24)
      .orderBy("bucket").collect()
    assert(out.nonEmpty)
    // median baseline stays 10 despite the 100-event hour in the window
    assert(out.forall(_.getDouble(2) == 10.0))
  }


  test("funnelWithin: window anchors at the FIRST stage-1 event") {
    val ev = Seq(
      // converts within window
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:30:00"), "click"),
      // misses the 1h window anchored at the first view, and a later
      // re-view does NOT re-anchor (documented first-entry semantics)
      (2L, ts("2024-01-01 08:00:00"), "view"),
      (2L, ts("2024-01-01 12:00:00"), "view"),
      (2L, ts("2024-01-01 12:10:00"), "click"))
      .toDF("user_id", "ts", "event_type")
    val out = Behavior.funnelWithin(ev, "user_id", "ts", "event_type",
      Seq("view", "click"), windowMicros = 3600L * 1000000)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out(1) == 2L) // both viewed
    assert(out(2) == 1L) // only user 1 clicked inside the anchored window
  }


  test("rateAnomalyByKey: a spike in one type does not pollute another") {
    val rows = (0 until 26).flatMap { h =>
      val a = (0 until (if (h == 25) 50 else (10 + h % 2))).map(i =>
        (h * 1000L + i, java.sql.Timestamp.from(
          ts("2024-01-01 00:00:00").toInstant.plusSeconds(h * 3600L + i)), "a"))
      val b = (0 until (10 + (h + 1) % 2)).map(i =>
        (h * 1000L + 500 + i, java.sql.Timestamp.from(
          ts("2024-01-01 00:00:00").toInstant.plusSeconds(h * 3600L + i)), "b"))
      a ++ b
    }.toDF("event_id", "ts", "event_type")
    val out = Behavior.rateAnomalyByKey(rows, "event_type", "ts", window = 24)
      .collect().map(r => (r.getString(0),
        (r.getTimestamp(1).getTime - ts("2024-01-01 00:00:00").getTime) / 3600000L)
        -> r.getDouble(3)).toMap
    assert(out(("a", 25L)) > 3.0, s"type-a spike must flag: $out")
    assert(out.get(("b", 25L)).forall(math.abs(_) < 3.0),
      "type b saw no spike and must not flag")
  }


  test("funnel reports zero-reach stages instead of omitting them") {
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), "view"))
      .toDF("user_id", "ts", "event_type")
    val out = Behavior.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "view", 1L), (2, "click", 0L),
      (3, "purchase", 0L)))
  }

  test("sessionFunnel: conversion must happen within one session") {
    val ev = Seq(
      // one session: view->click->purchase within gaps
      (1L, 10L, ts("2024-01-01 10:00:00"), "view"),
      (1L, 11L, ts("2024-01-01 10:10:00"), "click"),
      (1L, 12L, ts("2024-01-01 10:20:00"), "purchase"),
      // user 2: view, then a NEW session (2h later) purchases — no conversion
      (2L, 20L, ts("2024-01-01 09:00:00"), "view"),
      (2L, 21L, ts("2024-01-01 11:30:00"), "click"),
      (2L, 22L, ts("2024-01-01 11:31:00"), "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = Behavior.sessionFunnel(ev, "user_id", "ts", "event_id",
      "event_type", Seq("view", "click", "purchase"), gapMinutes = 30)
      .orderBy("stage").collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    // sessions with a view: u1's one, u2's 09:00 one (u2's 11:30 session
    // has no view, so its click/purchase can't even enter the funnel)
    assert(out(1) == 2L && out(2) == 1L && out(3) == 1L)
  }

  test("lagAutocorrelation: alternating counts give -1, constant gives NULL") {
    // alternating 2/4 hourly counts -> perfect negative lag-1 correlation
    val alt = (0 until 8).flatMap { h =>
      val n = if (h % 2 == 0) 2 else 4
      (0 until n).map(i => ("alt", ts(f"2024-01-01 $h%02d:00:0$i")))
    }
    // constant counts -> zero variance -> corr undefined (NULL)
    val const = (0 until 4).flatMap { h =>
      (0 until 3).map(i => ("const", ts(f"2024-01-01 $h%02d:00:0$i")))
    }
    val ev = (alt ++ const).toDF("event_type", "ts")
    val out = Behavior.lagAutocorrelation(ev, "event_type", "ts")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out("alt")._1 == 7L && math.abs(out("alt")._2.get - (-1.0)) < 1e-9)
    assert(out("const") == ((3L, None)))
  }

  test("decayActivity: recent events dominate; half-life halves the weight") {
    val ref = 1704153600000000L // 2024-01-02 00:00:00 UTC in micros
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00")), // 24h old: weight 2^-1 = 0.5
      (1L, ts("2024-01-02 00:00:00")), // 0h old: weight 1
      (2L, ts("2023-12-31 00:00:00"))  // 48h old: weight 0.25
    ).toDF("user_id", "ts")
    val out = Behavior.decayActivity(ev, "user_id", "ts", ref, halfLifeHours = 24.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 2L && math.abs(out(1L)._2 - 1.5) < 1e-9)
    assert(math.abs(out(2L)._2 - 0.25) < 1e-9)
  }

  test("multiTouchAttribution linear: equal split inside the window only") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:10:00"), 100L, "view", 0.0),
      (1L, ts("2024-01-01 10:20:00"), 101L, "view", 0.0),
      (1L, ts("2024-01-01 10:30:00"), 102L, "view", 0.0),
      (1L, ts("2024-01-01 11:00:00"), 103L, "purchase", 30.0),
      // second purchase: only the first two views are inside [09:25, 10:25)
      (1L, ts("2024-01-01 10:25:00"), 104L, "purchase", 10.0),
      // view exactly at conversion time must NOT be credited
      (2L, ts("2024-01-01 12:00:00"), 200L, "view", 0.0),
      (2L, ts("2024-01-01 12:00:00"), 201L, "purchase", 50.0),
      // conversion with no in-window touch: unattributable, no rows
      (3L, ts("2024-01-01 09:00:00"), 300L, "purchase", 99.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Behavior.multiTouchAttribution(ev, "user_id", "ts", "event_id",
        "event_type", "value", "view", "purchase", windowMinutes = 60,
        model = "linear")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // purchase 103 (value 30) splits across views 100,101,102 -> 10 each;
    // purchase 104 (value 10) splits across views 100,101 -> 5 each
    assert(out == Map(
      100L -> ((2L, 15.0)), 101L -> ((2L, 15.0)), 102L -> ((1L, 10.0))))
  }

  test("multiTouchAttribution first/last: full credit to one touch, ties broken by id") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:10:00"), 100L, "view", 0.0),
      (1L, ts("2024-01-01 10:20:00"), 101L, "view", 0.0),
      (1L, ts("2024-01-01 10:30:00"), 102L, "purchase", 40.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    def run(model: String) =
      Behavior.multiTouchAttribution(ev, "user_id", "ts", "event_id",
        "event_type", "value", "view", "purchase", windowMinutes = 60, model)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(run("first") == Map(100L -> 40.0))
    assert(run("last") == Map(101L -> 40.0))
  }

  test("multiTouchAttribution plan: bucketized equi-join, no cartesian") {
    val ev = Seq((1L, ts("2024-01-01 10:10:00"), 100L, "view", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val plan = Behavior.multiTouchAttribution(ev, "user_id", "ts", "event_id",
        "event_type", "value", "view", "purchase", windowMinutes = 60)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("kmCurve: textbook small-sample survival with censoring") {
    // durations: 1 (event), 2 (censored), 3 (event), 4 (event)
    // S(1) = 3/4; S(3) = 3/4 * 1/2 = 0.375 (the censored subject left the
    // risk set without an event); S(4): last subject dies -> 0
    val d = Seq((1L, false), (2L, true), (3L, false), (4L, false))
      .toDF("dur", "cens")
    val rows = Behavior.kmCurve(d, "dur", "cens")
      .orderBy("duration").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.length == 3)
    assert(rows(0)._1 == 1L && rows(0)._2 == 4L && math.abs(rows(0)._5 - 0.75) < 1e-9)
    assert(rows(1)._1 == 3L && rows(1)._2 == 2L && math.abs(rows(1)._5 - 0.375) < 1e-9)
    assert(rows(2)._1 == 4L && rows(2)._2 == 1L && rows(2)._5 == 0.0)
  }

  test("naCurve: textbook cumulative hazard with censoring") {
    // durations: 1 (event), 2 (event), 2 (censored), 3 (event)
    // H(1) = 1/4; H(2) = 1/4 + 1/3; H(3) = ... + 1/1
    val d = Seq((1L, false), (2L, false), (2L, true), (3L, false))
      .toDF("dur", "cens")
    val rows = Behavior.naCurve(d, "dur", "cens").orderBy("duration").collect()
    assert(rows.length == 3)
    val h1 = rows(0).getAs[Double]("cum_hazard")
    val h2 = rows(1).getAs[Double]("cum_hazard")
    val h3 = rows(2).getAs[Double]("cum_hazard")
    assert(math.abs(h1 - 0.25) < 1e-9)
    assert(math.abs(h2 - (0.25 + 1.0 / 3)) < 1e-9)
    assert(math.abs(h3 - (0.25 + 1.0 / 3 + 1.0)) < 1e-9)
    assert(rows(0).getAs[Long]("n_risk") == 4L &&
      rows(1).getAs[Long]("n_risk") == 3L &&
      rows(2).getAs[Long]("n_risk") == 1L)
    assert(math.abs(rows(1).getAs[Double]("var_hazard")
      - (1.0 / 16 + 1.0 / 9)) < 1e-9)
    assert(math.abs(rows(2).getAs[Double]("survival_na") - math.exp(-h3)) < 1e-12)
    // Fleming-Harrington survival sits at-or-above KM everywhere
    val km = Behavior.kmCurve(d, "dur", "cens").orderBy("duration").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    rows.foreach { r =>
      val s = r.getAs[Double]("survival_na")
      assert(s >= km(r.getAs[Long]("duration")) - 1e-12)
    }
  }

  test("kmCurve: all-censored input yields no step rows; ties at one time") {
    val allCens = Seq((5L, true), (6L, true)).toDF("dur", "cens")
    assert(Behavior.kmCurve(allCens, "dur", "cens").count() == 0)
    // two events + one censored subject AT the same duration: both events
    // count against the full risk set of 3
    val tied = Seq((2L, false), (2L, false), (2L, true)).toDF("dur", "cens")
    val r = Behavior.kmCurve(tied, "dur", "cens").collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L && r.getLong(3) == 1L)
    assert(math.abs(r.getDouble(4) - (1.0 - 2.0 / 3.0)) < 1e-9)
  }

  // ---- publish-gated DELIBERATE deviations from the reference ----------
  // These two behaviors intentionally differ from the reference; the specs
  // exist so a refactor cannot silently flip them back (r10 VERDICT item 7).

  test("DEVIATION parq_filter.py:63-67: empty filter result writes an empty " +
      "file WITH the projected schema (the reference writes nothing)") {
    // the reference's writer returns before creating any output when the
    // first batch never arrives (parq_filter.py:63-67 `except StopIteration:
    // return`); we instead publish an empty parquet file carrying the
    // projected schema — downstream readers and schema contracts see a
    // stable table either way (SURVEY §7.4 item 4 decision)
    val in = tmpDir("dev_empty_in") + "/in"
    val out = tmpDir("dev_empty_out") + "/result"
    Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "s", "v")
      .write.mode("overwrite").parquet(in)
    graft.ops.FilterOps.filterFile(spark, in, out,
      filterExpression = Some("id > 100"), columns = Some(Seq("id", "v")))
    val back = spark.read.parquet(out)
    assert(back.count() == 0, "empty result must still be readable")
    assert(back.columns.toSeq == Seq("id", "v"),
      "the empty file must carry the PROJECTED schema")
  }

  test("DEVIATION ydata uniform alert: chi-square runs over HISTOGRAM bins, " +
      "not per-distinct-value counts") {
    // ydata-profiling's uniform alert chi-squares the per-VALUE counts —
    // on a continuous column every count is 1, the statistic is 0 and the
    // alert fires vacuously. Ours asks "is the DENSITY flat" over the
    // histogram bins the profile already computes (ColumnProfiler scaladoc).
    // Pin the case where the two semantics DISAGREE: all-distinct values
    // (ydata: fires for any shape) with a heavily skewed density (ours:
    // must NOT fire)...
    val skewed = (1 to 2000).map(i => math.pow(i.toDouble / 2000.0, 8.0))
      .toDF("x")
    val sv = graft.profile.ColumnProfiler
      .profile(skewed, exactDistinct = true).variables("x")
    assert(!sv.alerts.contains("uniform"),
      s"skewed density must not read as uniform (ydata's per-value form " +
        s"would fire here): ${sv.alerts}")
    // ...and the case where they AGREE: flat density, all-distinct values
    val flat = (1 to 2000).map(_.toDouble).toDF("x")
    val fv = graft.profile.ColumnProfiler
      .profile(flat, exactDistinct = true).variables("x")
    assert(fv.alerts.contains("uniform"),
      s"flat density must fire the uniform alert: ${fv.alerts}")
  }

  test("logRankTest: hand-computed O/E/V; identical curves give chi2 = 0") {
    // A events at 1,2; B events at 3,4:
    // E_a = 0.5 + 1/3, V = 1/4 + 2/9, chi2 = (2 - 5/6)^2 / (17/36) = 49/17
    val d = Seq((1L, false, "A"), (2L, false, "A"),
      (3L, false, "B"), (4L, false, "B")).toDF("dur", "cens", "g")
    val r = Behavior.logRankTest(d, "dur", "cens", "g").collect().head
    assert(r.getString(0) == "A" && r.getString(1) == "B")
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L)
    assert(r.getLong(4) == 2L && r.getLong(5) == 2L)
    assert(math.abs(r.getDouble(6) - 5.0 / 6) < 1e-12)
    assert(math.abs(r.getDouble(7) - 17.0 / 36) < 1e-12)
    assert(math.abs(r.getDouble(8) - 49.0 / 17) < 1e-12)
    // perfectly symmetric groups: O = E exactly -> chi2 = 0
    val same = Seq((1L, false, "A"), (2L, false, "A"),
      (1L, false, "B"), (2L, false, "B")).toDF("dur", "cens", "g")
    assert(Behavior.logRankTest(same, "dur", "cens", "g")
      .collect().head.getDouble(8) == 0.0)
    // censored rows shape the at-risk counts but never the events
    val cens = Seq((1L, false, "A"), (2L, true, "A"),
      (1L, false, "B"), (2L, true, "B")).toDF("dur", "cens", "g")
    val rc = Behavior.logRankTest(cens, "dur", "cens", "g").collect().head
    assert(rc.getLong(4) == 1L && rc.getLong(5) == 1L)
    // three groups refuse
    val three = Seq((1L, false, "A"), (1L, false, "B"), (1L, false, "C"))
      .toDF("dur", "cens", "g")
    intercept[IllegalArgumentException] {
      Behavior.logRankTest(three, "dur", "cens", "g")
    }
  }

  test("kmCurveCI: Greenwood band by hand; terminal row degenerates to [0,0]") {
    // events at 1, 3 with a censor at 2, terminal death at 5
    val d = Seq((1L, false), (2L, true), (3L, false), (5L, false))
      .toDF("dur", "cens")
    val rows = Behavior.kmCurveCI(d, "dur", "cens")
      .collect().map(r => r.getLong(0) -> r).toMap
    // t=1: S = 3/4, G = 1/12; exponential-Greenwood band from the formula
    val r1 = rows(1L)
    val s1 = 0.75; val g1 = 1.0 / 12
    assert(math.abs(r1.getAs[Double]("survival") - s1) < 1e-9)
    assert(math.abs(r1.getAs[Double]("se") - s1 * math.sqrt(g1)) < 1e-9)
    val th1 = 1.959964 * math.sqrt(g1) / math.log(s1)
    assert(math.abs(r1.getAs[Double]("ci_lo") -
      math.pow(s1, math.exp(-th1))) < 1e-9)
    assert(math.abs(r1.getAs[Double]("ci_hi") -
      math.pow(s1, math.exp(th1))) < 1e-9)
    assert(r1.getAs[Double]("ci_lo") < s1 && s1 < r1.getAs[Double]("ci_hi"))
    assert(r1.getAs[Double]("ci_hi") < 1.0)
    // t=3: the censor at 2 shrank the risk set to 2 -> S = 3/8,
    // G = 1/12 + 1/2
    val r3 = rows(3L)
    assert(r3.getLong(1) == 2L)
    assert(math.abs(r3.getAs[Double]("survival") - 0.375) < 1e-9)
    assert(math.abs(r3.getAs[Double]("se") -
      0.375 * math.sqrt(1.0 / 12 + 0.5)) < 1e-9)
    // terminal death: S = 0, degenerate band
    val r5 = rows(5L)
    assert(r5.getAs[Double]("survival") == 0.0)
    assert(r5.getAs[Double]("se") == 0.0 &&
      r5.getAs[Double]("ci_hi") == 0.0)
  }

  test("rmst: hand-computed KM areas, Klein variance, edge groups") {
    // A: events at 1, 3, 5 with a censor at 2 -> S = 3/4, 3/8, 0
    // B: all censored -> the curve never leaves 1
    val d = Seq((1L, false, "A"), (2L, true, "A"), (3L, false, "A"),
      (5L, false, "A"), (2L, true, "B"), (3L, true, "B"))
      .toDF("dur", "cens", "g")
    val at4 = Behavior.rmst(d, "dur", "cens", "g", tau = 4L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // area(0..4) = 1 + 2*(3/4) + 1*(3/8) = 2.875
    // Var = A1^2/12 + A3^2/2 with A1 = 1.875, A3 = 0.375
    assert(at4("A")._1 == 4L && at4("A")._2 == 2L)
    assert(math.abs(at4("A")._3 - 2.875) < 1e-9)
    assert(math.abs(at4("A")._4 - math.sqrt(0.36328125)) < 1e-6)
    // no events by tau: rmst = tau exactly, se = 0
    assert(at4("B") == ((2L, 0L, 4.0, 0.0)))
    // tau past the terminal event: the dead step contributes area but is
    // excluded from the variance sum (n - d = 0 there)
    val at10 = Behavior.rmst(d, "dur", "cens", "g", tau = 10L)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(4), r.getDouble(5))).toMap
    assert(math.abs(at10("A")._1 - 3.25) < 1e-9)
    assert(math.abs(at10("A")._2 - math.sqrt(0.703125)) < 1e-6)
    assert(at10("B")._1 == 10.0 && at10("B")._2 == 0.0)
    // group cap refuses
    val many = (1 to 17).map(i => (i.toLong, false, s"g$i"))
      .toDF("dur", "cens", "g")
    intercept[IllegalArgumentException] {
      Behavior.rmst(many, "dur", "cens", "g", tau = 4L)
    }
  }

  test("coxPH: definitional Breslow-Newton reference, sign, guards") {
    import spark.implicits._
    // 16 subjects, ties at several durations, mixed censoring; covariate 0
    // drives the hazard up, covariate 1 is near-noise
    val data = Seq(
      (1L, false, 3.0, 1.0), (1L, false, 2.0, 0.0), (2L, false, 3.0, 1.0),
      (2L, true, 1.0, 1.0), (3L, false, 2.0, 0.0), (3L, false, 1.0, 1.0),
      (4L, true, 2.0, 0.0), (4L, false, 0.0, 1.0), (5L, false, 1.0, 0.0),
      (5L, false, 0.0, 0.0), (6L, true, 1.0, 1.0), (6L, false, 0.0, 0.0),
      (7L, false, 0.0, 1.0), (7L, true, 1.0, 0.0), (8L, false, 0.0, 0.0),
      (8L, false, 0.0, 1.0))
    val df = data.toDF("dur", "cens", "x1", "x2")
    val out = Behavior.coxPH(df, "dur", "cens", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r).toMap
    // definitional reference: risk-set loops, Breslow ties, 4 Newton
    // steps + a 5th info-only pass so the SE prices at the REPORTED
    // (post-final-step) beta — the operator's convention
    var b = Array(0.0, 0.0)
    var info = Array.ofDim[Double](2, 2)
    for (pass <- 1 to 5) {
      val grad = Array(0.0, 0.0)
      info = Array.ofDim[Double](2, 2)
      for (t <- data.filter(!_._2).map(_._1).distinct) {
        val risk = data.filter(_._1 >= t)
        val s = risk.map(r => math.exp(b(0) * r._3 + b(1) * r._4))
        val s0 = s.sum
        def x(r: (Long, Boolean, Double, Double), k: Int) =
          if (k == 0) r._3 else r._4
        val s1 = Array(0, 1).map(k =>
          risk.zip(s).map { case (r, si) => si * x(r, k) }.sum)
        val evs = data.filter(r => r._1 == t && !r._2)
        val dd = evs.size
        for (k <- 0 to 1)
          grad(k) += evs.map(x(_, k)).sum - dd * s1(k) / s0
        for (k <- 0 to 1; l <- 0 to 1) {
          val s2 = risk.zip(s).map { case (r, si) => si * x(r, k) * x(r, l) }.sum
          info(k)(l) += dd * (s2 / s0 - s1(k) / s0 * (s1(l) / s0))
        }
      }
      if (pass <= 4) {
        val det = info(0)(0) * info(1)(1) - info(0)(1) * info(0)(1)
        b = Array(b(0) + (info(1)(1) * grad(0) - info(0)(1) * grad(1)) / det,
          b(1) + (info(0)(0) * grad(1) - info(0)(1) * grad(0)) / det)
      }
    }
    val det = info(0)(0) * info(1)(1) - info(0)(1) * info(0)(1)
    val seRef = Array(math.sqrt(info(1)(1) / det), math.sqrt(info(0)(0) / det))
    val r1 = out("x1"); val r2 = out("x2")
    assert(r1.getLong(1) == 16L && r1.getLong(2) == 12L, "n / n_events")
    assert(math.abs(r1.getAs[Double]("beta") - b(0)) < 1e-6,
      s"beta1 ${r1.getAs[Double]("beta")} vs ${b(0)}")
    assert(math.abs(r2.getAs[Double]("beta") - b(1)) < 1e-6,
      s"beta2 ${r2.getAs[Double]("beta")} vs ${b(1)}")
    assert(math.abs(r1.getAs[Double]("se") - seRef(0)) < 1e-6)
    assert(math.abs(r2.getAs[Double]("se") - seRef(1)) < 1e-6)
    assert(r1.getAs[Double]("beta") > 0, "risk covariate must raise hazard")
    assert(math.abs(r1.getAs[Double]("z") -
      r1.getAs[Double]("beta") / r1.getAs[Double]("se")) < 1e-9)
    // all censored -> NULL coefficient rows with n_events 0
    val allCens = data.map { case (t, _, a, c) => (t, true, a, c) }
      .toDF("dur", "cens", "x1", "x2")
    val nc = Behavior.coxPH(allCens, "dur", "cens", Seq("x1", "x2")).collect()
    assert(nc.length == 2 && nc.forall(r =>
      r.getLong(2) == 0L && r.isNullAt(r.fieldIndex("beta"))))
    // constant covariate -> singular information -> NULL stats
    val flat = data.map { case (t, c, _, x2) => (t, c, 5.0, x2) }
      .toDF("dur", "cens", "x1", "x2")
    val fc = Behavior.coxPH(flat, "dur", "cens", Seq("x1", "x2")).collect()
    assert(fc.forall(_.isNullAt(3)), "singular info must null the betas")
  }

  test("cumulativeIncidence: hand-computed Aalen-Johansen, sums to 1 - KM") {
    import spark.implicits._
    // 6 subjects, two competing event types, one censor mid-stream:
    //   t=1 'a' (n=6): CIF_a += 1/6              S -> 5/6
    //   t=2 'b' (n=5): CIF_b += (5/6)(1/5) = 1/6 S -> 2/3
    //   t=3 cens (n=4)
    //   t=4 'a' (n=3): CIF_a += (2/3)(1/3) = 2/9 S -> 4/9
    //   t=5 'b' (n=2): CIF_b += (4/9)(1/2) = 2/9 S -> 2/9
    //   t=6 cens (n=1)
    val d = Seq((1L, Some("a")), (2L, Some("b")), (3L, None),
      (4L, Some("a")), (5L, Some("b")), (6L, None))
      .toDF("dur", "etype")
    val out = Behavior.cumulativeIncidence(d, "dur", "etype", tau = 6L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("a")._1 == 6L && out("a")._2 == 2L)
    assert(math.abs(out("a")._3 - 7.0 / 18) < 1e-9, s"cif_a: ${out("a")}")
    assert(math.abs(out("b")._3 - 7.0 / 18) < 1e-9, s"cif_b: ${out("b")}")
    // identity: sum of CIFs = 1 - all-cause KM at tau = 1 - 2/9
    assert(math.abs(out("a")._3 + out("b")._3 - 7.0 / 9) < 1e-9)
    // an early horizon cuts later increments
    val at3 = Behavior.cumulativeIncidence(d, "dur", "etype", tau = 3L)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(math.abs(at3("a") - 1.0 / 6) < 1e-9)
    assert(math.abs(at3("b") - 1.0 / 6) < 1e-9)
  }

  test("coxPHWithGradient: score at reported beta vanishes; d=3 solve path") {
    import spark.implicits._
    // three non-collinear covariates exercise the Gaussian-elimination
    // (d > 2) Newton path; at the fixed point the partial-likelihood
    // score evaluated AT the reported beta must be ~0 per event
    val data = Seq(
      (1.0, false, 1.0, 0.0, 0.5), (2.0, false, 0.8, 1.0, -0.2),
      (2.0, false, 0.2, 0.5, 0.9), (3.0, true, -0.3, 0.2, 0.1),
      (4.0, false, -0.5, -1.0, 0.4), (5.0, false, 0.1, 0.3, -0.8),
      (5.0, false, -1.0, 0.7, 0.2), (6.0, true, 0.4, -0.6, -0.5),
      (7.0, false, -0.8, -0.2, 0.7), (8.0, false, 0.6, 0.9, -0.1))
    val df = data.toDF("dur", "cens", "x1", "x2", "x3")
    val out = Behavior.coxPHWithGradient(df, "dur", "cens",
      Seq("x1", "x2", "x3"), iterations = 8).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val nEv = r.getLong(2)
      assert(!r.isNullAt(r.fieldIndex("grad")))
      assert(math.abs(r.getAs[Double]("grad")) / nEv < 1e-8,
        s"score must vanish at the fixed point: $r")
      assert(r.getAs[Double]("se") > 0)
    }
    // the plain surface stays 7 columns — no schema change for callers
    assert(!Behavior.coxPH(df, "dur", "cens", Seq("x1", "x2", "x3"))
      .columns.contains("grad"))
  }

  test("coxPH: score overflow past DECIMAL(20,12) fails loudly, never drops rows") {
    import spark.implicits._
    // an un-scaled covariate pushes |beta*x| past ~18.4 after the first
    // Newton step: exp() overflows the decimal and would silently drop
    // subjects from every risk-set sum — the operator must throw instead
    // a nearly-constant covariate (4-dp resolution) whose high value
    // systematically dies first: step-1 info ~ Var(x) ~ 1e-9 while the
    // gradient stays ~1e-4, so the first Newton step overshoots beta to
    // ~1e4 and the second pass's exp(beta*x) overflows the decimal
    val hot = Seq((1.0, false, 1.0001), (2.0, false, 1.0001),
      (3.0, false, 1.0), (4.0, false, 1.0)).toDF("dur", "cens", "x1")
    val e = intercept[Exception] {
      Behavior.coxPH(hot, "dur", "cens", Seq("x1")).collect()
    }
    // under ANSI (Spark 4 default) the decimal cast itself throws
    // NUMERIC_VALUE_OUT_OF_RANGE; under a non-ANSI session the cast
    // yields NULL and the operator's own null-score guard fires — either
    // way the failure is LOUD, never a silent row drop
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("overflowed") ||
      msg.contains("NUMERIC_VALUE_OUT_OF_RANGE"),
      s"expected a loud overflow failure, got: $msg")
  }

  test("rmst: tau beyond the 9-dp quantization headroom fails fast") {
    import spark.implicits._
    val d = Seq((100L, false, "a"), (200L, true, "a")).toDF("dur", "cens", "g")
    val e = intercept[IllegalArgumentException] {
      Behavior.rmst(d, "dur", "cens", "g", tau = 100000000L)
    }
    assert(e.getMessage.contains("quantization headroom"))
  }

  test("weibullAft: planted AFT recovery, censoring, contract, guards") {
    // plant ln T = 5 + 0.8x + 0.5*Gumbel(min) on a deterministic
    // quantile grid (u = (i-0.5)/n per x level): the damped Newton must
    // recover (mu, beta, ln sigma) near the plant with tiny gradient
    val data = for {
      x <- Seq(-1.0, 0.0, 1.0, 2.0)
      i <- 1 to 25
    } yield {
      val u = (i - 0.5) / 25.0
      val lnT = 5.0 + 0.8 * x + 0.5 * math.log(-math.log(1.0 - u))
      (math.max(1L, math.round(math.exp(lnT))), false, x)
    }
    val out = Behavior.weibullAft(data.toDF("dur", "cens", "x"),
      "dur", "cens", Seq("x")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("intercept").getAs[Long]("n_events") == 100L)
    assert(math.abs(out("intercept").getAs[Double]("beta") - 5.0) < 0.2)
    assert(math.abs(out("x").getAs[Double]("beta") - 0.8) < 0.15)
    assert(math.abs(out("ln_scale").getAs[Double]("beta") -
      math.log(0.5)) < 0.25)
    // the fixed-point contract: score at the reported theta ~ 0
    out.values.foreach { r =>
      assert(math.abs(r.getAs[Double]("grad")) / 100.0 < 1e-6, s"$r")
      assert(r.getAs[Double]("se") > 0)
    }
    // censoring shifts the fit: censor the top half of each level's
    // grid at its observed time — the fit must still converge with
    // positive SEs and the same contract
    val cens = data.zipWithIndex.map { case ((t, _, x), i) =>
      (t, i % 2 == 0, x) }
    val oc = Behavior.weibullAft(cens.toDF("dur", "cens", "x"),
      "dur", "cens", Seq("x")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(oc("intercept").getAs[Long]("n_events") == 50L)
    oc.values.foreach { r =>
      assert(math.abs(r.getAs[Double]("grad")) / 50.0 < 1e-6)
      assert(r.getAs[Double]("se") > 0)
    }
    // durations must be positive; too few events -> NULL stats
    intercept[IllegalArgumentException] {
      Behavior.weibullAft(Seq((0L, false, 1.0), (5L, false, 2.0))
        .toDF("dur", "cens", "x"), "dur", "cens", Seq("x")).collect()
    }
    val few = Behavior.weibullAft(
      Seq((5L, true, 1.0), (7L, false, 2.0), (9L, true, 0.0))
        .toDF("dur", "cens", "x"), "dur", "cens", Seq("x"))
      .collect().head
    assert(few.isNullAt(few.fieldIndex("beta")))
  }

  test("exponentialAft: definitional Newton replay, MLE start, guards") {
    def r12(v: Double) =
      BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // mixed events/censoring, covariate shifts the hazard
    val data = Seq(
      (10L, false, 1.0), (25L, false, 1.0), (40L, true, 1.0),
      (8L, false, 2.0), (12L, false, 2.0), (30L, true, 2.0),
      (50L, false, 0.0), (70L, true, 0.0), (65L, false, 0.0))
    val out = Behavior.exponentialAft(
      data.toDF("dur", "cens", "x"), "dur", "cens", Seq("x"))
      .collect().map(r => r.getString(0) -> r).toMap
    val sd = data.count(!_._2); val st = data.map(_._1).sum
    var b = Array(r12(math.log(sd.toDouble / st)), 0.0)
    val sdx = data.filter(!_._2).map(_._3).sum
    for (_ <- 1 to 4) {
      var (h00, h01, h11) = (0.0, 0.0, 0.0)
      data.foreach { case (t, _, x) =>
        val w = t * math.exp(b(0) + b(1) * x)
        h00 += r12(w); h01 += r12(w * x); h11 += r12(w * x * x)
      }
      val det = h00 * h11 - h01 * h01
      b = Array(r12(b(0) + (h11 * (sd - h00) - h01 * (sdx - h01)) / det),
        r12(b(1) + (h00 * (sdx - h01) - h01 * (sd - h00)) / det))
    }
    assert(out("intercept").getAs[Long]("n_events") == sd.toLong)
    assert(math.abs(out("intercept").getAs[Double]("beta") - b(0)) < 1e-9)
    assert(math.abs(out("x").getAs[Double]("beta") - b(1)) < 1e-9)
    // SE at the reported beta (trailing pass)
    var (h00, h01, h11) = (0.0, 0.0, 0.0)
    data.foreach { case (t, _, x) =>
      val w = t * math.exp(b(0) + b(1) * x)
      h00 += r12(w); h01 += r12(w * x); h11 += r12(w * x * x)
    }
    val det = h00 * h11 - h01 * h01
    assert(math.abs(out("x").getAs[Double]("se") -
      math.sqrt(h00 / det)) < 1e-9)
    // more events per unit time at higher x here -> positive hazard slope
    assert(out("x").getAs[Double]("beta") > 0)
    // constant covariate -> singular -> NULL; no events -> NULL
    val const = Behavior.exponentialAft(
      Seq((5L, false, 1.0), (7L, true, 1.0), (9L, false, 1.0))
        .toDF("dur", "cens", "x"), "dur", "cens", Seq("x"))
      .collect().head
    assert(const.isNullAt(const.fieldIndex("beta")))
    val none = Behavior.exponentialAft(
      Seq((5L, true, 1.0), (7L, true, 2.0)).toDF("dur", "cens", "x"),
      "dur", "cens", Seq("x")).collect().head
    assert(none.getAs[Long]("n_events") == 0L &&
      none.isNullAt(none.fieldIndex("beta")))
    // two covariates: the d ≥ 2 Gaussian-elimination step and SE path
    val data2 = Seq(
      (10L, false, 1.0, 0.0), (25L, false, 1.0, 1.0), (40L, true, 1.0, 0.0),
      (8L, false, 2.0, 1.0), (12L, false, 2.0, 0.0), (30L, true, 2.0, 1.0),
      (50L, false, 0.0, 0.0), (70L, true, 0.0, 1.0), (65L, false, 0.0, 1.0),
      (20L, false, 1.5, 0.0), (45L, false, 0.5, 1.0), (35L, true, 0.5, 0.0))
    val df2 = data2.toDF("dur", "cens", "x1", "x2")
    val out2 = Behavior.exponentialAft(df2, "dur", "cens", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r).toMap
    val events2 = data2.filter(!_._2)
    val sdx2 = NewtonRef.score(events2.map { case (_, _, x1, x2) =>
      (1.0, Seq(x1, x2)) })
    val (b2, h2) = NewtonRef.newton(Array(r12(math.log(
        events2.size.toDouble / data2.map(_._1).sum)), 0.0, 0.0), 4) { b =>
      val w = data2.map { case (t, _, x1, x2) =>
        (t * math.exp(b(0) + b(1) * x1 + b(2) * x2), Seq(x1, x2)) }
      (sdx2.zip(NewtonRef.score(w)).map { case (a, c) => a - c },
        NewtonRef.outer(w))
    }
    val se2 = NewtonRef.se(h2)
    assert(out2("intercept").getAs[Long]("n_events") == events2.size.toLong)
    Seq("intercept", "x1", "x2").zipWithIndex.foreach { case (t, i) =>
      assert(math.abs(out2(t).getAs[Double]("beta") - b2(i)) < 1e-6,
        s"beta $t: ${out2(t)} vs ${b2(i)}")
      assert(math.abs(out2(t).getAs[Double]("se") - se2(i)) < 1e-6,
        s"se $t: ${out2(t)} vs ${se2(i)}")
    }
    // a duplicated covariate makes the information singular: NULL β, SE
    val dup = Behavior.exponentialAft(df2.withColumn("xd", col("x1")),
      "dur", "cens", Seq("x1", "xd")).collect()
    assert(dup.length == 3 && dup.forall(r =>
      r.isNullAt(r.fieldIndex("beta")) && r.isNullAt(r.fieldIndex("se"))))
  }
}
