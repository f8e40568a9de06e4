package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (Long, Long, String, Double, String)*) =
    rows.map { case (ok, ck, st, tp, d) => (ok, ck, st, tp, ts(s"$d 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")

  test("gapFillDailySales: missing days appear as zero rows per status") {
    val r = TimeSeries.gapFillDailySales(orders(
      (1L, 1L, "O", 10.0, "1997-01-01"),
      (2L, 1L, "O", 20.0, "1997-01-04"),   // gap: Jan 2, Jan 3
      (3L, 1L, "F", 30.0, "1997-02-01")))  // own 1-day calendar
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(r === Set(
      ("O", "1997-01-01", 1L, 1000L),
      ("O", "1997-01-02", 0L, 0L),
      ("O", "1997-01-03", 0L, 0L),
      ("O", "1997-01-04", 1L, 2000L),
      ("F", "1997-02-01", 1L, 3000L)))
  }

  test("rollingCustomerSpend: RANGE frame spans 6 preceding days + peers") {
    val r = TimeSeries.rollingCustomerSpend(orders(
      (1L, 1L, "O", 10.0, "1997-01-01"),
      (2L, 1L, "O", 20.0, "1997-01-07"),   // Jan 1 still in range (6 back)
      (3L, 1L, "O", 40.0, "1997-01-08"),   // Jan 1 out of range now
      (4L, 1L, "O", 5.0, "1997-01-08"),    // same-day peer of key 3
      (5L, 2L, "O", 99.0, "1997-01-07")))  // other customer untouched
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(4), x.getLong(5))).toMap
    assert(r(1L) === (1000L, 1L))
    assert(r(2L) === (3000L, 2L))
    // keys 3 and 4 are RANGE peers: both frames include both same-day rows
    assert(r(3L) === (6500L, 3L))
    assert(r(4L) === (6500L, 3L))
    assert(r(5L) === (9900L, 1L))
  }

  private def events(rows: (Long, Long, String, String)*) =
    rows.map { case (eid, uid, et, t) =>
      (eid, uid, et, 1.0, """{"k":1}""", ts(t)) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")

  test("scd2UserPhases: consecutive runs collapse, versions chain") {
    val r = TimeSeries.scd2UserPhases(events(
      (1L, 7L, "view", "1997-01-01 10:00:00"),
      (2L, 7L, "view", "1997-01-01 11:00:00"),
      (3L, 7L, "buy",  "1997-01-01 12:00:00"),
      (4L, 7L, "view", "1997-01-01 13:00:00")))
      .orderBy("version").collect()
    assert(r.map(_.getInt(1)).toSeq === Seq(1, 2, 3))
    assert(r.map(_.getString(2)).toSeq === Seq("view", "buy", "view"))
    assert(r.map(_.getLong(5)).toSeq === Seq(2L, 1L, 1L)) // n_events per run
    // valid_to chains to the next version's valid_from; only last is open
    assert(r(0).getString(4) === r(1).getString(3))
    assert(r(1).getString(4) === r(2).getString(3))
    assert(r(2).getString(4) == null && r(2).getBoolean(6))
    assert(!r(0).getBoolean(6) && !r(1).getBoolean(6))
  }

  test("scd2UserPhases: users are independent") {
    val r = TimeSeries.scd2UserPhases(events(
      (1L, 1L, "a", "1997-01-01 10:00:00"),
      (2L, 2L, "a", "1997-01-01 10:30:00"),
      (3L, 1L, "a", "1997-01-01 11:00:00")))
    assert(r.count() === 2) // one open run per user, no cross-user split
    assert(r.filter(col("is_current")).count() === 2)
  }

  test("funnel: stages must happen IN ORDER; ties count inclusively") {
    val ev = events(
      // user 1: view -> click -> purchase (full funnel)
      (1L, 1L, "view", "1997-01-01 10:00:00"),
      (2L, 1L, "click", "1997-01-01 11:00:00"),
      (3L, 1L, "purchase", "1997-01-01 12:00:00"),
      // user 2: click BEFORE first view -> stalls at stage 1
      (4L, 2L, "click", "1997-01-01 09:00:00"),
      (5L, 2L, "view", "1997-01-01 10:00:00"),
      (6L, 2L, "purchase", "1997-01-01 11:00:00"),
      // user 3: purchase BEFORE the post-view click -> stalls at stage 2
      (7L, 3L, "view", "1997-01-01 10:00:00"),
      (8L, 3L, "purchase", "1997-01-01 11:00:00"),
      (9L, 3L, "click", "1997-01-01 12:00:00"),
      // user 4: never views -> in no stage
      (10L, 4L, "purchase", "1997-01-01 10:00:00"),
      // user 5: click at the SAME instant as view -> inclusive, stage 2
      (11L, 5L, "view", "1997-01-01 10:00:00"),
      (12L, 5L, "click", "1997-01-01 10:00:00"))
    val r = TimeSeries.funnel(ev).orderBy("stage_idx").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2),
        x.getDouble(3)))
    assert(r.toSeq === Seq(
      (1, "view", 4L, 1.0),
      (2, "click", 3L, 0.75),
      (3, "purchase", 1L, 0.25)))
  }

  test("funnel with conversion window: late stages fall out, boundary is " +
      "inclusive") {
    val ev = events(
      // user 1: click 1h after view, purchase 1h later -> converts fully
      (1L, 1L, "view", "1997-01-01 10:00:00"),
      (2L, 1L, "click", "1997-01-01 11:00:00"),
      (3L, 1L, "purchase", "1997-01-01 12:00:00"),
      // user 2: click 2 DAYS after view -> outside a 1-day window
      (4L, 2L, "view", "1997-01-01 10:00:00"),
      (5L, 2L, "click", "1997-01-03 10:00:00"),
      // user 3: click exactly AT the window boundary -> inclusive, counts
      (6L, 3L, "view", "1997-01-01 10:00:00"),
      (7L, 3L, "click", "1997-01-02 10:00:00"),
      // user 4: click in-window, purchase 1 day AFTER THE CLICK + 1s ->
      // the window restarts per stage, so this misses stage 3
      (8L, 4L, "view", "1997-01-01 10:00:00"),
      (9L, 4L, "click", "1997-01-01 20:00:00"),
      (10L, 4L, "purchase", "1997-01-02 20:00:01"))
    val r = TimeSeries.funnel(ev, window = Some("1 day"))
      .orderBy("stage_idx").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2)))
    assert(r.toSeq === Seq(
      (1, "view", 4L), (2, "click", 3L), (3, "purchase", 1L)))
    // unbounded on the same events: user 2's late click and user 4's late
    // purchase count again
    val u = TimeSeries.funnel(ev).orderBy("stage_idx").collect()
      .map(_.getLong(2))
    assert(u.toSeq === Seq(4L, 4L, 2L))
  }

  private def evRows(rows: (Long, Long, String, String)*) =
    rows.map { case (eid, uid, typ, t) => (eid, ts(t), uid, typ, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("transitionMatrix: consecutive pairs per user in event_id order, " +
      "row-normalized") {
    val r = TimeSeries.transitionMatrix(evRows(
      (1L, 1L, "view", "2024-01-01 10:00:00"),
      (2L, 1L, "click", "2024-01-01 10:01:00"),
      (3L, 1L, "view", "2024-01-01 10:02:00"),
      (4L, 1L, "click", "2024-01-01 10:03:00"),
      (5L, 2L, "view", "2024-01-01 10:00:30"),
      (6L, 2L, "purchase", "2024-01-01 10:04:00")))
      .collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    // from view: 2x ->click, 1x ->purchase; from click: 1x ->view
    assert(r(("view", "click")) === ((2L, 2.0 / 3)))
    assert(r(("view", "purchase")) === ((1L, 1.0 / 3)))
    assert(r(("click", "view")) === ((1L, 1.0)))
    assert(r.size === 3)
  }

  test("cohortRetention: users cohorted by first week; later-week " +
      "activity counted against cohort size") {
    val r = TimeSeries.cohortRetention(evRows(
      // cohort week of Jan 1 (Mon): users 1, 2
      (1L, 1L, "view", "2024-01-02 09:00:00"),
      (2L, 2L, "view", "2024-01-03 09:00:00"),
      // week +1: only user 1 returns
      (3L, 1L, "click", "2024-01-09 09:00:00"),
      // cohort week of Jan 15: user 3, active again week +2
      (4L, 3L, "view", "2024-01-16 09:00:00"),
      (5L, 3L, "view", "2024-01-30 09:00:00")))
      .collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    assert(r(("2024-01-01", 0L)) === ((2L, 1.0)))
    assert(r(("2024-01-01", 1L)) === ((1L, 0.5)))
    assert(r(("2024-01-15", 0L)) === ((1L, 1.0)))
    assert(r(("2024-01-15", 2L)) === ((1L, 1.0)))
    assert(r.size === 4)
  }

  test("pointInTimeJoin: facts pick the phase active at fact time, " +
      "half-open boundaries, null before history") {
    val ev = events(
      (1L, 7L, "browse", "2024-01-01 10:00:00"),
      (2L, 7L, "browse", "2024-01-01 11:00:00"), // same phase continues
      (3L, 7L, "buy",    "2024-01-01 12:00:00"), // v2 starts 12:00
      (4L, 7L, "browse", "2024-01-01 14:00:00"), // v3
      (5L, 8L, "buy",    "2024-01-01 09:00:00")) // other user
    def facts(rows: (Long, Long, String)*) =
      rows.map { case (ok, ck, t) => (ok, ck, "O", 1.0, ts(t), "p") }
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
    val got = TimeSeries.pointInTimeJoin(facts(
      (100L, 7L, "2024-01-01 09:30:00"), // before any phase → null
      (101L, 7L, "2024-01-01 10:30:00"), // browse v1
      (102L, 7L, "2024-01-01 12:00:00"), // exactly at v2 start → v2
      (103L, 7L, "2024-01-01 13:59:59"), // still v2
      (104L, 7L, "2024-01-01 23:00:00"), // open-ended v3
      (105L, 9L, "2024-01-01 12:00:00")  // user with no history → null
    ), ev).collect().map(r => r.getLong(0) ->
      (Option(r.getString(3)), Option(r.get(4)).map(_.toString.toLong))).toMap
    assert(got(100L) === ((None, None)))
    assert(got(101L) === ((Some("browse"), Some(1L))))
    assert(got(102L) === ((Some("buy"), Some(2L))))
    assert(got(103L) === ((Some("buy"), Some(2L))))
    assert(got(104L) === ((Some("browse"), Some(3L))))
    assert(got(105L) === ((None, None)))
    assert(got.size === 6)
  }

  test("weekOverWeek: weekly sums, lagged deltas, null baseline guard") {
    val r = TimeSeries.weekOverWeek(orders(
      (1L, 1L, "O", 10.0, "2024-01-01"), // Mon, week of Jan 1
      (2L, 1L, "O", 5.0, "2024-01-03"),
      (3L, 1L, "O", 30.0, "2024-01-08"), // next week
      (4L, 1L, "O", 15.0, "2024-01-22"))) // gap week (no row for Jan 15)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), Option(x.get(3)).map(_.toString.toLong),
          Option(x.get(4)).map(_.toString.toDouble))).toMap
    assert(r("2024-01-01") === ((1500L, None, None))) // first week: no prev
    assert(r("2024-01-08") === ((3000L, Some(1500L), Some(1.0))))
    // calendar gap: prev is the previous OBSERVED week
    assert(r("2024-01-22") === ((1500L, Some(-1500L), Some(-0.5))))
    assert(r.size === 3)
  }

  test("dailyAnomalies: spike against trailing-28d baseline, warmup " +
      "days unscored, anomalous day excluded from its own baseline") {
    // 10 days at $100/day, then an $800 spike on day 11
    val base = (1 to 10).map(i =>
      (i.toLong, 1L, "O", 100.0, f"1997-01-$i%02d"))
    val r = TimeSeries.dailyAnomalies(orders(base :+
      (11L, 1L, "O", 800.0, "1997-01-11"): _*))
      .collect().map(x => x.getString(0) ->
        (x.getLong(2), Option(x.get(3)).map(_.toString.toDouble),
          x.getBoolean(4))).toMap
    // first 8 days: fewer than 8 trailing days → no score, not flagged
    (1 to 8).foreach { i =>
      val (_, z, fl) = r(f"1997-01-0$i")
      assert(z.isEmpty && !fl)
    }
    // days 9-10: constant baseline → sd 0 → unscorable, not flagged
    assert(r("1997-01-09")._2.isEmpty && !r("1997-01-09")._3)
    // day 11: baseline is 10 constant days → still sd 0 → unscorable
    // (constant-history streams need variance to flag; see next case)
    assert(r("1997-01-11")._2.isEmpty)
    // noisy baseline: alternate 100/120, then spike 800 on day 11
    val noisy = (1 to 10).map(i =>
      (i.toLong, 1L, "O", if (i % 2 == 0) 120.0 else 100.0,
        f"1997-01-$i%02d"))
    val r2 = TimeSeries.dailyAnomalies(orders(noisy :+
      (11L, 1L, "O", 800.0, "1997-01-11"): _*))
      .collect().map(x => x.getString(0) ->
        (Option(x.get(3)).map(_.toString.toDouble), x.getBoolean(4))).toMap
    val (z11, flagged) = r2("1997-01-11")
    assert(flagged && z11.get > 3)
    // ... and the spike does not flag ordinary neighbors
    assert(!r2("1997-01-10")._2)
  }

  test("timeToConvert: first view to first purchase at-or-after it, " +
      "non-converters excluded, exact seconds") {
    val r = TimeSeries.timeToConvert(events(
      // user 1: purchase BEFORE first view doesn't count; converts in 60s
      (1L, 1L, "purchase", "2024-01-01 09:00:00"),
      (2L, 1L, "view", "2024-01-01 10:00:00"),
      (3L, 1L, "purchase", "2024-01-01 10:01:00"),
      (4L, 1L, "purchase", "2024-01-01 11:00:00"), // later: ignored
      // user 2: converts in 300s
      (5L, 2L, "view", "2024-01-01 10:00:00"),
      (6L, 2L, "purchase", "2024-01-01 10:05:00"),
      // user 3: views but never purchases
      (7L, 3L, "view", "2024-01-01 10:00:00")))
      .first()
    assert(r.getLong(0) === 2L)                      // n_converted
    assert(r.getLong(1) === 180000L)                 // median (60+300)/2 * 1e3
    assert(r.getLong(3) === 300L)                    // max_secs
  }

  test("sessionPaths: paths in event order within gap-sessions, " +
      "counted and top-k ranked with path tie-break") {
    var eid = 0L
    def e(uid: Long, et: String, t: String) = { eid += 1; (eid, uid, et, t) }
    val got = TimeSeries.sessionPaths(events(
      // user 1, one session: view>click>buy
      e(1L, "view", "2024-03-01 10:00:00"),
      e(1L, "click", "2024-03-01 10:05:00"),
      e(1L, "buy", "2024-03-01 10:10:00"),
      // user 2, two sessions split by the 30-min gap: view>click, view
      e(2L, "view", "2024-03-01 09:00:00"),
      e(2L, "click", "2024-03-01 09:10:00"),
      e(2L, "view", "2024-03-01 11:00:00"),
      // user 3: view>click again
      e(3L, "view", "2024-03-02 08:00:00"),
      e(3L, "click", "2024-03-02 08:01:00")), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // view>click appears twice; the k=2 cut keeps the lexicographically
    // smaller of the two singleton paths
    assert(got.toSeq === Seq(("view>click", 2L), ("view", 1L)))
  }

  test("sessionPaths plan: top-k is TakeOrderedAndProject, not a global " +
      "sort") {
    // k below the path count — with k >= rows AQE validly eliminates the
    // sort+limit during replanning, so that case proves nothing
    val df = TimeSeries.sessionPaths(events(
      (1L, 1L, "view", "2024-03-01 10:00:00"),
      (2L, 2L, "click", "2024-03-01 10:00:00"),
      (3L, 3L, "buy", "2024-03-01 10:00:00")), k = 1)
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("sessionConcurrency: sweep line with inclusive ends, midnight " +
      "carry, and per-day peaks") {
    var eid = 0L
    def e(uid: Long, t: String) = { eid += 1; (eid, uid, "view", t) }
    val r = TimeSeries.sessionConcurrency(events(
      // day 1: A [10:00,10:10], H [10:02,10:08], B point 10:05,
      //        C points 10:10 and 10:50 (40-min gap splits), D opens 23:50
      e(1L, "2024-03-01 10:00:00"), e(1L, "2024-03-01 10:10:00"),
      e(8L, "2024-03-01 10:02:00"), e(8L, "2024-03-01 10:08:00"),
      e(2L, "2024-03-01 10:05:00"),
      e(3L, "2024-03-01 10:10:00"), e(3L, "2024-03-01 10:50:00"),
      e(4L, "2024-03-01 23:50:00"),
      // day 2: D closes 00:10 (session spans midnight), E [00:05,00:20]
      e(4L, "2024-03-02 00:10:00"),
      e(5L, "2024-03-02 00:05:00"), e(5L, "2024-03-02 00:20:00"),
      // day 3: F ends exactly when G starts — inclusive ends overlap
      e(6L, "2024-03-03 10:40:00"), e(6L, "2024-03-03 11:00:00"),
      e(7L, "2024-03-03 11:00:00"), e(7L, "2024-03-03 11:05:00")))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // day 1 peak: A+H+B at 10:05
    assert(r("2024-03-01") === 3L)
    // day 2 peak: D (carried over midnight) + E at 00:05
    assert(r("2024-03-02") === 2L)
    // day 3 peak: F and G overlap at the shared 11:00 boundary
    assert(r("2024-03-03") === 2L)
    assert(r.size === 3)
  }

  test("twapUserValue: holding durations weight values, last reading " +
      "unweighted, degenerate users excluded") {
    // user 1: 10.00 held 10s, 20.00 held 30s, 999.00 never held
    //   -> twap = (1000*10e6 + 2000*30e6) / 40e6 = 1750 cents
    // user 2: single event -> no interval -> excluded
    // user 3: two events at the SAME instant -> zero total -> excluded
    val ev = Seq(
      (1L, 1L, 10.0, "2024-01-01 00:00:00"),
      (2L, 1L, 20.0, "2024-01-01 00:00:10"),
      (3L, 1L, 999.0, "2024-01-01 00:00:40"),
      (4L, 2L, 50.0, "2024-01-01 00:00:00"),
      (5L, 3L, 7.0, "2024-01-01 00:00:00"),
      (6L, 3L, 9.0, "2024-01-01 00:00:00"))
      .map { case (e, u, v, t) => (e, u, "view", v, "{}", ts(t)) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val r = TimeSeries.twapUserValue(ev)
      .select("user_id", "n_intervals", "dur_total_us", "twap_cents")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(r === Set((1L, 2L, 40000000L, 1750.0)))
  }

  test("forwardFillDaily: gap days carry the prior day's LAST reading, " +
      "same-timestamp tie broken by event_id") {
    val ev = Seq(
      (1L, 1L, 10.0, "2024-01-01 10:00:00"),
      (2L, 1L, 20.0, "2024-01-01 12:00:00"),  // later same day wins
      (3L, 1L, 30.0, "2024-01-03 09:00:00"),
      (4L, 1L, 40.0, "2024-01-03 09:00:00"))  // same ts: higher eid wins
      .map { case (e, u, v, t) => (e, u, "view", v, "{}", ts(t)) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val r = TimeSeries.forwardFillDaily(ev)
      .select("user_id", "day", "v_cents_filled", "is_observed")
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(r === Set(
      (1L, "2024-01-01", 2000L, true),
      (1L, "2024-01-02", 2000L, false),
      (1L, "2024-01-03", 4000L, true)))
  }

  test("activeUsers: DAU vs trailing-7-day WAU, stickiness ratio") {
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00"),
      (2L, 1L, "2024-01-01 11:00:00"),  // same user-day: no double count
      (3L, 2L, "2024-01-01 10:00:00"),
      (4L, 1L, "2024-01-03 10:00:00"))
      .map { case (e, u, t) => (e, u, "view", 1.0, "{}", ts(t)) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val r = TimeSeries.activeUsers(ev)
      .select("day", "dau", "wau", "stickiness")
      .as[(String, Long, Long, Double)].collect().toSet
    // Jan 3's weekly actives = both users (u2 from Jan 1 still in window)
    assert(r === Set(
      ("2024-01-01", 2L, 2L, 1.0),
      ("2024-01-03", 1L, 2L, 0.5)))
  }

  test("thresholdEpisodes: consecutive above-average days group into " +
      "runs; a calendar gap splits them") {
    // daily cents: Jan1 1000, Jan2 5000, Jan3 5000, Jan5 5000, Jan6 1000
    // total 17000 over 5 days -> above avg (3400): Jan2, Jan3, Jan5
    // episodes: [Jan2..Jan3] (10000) and [Jan5..Jan5] (5000)
    val r = TimeSeries.thresholdEpisodes(orders(
      (1L, 1L, "O", 10.0, "2024-01-01"),
      (2L, 1L, "O", 50.0, "2024-01-02"),
      (3L, 1L, "O", 50.0, "2024-01-03"),
      (4L, 1L, "O", 50.0, "2024-01-05"),
      (5L, 1L, "O", 10.0, "2024-01-06")))
      .select("start_day", "end_day", "n_days_above", "episode_cents")
      .as[(String, String, Long, Long)].collect().toSet
    assert(r === Set(
      ("2024-01-02", "2024-01-03", 2L, 10000L),
      ("2024-01-05", "2024-01-05", 1L, 5000L)))
  }

  test("robustAnomalies: median/MAD z flags the spike; constant series " +
      "surfaces NULL not divide-by-zero") {
    // cents: 1000,1100,1200,1300,1400,50000 -> median 1250, MAD 150
    val r = TimeSeries.robustAnomalies(orders(
      (1L, 1L, "O", 10.0, "2024-01-01"),
      (2L, 1L, "O", 11.0, "2024-01-02"),
      (3L, 1L, "O", 12.0, "2024-01-03"),
      (4L, 1L, "O", 13.0, "2024-01-04"),
      (5L, 1L, "O", 14.0, "2024-01-05"),
      (6L, 1L, "O", 500.0, "2024-01-06")))
      .select("day", "median_cents", "mad_cents", "robust_z", "is_anomaly")
      .as[(String, Double, Double, Option[Double], Boolean)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("2024-01-01")._2 === 1250.0 && r("2024-01-01")._3 === 150.0)
    assert(math.abs(r("2024-01-06")._4.get -
      0.6745 * (100000.0 - 2500.0) / 300.0) < 1e-9)
    assert(r("2024-01-06")._5 === true)
    assert(r("2024-01-03")._5 === false)
    val const = TimeSeries.robustAnomalies(orders(
      (1L, 1L, "O", 10.0, "2024-01-01"),
      (2L, 1L, "O", 10.0, "2024-01-02")))
      .select("robust_z", "is_anomaly")
      .as[(Option[Double], Boolean)].collect()
    assert(const.forall(x => x._1.isEmpty && !x._2))
  }

  test("retentionTriangle: fixed-offset wide matrix, absent cells zero") {
    // 2020-01-06 is a Monday; u1 active w0+w1, u2 active w0 only
    val ev = Seq(
      (1L, 1L, "2020-01-06 10:00:00"),
      (2L, 1L, "2020-01-14 10:00:00"),
      (3L, 2L, "2020-01-07 10:00:00"))
      .map { case (e, u, t) => (e, u, "view", 1.0, "{}", ts(t)) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val r = TimeSeries.retentionTriangle(ev).collect().head
    assert(r.getString(0) === "2020-01-06")
    assert((1 to 8).map(r.getLong).toSeq ===
      Seq(2L, 1L, 0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("newVsReturning: first-ever day counts as new, later days as " +
      "returning") {
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00"),
      (2L, 2L, "2024-01-01 11:00:00"),
      (3L, 1L, "2024-01-03 10:00:00"),
      (4L, 1L, "2024-01-03 12:00:00"))  // same user-day duplicate
      .map { case (e, u, t) => (e, u, "view", 1.0, "{}", ts(t)) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val r = TimeSeries.newVsReturning(ev)
      .select("day", "n_active", "n_new", "n_returning", "new_share")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(r === Set(
      ("2024-01-01", 2L, 2L, 0L, 1.0),
      ("2024-01-03", 1L, 0L, 1L, 0.0)))
  }

  test("cusumDailyRevenue: scaled deviations sum to zero, mid-series " +
      "dip shows negative swing") {
    // daily cents: 1000, 3000, 2000 -> N=3, S=6000
    // cusum_scaled: 1000*3-6000 = -3000; 4000*3-12000 = 0; 6000*3-18000 = 0
    val r = TimeSeries.cusumDailyRevenue(orders(
      (1L, 1L, "O", 10.0, "2024-01-01"),
      (2L, 1L, "O", 30.0, "2024-01-02"),
      (3L, 1L, "O", 20.0, "2024-01-03")))
      .select("day", "rev_cents", "cusum_scaled", "cusum_norm")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(r === Set(
      ("2024-01-01", 1000L, -3000L, -3000.0 / 18000),
      ("2024-01-02", 3000L, 0L, 0.0),
      ("2024-01-03", 2000L, 0L, 0.0)))
  }

  test("dowSeasonality: per-weekday mean vs overall mean as exact " +
      "cross-multiplied ratio") {
    // Mondays: 1000 + 3000 over 2 days; Tuesday: 4000 over 1 day
    // total: 8000 over 3 days
    // idx(Mon) = 4000*3/(2*8000) = 0.75 ; idx(Tue) = 4000*3/(1*8000) = 1.5
    val r = TimeSeries.dowSeasonality(orders(
      (1L, 1L, "O", 10.0, "2024-01-01"),
      (2L, 1L, "O", 30.0, "2024-01-08"),
      (3L, 1L, "O", 40.0, "2024-01-02")))
      .select("isodow", "n_days", "sum_cents", "seasonal_index")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(r === Set((1L, 2L, 4000L, 0.75), (2L, 1L, 4000L, 1.5)))
  }

  test("cohortLtv: first-order-week cohorts, cumulative cents, LTV per " +
      "cohort member") {
    // 2020-01-06 and 2020-01-13 are Mondays (week starts).
    // cust 1 cohort w0: 10.00 at offset 0, 5.00 at offset 2 (2020-01-22
    //   falls in the 2020-01-20 week); cust 2 cohort w0: 20.00 offset 0;
    //   cust 3 cohort w1: 40.00 offset 0.
    val r = TimeSeries.cohortLtv(orders(
      (1L, 1L, "O", 10.0, "2020-01-06"),
      (2L, 1L, "O", 5.0, "2020-01-22"),
      (3L, 2L, "O", 20.0, "2020-01-07"),
      (4L, 3L, "O", 40.0, "2020-01-13")))
      .select("cohort_week", "week_offset", "rev_cents", "cum_rev_cents",
        "ltv_cents_per_user")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(r === Set(
      ("2020-01-06", 0L, 3000L, 3000L, 1500.0),
      ("2020-01-06", 2L, 500L, 3500L, 1750.0),
      ("2020-01-13", 0L, 4000L, 4000L, 4000.0)))
  }

  test("survivalChurn: tenure life table with at-risk ladder and hazard") {
    // Cutoff = 2002-01-01 (cust 4's last order). churnDays default 365:
    //   cust 1: one order 2000-01-01 → tenure 0, churned (731 d before cutoff)
    //   cust 2: 2000-01-01..2000-01-15 → tenure 2 wk, churned
    //   cust 3: 2001-06-01..2001-12-01 → tenure 26 wk, last 31 d → censored
    //   cust 4: 2002-01-01 only → tenure 0, censored
    // Ladder: week 0 risk 4 (churn 1, censor 1); week 2 risk 2 (churn 1);
    //   week 26 risk 1 (censor 1).
    val r = TimeSeries.survivalChurn(orders(
      (1L, 1L, "O", 1.0, "2000-01-01"),
      (2L, 2L, "O", 1.0, "2000-01-01"),
      (3L, 2L, "O", 1.0, "2000-01-15"),
      (4L, 3L, "O", 1.0, "2001-06-01"),
      (5L, 3L, "O", 1.0, "2001-12-01"),
      (6L, 4L, "O", 1.0, "2002-01-01")))
      .select("tenure_week", "n_risk", "n_churn", "n_censor", "hazard")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(r === Set(
      (0L, 4L, 1L, 1L, 0.25),
      (2L, 2L, 1L, 0L, 0.5),
      (26L, 1L, 0L, 1L, 0.0)))
  }

  test("survivalChurn: tenure_week floors (11 days -> week 1, not 2)") {
    // 11 / 7 = 1.571…: floor gives week 1; a round-to-nearest cast
    // (DuckDB CAST(DOUBLE AS BIGINT)) would give 2 — the round-7
    // divergence witness. Cust 2 pins the cutoff so cust 1 churns.
    val r = TimeSeries.survivalChurn(orders(
      (1L, 1L, "O", 1.0, "2000-01-01"),
      (2L, 1L, "O", 1.0, "2000-01-12"),
      (3L, 2L, "O", 1.0, "2002-01-01")))
      .select("tenure_week", "n_churn", "n_censor")
      .as[(Long, Long, Long)].collect().toSet
    assert(r === Set((0L, 0L, 1L), (1L, 1L, 0L)))
  }

  test("seasonalNaiveBacktest: perfect weekly pattern -> zero seasonal error") {
    // 14 days, revenue = 10 on Mondays (day 1 and 8), 0 elsewhere:
    // seasonal-naive (lag-7) predicts perfectly over the 7 evaluable
    // days; naive-1 misses both spike edges
    val r = TimeSeries.seasonalNaiveBacktest(orders(
      (1L, 1L, "O", 10.0, "1997-01-01"),
      (2L, 1L, "O", 10.0, "1997-01-08"),
      (3L, 1L, "O", 0.01, "1997-01-14"))).collect().head
    // calendar Jan 1..14 -> evaluable days Jan 8..14 (7 days)
    assert(r.getAs[Long]("n_days") === 7L)
    // lag-7 errors: only Jan 14 differs from Jan 7 (1 cent vs 0)
    assert(r.getAs[Long]("abs_err7_cents") === 1L)
    // lag-1: Jan 8 spike (1000 vs 0) + Jan 9 drop (0 vs 1000) + Jan 14
    assert(r.getAs[Long]("abs_err1_cents") === 2001L)
    assert(r.getAs[Boolean]("seasonal_wins"))
    assert(r.getAs[Double]("mae7_cents") === 1.0 / 7.0)
  }

  test("userStreaks: consecutive days group into streaks, gaps split, " +
      "multiple events per day count once") {
    import spark.implicits._
    val ev = Seq(
      // user 1: Jan 1-3 (streak 3, day 2 twice), Jan 5 (streak 1)
      (1L, "1995-01-01 10:00:00"), (1L, "1995-01-02 08:00:00"),
      (1L, "1995-01-02 22:00:00"), (1L, "1995-01-03 01:00:00"),
      (1L, "1995-01-05 12:00:00"),
      // user 2: a single day
      (2L, "1995-02-01 00:00:00"))
      .toDF("user_id", "ts_s")
      .select($"user_id", $"ts_s".cast("timestamp").as("ts"))
    val r = TimeSeries.userStreaks(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Long]("n_active_days"), x.getAs[Long]("n_streaks"),
          x.getAs[Long]("longest_streak"))).toMap
    assert(r === Map(1L -> ((4L, 2L, 3L)), 2L -> ((1L, 1L, 1L))))
  }

  test("decomposeDaily: hand-computed trend/seasonal/remainder on a " +
      "two-week linear ramp; seasonal effects sum to zero") {
    import spark.implicits._
    // 14 days from Monday 1995-01-02, y = 100·(i+1) cents:
    // dow mean (isodow i+1) = 50·(2i+9), overall mean 750
    //   -> seasonal(i) = 100i − 300
    // centered ±3 trend: full-window days get 100·(i+1); day 0 averages
    // days 0..3 -> 250
    val ord = (0 until 14).map(i =>
      (java.time.LocalDate.of(1995, 1, 2).plusDays(i.toLong).toString,
        (i + 1) * 1.00)).toDF("o_orderdate", "o_totalprice")
    val r = TimeSeries.decomposeDaily(ord).collect()
      .map(x => x.getAs[String]("day") -> x).toMap
    assert(r.size === 14)
    val d0 = r("1995-01-02")
    assert(d0.getAs[Long]("y_cents") === 100L)
    assert(d0.getAs[Double]("trend") === 250.0)
    assert(d0.getAs[Double]("seasonal") === -300.0)
    assert(d0.getAs[Double]("remainder") === 100.0 - 250.0 + 300.0)
    val d3 = r("1995-01-05")
    assert(d3.getAs[Double]("trend") === 400.0)
    assert(d3.getAs[Double]("seasonal") === 0.0)
    assert(d3.getAs[Double]("remainder") === 0.0)
    val seasonalSum = r.values.map(_.getAs[Double]("seasonal")).sum
    assert(math.abs(seasonalSum) < 1e-9,
      "dow effects over whole weeks must cancel")
  }

  test("forecastBacktest: seasonal+trend series crowns Holt-Winters; " +
      "trend-only series crowns Holt; lag baselines score exact integers") {
    import spark.implicits._
    def mkOrd(ys: Seq[Long]) = ys.zipWithIndex.map { case (c, i) =>
      (java.time.LocalDate.of(1995, 1, 1).plusDays(i.toLong).toString,
        c / 100.0)
    }.toDF("o_orderdate", "o_totalprice")

    // weekly pattern + 1000-cent/day trend over 35 days: only the
    // seasonal-state method can track both components
    val season = Seq(0L, 90000L, 10000L, 80000L, 20000L, 70000L, 30000L)
    val seas = (0 until 35).map(i => season(i % 7) + 1000L * i)
    val r1 = TimeSeries.forecastBacktest(mkOrd(seas)).collect()
      .map(r => r.getAs[String]("method") -> r).toMap
    assert(r1.keySet ===
      Set("holt", "holt_winters", "naive1", "seasonal_naive"))
    r1.values.foreach(r => assert(r.getAs[Long]("n_days") === 28L))
    assert(r1("holt_winters").getAs[Boolean]("is_best"))
    assert(r1.values.count(_.getAs[Boolean]("is_best")) === 1)
    // the integer lag baselines admit independent exact totals:
    // seasonal_naive errs 7 days of trend (7000 cents) on each of 28
    // holdout days; naive1 errs |Δseason + trend| day by day
    assert(r1("seasonal_naive").getAs[Long]("abs_err_milli")
      === 196000000L)
    assert(r1("naive1").getAs[Long]("abs_err_milli") === 1676000000L)
    assert(r1("seasonal_naive").getAs[Double]("mae_milli")
      === 196000000.0 / 28)

    // pure linear ramp: level+trend is the right model; the seasonal
    // register only adds mis-seeded wiggle it must unlearn
    val lin = (0 until 35).map(i => 50000L + 1000L * i)
    val r2 = TimeSeries.forecastBacktest(mkOrd(lin)).collect()
      .map(r => r.getAs[String]("method") -> r).toMap
    assert(r2("holt").getAs[Boolean]("is_best"))
    assert(r2("naive1").getAs[Long]("abs_err_milli") === 28000000L)
    assert(r2("seasonal_naive").getAs[Long]("abs_err_milli")
      === 196000000L)
  }

  test("holtDailyRevenue: hand-replayed level/trend recurrence, " +
      "forecast made before the observation") {
    import spark.implicits._
    // y = [100, 200, 300] cents across 3 days:
    // d1: f 100, l 100, t 0
    // d2: f 100, l .5*200+.5*100 = 150, t .25*50 = 12.5
    // d3: f 162.5, l .5*300+.5*162.5 = 231.25,
    //     t .25*81.25 + .75*12.5 = 29.6875
    val ord = Seq(
      ("1995-01-01", 1.00), ("1995-01-02", 2.00), ("1995-01-03", 3.00))
      .toDF("o_orderdate", "o_totalprice")
    val r = TimeSeries.holtDailyRevenue(ord)
      .orderBy("day")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(r(0) === (("1995-01-01", 100L, 100.0, 100.0, 0.0)))
    assert(r(1) === (("1995-01-02", 200L, 100.0, 150.0, 12.5)))
    assert(r(2) === (("1995-01-03", 300L, 162.5, 231.25, 29.6875)))
  }

  test("holtWintersDailyRevenue: hand-replayed seed week + first update") {
    import spark.implicits._
    // 8 days, y = 100..800 cents: seed level = 2800/7 = 400, trend 0,
    // seasonals y_i - 400 = [-300..300 step 100]. Day 8 consumes
    // s_1 = -300: forecast 400 + 0 - 300 = 100; l' = .5*(800+300) +
    // .5*400 = 750; t' = .25*350 = 87.5; s_8 = .25*(800-750) - .75*300
    // = -212.5
    val ord = (1 to 8).map(i =>
      (f"1995-01-0$i%d", i * 1.00)).toDF("o_orderdate", "o_totalprice")
    val r = TimeSeries.holtWintersDailyRevenue(ord)
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(r.length === 1)
    assert(r(0) === (("1995-01-08", 800L, 100.0, 750.0, 87.5, -212.5)))
  }

  test("holtWintersDailyRevenue: fixture run — one row per post-seed day," +
      " seasonal-aware fit beats predicting zero") {
    val ord = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    val r = TimeSeries.holtWintersDailyRevenue(ord)
      .orderBy("day").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
    val nDays = ord.select(
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("o_orderdate"), "yyyy-MM-dd"))
      .distinct().count()
    assert(r.length === nDays - TimeSeries.HwPeriod)
    val sse = r.map { case (_, y, f) => val e = y.toDouble - f; e * e }.sum
    val sse0 = r.map { case (_, y, _) => y.toDouble * y.toDouble }.sum
    assert(sse < sse0, "Holt-Winters fit worse than predicting zero")
  }

  test("holtDailyRevenue: fixture run — one row per day, forecast " +
      "residuals shrink vs the naive last-value baseline in aggregate") {
    val ord = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    val r = TimeSeries.holtDailyRevenue(ord)
      .orderBy("day").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
    val nDays = ord.select(
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("o_orderdate"), "yyyy-MM-dd"))
      .distinct().count()
    assert(r.length === nDays)
    // smoothing must not be degenerate: the fitted series tracks the
    // data better than predicting zero (sanity floor, exact doubles)
    val sse = r.drop(1).map { case (_, y, f) =>
      val e = y.toDouble - f; e * e }.sum
    val sse0 = r.drop(1).map { case (_, y, _) =>
      y.toDouble * y.toDouble }.sum
    assert(sse < sse0, "Holt fit worse than predicting zero")
  }
  test("seasonalAnomalies: matches an independent reference " +
      "decompose+MAD replay; the planted deseasonalized spike is " +
      "flagged with the max |z|") {
    // 28 days from Mon 2024-01-01: weekdays $100, weekends $200, and
    // Wed 2024-01-17 planted at $200 — raw value inside the overall
    // range, huge once the weekly cycle is explained away
    val start = java.time.LocalDate.of(2024, 1, 1)
    val days = (0 until 28).map(start.plusDays(_))
    val planted = java.time.LocalDate.of(2024, 1, 17)
    val vals = days.map { d =>
      val weekend = d.getDayOfWeek.getValue >= 6
      d -> (if (d == planted || weekend) 200.0 else 100.0)
    }
    val o = orders(vals.zipWithIndex.map { case ((d, v), i) =>
      (i.toLong, 1L, "F", v, d.toString) }: _*)
    val got = TimeSeries.seasonalAnomalies(o).collect()
      .map(r => r.getAs[String]("day") ->
        ((r.getAs[Long]("rem_milli"), r.getAs[java.lang.Double]("robust_z"),
          r.getAs[Boolean]("is_anomaly")))).toMap

    // ---- independent reference replay (plain Scala, not the column DAG)
    val cents = vals.map { case (_, v) => math.round(v * 100) }
    val n = cents.length
    val trend = cents.indices.map { i =>
      val lo = math.max(0, i - 3); val hi = math.min(n - 1, i + 3)
      val win = (lo to hi).map(cents(_))
      win.sum.toDouble / win.length
    }
    val dows = days.map(_.getDayOfWeek.getValue)
    val sAll = cents.sum
    val dowMean = dows.distinct.map { dw =>
      val ys = cents.indices.filter(i => dows(i) == dw).map(cents(_))
      dw -> (ys.sum.toDouble / ys.length - sAll.toDouble / n)
    }.toMap
    val remMilli = cents.indices.map { i =>
      math.floor((cents(i).toDouble - trend(i) - dowMean(dows(i)))
        * 1000.0).toLong
    }
    def pct50(xs: Seq[Double]): Double = {
      val s = xs.sorted; val pos = (s.length - 1) * 0.5
      val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    val med2 = pct50(remMilli.map(x => (x * 2).toDouble))
    val mad2 = pct50(remMilli.map(x => math.abs(x * 2 - med2)))
    val refZ = remMilli.map(x => 0.6745 * (x * 2 - med2) / mad2)

    days.indices.foreach { i =>
      val day = days(i).toString
      val (gm, gz, _) = got(day)
      assert(gm === remMilli(i), s"rem_milli mismatch at $day")
      assert(math.abs(gz - refZ(i)) < 1e-9, s"z mismatch at $day")
    }
    val (_, pz, pFlag) = got(planted.toString)
    assert(pFlag, "planted day must be flagged")
    assert(math.abs(pz) === got.values.map(v => math.abs(v._2)).max)
  }
  private def valueEvents(rows: (Long, Long, Double, String)*) =
    rows.map { case (eid, uid, v, t) =>
      (eid, uid, "view", v, "{}", ts(t)) }
      .toDF("event_id", "user_id", "event_type", "value", "props", "ts")

  test("interpolateDaily: straight line between brackets, observed days " +
      "exact, last-of-day survivor, per-user calendars independent") {
    val r = TimeSeries.interpolateDaily(valueEvents(
      // user 1: obs day1 = 100c (later event wins the day), day3 = 300c
      (1L, 1L, 9.99, "2024-01-01 08:00:00"),
      (2L, 1L, 1.00, "2024-01-01 12:00:00"),
      (3L, 1L, 3.00, "2024-01-03 00:00:00"),
      // user 2: obs day1 = 100c, day4 = 400c -> thirds in between
      (4L, 2L, 1.00, "2024-01-01 00:00:00"),
      (5L, 2L, 4.00, "2024-01-04 00:00:00")))
      .select("user_id", "day", "v_interp", "is_observed")
      .as[(Long, String, Double, Boolean)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4))).toMap
    assert(r((1L, "2024-01-01")) === ((100.0, true)))
    assert(r((1L, "2024-01-02")) === ((200.0, false))) // exact midpoint
    assert(r((1L, "2024-01-03")) === ((300.0, true)))
    assert(r((2L, "2024-01-02"))._1 ===
      100.0 + 300.0 * (1.0 / 3.0))                     // same IEEE tree
    assert(r((2L, "2024-01-03"))._1 === 100.0 + 300.0 * (2.0 / 3.0))
    assert(r.size === 7)                               // 3 + 4 days
  }

  test("markovSteadyState: two-state chain hits the analytic fixed " +
      "point (1/3, 2/3) exactly in ppb") {
    // transitions: A->B (from A, p=1); B->A, B->B (from B, p=.5 each)
    // steady state: pi(A) = 1/3, pi(B) = 2/3 — also the from-share, so
    // the integer iteration is AT the fixed point from step 0
    val ev = events(
      (1L, 1L, "A", "2024-01-01 00:00:00"),
      (2L, 1L, "B", "2024-01-01 00:01:00"),
      (3L, 2L, "B", "2024-01-01 00:00:00"),
      (4L, 2L, "A", "2024-01-01 00:01:00"),
      (5L, 3L, "B", "2024-01-01 00:00:00"),
      (6L, 3L, "B", "2024-01-01 00:01:00"))
    val r = TimeSeries.markovSteadyState(ev)
      .select("event_type", "steady_ppb", "steady_share", "from_share")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1)
    assert(r.map(x => (x._1, x._2)).toSeq ===
      Seq(("A", 333333333L), ("B", 666666666L)))
    assert(r(0)._3 === 333333333L / 1000000000.0)
    assert(r(0)._4 === 1.0 / 3.0 && r(1)._4 === 2.0 / 3.0)
  }

  test("lagFeatures: exact lags, trailing mean over observed days, " +
      "Monday-0 dow on both epoch formulas") {
    // 2024-01-01 is a Monday; daily cents 100, 200, 400
    val o = orders(
      (1L, 1L, "F", 1.00, "2024-01-01"), (2L, 1L, "F", 2.00, "2024-01-02"),
      (3L, 1L, "F", 4.00, "2024-01-03"))
    val r = TimeSeries.lagFeatures(o)
      .select("day", "rev_cents", "lag1_cents", "lag7_cents", "ma7_cents",
        "dow")
      .as[(String, Long, Option[Long], Option[Long], Double, Long)]
      .collect().sortBy(_._1)
    assert(r.map(_._2).toSeq === Seq(100L, 200L, 400L))
    assert(r.map(_._3).toSeq === Seq(None, Some(100L), Some(200L)))
    assert(r.forall(_._4.isEmpty)) // no 7-day history yet
    assert(r.map(_._5).toSeq === Seq(100.0, 150.0, 700.0 / 3.0))
    assert(r.map(_._6).toSeq === Seq(0L, 1L, 2L)) // Mon, Tue, Wed
  }

  test("rollingMedianDailyRevenue: warm-up even windows average the " +
      "middles; an outlier day never moves the median") {
    // daily cents: 100, 300, 200, 900000 (outlier), 400
    val o = orders(
      (1L, 1L, "F", 1.00, "2024-01-01"), (2L, 1L, "F", 3.00, "2024-01-02"),
      (3L, 1L, "F", 2.00, "2024-01-03"), (4L, 1L, "F", 9000.00, "2024-01-04"),
      (5L, 1L, "F", 4.00, "2024-01-05"))
    val r = TimeSeries.rollingMedianDailyRevenue(o, window = 3)
      .select("day", "w", "median_cents")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(r.map(_._2).toSeq === Seq(1L, 2L, 3L, 3L, 3L))
    // day1: [100] -> 100; day2: [100,300] -> 200 (even avg);
    // day3: [100,200,300] -> 200; day4: [200,300,900000] -> 300;
    // day5: [200,400,900000] -> 400 — the outlier never surfaces
    assert(r.map(_._3).toSeq === Seq(100.0, 200.0, 200.0, 300.0, 400.0))
  }

  test("conformalBacktest: exact order-statistic quantile, 70/30 day " +
      "split, a test-window outlier breaks coverage by exactly one day") {
    // 27 consecutive days, rev(i) = 100+i dollars -> every 7-day
    // residual is exactly 700 cents; day 27 spikes to 1000 dollars
    // (residual 88000 cents), landing in the TEST window.
    val rows = (1 to 27).map { i =>
      val price = if (i == 27) 1000.0 else 100.0 + i
      (i.toLong, 1L, "O", price, f"1996-01-$i%02d")
    }
    val r = TimeSeries.conformalBacktest(orders(rows: _*)).collect().head
    // eval days 8..27 (20): cal = first 14, test = last 6
    assert(r.getAs[Long]("n_cal") === 14L)
    assert(r.getAs[Long]("n_test") === 6L)
    // k = min(ceil(0.9*15), 14) = 14 -> q = the constant 700
    assert(r.getAs[Long]("q_cents") === 700L)
    assert(r.getAs[Long]("n_covered") === 5L)
    assert(r.getAs[Double]("coverage") === 5.0 / 6.0)
  }
}
