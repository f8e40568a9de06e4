package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def li(rows: (Long, Long, String, String, Double)*) =
    rows.map { case (ok, pk, rf, ls, price) =>
      (ok, pk, 1L, 1, 1.0, price, 0.0, 0.0, rf, ls, ts("1997-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")

  test("topOrders: global top-k plans as TakeOrderedAndProject") {
    val ord = (1 to 500).map(i => (i.toLong, 1L, "F", i * 1.0,
      ts("1997-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val q = Relational.topOrders(ord)
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "global top-k must not be a full sort")
    val top = q.collect()
    assert(top.length === 100)
    assert(top.head.getAs[Double]("o_totalprice") === 500.0)
  }

  test("customerSetOps: union-distinct then except semantics") {
    val cust = Seq(
      (1L, "c1", 1, 9000.0, "BUILDING"),  // building+highbal, nation 1 -> excluded
      (2L, "c2", 9, 100.0, "BUILDING"),   // building only -> kept
      (3L, "c3", 9, 9000.0, "AUTO"),      // highbal only -> kept
      (4L, "c4", 9, 100.0, "AUTO"))       // neither -> absent
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    assert(Relational.customerSetOps(cust).as[Long].collect().toSet ===
      Set(2L, 3L))
  }

  test("distinctAggs: distinct vs plain counts") {
    val r = Relational.distinctAggs(li(
      (1L, 10L, "N", "O", 5.0), (1L, 10L, "N", "O", 5.0),
      (2L, 11L, "N", "F", 5.0))).collect().head
    assert(r.getAs[Long]("n_orders") === 2L)
    assert(r.getAs[Long]("n_parts") === 2L)
    assert(r.getAs[Long]("n_lines") === 3L)
  }

  test("approxDistinct: HLL within 5% of exact on sf0.001") {
    val rows = Relational.approxDistinct(
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001")).collect()
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val approx = r.getAs[Long]("approx_orders").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"approx $approx vs exact $exact")
    }
  }

  test("rollupSales: detail + subtotal + grand total rows") {
    val out = Relational.rollupSales(li(
      (1L, 1L, "N", "O", 1.0), (2L, 1L, "N", "F", 2.0),
      (3L, 1L, "A", "F", 4.0))).collect()
    assert(out.length === 3 + 2 + 1) // detail, per-flag, grand
    val grand = out.find(r => r.isNullAt(0) && r.isNullAt(1)).get
    assert(grand.getAs[Long]("sales_cents") === 700L)
  }

  test("pivotSales: missing pivot cell is null") {
    val out = Relational.pivotSales(li((1L, 1L, "N", "O", 3.0))).collect().head
    assert(out.getAs[Long]("cents_o") === 300L)
    assert(out.isNullAt(out.fieldIndex("cents_f")))
  }

  test("semiAntiCustomers: partitions customers exactly by order existence") {
    val cust = graft.Tables.customer(spark, "/root/testdata/sf0.001")
    val ord = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    val out = Relational.semiAntiCustomers(cust, ord)
    assert(out.count() === cust.count(), "semi + anti must cover all customers once")
    val has = out.filter($"segment_tag" === "has_orders")
      .select("c_custkey").as[Long].collect().toSet
    val expected = ord.select("o_custkey").as[Long].collect().toSet
    assert(has === expected)
  }

  test("explodeWords: one row per word, 0-based positions") {
    val pt = Seq((1L, "large cold widget"), (2L, "bolt"))
      .toDF("p_partkey", "p_name")
    val out = Relational.explodeWords(pt)
      .as[(Long, Int, String)].collect().toSet
    assert(out === Set((1L, 0, "large"), (1L, 1, "cold"), (1L, 2, "widget"),
      (2L, 0, "bolt")))
  }

  test("groupingSetsSales: flag rows + status rows + grand total, one pass") {
    val out = Relational.groupingSetsSales(li(
      (1L, 1L, "N", "O", 1.0), (2L, 1L, "N", "F", 2.0),
      (3L, 1L, "A", "F", 4.0))).collect()
    assert(out.length === 2 + 2 + 1) // flags {N,A}, statuses {O,F}, grand
    val grand = out.find(r => r.getAs[Int]("g_flag") === 1 &&
      r.getAs[Int]("g_status") === 1).get
    assert(grand.getAs[Long]("sales_cents") === 700L)
    assert(grand.getAs[Long]("n_lines") === 3L)
  }

  test("statsAggs: exact-integer derivation matches built-in stddev/corr") {
    val data = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val got = Relational.statsAggs(data).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("stddev_qty"), r.getAs[Double]("corr_qd"))).toMap
    import org.apache.spark.sql.functions._
    val ref = data.groupBy("l_returnflag")
      .agg(stddev("l_quantity").as("sd"),
        corr(col("l_quantity"), col("l_discount")).as("cr")).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("sd"), r.getAs[Double]("cr"))).toMap
    got.foreach { case (k, (sd, cr)) =>
      assert(math.abs(sd - ref(k)._1) < 1e-9, s"stddev $k")
      assert(math.abs(cr - ref(k)._2) < 1e-9, s"corr $k")
      assert(cr >= -1.0 && cr <= 1.0)
    }
  }

  test("percentiles: ordered and within data range") {
    val data = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    Relational.percentiles(data).collect().foreach { r =>
      val (m, p90, p99) = (r.getAs[Long]("median_e3"),
        r.getAs[Long]("p90_e3"), r.getAs[Long]("p99_e3"))
      assert(m <= p90 && p90 <= p99)
      assert(m > 0)
    }
  }

  test("approxPercentiles: sketch tracks the exact percentile closely") {
    val data = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    Relational.approxPercentiles(data).collect().foreach { r =>
      val exact = r.getAs[Long]("exact_median_e3")
      val approx = r.getAs[Long]("approx_median_e3")
      // accuracy=10000 bounds rank error at n/10000 (<1 rank per group at
      // this SF), so the sketch lands within a hair of the exact value
      assert(math.abs(approx - exact).toDouble / exact < 0.01,
        s"approx median $approx vs exact $exact")
      assert(r.getAs[Long]("approx_p99_e3") >= approx)
    }
  }

  test("fullOuterCustomerOrders: unmatched sides survive null-filled") {
    val cust = Seq((1L, "c1", 1, 0.0, "BUILDING"), (2L, "c2", 1, 0.0, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val ord = Seq(
      (10L, 1L, "F", 50.0, ts("1997-01-01 00:00:00"), "1-URGENT"),
      (11L, 99L, "F", 70.0, ts("1997-01-01 00:00:00"), "1-URGENT")) // orphan
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val r = Relational.fullOuterCustomerOrders(cust, ord)
      .orderBy("cust_id").collect()
    assert(r.map(_.getAs[Long]("cust_id")).toSeq === Seq(1L, 2L, 99L))
    assert(r(1).getAs[Long]("n_orders") === 0L)     // customer, no orders
    assert(r(2).getAs[String]("c_mktsegment") === null) // orphan order agg
    assert(r(2).getAs[Long]("order_cents") === 7000L)
  }

  test("intersectNations: distinct vs min-multiplicity semantics") {
    val cust = Seq(
      (1L, "c", 7, 9000.0, "BUILDING"), (2L, "c", 7, 9000.0, "BUILDING"),
      (3L, "c", 7, 9000.0, "AUTO"),     // highbal-only occurrence of 7
      (4L, "c", 8, 100.0, "BUILDING"))  // 8 never high-balance
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val r = Relational.intersectNations(cust).collect()
      .groupBy(_.getAs[String]("op"))
      .view.mapValues(_.map(_.getAs[Int]("c_nationkey")).sorted.toSeq).toMap
    assert(r("distinct") === Seq(7))
    // BUILDING has {7,7,8}; highbal has {7,7,7}: min multiplicity of 7 is 2
    assert(r("all") === Seq(7, 7))
  }

  test("systematicSampleOrders keeps exactly keys = 0 mod 20") {
    val ord = (1 to 100).map(i => (i.toLong, 1L, "F", 1.0,
      ts("1997-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val keys = Relational.systematicSampleOrders(ord)
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(keys === Seq(20L, 40L, 60L, 80L, 100L))
  }

  test("sampledUnion: stratified fractions roughly respected, seed-stable") {
    val docs = (1 to 400).map(i =>
      (i.toLong, s"text $i", if (i % 2 == 0) "en" else "de", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ord = (1 to 200).map(i => (i.toLong, 1L, "F", 1.0,
      ts("1997-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val a = Relational.sampledUnion(ord, docs).collect()
    val b = Relational.sampledUnion(ord, docs).collect()
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq,
      "same seed must resample identically")
    val strata = a.filter(_.getAs[String]("method") == "stratified_doc")
    val deKeep = strata.map(_.getAs[Long]("id")).count(_ % 2 == 1)
    assert(deKeep === 200, "fraction 1.0 stratum must keep every row")
  }

  test("hashSampledUnion: partition-invariant, exact thresholds per " +
      "stratum, full-fraction stratum keeps everything") {
    val docs = (1 to 400).map(i =>
      (i.toLong, s"text $i", if (i % 2 == 0) "en" else "de", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ord = (1 to 200).map(i => (i.toLong, 1L, "F", 1.0,
      ts("1997-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val one = Relational.hashSampledUnion(ord.coalesce(1), docs.coalesce(1))
      .collect().map(_.toString).sorted.toSeq
    val many = Relational.hashSampledUnion(ord.repartition(64),
      docs.repartition(64)).collect().map(_.toString).sorted.toSeq
    assert(one === many,
      "portable-hash sample must be bit-identical under any partitioning")
    val rows = Relational.hashSampledUnion(ord, docs).collect()
    val strata = rows.filter(_.getAs[String]("method") == "stratified_doc")
    assert(strata.map(_.getAs[Long]("id")).count(_ % 2 == 1) === 200,
      "fraction 1.0 stratum must keep every row")
    // every kept row satisfies the integer threshold it was kept under
    val enIds = strata.map(_.getAs[Long]("id")).filter(_ % 2 == 0)
    assert(enIds.forall(id =>
      (id * 2654435761L) % 4294967296L < (0.1 * 4294967296.0).toLong))
    val bern = rows.filter(_.getAs[String]("method") == "bernoulli_order")
    assert(bern.map(_.getAs[Long]("id")).forall(id =>
      (id * 2654435761L) % 4294967296L < (0.05 * 4294967296.0).toLong))
  }

  test("argmaxAggs: extremum row keys, composite-key tie-break") {
    val r = Relational.argmaxAggs(li(
      (5L, 1L, "A", "F", 10.0),
      (3L, 1L, "A", "F", 10.0),   // price tie: higher orderkey wins max_by
      (9L, 1L, "A", "F", 2.0),
      (1L, 1L, "B", "F", 7.0)))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r("A") === (5L, 9L, 1000L, 200L))
    assert(r("B") === (1L, 1L, 700L, 700L))
  }

  test("histogramOrders: floor buckets, last bucket open-ended") {
    val ord = Seq((1L, 10.0), (2L, 24999.99), (3L, 25000.0), (4L, 9e9))
      .map { case (k, p) => (k, 1L, "F", p, ts("1997-01-01 00:00:00"), "x") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val r = Relational.histogramOrders(ord).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(0L -> 2L, 1L -> 1L, 19L -> 1L))
  }

  test("recursiveComponentsSql reaches fixpoint past the per-pass depth") {
    // 15-node chain: the minimum label is 14 hops from the far end, so a
    // single depth-8 CTE pass mislabels nodes 9..14 (the round-2 bug);
    // the re-seeding loop must converge to cluster_id 0 for every node
    val edges = (0L until 14L).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val labels = Relational.recursiveComponentsSql(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet === (0L to 14L).toSet)
    assert(labels.values.toSet === Set(0L),
      s"all chain nodes must join cluster 0, got $labels")
    // and a cycle must not hang the UNION ALL recursion: triangle + tail
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L))
      .toDF("doc_a", "doc_b")
    val cl = Relational.recursiveComponentsSql(spark, cyc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("recursiveComponentsSql: grouping-set sentinel never re-seeds") {
    // 21-node chain with batchDepth=2 needs ~10 re-seed passes; under the
    // round-5 bug the node=NULL grand-total row re-entered rec_lbl_v on
    // every pass and the arbitrary depth pick could read its d=0 row,
    // terminating before fixpoint
    val edges = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Relational.recursiveComponentsSql(spark, edges, batchDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === (0L to 20L).map(_ -> 0L).toMap)
  }

  test("recursiveComponentsSql: 1-hop-min seed is only a head start — " +
      "fixpoint still reached with shortcuts disabled") {
    // 13-node chain, no shortcut closure: the seed lowers each node by at
    // most one hop, so the walk passes must still do the propagation; the
    // exhaustion proof may not terminate early on the better seed
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Relational.recursiveComponentsSql(spark, edges,
      batchDepth = 2, shortcutSteps = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === (0L to 12L).map(_ -> 0L).toMap)
  }

  test("recursiveSql cost contract: the recursion surface adds no more " +
      "than pair-cost + 2 s of floors (machine-checked, was narrated)") {
    // the BENCHNOTES r11 contract, promoted to an assertion: of
    // sql_recursive's wall-clock, everything AFTER the shared n-gram
    // pair derivation (shortcut closure + seeding + fixpoint passes) is
    // bounded per-level scheduling floors, not data work — so it must
    // stay within pairs + 2 s at any SF where the contract is honest.
    // Run on the real sf0.01 fixture so `pairs` is the genuine shingle
    // join dedup_clusters pays identically. One discarded warmup pass
    // first — the contract (like every bench number) is about steady
    // state, and a cold JVM bills JIT/codegen compilation to whichever
    // phase runs first. The contract is then asserted on the BEST of
    // two measured passes (Bench's own noise posture): a wall-clock
    // bound judged on a single sample would fail spuriously in exactly
    // the contended-box episodes BENCHNOTES documents.
    Relational.recursiveSql(spark, "/root/testdata/sf0.01").count()
    graft.Bench.reset(spark)
    val samples = (1 to 2).map { _ =>
      val out = Relational.recursiveSql(spark, "/root/testdata/sf0.01")
      assert(out.count() > 0)
      graft.Bench.reset(spark)
      val ph = Relational.lastRecursionPhases
      assert(Seq("derive", "pairs", "seed", "recursion")
        .forall(ph.contains), s"phase ledger incomplete: $ph")
      // pair cost = the eager shingle/posting derivation + the
      // symmetrize that materializes the walk graph; everything else
      // is the recursion surface the contract bounds
      val pairCost = ph("derive") + ph("pairs")
      val rest =
        ph.filterKeys(k => k != "pairs" && k != "derive").values.sum
      info(f"pair cost $pairCost%.2f s, post-pair $rest%.2f s ($ph)")
      (pairCost, rest)
    }
    val (pairCost, rest) = samples.minBy(_._2)
    // ratio-based bound with a generous absolute floor (r12 advice):
    // a flat `pairCost + 2 s` turned contended-box episodes into red
    // test runs, because the recursion surface's per-level scheduling
    // floors inflate MORE than the data work under contention. The
    // ratio leg scales with the box (pairCost inflates on the same
    // episodes); the 6 s floor absorbs stray stalls when pairCost is
    // small. A real regression — the surface growing with data —
    // still trips this: at any honest SF the surface is scheduling
    // floors, nowhere near 1.5x the pair derivation it rides behind.
    val bound = math.max(6.0, 1.5 * pairCost + 2.0)
    assert(rest <= bound,
      f"recursion surface cost $rest%.2f s exceeds bound $bound%.2f s " +
        f"(pair cost $pairCost%.2f s) — the sql_recursive contract is " +
        "broken")
    // and an ABSOLUTE ceiling (r13 advice): the ratio leg scales with
    // pairCost, so on a box where pair derivation dominates, a genuine
    // ~1.5x surface regression could hide inside it. The measured
    // steady-state surface at sf0.01 is ~0.5-1.5 s; 20 s is ~15x that —
    // far above any contended-box episode on record, but a surface that
    // started growing with data (the regression class the contract
    // exists for) blows straight through it.
    assert(rest <= 20.0,
      f"recursion surface cost $rest%.2f s exceeds the 20 s absolute " +
        "ceiling at sf0.01 — surface is growing with data")
  }

  test("hllSketchMerge: per-group estimates within 5% of exact; merged " +
      "union matches a direct whole-table sketch") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val rows = Relational.hllSketchMerge(li).collect()
    val (groups, merged) = rows.partition(_.getString(0) != "ALL(merged)")
    groups.foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val est = r.getAs[Long]("est_orders").toDouble
      assert(math.abs(est - exact) / exact < 0.05,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
    // the union-merged estimate answers the global question within the
    // same error budget (union goes through the HLL union representation,
    // so it is close to — not bit-identical with — a direct sketch)
    val exactAll = li.select("l_orderkey").distinct().count().toDouble
    val mergedEst = merged.head.getAs[Long]("est_orders").toDouble
    assert(math.abs(mergedEst - exactAll) / exactAll < 0.05,
      s"merged est $mergedEst vs exact $exactAll")
  }

  test("subqueriesSql decorrelates to joins (no subquery at runtime)") {
    val q = Relational.subqueriesSql(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Subquery"), "subqueries must be decorrelated")
    // semantics: kept customers have a >150k order and no 'F' order
    val rows = q.collect()
    assert(rows.forall(_.getAs[Long]("n_orders") > 0))
  }

  test("weightedMedian: smallest price reaching half the total weight") {
    import spark.implicits._
    // flag A: prices 1.00(w1), 2.00(w2), 3.00(w1): total 4, half 2 →
    //   cum at 1.00 is 1 (<2), at 2.00 is 3 (≥2) → median 200
    // flag B: equal weights, even count: prices 1.00, 2.00 (w1 each):
    //   half 1 → cum at 1.00 is 1, 2*1 >= 2 → lower of the two (100)
    val li = Seq(
      (1L, 1, "A", 1.0, 1.0), (2L, 1, "A", 2.0, 2.0), (3L, 1, "A", 1.0, 3.0),
      (4L, 1, "B", 1.0, 1.0), (5L, 1, "B", 1.0, 2.0)
    ).toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
      "l_extendedprice")
    val got = Relational.weightedMedian(li)
      .select("l_returnflag", "wmedian_cents", "total_weight")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("A", 200L, 4L), ("B", 100L, 2L)))
  }

  test("momentStats: exact power sums; symmetric data has zero skew, " +
      "two-point data has kurtosis -2") {
    // A: quantities 1,2,3 (symmetric): mu2=2/3, mu3=0 -> skew 0;
    //    mu4=(1+0+1)/3=2/3; kurt = (2/3)/(4/9) - 3 = 1.5 - 3 = -1.5
    // B: 1,3 (two-point symmetric): skew 0, excess kurtosis -2
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 1.0), ("B", 3.0))
      .map { case (rf, q) => (1L, 1, q, rf) }
      .zipWithIndex.map { case ((ok, ln, q, rf), i) => (ok, i, q, rf) }
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    val r = Relational.momentStats(df)
      .select("l_returnflag", "n_lines", "s1", "s4", "skewness",
        "excess_kurtosis")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert((r("A")._2, r("A")._3, r("A")._4) === ((3L, 6L, 98L)))
    assert(math.abs(r("A")._5) < 1e-12)
    assert(math.abs(r("A")._6 - -1.5) < 1e-12)
    assert(math.abs(r("B")._5) < 1e-12)
    assert(math.abs(r("B")._6 - -2.0) < 1e-12)
    // zero-variance group: NULL, never NaN
    val const = Relational.momentStats(
      Seq(("C", 5.0), ("C", 5.0)).zipWithIndex
        .map { case ((rf, q), i) => (1L, i, q, rf) }
        .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))
      .select("skewness", "excess_kurtosis")
      .as[(Option[Double], Option[Double])].collect().head
    assert(const === ((None, None)))
  }

  test("modalQuantity: most frequent value wins, smallest on ties, " +
      "share divides exact counts") {
    val df = Seq(("A", 5.0), ("A", 5.0), ("A", 7.0),
      ("B", 1.0), ("B", 2.0)) // B: tie -> smallest qty wins
      .zipWithIndex.map { case ((rf, q), i) => (1L, i, q, rf) }
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    val r = Relational.modalQuantity(df)
      .select("l_returnflag", "mode_qty", "n_at_mode", "n_total",
        "mode_share")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(r === Set(
      ("A", 5L, 2L, 3L, 2.0 / 3),
      ("B", 1L, 1L, 2L, 0.5)))
  }

  test("hllOverlap: inclusion-exclusion intersection within sketch error") {
    val row = Relational.hllOverlap(
      graft.Tables.orders(spark, "/root/testdata/sf0.001")).collect().head
    val (estA, estB, estU, estI) = (row.getAs[Long]("est_a").toDouble,
      row.getAs[Long]("est_b").toDouble,
      row.getAs[Long]("est_union").toDouble,
      row.getAs[Long]("est_intersect").toDouble)
    val (exA, exB, exI) = (row.getAs[Long]("exact_a"),
      row.getAs[Long]("exact_b"), row.getAs[Long]("exact_intersect"))
    // per-population sketches carry standard HLL error
    assert(math.abs(estA - exA) <= 0.05 * exA, s"est_a $estA vs $exA")
    assert(math.abs(estB - exB) <= 0.05 * exB, s"est_b $estB vs $exB")
    // union never below either side; inclusion-exclusion intersection
    // inherits three estimates' error — looser gate, but must land
    // in the right ballpark of the exact semi-join overlap
    assert(estU >= math.max(estA, estB) * 0.95)
    assert(exI > 0, "fixture years must share repeat customers")
    assert(math.abs(estI - exI) <= 0.25 * exI + 3.0,
      s"est_intersect $estI vs exact $exI")
  }

  test("shippingPriority: segment + both date cuts enforced, exact e4 " +
      "revenue, deterministic cut order") {
    def mkLi(rows: (Long, Double, Double, String)*) =
      rows.zipWithIndex.map { case ((ok, price, disc, ship), i) =>
        (ok, 1L, 1L, i + 1, 1.0, price, disc, 0.0, "N", "O",
          ts(s"$ship 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val cust = Seq(
      (1L, "a", 0, 0.0, "BUILDING"), (2L, "b", 0, 0.0, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    val ord = Seq(
      (10L, 1L, "O", 1.0, ts("1996-03-01 00:00:00"), "x"), // qualifies
      (11L, 1L, "O", 1.0, ts("1996-04-01 00:00:00"), "x"), // too late
      (12L, 2L, "O", 1.0, ts("1996-03-01 00:00:00"), "x")) // wrong seg
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val lines = mkLi(
      (10L, 100.0, 0.1, "1996-04-01"),  // 90.0000 -> 900000 e4
      (10L, 50.0, 0.0, "1996-05-01"),   // +50 -> 1400000 e4
      (10L, 999.0, 0.0, "1996-01-01"),  // shipped before cutoff: excluded
      (11L, 10.0, 0.0, "1996-05-01"), (12L, 10.0, 0.0, "1996-05-01"))
    val r = Relational.shippingPriority(cust, ord, lines)
      .select("l_orderkey", "o_orderdate", "revenue_e4", "revenue")
      .as[(Long, String, Long, Double)].collect()
    assert(r.toSeq === Seq((10L, "1996-03-01", 1400000L, 140.0)))
  }

  test("localSupplierVolume: only same-nation customer/supplier pairs " +
      "inside the region and year contribute") {
    val region = Seq((0, "ASIA"), (1, "EUROPE"))
      .toDF("r_regionkey", "r_name")
    val nation = Seq((0, "JAPAN", 0), (1, "CHINA", 0), (2, "FRANCE", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val cust = Seq(
      (1L, "c1", 0, 0.0, "X"), (2L, "c2", 1, 0.0, "X"),
      (3L, "c3", 2, 0.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    val supp = Seq((1L, "s1", 0, 0.0), (2L, "s2", 1, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val ord = Seq(
      (10L, 1L, "O", 1.0, ts("1996-06-01 00:00:00"), "x"),
      (11L, 2L, "O", 1.0, ts("1996-06-01 00:00:00"), "x"),
      (12L, 1L, "O", 1.0, ts("1995-06-01 00:00:00"), "x"), // wrong year
      (13L, 3L, "O", 1.0, ts("1996-06-01 00:00:00"), "x")) // EUROPE cust
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    def line(ok: Long, sk: Long, price: Double, disc: Double, ln: Int) =
      (ok, 1L, sk, ln, 1.0, price, disc, 0.0, "N", "O",
        ts("1996-06-02 00:00:00"))
    val lines = Seq(
      line(10L, 1L, 200.0, 0.5, 1),  // JAPAN local: 100.0
      line(10L, 2L, 77.0, 0.0, 2),   // supplier in CHINA: not local
      line(11L, 2L, 30.0, 0.0, 1),   // CHINA local: 30.0
      line(12L, 1L, 999.0, 0.0, 1),  // wrong year
      line(13L, 1L, 999.0, 0.0, 1))  // customer outside region
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val r = Relational.localSupplierVolume(region, nation, cust, supp,
        ord, lines)
      .select("n_name", "revenue_e4", "revenue")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(r.toSeq === Seq(("CHINA", 300000L, 30.0),
      ("JAPAN", 1000000L, 100.0)))
  }

  test("revenue_e4 is order-invariant: bit-identical under 1 vs 64 input " +
      "partitions (the proof a double-sum-then-round cannot pass)") {
    // Real sf0.001 rows PLUS an adversarial block of ULP-noisy prices
    // (x.x5 cents at e2 with nonzero discounts), so a float accumulation
    // would sit near rounding boundaries.
    val real = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val noisy = (1 to 20000).map { i =>
      (100000L + i, 1L, 1L, 1, 1.0, 0.01 * i + 0.005, (i % 11) * 0.01,
        0.0, "N", "O", ts("1997-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val all = real.select(noisy.columns.map(c => $"$c"): _*).union(noisy)
    def run(parts: Int) =
      Relational.pricingSummary(all.repartition(parts))
        .select("l_returnflag", "l_linestatus", "revenue_e4")
        .collect().map(_.toSeq).sortBy(_.toString)
    assert(run(1).toSeq === run(64).toSeq,
      "per-row e4 integer sum must be partition-permutation invariant")
  }

  private def liQ(rows: (Long, Long, Double, Double, Double, String, String)*) =
    rows.map { case (ok, pk, qty, price, disc, rf, ship) =>
      (ok, pk, 1L, 1, qty, price, disc, 0.0, rf, "O",
        ts(s"$ship 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")

  private def ordQ(rows: (Long, Long, String, String)*) =
    rows.map { case (ok, ck, st, date) =>
      (ok, ck, st, 100.0, ts(s"$date 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")

  private def custQ(rows: (Long, Long, Double)*) =
    rows.map { case (ck, nk, bal) => (ck, s"c$ck", nk, bal, "BUILDING") }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")

  test("returnedItemReport: only R-flag lines in the quarter count; " +
      "top-k plans as TakeOrderedAndProject") {
    val nation = Seq((1L, "FRANCE", 1L)).toDF("n_nationkey", "n_name",
      "n_regionkey")
    val cust = custQ((10L, 1L, 12.34), (11L, 1L, 0.0))
    val ord = ordQ((1L, 10L, "O", "1996-11-01"),  // in quarter
      (2L, 11L, "O", "1997-02-01"),               // out of quarter
      (3L, 10L, "O", "1996-12-01"))               // in quarter, no R line
    val lines = liQ(
      (1L, 1L, 1.0, 10.00, 0.10, "R", "1996-11-05"),
      (2L, 1L, 1.0, 99.00, 0.00, "R", "1997-02-05"),
      (3L, 1L, 1.0, 50.00, 0.00, "N", "1996-12-05"))
    val q = Relational.returnedItemReport(cust, ord, lines, nation)
    val r = q.collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("c_custkey") === 10L)
    assert(r.head.getAs[Long]("revenue_e4") === 1000L * 90L)
    assert(r.head.getAs[Long]("acctbal_cents") === 1234L)
    // Plan shape on real input (on the toy rows above the optimizer can
    // PROVE maxRows <= 20 and erases the Limit, so no TakeOrdered node
    // exists there — that's EliminateLimits working, not a regression).
    val d = "/root/testdata/sf0.001"
    val qp = Relational.returnedItemReport(graft.Tables.customer(spark, d),
      graft.Tables.orders(spark, d), graft.Tables.lineitem(spark, d),
      graft.Tables.nation(spark, d))
    qp.collect()
    assert(qp.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "top-20 cut must be per-partition heaps, not a global sort")
  }

  test("customerOrderDistribution: zero-order customers land in the " +
      "k=0 bucket and join-condition status filter is not a WHERE") {
    val cust = custQ((1L, 1L, 0.0), (2L, 1L, 0.0), (3L, 1L, 0.0))
    // cust 1: two O orders; cust 2: only an F order (must count as 0);
    // cust 3: no orders at all (must count as 0).
    val ord = ordQ((1L, 1L, "O", "1996-01-01"), (2L, 1L, "O", "1996-01-02"),
      (3L, 2L, "F", "1996-01-03"))
    val r = Relational.customerOrderDistribution(cust, ord)
      .as[(Long, Long)].collect().toSeq
    assert(r === Seq((0L, 2L), (2L, 1L)))
  }

  test("promoRevenue: conditional e4 ratio over the ship month only") {
    val pt = Seq((1L, "p", "Brand#1", "PROMO", 1, 1.0),
        (2L, "p", "Brand#1", "STANDARD", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
    val lines = liQ(
      (1L, 1L, 1.0, 30.00, 0.00, "N", "1996-09-10"), // promo, in month
      (2L, 2L, 1.0, 10.00, 0.00, "N", "1996-09-20"), // standard, in month
      (3L, 1L, 1.0, 99.00, 0.00, "N", "1996-10-01")) // out of month
    val r = Relational.promoRevenue(lines, pt).collect().head
    assert(r.getAs[Long]("promo_e4") === 300000L)
    assert(r.getAs[Long]("total_e4") === 400000L)
    assert(r.getAs[Double]("promo_pct") === 75.0)
  }

  test("largeOrders: threshold on total quantity, one lineitem scan") {
    val cust = custQ((10L, 1L, 0.0))
    val ord = ordQ((1L, 10L, "O", "1996-01-01"), (2L, 10L, "O", "1996-01-02"))
    val lines = liQ(
      (1L, 1L, 200.0, 1.00, 0.0, "N", "1996-01-05"),
      (1L, 1L, 150.0, 1.00, 0.0, "N", "1996-01-06"), // order 1: 350 > 300
      (2L, 1L, 299.0, 1.00, 0.0, "N", "1996-01-07")) // order 2: under
    val q = Relational.largeOrders(cust, ord, lines)
    val r = q.collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("o_orderkey") === 1L)
    assert(r.head.getAs[Long]("total_qty") === 350L)
    // the aggregate is reused — exactly one lineitem-shaped scan
    assert(q.queryExecution.optimizedPlan.collectLeaves().size === 3,
      "q18 must not re-scan lineitem for the quantity sum")
  }

  test("disjunctiveRevenue: each arm admits only its own (brand, size, " +
      "qty) box") {
    def part(pk: Long, brand: String, size: Int) =
      (pk, "p", brand, "STANDARD", size, 1.0)
    val pt = Seq(part(1L, "Brand#12", 10), part(2L, "Brand#23", 18),
        part(3L, "Brand#34", 24), part(4L, "Brand#12", 40),
        part(5L, "Brand#99", 5))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
    val lines = liQ(
      (1L, 1L, 5.0, 10.00, 0.0, "N", "1996-01-01"),  // arm 1: qty 5 in 1..11
      (2L, 2L, 15.0, 20.00, 0.0, "N", "1996-01-01"), // arm 2: qty 15 in 10..20
      (3L, 3L, 25.0, 40.00, 0.0, "N", "1996-01-01"), // arm 3: qty 25 in 20..30
      (4L, 1L, 50.0, 80.00, 0.0, "N", "1996-01-01"), // arm 1 brand, qty out
      (5L, 4L, 5.0, 160.00, 0.0, "N", "1996-01-01"), // size 40 out of range
      (6L, 5L, 5.0, 320.00, 0.0, "N", "1996-01-01")) // brand out
    val r = Relational.disjunctiveRevenue(lines, pt).collect().head
    assert(r.getAs[Long]("revenue_e4") === (1000L + 2000L + 4000L) * 100L)
  }

  test("forecastRevenue: all three range predicates gate the aggregate") {
    val lines = liQ(
      (1L, 1L, 10.0, 100.00, 0.06, "N", "1996-05-01"), // qualifies
      (2L, 1L, 24.0, 100.00, 0.06, "N", "1996-05-01"), // qty at cap: out
      (3L, 1L, 10.0, 100.00, 0.04, "N", "1996-05-01"), // discount low: out
      (4L, 1L, 10.0, 100.00, 0.06, "N", "1997-05-01")) // year out
    val r = Relational.forecastRevenue(lines).collect().head
    assert(r.getAs[Long]("n_lines") === 1L)
    assert(r.getAs[Long]("revenue_e4") === 10000L * 94L)
  }

  test("tradeVolume: only cross-region pairs in either direction " +
      "contribute; same-region flows are excluded") {
    val region = Seq((1L, "ASIA"), (2L, "AMERICA"), (3L, "EUROPE"))
      .toDF("r_regionkey", "r_name")
    val nation = Seq((1L, "N1", 1L), (2L, "N2", 2L), (3L, "N3", 3L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val cust = custQ((10L, 1L, 0.0), (20L, 2L, 0.0), (30L, 3L, 0.0))
    val supp = Seq((100L, "s", 1L, 0.0), (200L, "s", 2L, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val ord = ordQ((1L, 10L, "O", "1996-02-01"),  // ASIA customer
      (2L, 20L, "O", "1996-03-01"),               // AMERICA customer
      (3L, 30L, "O", "1996-04-01"))               // EUROPE customer
    // supplier 100 = ASIA, 200 = AMERICA
    val lines = Seq(
      (1L, 200L, 10.00, "1996-02-05"), // AMERICA -> ASIA: counts
      (2L, 100L, 20.00, "1996-03-05"), // ASIA -> AMERICA: counts
      (2L, 200L, 40.00, "1996-03-06"), // AMERICA -> AMERICA: excluded
      (3L, 100L, 80.00, "1996-04-05")) // ASIA -> EUROPE cust: excluded
      .map { case (ok, sk, price, ship) =>
        (ok, 1L, sk, 1, 1.0, price, 0.0, 0.0, "N", "O",
          ts(s"$ship 00:00:00")) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val r = Relational.tradeVolume(region, nation, cust, supp, ord, lines)
      .select("supp_region", "cust_region", "l_year", "revenue_e4")
      .as[(String, String, Int, Long)].collect().toSet
    assert(r === Set(
      ("AMERICA", "ASIA", 1996, 100000L),
      ("ASIA", "AMERICA", 1996, 200000L)))
  }

  test("marketShare: per-year target share is the exact conditional " +
      "ratio over the market region only") {
    val region = Seq((1L, "AMERICA"), (2L, "ASIA"))
      .toDF("r_regionkey", "r_name")
    val nation = Seq((3L, "NATION_3", 1L), (4L, "NATION_4", 1L),
        (5L, "NATION_5", 2L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    // cust 10 in AMERICA (nation 4); cust 20 in ASIA (excluded market)
    val cust = custQ((10L, 4L, 0.0), (20L, 5L, 0.0))
    // supplier 100 = target nation 3, supplier 200 = nation 4
    val supp = Seq((100L, "s", 3L, 0.0), (200L, "s", 4L, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val ord = ordQ((1L, 10L, "O", "1995-06-01"),
      (2L, 10L, "O", "1996-06-01"), (3L, 20L, "O", "1995-07-01"))
    val lines = Seq(
      (1L, 100L, 30.00), // 1995, target
      (1L, 200L, 10.00), // 1995, non-target
      (2L, 200L, 50.00), // 1996, non-target only
      (3L, 100L, 99.00)) // ASIA customer: excluded entirely
      .map { case (ok, sk, price) =>
        (ok, 1L, sk, 1, 1.0, price, 0.0, 0.0, "N", "O",
          ts("1995-06-05 00:00:00")) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val r = Relational.marketShare(region, nation, cust, supp, ord, lines)
      .select("o_year", "target_e4", "total_e4", "mkt_share")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(r === Seq(
      (1995, 300000L, 400000L, 0.75),
      (1996, 0L, 500000L, 0.0)))
  }

  test("smallQtyRevenue: the exact integer threshold admits only rows " +
      "under 20% of their part's average quantity") {
    val pt = Seq((1L, "p", "Brand#23", "STANDARD", 1, 1.0),
        (2L, "p", "Brand#99", "STANDARD", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
    // part 1: quantities 1, 49, 50 -> sum 100, n 3; threshold qty*15<100
    // -> qty <= 6 qualifies (only the 1)
    val lines = liQ(
      (1L, 1L, 1.0, 10.00, 0.0, "N", "1996-01-01"),
      (2L, 1L, 49.0, 20.00, 0.0, "N", "1996-01-01"),
      (3L, 1L, 50.0, 40.00, 0.0, "N", "1996-01-01"),
      (4L, 2L, 1.0, 80.00, 0.0, "N", "1996-01-01")) // wrong brand
    val r = Relational.smallQtyRevenue(lines, pt).collect().head
    assert(r.getAs[Long]("n_lines") === 1L)
    assert(r.getAs[Long]("revenue_e4") === 1000L * 100L)
  }

  test("smallQtyRevenue: brand-restricting the per-part aggregate is " +
      "output-identical to aggregating all of lineitem, and the plan " +
      "carries the semi-join on BOTH lineitem branches") {
    val pt = Seq((1L, "p", "Brand#23", "STANDARD", 1, 1.0),
        (2L, "p", "Brand#99", "STANDARD", 1, 1.0),
        (3L, "p", "Brand#23", "STANDARD", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
    // part 2 (wrong brand) has qualifying-shaped rows that MUST NOT
    // leak into either side; part 3 has a qualifier and a non-qualifier
    val lines = liQ(
      (1L, 1L, 1.0, 10.00, 0.0, "N", "1996-01-01"),
      (2L, 1L, 49.0, 20.00, 0.0, "N", "1996-01-01"),
      (3L, 1L, 50.0, 40.00, 0.0, "N", "1996-01-01"),
      (4L, 2L, 1.0, 80.00, 0.0, "N", "1996-01-01"),
      (5L, 2L, 99.0, 80.00, 0.0, "N", "1996-01-01"),
      (6L, 3L, 2.0, 30.00, 0.0, "N", "1996-01-01"),
      (7L, 3L, 98.0, 30.00, 0.0, "N", "1996-01-01"))
    val q = Relational.smallQtyRevenue(lines, pt)
    // the pre-r17 shape: perPart over the UNRESTRICTED lineitem — the
    // inner join back to brand-only fact rows makes the restriction
    // invisible in the output (the identity the rewrite relies on)
    val perPartAll = lines.groupBy(col("l_partkey").as("pk"))
      .agg(round(sum("l_quantity")).cast("long").as("sq"),
        count(lit(1)).as("nq"))
    val brandKeys = pt.filter(col("p_brand") === Relational.Q17Brand)
      .select("p_partkey")
    val old = lines
      .join(brandKeys, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(perPartAll, col("l_partkey") === col("pk"))
      .filter(round(col("l_quantity")).cast("long") * 5L * col("nq") <
        col("sq"))
      .agg(count(lit(1)).as("n_lines"))
      .collect().head.getAs[Long]("n_lines")
    val rNew = q.collect().head
    assert(rNew.getAs[Long]("n_lines") === old)
    assert(rNew.getAs[Long]("n_lines") === 2L) // parts 1 and 3 only
    // plan pin: both lineitem branches (aggregate side AND fact side)
    // sit above a brand semi-join, and no extra scans appeared
    val plan = q.queryExecution.optimizedPlan
    val semiJoins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semiJoins.size === 2,
      "both the per-part aggregate and the fact side must consume the " +
        "brand-restricted stream")
    assert(plan.collectLeaves().size === 4,
      "2 lineitem + 2 brand-key scans, nothing more")
    val aggAboveSemi = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.nonEmpty &&
          a.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
          }.nonEmpty => a
    }
    assert(aggAboveSemi.nonEmpty,
      "the per-part aggregate must scan only the brand's rows")
  }

  test("topSupplier: exact-integer scalar max admits ALL tied suppliers, " +
      "window bounds ship dates, and the revenue view is not recomputed") {
    val supp = Seq((1L, "s1", 1L, 0.0), (2L, "s2", 1L, 0.0),
        (3L, "s3", 1L, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    // suppliers 1 and 2 tie at exactly 50.00 revenue in-window;
    // supplier 3 is higher but ships OUTSIDE the 3-month window
    val lines = liQ(
      (1L, 1L, 1.0, 25.00, 0.0, "N", "1996-01-15"),
      (2L, 1L, 1.0, 25.00, 0.0, "N", "1996-03-31"),
      (3L, 1L, 1.0, 50.00, 0.0, "N", "1996-02-10"),
      (4L, 1L, 1.0, 99.00, 0.0, "N", "1996-04-01"), // out of window
      (5L, 1L, 1.0, 99.00, 0.0, "N", "1995-12-31")) // out of window
      .withColumn("l_suppkey",
        when(col("l_orderkey") <= 2L, 1L)
          .when(col("l_orderkey") === 3L, 2L).otherwise(3L))
    val q = Relational.topSupplier(supp, lines)
    val r = q.collect()
    assert(r.map(_.getAs[Long]("s_suppkey")).toSeq === Seq(1L, 2L))
    assert(r.forall(_.getAs[Long]("total_revenue_e4") === 500000L))
    assert(r.forall(_.getAs[Double]("total_revenue") === 50.0))
    // the revenue view is checkpoint-materialized: no consumer re-runs
    // the fact aggregate (no lineitem-shaped leaf survives in the plan)
    val leaves = q.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.count(_.output.exists(_.name == "l_shipdate")) === 0,
      "both the scalar max and the probe must read the materialized view")
  }

  test("dormantRichCustomers: integer threshold above positive-average " +
      "balance, anti-joined on recent orders") {
    // positive balances: 100.00 and 300.00 -> avg 200.00; negative ignored
    val cust = custQ((1L, 1L, 100.0), (2L, 1L, 300.0), (3L, 2L, -50.0),
      (4L, 2L, 250.0))
    // cust 2 (rich) ordered recently -> excluded; cust 4 (rich, nation 2,
    // old order only) -> dormant; cust 1 below threshold.
    val ord = ordQ((1L, 2L, "O", "2001-05-01"), (2L, 4L, "O", "1999-05-01"))
    val r = Relational.dormantRichCustomers(cust, ord)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r === Seq((2L, 1L, 25000L)))
  }
}
