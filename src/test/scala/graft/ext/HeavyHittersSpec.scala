package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("frequent == exact groupBy/having on a skewed stream, regardless " +
      "of partitioning") {
    // 10k items: "hot" 30%, "warm" 5%, long tail of singletons
    val items = (Seq.fill(3000)("hot") ++ Seq.fill(500)("warm") ++
      (0 until 6500).map(i => s"t$i"))
    Seq(1, 4, 13).foreach { parts =>
      val df = spark.sparkContext.parallelize(items, parts).toDF("item")
      val got = HeavyHitters.frequent(df, minFrac = 0.04, slots = 64)
        .select("item", "cnt").as[(String, Long)].collect().toSet
      assert(got === Set(("hot", 3000L), ("warm", 500L)),
        s"with $parts partitions")
    }
  }

  test("threshold boundary: an item exactly AT ceil(minFrac*total) is kept") {
    // total 100, minFrac 0.05 -> ceil = 5; "edge" has exactly 5
    val items = Seq.fill(5)("edge") ++ (0 until 95).map(i => s"u$i")
    val df = items.toDF("item")
    val got = HeavyHitters.frequent(df, 0.05, slots = 200)
      .select("item").as[String].collect().toSet
    assert(got.contains("edge"))
  }

  test("frac is the exact IEEE division of exact counts") {
    val df = (Seq.fill(10)("x") ++ Seq.fill(30)("y")).toDF("item")
    val got = HeavyHitters.frequent(df, 0.2, slots = 8)
      .select("item", "frac").as[(String, Double)].collect().toMap
    assert(got("x") === 10.0 / 40 && got("y") === 30.0 / 40)
  }

  test("under-provisioned slots are rejected loudly") {
    val df = Seq("a").toDF("item")
    val ex = intercept[IllegalArgumentException] {
      HeavyHitters.frequent(df, 0.001, slots = 10)
    }
    assert(ex.getMessage.contains("Misra-Gries"))
  }

  test("countMinEstimates: estimate >= true count, exact when collision-free") {
    import spark.implicits._
    // tiny vocab (3 tokens in 1024 counters): collisions are possible but
    // the CMS invariant est >= true must hold row by row; with the min
    // over 4 independent rows, 3 tokens almost surely see one clean row
    val docs = Seq(
      (1L, "a a a b b c"), (2L, "a b c c"))
      .toDF("doc_id", "text")
    val r = HeavyHitters.countMinEstimates(docs, topK = 3)
      .select("token", "true_cnt", "cms_est", "overcount")
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(r.keySet === Set("a", "b", "c"))
    assert(r("a")._2 === 4L && r("b")._2 === 3L && r("c")._2 === 3L)
    r.values.foreach { case (tok, t, e, o) =>
      assert(e >= t, s"$tok: CMS estimate $e below true $t")
      assert(o === e - t)
    }
  }

  test("countMinEstimates: overcount reflects forced collisions exactly") {
    import spark.implicits._
    // stream where one token dominates: whatever shares any counter with
    // it inherits its mass; the min-over-rows must still bound every
    // estimate by true + (total - true) (all colliding mass)
    val docs = Seq((1L, ("x " * 50 + "y z w v u t s q p o n m l k j")
      .trim)).toDF("doc_id", "text")
    val r = HeavyHitters.countMinEstimates(docs, topK = 15)
      .select("token", "true_cnt", "cms_est").as[(String, Long, Long)]
      .collect()
    val total = r.map(_._2).sum
    r.foreach { case (tok, t, e) =>
      assert(e >= t && e <= total, s"$tok: est $e outside [$t, $total]")
    }
  }

  test("countMinWidthSweep: width 1 collapses to the grand total, a wide " +
      "sketch is collision-free") {
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val r = HeavyHitters.countMinWidthSweep(docs,
        widths = Seq(1, 1 << 20), topK = 3)
      .select("width", "token", "true_cnt", "cms_est", "overcount")
      .as[(Long, String, Long, Long, Long)].collect()
    val byWidth = r.groupBy(_._1)
    // width 1: every counter is the 6-token grand total
    byWidth(1L).foreach { case (_, tok, t, e, o) =>
      assert(e === 6L && o === 6L - t, s"$tok at width 1")
    }
    // 2^20 slots for 3 tokens: md5-derived positions collide with
    // probability ~0 — pinned by this fixture forever
    byWidth(1L << 20).foreach { case (_, tok, t, e, o) =>
      assert(e === t && o === 0L, s"$tok at wide width")
    }
    // every estimate upper-bounds truth at every width
    r.foreach { case (w, tok, t, e, _) =>
      assert(e >= t, s"$tok at width $w")
    }
  }

  test("frequentTokens over testdata matches brute force") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = HeavyHitters.frequentTokens(docs, 0.002)
      .select("token", "cnt").as[(String, Long)].collect().toSet
    val tok = docs.select(explode(split(col("text"), " ")).as("token"))
    val total = tok.count()
    val want = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= math.ceil(0.002 * total))
      .as[(String, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }
}
