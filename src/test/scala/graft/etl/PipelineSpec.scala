package graft.etl

import graft.SparkSpec
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, TimeoutException}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.etl.Pipeline.CheckResult

class PipelineSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("full medallion run on sf0.001: all stages written, checks pass") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val checks = Pipeline.runAll(spark, sf, out)
    assert(checks.nonEmpty)
    assert(checks.forall(_.passed))
    // 6 silver + 6 gold non-empty checks plus key checks
    assert(checks.count(_.check == "non_empty") === 12)
    assert(checks.count(_.check.startsWith("pk_unique")) === 5)
  }

  test("reference-parity JDBC medallion: bronze->silver->gold entirely " +
      "through an embedded Derby store; gold equals the parquet-path gold") {
    val dbDir = Files.createTempDirectory("graft_pipe_derby").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val goldTables = Pipeline.runAllJdbc(spark, sf, url)
    assert(goldTables.size === 6)
    // the parquet-path gold (the registered, oracle-verified surface)
    val out = Files.createTempDirectory("graft_pipe_parquet").toString
    val parquetGold = Pipeline.runGold(spark, sf, out)
      .map(r => s"gold_${r.table}" -> r.path).toMap
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.collect().toSeq
        .map(_.toSeq.map(v => String.valueOf(v)))
        .sortBy(_.mkString(""))
    goldTables.foreach { t =>
      val viaDb = spark.read.format("jdbc").option("url", url)
        .option("dbtable", t).load()
      val viaParquet = spark.read.parquet(parquetGold(t))
      assert(viaDb.columns.toSeq === viaParquet.columns.toSeq,
        s"$t column drift")
      assert(rows(viaDb) === rows(viaParquet), s"$t value drift")
      assert(viaDb.count() > 0, s"$t empty")
    }
    // the silver zone also lives in the DB (the reference's to_silver
    // writes it there) — spot-check one table round-tripped
    val silverOrders = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "silver_orders").load()
    assert(silverOrders.count() ===
      Silver.orders(spark, sf).count())
  }

  /** Writes a hand-made validation fixture: silver `orders` keyed with a
    * duplicate and two null keys, a clean keyed silver `customer`, and an
    * empty gold `daily_sales`.
    */
  private def dirtyZones(out: String): Unit = {
    import spark.implicits._
    Seq[Option[Long]](Some(1L), Some(1L), None, None, Some(2L))
      .toDF("o_orderkey").write.parquet(s"$out/silver/orders")
    Seq(1L, 2L, 3L).toDF("c_custkey").write.parquet(s"$out/silver/customer")
    Seq.empty[Long].toDF("d").write.parquet(s"$out/gold/daily_sales")
  }

  test("validate: exact verdicts on dirty, clean and empty tables") {
    val out = Files.createTempDirectory("graft_pipe_checks").toString
    dirtyZones(out)
    assert(Pipeline.validate(spark, out) === Seq(
      CheckResult("silver", "customer", "non_empty", true, "rows=3"),
      CheckResult("silver", "customer", "pk_unique(c_custkey)", true,
        "distinct=3 rows=3"),
      CheckResult("silver", "customer", "pk_not_null(c_custkey)", true,
        "nulls=0"),
      CheckResult("silver", "orders", "non_empty", true, "rows=5"),
      CheckResult("silver", "orders", "pk_unique(o_orderkey)", false,
        "distinct=3 rows=5"),
      CheckResult("silver", "orders", "pk_not_null(o_orderkey)", false,
        "nulls=2"),
      CheckResult("gold", "daily_sales", "non_empty", false, "rows=0")))
  }

  test("runAll names every failed table/check pair") {
    val out = Files.createTempDirectory("graft_pipe_fail").toString
    // runAll rewrites the twelve zone tables; these extra ones stay empty
    import spark.implicits._
    Seq.empty[Long].toDF("d").write.parquet(s"$out/silver/zz_empty")
    Seq.empty[Long].toDF("d").write.parquet(s"$out/gold/aa_empty")
    val e = intercept[IllegalArgumentException](Pipeline.runAll(spark, sf, out))
    assert(e.getMessage === "requirement failed: validation failed: " +
      "zz_empty/non_empty, aa_empty/non_empty")
  }

  test("stage row counts observed at write time equal the rows at rest") {
    val out = Files.createTempDirectory("graft_pipe_counts").toString
    val stages = Pipeline.runSilver(spark, sf, out) ++
      Pipeline.runGold(spark, sf, out)
    assert(stages.size === 12)
    stages.foreach { s =>
      assert(s.rows === spark.read.parquet(s.path).count(),
        s"${s.zone}/${s.table}")
    }
    assert(stages.forall(_.rows > 0))
    // an empty write still reports its count (0), it does not wait forever
    import spark.implicits._
    assert(Pipeline.writeStage("gold", "none_local",
      Seq.empty[Long].toDF("d"), out).rows === 0L)
    assert(Pipeline.writeStage("gold", "none_scanned",
      spark.read.parquet(stages.head.path).filter("false"), out).rows === 0L)
  }

  test("runAll: every job of both lanes carries the caller's job group") {
    val out = Files.createTempDirectory("graft_pipe_group").toString
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Option[String], Option[Long])]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("spark.jobGroup.id"), prop("spark.sql.execution.id").map(_.toLong)))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("medallion-refresh", "lanes")
      try Pipeline.runAll(spark, sf, out) finally sc.clearJobGroup()
      // a marker job: once the listener sees it, it has seen every
      // earlier job (the listener bus delivers in order)
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.asScala.exists(_._1.contains("marker")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val run = jobs.asScala.toSeq.takeWhile(!_._1.contains("marker"))
    assert(run.nonEmpty)
    assert(run.forall(_._1.contains("medallion-refresh")),
      run.filterNot(_._1.contains("medallion-refresh")).mkString(", "))
    val silverJobs = run.filter(_._2.exists(id =>
      Option(plans.get(id)).exists(_.contains(s"$out/silver/"))))
    assert(silverJobs.nonEmpty, "no silver-lane job observed")
  }

  test("runAll rethrows a failed silver lane's own exception after gold ends") {
    // nation is read by silver (part's nation join) and by no gold table
    val bad = Files.createTempDirectory("graft_pipe_badsf").toString
    new File(sf).listFiles().foreach { f =>
      val to = Paths.get(bad, f.getName)
      if (f.getName == "nation.parquet")
        Files.write(to, "not a parquet file".getBytes("UTF-8"))
      else Files.createSymbolicLink(to, f.toPath.toAbsolutePath)
    }
    val out = Files.createTempDirectory("graft_pipe_lanefail").toString
    val e = intercept[Throwable](Pipeline.runAll(spark, bad, out))
    assert(!e.isInstanceOf[ExecutionException] &&
      !e.isInstanceOf[TimeoutException], e.toString)
    assert(e.getMessage.contains("nation.parquet"), e.getMessage)
    Seq("daily_sales", "customer_metrics", "product_performance",
      "seller_performance", "satisfaction_metrics",
      "delivery_performance").foreach { t =>
      assert(new File(s"$out/gold/$t/_SUCCESS").isFile, s"gold/$t unfinished")
    }
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }
}
