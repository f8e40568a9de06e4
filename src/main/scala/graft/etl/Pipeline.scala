package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Bronze

/** End-to-end medallion pipeline — the reference's Airflow DAG collapsed
  * into in-process composition (SURVEY.md §2.10 O1-O4): bronze (parquet
  * at rest) → silver (cleansed) and gold (analytics), in ONE
  * SparkSession, followed by REAL validation (the reference's
  * validation task is an `echo` stub, reference `dags/dag.py:73-77`, and
  * every stage swallows its own failures via try/except print —
  * `to_bronze.py:52-53` — which this pipeline deliberately does not:
  * failures propagate).
  *
  * The reference's DAG is serial (bronze → silver → gold → validate), but
  * here gold reads the raw-shape bronze tables, not silver (the
  * registered, oracle-verified gold surface; see [[runAllJdbc]]), so the
  * two zones are independent. [[runAll]] therefore runs them as two
  * concurrent lanes — silver's six writes in order on one extra thread,
  * gold's six in order on the calling thread — and validates once both
  * have finished. The lane count is the DAG's width, not a setting; two
  * lanes fill a small `local[N]` box's idle cores between one zone's jobs
  * without the memory of running every write at once.
  *
  * Row counts are observed by each write job itself (an `Observation`),
  * not by reading the table back, and validation is one aggregate query
  * over every table at rest.
  *
  * Scale note: stages communicate through parquet paths, not driver
  * memory; each stage is an independent Spark job graph, so a scheduler
  * can retry any stage idempotently (overwrite semantics).
  */
object Pipeline {

  case class StageResult(zone: String, table: String, rows: Long,
      path: String)

  /** Writes `df` to `$outDir/<zone>/<table>` and counts its rows in the
    * same job: the count is an `Observation` on the written frame, read
    * once the write has returned.
    */
  private[graft] def writeStage(zone: String, table: String, df: DataFrame,
      outDir: String): StageResult = {
    val path = s"$outDir/$zone/$table"
    val written = Observation()
    Bronze.writeParquet(df.observe(written, count(lit(1)).as("rows")), path)
    StageResult(zone, table, written.get("rows").asInstanceOf[Long], path)
  }

  /** Silver zone: cleansed tables written to `$outDir/silver/<t>`. */
  def runSilver(spark: SparkSession, sfDir: String,
      outDir: String): Seq[StageResult] = {
    val stages: Seq[(String, DataFrame)] = Seq(
      "orders"   -> Silver.orders(spark, sfDir),
      "customer" -> Silver.customer(spark, sfDir),
      "lineitem" -> Silver.lineitem(spark, sfDir),
      "part"     -> Silver.part(spark, sfDir),
      "supplier" -> Silver.supplier(spark, sfDir),
      "events"   -> Silver.events(spark, sfDir))
    stages.map { case (name, df) => writeStage("silver", name, df, outDir) }
  }

  /** Gold zone: analytics tables written to `$outDir/gold/<t>`. */
  def runGold(spark: SparkSession, sfDir: String,
      outDir: String): Seq[StageResult] = {
    val stages: Seq[(String, DataFrame)] = Seq(
      "daily_sales"          -> Gold.dailySales(spark, sfDir),
      "customer_metrics"     -> Gold.customerMetrics(spark, sfDir),
      "product_performance"  -> Gold.productPerformance(spark, sfDir),
      "seller_performance"   -> Gold.sellerPerformance(spark, sfDir),
      "satisfaction_metrics" -> Gold.satisfactionMetrics(spark, sfDir),
      "delivery_performance" -> Gold.deliveryPerformance(spark, sfDir))
    stages.map { case (name, df) => writeStage("gold", name, df, outDir) }
  }

  case class CheckResult(zone: String, table: String, check: String,
      passed: Boolean, detail: String)

  /** Row and key counts of one table. `distinct` counts a null key as one
    * more value, as `select(k).distinct().count()` does.
    */
  private[graft] case class KeyStats(rows: Long, nulls: Long, distinct: Long)

  /** [[KeyStats]] of every `(name, frame, key)` from ONE query: one
    * aggregate per frame — `count(*)`, plus `count(k)` and
    * `count(DISTINCT k)` when it has a key — unioned and collected
    * together. An unkeyed frame reports 0 nulls and 0 distinct.
    */
  private[graft] def keyStats(
      tables: Seq[(String, DataFrame, Option[String])]): Map[String, KeyStats] =
    if (tables.isEmpty) Map.empty
    else tables.map { case (name, df, key) =>
      val (nonNull, distinct) = key match {
        case Some(k) => (count(col(k)), count_distinct(col(k)))
        case None    => (count(lit(1)), lit(0L))
      }
      df.agg(lit(name), count(lit(1)), nonNull, distinct)
    }.reduce(_ union _).collect().map { r =>
      val rows = r.getLong(1)
      val nulls = rows - r.getLong(2)
      r.getString(0) ->
        KeyStats(rows, nulls, r.getLong(3) + (if (nulls > 0) 1L else 0L))
    }.toMap

  /** REAL validation (replaces the reference's echo stub): non-emptiness,
    * primary-key uniqueness, and non-null key constraints per zone, over
    * the tables at rest under `outDir`, all counted by one query.
    */
  def validate(spark: SparkSession, outDir: String): Seq[CheckResult] = {
    val keys = Map(
      ("silver", "orders")   -> "o_orderkey",
      ("silver", "customer") -> "c_custkey",
      ("silver", "part")     -> "p_partkey",
      ("silver", "supplier") -> "s_suppkey",
      ("silver", "events")   -> "event_id")
    val tables = Seq("silver", "gold").flatMap { zone =>
      new java.io.File(s"$outDir/$zone").listFiles().toSeq
        .sortBy(_.getName).map(dir => (zone, dir))
    }
    val stats = keyStats(tables.map { case (zone, dir) =>
      (s"$zone/${dir.getName}", spark.read.parquet(dir.getPath),
        keys.get((zone, dir.getName)))
    })
    tables.flatMap { case (zone, dir) =>
      val table = dir.getName
      val KeyStats(n, nulls, distinct) = stats(s"$zone/$table")
      val nonEmpty = CheckResult(zone, table, "non_empty", n > 0, s"rows=$n")
      val keyChecks = keys.get((zone, table)).toSeq.flatMap { k =>
        Seq(
          CheckResult(zone, table, s"pk_unique($k)", distinct == n,
            s"distinct=$distinct rows=$n"),
          CheckResult(zone, table, s"pk_not_null($k)", nulls == 0,
            s"nulls=$nulls"))
      }
      nonEmpty +: keyChecks
    }
  }

  /** Full run: the silver and gold lanes concurrently, then validate;
    * throws if a lane or any check fails.
    */
  def runAll(spark: SparkSession, sfDir: String,
      outDir: String): Seq[CheckResult] = {
    alongside(runSilver(spark, sfDir, outDir))(runGold(spark, sfDir, outDir))
    val checks = validate(spark, outDir)
    val failed = checks.filterNot(_.passed)
    require(failed.isEmpty,
      s"validation failed: ${failed.map(c => s"${c.table}/${c.check}").mkString(", ")}")
    checks
  }

  /** Runs `lane` on one new thread while `main` runs on this one, and
    * returns only once both have finished. A thread created here inherits
    * this thread's Spark local properties (job group, description,
    * scheduler pool — `SparkContext`'s inheritable, cloned
    * `localProperties`) and its active session, so the lane's jobs are
    * grouped, cancelled and pooled with the caller's. A failure is
    * rethrown as the original exception, the lane's first (it is the
    * upstream zone) with the other's added as suppressed.
    */
  private def alongside(lane: => Unit)(main: => Unit): Unit = {
    @volatile var laneError: Option[Throwable] = None
    val thread = new Thread(() =>
      try lane catch { case e: Throwable => laneError = Some(e) },
      "graft-pipeline-silver")
    thread.setDaemon(true)
    thread.start()
    val mainError = try { main; None } catch { case e: Throwable => Some(e) }
    var interrupted = false
    while (thread.isAlive)
      try thread.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (laneError ++ mainError).reduceOption { (first, second) =>
      first.addSuppressed(second); first
    }.foreach(e => throw e)
  }

  /** Reference-parity run with an external DATABASE as every zone's
    * store (the reference keeps bronze/silver/gold in Postgres and each
    * task reads the previous zone back from the DB, reference
    * `to_bronze.py:41-50`, `to_silver.py:22-42`, `to_gold.py:36-45`):
    * raw parquet → `bronze_<t>` → `silver_<t>` → `gold_<t>`, every hop
    * through [[Bronze.writeJdbc]] / a JDBC read of the PREVIOUS zone —
    * no stage touches the parquet fixtures after bronze.
    *
    * The gold stages consume raw-SHAPE tables (this engine's registered,
    * oracle-verified gold surface — like the reference's `to_gold`
    * SELECTing the untransformed columns), so they read the bronze zone
    * back from the DB; the silver zone is materialized and validated
    * through the DB alongside. PipelineSpec asserts every DB gold table
    * is value-identical to the parquet-path gold — the storage-fidelity
    * proof (timestamps, doubles, strings survive the JDBC round-trip).
    *
    * Returns the gold table names written (prefixed `gold_`).
    */
  def runAllJdbc(spark: SparkSession, sfDir: String,
      url: String): Seq[String] = {
    import graft.Tables
    val raw: Seq[(String, DataFrame)] = Seq(
      "orders"   -> Tables.orders(spark, sfDir),
      "customer" -> Tables.customer(spark, sfDir),
      "lineitem" -> Tables.lineitem(spark, sfDir),
      "part"     -> Tables.part(spark, sfDir),
      "supplier" -> Tables.supplier(spark, sfDir),
      "nation"   -> Tables.nation(spark, sfDir),
      "events"   -> Tables.events(spark, sfDir))
    raw.foreach { case (n, df) => Bronze.writeJdbc(df, url, s"bronze_$n") }
    def zone(z: String, n: String): DataFrame =
      spark.read.format("jdbc").option("url", url)
        .option("dbtable", s"${z}_$n").load()
    val silver: Seq[(String, DataFrame)] = Seq(
      "orders"   -> Silver.ordersStage(zone("bronze", "orders")),
      "customer" -> Silver.customerStage(zone("bronze", "customer")),
      "lineitem" -> Silver.lineitemStage(zone("bronze", "lineitem")),
      "part"     -> Silver.partStage(zone("bronze", "part"),
        zone("bronze", "nation")),
      "supplier" -> Silver.supplierStage(zone("bronze", "supplier")),
      "events"   -> Silver.eventsStage(zone("bronze", "events")))
    silver.foreach { case (n, df) => Bronze.writeJdbc(df, url, s"silver_$n") }
    val gold: Seq[(String, DataFrame)] = Seq(
      "daily_sales" -> Gold.dailySalesStage(
        zone("bronze", "lineitem"), zone("bronze", "orders")),
      "customer_metrics" -> Gold.customerMetricsStage(
        zone("bronze", "lineitem"), zone("bronze", "orders"),
        zone("bronze", "customer")),
      "product_performance" -> Gold.productPerformanceStage(
        zone("bronze", "lineitem"), zone("bronze", "part")),
      "seller_performance" -> Gold.sellerPerformanceStage(
        zone("bronze", "lineitem"), zone("bronze", "supplier"),
        zone("bronze", "orders")),
      "satisfaction_metrics" -> Gold.satisfactionMetricsStage(
        zone("bronze", "events")),
      "delivery_performance" -> Gold.deliveryPerformanceStage(
        zone("bronze", "lineitem"), zone("bronze", "orders")))
    gold.foreach { case (n, df) => Bronze.writeJdbc(df, url, s"gold_$n") }
    gold.map { case (n, _) => s"gold_$n" }
  }
}
