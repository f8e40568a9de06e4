package perfbench

import java.io.File

import graft.Bench

/** Names, units and values of the metrics the benchmark prints. Every
  * name here is declared in BENCHMARK.json (MetricNamesSpec pins that);
  * a traced run prints every per-layer name on every workload, with 0 for
  * a layer the workload does not reach.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "rows_per_s" -> "1/s", "cpu_s" -> "s", "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  val etlSpans = Seq("etl.silver", "etl.gold", "etl.validate")
  val querySpans: Seq[String] = Bench.Headline.map("query." + _)
  val kernels = Seq("ngram_ids", "ngram_strings", "minhash_sig", "ordered_pairs")

  val perLayer: Seq[(String, String)] =
    etlSpans.map(s => s"${s}_s" -> "s") ++
    Seq("etl.validate_jobs" -> "count", "etl.recount_jobs" -> "count") ++
    Workloads.Medallion.silver.map(t => s"etl.silver.${t}_s" -> "s") ++
    Workloads.Medallion.gold.map(t => s"etl.gold.${t}_s" -> "s") ++
    Seq("sources.write_s" -> "s", "sources.write_bytes" -> "bytes",
      "sources.files_written" -> "count", "sources.scan_bytes" -> "bytes",
      "sources.write_amp" -> "ratio") ++
    kernels.map(k => s"functions.${k}_rows_per_s" -> "1/s") ++
    querySpans.map(s => s"${s}_s" -> "s") ++
    (etlSpans ++ querySpans).flatMap(s =>
      Seq(s"$s.cpu_s" -> "s", s"$s.shuffle_bytes" -> "bytes")) ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_wait_s" -> "s",
      "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
      "spark.failed_tasks" -> "count", "jvm.gc_s" -> "s",
      "iteration.self_s" -> "s", "trace.overhead_s" -> "s")
}

/** Per-layer values of one traced iteration, from its spans, the
  * recorder's jobs/executions/tasks, and the zone store it wrote.
  *
  * Work inside `runSilver` and `runGold` is attributed to a table by
  * its output path: every SQL execution whose plan
  * names `<out>/<zone>/<table>` (its write and the re-read that counts
  * it) is charged to that table.
  */
object Layers {
  def of(w: Workload, out: String, inputBytes: Long, root: Span, spans: Seq[Span],
      rec: Recorder, gcSeconds: Double): Map[String, Double] = {
    val tasks = rec.tasks
    val execs = rec.executions
    val jobs = rec.jobs
    val byName = spans.groupBy(_.name).map { case (n, ss) => n -> ss.head }
    val spanIds = byName.map { case (n, s) => n -> s.id }
    def secs(ns: Long): Double = ns / 1e9
    def spanTasks(id: Int) = tasks.filter(_.span == id)
    def costs(ts: Seq[TaskCost]): (Double, Double) =
      (secs(ts.map(_.cpuNs).sum), ts.map(_.shuffleWriteBytes).sum.toDouble)
    // executions charged to `<out>/<sub>` inside span `within`
    def pathExecs(within: String, sub: String): Seq[Execution] =
      spanIds.get(within).toSeq.flatMap(id => execs.filter(x => x.span == id && x.touches(s"$out/$sub")))

    val values = Map.newBuilder[String, Double]
    def put(k: String, v: Double): Unit = values += k -> v
    def putSpan(name: String, wall: Double, ts: Seq[TaskCost]): Unit = {
      val (cpu, shuffle) = costs(ts)
      put(s"${name}_s", wall); put(s"$name.cpu_s", cpu); put(s"$name.shuffle_bytes", shuffle)
    }

    Metrics.etlSpans.foreach { n =>
      byName.get(n).foreach(s => putSpan(n, secs(s.nanos), spanTasks(s.id)))
    }
    spanIds.get("etl.validate").foreach(id => put("etl.validate_jobs", jobs.count(_._2 == id)))
    val zoneExecs = Seq("etl.silver" -> Workloads.Medallion.silver.map("silver/" + _),
      "etl.gold" -> Workloads.Medallion.gold.map("gold/" + _)).flatMap { case (span, subs) =>
      subs.map { sub =>
        val xs = pathExecs(span, sub)
        put(s"etl.${sub.replace('/', '.')}_s", xs.map(_.seconds).sum)
        xs
      }
    }
    if (w == Workloads.Medallion) {
      val recounts = zoneExecs.flatten.filterNot(_.isWrite).map(_.id).toSet
      put("etl.recount_jobs", rec.jobExecutions.count { case (_, x) => recounts(x) })
    }

    Metrics.querySpans.foreach { n =>
      byName.get(n).foreach(s => putSpan(n, secs(s.nanos), spanTasks(s.id)))
    }

    val writeBytes = tasks.map(_.outputBytes).sum.toDouble
    put("sources.write_s", execs.filter(_.isWrite).map(_.seconds).sum)
    put("sources.write_bytes", writeBytes)
    put("sources.files_written", Workloads.dataFiles(new File(out)).size)
    put("sources.scan_bytes", tasks.map(_.inputBytes).sum.toDouble)
    put("sources.write_amp", if (inputBytes > 0) writeBytes / inputBytes else 0.0)

    put("spark.jobs", jobs.size)
    put("spark.tasks", tasks.size)
    put("spark.task_wait_s", tasks.map(_.waitMs).sum / 1000.0)
    put("spark.spill_bytes", tasks.map(_.spillBytes).sum.toDouble)
    put("spark.task_skew", skew(tasks))
    put("spark.failed_tasks", tasks.count(_.failed))
    put("jvm.gc_s", gcSeconds)
    put("iteration.self_s", secs(Span.selfNanos(spans)(root.id)))
    values.result()
  }

  /** Largest ratio, over stages with at least two tasks, of the slowest
    * task's run time to the median task's.
    */
  def skew(tasks: Seq[TaskCost]): Double = {
    val ratios = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.runMs.toDouble).sorted
      val med = Stats.median(d)
      if (med > 0) d.last / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest order statistic with at least `beyond` samples above
    * it, or None when the sample has no more than `beyond` values.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Double] = {
    val s = xs.sorted
    if (s.size <= beyond) None else Some(s(s.size - 1 - beyond))
  }
}
