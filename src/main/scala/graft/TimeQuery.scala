package graft

/** Single-query timing tool (dev loop for the bench): runs the named
  * queries `reps` times after one warmup pass each, printing per-run
  * seconds. Usage:
  *   SPARK_GRAFT_CPUS=32 runMain graft.TimeQuery <sfDir> <reps> <name...>
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
                else Seq("dedup_clusters")
    val spark = Bench.buildSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      // the ledger is a JVM global set only by recursion-surface
      // queries — clear it per query or a later query in the same run
      // would print the previous one's phases under its own name
      graft.etl.Relational.lastRecursionPhases = Map.empty
      Bench.consume(SparkEntry.queries(n)(spark, sfDir)) // warmup
      Bench.reset(spark)
      val times = (1 to reps).map { rep =>
        graft.etl.Relational.lastRecursionPhases = Map.empty
        val t0 = System.nanoTime()
        Bench.consume(SparkEntry.queries(n)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        Bench.reset(spark)
        // recursion-surface queries publish a phase ledger: print it
        // PER REP so a pass-over-pass drift (r18 verdict: sql_recursive's
        // in-sweep passes rose monotonically) is attributable to a
        // specific phase straight from this tool's output — the
        // machine-checked form of the sql_recursive cost contract
        // (see RelationalSpec)
        val phases = graft.etl.Relational.lastRecursionPhases
        if (phases.nonEmpty)
          println(s"PHASES $n[$rep]: " + phases.map { case (k, v) =>
            f"$k=$v%.2f" }.mkString(" ") + " s")
        dt
      }
      println(f"TIME $n: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    }
    spark.stop()
  }
}
