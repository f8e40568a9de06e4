package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.Bench

/** The benchmark's entry point:
  *
  *   perfbench.Main --workload <medallion|headline> --seed <n>
  *                  --seconds <s> --trace <0|1> [--record]
  *
  * run from the repository root (perfbench/run.py builds and launches
  * it). It writes the seeded inputs under `.bench_build/`, starts the
  * session, then runs iterations closed-loop with one client until
  * `--seconds` have passed (at least one), checking every iteration's
  * outputs against `perfbench/reference.tsv`. With `--seconds 1` a run
  * is one refresh (or sweep) of a fresh process, as a scheduled job pays
  * it: JIT and code generation are part of the measured time. The last
  * stdout line is the JSON result. `--trace 1` instead runs a traced
  * iteration, then an untraced and a traced one for the tracing overhead,
  * and prints the per-layer metrics; `--record` runs one iteration and
  * rewrites the workload's reference digests.
  */
object Main {
  /** Input size: the fixture's sf0.01 (88,625 medallion input rows). */
  val Scale = 0.01
  /** Set-up repetitions whose median enters setup_s. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      record: Boolean)

  def parse(args: Array[String]): Either[String, Opts] = {
    val kv = args.toList.sliding(2, 1).collect { case k :: v :: Nil if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing $k")
    for {
      w <- need("--workload")
      seed <- need("--seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("--seconds").flatMap(s => s.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("--trace").flatMap {
        case "0" => Right(false); case "1" => Right(true); case t => Left(s"bad --trace $t")
      }
    } yield Opts(w, seed, secs, trace, args.contains("--record"))
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args).fold(fail, identity)
    val w = Workloads.byName(o.workload).getOrElse(fail(s"unknown workload ${o.workload}"))
    val root = new File(sys.props("user.dir")).getCanonicalFile
    val refFile = new File(root, "perfbench/reference.tsv")
    val reference =
      if (o.record) Map.empty[String, Digest.Value]
      else Reference.load(refFile).getOrElse(w.name, fail(s"no reference digests for ${w.name}"))
    val work = new File(root, s".bench_build/run/${w.name}-${o.seed}-${ProcessHandle.current.pid}")
    System.setProperty("spark.local.dir", new File(work, "spark-local").getPath)
    System.setProperty("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    try new Run(o, w, root, work, reference).apply()
    finally Reference.deleteTree(work)
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def peakRssMb(): Double = {
    val status = Files.readAllLines(new File("/proc/self/status").toPath).asScala
    status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  final case class Iter(wall: Double, cpu: Double, failed: Set[String], traced: Boolean,
      layers: Map[String, Double], spans: Seq[Span])

  private final class Run(o: Opts, w: Workload, root: File, work: File,
      reference: Map[String, Digest.Value]) {
    val in = new File(work, "input")
    val out = new File(work, "out")
    val sizes = Inputs.Sizes(Scale)
    val inputRows = w.tables.map(Inputs.rowCount(_, sizes)).sum
    var spark: SparkSession = _

    def apply(): Unit = {
      val jvmStart = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      // set-up (seeded inputs, then the session) runs SetupReps times;
      // setup_s is the JVM's start-up plus the median repetition
      val reps = (1 to SetupReps).map { _ =>
        if (spark != null) spark.stop()
        Reference.deleteTree(in)
        val t0 = System.nanoTime()
        Inputs.write(in, w.tables, sizes, o.seed)
        spark = Bench.buildSession(Runtime.getRuntime.availableProcessors)
        spark.sparkContext.setLogLevel("ERROR")
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val setup = jvmStart + Stats.median(reps)
        System.err.println(f"perfbench: set-up jvm $jvmStart%.2f s, reps ${reps.map(r => f"$r%.2f").mkString(" ")} s")
        val inputBytes = Workloads.dataFiles(in).map(_.length).sum
        if (o.record) return record()
        val recorder = new Recorder
        val iters = Vector.newBuilder[Iter]
        val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
        if (o.trace) {
          // per-layer figures come from the first iteration, like the
          // untraced run's; a warm untraced/traced pair gives the overhead
          iters += tracedIteration(recorder, inputBytes)
          iters += iteration()
          iters += tracedIteration(recorder, inputBytes)
        } else {
          do iters += iteration() while (System.nanoTime() < deadline)
        }
        report(iters.result(), setup, inputBytes)
      } finally spark.stop()
    }

    /** Units whose output failed the program's calls or the digest check. */
    private def failures(outcome: Outcome): Set[String] = {
      val bad = Workloads.mismatches(w, outcome.digests ++ w.written(spark, out.getPath), reference)
      bad.toSeq.sorted.foreach { case (u, m) =>
        System.err.println(s"perfbench: check failed: ${w.name}/$u: $m")
      }
      outcome.failed ++ bad.keySet
    }

    /** One untraced iteration: nothing but the program's calls runs. */
    def iteration(): Iter = {
      val cpu0 = processCpuNs()
      val outcome = w.run(spark, in.getPath, out.getPath, NoSpans)
      val cpu = (processCpuNs() - cpu0) / 1e9
      Iter(outcome.seconds, cpu, failures(outcome), traced = false, Map.empty, Nil)
    }

    /** One traced iteration: spans around each call, the recorder on the bus. */
    def tracedIteration(rec: Recorder, inputBytes: Long): Iter = {
      val sc = spark.sparkContext
      rec.clear()
      sc.addSparkListener(rec)
      val tracer = new Tracer(sc)
      val gc0 = gcSeconds()
      val cpu0 = processCpuNs()
      val outcome = tracer(w.name)(w.run(spark, in.getPath, out.getPath, tracer))
      val cpu = (processCpuNs() - cpu0) / 1e9
      val gc = gcSeconds() - gc0
      PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(rec)
      val spans = tracer.spans
      val rootSpan = spans.find(_.parent < 0).get
      Iter(outcome.seconds, cpu, failures(outcome), traced = true,
        Layers.of(w, out.getPath, inputBytes, rootSpan, spans, rec, gc), spans)
    }

    def record(): Unit = {
      val outcome = w.run(spark, in.getPath, out.getPath, NoSpans)
      val digests = outcome.digests ++ w.written(spark, out.getPath)
      val missing = w.units.toSet -- digests.keySet ++ outcome.failed
      if (missing.nonEmpty) fail(s"not recording: failed units ${missing.mkString(", ")}")
      Reference.save(new File(root, "perfbench/reference.tsv"), w.name, w.units.map(u => u -> digests(u)))
      println(s"perfbench: recorded ${w.units.size} reference digests for ${w.name} (seed ${o.seed})")
    }

    def report(iters: Seq[Iter], setup: Double, inputBytes: Long): Unit = {
      val untraced = iters.filterNot(_.traced)
      val traced = iters.filter(_.traced)
      val attempted = iters.size * w.units.size
      val failed = iters.map(_.failed.size).sum
      val good = untraced.filter(_.failed.isEmpty)
      val walls = good.map(_.wall)
      val tail = Stats.tail(walls)
      println(s"perfbench: workload=${w.name} seed=${o.seed} cpus=${Runtime.getRuntime.availableProcessors}" +
        s" input_rows=$inputRows input_bytes=$inputBytes samples=${walls.size}" +
        s" walls=${walls.map(v => f"$v%.3f").mkString(",")}" +
        s" tail=${tail.map(v => f"$v%.3f").getOrElse("n/a (needs 11+ samples)")}" +
        s" traced=${traced.size} failed_units=$failed/$attempted")
      val (declared, values) =
        if (!o.trace) {
          val wall = if (walls.isEmpty) 0.0 else Stats.median(walls)
          (Metrics.endToEnd, Map(
            "wall_s" -> wall,
            "rows_per_s" -> (if (wall > 0) inputRows / wall else 0.0),
            "cpu_s" -> (if (good.isEmpty) 0.0 else Stats.median(good.map(_.cpu))),
            "setup_s" -> setup,
            "peak_rss_mb" -> peakRssMb()))
        } else {
          val probes = if (w == Workloads.Headline) KernelProbes.run(spark, in.getPath) else Map.empty[String, Double]
          writeSpans(traced)
          (Metrics.perLayer, traced.head.layers ++
            probes.map { case (k, v) => s"functions.${k}_rows_per_s" -> v } +
            ("trace.overhead_s" -> (traced.last.wall - untraced.last.wall)))
        }
      // every declared metric, 0 where this workload does not reach it
      val metrics = declared.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
      val correct = failed == 0 && walls.nonEmpty
      val body = metrics.map { case (n, u, v) =>
        s""""$n": {"value": ${Reference.num(v)}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    }

    /** Spans of every traced iteration, with self time, as JSON lines. */
    def writeSpans(traced: Seq[Iter]): Unit = {
      val dir = new File(root, ".bench_build/traces")
      dir.mkdirs()
      val f = new File(dir, s"${w.name}-seed${o.seed}.jsonl")
      val pw = new PrintWriter(f, StandardCharsets.UTF_8)
      try traced.zipWithIndex.foreach { case (it, k) =>
        val self = Span.selfNanos(it.spans)
        it.spans.foreach { s =>
          pw.println(s"""{"iteration": $k, "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
            s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_s": ${Reference.num(self(s.id) / 1e9)}}""")
        }
      } finally pw.close()
      println(s"perfbench: spans written to ${root.toPath.relativize(f.toPath)}")
    }
  }
}
