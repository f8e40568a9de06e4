package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}
import graft.etl.Pipeline

/** What one iteration of a workload produced: the units that failed in
  * the program's calls, the seconds those calls took, and the digests of
  * the outputs observed during the calls.
  */
final case class Outcome(failed: Set[String], seconds: Double, digests: Map[String, Digest.Value])

/** One benchmark workload: the input tables it reads, the units its
  * outputs are checked in (one zone table or one query), and how one
  * iteration calls the program.
  */
sealed trait Workload {
  def name: String
  def tables: Seq[String]
  def units: Seq[String]
  /** One iteration. `spans` wraps each call into the program; only the
    * calls are timed, and a throw fails every unit.
    */
  def run(spark: SparkSession, in: String, out: String, spans: Spans): Outcome
  /** Digests of the outputs the last iteration wrote, read back from `out`. */
  def written(spark: SparkSession, out: String): Map[String, Digest.Value] = Map.empty
}

object Workloads {
  val all: Seq[Workload] = Seq(Medallion, Headline)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `Pipeline.runAll` over the seeded tables: six silver and six gold
    * parquet tables, then the pipeline's own validation.
    */
  object Medallion extends Workload {
    val name = "medallion"
    val tables = Seq("nation", "customer", "supplier", "part", "orders", "lineitem", "events")
    val silver = Seq("orders", "customer", "lineitem", "part", "supplier", "events")
    val gold = Seq("daily_sales", "customer_metrics", "product_performance",
      "seller_performance", "satisfaction_metrics", "delivery_performance")
    val units = silver.map("silver/" + _) ++ gold.map("gold/" + _)

    def run(spark: SparkSession, in: String, out: String, spans: Spans): Outcome = {
      val t0 = System.nanoTime()
      val failed =
        try spans match {
          case NoSpans => Pipeline.runAll(spark, in, out); Set.empty[String]
          case _ =>
            // runAll's body, one span per public call
            spans("etl.silver")(Pipeline.runSilver(spark, in, out))
            spans("etl.gold")(Pipeline.runGold(spark, in, out))
            val checks = spans("etl.validate")(Pipeline.validate(spark, out))
            checks.filterNot(_.passed).map(c => s"${c.zone}/${c.table}").toSet
        } catch {
          case NonFatal(e) =>
            System.err.println(s"perfbench: medallion failed: $e")
            units.toSet
        }
      Outcome(failed, seconds(t0), Map.empty)
    }

    override def written(spark: SparkSession, out: String): Map[String, Digest.Value] =
      units.flatMap { u =>
        try Some(u -> Digest.of(spark.read.parquet(s"$out/$u")))
        catch { case NonFatal(_) => None }
      }.toMap
  }

  /** The 19 `Bench.Headline` queries, each evaluated by `Bench.consume`
    * with `Bench.reset` after it, as the repo's own bench sweep does;
    * nothing is written. Each query's digest is observed during that
    * same evaluation. Like that sweep's total, the iteration's seconds are
    * the sum of the `consume` calls: `reset` (a forced GC and a pause) is
    * harness hygiene, not the queries' work.
    */
  object Headline extends Workload {
    val name = "headline"
    val tables = graft.Tables.all
    val units = Bench.Headline

    def run(spark: SparkSession, in: String, out: String, spans: Spans): Outcome = {
      var secs = 0.0
      val results = units.map { q =>
        val t0 = System.nanoTime()
        val evaluated =
          // building a query can run jobs too: the span covers it
          try Right(spans(s"query.$q") {
            val (df, digest) = Digest.observed(SparkEntry.queries(q)(spark, in))
            Bench.consume(df)
            digest
          })
          catch { case NonFatal(e) => Left(e) }
        secs += seconds(t0)
        evaluated.left.foreach(e => System.err.println(s"perfbench: query $q failed: $e"))
        val got = evaluated.toOption.flatMap(d => try Some(d()) catch { case NonFatal(_) => None })
        Bench.reset(spark)
        q -> got
      }
      Outcome(results.collect { case (q, None) => q }.toSet, secs,
        results.collect { case (q, Some(d)) => q -> d }.toMap)
    }
  }

  /** Units whose output is missing or differs from `reference`, with why. */
  def mismatches(w: Workload, got: Map[String, Digest.Value],
      reference: Map[String, Digest.Value]): Map[String, String] =
    w.units.flatMap { u =>
      (got.get(u), reference.get(u)) match {
        case (None, _) => Some(u -> "no output")
        case (_, None) => Some(u -> "no reference digest")
        case (Some(v), Some(ref)) if v != ref => Some(u -> s"got $v, want $ref")
        case _ => None
      }
    }.toMap

  /** Files under `dir` that hold table data (part files). */
  def dataFiles(dir: File): Seq[File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.flatMap(f => if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil)
  }
}
