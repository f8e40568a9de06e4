package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) =
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      // free checkpoint blocks after each query's consuming action and
      // force-drain broadcast/shuffle garbage (see GraftBridge)
      org.apache.spark.sql.GraftBridge.sessionHygiene(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A broken loader must be LOUD: record every failed query plus the
    // registered-vs-written tally so a fixture regen can't silently delete
    // rows from CORRECTNESS (round-9 postmortem).
    val failJson = (
      Seq(s"${q("registered")}: ${selected.size}",
          s"${q("written")}: ${selected.size - failures.size}",
          s"${q("failed")}: ${failures.size}") ++
      Seq(s"${q("failures")}: " + failures
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    ).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} of ${selected.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
