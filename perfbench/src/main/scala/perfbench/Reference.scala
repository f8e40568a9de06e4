package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** `perfbench/reference.tsv`: one line per checked unit,
  * `workload <TAB> unit <TAB> rows <TAB> digest`, recorded with
  * `--record` and compared on every run.
  */
object Reference {
  def load(f: File): Map[String, Map[String, Digest.Value]] =
    if (!f.isFile) Map.empty
    else Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t"))
      .collect { case Array(w, u, rows, d) => (w, u, Digest.Value(rows.toLong, d)) }
      .groupBy(_._1).map { case (w, rs) => w -> rs.map(r => r._2 -> r._3).toMap }

  /** Replaces `workload`'s lines, keeping the other workloads'. */
  def save(f: File, workload: String, values: Seq[(String, Digest.Value)]): Unit = {
    val kept = load(f).removed(workload).toSeq.sortBy(_._1)
      .flatMap { case (w, us) => us.toSeq.sortBy(_._1).map { case (u, v) => line(w, u, v) } }
    val lines = "# workload\tunit\trows\tdigest" +:
      (kept ++ values.map { case (u, v) => line(workload, u, v) }).sorted
    Files.write(f.toPath, lines.asJava, StandardCharsets.UTF_8)
  }

  private def line(w: String, u: String, v: Digest.Value) = s"$w\t$u\t${v.rows}\t${v.digest}"

  /** A JSON number with all its digits (NaN and infinities become 0). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
