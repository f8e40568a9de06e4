package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input tables for the benchmark, written as parquet without
  * Spark so that generating them costs little next to the workload.
  *
  * Row CONTENT is a pure function of the row id and a fixed content seed,
  * so every workload seed sees the same multiset of rows and the output
  * digests in `reference.tsv` hold for any seed. The workload seed only
  * chooses the row permutation, and with it which rows share a file —
  * properties a correct engine must be insensitive to.
  *
  * Schemas and value domains follow the repo's TPC-H-like fixture
  * (FIXTURES.md §B): the same column names and types, key ranges scaled
  * by `Sizes`, a 30-word vocabulary for documents with ~5% near-duplicates
  * ("copy of an earlier doc + ' dup'") and ~1% exact copies, and unit-norm
  * 64-d embeddings clustered by label.
  */
object Inputs {
  private val ContentSeed = 42L

  /** Row counts per table; `scale` follows the fixture's sf convention
    * (sf0.01: 60k lineitem, 15k orders, 10k events, 500 documents).
    */
  final case class Sizes(scale: Double) {
    private def n(base: Double): Long = math.max(1L, math.round(base * scale))
    val customer: Long = n(150000)
    val supplier: Long = n(10000)
    val part: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitem: Long = n(6000000)
    val events: Long = n(1000000)
    val users: Long = n(15000)
    val documents: Long = math.max(500L, n(50000))
    val embeddings: Long = math.max(500L, n(20000))
  }

  private def mix(x: Long): Long = { // SplitMix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(salt: Int, a: Long, b: Long = 0L): Long = mix(mix(mix(ContentSeed + salt) ^ a) ^ b)
  /** Integer in [0, m) from (salt, a). */
  private def pick(salt: Int, a: Long, m: Long): Long = java.lang.Math.floorMod(h(salt, a), m)
  /** Uniform double in [0, 1) from (salt, a, b). */
  private def unif(salt: Int, a: Long, b: Long = 0L): Double = (h(salt, a, b) >>> 11) / 9007199254740992.0 // 2^53
  private def oneOf(salt: Int, id: Long, values: IndexedSeq[String]): String =
    values(pick(salt, id, values.size).toInt)
  private def round(v: Double, digits: Int): Double =
    java.math.BigDecimal.valueOf(v).setScale(digits, java.math.RoundingMode.HALF_UP).doubleValue
  private val DayMicros = 86400L * 1000000L
  /** Midnight, `offset` days after `from` (yyyy-mm-dd), in epoch micros. */
  private def day(from: String, offset: Long): Long =
    (java.time.LocalDate.parse(from).toEpochDay + offset) * DayMicros

  private val Vocab = IndexedSeq("query", "row", "stream", "the", "batch", "sort", "value",
    "hash", "filter", "big", "data", "spark", "line", "small", "fast", "group",
    "customer", "part", "column", "order", "scan", "a", "slow", "agg", "key",
    "window", "table", "merge", "vector", "join")

  private def words(k: Long): String =
    (0L until pick(32, k, 91) + 10)
      .map(i => Vocab(java.lang.Math.floorMod(h(33, k, i), Vocab.size.toLong).toInt))
      .mkString(" ")

  /** Parquet schema and row writer of each table. */
  private final case class Table(schema: String, fill: (Group, Long) => Unit)

  private def tableOf(name: String, s: Sizes): Table = name match {
    case "region" => Table("optional int32 r_regionkey; optional binary r_name (STRING);",
      (g, id) => g.append("r_regionkey", id.toInt)
        .append("r_name", IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(id.toInt)))
    case "nation" => Table(
      "optional int32 n_nationkey; optional binary n_name (STRING); optional int32 n_regionkey;",
      (g, id) => g.append("n_nationkey", id.toInt).append("n_name", s"NATION_$id")
        .append("n_regionkey", (id % 5).toInt))
    case "customer" => Table("optional int64 c_custkey; optional binary c_name (STRING); " +
      "optional int32 c_nationkey; optional double c_acctbal; optional binary c_mktsegment (STRING);",
      (g, id) => g.append("c_custkey", id).append("c_name", f"Customer#$id%09d")
        .append("c_nationkey", pick(1, id, 25).toInt)
        .append("c_acctbal", round(-999.99 + unif(2, id) * 10999.98, 2))
        .append("c_mktsegment",
          oneOf(3, id, IndexedSeq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))))
    case "supplier" => Table("optional int64 s_suppkey; optional binary s_name (STRING); " +
      "optional int32 s_nationkey; optional double s_acctbal;",
      (g, id) => g.append("s_suppkey", id).append("s_name", f"Supplier#$id%09d")
        .append("s_nationkey", pick(4, id, 25).toInt)
        .append("s_acctbal", round(-999.99 + unif(5, id) * 10999.98, 2)))
    case "part" => Table("optional int64 p_partkey; optional binary p_name (STRING); " +
      "optional binary p_brand (STRING); optional binary p_type (STRING); optional int32 p_size; " +
      "optional double p_retailprice;",
      (g, id) => g.append("p_partkey", id)
        .append("p_name",
          oneOf(6, id, IndexedSeq("small", "large", "hot", "cold", "red", "blue", "new", "old")) + " " +
          oneOf(7, id, IndexedSeq("ring", "plate", "gear", "anvil", "gizmo", "widget", "rod", "bolt")))
        .append("p_brand", s"Brand#${pick(8, id, 25) + 1}")
        .append("p_type", oneOf(9, id, IndexedSeq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")))
        .append("p_size", (pick(10, id, 50) + 1).toInt)
        .append("p_retailprice", round(900.0 + (id % 1000) / 10.0, 1)))
    case "orders" => Table("optional int64 o_orderkey; optional int64 o_custkey; " +
      "optional binary o_orderstatus (STRING); optional double o_totalprice; " +
      "optional int64 o_orderdate (TIMESTAMP(MICROS,true)); optional binary o_orderpriority (STRING);",
      (g, id) => g.append("o_orderkey", id).append("o_custkey", pick(11, id, s.customer))
        .append("o_orderstatus", oneOf(12, id, IndexedSeq("O", "P", "F")))
        .append("o_totalprice", round(1000.0 + unif(13, id) * 499000.0, 2))
        .append("o_orderdate", day("1995-01-01", pick(14, id, 2404)))
        .append("o_orderpriority",
          oneOf(15, id, IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    case "lineitem" => Table("optional int64 l_orderkey; optional int64 l_partkey; " +
      "optional int64 l_suppkey; optional int32 l_linenumber; optional double l_quantity; " +
      "optional double l_extendedprice; optional double l_discount; optional double l_tax; " +
      "optional binary l_returnflag (STRING); optional binary l_linestatus (STRING); " +
      "optional int64 l_shipdate (TIMESTAMP(MICROS,true));",
      (g, id) => g.append("l_orderkey", pick(16, id, s.orders)).append("l_partkey", pick(17, id, s.part))
        .append("l_suppkey", pick(18, id, s.supplier))
        .append("l_linenumber", (pick(19, id, 7) + 1).toInt)
        .append("l_quantity", (pick(20, id, 50) + 1).toDouble)
        .append("l_extendedprice", round(900.0 + unif(21, id) * 104000.0, 2))
        .append("l_discount", pick(22, id, 11) / 100.0)
        .append("l_tax", pick(23, id, 9) / 100.0)
        .append("l_returnflag", oneOf(24, id, IndexedSeq("N", "A", "R")))
        .append("l_linestatus", oneOf(25, id, IndexedSeq("O", "F")))
        .append("l_shipdate", day("1995-01-02", pick(26, id, 2498))))
    case "events" =>
      // 30 days of strictly increasing timestamps with jittered gaps
      val gap = 30L * DayMicros / s.events
      Table("optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,true)); " +
        "optional int64 user_id; optional binary event_type (STRING); optional double value; " +
        "optional binary props (STRING);",
        (g, id) => g.append("event_id", id)
          .append("ts", day("2024-01-01", 0) + id * gap + (unif(27, id) * (gap - 1)).toLong)
          .append("user_id", pick(28, id, s.users))
          .append("event_type", oneOf(29, id, IndexedSeq("view", "click", "purchase", "signup", "error")))
          .append("value", round(unif(30, id) * 560.0, 2))
          .append("props", s"""{"k": ${pick(31, id, 100)}}"""))
    case "documents" => Table("optional int64 doc_id; optional binary text (STRING); " +
      "optional binary lang (STRING); optional binary source (STRING); optional int64 n_chars;",
      { (g, id) =>
        // ~5% near-duplicates and ~1% exact copies of an EARLIER document
        val kind = pick(34, id, 100)
        val src = if (id > 0 && kind < 6) java.lang.Math.floorMod(h(35, id), id) else id
        val text = if (src != id && kind < 5) words(src) + " dup" else words(src)
        g.append("doc_id", id).append("text", text)
          .append("lang", if (unif(36, id) < 0.44) "en" else oneOf(37, id, IndexedSeq("zh", "de", "fr", "es")))
          .append("source", s"src${pick(38, id, 20)}")
          .append("n_chars", text.length.toLong)
      })
    case "embeddings" => Table("optional int64 vec_id; " +
      "optional group embedding (LIST) { repeated group list { optional float element; } } " +
      "optional int32 label;",
      { (g, id) =>
        val label = pick(39, id, 10)
        def gauss(salt: Int, a: Long, d: Long) =
          unif(salt, a, d) + unif(salt + 1, a, d) + unif(salt + 2, a, d) - 1.5
        val raw = (0L until 64L).map(d => gauss(40, label, d) + gauss(43, id, d) * 0.6)
        val norm = math.sqrt(raw.map(x => x * x).sum)
        g.append("vec_id", id)
        val list = g.addGroup("embedding")
        raw.foreach(x => list.addGroup("list").append("element", (x / norm).toFloat))
        g.append("label", label.toInt)
      })
    case other => throw new IllegalArgumentException(s"unknown table $other")
  }

  /** Files each table is split into. Constant, so that every seed reads
    * the same number of files and tasks; the seed decides which rows
    * land in which file.
    */
  val Files = 2

  /** The row ids of `name` in the order `seed` writes them. */
  def permutation(seed: Long, name: String, rows: Long): Array[Long] = {
    val ids = Array.tabulate(rows.toInt)(_.toLong)
    val rnd = new java.util.SplittableRandom(h(51, seed, name.hashCode.toLong))
    var i = ids.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    ids
  }

  /** Writes `names` as `<dir>/<name>.parquet/part-NNNNN.parquet` files:
    * each table's rows in the seed's permutation, cut into [[Files]]
    * files of equal row count.
    */
  def write(dir: File, names: Seq[String], s: Sizes, seed: Long): Unit = {
    val conf = new Configuration()
    names.foreach { name =>
      val t = tableOf(name, s)
      val schema = MessageTypeParser.parseMessageType(s"message $name { ${t.schema} }")
      val factory = new SimpleGroupFactory(schema)
      val order = permutation(seed, name, rowCount(name, s))
      val n = Files
      val tableDir = new File(dir, s"$name.parquet")
      tableDir.mkdirs()
      (0 until n).foreach { f =>
        val path = new Path(new File(tableDir, f"part-$f%05d.parquet").getPath)
        val writer = ExampleParquetWriter.builder(path)
          .withConf(conf).withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
          .withCompressionCodec(CompressionCodecName.SNAPPY).build()
        try {
          var i = (order.length.toLong * f / n).toInt
          val end = (order.length.toLong * (f + 1) / n).toInt
          while (i < end) {
            val g = factory.newGroup()
            t.fill(g, order(i))
            writer.write(g)
            i += 1
          }
        } finally writer.close()
      }
    }
  }

  def rowCount(name: String, s: Sizes): Long = name match {
    case "region" => 5
    case "nation" => 25
    case "customer" => s.customer
    case "supplier" => s.supplier
    case "part" => s.part
    case "orders" => s.orders
    case "lineitem" => s.lineitem
    case "events" => s.events
    case "documents" => s.documents
    case "embeddings" => s.embeddings
  }
}
