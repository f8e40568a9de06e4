package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  private val dir = new File("../.bench_build/test-inputs").getCanonicalFile
  private val sizes = Inputs.Sizes(0.001)

  override def afterAll(): Unit = { spark.stop(); Reference.deleteTree(dir) }

  /** Rows of each file of a freshly written table, files in name order. */
  private def files(seed: Long, name: String): Seq[Seq[Row]] = {
    val d = new File(dir, s"s$seed")
    Reference.deleteTree(d)
    Inputs.write(d, Seq(name), sizes, seed)
    new File(d, s"$name.parquet").listFiles().map(_.getName).filter(_.startsWith("part-")).sorted.toSeq
      .map(f => spark.read.parquet(new File(d, s"$name.parquet/$f").getPath).collect().toSeq)
  }

  test("the same seed writes the same rows in the same order and split") {
    for (t <- Seq("lineitem", "documents", "embeddings"))
      assert(files(3, t).map(_.map(_.toString)) == files(3, t).map(_.map(_.toString)), t)
  }

  test("other seeds permute and split the same rows") {
    for (t <- graft.Tables.all) {
      val a = files(1, t).flatten.map(_.toString)
      val b = files(2, t).flatten.map(_.toString)
      assert(a.size == Inputs.rowCount(t, sizes), t)
      assert(a.sorted == b.sorted, t)
    }
    val orders = (1 to 4).map(s => files(s, "orders").flatten.map(_.getLong(0)))
    assert(orders.distinct.size == orders.size, "seeds should permute rows")
  }

  test("the seed decides which rows share a file") {
    val firstFile = (1 to 3).map(s => files(s, "customer").head.map(_.getLong(0)).toSet)
    assert(firstFile.distinct.size == firstFile.size)
    assert(files(1, "customer").size == Inputs.Files)
  }

  test("tables load with the fixture's column types") {
    val d = new File(dir, "types")
    Inputs.write(d, graft.Tables.all, sizes, 1)
    val types = graft.Tables.all.flatMap { t =>
      val df = if (t == "events") graft.Tables.events(spark, d.getPath) else graft.Tables.load(spark, d.getPath, t)
      df.schema.fields.map(f => s"$t.${f.name}" -> f.dataType.simpleString)
    }.toMap
    assert(types("lineitem.l_shipdate") == "timestamp")
    assert(types("events.ts") == "timestamp")
    assert(types("customer.c_custkey") == "bigint" && types("customer.c_nationkey") == "int")
    assert(types("embeddings.embedding") == "array<float>")
    assert(types("documents.n_chars") == "bigint")
  }

  test("the digest ignores row order but counts duplicate rows") {
    import spark.implicits._
    val ab = Seq(1, 2).toDF("x")
    assert(Digest.of(ab) == Digest.of(Seq(2, 1).toDF("x")))
    assert(Digest.of(Seq(1, 2, 2).toDF("x")) != Digest.of(ab))
    // a bit_xor fold gives these two the same value; the digest does not
    assert(Digest.of(Seq(1, 1, 2, 2).toDF("x")).digest != Digest.of(Seq.empty[Int].toDF("x")).digest)
  }
}
