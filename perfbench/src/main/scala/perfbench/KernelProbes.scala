package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ext.Dedup
import graft.functions.{NgramKernels, OrderedPairs, PortableMinHash}

/** Rows per second of each compiled `graft.functions` kernel over the
  * seeded documents. The documents are replicated and cached with each
  * kernel's input column precomputed, so a probe times one projection of
  * the kernel plus a `sum(size(...))` that keeps it from being pruned.
  */
object KernelProbes {
  val Replicas = 100
  val Passes = 5

  def run(spark: SparkSession, in: String): Map[String, Double] = {
    val base = graft.Tables.documents(spark, in).select("text")
      .crossJoin(spark.range(Replicas).toDF("replica"))
      .select(col("text"),
        NgramKernels.ngramIds(col("text"), 1).as("word_ids"),
        NgramKernels.ngramStrings(col("text"), 3).as("grams"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = base.count().toDouble
      def rate(kernel: Column): Double = {
        val q = base.select(size(kernel).as("n")).agg(sum("n"))
        q.collect()
        val secs = (1 to Passes).map { _ =>
          val t0 = System.nanoTime(); q.collect(); (System.nanoTime() - t0) / 1e9
        }
        rows / Stats.median(secs)
      }
      Map(
        "ngram_ids" -> rate(NgramKernels.ngramIds(col("text"), 3)),
        "ngram_strings" -> rate(NgramKernels.ngramStrings(col("text"), 3)),
        "minhash_sig" -> rate(PortableMinHash.sig(col("grams"),
          Array.tabulate(Dedup.MinhashK)(Dedup.slotA), Array.tabulate(Dedup.MinhashK)(Dedup.slotB),
          Dedup.SlotMod)),
        "ordered_pairs" -> rate(OrderedPairs.of(col("word_ids"), "a", "b")))
    } finally base.unpersist()
  }
}
