package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Kernel microbench of the `functions` layer (and the `expressions` behind
  * it) on the workload's own generated docs: each kernel projected over the
  * cached texts into the no-op sink, one warm pass and three timed ones,
  * reported as rows per second per core. */
object Microbench {
  private def rowsPerSecPerCore(df: DataFrame, kernel: Column, cores: Int): Double = {
    val n = df.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      df.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    n / Stats.median(Seq.fill(3)(once())) / cores
  }

  def text(docs: DataFrame, cores: Int): Map[String, Double] = {
    val rows = docs.select("text").repartition(cores).cache()
    try {
      val text = col("text")
      Seq(
        "normalizeText" -> TextFunctions.normalizeText(text),
        "shingles" -> TextFunctions.shingles(text),
        "minhashSignature" -> TextFunctions.minhashSignature(text),
        "winnowFingerprints" -> TextFunctions.winnowFingerprints(text),
        "qualityScore" -> TextFunctions.qualityScore(text),
        "tokenCount" -> TextFunctions.tokenCount(text)
      ).map { case (k, c) =>
        Trace.span(s"functions.$k")(s"functions.$k.rows_per_s" -> rowsPerSecPerCore(rows, c, cores))
      }.toMap
    } finally rows.unpersist()
  }
}
