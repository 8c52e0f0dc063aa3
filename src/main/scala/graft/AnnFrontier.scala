package graft

import graft.functions.Similarity
import org.apache.spark.sql.functions._

/** Prints the ANN tuning frontier as a markdown table: mean recall@5 vs
  * mean exact-score candidates per query, swept across banded-LSH
  * bands×bits shapes and IVF nprobe settings. Candidates/query is the
  * cost axis that survives scale-up (it is the fraction of the corpus
  * each query exact-scores); recall is the quality axis — the knee of
  * this table is the number an operator at 100× actually tunes by.
  *
  * Usage: runMain graft.AnnFrontier [sfDir]
  */
object AnnFrontier {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.local(8)

    val embRaw = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val emb = embRaw.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("ed"))
    // same query slice as the oracled recall gates
    val isQuery = col("vec_id") >= 72 && col("vec_id") < 92
    val n = embRaw.count()
    println(s"corpus: $n vectors, dims 64, 20 queries, $sfDir")
    println()
    println("| index | setting | recall@5 | cand/query | % corpus scanned |")
    println("|---|---|---:|---:|---:|")
    // bands·bits ≤ 64 dims (axis-aligned sign hyperplanes)
    for ((bands, bits) <- Seq((4, 4), (8, 4), (16, 4), (8, 8))) {
      val (r, c) = Similarity.lshFrontierPoint(embRaw, isQuery, bands, bits)
      println(f"| LSH | $bands×$bits | $r%.3f | $c%.0f | ${c / n * 100}%.1f%% |")
    }
    val cents = Similarity.trainCodebook(emb, 16, 5)
    for (nprobe <- Seq(1, 2, 4)) {
      val (r, c) = Similarity.ivfFrontierPoint(emb, cents, isQuery, nprobe)
      println(f"| IVF (16 cells, trained) | nprobe=$nprobe | $r%.3f | $c%.0f | ${c / n * 100}%.1f%% |")
    }
    spark.stop()
  }
}
