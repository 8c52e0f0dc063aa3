package graft

import graft.functions.{BpeEncode, CosineSim, DotProduct, HyperplaneSigs, MinHashSlices, NfcNormalize, RollingHash, WktCentroid, WordNGrams}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session wiring for graft's native expressions.
  *
  * Two entry points with identical results:
  *  - `GraftFunctions.registerAll(spark)` on a live session;
  *  - `.withExtensions(new GraftExtensions)` on the session builder at
  *    build time (also usable via the
  *    `spark.sql.extensions=graft.GraftExtensions` conf on a cluster).
  */
object GraftFunctions {
  /** SQL call sites pass band/bit counts as literals (the expression
    * embeds them at plan time — they size generated code, not row data). */
  private[graft] def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private[graft] def mkHyperplaneSigs(exprs: Seq[Expression]): HyperplaneSigs =
    HyperplaneSigs(exprs(0), litInt(exprs(1), "bands"), litInt(exprs(2), "bits"))

  private[graft] def mkMinHashSlices(exprs: Seq[Expression]): MinHashSlices =
    MinHashSlices(exprs(0), litInt(exprs(1), "k"), litInt(exprs(2), "shingleN"))

  private[graft] def mkWordNGrams(exprs: Seq[Expression]): WordNGrams =
    WordNGrams(exprs(0), litInt(exprs(1), "n"))

  def registerAll(spark: SparkSession): Unit = {
    WktCentroid.register(spark)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_sigs", mkHyperplaneSigs, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_slices", mkMinHashSlices, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_ngrams", mkWordNGrams, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_encode", exprs => BpeEncode(exprs(0), exprs(1)), "built-in")
    NfcNormalize.register(spark)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension: heap-based top-k per group (graft.plans) —
    // the rewrite turns row_number()<=k window filters into the operator
    // transparently; the strategy plans it
    e.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.GroupTopKRewrite)
    e.injectFunction((
      new FunctionIdentifier("wkt_centroid"),
      new ExpressionInfo(classOf[WktCentroid].getName, "wkt_centroid"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WktCentroid(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        RollingHash(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSim(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("hyperplane_sigs"),
      new ExpressionInfo(classOf[HyperplaneSigs].getName, "hyperplane_sigs"),
      GraftFunctions.mkHyperplaneSigs _))
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        NfcNormalize(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("minhash_slices"),
      new ExpressionInfo(classOf[MinHashSlices].getName, "minhash_slices"),
      GraftFunctions.mkMinHashSlices _))
    e.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      GraftFunctions.mkWordNGrams _))
    e.injectFunction((
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BpeEncode(exprs(0), exprs(1))))
  }
}
