package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CosineSim, DotProduct, MinHashSig, NGramHash, NgramStrings, SimHash64, TopNgramCount, XxHash64Array, ZorderBucket}

/** Session extensions: registers the engine's native functions so they are
  * usable from SQL and `expr(...)` in any session configured with
  * `spark.sql.extensions=graft.GraftExtensions` (see Tables.configure), and
  * the optimizer rule [[InListToInSet]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn argument must be an integer literal, got $other")
  }
  private def longLit(e: Expression, fn: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn argument must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => InListToInSet)
    ext.injectFunction((
      new FunctionIdentifier("ngram_hash"),
      new ExpressionInfo(classOf[NGramHash].getName, "ngram_hash"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "ngram_hash(array<bigint>, n) takes 2 arguments")
        NGramHash(exprs.head, intLit(exprs(1), "ngram_hash window"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "simhash64(array<bigint>) takes 1 argument")
        SimHash64(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "dot_product(a, b) takes 2 arguments")
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "cosine_sim(a, b) takes 2 arguments")
        CosineSim(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("xxhash64_array"),
      new ExpressionInfo(classOf[XxHash64Array].getName, "xxhash64_array"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "xxhash64_array(array<string>) takes 1 argument")
        XxHash64Array(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngram_strings"),
      new ExpressionInfo(classOf[NgramStrings].getName, "ngram_strings"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "ngram_strings(array<string>, n) takes 2 arguments")
        NgramStrings(exprs.head, intLit(exprs(1), "ngram_strings window"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("top_ngram_count"),
      new ExpressionInfo(classOf[TopNgramCount].getName, "top_ngram_count"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "top_ngram_count(array<string>, n) takes 2 arguments")
        TopNgramCount(exprs.head, intLit(exprs(1), "top_ngram_count window"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("zorder_bucket"),
      new ExpressionInfo(classOf[ZorderBucket].getName, "zorder_bucket"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "zorder_bucket(v, sorted_bounds) takes 2 arguments")
        ZorderBucket(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 3, "minhash_sig(array<bigint>, numPerm, seed) takes 3 arguments")
        MinHashSig(exprs.head, intLit(exprs(1), "minhash_sig numPerm"),
          longLit(exprs(2), "minhash_sig seed"))
      }))
  }
}
