package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BpeMergeAll, CharKGrams, CosineSimilarity, DotProduct, JaroWinkler, MinHashBands, MinHashSigs, NearestCell, PqCodes, PqDotTable, SimHashTokens, VectorNorm, WinnowFps, WordShingles}

/** Session extensions: SQL function names for the native expressions
  * (`vec_dot`, `minhash_bands`, `bloom_agg`, ...), built from the same case
  * classes the library operators construct directly. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * standard plugin mechanism, so spark-sql/pyspark shells can call them.
  * No library operator needs it: every operator builds its kernels through
  * [[org.apache.spark.sql.GraftColumn]] and runs in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity-checked builder: without the guard, extra SQL arguments would be
    * SILENTLY dropped (`vec_dot(a, b, c)` computing dot(a, b)) and missing
    * ones would surface as a raw IndexOutOfBoundsException instead of an
    * analysis error. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.size != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${children.size}")
      build(children)
    }

  /** Constant-extraction helpers for config-carrying expressions: the PQ
    * kernels take their codebooks as plain double[] CONSTRUCTOR state (a
    * 64-subexpression tree as children would defeat their purpose), so the
    * SQL-function builder must fold the literal arguments at registration. */
  private def foldDoubles(name: String, e: Expression): Array[Double] = {
    require(e.foldable, s"$name expects a literal array<double> argument")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"$name expects a literal array<double>, got $other")
    }
  }
  private def foldInts(name: String, e: Expression): Array[Int] = {
    require(e.foldable, s"$name expects a literal array<int> argument")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toIntArray()
      case other => throw new IllegalArgumentException(
        s"$name expects a literal array<int>, got $other")
    }
  }
  private def foldInt(name: String, e: Expression): Int = {
    require(e.foldable, s"$name expects a literal int argument")
    e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$name expects a literal int, got $other")
    }
  }
  private def foldBool(name: String, e: Expression): Boolean = {
    require(e.foldable, s"$name expects a literal boolean argument")
    e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$name expects a literal boolean, got $other")
    }
  }
  private def foldStrings(name: String, e: Expression): Seq[String] = {
    require(e.foldable, s"$name expects a literal array<string> argument")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      case other => throw new IllegalArgumentException(
        s"$name expects a literal array<string>, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("pq_codes"),
      new ExpressionInfo(classOf[PqCodes].getName, "pq_codes"),
      arity("pq_codes", 5)(c => PqCodes(c(0),
        foldDoubles("pq_codes", c(1)), foldDoubles("pq_codes", c(2)),
        foldInt("pq_codes", c(3)), foldInt("pq_codes", c(4))))))
    ext.injectFunction((
      new FunctionIdentifier("char_kgrams"),
      new ExpressionInfo(classOf[CharKGrams].getName, "char_kgrams"),
      arity("char_kgrams", 2)(c =>
        CharKGrams(c(0), foldInt("char_kgrams", c(1))))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      arity("minhash_bands", 3)(c => MinHashBands(c(0),
        foldInt("minhash_bands", c(1)), foldInt("minhash_bands", c(2))))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      arity("minhash_sigs", 2)(c =>
        MinHashSigs(c(0), foldInt("minhash_sigs", c(1))))))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      arity("word_shingles", 2)(c =>
        WordShingles(c(0), foldInt("word_shingles", c(1))))))
    ext.injectFunction((
      new FunctionIdentifier("simhash_tokens"),
      new ExpressionInfo(classOf[SimHashTokens].getName, "simhash_tokens"),
      arity("simhash_tokens", 3)(c => SimHashTokens(c(0),
        foldInt("simhash_tokens", c(1)), foldBool("simhash_tokens", c(2))))))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      arity("winnow_fps", 4)(c => WinnowFps(c(0),
        foldInt("winnow_fps", c(1)), foldInt("winnow_fps", c(2)),
        foldBool("winnow_fps", c(3))))))
    ext.injectFunction((
      new FunctionIdentifier("bpe_merge_all"),
      new ExpressionInfo(classOf[BpeMergeAll].getName, "bpe_merge_all"),
      arity("bpe_merge_all", 3)(c => BpeMergeAll(c(0),
        foldStrings("bpe_merge_all", c(1)),
        foldStrings("bpe_merge_all", c(2))))))
    ext.injectFunction((
      new FunctionIdentifier("nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, "nearest_cell"),
      arity("nearest_cell", 4)(c => NearestCell(c(0),
        foldDoubles("nearest_cell", c(1)), foldInts("nearest_cell", c(2)),
        foldInt("nearest_cell", c(3))))))
    ext.injectFunction((
      new FunctionIdentifier("pq_dot_table"),
      new ExpressionInfo(classOf[PqDotTable].getName, "pq_dot_table"),
      arity("pq_dot_table", 4)(c => PqDotTable(c(0),
        foldDoubles("pq_dot_table", c(1)),
        foldInt("pq_dot_table", c(2)), foldInt("pq_dot_table", c(3))))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      arity("vec_dot", 2)(c => DotProduct(c(0), c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      arity("cosine_sim", 2)(c => CosineSimilarity(c(0), c(1)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[VectorNorm].getName, "vec_norm"),
      arity("vec_norm", 1)(c => VectorNorm(c(0)))))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      arity("jaro_winkler", 2)(c => JaroWinkler(c(0), c(1)))))
    // Spark ships bloom build/probe expressions for its own runtime join
    // filters but does not register them as SQL functions; exposing them
    // makes the pre-shuffle join pruning of Relational.bloomPrunedJoin
    // expressible in ad-hoc SQL without UDFs. bloom_agg(xxhash64(k), items,
    // bits) -> binary; bloom_might_contain(filter, xxhash64(k)) -> boolean
    // (no false negatives, so a post-probe equi-join stays exact).
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      arity("bloom_agg", 3)(c =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          c(0), c(1), c(2)))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      arity("bloom_might_contain", 2)(c =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(c(0), c(1)))))
  }
}
