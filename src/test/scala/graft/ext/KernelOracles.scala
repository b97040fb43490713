package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed Catalyst formulations of two native kernels, kept as test
  * oracles: each kernel must reproduce its composed form value for value
  * (SketchKernelSpec, BpeSpec, PropertySpec). */
object KernelOracles {

  /** Distinct word k-shingles as a higher-order-function chain: the
    * `word_shingles` oracle, including the whole-join rule for docs
    * shorter than k words. */
  def shinglesFromTokensHof(w: Column, k: Int = 3): Column =
    array_distinct(
      when(size(w) < k, array(array_join(w, " ")))
        .otherwise(TextOps.ngramsFromTokens(w, k)))

  /** Leftmost-greedy single-pair merge over a symbol array as one codegen
    * fold: the `bpe_merge_all` oracle. */
  def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))
}
