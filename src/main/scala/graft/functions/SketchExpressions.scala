package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the dedup sketches (MinHash banding,
  * SimHash) — guide §2.3/§2.4 applied to the near-dup family: the
  * explode→groupBy formulations shuffle one row PER SHINGLE/TOKEN
  * OCCURRENCE (a corpus-sized string shuffle at 100 TB) to compute a
  * per-document sketch that is a pure map-side fold. These kernels fold
  * per row, so the sketch paths lose their first shuffle entirely and the
  * per-shingle string is hashed ONCE instead of once per hash slot (the
  * aggregate form evaluates `xxhash64(s, i)` per slot i, re-hashing the
  * string bytes 64 times).
  *
  * BIT-EXACTNESS CONTRACT: every value is reproduced exactly as the
  * Catalyst expressions computed it (same XXH64 seed chains, same md5
  * 60-bit truncation), so band hashes written into PERSISTED index
  * artifacts by earlier rounds still join correctly against freshly
  * computed sketches, and every DuckDB oracle replay is unchanged.
  * [[graft.ext.SketchKernelSpec]] pins kernel == expression equality on
  * randomized inputs.
  */
object SketchKernels {

  /** MinHash signature slots: for slot i, min over shingles s of
    * xxhash64(s, i) = XXH64.hashInt(i, XXH64.hashUTF8String(s, 42)).
    * The string is hashed once; the per-slot tail is an int hash. */
  def signatures(sh: ArrayData, numHashes: Int): Array[Long] = {
    val n = sh.numElements()
    if (n == 0) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var e = 0
    while (e < n) {
      val s = sh.getUTF8String(e)
      val base = XXH64.hashUTF8String(s, 42L)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      e += 1
    }
    mins
  }

  def signaturesArray(sh: ArrayData, numHashes: Int): ArrayData = {
    val mins = signatures(sh, numHashes)
    if (mins == null) null else new GenericArrayData(mins)
  }

  /** Band hashes over the signature slots: band j fingerprints slots
    * [j*r, (j+1)*r) with the same left-fold xxhash64 chain the column
    * form `xxhash64(h_{jr}, …, h_{jr+r-1})` computes (seed 42, then
    * hashLong per slot). */
  def bandHashes(sh: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val mins = signatures(sh, numHashes)
    if (mins == null) return null
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var acc = 42L
      var t = j * r
      val end = t + r
      while (t < end) {
        acc = XXH64.hashLong(mins(t), acc)
        t += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word k-shingles over a token array — the
    * `array_distinct(when(size < k, [join]) otherwise ngrams)` semantics
    * of [[graft.ext.TextOps.shinglesFromTokens]] in one pass: fewer than
    * k tokens collapse to the single whole-join shingle; otherwise every
    * window of k consecutive tokens joined by one space, first-occurrence
    * order, duplicates dropped. */
  def wordShingles(w: ArrayData, k: Int): ArrayData = {
    val n = w.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = w.getUTF8String(i); i += 1 }
    val space = UTF8String.fromString(" ")
    if (n < k) {
      return new GenericArrayData(
        Array[Any](UTF8String.concatWs(space, toks: _*)))
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks(i + j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** 60-bit md5 hash: the top 15 hex digits of md5(s) as a long —
    * `conv(substring(md5(s),1,15),16,10)` bit for bit (top 60 bits of the
    * big-endian first 8 digest bytes). */
  def md5Hash60(s: UTF8String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Packed SimHash over a token array: per-bit majority of per-token
    * hashes, bit b set iff 2 * count(bit b set) > n_tokens — exactly the
    * explode→groupBy bit-sum formulation of
    * [[graft.ext.Dedup.simhashesFromTokens]]. `md5Kind` selects the
    * engine-neutral md5-60 token hash, else xxhash64 (seed 42). Empty
    * token arrays yield null (the exploded form emitted no row). */
  def simhash(w: ArrayData, bits: Int, md5Kind: Boolean): Any = {
    val n = w.numElements()
    if (n == 0) return null
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val t = w.getUTF8String(i)
      val h =
        if (md5Kind) md5Hash60(t)
        else XXH64.hashUTF8String(t, 42L)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) * 2L > n) packed |= (1L << b)
      b += 1
    }
    packed
  }

  /** Winnowing fingerprints of a text (Schleimer, Wilkerson & Aiken,
    * "Winnowing: local algorithms for document fingerprinting",
    * SIGMOD'03) in one pass — the per-document DISTINCT set of
    * sliding-window minima over hashed char k-grams, exactly the
    * posexplode → per-id window min → filter → distinct pipeline of
    * [[graft.ext.TextOps.winnowFingerprints]]: gram g_p at 1-based char
    * position p (whole text as the single gram when shorter than k),
    * fp_p = min(h_p .. h_{p+w-1}) clamped at the end, positions kept for
    * p ≤ max(n_grams − w, 0) + 1. Monotonic-deque sliding min, O(n).
    * Returns first-occurrence-ordered distinct minima; null input → null. */
  def winnowFps(s: UTF8String, k: Int, w: Int, md5Kind: Boolean): ArrayData = {
    val grams = CharKGrams.compute(s, k)
    val n = grams.numElements()
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      val g = grams.getUTF8String(i)
      h(i) = if (md5Kind) md5Hash60(g) else XXH64.hashUTF8String(g, 42L)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n < w) {
      // fewer grams than the window: one clamped window over everything
      var m = h(0)
      i = 1
      while (i < n) { if (h(i) < m) m = h(i); i += 1 }
      seen.add(m)
    } else {
      // monotonic deque of indices with increasing h values; window at
      // step i (i ≥ w−1) is [i−w+1, i]
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0 // exclusive
      i = 0
      while (i < n) {
        while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
        dq(tail) = i
        tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) seen.add(h(dq(head)))
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  /** Greedy-leftmost BPE merge of ONE rule over a symbol array — the
    * leftmost-greedy fold semantics: scan left to right, replace every
    * non-overlapping (lhs, rhs) adjacency by lhs+rhs. A merged token is
    * strictly longer than lhs, so it never re-matches as lhs in the same
    * rule pass (SketchKernelSpec pins it against the composed
    * `aggregate` fold). */
  private def mergeOne(syms: Array[UTF8String], lhs: UTF8String,
                       rhs: UTF8String, merged: UTF8String): Array[UTF8String] = {
    val n = syms.length
    val out = new Array[UTF8String](n)
    var o = 0
    var i = 0
    while (i < n) {
      if (i + 1 < n && syms(i).equals(lhs) && syms(i + 1).equals(rhs)) {
        out(o) = merged; o += 1; i += 2
      } else {
        out(o) = syms(i); o += 1; i += 1
      }
    }
    if (o == n) out else java.util.Arrays.copyOf(out, o)
  }

  /** All `rules` BPE merges applied in rank order in one pass over the
    * row — replaces a chain of `merges` interpreted `aggregate` folds
    * (plus the lineage checkpoints the chain's plan depth forced). */
  def bpeMergeAll(symsIn: ArrayData, lhs: Array[UTF8String],
                  rhs: Array[UTF8String],
                  merged: Array[UTF8String]): ArrayData = {
    val n = symsIn.numElements()
    var syms = new Array[UTF8String](n)
    var i = 0
    while (i < n) { syms(i) = symsIn.getUTF8String(i); i += 1 }
    var r = 0
    while (r < lhs.length) {
      syms = mergeOne(syms, lhs(r), rhs(r), merged(r))
      r += 1
    }
    new GenericArrayData(syms.asInstanceOf[Array[Any]])
  }

  /** Character-initial BPE symbol split of a word —
    * `transform(sequence(1, length(word)), i -> substr(word, i, 1))` in
    * one byte-offset pass (the CharKGrams k=1 shape). */
  def charSyms(s: UTF8String): ArrayData = CharKGrams.compute(s, 1)
}

/** minhash_bands(sh, numHashes, bands): per-row banded MinHash — one
  * array<long> of `bands` band hashes, value-identical to the
  * explode→groupBy→xxhash64-banding pipeline. */
case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(numHashes > 0 && bands > 0 && numHashes % bands == 0,
    s"numHashes=$numHashes not divisible by bands=$bands")

  override def prettyName: String = "minhash_bands"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    SketchKernels.bandHashes(a.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.SketchKernels.bandHashes($a, $numHashes, $bands);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhash_sigs(sh, numHashes): per-row MinHash signature slots as
  * array<long> (h0..h{n-1}), value-identical to the explode→groupBy
  * per-slot minima. */
case class MinHashSigs(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"numHashes must be positive: $numHashes")

  override def prettyName: String = "minhash_sigs"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    SketchKernels.signaturesArray(a.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.SketchKernels.signaturesArray($a, $numHashes);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** word_shingles(w, k): distinct word k-shingles of a token array —
  * the one-pass form of the zipped-shifts + array_distinct HOF chain. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"word_shingles needs k >= 1, got $k")

  override def prettyName: String = "word_shingles"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    SketchKernels.wordShingles(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.wordShingles($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** simhash_tokens(w, bits, md5Kind): packed per-row SimHash — the
  * explode→groupBy bit-majority pipeline as one fold. md5Kind selects the
  * engine-neutral md5-60 token hash ([[graft.ext.TextOps.md5Hash60]]);
  * false = xxhash64. */
case class SimHashTokens(child: Expression, bits: Int, md5Kind: Boolean)
    extends UnaryExpression {
  // bit 63 packs into the sign bit — same two's-complement value the
  // column formula's `lit(1L << 63)` summand produced
  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64]: $bits")

  override def prettyName: String = "simhash_tokens"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any =
    SketchKernels.simhash(a.asInstanceOf[ArrayData], bits, md5Kind)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.freshName("simhashIn")
    val res = ctx.freshName("simhashOut")
    nullSafeCodeGen(ctx, ev, a => s"""
      Object $res = graft.functions.SketchKernels.simhash($a, $bits, $md5Kind);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Long) $res).longValue(); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** winnow_fps(text, k, w, md5Kind): the per-document DISTINCT winnowing
  * fingerprint set as array<long> — one pass, replacing the
  * posexplode → Exchange(id) → WindowExec sliding-min → distinct
  * pipeline (value-identical; see [[SketchKernels.winnowFps]]). */
case class WinnowFps(child: Expression, k: Int, w: Int, md5Kind: Boolean)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"winnow_fps needs k, w >= 1: k=$k w=$w")

  override def prettyName: String = "winnow_fps"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    SketchKernels.winnowFps(a.asInstanceOf[UTF8String], k, w, md5Kind)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SketchKernels.winnowFps($a, $k, $w, $md5Kind);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** bpe_merge_all(syms, rules): every BPE merge rule applied in rank order
  * in one pass (greedy-leftmost per rule) — replaces a per-rule chain of
  * interpreted `aggregate` folds. Rules are constructor state (literal
  * lists folded at registration), like the PQ codebooks. */
case class BpeMergeAll(child: Expression, lhsIn: Seq[String], rhsIn: Seq[String])
    extends UnaryExpression {
  require(lhsIn.length == rhsIn.length,
    s"bpe_merge_all got ${lhsIn.length} lhs vs ${rhsIn.length} rhs rules")

  @transient private lazy val lhsU = lhsIn.map(UTF8String.fromString).toArray
  @transient private lazy val rhsU = rhsIn.map(UTF8String.fromString).toArray
  @transient private lazy val mergedU =
    lhsIn.zip(rhsIn).map { case (a, b) => UTF8String.fromString(a + b) }.toArray

  override def prettyName: String = "bpe_merge_all"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    SketchKernels.bpeMergeAll(a.asInstanceOf[ArrayData], lhsU, rhsU, mergedU)

  // rules live in instance state, so codegen references this expression
  // object instead of inlining literals
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMergeAll", this,
      classOf[BpeMergeAll].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.applyRules($a);")
  }

  def applyRules(a: ArrayData): ArrayData =
    SketchKernels.bpeMergeAll(a, lhsU, rhsU, mergedU)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
