package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-exactness pins for the round-14 native sketch kernels
  * ([[graft.functions.SketchKernels]]): each kernel must reproduce the
  * pre-round-14 Catalyst formulation VALUE-FOR-VALUE — band hashes join
  * against persisted index artifacts and every DuckDB oracle replays the
  * old arithmetic, so "close" is wrong, only "identical" passes. */
class SketchKernelSpec extends SparkSpec {
  import spark.implicits._

  // adversarial token mix: duplicates, empties, multi-byte UTF-8, short
  // docs (< k tokens), single tokens
  private val texts = Seq(
    "a b c d e f g",
    "a b c a b c a b c",
    "one",
    "x y",
    "",
    "mixed  double  spaces",
    "über café 日本語 emoji ok",
    "the the the the",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "trailing space ",
    " leading",
    "punct, punct. punct! punct?"
  )
  private def docs = texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("word_shingles == HOF shinglesFromTokens (distinct, order, short-doc rule)") {
    val w = TextOps.words(col("text"))
    val native = docs.select(col("id"),
      call_function("word_shingles", w, lit(3)).as("sh"))
    val hof = docs.select(col("id"),
      KernelOracles.shinglesFromTokensHof(w, 3).as("sh"))
    val n = native.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val h = hof.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(n.toSeq == h.toSeq)
  }

  test("minhash_sigs / minhash_bands == explode->groupBy xxhash64 chain") {
    val sets = docs.select(col("id"),
      KernelOracles.shinglesFromTokensHof(TextOps.words(col("text")), 3).as("sh"))
    val numHashes = 16
    val bands = 4
    val r = numHashes / bands
    // old signature formulation
    val exploded = sets.select(col("id"), explode(col("sh")).as("s"))
    val mins = (0 until numHashes)
      .map(i => min(xxhash64(col("s"), lit(i))).as(s"h$i"))
    val oldSig = exploded.groupBy("id").agg(mins.head, mins.tail: _*)
    val newSig = sets.select(col("id"),
        call_function("minhash_sigs", col("sh"), lit(numHashes)).as("g"))
      .where(col("g").isNotNull)
      .select(col("id") +: (0 until numHashes)
        .map(i => element_at(col("g"), i + 1).as(s"h$i")): _*)
    assert(newSig.orderBy("id").collect().toSeq ==
      oldSig.orderBy("id").collect().toSeq)
    // old banding over old signatures
    val bandHashes = array((0 until bands).map { j =>
      xxhash64((j * r until (j + 1) * r).map(i => col(s"h$i")): _*)
    }: _*)
    val oldBands = oldSig.select(col("id"),
      posexplode(bandHashes).as(Seq("band", "band_hash")))
    val newBands = sets.select(col("id"),
      posexplode(call_function("minhash_bands", col("sh"),
        lit(numHashes), lit(bands))).as(Seq("band", "band_hash")))
    assert(newBands.orderBy("id", "band").collect().toSeq ==
      oldBands.orderBy("id", "band").collect().toSeq)
  }

  test("simhash_tokens == explode->groupBy bit majority, both hash kinds") {
    val tok = docs.select(col("id"), TextOps.words(col("text")).as("w"))
    for ((md5Kind, hash, bits) <- Seq(
        (false, (c: org.apache.spark.sql.Column) => xxhash64(c), 60),
        (false, (c: org.apache.spark.sql.Column) => xxhash64(c), 64),
        (true, (c: org.apache.spark.sql.Column) => TextOps.md5Hash60(c), 60))) {
      val hashed = tok.select(col("id"), explode(col("w")).as("t"))
        .select(col("id"), hash(col("t")).as("h"))
      val bitSums = (0 until bits).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b"))
      val agg = hashed.groupBy("id").agg(count(lit(1)).as("n"), bitSums: _*)
      val packed = (0 until bits).map(b =>
        when(col(s"b$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val old = agg.select(col("id"), packed.as("sim"))
      val nw = tok.select(col("id"),
          call_function("simhash_tokens", col("w"), lit(bits), lit(md5Kind))
            .as("sim"))
        .where(col("sim").isNotNull)
      assert(nw.orderBy("id").collect().toSeq ==
        old.orderBy("id").collect().toSeq, s"md5Kind=$md5Kind")
    }
  }

  test("simhashesFromTokens dispatches BOTH known hash kinds through the kernel path and matches") {
    val tok = docs.select(col("id"), TextOps.words(col("text")).as("w"))
    for ((md5Kind, hash) <- Seq(
        (false, (c: org.apache.spark.sql.Column) => xxhash64(c)),
        (true, (c: org.apache.spark.sql.Column) => TextOps.md5Hash60(c)))) {
      val out = Dedup.simhashesFromTokens(tok, bits = 60, md5Hash = md5Kind)
      // kernel plan contract: no Exchange (the exploded fallback would
      // aggregate through one)
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      // values equal the exploded formulation
      val hashed = tok.select(col("id"), explode(col("w")).as("t"))
        .select(col("id"), hash(col("t")).as("h"))
      val bitSums = (0 until 60).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b"))
      val agg = hashed.groupBy("id").agg(count(lit(1)).as("n"), bitSums: _*)
      val packed = (0 until 60).map(b =>
        when(col(s"b$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val old = agg.select(col("id"), packed.as("sim"))
      assert(out.orderBy("id").collect().toSeq ==
        old.orderBy("id").collect().toSeq)
    }
  }

  test("minhashBandsFromSets kernel path has NO Exchange before the band rows") {
    val sets = docs.select(col("id"),
      TextOps.shingles(col("text"), 3).as("sh"))
    val plan = Dedup.minhashBandsFromSets(sets, 64, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("winnowFingerprints kernel == exploded window-min pipeline, both hash kinds and w > n") {
    for (((md5Kind, hash), (k, w)) <- Seq(
        ((false, (c: org.apache.spark.sql.Column) => xxhash64(c)), (5, 4)),
        ((true, (c: org.apache.spark.sql.Column) => TextOps.md5Hash60(c)), (5, 4)),
        ((true, (c: org.apache.spark.sql.Column) => TextOps.md5Hash60(c)), (3, 40)))) {
      import org.apache.spark.sql.expressions.Window
      // exploded oracle (the pre-kernel formulation, inlined)
      val grams = docs.select(col("id"),
          greatest(length(col("text")) - (k - 1), lit(1)).as("n"),
          posexplode(call_function("char_kgrams", col("text"), lit(k)))
            .as(Seq("p0", "g")))
        .select(col("id"), col("n"), (col("p0") + 1).as("pos"),
          hash(col("g")).as("h"))
      val frame = Window.partitionBy("id").orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
      val old = grams.withColumn("fp", min(col("h")).over(frame))
        .where(col("pos") - 1 <= greatest(col("n") - w, lit(0)))
        .select(col("id"), col("fp")).distinct()
      val nw = TextOps.winnowFingerprints(docs, "id", "text", k, w, md5Kind)
      assert(!nw.queryExecution.executedPlan.toString.contains("Window"),
        "kernel path must not plan a WindowExec")
      assert(nw.orderBy("id", "fp").collect().toSeq ==
        old.orderBy("id", "fp").collect().toSeq,
        s"md5Kind=$md5Kind k=$k w=$w")
    }
  }

  test("bpe_merge_all == sequential mergePair folds (single and multi rule)") {
    val words = Seq("aaaa", "abab", "banana", "mississippi", "x", "aa",
      "aaa", "ababa", "bbbb", "abcabcabc", "ab", "ba")
    val df = words.toDF("word")
      .withColumn("syms", transform(
        sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))))
    val rules = Seq(("a", "a"), ("a", "b"), ("ab", "ab"), ("b", "a"))
    // fold oracle: apply rules sequentially with the interpreted fold
    var foldDf = df
    rules.foreach { case (a, b) =>
      foldDf = foldDf.withColumn("syms", KernelOracles.mergePair(col("syms"), a, b))
    }
    val native = df.withColumn("syms",
      call_function("bpe_merge_all", col("syms"),
        typedlit(rules.map(_._1)), typedlit(rules.map(_._2))))
    assert(native.orderBy("word").collect().map(_.getSeq[String](1)).toSeq ==
      foldDf.orderBy("word").collect().map(_.getSeq[String](1)).toSeq)
    // single-rule form too (the train-loop shape)
    val one = df.withColumn("syms",
      call_function("bpe_merge_all", col("syms"),
        typedlit(Seq("a")), typedlit(Seq("a"))))
    val oneFold = df.withColumn("syms", KernelOracles.mergePair(col("syms"), "a", "a"))
    assert(one.orderBy("word").collect().map(_.getSeq[String](1)).toSeq ==
      oneFold.orderBy("word").collect().map(_.getSeq[String](1)).toSeq)
  }
}
