package graft.ext
import graft.Ckpt.CkptOps

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, VectorNorm}

/** Similarity search over embedding columns (`ArrayType(FloatType)`) for the
  * LLM-data-pipeline layer (SURVEY.md §2.11): exact brute-force top-k as the
  * correctness baseline, LSH-bucketed variants as the scale path, and
  * threshold near-dup within buckets.
  *
  * All vector math is computed in double as a sequential left fold (the
  * native `vec_dot`/`vec_norm` kernels; [[dot]] is the same fold as
  * higher-order Catalyst expressions), matching what a scalar reference
  * implementation computes, so results are reproducible across
  * partitionings (per-row math has no accumulation-order freedom).
  */
object Similarity {

  /** Dot product in double precision (float inputs upcast per element). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity = dot / (|a| · |b|). NULL (not an ANSI
    * divide-by-zero error) when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(sqrt(dot(a, a)) * sqrt(dot(b, b)), lit(0.0))

  /** [[dot]] as the native codegen expression ([[graft.functions.DotProduct]]):
    * same element order and double upcasting, so bit-identical results. */
  private[ext] def pdot(a: Column, b: Column): Column =
    GraftColumn(DotProduct(GraftColumn.expr(a), GraftColumn.expr(b)))

  /** L2 norm as the fused native [[graft.functions.VectorNorm]] (one
    * traversal instead of square-accumulate + a separate sqrt);
    * IEEE-identical to sqrt(dot(v,v)), so hashes cannot move. */
  private[ext] def pnorm(v: Column): Column =
    GraftColumn(VectorNorm(GraftColumn.expr(v)))

  /** Exact brute-force top-k neighbors of each query vector.
    *
    * The query side must be SMALL (it is broadcast; cost = |corpus| × |q|).
    * This is the correctness baseline — use [[lshTopK]] when the query side
    * scales. Similarity is rounded to `roundTo` decimals BEFORE ranking and
    * ties break on neighbor id, so the top-k set is stable under float
    * noise and across engines. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     roundTo: Int = 4): DataFrame = {
    // Norms are computed ONCE per row, not once per pair — per-pair work is
    // a single O(dim) dot product. Same IEEE values as computing
    // sqrt(dot(v,v)) inside the pair expression, so oracle parity holds.
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      pnorm(col(vecCol)).as("q_norm")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      pnorm(col(vecCol)).as("n_norm"))
    scoreRankTopK(c.crossJoin(q).where(col("n_id") =!= col("q_id")),
      pdot, k, roundTo)
  }

  /** The shared scoring/ranking contract of every top-k path: cosine from
    * the precomputed norms, ROUNDED before ranking, neighbor-id tiebreak,
    * rank ≤ k. One implementation so the stability promise (same rounding,
    * same tiebreak) cannot drift between the exact and approximate paths. */
  private[ext] def scoreRankTopK(pairs: DataFrame,
                                 dotFn: (Column, Column) => Column,
                                 k: Int, roundTo: Int): DataFrame = {
    // zero-norm (all-zero) vectors have no direction: without this guard
    // the cosine is 0/0 = NaN, and NaN sorts ABOVE every real score in the
    // descending rank — a zero vector would become everyone's rank-1 hit
    val scored = pairs
      .where(col("q_norm") > 0 && col("n_norm") > 0)
      .select(col("q_id"), col("n_id"),
        round(dotFn(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")),
          roundTo).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    scored.select(col("q_id"), col("n_id"), col("sim"),
        row_number().over(w).cast("long").as("rank"))
      .where(col("rank") <= k)
  }

  /** Exact maximum-inner-product top-k — the retrieval objective when
    * MAGNITUDES carry signal (recommendation scores, learned rerankers,
    * unnormalized embeddings), where [[bruteForceTopK]]'s cosine would
    * erase it. Same contract otherwise: query side broadcast, score
    * rounded before ranking, neighbor-id tiebreak. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, roundTo: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .crossJoin(q).where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        round(pdot(col("q_vec"), col("n_vec")), roundTo).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    scored.select(col("q_id"), col("n_id"), col("score"),
        row_number().over(w).cast("long").as("rank"))
      .where(col("rank") <= k)
  }

  /** Approximate MIPS via the angular reduction (Bachrach et al., "Speeding
    * up the Xbox recommender system using a Euclidean transformation for
    * inner-product spaces", RecSys 2014; Neyshabur & Srebro, ICML 2015):
    * append sqrt(M² − |x|²) to every corpus vector (M = max corpus norm)
    * and a 0 to queries — all augmented corpus vectors then share norm M,
    * so inner-product ORDER becomes cosine order on the augmented space
    * and sign-LSH (an angular family that cannot see magnitudes) buckets
    * a MIPS problem correctly. Candidates come from the augmented-space
    * buckets (OR-construction over `tables` plane sets, equality join,
    * never all-pairs); scoring is the RAW inner product on the original
    * vectors, identical to [[mipsTopK]]'s rank contract. */
  def mipsLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nPlanes: Int = 6, dim: Int = 64,
                  tables: Int = 4, roundTo: Int = 4,
                  seed: Long = 142L): DataFrame = {
    val dvec = (c: Column) => transform(c, x => x.cast("double"))
    val m2 = corpus.agg(max(pdot(col(vecCol), col(vecCol))).as("__m2"))
    def bucketArr(aug: Column) = array((0 until tables).map(t =>
      lshBucket(aug, nPlanes, dim + 1, dot, seed = seed + t)): _*)
    val bc = corpus.crossJoin(broadcast(m2))
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        posexplode(bucketArr(concat(dvec(col(vecCol)),
          array(sqrt(greatest(col("__m2") - pdot(col(vecCol), col(vecCol)),
            lit(0.0))))))).as(Seq("tbl", "bucket")))
    val bq = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        posexplode(bucketArr(concat(dvec(col(vecCol)), array(lit(0.0)))))
          .as(Seq("tbl", "bucket")))
    val cands = bc.join(bq, Seq("tbl", "bucket"))
      .where(col("n_id") =!= col("q_id"))
      .dropDuplicates("q_id", "n_id")
      .select(col("q_id"), col("n_id"),
        round(pdot(col("q_vec"), col("n_vec")), roundTo).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    cands.select(col("q_id"), col("n_id"), col("score"),
        row_number().over(w).cast("long").as("rank"))
      .where(col("rank") <= k)
  }

  /** Deterministic random-hyperplane components, seeded driver-side — the
    * planes are bounded (nPlanes × dim doubles) and travel as a literal. */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** The seeded hyperplanes behind [[lshBucket]], public so an oracle (or
    * any second engine) can replay the EXACT bucket function: the
    * components format via Double.toString — the shortest decimal that
    * round-trips — so a correct parser on the other side reconstructs the
    * identical doubles and the sign-of-dot decisions cannot diverge. */
  def lshPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    planes(nPlanes, dim, seed)

  /** Sign-LSH bucket id: one bit per hyperplane (sign of v·plane), packed
    * into a long. Vectors close in cosine land in the same bucket with
    * probability 1 - θ/π per bit. `dotFn` lets callers pass the native
    * `vec_dot` (float·double arrays are accepted by both paths). */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int,
                dotFn: (Column, Column) => Column = dot,
                seed: Long = 42L): Column = {
    val ps = planes(nPlanes, dim, seed)
    ps.zipWithIndex.map { case (p, i) =>
      when(dotFn(vec, typedlit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Approximate top-k via multi-table sign-LSH: `tables` independent plane
    * sets (OR-construction); candidates are corpus vectors sharing ANY
    * table's bucket with the query, deduped, then ranked. Recall for a pair
    * with bit-agreement p is 1-(1-p^nPlanes)^tables — tables trades
    * candidate volume for recall; the join stays an equality join on
    * (table, bucket), shuffle-partitioned, never all-pairs. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nPlanes: Int = 8, dim: Int = 64, tables: Int = 4,
              roundTo: Int = 4): DataFrame = {
    def bucketArr(vec: Column) = array((0 until tables).map(t =>
      lshBucket(vec, nPlanes, dim, pdot, seed = 42L + t)): _*)
    val bq = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        pnorm(col(vecCol)).as("q_norm"),
        posexplode(bucketArr(col(vecCol))).as(Seq("tbl", "bucket")))
    val bc = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        pnorm(col(vecCol)).as("n_norm"),
        posexplode(bucketArr(col(vecCol))).as(Seq("tbl", "bucket")))
    val cands = bc.join(bq, Seq("tbl", "bucket"))
      .where(col("n_id") =!= col("q_id"))
      .dropDuplicates("q_id", "n_id")
    scoreRankTopK(cands, pdot, k, roundTo)
  }

  /** NDCG@k of a candidate ranking against a ground-truth ranking — the
    * graded upgrade of [[overlapStats]]'s recall (which cannot see WHERE
    * in the list the hits landed). Both inputs carry (q_id, n_id, rank);
    * truth rank r is graded rel = k+1−r, candidate position i discounts
    * by log2(i+1), and the ideal DCG is the k-term constant embedded as
    * one shortest-round-trip literal on both engines. Returns
    * (q_id, ndcg) r5-rounded; 1.0 = the candidate reproduced the truth
    * order exactly. Plan: one k-bounded join per query + one aggregation
    * — evaluation never touches the corpus. */
  def ndcgByQuery(truth: DataFrame, candidate: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val rel = truth.select(col("q_id"), col("n_id"),
      (lit(k + 1) - col("rank")).cast("double").as("__rel"))
    val idcg = idcgAt(k)
    // the discount takes only k distinct values (ranks 1..k), so embed
    // exact per-rank double literals instead of calling log2 at runtime:
    // Spark computes log2 as ln(x)/ln(2) while DuckDB uses native log2 —
    // a last-ulp difference there sits one FLOOR away from a hash flip
    // (the same fragility class the r5 sites guard everywhere else).
    // Fold DEFAULT is the runtime log2 expression, not NaN: a candidate
    // rank outside 1..k (a caller passing a deeper list than it truths)
    // degrades to the last-ulp-fragile discount for that row only,
    // instead of one out-of-range row poisoning the query's whole ndcg
    // sum to NaN.
    val discount = discountAt(k).zipWithIndex.foldLeft(
      log(2.0, col("rank").cast("double") + lit(1.0))) {
      case (acc, (d, i)) => when(col("rank") === (i + 1), lit(d)).otherwise(acc)
    }
    candidate.join(rel, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(graft.ext.Timeseries.r5(
        sum(coalesce(col("__rel"), lit(0.0)) / discount)
          / lit(idcg)).as("ndcg"))
  }

  /** The per-rank log2(i+1) discount constants for ranks 1..k — public so
    * an oracle replay embeds the SAME shortest-round-trip literals instead
    * of each engine's own log2 kernel (which differ in the last ulp). */
  def discountAt(k: Int): Seq[Double] =
    (1 to k).map(i => math.log(i + 1.0) / math.log(2.0))

  /** The ideal DCG@k constant (Σ (k+1−i)/log2(i+1)) — public so an oracle
    * replay embeds the SAME shortest-round-trip literal the engine uses. */
  def idcgAt(k: Int): Double = (1 to k)
    .map(i => (k + 1 - i).toDouble / (math.log(i + 1.0) / math.log(2.0)))
    .sum

  /** Recall-style overlap of an approximate top-k result against the exact
    * one: one row (method, n_hits, n_exact, recall). Both inputs are
    * (q_id, n_id[, ...]) top-k frames; the semi-join and the counts are
    * distributed — nothing is collected. This is the quantitative gate that
    * tells a user what the ANN "scale path" loses vs [[bruteForceTopK]]. */
  def overlapStats(exact: DataFrame, approx: DataFrame, method: String): DataFrame = {
    val hits = exact.select("q_id", "n_id")
      .join(approx.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val tot = exact.select("q_id", "n_id").agg(count(lit(1)).as("n_exact"))
    hits.crossJoin(tot).select(
      lit(method).as("method"), col("n_hits"), col("n_exact"),
      // n_exact=0 (empty query set / over-filtered ids) must read as
      // recall 0.0, not a NULL that NPEs a getAs[Double] downstream
      when(col("n_exact") > 0, round(col("n_hits") / col("n_exact"), 4))
        .otherwise(lit(0.0)).as("recall"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold within a bucket column
    * (a label, an LSH bucket, any partition key) — the bucket bounds the
    * pair fan-out so the join is never corpus². */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       bucketCol: String, threshold: Double,
                       roundTo: Int = 4): DataFrame = {
    val x = df.select(col(bucketCol).as("bucket"), col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), pnorm(col(vecCol)).as("a_norm"))
    val y = df.select(col(bucketCol).as("bucket"), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), pnorm(col(vecCol)).as("b_norm"))
    x.join(y, Seq("bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        // nullif: an all-zero vector would be an ANSI divide-by-zero JOB
        // failure; null sim fails the threshold filter instead
        round(pdot(col("a_vec"), col("b_vec"))
          / nullif(col("a_norm") * col("b_norm"), lit(0.0)),
          roundTo).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (cluster-then-prune, after the
    * public SemDeDup recipe: k-means the embedding space, then prune
    * near-duplicates WITHIN each cluster): [[Ivf.kmeansCells]] partitions
    * the corpus into `k` cells, [[embeddingNearDup]] emits in-cell pairs
    * with cosine ≥ `threshold`, [[Dedup.connectedComponents]] closes them
    * transitively, and every vector canonicalizes to its component-minimum
    * id. Returns (idCol, cell, component): `component == id` marks the kept
    * representative of each semantic-duplicate group; everything else is a
    * semantic duplicate of `component`.
    *
    * 100 TB posture: the pair comparison is confined WITHIN cells, so the
    * candidate join is an equality join on `cell`, never corpus² — and the
    * cell count `k` is the scaling knob (SemDeDup's own recipe: k grows
    * with the corpus, holding per-cell population — hence per-cell pair
    * volume (n/k)² — constant). Cluster state is k × dim doubles traveling
    * as broadcast literals; the corpus never collects. `orderHash` as in
    * [[Ivf.kmeansCells]]: pass an engine-neutral seed-ordering hash when a
    * second engine must replay the cell assignment. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int = 2, threshold: Double = 0.4,
                    orderHash: Option[Column] = None,
                    roundTo: Int = 4): DataFrame = {
    // checkpoint: the assignment feeds BOTH the pair join (twice, self-join)
    // and the output projection — freeze it so the Lloyd chain (with its
    // k × dim centroid literals) plans once, not three times
    val cells = Ivf.kmeansCells(df, idCol, vecCol, k, iters,
      orderHash = orderHash).ckpt()
    val pairs = embeddingNearDup(cells, idCol, vecCol, "cell", threshold, roundTo)
    cells.select(col(idCol), col("cell"))
      .join(Dedup.connectedComponents(pairs).withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Per-vector scalar quantization to int8-range codes — the 4× memory
    * lever for serving/searching embeddings at corpus scale (float32 → one
    * byte per dim, with (mn, mx) per vector to dequantize). code =
    * floor((x−mn)/(mx−mn)·255) ∈ [0,255]; a constant vector (mx = mn)
    * quantizes to all zeros.
    *
    * The min/max are computed ONCE per row as standalone columns and only
    * then referenced inside the `transform` lambda — nesting `array_min`
    * in the lambda body would re-evaluate it per ELEMENT (the O(d²)
    * interpreted-HOF recompute trap this repo's dedup code documents).
    * Arithmetic is double on both engines (float32 inputs cast up), so
    * code boundaries are engine-identical IEEE ops. */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.withColumn("__dd", transform(col(vecCol), x => x.cast("double")))
      .withColumn("mn", array_min(col("__dd")))
      .withColumn("mx", array_max(col("__dd")))
      .select(col(idCol), col("mn"), col("mx"),
        transform(col("__dd"), x =>
          when(col("mx") === col("mn"), lit(0L))
            .otherwise(floor((x - col("mn")) / (col("mx") - col("mn")) * 255)
              .cast("long"))).as("codes"))
}
