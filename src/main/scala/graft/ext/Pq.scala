package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

import graft.functions.{PqCodes, PqDotTable}

/** Product quantization (PQ) for embedding search — the classic ANN memory
  * lever (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * public literature): the vector space is split into `m` subspaces, each
  * subspace k-means'd into `ksub` codewords, and every corpus vector is
  * stored as `m` small codes (here 4 × 16 codes = 4 bytes) instead of
  * dim × 4 float bytes — a 64× compression at dim 64. Queries score
  * against codes by ADC (asymmetric distance computation): the query
  * precomputes its dot product against every codeword ONCE (m × ksub
  * values), and each candidate then costs `m` table lookups + adds instead
  * of a dim-length dot product.
  *
  * 100 TB posture: training state is m × ksub × dsub doubles — collected
  * and re-broadcast as literals, the corpus never moves; encoding is one
  * narrow projection; ADC search shuffles only the (q_id, dt) query frame
  * (broadcast — queries are the small side) and per-pair work is O(m).
  * The same determinism contract as [[Ivf.kmeansCells]]: seeding is a
  * total order over an engine-neutral hash, assignment ties break on code,
  * scores round before ranking — so a second engine can replay training,
  * encoding, AND search bit-stably (see `topk_sim_pq`'s unrolled oracle).
  */
object Pq {

  /** Per-subspace codebooks, positionally coded: `cbs(s)(i)` is codeword
    * `i` of subspace `s` (centroids sorted by their training cell id, so
    * positional code == training code while all cells stay populated). */
  type Codebooks = Seq[Seq[Seq[Double]]]

  /** 1-based sub-vector slice of subspace `s` (length `dsub`). */
  private def subCol(vec: Column, s: Int, dsub: Int): Column =
    slice(vec, s * dsub + 1, dsub)

  /** Positional code of the L2-nearest codeword. argmin ||x−c||² over c ==
    * argmin (c·c − 2·x·c) — the ||x||² term is constant per row, and this
    * form needs only dot products, which both engines compute as the same
    * sequential double fold. Ties break toward the smaller code. `cc` is
    * the driver-precomputed c·c (same left-to-right fold as the runtime
    * dot, so the replayed oracle agrees up to assignment margins). */
  private def assignCol(sub: Column,
                        cents: Seq[Seq[Double]]): Column = {
    array_min(array(cents.zipWithIndex.map { case (c, code) =>
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
      struct((lit(cc) - lit(2.0) * Similarity.pdot(sub, typedlit(c))).as("score"),
        lit(code).as("code"))
    }: _*)).getField("code")
  }

  /** Train per-subspace codebooks: deterministic seeding (first `ksub`
    * rows by `orderHash`, `idCol` tiebreak — same contract as
    * [[Ivf.kmeansCells]]), then ONE Lloyd refinement per subspace (assign
    * against the seeds, recompute means via the typed [[VectorCentroid]]
    * aggregator). Each subspace costs one bounded collect (ksub × dsub
    * doubles) plus one aggregation job over the corpus. */
  def train(df: DataFrame, idCol: String, vecCol: String,
            m: Int, dsub: Int, ksub: Int,
            orderHash: Option[Column] = None, seed: Long = 42L): Codebooks = {
    // the (s, cell) aggregation key packs as __s * 65536 + cell (an int):
    // collision-free only while cell < 65536 and the product stays in range
    require(ksub <= 65536 && m <= 32767,
      s"pq geometry out of packing range: ksub=$ksub (max 65536), m=$m (max 32767)")
    val work = df.persist()
    val seedOrder = orderHash.getOrElse(xxhash64(col(idCol), lit(seed)))
    // Seeds in ONE job: the seed order is row-level (hash of the id), so
    // every subspace seeds from the SAME ksub rows — collect the full
    // vectors once and slice on the driver (ksub × dim doubles). Arithmetic
    // identical to the old per-subspace limit+collect, job count m → 1.
    val seedRows: Seq[Seq[Double]] = work
      .orderBy(seedOrder, col(idCol)).limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    require(seedRows.nonEmpty, "empty corpus — nothing to train PQ on")
    val seedCbs: Codebooks = (0 until m).map(s =>
      seedRows.map(r => r.slice(s * dsub, (s + 1) * dsub)))
    // One Lloyd refinement in ONE corpus pass (was one pass PER subspace):
    // assign all m codes per row, explode to (subspace, cell), aggregate
    // sub-slice means per pair. The (s, cell) pair packs into one int key
    // for the typed centroid aggregator; m·ksub ≤ 65536 cells per subspace
    // keeps the packing collision-free.
    val assigned = work
      .select(col(vecCol).as("__v"),
        codesCol(col(vecCol), seedCbs).as("__codes"))
      .select(posexplode(col("__codes")).as(Seq("__s", "cell")), col("__v"))
      .select(
        (col("__s") * 65536 + col("cell")).cast("int").as("k"),
        slice(col("__v"), col("__s") * dsub + 1, lit(dsub)).as("__sub"))
    val cents = Ivf.centroids(assigned, "k", "__sub").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
    work.unpersist()
    (0 until m).map { s =>
      cents.filter(_._1 / 65536 == s).sortBy(_._1 % 65536).map(_._2).toSeq
    }
  }

  /** Codebooks as a persistable (s, code, centroid) frame — the artifact a
    * 100 TB index stores beside its codes table so search runs read the
    * trained state back instead of retraining (m × ksub rows, bounded). */
  def codebooksDf(spark: org.apache.spark.sql.SparkSession,
                  cbs: Codebooks): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, code) => (s, code, c) }
    }.toDF("s", "code", "centroid")
  }

  /** Inverse of [[codebooksDf]]: collect the (bounded) persisted codebook
    * table back to the positional literals every search path embeds.
    * Positions must be dense per subspace — a gap means the artifact does
    * not match what [[train]] wrote, and a silent mis-index would score
    * every candidate against the wrong codewords. */
  def codebooksFromDf(df: DataFrame): Codebooks = {
    val rows = df.select(col("s").cast("int"), col("code").cast("int"),
        col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val bySub = rows.groupBy(_._1).toSeq.sortBy(_._1)
    // subspace ids must be dense 0..m-1 too: a missing subspace would
    // shift every later one down a POSITION, so its codes score against
    // the wrong codewords — the same silent mis-index the per-subspace
    // code check below guards, one level up
    require(bySub.map(_._1) == bySub.indices,
      s"codebook subspace ids not dense 0..${bySub.size - 1}: " +
        s"${bySub.map(_._1).mkString(",")} — stale or corrupt artifact")
    bySub.map { case (s, cw) =>
      val sorted = cw.sortBy(_._2).toSeq
      require(sorted.zipWithIndex.forall { case ((_, code, _), i) => code == i },
        s"subspace $s codebook has non-dense codes — stale or corrupt artifact")
      sorted.map(_._3)
    }
  }

  /** Flattened codebook + per-codeword c·c literals for the native kernels
    * (same left-to-right fold as [[assignCol]]'s driver-side cc). */
  private def flat(cbs: Codebooks): (Array[Double], Array[Double]) =
    (cbs.flatten.flatten.toArray,
      cbs.flatten.map(_.foldLeft(0.0)((acc, x) => acc + x * x)).toArray)

  /** The native kernels index the flattened codebook as
    * (s·ksub + k)·dsub — valid only when every subspace trained the SAME
    * number of codewords. [[train]] can legitimately return ragged
    * codebooks (a Lloyd cell that ends up empty is dropped), and flattening
    * a ragged codebook would silently misalign every subspace after the
    * short one. Such geometries take the composed per-codebook form, which
    * is offset-correct by construction. */
  private def uniform(cbs: Codebooks): Boolean =
    cbs.forall(_.length == cbs.head.length)

  /** Encode every vector as its `m` positional codes (the compressed
    * representation a 100 TB index stores instead of the vectors).
    *
    * Uniform codebooks go through the native `pq_codes` kernel
    * ([[graft.functions.PqCodes]]): the composed form below (kept for
    * ragged codebooks, see [[uniform]]) is a 64-subexpression tree whose
    * ANALYSIS + whole-stage-codegen cost (~seconds, data-independent)
    * dominated topk_sim_pq; the kernel is one loop over the codebook
    * literals with bit-identical arithmetic, so the replayed oracle cannot
    * tell them apart. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             cbs: Codebooks): DataFrame =
    df.select(col(idCol), codesCol(col(vecCol), cbs).as("codes"))

  /** All-subspace code array (native kernel, or composed when ragged). */
  private def codesCol(vec: Column, cbs: Codebooks): Column = {
    val dsub = cbs.head.head.length
    if (uniform(cbs)) {
      val (cbFlat, ccFlat) = flat(cbs)
      GraftColumn(PqCodes(GraftColumn.expr(vec), cbFlat, ccFlat,
        cbs.head.length, dsub))
    } else
      array(cbs.zipWithIndex.map { case (cb, s) =>
        assignCol(subCol(vec, s, dsub), cb)
      }: _*)
  }

  /** ADC top-k: approximate dot(query, candidate) = Σ_s dt[s][code_s],
    * where dt is the query's per-codeword dot table, computed ONCE per
    * query row. Scores round to `roundTo` BEFORE ranking with an n_id
    * tiebreak — the same stability contract as every other top-k path.
    * The query side must be small (it broadcasts with its dt). */
  def adcTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, cbs: Codebooks,
              k: Int, roundTo: Int = 4): DataFrame =
    adcTopKFromCodes(encode(corpus, idCol, vecCol, cbs),
      queries, idCol, vecCol, cbs, k, roundTo)

  /** [[adcTopK]] over a PRE-ENCODED (idCol, codes) table — the persisted-
    * index read path: the codes table (m bytes/vector) was written at
    * ingest, so a search run never touches a full corpus vector and never
    * re-encodes; per-candidate work is `m` lookups into the query's
    * broadcast dot table. */
  def adcTopKFromCodes(codes: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, cbs: Codebooks,
                       k: Int, roundTo: Int = 4): DataFrame = {
    val dsub = cbs.head.head.length
    // flattened dt: subspace s's codewords start at offsets(s)
    val offsets = cbs.scanLeft(0)(_ + _.length).init
    // native kernel for uniform codebooks, same plan-cost reason as [[encode]]
    val dt =
      if (uniform(cbs))
        GraftColumn(PqDotTable(GraftColumn.expr(col(vecCol)), flat(cbs)._1,
          cbs.head.length, dsub))
      else
        array((for {
          (cb, s) <- cbs.zipWithIndex
          c <- cb
        } yield Similarity.pdot(subCol(col(vecCol), s, dsub), typedlit(c))): _*)
    val q = broadcast(queries.select(col(idCol).as("q_id"), dt.as("dt")))
    val n = codes.select(col(idCol).as("n_id"), col("codes"))
    val scored = n.crossJoin(q).where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        round(aggregate(
          zip_with(col("codes"), typedlit(offsets), (cd, off) =>
            element_at(col("dt"), (off + cd + lit(1)).cast("int"))),
          lit(0.0), (acc, v) => acc + v), roundTo).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.select(col("q_id"), col("n_id"), col("adc"),
        row_number().over(w).cast("long").as("rank"))
      .where(col("rank") <= k)
  }

  /** ADC shortlist + EXACT re-rank — the production PQ search shape
    * (Jégou et al.'s re-ranking stage). Raw ADC cannot rank WITHIN a tight
    * cluster: every member quantizes to the same codes, the ADC scores
    * tie, and the id tiebreak is arbitrary — measured recall@5 0.03 on a
    * 20-gaussian clustered fixture vs 1.00 after re-rank (AnnRecallSpec;
    * on iid-random data raw ADC is fine and the fixture is the realistic
    * embedding shape). The re-rank reads FULL vectors for only the
    * `shortlist` ADC candidates per query and re-scores them with the
    * exact rounded-cosine contract every other top-k path uses
    * ([[Similarity.scoreRankTopK]]) — at 100 TB the codes table prunes
    * the corpus to shortlist × |queries| rows before any full vector is
    * touched. `shortlist` must cover the expected near-duplicate/cluster
    * granularity (everything inside a cluster ties at ADC). */
  def adcTopKRerank(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, cbs: Codebooks,
                    k: Int, shortlist: Int = 100,
                    roundTo: Int = 4): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cands = adcTopK(corpus, queries, idCol, vecCol, cbs, shortlist, roundTo)
      .select("q_id", "n_id")
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec"), Similarity.pnorm(col(vecCol)).as("q_norm")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      Similarity.pnorm(col(vecCol)).as("n_norm"))
    Similarity.scoreRankTopK(cands.join(c, Seq("n_id")).join(q, Seq("q_id")),
      Similarity.pdot, k, roundTo)
  }
}
