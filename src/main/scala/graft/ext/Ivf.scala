package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftColumn}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.NearestCell

/** Mutable centroid accumulator: element-wise sum + count. */
final case class CentroidBuf(var sum: Array[Double], var n: Long)

/** Typed Aggregator computing the mean vector of an embedding group —
  * the custom-Aggregator path reserved in SURVEY §2.10 for vector math the
  * built-ins can't express. Partial-aggregation friendly: `reduce` folds a
  * row into the buffer, `merge` combines map-side partials, so each cell's
  * centroid is one shuffle of k buffers, never a collect of vectors. */
object VectorCentroid extends Aggregator[Array[Float], CentroidBuf, Array[Double]] {

  override def zero: CentroidBuf = CentroidBuf(Array.emptyDoubleArray, 0L)

  override def reduce(b: CentroidBuf, a: Array[Float]): CentroidBuf = {
    require(a != null,
      "null embedding reached VectorCentroid — filter null vectors upstream")
    if (b.sum.isEmpty) b.sum = new Array[Double](a.length)
    require(a.length == b.sum.length,
      s"embedding dimension mismatch: ${a.length} vs ${b.sum.length} — " +
        "mixed-dimension vectors would silently corrupt the centroid")
    var i = 0
    while (i < a.length) { b.sum(i) += a(i); i += 1 }
    b.n += 1
    b
  }

  override def merge(x: CentroidBuf, y: CentroidBuf): CentroidBuf = {
    if (x.sum.isEmpty) y
    else if (y.sum.isEmpty) x
    else {
      require(x.sum.length == y.sum.length,
        s"embedding dimension mismatch: ${x.sum.length} vs ${y.sum.length}")
      var i = 0
      while (i < x.sum.length) { x.sum(i) += y.sum(i); i += 1 }
      x.n += y.n
      x
    }
  }

  override def finish(b: CentroidBuf): Array[Double] =
    if (b.n == 0) b.sum else b.sum.map(_ / b.n)

  override def bufferEncoder: Encoder[CentroidBuf] = ExpressionEncoder[CentroidBuf]()
  override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
}

/** IVF-style (inverted-file) approximate similarity search (SURVEY §2.11's
  * "IVF or LSH-bucketed variant as the scale path"): the corpus is
  * partitioned into cells, each cell summarized by its centroid (typed
  * [[VectorCentroid]] Aggregator); a query probes only the `nprobe` cells
  * whose centroids are nearest, so the search join is an equality join on
  * the cell id over a fraction of the corpus. Centroids are bounded
  * (cells × dim doubles) and travel as a broadcast literal — the corpus
  * never moves. */
object Ivf {

  /** Per-cell centroids via the typed Aggregator. Returns (cell, centroid:
    * array<double>). */
  def centroids(df: DataFrame, cellCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(cellCol).cast("int").as("cell"), col(vecCol).as("vec"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(VectorCentroid.toColumn.name("centroid"))
      .toDF("cell", "centroid")
  }

  /** Unit-normalize a centroid driver-side (k × dim doubles — trivial). */
  private def unitize(c: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(c.iterator.map(x => x * x).sum)
    if (n == 0.0) c else c.map(_ / n)
  }

  /** Per-centroid (score, cell) structs ranked by RAW dot against
    * unit-normalized centroid literals. The row's own norm is a constant
    * factor across all centroids, so argmax dot == argmax cosine — no
    * per-centroid recomputation of sqrt(dot(vec,vec)), and the dot itself
    * is the native codegen `vec_dot` (the interpreted HOF cosine here was
    * the round-2 perf_weak finding). */
  private def centroidDots(vec: Column,
                           cents: Seq[(Int, Seq[Double])]): Column = {
    array(cents.map { case (cell, c) =>
      struct(
        Similarity.pdot(vec, typedlit(unitize(c))).as("score"),
        lit(cell).as("cell"))
    }: _*)
  }

  /** Assignment column: index of the centroid with max cosine to `vec`.
    * Centroids travel as literals (bounded: k × dim doubles) into the
    * native `nearest_cell` kernel ([[graft.functions.NearestCell]]): a
    * composed `array_max` over [[centroidDots]] is one vec_dot struct PER
    * centroid, and k-means pays its analysis+codegen cost per Lloyd
    * iteration (the same plan-time-dominates pattern as the PQ tree); the
    * kernel is one loop over the centroid literals with identical
    * arithmetic and the same larger-cell-on-tie rule as array_max's
    * struct comparison. */
  private def nearestCell(vec: Column,
                          cents: Seq[(Int, Seq[Double])]): Column =
    GraftColumn(NearestCell(GraftColumn.expr(vec),
      cents.flatMap(c => unitize(c._2)).toArray, cents.map(_._1).toArray,
      cents.head._2.length))

  /** Distributed Lloyd k-means over an embedding column (cosine
    * assignment): deterministic seeded init (k rows by hash order), then
    * `iters` rounds of [assign via broadcast centroid literals → recompute
    * centroids with the typed Aggregator]. Per iteration: one aggregation
    * job plus a driver collect of k bounded centroids — the corpus itself
    * never moves or collects. Returns the input with a `cell` column.
    *
    * `orderHash` overrides the seed-row ordering (default
    * `xxhash64(id, seed)` — fastest): pass an engine-neutral hash (e.g.
    * `md5(concat(id, ":42"))`) when a SQL oracle must replay the seeding;
    * `idCol` breaks ties either way so the seed set is total-order
    * deterministic. */
  def kmeansCells(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int = 3, seed: Long = 42L,
                  orderHash: Option[Column] = None): DataFrame = {
    // Each Lloyd iteration re-derives assignments from the input; persist it
    // so the seed scan + every centroid aggregation read cached blocks
    // instead of replaying the source lineage (round-2 "recompute chain").
    // Released before returning: the iterations execute eagerly (collects)
    // while this frame is hot; the RETURNED plan re-reads the source lazily.
    val work = df.persist()
    var cents: Seq[(Int, Seq[Double])] = work
      .orderBy(orderHash.getOrElse(xxhash64(col(idCol), lit(seed))), col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq)
      .zipWithIndex.map { case (c, i) => (i, c) }.toSeq

    var it = 0
    while (it < iters) {
      val assigned = work.withColumn("cell", nearestCell(col(vecCol), cents))
      cents = centroids(assigned, "cell", vecCol)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
      it += 1
    }
    val out = df.withColumn("cell", nearestCell(col(vecCol), cents))
    work.unpersist()
    out
  }

  /** Approximate top-k: probe the `nprobe` cells nearest each query (by
    * centroid cosine), brute-force only within those cells. Centroids are
    * re-aggregated from `corpus` — one bounded collect; at index-read
    * scale prefer [[ivfTopKStaged]], which reads them from the persisted
    * centroid table instead of re-scanning the corpus. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, cellCol: String,
              k: Int, nprobe: Int = 2, roundTo: Int = 4): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, cellCol,
      // bounded: (cells × dim) doubles — safe to collect + broadcast as literal
      centroids(corpus, cellCol, vecCol)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
        .sortBy(_._1),
      k, nprobe, roundTo)

  /** [[ivfTopK]] over a PERSISTED index — the production read path: the
    * corpus side is the staged cell-assignment table and `centroidTable`
    * is the staged (cell, centroid) table written at ingest, so a search
    * run never re-clusters and never re-aggregates the corpus; its only
    * corpus-sized work is the probe join itself. `centroidTable` is k
    * rows — the collect is bounded by construction. */
  def ivfTopKStaged(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, cellCol: String,
                    centroidTable: DataFrame,
                    k: Int, nprobe: Int = 2, roundTo: Int = 4): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, cellCol,
      centroidTable.select(col("cell").cast("int"), col("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
        .sortBy(_._1),
      k, nprobe, roundTo)

  private def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, cellCol: String,
                          cents: Seq[(Int, Seq[Double])],
                          k: Int, nprobe: Int, roundTo: Int): DataFrame = {

    // rank cells per query by centroid dot (unit centroids ⇒ cosine order),
    // keep nprobe; norms computed ONCE per row, native vec_dot throughout
    val probed = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        Similarity.pnorm(col(vecCol)).as("q_norm"),
        explode(slice(reverse(array_sort(
          centroidDots(col(vecCol), cents))), 1, nprobe)).as("probe"))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        col("probe.cell").as("cell"))

    val c = corpus.select(col(cellCol).cast("int").as("cell"),
      col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      Similarity.pnorm(col(vecCol)).as("n_norm"))
    // scoring/ranking (incl. the zero-norm NaN guard) is the SAME contract
    // as the brute-force and LSH paths — one shared implementation
    Similarity.scoreRankTopK(
      c.join(probed, Seq("cell")).where(col("n_id") =!= col("q_id")),
      Similarity.pdot, k, roundTo)
  }
}
