package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Second-moment accumulator: count, element-wise sum, and the upper
  * triangle of Σ x·xᵀ (row-major into a d×d buffer; the lower triangle
  * stays zero until [[VectorMoments.finish]] mirrors it). */
final case class MomentsBuf(var n: Long, var sum: Array[Double],
                            var gram: Array[Double])

/** One-pass distributed moments for PCA: (n, Σx, Σx·xᵀ). Partial-agg
  * friendly — `reduce` folds a row into the buffer, `merge` adds buffers —
  * so the full corpus contributes through ONE shuffle of d²-sized buffers
  * (d=64 → 32 KB each), never a collect of vectors and never the
  * explode-to-(i,j)-pairs shape whose shuffle is d² × corpus rows. The
  * per-row cost d(d+1)/2 multiplies is the BLAS-syrk lower bound for a
  * Gram matrix; at 100 TB this is the dominant and unavoidable map-side
  * work, and the reduce side is k-bounded (one d² buffer per partition). */
object VectorMoments
    extends Aggregator[Array[Float], MomentsBuf, (Long, Array[Double], Array[Double])] {

  override def zero: MomentsBuf =
    MomentsBuf(0L, Array.emptyDoubleArray, Array.emptyDoubleArray)

  override def reduce(b: MomentsBuf, a: Array[Float]): MomentsBuf = {
    require(a != null,
      "null embedding reached VectorMoments — filter null vectors upstream")
    val d = a.length
    if (b.sum.isEmpty) { b.sum = new Array[Double](d); b.gram = new Array[Double](d * d) }
    require(d == b.sum.length,
      s"embedding dimension mismatch: $d vs ${b.sum.length}")
    var i = 0
    while (i < d) {
      val xi = a(i).toDouble
      b.sum(i) += xi
      var j = i
      while (j < d) { b.gram(i * d + j) += xi * a(j); j += 1 }
      i += 1
    }
    b.n += 1
    b
  }

  override def merge(x: MomentsBuf, y: MomentsBuf): MomentsBuf = {
    if (x.sum.isEmpty) y
    else if (y.sum.isEmpty) x
    else {
      require(x.sum.length == y.sum.length,
        s"embedding dimension mismatch: ${x.sum.length} vs ${y.sum.length}")
      var i = 0
      while (i < x.sum.length) { x.sum(i) += y.sum(i); i += 1 }
      var k = 0
      while (k < x.gram.length) { x.gram(k) += y.gram(k); k += 1 }
      x.n += y.n
      x
    }
  }

  override def finish(b: MomentsBuf): (Long, Array[Double], Array[Double]) = {
    val d = b.sum.length
    var i = 1
    while (i < d) {
      var j = 0
      while (j < i) { b.gram(i * d + j) = b.gram(j * d + i); j += 1 }
      i += 1
    }
    (b.n, b.sum, b.gram)
  }

  override def bufferEncoder: Encoder[MomentsBuf] = ExpressionEncoder[MomentsBuf]()
  override def outputEncoder: Encoder[(Long, Array[Double], Array[Double])] =
    ExpressionEncoder[(Long, Array[Double], Array[Double])]()
}

/** PCA projection of an embedding column (SURVEY §2.11 similarity-layer
  * depth): dimensionality reduction for near-dup clustering / visualization
  * of a 100 TB embedding corpus.
  *
  * Spark-first shape: the data pass is exactly ONE distributed aggregation
  * ([[VectorMoments]]); the eigen step runs on the DRIVER over the d×d
  * covariance (d² doubles — k-bounded, like [[Ivf]]'s centroid collect),
  * and the projection is a per-row codegen dot against broadcast literal
  * component vectors. No d²×rows shuffle, no driver-side row loop.
  *
  * Determinism/oracle parity (the DuckDB oracle replays every step):
  *  - components come from FIXED-COUNT power iteration (`iters`) started
  *    from the all-ones vector — a deterministic function of the covariance
  *    whether or not it has converged, so both engines agree even when the
  *    eigengap is small;
  *  - the covariance is ROUNDED (`covRound` decimals) before iterating and
  *    the deflated matrix is rounded again, so both engines iterate the
  *    SAME matrix; each iterate v_t is ALSO rounded (`vRound` decimals)
  *    after normalization, so summation-order ULP differences between the
  *    Scala loop and the oracle's SUM are snapped back every step instead
  *    of persisting through the chain. (Residual risk: a value landing
  *    within an ULP of a rounding boundary could still flip — the same
  *    bounded exposure as every replayed-rounding oracle in this repo,
  *    now per-step instead of compounding.);
  *  - component sign follows sum(v) ≥ 0; projections round to `outRound`.
  */
object Pca {

  /** Power-iterate `iters` steps on (rounded) matrix c from all-ones,
    * rounding each normalized iterate to `vRound` decimals (see the
    * determinism contract in the object doc). */
  private def powerIter(c: Array[Array[Double]], iters: Int,
                        vRound: Int): Array[Double] = {
    val d = c.length
    var v = Array.fill(d)(1.0)
    var t = 0
    while (t < iters) {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        while (j < d) { s += c(i)(j) * v(j); j += 1 }
        w(i) = s
        i += 1
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      require(nrm > 0.0, "zero covariance matrix — degenerate embedding corpus")
      v = w.map(x => round(x / nrm, vRound))
      t += 1
    }
    v
  }

  private def round(x: Double, p: Int): Double =
    BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Fit top-2 principal components and project: (idCol, pc1, pc2). */
  def fitProject2(embeddings: DataFrame, idCol: String, vecCol: String,
                  iters: Int = 24, covRound: Int = 7,
                  outRound: Int = 5, vRound: Int = 9): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._

    val (n, s, g) = embeddings.select(col(vecCol)).as[Array[Float]]
      .select(VectorMoments.toColumn).head()
    require(n > 0, "empty embedding corpus")
    val d = s.length
    val mu = s.map(x => round(x / n, 9))
    val cov = Array.tabulate(d, d)((i, j) =>
      round(g(i * d + j) / n - mu(i) * mu(j), covRound))

    val v1 = powerIter(cov, iters, vRound)
    val lam1 = round(
      (0 until d).map(i => (0 until d).map(j => v1(i) * cov(i)(j) * v1(j)).sum).sum, 9)
    val cov2 = Array.tabulate(d, d)((i, j) =>
      round(cov(i)(j) - lam1 * v1(i) * v1(j), covRound))
    val v2 = powerIter(cov2, iters, vRound)

    def signed(v: Array[Double]): Array[Double] =
      if (v.sum >= 0) v else v.map(-_)
    val (u1, u2) = (signed(v1), signed(v2))
    val muDot1 = (0 until d).map(i => mu(i) * u1(i)).sum
    val muDot2 = (0 until d).map(i => mu(i) * u2(i)).sum

    def proj(u: Array[Double], muDot: Double): Column =
      org.apache.spark.sql.functions.round(
        Similarity.pdot(col(vecCol), typedLit(u)) - lit(muDot),
        outRound)
    embeddings.select(col(idCol),
      proj(u1, muDot1).as("pc1"), proj(u2, muDot2).as("pc2"))
  }

  /** DuckDB replay of [[fitProject2]] — the full pipeline (moments →
    * rounded covariance → unrolled power iterations → deflation → second
    * chain → signed projection) as one SQL statement with generated CTEs,
    * so the engine result hash-matches at any oracle scale. */
  def oracleSql2(table: String, idCol: String, vecCol: String, dim: Int,
                 iters: Int = 24, covRound: Int = 7, outRound: Int = 5,
                 vRound: Int = 9): String = {
    // one w/v CTE pair per power-iteration step, per component chain;
    // v is ROUNDED after normalization, mirroring powerIter's per-step snap
    def chain(p: String, covCte: String): String =
      (1 to iters).map { t =>
        val prev = if (t == 1) s"${p}v0" else s"${p}v${t - 1}"
        s"""${p}w$t AS MATERIALIZED (SELECT c.i AS i, SUM(c.c * v.val) AS val
           |  FROM $covCte c JOIN $prev v ON v.i = c.j GROUP BY c.i),
           |${p}v$t AS MATERIALIZED (SELECT i, ROUND(val / (SELECT SQRT(SUM(val * val)) FROM ${p}w$t), $vRound) AS val
           |  FROM ${p}w$t)""".stripMargin
      }.mkString(",\n")
    val va = s"p1v$iters"
    val vb = s"p2v$iters"
    s"""WITH dims AS MATERIALIZED (SELECT CAST(r AS INT) AS i FROM range(1, ${dim + 1}) t(r)),
       |e AS MATERIALIZED (SELECT $idCol, $vecCol FROM $table),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
       |mu AS MATERIALIZED (SELECT d.i, ROUND(SUM(CAST($vecCol[d.i] AS DOUBLE)) / (SELECT n FROM nn), 9) AS m
       |  FROM e CROSS JOIN dims d GROUP BY d.i),
       |sm AS MATERIALIZED (SELECT di.i AS i, dj.i AS j,
       |    SUM(CAST($vecCol[di.i] AS DOUBLE) * CAST($vecCol[dj.i] AS DOUBLE)) AS s
       |  FROM e CROSS JOIN dims di CROSS JOIN dims dj GROUP BY di.i, dj.i),
       |cov AS MATERIALIZED (SELECT sm.i, sm.j,
       |    ROUND(sm.s / (SELECT n FROM nn) - mi.m * mj.m, $covRound) AS c
       |  FROM sm JOIN mu mi ON mi.i = sm.i JOIN mu mj ON mj.i = sm.j),
       |p1v0 AS MATERIALIZED (SELECT i, 1.0 AS val FROM dims),
       |${chain("p1", "cov")},
       |lam1 AS MATERIALIZED (SELECT ROUND(SUM(vi.val * c.c * vj.val), 9) AS l
       |  FROM cov c JOIN $va vi ON vi.i = c.i JOIN $va vj ON vj.i = c.j),
       |cov2 AS MATERIALIZED (SELECT c.i, c.j,
       |    ROUND(c.c - (SELECT l FROM lam1) * vi.val * vj.val, $covRound) AS c
       |  FROM cov c JOIN $va vi ON vi.i = c.i JOIN $va vj ON vj.i = c.j),
       |p2v0 AS MATERIALIZED (SELECT i, 1.0 AS val FROM dims),
       |${chain("p2", "cov2")},
       |sg1 AS MATERIALIZED (SELECT CASE WHEN SUM(val) >= 0 THEN 1.0 ELSE -1.0 END AS s FROM $va),
       |sg2 AS MATERIALIZED (SELECT CASE WHEN SUM(val) >= 0 THEN 1.0 ELSE -1.0 END AS s FROM $vb),
       |muv1 AS MATERIALIZED (SELECT SUM(mu.m * v.val) AS mv FROM mu JOIN $va v ON v.i = mu.i),
       |muv2 AS MATERIALIZED (SELECT SUM(mu.m * v.val) AS mv FROM mu JOIN $vb v ON v.i = mu.i),
       |proj AS MATERIALIZED (SELECT e.$idCol,
       |    SUM(CAST(e.$vecCol[d.i] AS DOUBLE) * va.val) AS xa,
       |    SUM(CAST(e.$vecCol[d.i] AS DOUBLE) * vb.val) AS xb
       |  FROM e CROSS JOIN dims d
       |  JOIN $va va ON va.i = d.i JOIN $vb vb ON vb.i = d.i
       |  GROUP BY e.$idCol)
       |SELECT $idCol,
       |  ROUND((SELECT s FROM sg1) * (xa - (SELECT mv FROM muv1)), $outRound) AS pc1,
       |  ROUND((SELECT s FROM sg2) * (xb - (SELECT mv FROM muv2)), $outRound) AS pc2
       |FROM proj""".stripMargin
  }
}
