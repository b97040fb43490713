package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Blocking

/** Probabilistic record linkage (Fellegi & Sunter, "A theory for record
  * linkage", JASA 1969) — the classical entity-resolution scorer the
  * dedup family's similarity joins feed into when records carry FIELDS
  * rather than one text blob: each compared field contributes a
  * log-likelihood-ratio weight, ln(m/u) on agreement and
  * ln((1−m)/(1−u)) on disagreement (m = P(agree | same entity),
  * u = P(agree | different entities)), and the pair's match score is the
  * sum. Pairs above a threshold are links; the score is also the right
  * input for [[Dedup.connectedComponents]] grouping + [[Dedup
  * .goldenRecords]] fusion — this file completes that ER pipeline.
  *
  * Engine-parity discipline: m/u are caller-supplied priors or the
  * [[emFitFields]] EM estimates — either way the per-field weights reach
  * the plan as double literals, so the score is a fixed-order sum of
  * literals (IEEE-exact on any engine). An oracle replays supplied
  * priors by embedding the same shortest-round-trip literals, and
  * fitted ones by unrolling the deterministic EM chain (see [[emFit]]).
  *
  * Scale: candidate pairs come from an EQUALITY self-join on `blockKey`
  * (never all-pairs), and block sizes bound the quadratic ONLY while the
  * cap holds — so blocks above `maxBlock` collapse to a star around the
  * block's min-id representative ([[graft.ops.Blocking]]):
  * pair count for an over-cap block is k−1 instead of k²/2, so one
  * skewed key (a dominant brand, an empty field in the block key) can
  * no longer turn the job into a runaway quadratic stage. Recall trade,
  * same as the signature path: members of an over-cap block are only
  * scored against the representative. Blocks at or under the cap take
  * the exact all-pairs-in-block path. Agreement tests and the literal
  * sum are one codegen'd projection. */
object Linkage {

  /** One compared field: its column name and the (m, u) priors. */
  final case class FieldSpec(field: String, m: Double, u: Double) {
    require(m > u && m < 1.0 && u > 0.0,
      s"need 0 < u < m < 1 for a discriminating field, got m=$m u=$u")
    def agreeWeight: Double = math.log(m / u)
    def disagreeWeight: Double = math.log((1.0 - m) / (1.0 - u))
  }

  /** The block-annotated O(N) frame both halves of the operator read:
    * every row with its block key `__blk`, id `__id` and compared fields,
    * plus the block's size and min-id representative (id AND compared
    * fields) from [[graft.ops.Blocking.sized]]. */
  private def sizedFrame(df: DataFrame, idCol: String, blockKey: Column,
                         fieldNames: Seq[String]): DataFrame = {
    require(fieldNames.nonEmpty, "at least one compared field")
    val base = df.select(blockKey.as("__blk") +: col(idCol).as("__id") +:
      fieldNames.map(col): _*)
    Blocking.sized(base, Seq("__blk"), "__id", fieldNames)
  }

  /** Blocked candidate pairs of a [[sizedFrame]], carrying both sides'
    * compared fields (`__a_<f>` / `__b_<f>`): exact all-pairs within
    * blocks at or under `maxBlock`, star-collapsed around the block's
    * min-id representative above it. Shared by [[selfLinkPairs]] and
    * [[selfLinkPairsEmFitted]] (scoring). The OUTPUT is O(Σ block²):
    * stream it (aggregate/filter), never checkpoint it. */
  private def candidatePairs(sized: DataFrame, fieldNames: Seq[String],
                             maxBlock: Int): DataFrame = {
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    Blocking.pairs(sized, Seq("__blk"), "__id", fieldNames, maxBlock)
  }

  /** Per-field agreement flag: non-null equality (nulls never agree). */
  private def agreeFlag(f: String): Column =
    (col(s"__a_$f") === col(s"__b_$f")).and(col(s"__a_$f").isNotNull)

  /** Blocked Fellegi–Sunter pair scoring over one frame (self-linkage):
    * candidate pairs share `blockKey` (a_id < b_id), each `fields` entry
    * adds its agreement/disagreement literal, and pairs scoring below
    * `threshold` drop. Returns (a_id, b_id, n_agree, score). Nulls never
    * agree (null ⇔ anything, including null, is a disagreement — the
    * conservative contract; use a sentinel upstream to opt out). */
  def selfLinkPairs(df: DataFrame, idCol: String, blockKey: Column,
                    fields: Seq[FieldSpec],
                    threshold: Double,
                    maxBlock: Int = 10000): DataFrame = {
    // a plain pruned projection — no row inflation to cache, so the
    // operator stays a single LAZY declarative plan (scan reuse, runtime
    // broadcast of the block stats, and skew handling are AQE's call)
    val fieldNames = fields.map(_.field)
    val pairs = candidatePairs(sizedFrame(df, idCol, blockKey, fieldNames),
      fieldNames, maxBlock)
    val agreeFlags = fields.map(f => agreeFlag(f.field))
    val nAgree = agreeFlags.map(fl => when(fl, 1L).otherwise(0L))
      .reduce(_ + _)
    val score = fields.zip(agreeFlags).map { case (f, fl) =>
      when(fl, lit(f.agreeWeight)).otherwise(lit(f.disagreeWeight))
    }.reduce(_ + _)
    pairs.select(col("a_id"), col("b_id"), nAgree.as("n_agree"),
        Timeseries.r5(score).as("score"))
      .where(col("score") >= threshold)
  }

  /** End-to-end UNSUPERVISED self-linkage with ONE pairwise candidate
    * pass: the EM fit consumes [[agreementPatternCounts]] — which after
    * round 13 never enumerates pairs at all (subset-lattice counting,
    * O(2^k·N)) — and the blocked candidate JOIN then runs exactly once,
    * for scoring, streamed straight into the threshold filter.
    * Previously [[emFitFields]] + [[selfLinkPairs]] ran the quadratic
    * join twice (round-12: 47.3 s at sf10); the intermediate round-13
    * attempt to share it by CHECKPOINTING the pairs was worse — a
    * quadratic OUTPUT (~3.6e9 rows at sf10) must be streamed, never
    * stored (it filled the disk).
    *
    * Scoring uses the LIKELIHOOD-RATIO form, Π over fields of m/u on
    * agreement and (1−m)/(1−u) on disagreement — the same Fellegi–Sunter
    * statistic as the log form (exp is monotone; threshold transforms as
    * exp(t)), chosen for engine parity with FITTED priors: the fitted
    * (m, u) are r9-rounded doubles an oracle reproduces bit-for-bit
    * ([[emFit]]), and ratios + a left-assoc product of identical doubles
    * are IEEE-exact on any engine, where a runtime ln() is each libm's
    * own approximation — a 1-ulp weight difference could flip a rounded
    * score on a boundary pair. Supplied-prior scoring ([[selfLinkPairs]])
    * keeps the log form: its weights are compiled literals, already
    * engine-exact. Returns (a_id, b_id, n_agree, lr), lr r5-rounded,
    * pairs with lr >= `threshold` (in ratio space). */
  def selfLinkPairsEmFitted(df: DataFrame, idCol: String, blockKey: Column,
                            fieldNames: Seq[String], iters: Int = 20,
                            threshold: Double = 1.0,
                            maxBlock: Int = 10000): DataFrame = {
    val k = fieldNames.length
    // ONE O(N) derivation for both halves: the checkpointed sized frame
    // feeds the 2^k fit aggregations AND the scoring join — the final
    // plan reads this checkpoint, never the source table (PlanSpec)
    val sized = graft.Ckpt(sizedFrame(df, idCol, blockKey, fieldNames))
    val pats = patternCountsFromSized(sized, fieldNames, maxBlock)
      .collect()
      .map(r => (Seq.tabulate(k)(i => r.getInt(i)), r.getLong(k)))
      .toSeq.sortBy(_._1.mkString)
    val (_, m, u) = emFit(pats, k, iters)
    val specs = fieldNames.zipWithIndex.map { case (f, i) =>
      FieldSpec(f, m(i), u(i)) }
    val pairs = candidatePairs(sized, fieldNames, maxBlock)
    val agreeFlags = specs.map(f => agreeFlag(f.field))
    val nAgree = agreeFlags.map(fl => when(fl, 1L).otherwise(0L))
      .reduce(_ + _)
    val lr = specs.zip(agreeFlags).map { case (f, fl) =>
      when(fl, lit(f.m / f.u)).otherwise(lit((1.0 - f.m) / (1.0 - f.u)))
    }.reduce(_ * _)
    pairs.select(col("a_id"), col("b_id"), nAgree.as("n_agree"),
        Timeseries.r5(lr).as("lr"))
      .where(col("lr") >= threshold)
  }

  /** EXACT agreement-pattern counts over the blocked candidates — the
    * bounded sufficient statistic the EM fit runs on: one row per 0/1
    * vector (g_0..g_{k−1}, n), at most 2^k rows however large the corpus.
    *
    * WITHOUT enumerating pairs (round 13): the fit needs counts, never
    * pair identity, and the candidate join's output is O(Σ block²) —
    * 3.6e9 rows at sf10, which must not be materialized OR re-enumerated
    * just to be counted. Within-cap blocks are counted analytically:
    * for every field subset T, m(T) = # pairs agreeing on at least T =
    * Σ over (block, T-values) groups of C(n,2) (null rows excluded —
    * null never agrees), one O(N) aggregation per subset, 2^k subsets;
    * exact-pattern counts follow by Möbius inversion
    * n(S) = Σ_{T ⊇ S} (−1)^{|T\S|} m(T). Over-cap blocks contribute the
    * LINEAR member-vs-min-id-representative star pass, counted directly.
    * Bit-identical to pairwise enumeration (exact integer
    * combinatorics); total work O(2^k · N) aggregation instead of the
    * quadratic join — the EM fit becomes corpus-LINEAR. */
  def agreementPatternCounts(df: DataFrame, idCol: String, blockKey: Column,
                             fieldNames: Seq[String],
                             maxBlock: Int = 10000): DataFrame =
    // O(N) frame, checkpointed once: 2^k subset aggregations + the star
    // pass all re-read it (bounded storage — this is NOT the pair list)
    patternCountsFromSized(
      graft.Ckpt(sizedFrame(df, idCol, blockKey, fieldNames)),
      fieldNames, maxBlock)

  private def patternCountsFromSized(sized: DataFrame,
                                     fieldNames: Seq[String],
                                     maxBlock: Int): DataFrame = {
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val k = fieldNames.length
    require(k <= 16, s"subset-lattice counting is 2^k in k; got k=$k")
    val spark = sized.sparkSession
    val small = sized.where(Blocking.inCap(maxBlock))
    // m(T) for EVERY subset T in ONE pass: GROUPING SETS over
    // (__blk, fields) — the Expand operator replicates each row 2^k
    // times into one partial-aggregated job instead of 2^k separate
    // scans (measured 27 s → one job at sf10). A group whose IN-SET
    // field value is the actual NULL is excluded afterwards (null never
    // agrees); grouping_id distinguishes "aggregated away" from "null
    // value" (bit 1 = column not in this set).
    val groupCols = col("__blk") +: fieldNames.map(col)
    val sets: Seq[Seq[Column]] = (0 until (1 << k)).map { mask =>
      col("__blk") +: fieldNames.zipWithIndex
        .filter { case (_, i) => (mask & (1 << i)) != 0 }
        .map { case (f, _) => col(f) }
    }
    val grouped = small.groupingSets(sets, groupCols: _*)
      .agg(count(lit(1)).as("__n"), grouping_id().as("__gid"))
    // grouping_id bit layout: first grouping column = highest bit;
    // group cols are (blk, f0..f_{k-1}) ⇒ field i's bit shift = k−1−i
    def inSet(i: Int): Column =
      (shiftright(col("__gid"), k - 1 - i) % 2) === 0
    val nullInSet = fieldNames.zipWithIndex
      .map { case (f, i) => inSet(i).and(col(f).isNull) }
      .reduce(_ || _)
    // C(n,2) = n(n−1)/2 exactly: n(n−1) is even; bigint division in
    // Spark truncates, which is exact here
    val mRows = grouped.where(!nullInSet)
      .groupBy(col("__gid"))
      .agg(sum(expr("(__n * (__n - 1)) div 2")).as("m"))
      .collect()
    val mT: Map[Int, Long] = (0 until (1 << k)).map { mask =>
      // gid for mask: blk grouped (bit 0); field i aggregated away
      // (bit 1) iff i NOT in mask
      val gid = fieldNames.indices
        .filter(i => (mask & (1 << i)) == 0)
        .map(i => 1 << (k - 1 - i)).sum
      mask -> mRows.find(_.getLong(0).toInt == gid)
        .map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).getOrElse(0L)
    }.toMap
    // Möbius inversion to exact-pattern counts
    def popcount(x: Int): Int = Integer.bitCount(x)
    val full = (1 << k) - 1
    val exactSmall = (0 to full).map { s =>
      val n = (0 to full).filter(t => (t & s) == s).map { t =>
        val sign = if (popcount(t ^ s) % 2 == 0) 1L else -1L
        sign * mT(t)
      }.sum
      s -> n
    }.toMap
    // star pass: over-cap members vs the block representative — linear
    val starFlags = fieldNames.zipWithIndex.map { case (f, i) =>
      when((Blocking.rep(f) === col(f)).and(Blocking.rep(f).isNotNull), 1)
        .otherwise(0).as(s"g$i")
    }
    val starCounts = sized
      .where(Blocking.spoke("__id", maxBlock))
      .select(starFlags: _*)
      .groupBy(fieldNames.indices.map(i => col(s"g$i")): _*)
      .agg(count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val mask = fieldNames.indices
          .map(i => if (r.getInt(i) == 1) 1 << i else 0).sum
        mask -> r.getLong(k)
      }.toMap
    val rows = (0 to full).flatMap { s =>
      val n = exactSmall.getOrElse(s, 0L) + starCounts.getOrElse(s, 0L)
      // zero-count patterns stay absent — the shape pairwise GROUP BY
      // (engine and oracle alike) produces
      if (n == 0L) None
      else Some(org.apache.spark.sql.Row.fromSeq(
        fieldNames.indices.map(i => if ((s & (1 << i)) != 0) 1 else 0) :+ n))
    }
    val schema = org.apache.spark.sql.types.StructType(
      fieldNames.indices.map(i => org.apache.spark.sql.types.StructField(
        s"g$i", org.apache.spark.sql.types.IntegerType, nullable = false)) :+
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Driver twin of the oracle's `FLOOR(x·1e9 + 0.5)/1e9`. */
  private def r9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9

  /** Unsupervised (m, u, p) estimation — the classical EM fit over
    * agreement-pattern counts (Winkler, "Using the EM algorithm for
    * weight computation in the Fellegi–Sunter model of record linkage",
    * 1988): treat match/non-match as the latent class, E-step assigns
    * each pattern a match responsibility w(γ) under conditional
    * independence, M-step re-estimates p, m_i, u_i from the weighted
    * counts. Fixed `iters` iterations from fixed literal inits — no
    * convergence test, so a SQL oracle can unroll the chain.
    *
    * Engine-neutral determinism (the dsum integer-cents trick applied to
    * EM): each pattern's responsibility rounds to an INTEGER
    * w9 = floor(w·1e9 + 0.5); all M-step aggregation is then EXACT
    * 64-bit integer arithmetic (order-free), each new parameter is one
    * double division r9-rounded and clamped to [1e-9, 1−1e-9] — so an
    * unrolled SQL replay reproduces every iterate bit-for-bit. Integer
    * budget: Σ n·1e9 must stay under 2^63 ⇒ < ~9.2e9 candidate pairs —
    * fit on a blocked sample beyond that.
    *
    * `patterns` = (agreement vector, count); at most 2^k rows (the
    * [[agreementPatternCounts]] collect — bounded by construction).
    * Returns (p, m, u). */
  def emFit(patterns: Seq[(Seq[Int], Long)], nFields: Int,
            iters: Int = 20, initP: Double = 0.1, initM: Double = 0.9,
            initU: Double = 0.1): (Double, Seq[Double], Seq[Double]) = {
    require(patterns.nonEmpty, "no candidate pairs to fit on")
    require(patterns.forall(_._1.length == nFields),
      "pattern arity != nFields")
    val total = patterns.map(_._2).sum
    def clamp(x: Double): Double = math.min(math.max(x, 1e-9), 1.0 - 1e-9)
    var p = initP
    var m = Seq.fill(nFields)(initM)
    var u = Seq.fill(nFields)(initU)
    var it = 0
    while (it < iters) {
      // E-step: per-pattern responsibility, left-assoc products in field
      // order (the same association the SQL replay writes out)
      val rows = patterns.map { case (g, n) =>
        val pm = g.zip(m).foldLeft(p) { case (acc, (gi, mi)) =>
          acc * (if (gi == 1) mi else 1.0 - mi) }
        val pu = g.zip(u).foldLeft(1.0 - p) { case (acc, (gi, ui)) =>
          acc * (if (gi == 1) ui else 1.0 - ui) }
        (g, n, math.floor(pm / (pm + pu) * 1e9 + 0.5).toLong)
      }
      // M-step: exact integer sums, one rounded division per parameter
      val sw = rows.map(r => r._2 * r._3).sum
      val swc = rows.map(r => r._2 * (1000000000L - r._3)).sum
      p = clamp(r9(sw.toDouble / (total.toDouble * 1e9)))
      if (sw > 0)
        m = (0 until nFields).map { i =>
          clamp(r9(rows.filter(_._1(i) == 1).map(r => r._2 * r._3).sum
            .toDouble / sw.toDouble))
        }
      if (swc > 0)
        u = (0 until nFields).map { i =>
          clamp(r9(rows.filter(_._1(i) == 1)
            .map(r => r._2 * (1000000000L - r._3)).sum
            .toDouble / swc.toDouble))
        }
      it += 1
    }
    (p, m, u)
  }

  /** The fitted Fellegi–Sunter parameters as a 1-ROW FRAME
    * (p, m_0..m_{k−1}, u_0..u_{k−1}) — the model ARTIFACT a production
    * linkage job persists beside its pair output so later scoring runs
    * (and audits of what the unsupervised fit believed) read the
    * parameters back instead of re-fitting. All values are the
    * r9-rounded clamped iterates of [[emFit]]'s deterministic chain, so
    * an oracle that unrolls the same iterations lands on bit-identical
    * doubles — the fit itself is hash-checkable, not just the scores it
    * produces. */
  def emFitParams(df: DataFrame, idCol: String, blockKey: Column,
                  fieldNames: Seq[String], iters: Int = 20,
                  maxBlock: Int = 10000): DataFrame = {
    val k = fieldNames.length
    val pats = agreementPatternCounts(df, idCol, blockKey, fieldNames,
        maxBlock)
      .collect()
      .map(r => (Seq.tabulate(k)(i => r.getInt(i)), r.getLong(k)))
      .toSeq.sortBy(_._1.mkString)
    val (p, m, u) = emFit(pats, k, iters)
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.DoubleType, nullable = false) +:
      (fieldNames.indices.map(i => org.apache.spark.sql.types.StructField(
        s"m$i", org.apache.spark.sql.types.DoubleType, nullable = false)) ++
       fieldNames.indices.map(i => org.apache.spark.sql.types.StructField(
        s"u$i", org.apache.spark.sql.types.DoubleType, nullable = false))))
    val row = org.apache.spark.sql.Row.fromSeq(p +: (m ++ u))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.List.of(row)), schema)
  }

  /** Fit [[FieldSpec]]s from the data itself — [[agreementPatternCounts]]
    * (one corpus-sized job, ≤ 2^k collected rows) feeding [[emFit]] — so
    * [[selfLinkPairs]] runs without hand-supplied priors. Throws if a
    * fitted field is non-discriminating (m ≤ u): silent garbage weights
    * are worse than a loud failure. */
  def emFitFields(df: DataFrame, idCol: String, blockKey: Column,
                  fieldNames: Seq[String], iters: Int = 20,
                  maxBlock: Int = 10000): Seq[FieldSpec] = {
    val k = fieldNames.length
    val pats = agreementPatternCounts(df, idCol, blockKey, fieldNames,
        maxBlock)
      .collect()
      .map(r => (Seq.tabulate(k)(i => r.getInt(i)), r.getLong(k)))
      .toSeq.sortBy(_._1.mkString)
    val (_, m, u) = emFit(pats, k, iters)
    fieldNames.zipWithIndex.map { case (f, i) => FieldSpec(f, m(i), u(i)) }
  }
}
