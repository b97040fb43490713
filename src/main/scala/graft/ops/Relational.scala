package graft.ops
import graft.Ckpt.CkptOps

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import graft.functions.Time.tsMicros

/** Relational combinators (SURVEY.md §2.2 P1–P8, §2.3 J1–J5, §2.4 A1–A5).
  *
  * The reference builds predicates by SQL string templating
  * (`etl_io.py:245-269`, `:356-357`) and finishes queries with pandas
  * merge/groupby. Here every predicate is a Catalyst [[Column]], so pushdown
  * into the parquet scan and join-strategy selection (broadcast vs shuffled
  * hash vs sort-merge, AQE skew handling) are automatic.
  */
object Relational {

  /** P4: IN-list predicate (`isin`, etl_io.py:245-269, :383). */
  def inList(c: Column, values: Seq[Any]): Column = c.isin(values: _*)

  /** P5: dynamic conjunction of 0..n clauses (`' AND '.join(...)`,
    * etl_io.py:269). Empty list → always-true, like the reference's
    * absent WHERE. */
  def conj(preds: Seq[Column]): Column =
    preds.reduceOption(_ && _).getOrElse(lit(true))

  /** J4: semi-join reduction. The reference collects filtered dimension keys
    * to the driver and templates them into the fact WHERE (etl_io.py:354-357);
    * Spark-first this is a `left_semi` join — no driver round-trip, no
    * IN-list length limits, and AQE turns it into a broadcast when the
    * filtered dim is small. */
  def semiJoin(facts: DataFrame, dims: DataFrame, key: String): DataFrame =
    facts.join(dims.select(key), Seq(key), "left_semi")

  /** J4 inverse (extension): anti-join (NOT EXISTS). */
  def antiJoin(facts: DataFrame, dims: DataFrame, key: String): DataFrame =
    facts.join(dims.select(key), Seq(key), "left_anti")

  /** J5: dedup + null-drop of a crosswalk's mapping pair before joining, so
    * the join does not fan out on duplicate mapping rows (etl_io.py:922). */
  def dedupPairs(stone: DataFrame, left: String, right: String): DataFrame =
    stone.select(left, right).na.drop("any").dropDuplicates()

  /** Skew-safe equi-join: salt the (skewed) fact side deterministically
    * from a unique column and explode the dim side across `buckets` salt
    * values, so one hot key spreads over `buckets` reducers instead of one.
    * Result is identical to `facts.join(dims, key)`; use when AQE's skew
    * handling isn't available (e.g. a non-AQE sink stage) or a key is known
    * pathological. Dim side grows ×buckets — keep it the small side. */
  def saltedJoin(facts: DataFrame, dims: DataFrame, key: String,
                 saltSrcCol: String, buckets: Int = 16): DataFrame = {
    val fs = facts.withColumn("__salt",
      pmod(xxhash64(col(saltSrcCol)), lit(buckets.toLong)))
    val ds = dims.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    fs.join(ds, Seq(key, "__salt")).drop("__salt")
  }

  /** As-of join (extension; SURVEY §2.3's "not present" list — an operator
    * Spark lacks natively): for each left row, attach the single right row
    * with the GREATEST right ts <= left ts within `key`. Implemented as a
    * union + ordered window carry-forward — one shuffle on the key, O(1)
    * carried state per row — NEVER the per-key range cross join, which is
    * quadratic in key group size and dies at scale. Equal timestamps match
    * (right sorts before left at the same ts). The right side must be
    * unique per (key, ts) — pre-aggregate duplicates (callers mirror the
    * same dedup in any oracle). `how` = "inner" drops left rows with no
    * match; "left" keeps them with null carries. `maxGap` bounds the match
    * distance (pandas merge_asof's `tolerance`): a match further than
    * maxGap is treated as no match — pass an interval literal for
    * timestamp ts columns, a numeric for numeric ts. `direction` is
    * pandas merge_asof's: "backward" (latest right at or before, the
    * default), "forward" (earliest right at or after), "nearest" (closer
    * of the two; exact ties prefer backward). All directions remain the
    * same single key-shuffle — forward is the mirrored window frame,
    * nearest evaluates both frames over ONE sort and picks per row. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
               carryCols: Seq[String], how: String = "inner",
               maxGap: Option[Column] = None,
               direction: String = "backward"): DataFrame = {
    require(Seq("inner", "left").contains(how), s"how must be inner|left, got '$how'")
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got '$direction'")
    import org.apache.spark.sql.expressions.Window
    // Equal timestamps must MATCH: the right row has to sort on the frame
    // side of the left row at the same ts — before it for the backward
    // (preceding) frame, after it for the forward (following) frame. For
    // "nearest" the backward frame alone catches the equal-ts row at gap 0,
    // which wins every tie, so the backward orientation serves both.
    val leftSide = if (direction == "forward") 0 else 1
    val l = left.withColumn("__side", lit(leftSide))
    // All carries ride in ONE struct so a single last/first(ignoreNulls)
    // carries them atomically: every output field comes from the SAME right
    // row, even when that row has NULL in some carry columns. (Per-column
    // carry would skip a null field to a DIFFERENT right row, stitching a
    // composite row that never existed — and "inner" would wrongly drop
    // matched rows whose true match carries a null field.) A struct literal
    // is never null itself, so it doubles as the match marker; the right ts
    // rides along as one extra field so the gap/nearest arithmetic reads
    // the ACTUAL matched row's timestamp.
    val r = right.withColumn("__side", lit(1 - leftSide))
      .withColumn("__carry",
        struct(carryCols.map(col) :+ col(tsCol).as("__rts"): _*))
      // ONLY key/ts/side/carry survive from the right: any other right
      // column would union in via allowMissingColumns and leak into the
      // output as an unexpected always-null column
      .select(col(key), col(tsCol), col("__side"), col("__carry"))
    val u = l.unionByName(r, allowMissingColumns = true)
    val ord = Window.partitionBy(col(key)).orderBy(col(tsCol), col("__side"))
    val back = last(col("__carry"), ignoreNulls = true)
      .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fwd = first(col("__carry"), ignoreNulls = true)
      .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    def bGap(c: Column) = col(tsCol) - c.getField("__rts")
    def fGap(c: Column) = c.getField("__rts") - col(tsCol)
    def valid(c: Column, gap: Column) =
      c.isNotNull && maxGap.map(gap <= _).getOrElse(lit(true))
    val carried = (direction match {
      case "backward" => u.withColumn("__b", back)
      case "forward"  => u.withColumn("__f", fwd)
      case "nearest"  => u.withColumn("__b", back).withColumn("__f", fwd)
    }).where(col("__side") === leftSide)
    // out-of-tolerance / absent matches become non-matches: nulled for
    // "left", dropped for "inner" — atomically, the whole struct at once
    val chosen = direction match {
      case "backward" => when(valid(col("__b"), bGap(col("__b"))), col("__b"))
      case "forward"  => when(valid(col("__f"), fGap(col("__f"))), col("__f"))
      case "nearest" =>
        val bOk = valid(col("__b"), bGap(col("__b")))
        val fOk = valid(col("__f"), fGap(col("__f")))
        when(bOk && fOk,
            when(bGap(col("__b")) <= fGap(col("__f")), col("__b"))
              .otherwise(col("__f")))
          .when(bOk, col("__b"))
          .when(fOk, col("__f"))
    }
    val gated = carried.withColumn("__carry", chosen)
    val matched =
      if (how == "inner") gated.where(col("__carry").isNotNull) else gated
    carryCols.foldLeft(matched)((d, c) => d.withColumn(c, col("__carry").getField(c)))
      .drop("__side", "__carry", "__b", "__f")
  }

  /** Range (interval-containment) join (extension; the other §2.3 "Spark
    * lacks it" operator): left rows matched to right intervals with
    * lo <= value < hi. The theta formulation (`JOIN ON value BETWEEN lo
    * AND hi`) plans as a nested-loop — quadratic per partition pair. Here
    * each interval explodes across the fixed-size bins it overlaps and the
    * join becomes an EQUALITY join on the bin (shuffle-partitioned,
    * AQE-eligible), with exact containment verified after. Fan-out =
    * interval width / binSize — pick binSize near the typical interval
    * width so each interval lands in O(1) bins. */
  def rangeJoin(left: DataFrame, right: DataFrame, valCol: String,
                loCol: String, hiCol: String, binSize: Double): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    val lb = left.withColumn("__bin", floor(col(valCol) / binSize).cast("long"))
    val rb = right.withColumn("__bin",
      explode(sequence(
        floor(col(loCol) / binSize).cast("long"),
        floor(col(hiCol) / binSize).cast("long"))))
    lb.join(rb, Seq("__bin"))
      .where(col(valCol) >= col(loCol) && col(valCol) < col(hiCol))
      .drop("__bin")
  }

  /** Interval-OVERLAP join (both sides carry intervals — the temporal
    * sibling of [[rangeJoin]]'s point-in-interval): pairs whose half-open
    * [lo, hi) intervals intersect, via the same binned equi rewrite. Both
    * sides explode onto the bins they span; candidates meet on bin
    * equality; the exact predicate (aLo < bHi ∧ bLo < aHi) confirms. A
    * pair spanning several shared bins is emitted ONCE by keeping only the
    * bin that contains the overlap's start, greatest(aLo, bLo) — a pure
    * arithmetic dedup, no distinct pass over the candidate set. The theta
    * formulation (JOIN ON a.lo < b.hi AND b.lo < a.hi) plans as a
    * nested-loop — quadratic per partition pair; this is one equality
    * shuffle with fan-out = interval-width / binSize. */
  def intervalJoin(a: DataFrame, b: DataFrame, aLo: String, aHi: String,
                   bLo: String, bHi: String, binSize: Double): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    def binned(df: DataFrame, lo: String, hi: String) =
      df.withColumn("__bin", explode(sequence(
        floor(col(lo) / binSize).cast("long"),
        floor(col(hi) / binSize).cast("long"))))
    binned(a, aLo, aHi).join(binned(b, bLo, bHi), Seq("__bin"))
      .where(col(aLo) < col(bHi) && col(bLo) < col(aHi))
      .where(col("__bin") ===
        floor(greatest(col(aLo), col(bLo)) / binSize).cast("long"))
      .drop("__bin")
  }

  /** Fuzzy (approximate-string) self-join: every pair within edit distance
    * 1, found by a deletion-neighborhood equality join (SymSpell's candidate
    * rule) — never the quadratic cross join with a levenshtein predicate.
    * Each string emits its deletion variants (itself, plus one char deleted
    * at each position); two strings within distance 1 always share a
    * variant (substitution at i → both drop i; insert/delete → the longer
    * drops the extra char and equals the shorter), so variant equality is a
    * COMPLETE candidate set and the exact levenshtein over candidates only
    * confirms. FuzzyJoinSpec proves completeness against the brute force.
    *
    * Scale: fan-out is len+1 rows per string; the candidate join is a
    * shuffled equality join on short variant strings. Variant groups stay
    * small unless the corpus truly clusters — and when it DOES (measured:
    * clustered sequential names, 12× sf0.1→sf1 before the cap), blocks
    * above `maxBlock` collapse to a STAR around the block-minimum id, the
    * quadratic-hole guard of [[Blocking]]:
    * in-block pair count drops k²/2 → k-1, connectivity of a true
    * duplicate cluster survives (every member still pairs with the
    * representative), and the exact levenshtein still gates each emitted
    * pair. Recall trade: a member of an over-cap block is only tested
    * against the representative. The DEFAULT is exact (no cap) — the
    * completeness guarantee is the operator's contract, and capping is an
    * explicit opt-in a caller makes knowingly (the registered `fuzzy_join`
    * passes 50, and its oracle replays the same star-collapse so engine
    * and oracle agree wherever the cap binds).
    *
    * Distance budgets >1 need recursive deletes (SymSpell proper); at
    * corpus scale d=1 is the useful regime — beyond it, switch to n-gram
    * Jaccard ([[graft.ext.Dedup.ngramJaccardPairs]]). */
  def fuzzySelfPairs(df: DataFrame, idCol: String, strCol: String,
                     maxBlock: Int = Int.MaxValue): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("__i", explode(sequence(lit(0), length(col("s")))))
      .select(col("id"), col("s"),
        when(col("__i") === 0, col("s"))
          .otherwise(concat(
            expr("substring(s, 1, __i - 1)"),
            expr("substring(s, __i + 1, length(s))"))).as("__v"))
      // consumed twice (stats + probe); materialize the explode once
      .ckpt()
    val key = Seq("__v")
    Blocking.pairs(Blocking.sized(v, key, "id", Seq("s")), key, "id",
        Seq("s"), maxBlock)
      .select(col("a_id"), col("__a_s").as("a_s"),
        col("b_id"), col("__b_s").as("b_s"))
      .distinct()
      // thresholded levenshtein: banded DP, O(threshold·n) per pair vs the
      // full O(n²) table, returning -1 beyond the bound — the verify step
      // runs once per candidate, so the band is the whole cost there
      .withColumn("dist", levenshtein(col("a_s"), col("b_s"), 1))
      .where(col("dist") >= 0)
  }

  /** Bloom-pruned equi-join: probe-side rows whose key cannot be in the
    * build side are dropped BEFORE the join's shuffle. This is the middle
    * regime between broadcast (build side fits in every executor) and a
    * bare shuffle join (nothing known about the build side): the build
    * side's keys are summarized into a bloom filter of `numBits` bits —
    * kilobytes, whatever the build side's size — and the probe side scans
    * through a codegen membership test. No false negatives, so with the
    * equi-join still applied afterwards the result is EXACTLY
    * `probe.join(build, ...)`; false positives only cost shuffled bytes
    * (fpp ≈ 0.03 at the default sizing of ~10 bits/key). Spark's own AQE
    * runtime filter does this opportunistically; this operator makes it
    * deterministic and available in any plan.
    *
    * The built filter is collected to the driver and inlined as a binary
    * literal — bounded by `numBits` (default 1 MiB), same posture as
    * broadcast dims and k-means centroids, NOT by the build side's row
    * count. Build/probe hashes must agree: both sides use xxhash64(key). */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame,
                      probeKey: String, buildKey: String,
                      expectedItems: Long = 1000000L,
                      numBits: Long = 8L * 1024 * 1024,
                      reuseBuild: Boolean = true): DataFrame = {
    // The technique reads the build side twice (once for the sketch, once
    // in the join). With reuseBuild the build side is materialized ONCE via
    // an eager localCheckpoint — the sketch aggregation and the join both
    // read the stored blocks, halving the build cost when it is a filtered
    // scan (checkpoint blocks are reference-tracked and GC-cleaned by the
    // ContextCleaner, so no explicit unpersist hand-off is needed). Pass
    // reuseBuild = false when the build side is too large to store but its
    // KEYS still fit a sketch — then recomputing beats materializing.
    val b = if (reuseBuild) build.ckpt() else build
    val bf = b.agg(GraftColumn(new BloomFilterAggregate(
        GraftColumn.expr(xxhash64(col(buildKey))), Literal(expectedItems),
        Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // empty build side -> null filter -> might_contain is null -> all probe
    // rows drop, which IS the empty join result
    val bfLit = if (bf == null) lit(null).cast("binary") else lit(bf)
    probe
      .where(GraftColumn(BloomFilterMightContain(GraftColumn.expr(bfLit),
        GraftColumn.expr(xxhash64(col(probeKey))))))
      .join(b, col(probeKey) === col(buildKey))
  }

  /** Debounce (time-window event dedup): keep an event only when more than
    * `gapSeconds` passed since the key's PREVIOUS event — the "repeated
    * click / duplicate webhook" cleaner. One window function over the
    * key-partitioned, ts-ordered stream (`idCol` breaks ts ties so the
    * result is deterministic); no self-join, no state beyond one lag. */
  def debounce(events: DataFrame, keyCols: Seq[String], tsCol: String,
               idCol: String, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    val prev = lag(col(tsCol), 1).over(w)
    events
      .withColumn("__prev", prev)
      .where(col("__prev").isNull ||
        tsMicros(col(tsCol)) - tsMicros(col("__prev")) > gapSeconds * 1000000L)
      .drop("__prev")
  }

  /** Exact fixed-point SUM surfaced as double, accumulated as integer cents.
    *
    * The corpus measures are `scale`-decimal doubles; a parallel double sum
    * is order-dependent in the low bits, which breaks hash-equality against
    * a single-threaded oracle. Summing ROUND(x·10^scale) as BIGINT is exact
    * and associative — the running total is an integer, bit-identical on 1
    * or 1000 executors — and the one division at the end restores the scale.
    * Same bit-stability as the previous DECIMAL(25,scale) accumulator, but
    * the Tungsten aggregate buffer is a primitive long instead of an
    * unscaled-128-bit Decimal (measured at sf0.1: a1_groupsum 1.15 s →
    * 0.40 s). The cents conversion is FLOOR(x·m + 0.5), not ROUND: Spark's
    * ROUND on doubles allocates a BigDecimal per value (measured 0.15 s/
    * query on 600k rows × 4 measures), while floor is a primitive codegen
    * op — and both engines evaluate the identical IEEE sequence
    * (t = x·m; u = t+0.5; floor(u)), so parity is structural rather than
    * argued from two rounding implementations. Half-up vs half-away only
    * differs on exactly-representable negative .5 cent boundaries, which
    * m-decimal data cannot produce. Overflow bound: |Σ cents| < 2^63 ≈
    * 9.2e18 — ~9e11 rows of 10^7-cent values per GROUP; beyond that
    * (extreme 100 TB groups), sum the cents in two tiers (partial BIGINT,
    * final DECIMAL(38,0)). */
  def dsum(c: Column, scale: Int = 2): Column = {
    val m = math.round(math.pow(10, scale.toDouble))
    // floor(double) is LongType in Spark: the sum accumulates primitive longs
    sum(floor(c * m + 0.5)) / lit(m.toDouble)
  }

  /** Exact fixed-point sum of an already-multiplied measure, e.g.
    * extendedprice*(1-discount): each factor floors to its own cents grid
    * first (exactly the old DECIMAL(18,2)-cast semantics), the long×long
    * product is exact (price-cents ~1e7 × factor-cents ~1e2 ≪ 2^63), and
    * the BIGINT sum is order-independent. */
  def dsumProd2(a: Column, b: Column, scaleA: Int = 2, scaleB: Int = 2): Column = {
    val ma = math.round(math.pow(10, scaleA.toDouble))
    val mb = math.round(math.pow(10, scaleB.toDouble))
    sum(floor(a * ma + 0.5) * floor(b * mb + 0.5)) / lit((ma * mb).toDouble)
  }
}
