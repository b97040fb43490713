package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational._
import graft.ops.Reshape._
import graft.ext.Dedup

/** Algebraic-invariant checks (SURVEY.md §5.3) over seeded random data —
  * deterministic property-style tests (plain ScalaTest; the
  * scalatest↔scalacheck bridge isn't in the offline dependency set). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("property: grouped dsum equals ungrouped dsum for 2-decimal doubles") {
    for (trial <- 1 to 5) {
      val rows = Seq.fill(200)((rnd.nextInt(5), rnd.nextInt(100000) / 100.0))
      val df = rows.toDF("k", "v").repartition(1 + trial)
      val total = df.agg(dsum(col("v"))).head.getDouble(0)
      val grouped = df.groupBy("k").agg(dsum(col("v")).as("s"))
        .agg(dsum(col("s"))).head.getDouble(0)
      assert(total == grouped, s"trial $trial")
    }
  }

  test("property: dsum equals the exact BigDecimal sum for 2-decimal doubles, any partitioning") {
    for (trial <- 1 to 5) {
      val cents = Seq.fill(500)(rnd.nextInt(10000000))
      val exact = (BigDecimal(cents.map(_.toLong).sum) / 100).toDouble
      val df = cents.map(_ / 100.0).toDF("v").repartition(1 + trial * 3)
      assert(df.agg(dsum(col("v"))).head.getDouble(0) == exact, s"trial $trial")
    }
  }

  test("property: dsumProd2 equals the exact cents-product sum (price × (1−disc) grid)") {
    for (trial <- 1 to 5) {
      val rows = Seq.fill(300)((rnd.nextInt(10000000), rnd.nextInt(11))) // cents, disc%
      val exact = (BigDecimal(rows.map { case (p, d) =>
        p.toLong * (100L - d) }.sum) / 10000).toDouble
      val df = rows.map { case (p, d) => (p / 100.0, d / 100.0) }
        .toDF("price", "disc").repartition(2 + trial)
      val got = df.agg(dsumProd2(col("price"), lit(1) - col("disc")))
        .head.getDouble(0)
      assert(got == exact, s"trial $trial")
    }
  }

  test("property: explodePyList emits exactly sum(list sizes) rows") {
    for (trial <- 1 to 5) {
      val rows = Seq.tabulate(50) { i =>
        val n = 1 + rnd.nextInt(4)
        val elems = Seq.fill(n)(s"${rnd.nextInt(90) + 10}.${rnd.nextInt(90) + 10}")
        (i, elems.mkString("['", "', '", "']"), n)
      }
      val df = rows.map { case (i, s, n) => (i, s, n) }.toDF("id", "lst", "n")
      val expected = rows.map(_._3).sum
      assert(explodePyList(df, "lst").count() == expected, s"trial $trial")
    }
  }

  test("property: dropExactDups is idempotent and bounded by distinct content") {
    for (trial <- 1 to 3) {
      val texts = Seq.fill(100)(s"doc ${rnd.nextInt(30)}")
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = Dedup.dropExactDups(df, "text")
      assert(once.count() == texts.distinct.size, s"trial $trial")
      assert(Dedup.dropExactDups(once, "text").count() == once.count())
    }
  }

  test("property: semiJoin row count is bounded by facts; join keys preserved") {
    for (trial <- 1 to 3) {
      val facts = Seq.fill(100)((rnd.nextInt(20), rnd.nextInt())).toDF("k", "v")
      val dims = Seq.fill(10)(rnd.nextInt(20)).toDF("k")
      val out = semiJoin(facts, dims, "k")
      assert(out.count() <= facts.count())
      val dimKeys = dims.collect().map(_.getInt(0)).toSet
      assert(out.collect().forall(r => dimKeys.contains(r.getInt(0))))
    }
  }

  test("property: asofJoin equals the brute-force latest-at-or-before reference") {
    for (trial <- 1 to 3) {
      val lefts = Seq.tabulate(60)(i =>
        (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
      // unique (key, ts) on the right, as the operator contract requires
      val rights = Seq.fill(80)((rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
        .distinct.zipWithIndex
        .map { case ((k, ts), i) => (k, ts, i.toDouble) }
      val lDf = lefts.toDF("lid", "k", "ts")
      val rDf = rights.toDF("k", "ts", "payload")
      val got = asofJoin(lDf, rDf, "k", "ts", Seq("payload"))
        .select("lid", "payload").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = lefts.flatMap { case (lid, k, ts) =>
        rights.filter(r => r._1 == k && r._2 <= ts)
          .sortBy(_._2).lastOption.map(r => lid -> r._3)
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("property: asofJoin carries all fields atomically from the SAME right row (null carries)") {
    for (trial <- 1 to 3) {
      // pv is null ~30% of the time while pid is always set — the tearing
      // trigger: a per-column carry would fetch pv from an OLDER right row
      // (or "inner" would wrongly drop the row); the atomic carry must
      // deliver (pid, pv) from exactly the latest right row, nulls included.
      val rights = Seq.fill(80)((rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
        .distinct.zipWithIndex
        .map { case ((k, ts), i) =>
          (k, ts, i.toLong, if (rnd.nextInt(10) < 3) None else Some(i * 1.5))
        }
      val lefts = Seq.tabulate(60)(i =>
        (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
      val lDf = lefts.toDF("lid", "k", "ts")
      val rDf = rights.toDF("k", "ts", "pid", "pv")
      for (how <- Seq("inner", "left")) {
        val got = asofJoin(lDf, rDf, "k", "ts", Seq("pid", "pv"), how)
          .select("lid", "pid", "pv").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)),
             if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
        val matches = lefts.map { case (lid, k, ts) =>
          lid -> rights.filter(r => r._1 == k && r._2 <= ts).sortBy(_._2).lastOption
        }
        val want = (if (how == "inner") matches.filter(_._2.isDefined) else matches)
          .map { case (lid, m) =>
            lid -> (m.map(_._3), m.flatMap(_._4))
          }.toMap
        assert(got == want, s"trial $trial how $how")
      }
    }
  }

  test("property: asofJoin maxGap turns too-old matches into non-matches") {
    for (trial <- 1 to 3) {
      val rights = Seq.fill(60)((rnd.nextInt(4).toLong, rnd.nextInt(200).toLong))
        .distinct.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toDouble) }
      val lefts = Seq.tabulate(50)(i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(200).toLong))
      val gap = 15L
      val got = asofJoin(lefts.toDF("lid", "k", "ts"),
          rights.toDF("k", "ts", "payload"), "k", "ts", Seq("payload"),
          how = "inner", maxGap = Some(lit(gap)))
        .select("lid", "payload").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = lefts.flatMap { case (lid, k, ts) =>
        rights.filter(r => r._1 == k && r._2 <= ts).sortBy(_._2).lastOption
          .filter(r => ts - r._2 <= gap).map(r => lid -> r._3)
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("property: asofJoin forward/nearest equal the brute-force references") {
    for (trial <- 1 to 3) {
      val rights = Seq.fill(70)((rnd.nextInt(4).toLong, rnd.nextInt(150).toLong))
        .distinct.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toDouble) }
      val lefts = Seq.tabulate(50)(i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(150).toLong))
      val lDf = lefts.toDF("lid", "k", "ts")
      val rDf = rights.toDF("k", "ts", "payload")
      def got(dir: String) =
        asofJoin(lDf, rDf, "k", "ts", Seq("payload"), direction = dir)
          .select("lid", "payload").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val wantF = lefts.flatMap { case (lid, k, ts) =>
        rights.filter(r => r._1 == k && r._2 >= ts)
          .sortBy(_._2).headOption.map(lid -> _._3)
      }.toMap
      assert(got("forward") == wantF, s"trial $trial forward")
      val wantN = lefts.flatMap { case (lid, k, ts) =>
        val cands = rights.filter(_._1 == k)
        // nearest; exact-distance ties prefer the backward (earlier) row
        if (cands.isEmpty) None
        else Some(lid -> cands.minBy(r =>
          (math.abs(r._2 - ts), if (r._2 <= ts) 0 else 1))._3)
      }.toMap
      assert(got("nearest") == wantN, s"trial $trial nearest")
    }
  }

  test("property: rangeJoin equals the brute-force containment reference at any binSize") {
    for (binSize <- Seq(1.0, 7.0, 100.0)) {
      val points = Seq.tabulate(50)(i => (i.toLong, rnd.nextInt(200).toDouble))
      val ivals = Seq.tabulate(20) { i =>
        val lo = rnd.nextInt(180).toDouble
        (lo, lo + 1 + rnd.nextInt(40), s"b$i")
      }
      val got = rangeJoin(points.toDF("pid", "value"),
          ivals.toDF("lo", "hi", "band"), "value", "lo", "hi", binSize)
        .select("pid", "band").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = (for {
        (pid, v) <- points
        (lo, hi, b) <- ivals if v >= lo && v < hi
      } yield (pid, b)).toSet
      assert(got == want, s"binSize $binSize")
    }
  }

  test("property: Cdc.applyChanges equals the sequential replay reference") {
    for (trial <- 1 to 5) {
      val baseRows = (0 until 40).filter(_ => rnd.nextBoolean())
        .map(k => (k.toLong, s"b$k"))
      // random change log: several ops per key, unique (key, seq)
      val changeRows = (0 until 40).flatMap { k =>
        val n = rnd.nextInt(4)
        (1 to n).map(seq => (k.toLong,
          if (rnd.nextBoolean()) "U" else "D", seq, s"c$k-$seq"))
      }
      val got = graft.ops.Cdc.applyChanges(
          baseRows.toDF("k", "v"), changeRows.toDF("k", "op", "seq", "v"), "k")
        .as[(Long, String)].collect().toMap
      // reference: replay each key's changes in seq order over the base map
      val want = (0 until 40).map(_.toLong).flatMap { k =>
        val end = changeRows.filter(_._1 == k).sortBy(_._3).lastOption
        end match {
          case Some((_, "U", seq, _)) => Some(k -> s"c$k-$seq")
          case Some((_, "D", _, _))   => None
          case _ => baseRows.toMap.get(k).map(k -> _)
        }
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("property: pivot∘melt round-trips for complete matrices") {
    val long = (for { s <- 1 to 4; e <- Seq("x", "y", "z") }
      yield (s"s$s", e, rnd.nextInt(100).toDouble)).toDF("soc", "elem", "v")
    val wide = pivotWide(long, Seq("soc"), "elem", Seq("x", "y", "z"), "v")
    val back = meltView(wide, Seq("soc"), Seq("x", "y", "z"), "elem", "v")
    assert(back.count() == long.count())
    val a = long.orderBy("soc", "elem").collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val b = back.orderBy("soc", "elem").collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(a.sameElements(b))
  }

  test("property: intervalJoin equals the brute-force overlap theta join at any binSize") {
    for (trial <- 1 to 3; binSize <- Seq(3.0, 10.0, 1000.0)) {
      val iv = Seq.tabulate(60) { i =>
        val lo = rnd.nextInt(100).toDouble
        (i.toLong, lo, lo + 1 + rnd.nextInt(30))
      }
      val a = iv.toDF("aid", "a_lo", "a_hi")
      val b = iv.map { case (i, l, h) => (i + 1000L, l, h) }
        .toDF("bid", "b_lo", "b_hi")
      val got = intervalJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi", binSize)
        .select("aid", "bid").as[(Long, Long)].collect().toSet
      val want = (for {
        (i, al, ah) <- iv; (j, bl, bh) <- iv
        if al < bh && bl < ah
      } yield (i, j + 1000L)).toSet
      assert(got == want, s"trial $trial binSize $binSize")
    }
  }

  test("property: batch sessionizeBatch agrees with the streaming session summaries") {
    // cross-implementation coherence: per-user session count and total
    // event count must match between the batch window formulation and the
    // mapGroupsWithState streaming one, for random event sets
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = Seq.tabulate(300) { i =>
      (i.toLong, 1L + rnd.nextInt(8),
        new java.sql.Timestamp(base + rnd.nextInt(6 * 3600) * 1000L))
    }
    val df = rows.toDF("event_id", "user_id", "ts")
    val batch = graft.ext.Funnel
      .sessionizeBatch(df, "user_id", "ts", Seq("event_id"), gapMinutes = 30)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    val stream = graft.ext.Streaming.sessionSummaries(spark, df, gapMinutes = 30)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == stream)
  }

  test("property: Bpe.mergePair equals the driver-side leftmost-greedy scan") {
    // one batched action: 300 random (symbol array, pair) cases through the
    // codegen fold vs an index-walking reference
    def ref(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    val alpha = Seq("a", "b", "c", "ab", "bc")
    val cases = Seq.tabulate(300) { i =>
      val syms = Seq.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.size)))
      (i.toLong, syms, alpha(rnd.nextInt(alpha.size)), alpha(rnd.nextInt(alpha.size)))
    }
    val byId = cases.map(c => c._1 -> c).toMap
    // group cases by pair so each distinct pair gets one fold expression
    cases.groupBy(c => (c._3, c._4)).foreach { case ((a, b), cs) =>
      val got = cs.map(c => (c._1, c._2)).toDF("id", "syms")
        .select(col("id"), graft.ext.KernelOracles.mergePair(col("syms"), a, b).as("m"))
        .as[(Long, Seq[String])].collect()
      got.foreach { case (id, m) =>
        val (_, syms, _, _) = byId(id)
        assert(m == ref(syms, a, b), s"case $id syms=$syms pair=($a,$b)")
      }
    }
  }

  test("property: removeDuplicatedSpans equals the driver-side interval-removal reference") {
    // detection is hash-oracled separately; this pins the REMOVAL stage:
    // collect detected spans, replay b-side interval merge + complement
    // rebuild on the driver, compare full texts
    for (trial <- 1 to 4) {
      val alpha = "xy"
      def randText(n: Int) =
        Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
      val planted = Seq.fill(3)(randText(14 + rnd.nextInt(8)))
      val docs = Seq.tabulate(6) { i =>
        val parts = Seq.fill(2 + rnd.nextInt(3))(
          if (rnd.nextBoolean()) planted(rnd.nextInt(planted.size))
          else randText(6 + rnd.nextInt(10)))
        (i.toLong, parts.mkString)
      }
      val df = docs.toDF("doc_id", "text")
      val (k, minLen, maxDf) = (6, 10, 6L)
      val spans = graft.ext.TextOps
        .duplicatedSpans(df, "doc_id", "text", k, minLen, maxDf)
        .as[(Long, Long, Long, Long, Long)].collect()
      val byDoc = spans.groupBy(_._2).map { case (bId, ss) =>
        // merge b-side intervals: sort, sweep with running max end
        val iv = ss.map(s => (s._4.toInt, (s._4 + s._5).toInt)).sortBy(identity)
        val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        iv.foreach { case (s, e) =>
          if (merged.nonEmpty && s <= merged.last._2)
            merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
          else merged += ((s, e))
        }
        bId -> merged.toSeq
      }
      val want = docs.map { case (id, text) =>
        val iv = byDoc.getOrElse(id, Seq.empty)
        val kept = new StringBuilder
        var pos = 1
        iv.foreach { case (s, e) =>
          kept.append(text.substring(pos - 1, s - 1)); pos = e
        }
        kept.append(text.substring(pos - 1))
        id -> kept.toString
      }.toMap
      val got = graft.ext.TextOps
        .removeDuplicatedSpans(df, "doc_id", "text", k, minLen, maxDf)
        .as[(Long, String)].collect().toMap
      assert(got == want, s"trial $trial docs=$docs")
    }
  }

  test("property: ewma/twap/rollingMedian/interpolate stay inside the key's value range") {
    for (trial <- 1 to 3) {
      val rows = for (k <- 1 to 4; i <- 1 to 40) yield
        (k.toLong, new java.sql.Timestamp(1704067200000L +
          (i * 500 + rnd.nextInt(120)) * 1000L),
          (k * 1000 + i).toLong, rnd.nextInt(100000) / 100.0)
      val df = rows.toDF("k", "ts", "id", "v").repartition(3 + trial)
      val range = rows.groupBy(_._1).map { case (k, rs) =>
        k -> (rs.map(_._4).min, rs.map(_._4).max)
      }
      def within(m: Map[Long, Double], slack: Double = 1e-4): Unit =
        m.foreach { case (k, v) =>
          val (lo, hi) = range(k)
          assert(v >= lo - slack && v <= hi + slack, s"key $k: $v !in [$lo,$hi]")
        }
      within(graft.ext.Timeseries.ewma(df, "k", Seq("ts", "id"), "v", 0.25)
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("ewma")).toMap)
      within(graft.ext.Timeseries.twap(df, "k", "ts", "id", "v")
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("twap")).toMap)
      // per-row ops: every emitted value must sit inside its key's range
      graft.ext.Timeseries.rollingMedian(df, "k", "ts", "id", "v", 3600L)
        .collect().foreach { r =>
          val (lo, hi) = range(r.getLong(0))
          val v = r.getAs[Double]("roll_median")
          assert(v >= lo && v <= hi)
        }
      graft.ext.Timeseries.interpolate(df, "k", "ts", "id", "v", 600L)
        .collect().foreach { r =>
          val (lo, hi) = range(r.getLong(0))
          val v = r.getAs[Double]("interp")
          assert(v >= lo - 1e-4 && v <= hi + 1e-4)
        }
    }
  }

  test("property: transitions probabilities sum to ~1 per from-state; entropy bounded by ln(types)") {
    for (trial <- 1 to 3) {
      val types = Seq("a", "b", "c", "d")
      val rows = for (u <- 1 to 6; i <- 1 to 30) yield
        (u.toLong, new java.sql.Timestamp(1704067200000L + i * 1000L),
          (u * 100 + i).toLong, types(rnd.nextInt(types.size)))
      val df = rows.toDF("u", "ts", "id", "t").repartition(2 + trial)
      val ps = graft.ext.Funnel.transitions(df, "u", "ts", Seq("id"), "t")
        .groupBy("from_type").agg(sum(col("p")).as("sp"))
        .collect().map(r => r.getString(0) -> r.getAs[Double]("sp"))
      ps.foreach { case (f, sp) =>
        assert(math.abs(sp - 1.0) < 1e-3, s"$f sums to $sp") }
      graft.ext.Funnel.typeEntropy(df, "u", "t")
        .collect().foreach { r =>
          val h = r.getAs[Double]("entropy")
          assert(h >= 0 && h <= math.log(types.size) + 1e-9, s"H=$h")
        }
    }
  }

  test("property: standardize z-scores sum to ~0 per group; weightedTopK is a k-bounded subset") {
    for (trial <- 1 to 3) {
      val rows = Seq.tabulate(120) { i =>
        (i.toLong, s"g${i % 3}", rnd.nextInt(100000) / 100.0,
          s"content $trial $i ${rnd.nextInt(1000)}")
      }
      val df = rows.toDF("id", "g", "v", "text").repartition(2 + trial)
      val sums = graft.ext.Features.standardize(df, Seq("id"), "g", "v")
        .groupBy("g").agg(sum(col("z")).as("sz"), count(col("z")).as("n"))
        .collect()
      sums.foreach { r =>
        assert(math.abs(r.getAs[Double]("sz")) < 1e-2 * r.getAs[Long]("n"),
          s"${r.getString(0)}: ${r.getAs[Double]("sz")}") }
      val ids = rows.map(_._1).toSet
      val sampled = graft.ext.Sampling.weightedTopK(df, "id", col("text"),
          col("v") + 0.01, "g", 7)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(sampled.length == 21) // 3 strata × k=7 (each stratum has 40)
      assert(sampled.forall { case (_, id) => ids(id) })
      assert(sampled.groupBy(_._1).values.forall(_.length == 7))
    }
  }

  test("property: skyline is idempotent and equals the brute-force dominance reference") {
    for (trial <- 1 to 3) {
      val rows = Seq.tabulate(150)(i =>
        (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val df = rows.toDF("id", "m", "x").repartition(2 + trial)
      val front = graft.ops.Skyline.front2(df, "m", "x", buckets = 8)
      val got = front.select("id").as[Long].collect().toSet
      val ref = rows.filter { case (_, m, x) => !rows.exists { case (_, m2, x2) =>
        m2 <= m && x2 >= x && (m2 < m || x2 > x) } }.map(_._1).toSet
      assert(got == ref, s"trial $trial")
      // idempotence: the front of the front is the front
      val again = graft.ops.Skyline.front2(front, "m", "x", buckets = 8)
        .select("id").as[Long].collect().toSet
      assert(again == ref, s"trial $trial idempotence")
    }
  }

  test("property: setsim pairs shrink as τ rises; containment dominates Jaccard; both match brute force") {
    val vocab = Array("red", "blue", "green", "ox", "fox", "hen", "owl",
      "sun", "moon", "sky", "sea", "ash", "elm", "oak")
    for (trial <- 1 to 3) {
      val docs = Seq.tabulate(40) { i =>
        val n = 3 + rnd.nextInt(8)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
          .distinct.mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(2 + trial)
      val sets = docs.map { case (id, t) => id -> t.split(' ').toSet }.toMap
      def bruteJ(tau: Double) = (for {
        a <- sets.keys; b <- sets.keys if a < b
        i = (sets(a) & sets(b)).size
        if i.toDouble / (sets(a) | sets(b)).size >= tau
      } yield (a, b)).toSet
      val lo = Dedup.setSimJoinPrefix(df, "doc_id", "text", 0.4, shingleK = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hi = Dedup.setSimJoinPrefix(df, "doc_id", "text", 0.7, shingleK = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lo == bruteJ(0.4) && hi == bruteJ(0.7), s"trial $trial")
      assert(hi.subsetOf(lo), s"trial $trial monotone")
      // C(A,B) ≥ J(A,B) always (min ≤ union) → the containment join at τ
      // must find every Jaccard-τ pair
      val cont = Dedup.containmentJoinPrefix(df, "doc_id", "text", 0.7,
          shingleK = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hi.subsetOf(cont), s"trial $trial containment ⊇ jaccard")
      val bruteC = (for {
        a <- sets.keys; b <- sets.keys if a < b
        i = (sets(a) & sets(b)).size
        if i.toDouble / math.min(sets(a).size, sets(b).size) >= 0.7
      } yield (a, b)).toSet
      assert(cont == bruteC, s"trial $trial containment brute force")
    }
  }

  test("property: kCore nests by k and agrees with converged coreness thresholds") {
    for (trial <- 1 to 3) {
      val edges = Seq.fill(120)(
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      val df = edges.toDF("src", "dst").repartition(2 + trial)
      def core(k: Long) = graft.ext.Graph.kCore(df, k, rounds = 40)
        .select("node").as[Long].collect().toSet
      val c2 = core(2); val c3 = core(3); val c4 = core(4)
      assert(c4.subsetOf(c3) && c3.subsetOf(c2), s"trial $trial nesting")
      // coreness(v) ≥ k  ⇔  v in the converged k-core (for k ≥ 2; run the
      // h-index iteration well past convergence on 30 nodes)
      val cn = graft.ext.Graph.coreness(df, rounds = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (k <- 2L to 4L)
        assert(cn.filter(_._2 >= k).keySet == core(k),
          s"trial $trial coreness threshold k=$k")
    }
  }

  test("property: itemCooccur sims are in (0,1]; self never recommended; pairs symmetric") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(150)(
        (rnd.nextInt(25).toLong, s"i${rnd.nextInt(12)}"))
      val df = rows.toDF("b", "i").repartition(2 + trial)
      val recs = graft.ext.Recommend.itemCooccur(df, "b", "i", topK = 100)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      assert(recs.forall { case (a, c, s) => a != c && s > 0 && s <= 1.0001 })
      val pairSet = recs.map { case (a, c, _) => (a, c) }.toSet
      // topK=100 > item count → both directions of every pair are present
      assert(pairSet.forall { case (a, c) => pairSet((c, a)) }, s"trial $trial")
    }
  }

  test("property: snapshotAsOf(T) equals applyChanges of the log prefix onto an empty base") {
    import graft.ops.Cdc
    for (trial <- 1 to 3) {
      // unique (key, t): shuffle a (k, t) grid, random op/payload
      val log = rnd.shuffle(
        (for (k <- 0L to 7L; t <- 1L to 12L) yield (k, t)).toSeq)
        .take(60)
        .map { case (k, t) =>
          (k, t, if (rnd.nextBoolean()) "U" else "D", s"v${rnd.nextInt(99)}")
        }
      val df = log.toDF("k", "t", "op", "v").repartition(2 + trial)
      val tCut = 3L + rnd.nextInt(8)
      val snap = Cdc.snapshotAsOf(df, "k", "t", lit(tCut))
        .select("k", "v").as[(Long, String)].collect().toSet
      val base = Seq.empty[(Long, String, Long, String)]
        .toDF("k", "op", "t", "v").select("k", "v")
      val merged = Cdc.applyChanges(base,
          df.where(col("t") <= tCut).select("k", "op", "t", "v"),
          "k", opCol = "op", seqCol = "t")
        .as[(Long, String)].collect().toSet
      assert(snap == merged, s"trial $trial cut=$tCut")
    }
  }

  test("property: sortedNeighborPairs at window >= n equals brute force") {
    val vocab = Array("red", "green", "blue", "kiwi", "plum", "lime")
    for (trial <- 1 to 3) {
      val docs = (1L to 14L).map(i =>
        (i, Seq.fill(4 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")))
      val df = docs.toDF("doc_id", "text").repartition(1 + trial)
      def shingleSet(s: String): Set[String] = {
        val w = s.split(" ").toSeq
        if (w.length < 3) Set(w.mkString(" "))
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val brute = (for {
        (i, ti) <- docs; (j, tj) <- docs if i < j
        a = shingleSet(ti); b = shingleSet(tj)
        jac = a.intersect(b).size.toDouble / a.union(b).size
        if jac >= 0.5
      } yield (i, j)).toSet
      val full = Dedup.sortedNeighborPairs(df, "doc_id", "text",
          window = docs.length, threshold = 0.5)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(full == brute, s"trial $trial")
      // and the window is monotone: w=2 candidates are a subset of w=4's
      def snm(w: Int) = Dedup.sortedNeighborPairs(df, "doc_id", "text",
          window = w, threshold = 0.5)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(snm(2).subsetOf(snm(4)), s"trial $trial monotonicity")
    }
  }

  test("property: modularity is 0 for the whole-graph community, negative for singletons") {
    import graft.ext.Graph
    for (trial <- 1 to 3) {
      val edges = Seq.fill(40)(
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("src", "dst").repartition(1 + trial)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val one = nodes.map(n => (n, 0L)).toDF("node", "community")
      val qOne = Graph.modularity(df, one).as[(Long, Long, Long, Long, Double)]
        .collect()
      assert(qOne.length == 1 && qOne.head._5 == 0.0,
        s"trial $trial: whole-graph community must score exactly 0: ${qOne.toSeq}")
      val solo = nodes.map(n => (n, n)).toDF("node", "community")
      val qSolo = Graph.modularity(df, solo)
        .agg(sum(col("q"))).head.getDouble(0)
      assert(qSolo < 0.0, s"trial $trial: all-singleton Q must be negative")
    }
  }

  test("property: adamicAdar is canonicalization-invariant and never scores an existing edge") {
    import graft.ext.Graph
    for (trial <- 1 to 3) {
      val edges = Seq.fill(30)(
        (rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("src", "dst")
      // duplicates + reversals + self-loops must not change the answer
      val noisy = (edges ++ edges.map(_.swap) ++ Seq((3L, 3L)))
        .toDF("src", "dst").repartition(3)
      def run(d: org.apache.spark.sql.DataFrame) =
        Graph.adamicAdar(d, maxDeg = 30, minCommon = 1)
          .as[(Long, Long, Long, Double)].collect().toSet
      assert(run(df) == run(noisy), s"trial $trial")
      val und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .toSet
      assert(run(df).forall { case (u, w, _, _) => !und((u, w)) },
        s"trial $trial: an adjacent pair leaked into the candidates")
    }
  }

  test("property: WOE information-value contributions are never negative") {
    import graft.ext.Features
    for (trial <- 1 to 3) {
      val rows = Seq.fill(200)(
        (s"c${rnd.nextInt(6)}", rnd.nextInt(3) == 0))
      val df = rows.toDF("cat", "lbl").repartition(1 + trial)
      val ivs = Features.woeEncode(df, "cat", col("lbl"))
        .select("iv").as[Double].collect()
      // each term is (a−b)·ln(a/b) with a,b > 0 — non-negative by AM–GM
      assert(ivs.forall(_ >= 0.0), s"trial $trial: ${ivs.toSeq}")
    }
  }

  test("property: theilSen slope is invariant under constant value shifts") {
    import graft.ext.Timeseries
    for (trial <- 1 to 3) {
      val pts = (0 until 20).map(i =>
        ("u", i.toLong, rnd.nextInt(10000) / 100.0))
      val shift = rnd.nextInt(500).toDouble
      def slope(rows: Seq[(String, Long, Double)]) =
        Timeseries.theilSen(
          rows.toDF("k", "sec", "v")
            .select(col("k"), col("sec").cast("timestamp").as("ts"),
              col("v")),
          "k", "ts", "v")
          .select("slope").as[Double].head()
      assert(slope(pts) == slope(pts.map(p => p.copy(_3 = p._3 + shift))),
        s"trial $trial shift=$shift")
    }
  }
}
