package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of (seed, row
  * id) through xxhash64, so the same seed writes the same tables however
  * Spark partitions the work. Schemas and value domains follow the
  * library's test corpus (TPC-H-ish star schema, `events`, `documents`);
  * the generator never reads that corpus, it only shares its shape.
  *
  * Documents form a derived corpus: originals are word salad over a
  * skewed seeded vocabulary, and a recorded share of rows are exact or
  * near (two words replaced) replicas of an original; their id ranges
  * ([[Gen.replicaIds]]) are known to the output checks only. */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: String, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  private def u(salt: String, mod: Long, cs: Column*): Column =
    pmod(h(salt, cs: _*), lit(mod))
  private def pick(xs: Seq[String], salt: String, cs: Column*): Column =
    element_at(typedLit(xs), (u(salt, xs.size.toLong, cs: _*) + 1).cast("int"))
  /** Two-decimal value in [lo, lo + span/100). */
  private def money(salt: String, lo: Double, span: Long, cs: Column*): Column =
    lit(lo) + u(salt, span, cs: _*).cast("double") / 100.0
  private def day(salt: String, cs: Column*): Column =
    timestamp_seconds(lit(694224000L) + u(salt, 2400L, cs: _*) * 86400L)

  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val nations = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2,
    "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0,
    "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4,
    "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Star schema sized by customer and order counts; ~4 lines per order. */
  def star(nCust: Long, nOrders: Long, nParts: Long, nSupp: Long): Map[String, DataFrame] = {
    import spark.implicits._
    val region = regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name")
    val nation = nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val id = col("id")
    val customer = spark.range(1, nCust + 1).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u("c_nation", 25, id).cast("int").as("c_nationkey"),
      money("c_bal", -999.99, 1099999L, id).as("c_acctbal"),
      pick(segments, "c_seg", id).as("c_mktsegment"))
    val orders = spark.range(1, nOrders + 1).select(
      id.as("o_orderkey"),
      (u("o_cust", nCust, id) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), "o_status", id).as("o_orderstatus"),
      money("o_price", 800.0, 40000000L, id).as("o_totalprice"),
      day("o_date", id).as("o_orderdate"),
      pick(priorities, "o_prio", id).as("o_orderpriority"))
    val ln = col("ln")
    val lineitem = spark.range(1, nOrders + 1)
      .select(id, explode(sequence(lit(1), (u("o_lines", 7, id) + 1).cast("int"))).as("ln"))
      .select(
        id.as("l_orderkey"),
        (u("l_part", nParts, id, ln) + 1).as("l_partkey"),
        (u("l_supp", nSupp, id, ln) + 1).as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        (u("l_qty", 50, id, ln) + 1).cast("double").as("l_quantity"),
        money("l_price", 900.0, 10400000L, id, ln).as("l_extendedprice"),
        (u("l_disc", 11, id, ln).cast("double") / 100.0).as("l_discount"),
        (u("l_tax", 9, id, ln).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), "l_rflag", id, ln).as("l_returnflag"),
        pick(Seq("F", "O"), "l_lstatus", id, ln).as("l_linestatus"),
        day("l_ship", id, ln).as("l_shipdate"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "orders" -> orders, "lineitem" -> lineitem)
  }

  def events(n: Long, nUsers: Long): DataFrame = {
    val id = col("id")
    spark.range(1, n + 1).select(
      id.as("event_id"),
      timestamp_seconds(lit(1704067200L) + u("e_ts", 86400L * 60, id)).as("ts"),
      (u("e_user", nUsers, id) + 1).as("user_id"),
      pick(eventTypes, "e_type", id).as("event_type"),
      (u("e_val", 100000L, id).cast("double") / 100.0).as("value"),
      format_string("{\"k\": %d}", u("e_k", 100, id)).as("props"))
  }

  /** Seeded vocabulary: `size` distinct lowercase pseudo-words. */
  private def vocabulary(size: Int): Seq[String] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < size) {
      val len = 2 + rng.nextInt(10)
      out += Seq.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    out.toSeq
  }
  private val stopwords = Seq("the", "a", "of", "and", "is")

  /** Derived document corpus of `n` rows: the first (1 - exactShare -
    * nearShare) * n ids are originals, the rest replicas of a seeded
    * original. */
  def documents(n: Long, exactShare: Double, nearShare: Double): DataFrame = {
    val vocab = vocabulary(4000)
    val (exactIds, _) = Gen.replicaIds(n, exactShare, nearShare)
    val (nOrig, nExact) = (exactIds.start - 1, exactIds.size.toLong)
    val d = col("id")
    val kind = when(d < nOrig, "original").when(d < nOrig + nExact, "exact")
      .otherwise("near")
    val src = when(d < nOrig, d).otherwise(u("d_src", nOrig, d))
    def word(cs: Column*): Column = {
      // squared uniform skews picks toward the vocabulary head (Zipf-like)
      val x = u("d_w", 1000000L, cs: _*).cast("double") / 1e6
      when(u("d_stop", 100, cs: _*) < 12, pick(stopwords, "d_sw", cs: _*))
        .otherwise(element_at(typedLit(vocab),
          (floor(x * x * vocab.size) + 1).cast("int")))
    }
    val s = col("src")
    val nw = (u("d_len", 80, s) + 40).cast("int")
    val p1 = (u("d_p1", 1000, d) % nw + 1).cast("int")
    val p2 = (u("d_p2", 1000, d) % nw + 1).cast("int")
    val body = concat_ws(" ", transform(sequence(lit(1), nw), i =>
      when(col("kind") === "near" && (i === p1 || i === p2), word(d, i))
        .otherwise(word(s, i))))
    val pii = u("d_pii", 10, s)
    val text = concat(body,
      when(pii === 0, format_string(" contact u%d@mail%d.org", s, u("d_dom", 50, s)))
        .when(pii === 1, format_string(" ref %d", u("d_num", 90000000L, s) + 10000000L))
        .otherwise(lit("")))
    spark.range(0, n).select(d, kind.as("kind"), src.as("src")).select(
      (d + 1).as("doc_id"),
      text.as("text"),
      pick(Seq("de", "en", "es", "fr", "zh"), "d_lang", s).as("lang"),
      concat(lit("src"), u("d_source", 20, s).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}

object Gen {
  /** doc_id ranges of the exact and the near replicas in [[Gen.documents]]:
    * originals come first, so every replica has a smaller-id original. */
  def replicaIds(n: Long, exactShare: Double, nearShare: Double): (Range.Inclusive, Range.Inclusive) = {
    val nOrig = math.round(n * (1 - exactShare - nearShare)).toInt
    val nExact = math.round(n * exactShare).toInt
    (nOrig + 1 to nOrig + nExact, nOrig + nExact + 1 to n.toInt)
  }

  /** Writes each frame as `<dir>/<name>.parquet`. */
  def write(dir: String, tables: Map[String, DataFrame]): Unit =
    tables.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name.parquet") }
}
