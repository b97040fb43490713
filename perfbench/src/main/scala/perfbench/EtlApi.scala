package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{GeoFilter, Ipeds, Onet, OnetCols, Rosetta}
import graft.io.{Sinks, Sources}
import graft.ops.{Recode, Relational, Reshape}

/** `etl_api`: many short seeded calls through the paper's own surface
  * (IPEDS / O*NET / Rosetta composites, relational ops, small report
  * sinks) over an sf0.1-sized star schema. Per-call fixed cost dominates
  * here and no `ext` operator runs, so this is where driver-side planning
  * and per-query constants show. Templates run round-robin and a window
  * is whole rounds; each op draws one of three seeded parameter sets.
  * Query results
  * are checked against DuckDB replays of the same composition (first
  * occurrence of each variant; later occurrences must equal it). */
final class EtlApi(spark: SparkSession, dir: String, seed: Long, cpus: Int, t0: Tracer)
    extends Workload(spark, dir, seed, cpus) {
  val unit = "calls"

  private val gen = new Gen(spark, seed)
  Gen.write(dir, gen.star(nCust = 15000, nOrders = 150000, nParts = 20000, nSupp = 1000) ++
    Map("events" -> gen.events(100000, nUsers = 10000)))
  def inputs: Map[String, Any] = Map("templates" -> templates.size, "parameter_sets" -> 3)

  private val derbyUrl = s"jdbc:derby:$dir/derby;create=true"
  private val prm = new java.util.SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
  private def subset[A](xs: Seq[A]): Seq[A] = {
    val s = xs.filter(_ => prm.nextBoolean())
    if (s.isEmpty) Seq(xs(prm.nextInt(xs.size))) else s
  }
  private val regionSets = Seq.fill(3)(subset(gen.regions))
  private val segmentSets = Seq.fill(3)(subset(gen.segments))
  private val nationSets = Seq.fill(3)(subset(0 until 25).take(6))
  private val userSets = Seq.fill(3)(Seq.fill(200)(1L + prm.nextLong(10000L)).distinct.sorted)
  private val residues = Seq.fill(3)(prm.nextInt(100))
  private val labels = Map("0A.1" -> "Alpha One", "0N.3" -> "November Three")
  private val onetCols = OnetCols("user_id", "event_type", "scale", "value")

  private def q(s: String) = "'" + s.replace("'", "''") + "'"
  private def inSql(xs: Seq[Any]) = xs.map {
    case s: String => q(s)
    case x => x.toString
  }.mkString("(", ",", ")")
  private def dsumSql(x: String) = s"(CAST(SUM(CAST(FLOOR(($x) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0)"
  private val factsSql =
    """SELECT o_custkey AS unit_id,
      |  lpad(l_returnflag, 2, '0') || '.' || CAST(l_linenumber AS VARCHAR) AS cipcode,
      |  l_quantity, l_extendedprice, l_discount
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_linestatus = 'F'""".stripMargin
  private def unitsSql(where: String, extra: String = "") =
    s"""SELECT c_custkey$extra FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey WHERE $where""".stripMargin
  private def eventsSql(scale: String) = s"event_id % 2 = ${if (scale == "IM") 0 else 1}"

  /** One variant: the library call (built and materialised inside `exec`)
    * plus, for queries, the DuckDB SQL of the same composition. */
  private final case class Case(key: String, sql: Option[String])(val exec: Tracer => Any)
  /** A sink write: the written frame's rows are compared with a read-back. */
  private final case class Written(df: DataFrame, readBack: () => DataFrame)

  private def collect(t: Tracer, df: DataFrame): (Seq[String], Array[Row]) =
    (df.columns.toSeq, t.materialise(df.collect()))

  private def events(t: Tracer) = table(t, "events").withColumn("scale",
    when(col("event_id") % 2 === 0, lit("IM")).otherwise(lit("LV")))

  private def tables(t: Tracer) = t.call("io.sources", "Tables")(graft.io.Tables(spark, dir))

  private val templates: Seq[Int => Case] = Seq(
    p => Case(s"awards_detail:$p", Some(
      s"""SELECT cipcode, ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_price,
         |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) *
         |           CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_revenue,
         |  CASE cipcode WHEN '0A.1' THEN 'Alpha One' WHEN '0N.3' THEN 'November Three'
         |    ELSE cipcode END AS cipname
         |FROM ($factsSql AND o_custkey IN (${unitsSql(s"r_name IN ${inSql(regionSets(p))}")}))
         |GROUP BY cipcode""".stripMargin)) { t =>
      val tb = tables(t)
      collect(t, t.call("api", "Ipeds.awards")(
        Ipeds.awards(tb, GeoFilter(regionNames = regionSets(p)), how = "detail", labels = labels)))
    },
    p => Case(s"programs:$p", Some(
      s"""SELECT cipcode, COUNT(unit_id) AS prog_count
         |FROM ($factsSql AND o_custkey IN (${unitsSql(s"c_mktsegment IN ${inSql(segmentSets(p))}")}))
         |GROUP BY cipcode""".stripMargin)) { t =>
      val tb = tables(t)
      collect(t, t.call("api", "Ipeds.programs")(
        Ipeds.programs(tb, GeoFilter(mktSegments = segmentSets(p)))))
    },
    p => Case(s"schools_distinct:$p", Some(
      s"""SELECT nation_name, COUNT(DISTINCT unit_id) AS school_count FROM (
         |  SELECT f.unit_id, u.nation_name FROM ($factsSql) f
         |  JOIN (${unitsSql(s"n_nationkey IN ${inSql(nationSets(p))}", ", n_name AS nation_name")}) u
         |    ON f.unit_id = u.c_custkey) GROUP BY nation_name""".stripMargin)) { t =>
      val tb = tables(t)
      collect(t, t.call("api", "Ipeds.schoolsDistinct")(
        Ipeds.schoolsDistinct(tb, GeoFilter(nationKeys = nationSets(p)), "nation_name")))
    },
    p => Case(s"schools_count:$p", Some(
      s"""SELECT COUNT(*) AS n_schools
         |FROM ($factsSql AND o_custkey IN (${unitsSql(s"r_name IN ${inSql(regionSets(p))}")}))""".stripMargin)) { t =>
      val tb = tables(t)
      // the scalar form is eager: the call itself runs the count
      val n = t.call("api", "Ipeds.schoolsCount")(
        Ipeds.schoolsCount(tb, GeoFilter(regionNames = regionSets(p))))
      (Seq("n_schools"), Array(Row(n)))
    },
    p => {
      val scale = if (p == 1) "LV" else "IM"
      Case(s"onet_wide:$p", Some(
        s"""SELECT user_id,
           |${gen.eventTypes.map(e => s"  max(CASE WHEN event_type = '$e' THEN value END) AS $e").mkString(",\n")}
           |FROM events WHERE ${eventsSql(scale)} AND user_id IN ${inSql(userSets(p))}
           |GROUP BY user_id""".stripMargin)) { t =>
        val ev = events(t)
        collect(t, t.call("api", "Onet.quantWide")(
          Onet.quantWide(ev, onetCols, userSets(p), scale, gen.eventTypes)))
      }
    },
    p => {
      val scale = if (p == 2) "LV" else "IM"
      Case(s"onet_long:$p", Some(
        s"""SELECT user_id, event_type, '$scale' AS scale, value FROM events
           |WHERE ${eventsSql(scale)} AND user_id IN ${inSql(userSets(p))}""".stripMargin)) { t =>
        val ev = events(t)
        collect(t, t.call("api", "Onet.quantLong")(Onet.quantLong(ev, onetCols, userSets(p), scale)))
      }
    },
    p => Case(s"translate:$p", Some(
      s"""SELECT c_custkey, n_regionkey, r_name FROM customer
         |JOIN (SELECT DISTINCT n_nationkey, n_regionkey FROM nation) n ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE c_custkey % 100 = ${residues(p)}""".stripMargin)) { t =>
      val cust = table(t, "customer").where(col("c_custkey") % 100 === residues(p))
      val nation = table(t, "nation")
      val region = table(t, "region")
      collect(t, t.call("api", "Rosetta.translate")(
        Rosetta.translate(cust.withColumnRenamed("c_nationkey", "n_nationkey"), nation,
          "n_nationkey", "n_regionkey",
          data2 = Some(region.withColumnRenamed("r_regionkey", "n_regionkey")))
          .select("c_custkey", "n_regionkey", "r_name")))
    },
    p => Case(s"recode:$p", Some(
      s"""SELECT o_orderkey,
         |  CASE o_orderpriority WHEN '1-URGENT' THEN 'URGENT' WHEN '2-HIGH' THEN 'HIGH'
         |    ELSE o_orderpriority END AS o_orderpriority,
         |  CASE o_orderstatus WHEN 'F' THEN 'final' ELSE o_orderstatus END AS o_orderstatus
         |FROM orders WHERE o_custkey % 100 = ${residues(p)}""".stripMargin)) { t =>
      val o = table(t, "orders").where(col("o_custkey") % 100 === residues(p))
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
      collect(t, t.call("ops", "Recode.recodeAll")(Recode.recodeAll(o, Map(
        "o_orderpriority" -> Map("1-URGENT" -> "URGENT", "2-HIGH" -> "HIGH"),
        "o_orderstatus" -> Map("F" -> "final")))))
    },
    p => Case(s"pivot:$p", Some(
      s"""SELECT user_id,
         |${gen.eventTypes.map(e => s"  count(CASE WHEN event_type = '$e' THEN 1 END) AS $e").mkString(",\n")}
         |FROM events WHERE user_id IN ${inSql(userSets(p))} GROUP BY user_id""".stripMargin)) { t =>
      val ev = table(t, "events").where(col("user_id").isin(userSets(p): _*))
      collect(t, t.call("ops", "Reshape.pivotCount")(
        Reshape.pivotCount(ev, Seq("user_id"), "event_type", gen.eventTypes)))
    },
    p => Case(s"semijoin:$p", Some(
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         |FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer
         |  WHERE c_nationkey IN ${inSql(nationSets(p))})
         |GROUP BY o_orderpriority""".stripMargin)) { t =>
      val o = table(t, "orders")
      val c = table(t, "customer").where(col("c_nationkey").isin(nationSets(p): _*))
        .select(col("c_custkey").as("o_custkey"))
      collect(t, t.call("ops", "Relational.semiJoin")(Relational.semiJoin(o, c, "o_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), Relational.dsum(col("o_totalprice")).as("total")))
    },
    p => Case(s"sink_csv:$p", None) { t =>
      val path = s"$dir/sinks/report.csv"
      val df = report(t, p)
      t.call("io.sinks", "Sinks.csv")(Sinks.csv(df, path))
      Written(df, () => Sources.csv(spark, path))
    },
    p => Case(s"sink_xlsx:$p", None) { t =>
      val path = s"$dir/sinks/report.xlsx"
      val df = report(t, p)
      t.call("io.sinks", "Sinks.xlsx")(Sinks.xlsx(df, path))
      Written(df, () => Sources.xlsx(spark, path, df.schema))
    },
    p => Case(s"sink_jdbc:$p", None) { t =>
      val df = report(t, p)
      t.call("io.sinks", "Sinks.jdbc")(Sinks.jdbc(df, derbyUrl, "report", numPartitions = cpus))
      Written(df, () => Sources.jdbc(spark, derbyUrl, "SELECT * FROM report"))
    })

  /** The small per-nation report the sink templates write (25 rows). */
  private def report(t: Tracer, p: Int): DataFrame =
    table(t, "customer").where(col("c_mktsegment") === segmentSets(p).head)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"), Relational.dsum(col("c_acctbal")).as("acctbal"))

  // the window starts at op 0: a session's first call of each query
  // shape (plan codegen included) is what an interactive user waits for
  override val roundOps: Int = templates.size

  private def caseOf(k: Int): Case = templates(k % templates.size)(rng(k).nextInt(3))

  def run(k: Int, t: Tracer): Out = {
    val c = caseOf(k)
    c.sql.foreach(sqls.getOrElseUpdate(c.key, _))
    Out(c.key, c.exec(t))
  }

  def units(o: Out): Long = 1L

  /** First result of each query variant (for the DuckDB replay) and its
    * canonical form (later occurrences must match it). */
  private val firsts = mutable.LinkedHashMap.empty[String, (Seq[String], Array[Row], Seq[String])]
  private val sqls = mutable.HashMap.empty[String, String]

  def check(k: Int, o: Out): Option[String] = o.value match {
    case w: Written =>
      val want = Workload.canon(w.df.collect().toSeq)
      val got = Workload.canon(w.readBack().collect().toSeq)
      expect(want == got, s"${o.label}: read-back differs (${got.size} vs ${want.size} rows)")
    case (cols: Seq[String @unchecked], rows: Array[Row @unchecked]) =>
      val c = Workload.canon(rows.toSeq)
      firsts.get(o.label) match {
        case None => firsts(o.label) = (cols, rows, c); None
        case Some((_, _, first)) => expect(first == c, s"${o.label}: result differs from its first run")
      }
  }

  override def oracleCases: Seq[Map[String, Any]] = firsts.toSeq.map { case (key, (cols, rows, _)) =>
    Map("key" -> key, "sql" -> sqls(key), "columns" -> cols,
      "rows" -> rows.toSeq.map(_.toSeq))
  }
}
