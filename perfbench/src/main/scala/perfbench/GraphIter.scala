package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt
import graft.ext.Graph
import graft.io.Sinks

/** `graph_iter`: iterative graph algorithms over layouts staged at set-up
  * from seeded `orders`/`lineitem`: the co-purchase part graph (canonical
  * pair list, and the bidirected edges bucketed by src), the bidirected
  * customer-supplier purchase graph with out-degrees (bucketed by src) and
  * the directed customer-part graph as plain parquet. Each op is one
  * algorithm run; the five algorithms run round-robin and a window is
  * whole rounds. There is no warm-up round (it would double the run), so
  * each algorithm's first run in the process is timed. Cost here is
  * iterative `Ckpt` loops and parallelism on few cores. */
final class GraphIter(spark: SparkSession, dir: String, seed: Long, cpus: Int, t0: Tracer)
    extends Workload(spark, dir, seed, cpus) {
  val unit = "edges"
  private val lay = s"$dir/layouts"
  private val algos = Vector("pagerank", "labelPropagation", "modularity", "triangleCounts", "hits")
  override val roundOps: Int = algos.size

  Gen.write(dir,
    new Gen(spark, seed).star(nCust = 1500, nOrders = 4000, nParts = 2000, nSupp = 200)
      .filter { case (n, _) => n == "orders" || n == "lineitem" })

  private def bucketed(t: Tracer, df: DataFrame, name: String, by: String): Unit = {
    t.call("io.sinks", "Sinks.writeBucketed")(Sinks.writeBucketed(df, name, by, cpus,
      sortCol = Some(by), path = Some(s"$lay/$name")))
  }

  locally {
    val t = t0
    val li = table(t, "lineitem")
    val od = table(t, "orders")
    val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    t.call("io.sinks", "Sinks.parquet")(Sinks.parquet(
      op.as("x").join(op.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b")).distinct(),
      s"$lay/copairs.parquet"))
    val pairs = table(t, "copairs", lay)
    bucketed(t, pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"))), "pb_copurchase", "src")
    val buys = od.join(li, col("o_orderkey") === col("l_orderkey"))
    val pe = buys.select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")).distinct()
    val bi = pe.unionAll(pe.select(col("dst").as("src"), col("src").as("dst")))
    bucketed(t, bi.join(bi.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")), Seq("src")),
      "pb_purchase", "src")
    val he = buys.select(col("o_custkey").as("src"), col("l_partkey").as("dst")).distinct()
    t.call("io.sinks", "Sinks.parquet")(Sinks.parquet(he, s"$lay/hits.parquet"))
  }
  /** Edge counts of the staged layouts, counted after the first op. */
  private lazy val edgeCounts: Map[String, Long] = Map(
    "copurchase_pairs" -> spark.read.parquet(s"$lay/copairs.parquet").count(),
    "purchase_edges" -> spark.table("pb_purchase").count(),
    "hits_edges" -> spark.read.parquet(s"$lay/hits.parquet").count())
  def inputs: Map[String, Any] = edgeCounts

  def units(o: Out): Long = o.label match {
    case "pagerank" => edgeCounts("purchase_edges")
    case "hits" => edgeCounts("hits_edges")
    case "triangleCounts" => edgeCounts("copurchase_pairs")
    case _ => 2 * edgeCounts("copurchase_pairs")
  }

  def run(k: Int, t: Tracer): Out = {
    val algo = algos(k % algos.size)
    val rows = t.call("ckpt", "Ckpt.releasing")(Ckpt.releasing {
      val df = algo match {
        case "pagerank" => t.call("ext.graph", "Graph.pagerankBucketed")(
          Graph.pagerankBucketed(spark.table("pb_purchase"), iters = 5))
        case "labelPropagation" => t.call("ext.graph", "Graph.labelPropagationBucketed")(
          Graph.labelPropagationBucketed(spark.table("pb_copurchase"), iters = 2))
        case "modularity" =>
          val labels = t.call("ext.graph", "Graph.labelPropagationBucketed")(
            Graph.labelPropagationBucketed(spark.table("pb_copurchase"), iters = 2))
          val pairs = table(t, "copairs", lay)
          t.call("ext.graph", "Graph.modularity")(Graph.modularity(pairs,
            labels, canonical = true))
        case "triangleCounts" =>
          val pairs = table(t, "copairs", lay)
          t.call("ext.graph", "Graph.triangleCounts")(Graph.triangleCounts(pairs, canonical = true))
        case "hits" =>
          val edges = table(t, "hits", lay)
          t.call("ext.graph", "Graph.hits")(Graph.hits(edges, iters = 2))
      }
      t.materialise(df.collect())
    })
    Out(algo, rows)
  }

  /** Node sets and the triangle total by plain SQL, computed once outside any op. */
  private lazy val ref = {
    def ids(sql: String) = spark.sql(sql).collect().map(_.getLong(0)).toSet
    spark.read.parquet(s"$lay/copairs.parquet").createOrReplaceTempView("pb_pairs")
    spark.read.parquet(s"$lay/hits.parquet").createOrReplaceTempView("pb_hits")
    Map(
      "co" -> ids("SELECT a FROM pb_pairs UNION SELECT b FROM pb_pairs"),
      "purchase" -> ids("SELECT DISTINCT src FROM pb_purchase"),
      "hub" -> ids("SELECT DISTINCT src FROM pb_hits"),
      "authority" -> ids("SELECT DISTINCT dst FROM pb_hits"),
      "triangles" -> Set(spark.sql(
        """SELECT COUNT(*) FROM pb_pairs x JOIN pb_pairs y ON x.b = y.a
          |JOIN pb_pairs z ON z.a = x.a AND z.b = y.b""".stripMargin).head().getLong(0)))
  }

  def check(k: Int, o: Out): Option[String] = {
    val rows = o.value.asInstanceOf[Array[Row]]
    def near(x: Double, want: Double, tol: Double) = math.abs(x - want) <= tol
    o.label match {
      case "pagerank" =>
        val ranks = rows.map(_.getAs[Double]("rank"))
        firstError(
          () => expect(rows.map(_.getAs[Long]("node")).toSet == ref("purchase"), "pagerank node set differs"),
          () => expect(ranks.forall(_ > 0) && near(ranks.sum, 1.0, 1e-6), s"ranks sum to ${ranks.sum}"))
      case "labelPropagation" =>
        val nodes = rows.map(_.getAs[Long]("node"))
        firstError(
          () => expect(nodes.length == ref("co").size && nodes.toSet == ref("co"), "LPA node set differs"),
          () => expect(rows.forall(r => ref("co")(r.getAs[Long]("community"))), "LPA label is not a node"))
      case "modularity" =>
        val q = rows.map(_.getAs[Double]("q")).sum
        firstError(
          () => expect(rows.map(_.getAs[Long]("n_nodes")).sum == ref("co").size, "communities do not cover the nodes"),
          () => expect(q >= -0.5 && q <= 1.0, s"modularity $q out of range"))
      case "triangleCounts" =>
        val total = rows.map(_.getAs[Long]("n_triangles")).sum
        expect(total == 3 * ref("triangles").head, s"triangle incidences $total, want 3 x ${ref("triangles").head}")
      case "hits" =>
        firstError(Seq("hub", "authority").map { role => () =>
          val rs = rows.filter(_.getAs[String]("role") == role)
          val s = rs.map(_.getAs[Double]("score")).sum
          expect(rs.map(_.getAs[Long]("node")).toSet == ref(role) && rs.forall(_.getAs[Double]("score") >= 0)
            && near(s, 1.0, 0.01), s"$role scores: ${rs.length} nodes, sum $s")
        }: _*)
    }
  }
}
