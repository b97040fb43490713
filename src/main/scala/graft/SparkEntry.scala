package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{GeoFilter, Ipeds}
import graft.io.Tables
import graft.queries.{ApiQueries, CoreQueries, ExtQueries, LlmQueries, Reg}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query definitions live in [[graft.queries]]; this object only aggregates
  * them into the (name → pipeline) and (name → DuckDB SQL) maps the driver
  * consumes.
  */
object SparkEntry {

  private[graft] def registry: Seq[Reg] = {
    val all = CoreQueries.all ++ ApiQueries.all ++ ExtQueries.all ++ LlmQueries.all
    // a duplicated name would silently shadow a query in the toMap below —
    // the shadowed one would vanish from Verify/Bench with no error
    val dups = all.groupBy(_.name).filter(_._2.sizeIs > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full `awards` pipeline (etl_io.py:390-479 analog): geography
    * restriction via semi-join, constructed zero-padded codes, exact-decimal
    * multi-measure sums, label recode kept alongside the raw code. */
  def entry(spark: SparkSession): DataFrame =
    Ipeds.awards(Tables(spark, "/root/testdata/sf0.001"),
      GeoFilter(regionNames = Seq("ASIA", "EUROPE", "AMERICA")),
      how = "detail",
      labels = Map("0A.1" -> "Alpha One", "0N.3" -> "November Three"))

  /** The session Bench and Verify run in: `local[SPARK_GRAFT_CPUS]` with as
    * many shuffle partitions, UTC, the graft extensions, and the
    * `SPARK_GRAFT_CONF="k=v;k2=v2"` overrides for conf experiments (e.g.
    * `graft.checkpoint.reliable=true` runs the registry through
    * fault-tolerant checkpoints). The overrides go in before getOrCreate,
    * so static confs take effect too. */
  def harnessSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    confEntries(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `"k=v;k2=v2"` → `Seq(k -> v, k2 -> v2)`; a value may itself hold `=`.
    * An entry without `=` fails, naming it — silently dropping it would
    * run the experiment on the default config. */
  private[graft] def confEntries(spec: String): Seq[(String, String)] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2 && parts(0).nonEmpty,
        s"bad SPARK_GRAFT_CONF entry: $kv")
      parts(0) -> parts(1)
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(r => r.name -> r.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(r => r.oracle.map(sql => r.name -> sql)).toMap

  /** Query kind (headline / arm / sketch — see [[graft.queries.Reg]]): lets
    * the bench separate shipped-operator cost from deliberately-worse oracle
    * arms, and tells the driver which entries are rows-only by nature. */
  def kinds: Map[String, String] =
    registry.map(r => r.name -> r.kind).toMap
}
