package graft.queries

import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler
import graft.io.{Stage, Tables}
import graft.ops.Recode._
import graft.ops.Relational._
import graft.ops.Reshape._

/** Registry entries for the core relational operators (SURVEY.md §2.2–§2.7:
  * P/J/A/F/R families), each with its DuckDB oracle SQL. */
object CoreQueries {

  /** Shared SQL fragment: exact integer-cents sum surfaced as double —
    * DuckDB twin of [[graft.ops.Relational.dsum]]. SUM(BIGINT) is HUGEINT
    * in DuckDB, hence the explicit CAST before the one scale-restoring
    * division (both engines then compute double(Σcents)/100.0, identical
    * IEEE ops). */
  def sqlDsum(x: String): String =
    s"(CAST(SUM(CAST(FLOOR(($x) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0)"

  /** Corpus event types — the SINGLE source of truth for every pivot /
    * one-hot / unpivot column list (a stale copy would silently produce
    * all-null columns that still hash-match). */
  private[queries] val eventTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** Stage the merge-on-read base + delta artifacts once per corpus —
    * the append-only write side of the sink_merge_on_read pattern. */
  private def stagedMergeOnRead(s: org.apache.spark.sql.SparkSession,
                                dir: String): String = {
    Stage.versioned("mor", dir, "orders") { path =>
      val o = graft.io.Tables(s, dir).orders
      val base = o.select("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderstatus")
      val c1 = o.where((col("o_orderkey") % 10).isin(0, 1, 2))
        .select(col("o_orderkey"), lit("U").as("op"), lit(1).as("seq"),
          col("o_custkey"), (col("o_totalprice") + 1000).as("o_totalprice"),
          col("o_orderstatus"))
      val c2 = o.where((col("o_orderkey") % 10).isin(1, 2, 3))
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 3, "D").otherwise("U").as("op"),
          lit(2).as("seq"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          col("o_orderstatus"))
      graft.io.Sinks.parquet(base, s"$path/base.parquet")
      graft.io.Sinks.parquet(c1.unionByName(c2), s"$path/delta.parquet")
    }
  }

  val all: Seq[Reg] = Seq(

    // S1: JDBC scan with full query pushdown, oracle-checked — the nation
    // dim staged into an embedded Derby DB via the S8 JDBC sink, read back
    // through Sources.jdbc with a pushed filter. The reference's PRIMARY
    // source is exactly this shape (templated SQL over a DB connection,
    // etl_io.py:114-138, :185-198). Derby folds unquoted identifiers to
    // upper case, so the pushed query quotes the column names.
    Reg("jdbc_scan", Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey IN (0, 1)""".stripMargin))(
      (s, dir) => {
        val db = Stage.versioned("derby", dir, "nation") { p =>
          graft.io.Sinks.jdbc(Tables(s, dir).nation,
            s"jdbc:derby:$p;create=true", "graft_nation", numPartitions = 1)
          // release Derby's file locks BEFORE Stage.versioned renames the dir —
          // the booted instance pins the moved inode and the post-move
          // boot would see a live lock ("already booted")
          try java.sql.DriverManager.getConnection(s"jdbc:derby:$p;shutdown=true")
          catch { case _: java.sql.SQLException => () } // shutdown SIGNALS via exception
        }
        graft.io.Sources.jdbc(s, s"jdbc:derby:$db",
          """SELECT "n_nationkey", "n_name", "n_regionkey" FROM graft_nation
            |WHERE "n_regionkey" IN (0, 1)""".stripMargin)
      }),

    // S4: TSV scan, oracle-checked — nation staged as header'd TSV, read
    // back with an explicit schema (the reference reads 37 O*NET TSVs,
    // etl_io.py:738-768).
    Reg("s4_tsv_scan", Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"))(
      (s, dir) => {
        val nation = Tables(s, dir).nation
        val path = Stage.versioned("tsv", dir, "nation") { p =>
          graft.io.Sinks.tsv(nation.coalesce(1), p)
        }
        graft.io.Sources.tsv(s, path, schema = Some(nation.schema))
      }),

    // S5: CSV scan, oracle-checked — customer staged as CSV (strings +
    // doubles exercise quoting and numeric round-trip; Spark's double
    // formatting is shortest-round-trip so the values survive exactly).
    Reg("s5_csv_scan", Some(
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"))(
      (s, dir) => {
        val customer = Tables(s, dir).customer
        val path = Stage.versioned("csv", dir, "customer") { p =>
          graft.io.Sinks.csv(customer.coalesce(1), p)
        }
        graft.io.Sources.csv(s, path, schema = Some(customer.schema))
      }),

    // S-ext: JSONL scan, oracle-checked — orders staged as JSON-lines (the
    // format web-scraped corpora arrive in), read back with an explicit
    // schema: longs, doubles and a millisecond timestamp all survive the
    // text round trip exactly.
    Reg("jsonl_scan", Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority FROM orders""".stripMargin))(
      (s, dir) => {
        val orders = Tables(s, dir).orders
        val path = Stage.versioned("jsonl", dir, "orders") { p =>
          graft.io.Sinks.jsonl(orders, p)
        }
        graft.io.Sources.jsonl(s, path, orders.schema)
      }),

    // S-ext: SORTED (range-partitioned) parquet layout — lineitem written
    // ordered on l_shipdate, read back with a date-range predicate. The
    // result oracles against the unsorted table (layout must not change
    // answers); the WIN is in the scan stats: sorted row groups carry
    // tight l_shipdate min/max, so the pushed range predicate skips
    // non-matching groups/files at footer level — the lever for
    // time-keyed facts at 100 TB.
    Reg("parquet_sorted_scan", Some(
      """SELECT l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_day, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |  AND l_shipdate < TIMESTAMP '1995-09-01'""".stripMargin))(
      (s, dir) => {
        val path = Stage.versioned("sortedparquet", dir, "lineitem") { p =>
          graft.io.Sinks.parquetSorted(
            Tables(s, dir).lineitem
              .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"),
            p, Seq("l_shipdate"))
        }
        s.read.parquet(path)
          .where(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
            col("l_shipdate") < lit("1995-09-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linenumber"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
            col("l_quantity"))
      }),

    // S-ext: QUARANTINE ingestion — real corpora arrive with broken lines;
    // the reader must count + segregate them, not die or silently drop.
    // Every 10th orders row is staged as deliberately-invalid JSON; the
    // PERMISSIVE read routes those to _corrupt_record and the aggregate
    // proves good rows parse exactly (decimal-exact price sum) while bad
    // rows are all accounted for.
    Reg("jsonl_quarantine", Some(
      s"""SELECT
         |  CAST(COUNT(*) FILTER (WHERE o_orderkey % 10 <> 0) AS BIGINT)
         |    AS n_good,
         |  CAST(COUNT(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT)
         |    AS n_bad,
         |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
         |       FILTER (WHERE o_orderkey % 10 <> 0) AS DOUBLE) / 100.0 AS sum_price
         |FROM orders""".stripMargin))(
      (s, dir) => {
        import org.apache.spark.sql.types._
        val path = Stage.versioned("jsonlbad", dir, "orders") { p =>
          Tables(s, dir).orders
            .select(when(col("o_orderkey") % 10 === 0, lit("{broken"))
              .otherwise(to_json(struct(col("o_orderkey"), col("o_totalprice"))))
              .as("value"))
            .write.mode("overwrite").text(p)
        }
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType),
          StructField("_corrupt_record", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(path)
          .agg(
            count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
            count(col("_corrupt_record")).as("n_bad"),
            dsum(when(col("_corrupt_record").isNull, col("o_totalprice")))
              .as("sum_price"))
      }),

    // S-ext: ORC round trip, oracle-checked — the S8-family columnar sink
    // beyond parquet; schema (incl. int32 p_size) travels with the files,
    // so the read back needs no caller-side schema.
    Reg("orc_roundtrip", Some(
      "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part"))(
      (s, dir) => {
        val path = Stage.versioned("orc", dir, "part") { p =>
          graft.io.Sinks.orc(Tables(s, dir).part, p)
        }
        graft.io.Sources.orc(s, path)
      }),

    // S-ext: CSV round trip through the PROPER sink, multi-shard (no
    // coalesce — one file per partition, the shape a distributed write
    // actually produces): supplier strings + int32 nationkey + double
    // acctbal exercise the type round trip. Read back with the writer's
    // schema, oracled against the parquet source — the text format must
    // be lossless.
    Reg("csv_roundtrip", Some(
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"))(
      (s, dir) => {
        val supplier = Tables(s, dir).supplier
        val path = Stage.versioned("csvrt", dir, "supplier") { p =>
          graft.io.Sinks.csv(supplier, p)
        }
        graft.io.Sources.csv(s, path, schema = Some(supplier.schema))
      }),

    // S-ext: schema-evolution read — two parquet generations of one
    // logical table (v1 carries text, v2 added lang and dropped text),
    // unified by a mergeSchema scan: columns a generation lacks surface as
    // NULL, the exact posture a long-lived 100 TB table needs when
    // producers add columns without rewriting history. The oracle replays
    // the generation split + unification with NULL-padded UNION ALL.
    Reg("schema_evolution", Some(
      """SELECT doc_id, text, NULL AS lang FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, NULL AS text, lang FROM documents
        |WHERE doc_id % 2 = 1""".stripMargin))(
      (s, dir) => {
        val path = Stage.versioned("schemaevo", dir, "documents") { p =>
          val d = Tables(s, dir).documents
          graft.io.Sinks.parquet(
            d.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
            s"$p/gen=1")
          graft.io.Sinks.parquet(
            d.where(col("doc_id") % 2 === 1).select("doc_id", "lang"),
            s"$p/gen=2")
        }
        s.read.option("mergeSchema", "true")
          .parquet(s"$path/gen=1", s"$path/gen=2")
      }),

    // S8/maintenance: small-files compaction round trip — documents staged
    // as 64 deliberately tiny files, compacted to O(1) files, read back.
    // The oracle proves losslessness; the require proves the compaction
    // actually collapsed the file count (the scan-scheduling lever at
    // 100 TB — task-per-file cost dominates kilobyte files).
    Reg("compact_scan", Some(
      "SELECT doc_id, text, lang, source, n_chars FROM documents"))(
      (s, dir) => {
        val path = Stage.versioned("compact", dir, "documents") { p =>
          Tables(s, dir).documents.repartition(64)
            .write.mode("overwrite").parquet(s"$p/small")
          val (before, after) = graft.io.Sinks.compact(
            s, s"$p/small", s"$p/compacted")
          require(after < before,
            s"compaction did not reduce files ($before -> $after)")
        }
        s.read.parquet(s"$path/compacted")
      }),

    // S8/scale: partitioned write + partition-PRUNED read — orders written
    // once as directory partitions on o_orderpriority, read back filtered
    // to one priority. The filter becomes a PartitionFilter (PlanSpec pins
    // it): the scan lists one directory and never opens the other
    // partitions' files — the 100 TB lever for time/category-partitioned
    // fact tables.
    Reg("parquet_pruned", Some(
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin))(
      (s, dir) => {
        val path = Stage.versioned("partparquet", dir, "orders") { p =>
          graft.io.Sinks.parquet(
            Tables(s, dir).orders
              .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
            p, partitionCols = Seq("o_orderpriority"))
        }
        s.read.parquet(path).where(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      }),

    // P1/P3: filter + projection; predicate + pruning reach the parquet scan.
    Reg("p1_filter_project", Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .where(col("l_shipdate") >= lit("1995-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity")),

    // S2: the raw-SQL path — corpus tables as temp views + spark.sql; the
    // same ANSI text runs on both engines.
    Reg("s2_sql_template", Some(
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderpriority"""
        .stripMargin))(
      (s, dir) => {
        graft.io.Sources.registerViews(s, dir)
        s.sql(
          """SELECT o_orderpriority, COUNT(*) AS n
            |FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderpriority"""
            .stripMargin)
      }),

    // P4/P5: IN-list predicate, conjunction of clauses.
    Reg("p4_in_list", Some(
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_orderstatus = 'F'"""
        .stripMargin))(
      (s, dir) => Tables(s, dir).orders
        .where(conj(Seq(
          inList(col("o_orderpriority"), Seq("1-URGENT", "2-HIGH")),
          col("o_orderstatus") === "F")))
        .select("o_orderkey", "o_custkey", "o_orderpriority")),

    // P6: string-length predicate (CIP granularity analog, etl_io.py:468).
    Reg("p6_length_filter", Some(
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE length(o_orderpriority) = 8""".stripMargin))(
      (s, dir) => Tables(s, dir).orders
        .where(length(col("o_orderpriority")) === 8)
        .select("o_orderkey", "o_orderpriority")),

    // A1: group-by exact-decimal SUM, multi-measure (etl_io.py:460).
    Reg("a1_groupsum", Some(
      s"""SELECT l_returnflag,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  ${sqlDsum("l_extendedprice")} AS sum_price,
         |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) *
         |           CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT))
         |       AS DOUBLE) / 10000.0 AS sum_revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          dsumProd2(col("l_extendedprice"), lit(1) - col("l_discount")).as("sum_revenue"),
          count(lit(1)).as("n_rows"))),

    // The two canonical TPC-H star-join shapes, exact-cents revenue
    // (dsumProd2 ↔ the cents-product SQL twin). Q3 "shipping priority":
    // dim-filtered customer broadcast into orders, date-pruned lineitem,
    // fully-tiebroken top-10. Q5 "local supplier volume": the 6-way join
    // with BOTH ends pinned to one region (c_nationkey = s_nationkey),
    // nation-count-sized output.
    Reg("tpch_q3", Some {
      val rev = """CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                  |  * CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT))
                  |  AS DOUBLE) / 10000.0""".stripMargin
      s"""SELECT l_orderkey, $rev AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         |  AND l_orderkey = o_orderkey
         |  AND o_orderdate < TIMESTAMP '1997-06-01'
         |  AND l_shipdate > TIMESTAMP '1997-06-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
    })(
      (s, dir) => {
        val t = Tables(s, dir)
        t.customer.where(col("c_mktsegment") === "BUILDING")
          .join(t.orders, col("c_custkey") === col("o_custkey"))
          .where(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
          .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
          .groupBy(col("l_orderkey"), col("o_orderdate"),
            col("o_orderpriority"))
          .agg(dsumProd2(col("l_extendedprice"),
            lit(1) - col("l_discount")).as("revenue"))
          .select(col("l_orderkey"), col("revenue"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
            col("o_orderpriority"))
          .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
      }),

    Reg("tpch_q5", Some {
      val rev = """CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                  |  * CAST(FLOOR((1 - l_discount) * 100 + 0.5) AS BIGINT))
                  |  AS DOUBLE) / 10000.0""".stripMargin
      s"""SELECT n_name, $rev AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name""".stripMargin
    })(
      (s, dir) => {
        val t = Tables(s, dir)
        t.customer
          .join(t.orders, col("c_custkey") === col("o_custkey"))
          .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
          .join(t.supplier, col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
          .join(t.nation, col("s_nationkey") === col("n_nationkey"))
          .join(t.region, col("n_regionkey") === col("r_regionkey")
            && col("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg(dsumProd2(col("l_extendedprice"),
            lit(1) - col("l_discount")).as("revenue"))
      }),

    // A2: group-by COUNT (etl_io.py:537).
    Reg("a2_groupcount", Some(
      "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority"))(
      (s, dir) => Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))),

    // A3: group-by PRODUCT (etl_io.py:816-818) via the built-in partial-agg
    // `product`. Groups are ≤13 rows and factors ∈[1,1.1], so rounding to 6
    // decimals absorbs float order-dependence across partitionings.
    Reg("a3_groupproduct", Some(
      """SELECT l_orderkey, ROUND(PRODUCT(1 + l_discount), 6) AS disc_factor
        |FROM lineitem GROUP BY l_orderkey""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .groupBy("l_orderkey")
        .agg(round(product(lit(1) + col("l_discount")), 6).as("disc_factor"))),

    // A4: ungrouped scalar COUNT (etl_io.py:599).
    Reg("a4_count", Some("SELECT COUNT(*) AS n FROM lineitem"))(
      (s, dir) => Tables(s, dir).lineitem.agg(count(lit(1)).as("n"))),

    // A5/J5: distinct pairs (etl_io.py:76, :922).
    Reg("a5_distinct", Some(
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"))(
      (s, dir) => Tables(s, dir).lineitem
        .select("l_returnflag", "l_linestatus").distinct()),

    // J1/J3: two-hop enrichment join (etl_io.py:386, :936-939).
    Reg("j1_join_2hop", Some(
      """SELECT l_orderkey, l_linenumber, c_custkey, c_mktsegment
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .select("l_orderkey", "l_linenumber", "c_custkey", "c_mktsegment")
      }),

    // J4: semi-join reduction — the reference's collected IN-list
    // (etl_io.py:354-357) as a left-semi join, no driver round-trip.
    Reg("j4_semijoin", Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')"""
        .stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        val dims = t.orders.where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("l_orderkey"))
        semiJoin(t.lineitem, dims, "l_orderkey")
          .select("l_orderkey", "l_linenumber", "l_quantity")
      }),

    // J4 inverse: anti-join (NOT EXISTS). o_orderkey is never null.
    Reg("j4_antijoin", Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))"""
        .stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        val dims = t.orders
          .where(inList(col("o_orderpriority"), Seq("1-URGENT", "2-HIGH")))
          .select(col("o_orderkey").as("l_orderkey"))
        antiJoin(t.lineitem, dims, "l_orderkey")
          .select("l_orderkey", "l_linenumber", "l_quantity")
      }),

    // J-skew: salted join — the hot-key mitigation (fact side salted by a
    // row-level hash, dim side exploded across the salt range) must be
    // RESULT-IDENTICAL to the plain equi-join; the oracle is exactly that
    // plain join, so the rewrite's correctness is hash-checked.
    Reg("j_salted", Some(
      """SELECT c_custkey, n_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        graft.ops.Relational.saltedJoin(
            t.customer.withColumnRenamed("c_nationkey", "n_nationkey"),
            t.nation.select("n_nationkey", "n_name"),
            key = "n_nationkey", saltSrcCol = "c_custkey", buckets = 8)
          .select("c_custkey", "n_name")
      }),

    // J-bucketed: the pre-shuffled co-located join — facts written once
    // through the S8 bucketed sink (16 buckets on the join key), then the
    // repeat-join workload reads them back Exchange-free on the join
    // (PlanSpec pins the no-shuffle property; this query hash-checks that
    // the bucketed round trip changes NOTHING about the result).
    Reg("j_bucketed", Some(
      s"""SELECT o_orderpriority, ${sqlDsum("l_quantity")} AS sum_qty,
         |  COUNT(*) AS n_rows
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin))(
      (s, dir) => {
        // bucketed FILES once per corpus version, per JVM only the catalog
        // MOUNT — the metadata a production metastore would persist for free
        val t = Tables(s, dir)
        val tl = Stage.bucketed(s, "jbktl", dir, "lineitem")("l_orderkey", 16) {
          t.lineitem.select("l_orderkey", "l_quantity")
        }
        val to = Stage.bucketed(s, "jbkto", dir, "orders")("o_orderkey", 16) {
          t.orders.select("o_orderkey", "o_orderpriority")
        }
        s.table(tl).join(s.table(to), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      }),

    // J-bloom: bloom-pruned join — probe rows are membership-tested against
    // a kilobytes-sized summary of the build side's keys BEFORE the join
    // shuffle (the regime where the build side is too big to broadcast but
    // its key set still fits a sketch). The oracle is the PLAIN join: a
    // hash match proves the bloom pruning loses no row (no false
    // negatives) and the join removes every false positive.
    Reg("j_bloom", Some(
      s"""SELECT p_type, ${sqlDsum("l_quantity")} AS sum_qty,
         |  COUNT(*) AS n_rows
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand = 'Brand#4'
         |GROUP BY p_type""".stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        graft.ops.Relational.bloomPrunedJoin(
            t.lineitem.select("l_partkey", "l_quantity"),
            t.part.where(col("p_brand") === "Brand#4").select("p_partkey", "p_type"),
            "l_partkey", "p_partkey")
          .groupBy("p_type")
          .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      }),

    // S-layout: Z-ordered (Morton-curve) parquet layout — lineitem written
    // once clustered on interleave(l_partkey, l_suppkey), then a 2-D range
    // query reads it back. Row groups are rectangles in (partkey, suppkey)
    // space, so parquet min/max stats prune on EITHER predicate — the
    // layout answer to "my 100 TB table is filtered two ways". The result
    // hash-matches the same filter over the ORIGINAL table (layout changes
    // nothing), and sum_z certifies the bit-interleave arithmetic itself
    // against DuckDB's replay of it.
    Reg("zorder_scan", Some(
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
        |  CAST(SUM(CAST(list_sum(list_transform(generate_series(0, 19), i ->
        |    (((l_partkey >> i) & 1) << (2 * i)) +
        |    (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT)) AS BIGINT) AS sum_z
        |FROM lineitem
        |WHERE l_partkey BETWEEN 200 AND 400 AND l_suppkey BETWEEN 10 AND 40"""
        .stripMargin))(
      (s, dir) => {
        val path = Stage.versioned("zorder", dir, "lineitem") { p =>
          graft.ops.Layout.writeZOrdered(
            Tables(s, dir).lineitem.select("l_partkey", "l_suppkey", "l_extendedprice"),
            p, "l_partkey", "l_suppkey", numFiles = 4, bits = 20)
        }
        s.read.parquet(path)
          .where(col("l_partkey").between(200, 400) &&
            col("l_suppkey").between(10, 40))
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("l_extendedprice")).as("sum_price"),
            sum(graft.ops.Layout.zorder2(
              col("l_partkey"), col("l_suppkey"), bits = 20)).as("sum_z"))
      }),

    // J-fuzzy: approximate-string self-join, edit distance <= 1 via the
    // deletion-neighborhood candidate join. The oracle REPLAYS the
    // registered maxBlock = 50 star-collapse semantics (variant explode →
    // block stats → in-cap pairs + over-cap representative stars → exact
    // levenshtein), so engine and oracle agree at EVERY scale — including
    // sf1, where clone-heavy 360-member variant blocks make the cap bind
    // (uncapped: ~6.5M candidate pairs, 29.9 s; capped: star-collapsed,
    // 2.7 s). At the oracle SFs the cap binds nowhere (measured max
    // variant-block: 18 / 27 / 36 at sf0.001/0.01/0.1), so the replay is
    // ALSO bit-identical to the brute-force cross join there — completeness
    // of the blocking stays proven by FuzzyJoinSpec's brute-force property.
    Reg("fuzzy_join", Some(
      """WITH v AS (
        |  SELECT s_suppkey AS fid, s_name AS fs,
        |    unnest(list_transform(generate_series(0, length(s_name)),
        |      i -> CASE WHEN i = 0 THEN s_name
        |           ELSE substr(s_name, 1, i - 1) ||
        |                substr(s_name, i + 1, length(s_name)) END)) AS var
        |  FROM supplier
        |), stats AS (
        |  SELECT var, COUNT(*) AS bsz, MIN(fid) AS rfid,
        |         arg_min(fs, fid) AS rfs
        |  FROM v GROUP BY var
        |), vs AS (
        |  SELECT v.fid, v.fs, v.var, s.bsz, s.rfid, s.rfs
        |  FROM v JOIN stats s USING (var)
        |), cand AS (
        |  SELECT DISTINCT a_id, a_s, b_id, b_s FROM (
        |    SELECT a.fid AS a_id, a.fs AS a_s, b.fid AS b_id, b.fs AS b_s
        |    FROM vs a JOIN vs b ON a.var = b.var AND a.fid < b.fid
        |    WHERE a.bsz <= 50
        |    UNION ALL
        |    SELECT rfid, rfs, fid, fs FROM vs WHERE bsz > 50 AND fid <> rfid)
        |)
        |SELECT a_id, a_s, b_id, b_s, levenshtein(a_s, b_s) AS dist
        |FROM cand WHERE levenshtein(a_s, b_s) <= 1""".stripMargin))(
      (s, dir) => graft.ops.Relational.fuzzySelfPairs(
        Tables(s, dir).supplier, "s_suppkey", "s_name", maxBlock = 50)),

    // J-fuzzy-score: Jaro-Winkler record linkage through the native
    // codegen expression (graft.functions.JaroWinkler — a static-kernel
    // call inside whole-stage codegen, never a UDF), blocked on nationkey
    // so the pair space is per-block, and scored/filtered on the ROUNDED
    // similarity (DuckDB's jaro_winkler_similarity replays the identical
    // algorithm: window max(len)/2-1, floored half-transpositions, boost
    // 0.1·min(prefix,4) only above jaro 0.7 — verified empirically).
    Reg("j_jarowinkler", Some(
      """SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id,
        |  ROUND(jaro_winkler_similarity(a.s_name, b.s_name), 6) AS jw
        |FROM supplier a JOIN supplier b
        |  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
        |WHERE ROUND(jaro_winkler_similarity(a.s_name, b.s_name), 6) >= 0.93"""
        .stripMargin))(
      (s, dir) => {
        val sup = Tables(s, dir).supplier
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        val a = sup.select(col("s_nationkey").as("nk"),
          col("s_suppkey").as("a_id"), col("s_name").as("a_name"))
        val b = sup.select(col("s_nationkey").as("nk"),
          col("s_suppkey").as("b_id"), col("s_name").as("b_name"))
        a.join(b, Seq("nk")).where(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            round(GraftColumn(JaroWinkler(GraftColumn.expr(col("a_name")),
              GraftColumn.expr(col("b_name")))), 6).as("jw"))
          .where(col("jw") >= 0.93)
      }),

    // CDC MERGE: apply an upsert/delete change log to a base table — the
    // batch core of MERGE INTO. The change log is synthesized
    // deterministically from orders (keys %10∈{0,1,2} get a seq-1 update,
    // %10∈{1,2,3} a seq-2 update-or-delete, so latest-wins, pure-insert,
    // pure-delete and no-change paths are all exercised); the oracle
    // replays the same merge as window + NOT EXISTS + union.
    Reg("cdc_merge", Some(
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |), c1 AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_custkey,
        |    o_totalprice + 1000 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 10 IN (0, 1, 2)
        |), c2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'D' ELSE 'U' END AS op,
        |    2 AS seq, o_custkey,
        |    o_totalprice * 2 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 10 IN (1, 2, 3)
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |                                 ORDER BY seq DESC) AS rn
        |    FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
        |  ) WHERE rn = 1
        |)
        |SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus
        |FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM latest l
        |                  WHERE l.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM latest WHERE op = 'U'""".stripMargin))(
      (s, dir) => {
        val o = Tables(s, dir).orders
        val base = o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        val c1 = o.where((col("o_orderkey") % 10).isin(0, 1, 2))
          .select(col("o_orderkey"), lit("U").as("op"), lit(1).as("seq"),
            col("o_custkey"), (col("o_totalprice") + 1000).as("o_totalprice"),
            col("o_orderstatus"))
        val c2 = o.where((col("o_orderkey") % 10).isin(1, 2, 3))
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 10 === 3, "D").otherwise("U").as("op"),
            lit(2).as("seq"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"), col("o_orderstatus"))
        graft.ops.Cdc.applyChanges(base, c1.unionByName(c2), "o_orderkey")
      }),

    // Merge-on-read ([[graft.ops.Cdc.applyChanges]] over PERSISTED files):
    // the lakehouse pattern where a base snapshot and a delta change log
    // live as separate parquet artifacts and the merge happens AT READ
    // TIME — writes stay append-only and cheap, readers pay one window +
    // anti-join. Base and delta are staged once through Sinks (the
    // write-side is exercised, not simulated); same oracle as cdc_merge,
    // so the hash also proves the parquet round-trip changed nothing.
    Reg("sink_merge_on_read", Some(
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |), c1 AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_custkey,
        |    o_totalprice + 1000 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 10 IN (0, 1, 2)
        |), c2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'D' ELSE 'U' END AS op,
        |    2 AS seq, o_custkey,
        |    o_totalprice * 2 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 10 IN (1, 2, 3)
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |                                 ORDER BY seq DESC) AS rn
        |    FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
        |  ) WHERE rn = 1
        |)
        |SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus
        |FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM latest l
        |                  WHERE l.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM latest WHERE op = 'U'""".stripMargin))(
      (s, dir) => {
        val staged = stagedMergeOnRead(s, dir)
        graft.ops.Cdc.applyChanges(
          s.read.parquet(s"$staged/base.parquet"),
          s.read.parquet(s"$staged/delta.parquet"), "o_orderkey")
      }),

    // SCD2: type-2 dimension build from a change log — one window pass
    // turns (key, ts, state) into effective-dated rows. (user_id, ts)
    // collisions are pre-aggregated away (MAX state) so the log meets the
    // operator's uniqueness contract; timestamps leave as strings per the
    // registry parity rules.
    Reg("scd2_dim", Some(
      """WITH log AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu,
        |    MAX(event_type) AS state
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, state,
        |  strftime(tsu, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  strftime(lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu),
        |           '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |  lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu) IS NULL
        |    AS is_current
        |FROM log""".stripMargin))(
      (s, dir) => {
        // ONE shuffle, not two: hash-partitioning on user_id alone satisfies
        // both the (user_id, ts) aggregation's clustering requirement AND
        // the scd2 window's partitioning, so the explicit repartition is
        // reused by both downstream operators (PLANS.md shows the tree)
        val log = Tables(s, dir).events.repartition(col("user_id"))
          .groupBy("user_id", "ts").agg(max("event_type").as("state"))
        graft.ops.Cdc.scd2(log, "user_id", "ts")
          .select(col("user_id"), col("state"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("valid_from"),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("valid_to"),
            col("is_current"))
      }),

    // Time-travel read ([[Cdc.snapshotAsOf]]): reconstruct per-key state
    // as of a past instant from the raw change log — latest change ≤ T
    // wins, deletes erase the key, later-born keys are absent. The engine
    // answers with ONE partial-aggregable struct-max (no window over the
    // log); the oracle replays the definition with a row_number window.
    Reg("cdc_snapshot_asof", Some(
      """WITH log AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu,
        |    CASE WHEN MAX(event_type) = 'view' THEN 'D' ELSE 'U' END AS op,
        |    MAX(value) AS value
        |  FROM events GROUP BY 1, 2
        |), last AS (
        |  SELECT user_id, tsu, op, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY tsu DESC) AS rn
        |  FROM log WHERE tsu <= TIMESTAMP '2024-01-15 00:00:00'
        |)
        |SELECT user_id, strftime(tsu, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  value
        |FROM last WHERE rn = 1 AND op = 'U'""".stripMargin))(
      (s, dir) => {
        val log = Tables(s, dir).events.groupBy("user_id", "ts").agg(
          when(max("event_type") === "view", "D").otherwise("U").as("op"),
          max("value").as("value"))
        graft.ops.Cdc.snapshotAsOf(log, "user_id", "ts",
            lit("2024-01-15 00:00:00").cast("timestamp"))
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("value"))
      }),

    // Column profiling — the describe/data-quality pass, one distributed
    // aggregation for ALL columns, unpivoted to a row per column.
    Reg("profile_orders", Some {
      def arm(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_val,
           |  CAST(MAX($c) AS VARCHAR) AS max_val FROM orders""".stripMargin
      Seq("o_orderkey", "o_orderpriority", "o_totalprice")
        .map(arm).mkString("\nUNION ALL\n")
    })(
      (s, dir) => graft.ops.Profile.profile(Tables(s, dir).orders,
        Seq("o_orderkey", "o_orderpriority", "o_totalprice"))),

    // Snapshot drift report ([[Profile.snapshotDiff]]): per-column profile
    // DELTAS between two table vintages — j_full_outer_diff classifies
    // rows, this classifies COLUMNS (cardinality jumps, range drift).
    // The b vintage drops %10 keys and shifts prices, so every delta
    // column exercises.
    Reg("dq_snapshot_diff", Some {
      def arm(tbl: String, c: String, p: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS ${p}_rows,
           |  COUNT($c) AS ${p}_nonnull, COUNT(DISTINCT $c) AS ${p}_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS ${p}_min,
           |  CAST(MAX($c) AS VARCHAR) AS ${p}_max FROM $tbl""".stripMargin
      val cs = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
      s"""WITH b AS (
         |  SELECT o_orderkey, o_orderpriority,
         |    o_totalprice + 1000 AS o_totalprice
         |  FROM orders WHERE o_orderkey % 10 <> 0),
         |pa AS (${cs.map(arm("orders", _, "a")).mkString("\nUNION ALL\n")}),
         |pb AS (${cs.map(arm("b", _, "b")).mkString("\nUNION ALL\n")})
         |SELECT col_name, a_rows, a_nonnull, a_distinct, a_min, a_max,
         |  b_rows, b_nonnull, b_distinct, b_min, b_max,
         |  b_rows - a_rows AS rows_delta,
         |  b_distinct - a_distinct AS distinct_delta,
         |  (NOT (a_min IS NOT DISTINCT FROM b_min))
         |    OR (NOT (a_max IS NOT DISTINCT FROM b_max)) AS range_changed
         |FROM pa JOIN pb USING (col_name)""".stripMargin
    })(
      (s, dir) => {
        val a = Tables(s, dir).orders
        val b = a.where(col("o_orderkey") % 10 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        graft.ops.Profile.snapshotDiff(a, b,
          Seq("o_orderkey", "o_orderpriority", "o_totalprice"))
      }),

    // Population stability index ([[Profile.psi]]): both vintages binned
    // on the BASELINE's decile cuts (discrete elements, engine-exact),
    // per-bin (p_b − p_a)·ln(p_b/p_a) over smoothed proportions — the
    // model-monitoring companion to dq_snapshot_diff over the same
    // synthetic vintage pair.
    Reg("drift_psi", Some {
      val cutDefs = (1 to 9).map(k =>
        s"""MIN(CASE WHEN cum >= GREATEST(1, CAST(ceil(0.$k * n) AS BIGINT))
           |  THEN x END) AS c$k""".stripMargin).mkString(",\n")
      def binExpr = (1 to 9).map(k =>
        s"(CASE WHEN v > c$k THEN 1 ELSE 0 END)").mkString(" + ")
      def p(nc: String, tot: String) = s"(($nc + 0.5) / ($tot + 5.0))"
      val (pa, pb) = (p("COALESCE(n_a, 0)", "na"), p("COALESCE(n_b, 0)", "nb"))
      s"""WITH av AS (SELECT o_totalprice AS v FROM orders),
         |bv AS (SELECT o_totalprice + 1000 AS v FROM orders
         |       WHERE o_orderkey % 10 <> 0),
         |h AS (SELECT v AS x, COUNT(*) AS c FROM av GROUP BY 1),
         |cum AS (SELECT x, c, SUM(c) OVER (ORDER BY x) AS cum,
         |          SUM(c) OVER () AS n FROM h),
         |cuts AS (SELECT
         |$cutDefs
         |FROM cum),
         |ba AS (SELECT CAST(1 + $binExpr AS BIGINT) AS bucket,
         |         COUNT(*) AS n_a FROM av, cuts GROUP BY 1),
         |bb AS (SELECT CAST(1 + $binExpr AS BIGINT) AS bucket,
         |         COUNT(*) AS n_b FROM bv, cuts GROUP BY 1),
         |t AS (SELECT (SELECT COUNT(*) FROM av) AS na,
         |        (SELECT COUNT(*) FROM bv) AS nb)
         |SELECT bucket, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         |  CAST(FLOOR(($pb - $pa) * ln($pb / $pa) * 100000.0 + 0.5)
         |    AS BIGINT) / 100000.0 AS psi
         |FROM ba FULL OUTER JOIN bb USING (bucket) CROSS JOIN t"""
        .stripMargin
    })(
      (s, dir) => {
        val a = Tables(s, dir).orders
        val b = a.where(col("o_orderkey") % 10 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        graft.ops.Profile.psi(a, b, "o_totalprice", nBins = 10)
      }),

    // J-full-outer: table DIFF / reconciliation — two snapshots full-outer
    // joined on the key, every row classified added/removed/changed/same,
    // then counted. The snapshots derive deterministically from orders
    // (drop %3 keys from old, %5 from new, perturb %7 prices) so all four
    // statuses occur. One shuffle per side + the join; the status CASE is
    // a projection.
    Reg("j_full_outer_diff", Some(
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
        |), new AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |)
        |SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |            WHEN b.o_orderkey IS NULL THEN 'removed'
        |            WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
        |            ELSE 'same' END AS status,
        |  COUNT(*) AS n
        |FROM old a FULL OUTER JOIN new b ON a.o_orderkey = b.o_orderkey
        |GROUP BY 1""".stripMargin))(
      (s, dir) => {
        val o = Tables(s, dir).orders
        val old = o.where(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").as("a_key"), col("o_totalprice").as("a_price"))
        val neu = o.where(col("o_orderkey") % 5 =!= 0)
          .select(col("o_orderkey").as("b_key"),
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
              .otherwise(col("o_totalprice")).as("b_price"))
        old.join(neu, col("a_key") === col("b_key"), "full_outer")
          .select(
            when(col("a_key").isNull, "added")
              .when(col("b_key").isNull, "removed")
              .when(col("a_price") =!= col("b_price"), "changed")
              .otherwise("same").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n"))
      }),

    // Incremental aggregate maintenance (the lambda-architecture merge):
    // partial aggregates of a BASE partition and a DELTA batch merged by
    // re-aggregating the partials — the oracle is the FULL recompute, so
    // the hash match proves merge(partials) ≡ full for the integer-cents
    // sum algebra (exactly why dsum sums cents: double partials would
    // diverge in the low bits and the maintenance would drift).
    Reg("incr_agg", Some(
      s"""SELECT o_orderpriority, ${sqlDsum("o_totalprice")} AS sum_price,
         |  COUNT(*) AS n_rows
         |FROM orders GROUP BY o_orderpriority""".stripMargin))(
      (s, dir) => {
        val o = Tables(s, dir).orders
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("o_orderpriority")
            .agg(sum(floor(col("o_totalprice") * 100 + 0.5)).as("s"),
              count(lit(1)).as("n"))
        val base = partial(o.where(col("o_orderkey") % 7 =!= 0))
        val delta = partial(o.where(col("o_orderkey") % 7 === 0))
        base.unionByName(delta)
          .groupBy("o_orderpriority")
          .agg((sum(col("s")) / lit(100.0)).as("sum_price"),
            sum(col("n")).as("n_rows"))
      }),

    // Histogram: fixed-width bins over o_totalprice, counts + bin bounds
    // in one O(bins)-group aggregation. 20 × 25000-wide bins over
    // [0, 500000); exact IEEE bin arithmetic on both engines.
    Reg("histogram_price", Some(
      """WITH b AS (
        |  SELECT CAST(LEAST(FLOOR((o_totalprice - 0.0) / 25000.0), 19)
        |              AS BIGINT) AS bin_id
        |  FROM orders WHERE o_totalprice >= 0.0 AND o_totalprice <= 500000.0
        |)
        |SELECT bin_id, COUNT(*) AS n,
        |  CAST(bin_id AS DOUBLE) * 25000.0 + 0.0 AS bin_lo,
        |  CAST(bin_id + 1 AS DOUBLE) * 25000.0 + 0.0 AS bin_hi
        |FROM b GROUP BY bin_id""".stripMargin))(
      (s, dir) => graft.ops.Profile.histogram(Tables(s, dir).orders,
        col("o_totalprice"), lo = 0.0, hi = 500000.0, bins = 20)),

    // Approx profiling — the 100 TB path: HLL sketches replace the exact
    // distinct counts (whose Expand multiplies shuffle rows by column
    // count). Driver-checkable since r11: the registered entry joins the
    // HLL profile against the exact one and replays every EXACT field
    // (rows, nonnull, distinct, min, max) through the oracle plus an
    // nd_within_bound flag pinning the sketch to ≤ 3·rsd relative error
    // per column — a violation flips the flag and fails the hash. The
    // exact profile is the verification arm; production runs bare
    // profileApprox (no exact distinct anywhere in that plan).
    Reg("profile_orders_approx", Some {
      def arm(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_val,
           |  CAST(MAX($c) AS VARCHAR) AS max_val,
           |  TRUE AS nd_within_bound FROM orders""".stripMargin
      Seq("o_orderkey", "o_orderpriority", "o_totalprice")
        .map(arm).mkString("\nUNION ALL\n")
    }, kind = "arm")(
      (s, dir) => {
        val cols = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
        val ap = graft.ops.Profile
          .profileApprox(Tables(s, dir).orders, cols)
          .select(col("col_name"), col("n_distinct").as("__nd_hll"))
        graft.ops.Profile.profile(Tables(s, dir).orders, cols)
          .join(ap, Seq("col_name"))
          .select(col("col_name"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_val"), col("max_val"),
            (abs(col("__nd_hll") - col("n_distinct")).cast("double")
              / col("n_distinct") <= lit(0.15)).as("nd_within_bound"))
      }),

    // 2-D histogram ([[graft.ops.Profile.histogram2d]]): the heatmap feed
    // over (quantity, extendedprice) — bin widths interpolated as
    // shortest-round-trip literals so both engines floor identical IEEE
    // quotients; only non-empty cells return.
    Reg("histogram_2d", Some {
      val xw = (50.0 - 1.0) / 10
      val yw = (120000.0 - 0.0) / 12
      s"""WITH b AS (
         |  SELECT CAST(LEAST(FLOOR((l_quantity - 1.0) / $xw), 9)
         |           AS BIGINT) AS x_bin,
         |         CAST(LEAST(FLOOR((l_extendedprice - 0.0) / $yw), 11)
         |           AS BIGINT) AS y_bin
         |  FROM lineitem
         |  WHERE l_quantity >= 1.0 AND l_quantity <= 50.0
         |    AND l_extendedprice >= 0.0 AND l_extendedprice <= 120000.0)
         |SELECT x_bin, y_bin, COUNT(*) AS n,
         |  CAST(x_bin AS DOUBLE) * $xw + 1.0 AS x_lo,
         |  CAST(y_bin AS DOUBLE) * $yw + 0.0 AS y_lo
         |FROM b GROUP BY 1, 2""".stripMargin
    })(
      (s, dir) => graft.ops.Profile.histogram2d(Tables(s, dir).lineitem,
        col("l_quantity"), col("l_extendedprice"),
        xLo = 1.0, xHi = 50.0, xBins = 10,
        yLo = 0.0, yHi = 120000.0, yBins = 12)),

    // F1: dictionary recode, unmapped values pass through (etl_io.py:151).
    Reg("f1_recode", Some(
      """SELECT o_orderkey,
        |  CASE o_orderpriority
        |    WHEN '1-URGENT' THEN 'urgent' WHEN '2-HIGH' THEN 'high'
        |    WHEN '3-MEDIUM' THEN 'medium' ELSE o_orderpriority
        |  END AS priority_label
        |FROM orders""".stripMargin))(
      (s, dir) => Tables(s, dir).orders.select(
        col("o_orderkey"),
        recode(col("o_orderpriority"), Map(
          "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium"))
          .as("priority_label"))),

    // F2: bulk rename (machine names -> titles, etl_io.py:153) — the
    // varnames-dict rename surfaced as a query (aliases in the oracle).
    Reg("f2_rename", Some(
      """SELECT o_orderkey AS order_key, o_orderpriority AS priority
        |FROM orders""".stripMargin))(
      (s, dir) => graft.ops.Recode.renameAll(Tables(s, dir).orders,
        Map("o_orderkey" -> "order_key", "o_orderpriority" -> "priority"))
        .select("order_key", "priority")),

    // F3: zero-pad dotted codes (etl_io.py:374-381). The constructed code's
    // front (l_returnflag) is 1 char, so lpad-to-2 applies on both sides.
    Reg("f3_zeropad", Some(
      """SELECT l_orderkey, l_linenumber,
        |  lpad(l_returnflag, 2, '0') || '.' || CAST(l_linenumber AS VARCHAR) AS code
        |FROM lineitem""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem.select(
        col("l_orderkey"), col("l_linenumber"),
        zeroPadCode(concat_ws(".", col("l_returnflag"), col("l_linenumber"))).as("code"))),

    // F4: label concat (etl_io.py:273-274) over a broadcast dim join.
    Reg("f4_label", Some(
      """SELECT n_nationkey, n_name || ', ' || r_name AS nation_label
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        t.nation.join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), label2(col("n_name"), col("r_name")).as("nation_label"))
      }),

    // R1: long→wide pivot with explicit values (etl_io.py:823-825);
    // max() is order-independent, unlike first().
    Reg("r1_pivot", Some(
      s"""SELECT user_id,
         |${eventTypes.map(t => s"  max(CASE WHEN event_type = '$t' THEN value END) AS $t").mkString(",\n")}
         |FROM events GROUP BY user_id""".stripMargin))(
      (s, dir) => pivotWide(Tables(s, dir).events,
        Seq("user_id"), "event_type", eventTypes, "value")),

    // R1 variant: occurrence counts per cell, absent = 0.
    Reg("r1_pivot_count", Some(
      s"""SELECT user_id,
         |${eventTypes.map(t => s"  count(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n")}
         |FROM events GROUP BY user_id""".stripMargin))(
      (s, dir) => pivotCount(Tables(s, dir).events,
        Seq("user_id"), "event_type", eventTypes)),

    // R2: one-hot membership pivot, absent = false (etl_io.py:870-871).
    Reg("r2_onehot", Some(
      s"""SELECT user_id,
         |${eventTypes.map(t => s"  count(CASE WHEN event_type = '$t' THEN 1 END) > 0 AS $t").mkString(",\n")}
         |FROM events GROUP BY user_id""".stripMargin))(
      (s, dir) => oneHot(Tables(s, dir).events,
        Seq("user_id"), "event_type", eventTypes)),

    // R3: explode python-repr list cells (etl_io.py:924-934). The list cell
    // is constructed from dim attributes; the oracle replays the expansion
    // as a UNION ALL.
    Reg("r3_explode", Some(
      """SELECT n_nationkey, n_name AS code FROM nation
        |UNION ALL
        |SELECT n_nationkey, r_name AS code
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        val withList = t.nation
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"),
            concat(lit("['"), col("n_name"), lit("', '"), col("r_name"), lit("']"))
              .as("code"))
        explodePyList(withList, "code")
      })
  )
}
