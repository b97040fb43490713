package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.harnessSession()
    new java.io.File(outDir).mkdirs()
    // corpus signature: the artifact must say WHICH corpus it verified
    // (round 6 closed green against data regenerated after the last test)
    graft.io.Stage.corpus(sfDir)
    // dev loop: SPARK_GRAFT_ONLY="a,b" dumps (and lists oracles for) just
    // those queries, so tools/compare.py checks a focused subset fast
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      // repartition(1), not coalesce(1): coalesce would fuse into the final
      // stage and run each query's post-shuffle work single-threaded.
      // Ckpt.releasing: drop the query's checkpoint blocks once its dump
      // is written — a 300-query sweep must not accrete them (sf10 OOM)
      try Ckpt.releasing {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        // a FAILED query must not leave a stale dump from an earlier run —
        // the compare would silently pass old data; missing file = visible
        // failure
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // query kinds (headline / arm / sketch) beside the oracles: entries
    // with kind = "sketch" are HLL/KLL sketches — rows-only BY NATURE (no
    // cross-engine hash can exist for a randomized summary), each gated by
    // a ScalaTest property instead; "arm" marks deliberately-worse exact
    // oracle arms whose bench cost is not engine throughput (SCALE.md).
    val kindsJson = SparkEntry.kinds
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/kinds.json"), kindsJson)
    // Manifest: the round-12 lesson — the driver's correctness artifact
    // shipped EMPTY and nothing noticed. The manifest records how many
    // queries the registry holds vs how many this run dumped, so any
    // downstream compare (tools/compare.py, the close gate) can fail
    // loudly when it compared fewer queries than the registry size
    // instead of silently reporting n/n over a truncated set.
    // oracle_total is the gate denominator for the compare: the compare
    // report holds one entry per ORACLE-BEARING query, so a registry
    // entry without oracle SQL (allowed by the contract — "omit for
    // non-SQL-expressible ops") must not count against it.
    val manifest =
      s"""{"registry_total": ${SparkEntry.queries.size},
         | "oracle_total": ${SparkEntry.oracleSql.size},
         | "selected": ${selected.size},
         | "dumped": ${selected.size - failed.size},
         | "failed": [${failed.map(q).mkString(",")}],
         | "subset": ${only.isDefined}}""".stripMargin.replace("\n", "")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries FAILED to dump: ${failed.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
