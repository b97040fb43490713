package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources

/** An op's materialised result. */
final case class Out(label: String, value: Any)

/** A workload: set-up runs in the constructor (inputs generated into
  * `dir`, standing layouts staged); `run` is one op (the library calls
  * plus materialising their result) and `check` verifies its output. */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long,
                        val cpus: Int) {
  def unit: String
  /** The window ends on a multiple of this many ops, so every run
    * measures the same mix. */
  def roundOps: Int = 1
  def inputs: Map[String, Any]
  def run(k: Int, t: Tracer): Out
  def check(k: Int, o: Out): Option[String]
  /** Work the op completed, in `unit`s (asked after its check). */
  def units(o: Out): Long
  /** Oracle cases run.py replays in DuckDB after the run. */
  def oracleCases: Seq[Map[String, Any]] = Nil
  /** Extra per-layer counts computed once after the traced window. */
  def traceExtras(): Map[String, Any] = Map.empty

  /** Per-op generator: op k's inputs depend on (seed, k) only. */
  protected def rng(k: Int) = new java.util.SplittableRandom(seed * 1000003L + k)
  protected def table(t: Tracer, name: String, d: String = dir): DataFrame =
    t.call("io.sources", s"table:$name")(Sources.table(spark, d, name))
  /** Fails the check with `msg` unless `ok`. */
  protected def expect(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)
  protected def firstError(checks: (() => Option[String])*): Option[String] =
    checks.iterator.map(_()).collectFirst { case Some(e) => e }
}

object Workload {
  val names = Seq("etl_api", "llm_release", "graph_iter")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long, cpus: Int,
            t: Tracer): Workload = name match {
    case "etl_api" => new EtlApi(spark, dir, seed, cpus, t)
    case "llm_release" => new LlmRelease(spark, dir, seed, cpus, t)
    case "graph_iter" => new GraphIter(spark, dir, seed, cpus, t)
  }

  /** Order-independent canonical form of a result, for equality checks. */
  def canon(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(canonValue).mkString("|")).sorted

  def canonValue(v: Any): String = v match {
    case null => "<null>"
    case n: java.lang.Number => new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
    case x => x.toString
  }
}
