package graft
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A failing query is reported
  * in an "errors" object — never silently timed as if it succeeded.
  *
  * Two passes:
  *   1. COVERAGE: every registered query back-to-back, 2 runs each, best.
  *      Cheap queries get believable numbers here; expensive ones can read
  *      several times their true cost because a 140+-query run in one JVM
  *      accumulates GC pressure, shuffle-dir churn, and JIT deopt (round 5:
  *      dq_report benched 8.99 s vs 1.02 s isolated — 9x phantom).
  *   2. QUIET RE-TIME: the K slowest queries from pass 1 re-run one at a
  *      time, each in a fresh child JVM. A retimed query PUBLISHES its
  *      child value (method-stable — never min-of-passes, which mixes
  *      methods across rounds and manufactures phantom regressions), so
  *      BENCH_r* is a usable regression signal for exactly the queries
  *      where pass 1 lies. A query whose child yields no usable result
  *      publishes its coverage value, tagged "coverage".
  * The JSON carries "retimed" (quiet-pass values), "coverage_pass" (the
  * raw pass-1 values for the same set — the delta is measured contention
  * inflation), and "method" (per-query pass tag) so cross-round diffs
  * compare like with like.
  */
/** JSON formatting for the bench line, factored out for the locale spec:
  * the one line the driver parses must be byte-identical under any default
  * locale (a comma-decimal locale turns an f-interpolated %.3f into
  * `0,123` — invalid JSON). */
object BenchFormat {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def sec(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
}

object Bench {
  /** Runs `cmd` with `env` added to this JVM's environment, stderr
    * inherited and stdout sent to a temp file that is read only once the
    * child has exited, so a hung child is killed after `timeout` instead of
    * hanging the caller. Right(stdout lines) on exit code 0, Left(reason)
    * otherwise. */
  private[graft] def runChild(cmd: Seq[String], env: Map[String, String],
                              timeout: FiniteDuration): Either[String, Seq[String]] =
    try {
      val out = Files.createTempFile("graft_child", ".out")
      try {
        val pb = new ProcessBuilder(cmd: _*)
          .redirectError(ProcessBuilder.Redirect.INHERIT)
          .redirectOutput(out.toFile)
        env.foreach { case (k, v) => pb.environment().put(k, v) }
        val p = pb.start()
        if (!p.waitFor(timeout.toMillis, TimeUnit.MILLISECONDS)) {
          p.destroyForcibly().waitFor(10, TimeUnit.SECONDS)
          Left(s"timed out after $timeout")
        } else if (p.exitValue() != 0) Left(s"exit code ${p.exitValue()}")
        else Right(Files.readAllLines(out).asScala.toSeq)
      } finally Files.deleteIfExists(out)
    } catch { case NonFatal(e) => Left(s"spawn failed: ${e.getMessage}") }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.harnessSession()

    // corpus signature up front: BENCH artifacts must say WHICH corpus they
    // measured (round 6 closed against data the driver regenerated later —
    // the regeneration was invisible in every artifact)
    val corpus = graft.io.Stage.corpus(sfDir)

    import BenchFormat.{esc, sec}

    // dev loop: SPARK_GRAFT_ONLY="q1,q2" times just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             dir: String = sfDir): Double = {
      val t0 = System.nanoTime()
      // noop sink, NOT count(): count() lets Catalyst prune every output
      // column, so a query whose cost lives in its final projections
      // (string building, regex, HOF transforms) would time as a bare scan.
      // The noop sink consumes all columns — the same work Verify's parquet
      // dump pays — without write I/O.
      // Ckpt.releasing: each timed run releases its own checkpoint blocks
      // at scope close — a full-registry sweep in ONE JVM must not
      // accrete them (the sf10 OOM lesson); the release cost is inside
      // the timed window, as it would be in any real job.
      Ckpt.releasing {
        fn(spark, dir).write.mode("overwrite").format("noop").save()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_RUNS=1 for single-pass scale sweeps (sf1/sf10), where a
    // second coverage run doubles hours of wall time for best-of noise
    // reduction that the exponent comparison does not need
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2)
    val results: Seq[(String, Either[String, Seq[Double]])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        try {
          val base = (1 to runs).map(_ => once(fn))
          // contention armor: when the two runs disagree >2x, something
          // external (GC, a concurrent process) likely polluted the window —
          // take a third run so the min is a believable operator time
          val times = if (base.max > 2 * base.min) base :+ once(fn) else base
          name -> Right(times)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            name -> Left(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }

    val ok = results.collect { case (n, Right(ts)) => n -> ts.min }
    val bad = results.collect { case (n, Left(m)) => n -> m }

    // CHILD mode (round-15 measurement fix, see retimeOne below): when
    // spawned by a parent bench as the isolated re-timer for one query,
    // report the coverage-pass minima on stdout in a trivial line format
    // and exit — no retime recursion, no artifact writes (a child must
    // never clobber the parent's bench/full_latest.json), no 1-row
    // replay. The child's stdout goes to a temp file the parent reads,
    // never to the parent's stdout, so the one-JSON-line contract holds.
    if (sys.env.get("SPARK_GRAFT_CHILD").contains("1")) {
      ok.foreach { case (n, t) =>
        // scalastyle:off println
        println(s"GRAFT_CHILD_RESULT $n ${sec(t)}")
        // scalastyle:on println
      }
      bad.foreach { case (n, m) =>
        System.err.println(s"[bench-child] $n FAILED: $m") }
      spark.stop()
      sys.exit(if (bad.nonEmpty) 1 else 0)
    }

    // ---- pass 2: quiet re-time of the K slowest --------------------------
    // K defaults to 20 so every number PUBLISHED on stdout (the top-20 map
    // below) is a quiet-pass value — the driver-box artifact then matches a
    // builder's isolated run within contention noise instead of lying by up
    // to 9x for fast queries (round-7 verdict item 4).
    val retimeK = sys.env.get("SPARK_GRAFT_RETIME").map(_.toInt).getOrElse(20)
    val byName = SparkEntry.queries
    val coverage = ok.toMap
    // Each retime forks a fresh child JVM (same classpath, module options,
    // heap and env, hence the same master, shuffle partitions and conf
    // overrides) that times just that query with the coverage method. A
    // fresh JVM because end-of-sweep C2 profile pollution from 600+ prior
    // query runs left in-process retimes a durable 1.3-2.2x above an
    // isolated run, and no in-process hygiene could undo it
    // (OPTIMIZATION_r15.md).
    val childCmd = {
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
        .defaultModuleOptions().split("\\s+").filter(_.nonEmpty).toSeq
      val heap = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.collect { case s: String
          if s.startsWith("-Xmx") || s.startsWith("-Xms") => s }.toSeq
      Seq(javaBin) ++ moduleOpts ++ heap ++ Seq(
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"), "graft.Bench")
    }
    def childRetime(name: String): Option[Double] = {
      val tag = s"GRAFT_CHILD_RESULT $name "
      val t0 = System.nanoTime()
      val got = runChild(childCmd,
          Map("SPARK_GRAFT_CHILD" -> "1", "SPARK_GRAFT_ONLY" -> name), 15.minutes)
        .flatMap { out =>
          out.collectFirst { case l if l.startsWith(tag) => l.substring(tag.length) }
            .flatMap(_.toDoubleOption).toRight(s"no result in ${out.size} lines")
        }
      val wall = (System.nanoTime() - t0) / 1e9
      got match {
        case Left(why) =>
          System.err.println(s"[bench] child retime $name unusable ($why) " +
            "— publishing its coverage value")
          None
        case Right(t) =>
          System.err.println(
            f"[bench] child retime $name: $t%.3f s (child wall $wall%.1f s)")
          Some(t)
      }
    }
    // noise armor: a single child JVM's best-of-RUNS can still catch an
    // external hiccup. When the child reads far above the query's own
    // coverage value, take ONE more child and keep the min — still a pure
    // fresh-JVM value. (Queries whose honest isolated cost IS above
    // coverage — e.g. dedup_ensemble, where the busy-sweep coverage pass
    // flatters — just pay one redundant child.)
    def retimeOne(name: String): Option[Double] =
      childRetime(name).map { t =>
        if (coverage.get(name).exists(c => t > 1.25 * c))
          childRetime(name).fold(t)(math.min(t, _))
        else t
      }
    // Retime to a FIXPOINT of the published set, not one pre-ranked batch:
    // candidates picked by coverage-pass rank alone can retime DOWN far
    // enough that coverage-rank-21+ queries slide into the published top-20
    // still carrying contention-inflated values — exactly the lie the
    // quiet pass exists to remove. Re-rank after each batch and retime any
    // newly-published name until the top-K is all attempted (each name is
    // attempted at most once, so the loop is bounded by the query count).
    val attempted = scala.collection.mutable.Set.empty[String]
    val retimedBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // METHOD-STABLE publish (round-13 verdict demand #5): a query that got
    // a quiet retime publishes the RETIME value, never min-of-passes — a
    // min silently mixes methods across rounds (one round's lucky coverage
    // pass vs the next round's retime) and manufactures phantom
    // regressions on untouched code. The pass used is tagged per query in
    // full_latest.json ("method"), so cross-round diffs compare like with
    // like.
    def currentFinal: Seq[(String, Double)] = {
      val m = retimedBuf.toMap
      ok.map { case (n, t) => n -> m.getOrElse(n, t) }
    }
    var pending = ok.sortBy(-_._2).take(retimeK).map(_._1)
      .filterNot(attempted)
    while (retimeK > 0 && pending.nonEmpty) {
      pending.foreach { name =>
        attempted += name
        retimeOne(name).foreach(t => retimedBuf += name -> t)
      }
      pending = currentFinal.sortBy(-_._2).take(retimeK).map(_._1)
        .filterNot(attempted)
    }
    val retimed: Seq[(String, Double)] = retimedBuf.toSeq
    val retimedMap = retimed.toMap

    // headline per-query number: the quiet-pass value where one exists
    // (method-stable), the coverage value otherwise
    val finalTimes = currentFinal

    // per-query fixed cost of this harness (plan + dispatch + 32-partition
    // scheduling of a trivial job) — lets a reader separate Spark's
    // small-data constant from actual operator work when comparing against
    // the single-thread pandas baseline
    val floor = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }.min

    // ---- pass 3: per-QUERY constant via 1-row-corpus replay --------------
    // floor_sec (one trivial 1-stage job) UNDERSTATES the real per-query
    // constant: a grouped/joined query pays plan analysis, codegen, AQE
    // stage materialization, and multi-job scheduling that a bare
    // spark.range(1) never touches (BASELINE.md: the sf0.1 gate residual is
    // ~0.1 s/query of exactly this). Measure it honestly, PER QUERY: replay
    // the same registered query against a 1-ROW corpus with identical
    // schemas (first row of each real table). Same plan, same code, and —
    // unlike a 0-row corpus, where AQE's empty-relation propagation skips
    // whole downstream stages — every stage, exchange, and broadcast build
    // still executes; the data work is one row, i.e. nothing. t − t_const
    // is operator work. Queries whose replay fails (driver-side steps that
    // need a populated corpus) fall back to the trivial-job floor —
    // conservative, never flattering.
    val emptyReplay: Map[String, Double] =
      if (sys.env.get("SPARK_GRAFT_EMPTY_REPLAY").contains("0")) Map.empty
      else try {
        // staged once per real-corpus version: a fresh corpus per run
        // would also restage every family a replayed query touches
        val present = graft.io.Sources.tableNames
          .filter(n => new java.io.File(s"$sfDir/$n.parquet").exists)
        val ed = graft.io.Stage.versioned("onerow", sfDir, present: _*) { p =>
          present.foreach { n =>
            spark.read.parquet(s"$sfDir/$n.parquet").limit(1)
              .write.parquet(s"$p/$n.parquet")
          }
        }
        ok.flatMap { case (name, t) =>
          try {
            // best-of-2 where the constant is a large share of t (the gate
            // set); one run where t dwarfs it — halves the pass-3 cost on
            // the heavy tail without moving any adjusted number that matters
            val n = if (t < 1.0) runs else 1
            val ts = (1 to n).map(_ => once(byName(name), ed))
            Some(name -> ts.min)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] 1-row replay $name skipped: " +
              Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
            None
          }
        }.toMap
      } catch { case e: Throwable =>
        System.err.println(s"[bench] empty-corpus staging failed: ${e.getMessage}")
        Map.empty
      }

    // Output layout vs the driver's TAIL-keeping truncation: the driver
    // keeps only a ~2,000-char tail of stdout, so a 185-entry per-query map
    // (~4.5 KB) can NEVER parse — the head of the line (including the
    // opening brace) is cut away (rounds 5-7: BENCH parsed=null). Contract:
    //   stdout — EXACTLY ONE JSON line, ≤ ~1,900 chars TOTAL: summary
    //            fields + the top-20 slowest queries only (all of which are
    //            quiet-pass retimed values, retimeK=20). 20 entries ≈ 700
    //            chars, so the whole line survives any plausible tail
    //            window intact and parses.
    //   stderr — the FULL final map + coverage-pass raws + retime
    //            corrections (diagnostics, expendable).
    //   file   — bench/full_latest.json: the complete artifact (full map,
    //            retime evidence, corpus signature), committed per round so
    //            regression attribution never depends on the tail again.
    def jmap(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
    val kinds = SparkEntry.kinds
    val topN = 20
    val top = finalTimes.sortBy(-_._2).take(topN).map { case (k, t) => k -> sec(t) }
    val fullMap = jmap(finalTimes.sortBy(-_._2).map { case (k, t) => k -> sec(t) })
    val rt = jmap(retimed.sortBy(-_._2).map { case (k, t) => k -> sec(t) })
    // coverage-pass raw values for the retimed set: the delta vs "retimed"
    // is the measured contention inflation, kept for honesty
    val raw = jmap(retimed.sortBy(-_._2).map { case (k, _) =>
      k -> sec(coverage(k)) })
    // errors stay on the stdout line (they are what the driver most needs)
    // but bounded — the bound is enforced against the ACTUAL line length
    // below, not assumed from entry counts (esc() can double quote-heavy
    // Spark messages, so "12 × 80 chars" alone can still blow the budget)
    def errsJson(maxEntries: Int, maxMsg: Int): String =
      bad.take(maxEntries).map { case (k, m) =>
        "\"" + esc(k) + "\":\"" + esc(m.take(maxMsg)) + "\"" }
        .mkString("{", ",", "}")
    val errsFull = bad.map { case (k, m) =>
      "\"" + esc(k) + "\":\"" + esc(m) + "\"" }.mkString("{", ",", "}")
    val total = finalTimes.map(_._2).sum
    // headline vs oracle-arm split: "arm" entries are deliberately-worse
    // exact siblings that exist to oracle an approximation (Reg.kind;
    // SCALE.md names each pair) — their cost is NOT engine throughput
    val armSec = finalTimes.collect {
      case (n, t) if kinds.get(n).contains("arm") => t }.sum
    val headlineSec = total - armSec
    // floor-adjusted total: per query, subtract ITS OWN measured constant
    // (empty-corpus replay of the same query; trivial-job floor as the
    // conservative fallback where the replay cannot run), clamped at 0 —
    // the remainder is operator work on actual data
    val floorAdjusted = finalTimes.map { case (n, t) =>
      math.max(0.0, t - emptyReplay.getOrElse(n, floor)) }.sum
    val floorAdjDef = "floor_adjusted = sum over ok queries of " +
      "max(0, t - t_const) where t_const re-runs the SAME query on a " +
      "1-row same-schema corpus: every stage/exchange/broadcast still " +
      "executes, data work is one row, so t_const is that query's " +
      "plan+codegen+schedule constant (trivial-job floor_sec as fallback " +
      "when the replay cannot run)"
    def summary(errs: String) =
      s""""errors":$errs,"n_ok":${ok.size},"n_err":${bad.size},""" +
      s""""n_published":${top.size},"headline_sec":${sec(headlineSec)},""" +
      s""""arm_sec":${sec(armSec)},"floor_sec":${sec(floor)},""" +
      s""""floor_adjusted":${sec(floorAdjusted)},""" +
      s""""n_empty_replayed":${emptyReplay.size},""" +
      s""""floor_adjusted_def":"${esc(floorAdjDef)}",""" +
      s""""sf":"$sfDir","corpus":"${esc(corpus)}",""" +
      s""""metric":"total","value":${sec(total)},"unit":"sec""""
    // Degrade deterministically until the line FITS the 1,900-char budget:
    // full errors → shorter/fewer errors → no per-query map (summary +
    // errors only) → error COUNT only. Every step is still one valid JSON
    // line; an oversized line would be tail-truncated by the driver into
    // garbage, which is strictly worse than any of these reductions.
    val candidates: Seq[String] = Seq(
      s"""{"queries":${jmap(top)},${summary(errsJson(12, 80))}}""",
      s"""{"queries":${jmap(top)},${summary(errsJson(8, 40))}}""",
      s"""{${summary(errsJson(8, 40))}}""",
      s"""{${summary("{}")}}""")
    val line = candidates.find(_.length <= 1900).getOrElse(candidates.last)
    val emptyJson = jmap(emptyReplay.toSeq.sortBy(-_._2).map {
      case (k, t) => k -> sec(t) })
    // per-query pass tag: "retimed" (quiet-pass value) vs "coverage" —
    // cross-round regression reads are only meaningful method-matched
    val methods = jmap(finalTimes.sortBy(-_._2).map { case (k, _) =>
      k -> ("\"" + (if (retimedMap.contains(k)) "retimed" else "coverage") + "\"") })
    val full = s"""{"queries":$fullMap,"method":$methods,"coverage_pass":$raw,"retimed":$rt,"const_replay_1row":$emptyJson,"errors_full":$errsFull,${summary("{}")}}"""
    System.err.println(s"[bench] full: $full")
    try {
      val dir = java.nio.file.Paths.get("bench")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("full_latest.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING stdout line ${line.length} chars > 1900 budget")
    println(line)
    spark.stop()
  }
}
