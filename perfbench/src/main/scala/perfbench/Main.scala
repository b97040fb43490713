package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A measured op: `k` indexes the seeded op sequence. */
final case class OpRec(k: Int, label: String, traced: Boolean, startNs: Long, latencyS: Double,
                       units: Long, error: Option[String])

/** One closed-loop client on the driver thread. Usage:
  *   perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *                  --cpus N --work DIR --out FILE
  * Writes the raw run record (setup times, per-op latencies, check
  * outcomes, spans and listener counts) to FILE as JSON; `run.py` turns
  * it into metrics. */
object Main {
  /** Set-ups per run. Repetition 1 is timed from JVM start and only
    * reported beside the metric: JVM start, class loading and JIT warm-up
    * make it swing with the host's load. `setup_s` is the median of the
    * later ones; each costs 3-8 s of every run, and the run budget of the
    * three workloads leaves room for one. */
  val setupReps = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = opt("work")
    if (wlName == "cds-training") return cdsTraining(seed, cpus, work)
    require(Workload.names.contains(wlName), s"unknown workload $wlName")

    // set-up, several times: session start, inputs generated, layouts
    // staged. The first repetition is timed from JVM start. Monotonic
    // clocks only: a wall-clock step must not read as set-up time.
    var spark: SparkSession = null
    var wl: Workload = null
    var tracer: Tracer = null
    val setupS = (1 to setupReps).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      tracer = new Tracer(spark.sparkContext)
      if (trace && r == setupReps) tracer.start()
      deleteTree(s"$work/in${r - 1}")
      wl = Workload(wlName, spark, s"$work/in$r", seed, cpus, tracer)
      tracer.stop()
      if (r == 1) ManagementFactory.getRuntimeMXBean.getUptime / 1e3 else (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up ${setupS.mkString(" ")} s")
    val setupSpans = tracer.spanList
    tracer.listener.pinnedPeak = 0L

    val w = window(wl, tracer, trace, seconds)
    log(s"window: ${w.ops.size} ops")
    val extras = if (trace) wl.traceExtras() else Map.empty[String, Any]

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> wlName, "seed" -> seed, "cpus" -> cpus, "unit" -> wl.unit,
      "inputs" -> wl.inputs, "input_dir" -> wl.dir, "setup_s" -> setupS,
      "window" -> w.json, "oracle" -> wl.oracleCases)
    if (trace) out ++= Map(
      "setup_spans" -> setupSpans.map(Json.span),
      "spans" -> tracer.spanList.drop(setupSpans.size).map(Json.span),
      "jobs" -> tracer.listener.jobs.map(j => Map("id" -> j.id, "group" -> j.group, "stages" -> j.stages)),
      "stages" -> tracer.listener.stages.toSeq.sortBy(_._1).map { case (id, s) => Map(
        "id" -> id, "submit_ms" -> s.submitMs, "done_ms" -> s.doneMs, "tasks" -> s.tasks,
        "failed_tasks" -> s.failedTasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "busy_ms" -> s.busyMs, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite, "input" -> s.input, "output" -> s.output,
        "spill" -> s.spill) },
      "pinned_peak_bytes" -> tracer.listener.pinnedPeak,
      "extras" -> extras)
    Files.writeString(Paths.get(opt("out")), Json(out))
    log("record written")
    spark.stop()
  }

  /** The build's class-data-sharing training run: one set-up and one
    * checked op of every workload, so the JVM loads the classes a
    * measured run does. Nothing is timed or written; a failing op or
    * check is left to the measured runs to count. */
  private def cdsTraining(seed: Long, cpus: Int, work: String): Unit =
    Workload.names.foreach { name =>
      val spark = session(cpus, work)
      val t = new Tracer(spark.sparkContext)
      val wl = Workload(name, spark, s"$work/$name", seed, cpus, t)
      try wl.check(0, wl.run(0, t)) catch { case NonFatal(_) => None }
      spark.stop()
    }

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()

  final case class Window(ops: Seq[OpRec], peakRssMb: Double) {
    def json: Map[String, Any] = Map("peak_rss_mb" -> peakRssMb,
      "ops" -> ops.map(o => Map("k" -> o.k, "label" -> o.label, "traced" -> o.traced,
        "start_ns" -> o.startNs, "latency_s" -> o.latencyS, "units" -> o.units,
        "error" -> o.error.orNull)))
  }

  /** Runs, times and checks one op; tracer start/stop and the check are
    * outside the latency. `startNs` is on the tracer's span clock. */
  def runOp(wl: Workload, t: Tracer, k: Int, traced: Boolean): OpRec = {
    if (traced) t.start()
    t.op = k
    val start = t.now()
    val t0 = System.nanoTime()
    val res = try Right(wl.run(k, t)) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    t.stop()
    res match {
      case Left(e) => OpRec(k, "error", traced, start, dt, 0L, Some(s"$e".take(300)))
      case Right(o) =>
        val err = try wl.check(k, o) catch { case NonFatal(e) => Some(s"check: $e".take(300)) }
        OpRec(k, o.label, traced, start, dt, wl.units(o), err)
    }
  }

  /** Closed loop for at least `seconds` of wall time and one or more whole
    * rounds, sampling resident memory. When tracing, rounds come in threes
    * (untraced, traced, untraced), so the overhead is measured against
    * untraced runs of the same ops on both sides of the traced ones. */
  def window(wl: Workload, tracer: Tracer, trace: Boolean, seconds: Double): Window = {
    val r = wl.roundOps
    val cycle = if (trace) 3 * r else r
    val ops = mutable.ArrayBuffer.empty[OpRec]
    @volatile var peak = 0L
    @volatile var on = true
    val sampler = new Thread(() => while (on) { peak = math.max(peak, rssKb()); Thread.sleep(20) })
    sampler.setDaemon(true)
    val t0 = System.nanoTime()
    sampler.start()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds || ops.size % cycle != 0) {
      val i = ops.size
      ops += runOp(wl, tracer, i, traced = trace && i / r % 3 == 1)
    }
    on = false
    sampler.join()
    Window(ops.toSeq, peak / 1024.0)
  }

  private def rssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }
  def span(s: Span): Map[String, Any] = Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
    "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "failed" -> s.failed)
}
