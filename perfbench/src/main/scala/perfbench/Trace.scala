package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One call into a library layer, or one materialisation, as the driver
  * thread saw it. Times are epoch nanoseconds; `parent` is -1 at top level. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startNs: Long, var endNs: Long = 0L, var failed: Boolean = false)

/** Spans around the benchmark's calls into each layer, plus a
  * [[SparkListener]] whose jobs are keyed by the job group each span sets
  * (`op<k>/<spanId>`). Everything stays in memory and is written out at
  * the end. Between [[start]] and [[stop]] it records; otherwise `call`
  * runs the body bare: no span, no job group, no listener attached. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffsetNs
  val listener = new Listener
  private var enabled = false
  var op: Int = -1

  def start(): Unit = { enabled = true; listener.resetPinned(); sc.addSparkListener(listener) }

  /** Stops recording once every event of the recorded jobs has arrived. */
  def stop(): Unit = if (enabled) {
    enabled = false
    org.apache.spark.BusDrain.drain(sc)
    sc.removeSparkListener(listener)
    sc.clearJobGroup()
  }

  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, layer, name, now())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"op$op/${s.id}", name, interruptOnCancel = false)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.endNs = now()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"op$op/${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Running the action that computes a call's result. */
  def materialise[T](body: => T): T = call("spark", "materialise")(body)

  def spanList: Seq[Span] = spans.toSeq
}

/** Per-job, per-stage and task-summed engine counters, plus the peak
  * storage memory held by persisted and checkpointed RDD blocks. */
final class Listener extends SparkListener {
  final class StageAgg {
    var submitMs = 0L; var doneMs = 0L; var tasks = 0; var failedTasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var busyMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var input = 0L; var output = 0L; var spill = 0L
  }
  final case class Job(id: Int, group: String, stages: Seq[Int])

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var pinned = 0L
  var pinnedPeak = 0L

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  /** Pinned bytes are counted from zero at each start: blocks released
    * while the listener was detached would otherwise never be subtracted. */
  def resetPinned(): Unit = synchronized { blocks.clear(); pinned = 0L }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(e.jobId, g.getOrElse(""), e.stageIds)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    s.busyMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        pinned += size - blocks.getOrElse(b, 0L)
        if (size == 0L) blocks.remove(b) else blocks(b) = size
        pinnedPeak = math.max(pinnedPeak, pinned)
      case _ =>
    }
  }
}
