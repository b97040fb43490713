package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE lineage-truncation point — every operator that needs to cut a
  * long or re-derived lineage (iterative graph rounds, dedup pair lists,
  * pipeline stage hand-offs) routes through here instead of calling
  * `localCheckpoint()` inline.
  *
  * Why one switchboard: `localCheckpoint()` is the right call in
  * local[32] and on healthy clusters — no checkpoint-dir round trip, no
  * HDFS write — but it stores the truncated lineage's blocks on the
  * executors that computed them, so on a REAL cluster a lost executor
  * kills the job instead of recomputing (the blocks are the only copy
  * and the lineage is gone). At 100 TB with 1000 executors, executor
  * loss is routine, not exceptional; a multi-hour dedup pipeline must
  * survive it. Reliable `checkpoint()` writes the blocks to the
  * checkpoint dir (HDFS/object store), trading one write per truncation
  * for fault tolerance.
  *
  * The trade is a DEPLOYMENT decision, not an operator decision, so it
  * lives in config, not code:
  *
  *   - `graft.checkpoint.reliable` (default `false`): `true` routes
  *     every truncation through reliable `checkpoint()`.
  *   - `graft.checkpoint.dir` (required on a cluster): set as the
  *     SparkContext checkpoint dir on first reliable use if none is set
  *     yet — cluster jobs point it at a job-scoped HDFS/S3 path. A
  *     driver-local temp dir is only a valid fallback under a local[*]
  *     master (one JVM, one disk); on a multi-executor master each
  *     executor would write its blocks to its OWN local disk and later
  *     reads would miss, so reliable mode REFUSES to fall back there.
  *
  * Long iterative pipelines should also set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so reliable
  * checkpoint files are deleted when their RDDs are GC'd — otherwise
  * every truncation leaves its files in the checkpoint dir for the
  * lifetime of the job.
  *
  * Both checkpoints here are EAGER (the default): callers rely on the
  * materialization barrier — e.g. a self-join derivation must run once,
  * not once per consumer. Semantics, hashes, and plans downstream are
  * identical in both modes; only the block-storage location differs. */
object Ckpt {

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption("graft.checkpoint.reliable")
      .exists(_.trim.equalsIgnoreCase("true"))
    val out = if (reliable) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          spark.conf.getOption("graft.checkpoint.dir").getOrElse {
            // a driver-local temp dir is only shared storage when driver
            // and executors are the same JVM — refuse the silent
            // lost-blocks trap on a real cluster
            require(spark.sparkContext.master.startsWith("local"),
              "graft.checkpoint.reliable=true on a non-local master " +
                "requires graft.checkpoint.dir (or a pre-set " +
                "SparkContext checkpoint dir) on shared storage")
            java.nio.file.Files.createTempDirectory("graft_ckpt").toString
          })
      df.checkpoint()
    } else df.localCheckpoint()
    track(out)
    out
  }

  // ---- scoped block release --------------------------------------------
  // The sf10 lesson (round 11): N heavy queries in one JVM accrete
  // localCheckpoint blocks — each truncation pins its materialized frame
  // in executor storage for the JVM's lifetime (checkpointed RDDs are
  // only dropped by GC + ContextCleaner, which lags far behind a
  // back-to-back sweep) — until an unrelated SortMergeJoin OOMs. The
  // fleet workaround was family-sized JVMs; the ENGINE fix is scoped
  // release: the harness wraps each query's run-and-materialize in
  // [[releasing]], and every truncation performed inside the scope is
  // unpersisted when the scope closes. Safe by the scope contract: the
  // caller has fully materialized (written/collected) anything it keeps,
  // so the pinned blocks have no remaining consumer.
  //
  // THREAD MODEL: the scope stack is process-global, not thread-scoped —
  // a truncation on ANY thread is attributed to the innermost open
  // scope. This is by design for the one legitimate cross-thread case
  // (a foreachBatch microbatch thread truncating while the harness
  // thread holds the query's scope open around awaitTermination); the
  // contract is that callers do NOT run unrelated queries on other
  // threads while a scope is open. Scopes are removed by IDENTITY
  // (`eq`), never by structural equality — two empty ArrayBuffers
  // compare `==`-equal, and a structural remove could pop another
  // scope's buffer and unpersist localCheckpoint blocks that are the
  // only copy of in-flight data.

  private val scopes =
    new java.util.ArrayDeque[scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[_]]]()

  private def removeScope(
      buf: scala.collection.mutable.ArrayBuffer[
        org.apache.spark.rdd.RDD[_]]): Unit = scopes.synchronized {
    val it = scopes.iterator()
    var found = false
    while (!found && it.hasNext)
      if (it.next() eq buf) { it.remove(); found = true }
  }

  private def track(out: DataFrame): Unit = scopes.synchronized {
    if (!scopes.isEmpty) {
      val rdds = out.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      scopes.peek() ++= rdds
    }
  }

  /** Run `body`; after it returns (or throws), unpersist every block a
    * [[apply]]/`.ckpt()` truncation inside the scope pinned. Call sites:
    * one scope per query in Verify/Bench, wrapped AROUND the result's
    * materialization. Scopes nest — an inner scope releases only its own
    * truncations. No-op for code running outside any scope (library use
    * keeps today's lifetime). */
  def releasing[T](body: => T): T = releasingTracked(body)._1

  /** Test/diagnostic form of [[releasing]]: also returns the scope's own
    * tracked RDDs (already unpersisted by the time this returns). Tests
    * assert on THESE — e.g. each tracked RDD's `getStorageLevel` is NONE
    * after the scope — never on a global `getPersistentRDDs.size` delta,
    * which races the async ContextCleaner dropping *unrelated* RDDs. */
  private[graft] def releasingTracked[T](
      body: => T): (T, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    scopes.synchronized(scopes.push(buf))
    val result =
      try body
      finally {
        removeScope(buf)
        buf.foreach(r =>
          try r.unpersist(blocking = false)
          catch { case _: Exception => () })
      }
    (result, buf.toSeq)
  }

  /** Release a checkpointed frame's blocks NOW, before its scope closes —
    * for iterative loops where each interval's checkpoint supersedes the
    * previous one: once the new checkpoint is MATERIALIZED (ckpt is
    * eager) and any cross-checkpoint read (convergence delta, frontier
    * count) has run, the predecessor's blocks have no remaining consumer,
    * and dropping them keeps peak pinned state at O(1) checkpoints
    * instead of O(iters/interval) — the graph_ppr 32 GiB margin. The
    * caller must pass a frame whose plan root IS the checkpoint
    * (ckpt()'s result or a pure projection of it), never a frame that
    * joins OTHER live checkpointed inputs — drop unpersists every
    * LogicalRDD in the plan. Safe to call on never-persisted frames
    * (no-op) and idempotent with the scope-close release. */
  def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(r =>
      try r.unpersist(blocking = false)
      catch { case _: Exception => () })

  /** `.ckpt()` postfix form so call sites keep reading as a chain:
    * `pairs.distinct().ckpt()`. */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckpt(): DataFrame = Ckpt(df)
  }

  /** Conf-gated frontier telemetry for the delta-iteration loops (LPA's
    * changed set, CC's live edge set): `graft.graph.logFrontier=true` on
    * the loop's own session prints one `graft.frontier` line per round so
    * a bench run can show the per-round shrink that justifies the
    * active-frontier design. `size` is by name: a count job runs only
    * when the flag is on; off — the default — it costs one conf lookup
    * and no plan change. */
  def frontier(spark: SparkSession, name: String, round: Int,
               size: => Long): Unit =
    if (spark.conf.getOption("graft.graph.logFrontier")
        .exists(_.trim.equalsIgnoreCase("true")))
      // scalastyle:off println
      println(s"graft.frontier op=$name round=$round size=$size")
      // scalastyle:on println
}
