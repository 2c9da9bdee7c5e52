package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative operators (dupClusters,
  * kmeansCentroids, pcaPower, bpeLearn, copurchaseRank).
  *
  * Default is `localCheckpoint`: blocks live on executor local storage,
  * which is exactly right in local[32] and cheap on a cluster — but a
  * lost executor mid-superstep loses its blocks and kills the job,
  * because a truncated plan has no lineage to recompute from. On a real
  * cluster, set `spark.graft.checkpointDir` to a durable path (HDFS/S3)
  * and every truncation routes through reliable `checkpoint()` instead:
  * blocks are written to the shared filesystem and survive executor
  * loss. One knob, no per-operator plumbing.
  *
  * Two costs of the reliable path, and how they're handled:
  *
  *  - '''Double compute''': Spark writes reliable checkpoint files by
  *    re-running the RDD's job AFTER the action that first computed it
  *    (`ReliableRDDCheckpointData.doCheckpoint`), so an unpersisted plan
  *    pays ~2× per superstep — bpeLearn runs one truncation per merge
  *    step. `truncate` therefore persists before checkpointing (the
  *    file-write pass reads the cached blocks) and unpersists once the
  *    eager materialization is done; the deferred (`eager=false`) path
  *    routes the persist through [[Caches.track]] so the caller's scope
  *    releases it after the superstep's action.
  *
  *  - '''Disk growth''': per-superstep checkpoint dirs accumulate on the
  *    durable store forever by default
  *    (`spark.cleaner.referenceTracking.cleanCheckpoints` is false).
  *    Every in-repo session builder that can exercise this path
  *    (`SparkEntry.sweepSession`, which Bench, Verify and ScaleSmoke
  *    build on, and the test harness) therefore sets it to `true` —
  *    the context cleaner then deletes a superstep's files when its RDD
  *    is garbage-collected (the flag is read once at context creation,
  *    so it cannot be flipped here at runtime; CheckpointsSpec asserts
  *    the deletion actually happens). A deployment that builds its own
  *    session must set it too, or budget supersteps × working-set bytes
  *    of durable storage per iterative job.
  */
object Checkpoints {

  /** Conf key: when set (non-empty), iterative operators use reliable
    * `checkpoint()` against this directory instead of
    * `localCheckpoint()`. */
  val ConfKey = "spark.graft.checkpointDir"

  /** Truncate `df`'s lineage. `eager=false` defers materialization to
    * the first action (the bpeLearn superstep pattern, where the next
    * bounded collect is the action). */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val session = df.sparkSession
    session.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = session.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call — set it
        // once per context, not per superstep
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        if (eager) {
          // persist first: the checkpoint-file write re-runs the job and
          // would otherwise recompute the whole superstep plan
          df.persist()
          try df.checkpoint(eager = true)
          finally df.unpersist(blocking = false)
        } else {
          // deferred: materialization (and the file-write re-read) waits
          // for the caller's first action, so release must too — the
          // caller's cache scope owns it
          Caches.track(df).checkpoint(eager = false)
        }
      case None =>
        df.localCheckpoint(eager)
    }
  }
}
