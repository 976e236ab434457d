package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Best-effort JVM-exit cleanup of the loops' checkpoint directory (the
  * files must outlive the returned DataFrames' lazy execution, so the
  * earliest safe deletion point is shutdown). */
private[operators] object CheckpointJanitor {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Configuration)]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread("graft-ckpt-janitor") {
      override def run(): Unit = {
        registered.forEach { case (dir, conf) =>
          try {
            val p = new Path(dir)
            p.getFileSystem(conf).delete(p, true)
          } catch { case _: Throwable => () } // best-effort at exit
        }
      }
    })
  }
  def deleteAtExit(dir: String, conf: Configuration): Unit = {
    hook
    registered.add((dir, conf))
  }
}

/** Context and session state for the iterative driver loops (connected
  * components, graph_mst_boruvka, graph_kcore): where their reliable
  * checkpoints go, and how wide each round's shuffles are. */
private[operators] object Loops {

  /** Give the SparkContext a reliable-checkpoint directory unless it
    * already has one. Call before a loop's first `checkpoint()`.
    *
    * With none configured, the first call sets
    * `<warehouse>/_graft_checkpoints` (Spark adds its own uuid subdir)
    * and registers that subdir with the janitor; it stays the
    * context's dir from then on, shared by every loop and session. A
    * dir the caller configured is used as it is and never deleted.
    * Reliable checkpoints, never `localCheckpoint`: on a cluster an
    * executor loss replays from the checkpoint FILE, where executor-
    * local blocks would kill the job with unrecomputable truncated
    * lineage (the round-2→3 CC lesson). Checkpoint files otherwise
    * accumulate for the context, as Spark's own do with
    * spark.cleaner.referenceTracking.cleanCheckpoints unset. */
  def ensureCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    // the dir is context-global: only the first set is serialized
    if (sc.getCheckpointDir.isEmpty) synchronized {
      if (sc.getCheckpointDir.isEmpty) {
        sc.setCheckpointDir(
          spark.conf.get("spark.sql.warehouse.dir") + "/_graft_checkpoints")
        sc.getCheckpointDir.foreach(
          CheckpointJanitor.deleteAtExit(_, sc.hadoopConfiguration))
      }
    }
  }

  /** Row budget per shuffle task for the iterative loops' per-round
    * exchanges (edge rows are two longs, so ~1M rows ≈ tens of MB —
    * guide §2.2's 100 MB-1 GB band with headroom for the join/distinct
    * multiplication inside a round). */
  val LoopRowsPerTask = 1L << 20

  /** Shuffle width for one iteration of a driver loop, derived from the
    * round's OWN row count instead of the session constant (guide §2.5:
    * partitions track data, not the core count). The r19 c8-vs-c32 A/B
    * pinned the mechanism: CC-class rounds shuffle kilobytes, and at
    * `local[32]` every round paid ~30 scheduling-floor tasks per job
    * (dedup_semantic_prune 7.9 s at 32 cores vs 5.2 s at 8 on an idle
    * host; 2999 vs 983 tasks for the same 111 jobs). Width shrinks to
    * match the data and is CAPPED at the session's configured width, so
    * a cluster-sized session still fans out fully once rows/task reaches
    * the budget — never a hard-coded constant in either direction. */
  def loopShuffleWidth(spark: SparkSession, rows: Long): Int = {
    val sessWidth = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val byRows = (rows + LoopRowsPerTask - 1) / LoopRowsPerTask
    math.max(1L, math.min(sessWidth.toLong, byRows)).toInt
  }

  /** Runs `f` with spark.sql.shuffle.partitions pinned to
    * loopShuffleWidth(rows), restoring the caller's setting afterwards.
    * Only safe around EAGER work (the iterative loops' per-round jobs):
    * a lazily-consumed DataFrame built inside would plan under the
    * restored width. */
  def withLoopShuffleWidth[T](spark: SparkSession, rows: Long)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopShuffleWidth(spark, rows))
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
