package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

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

/** The one round driver for the DataFrame loops whose round state lives
  * in Spark: connected components (`Dedup.connectedComponents`),
  * `graph_mst_boruvka` and `graph_kcore`. It owns their round policy —
  * where reliable checkpoints go, how each round's state is carried,
  * how wide each round's shuffles are, when round scratch is released,
  * and when a loop that must converge gives up — so a caller writes only
  * its algorithm. Lloyd k-means (`Clustering.trainKmeans`) is not a
  * caller: its round state is k×dim centroids in driver memory, with
  * nothing to checkpoint, width or release, so it stays a plain fold.
  *
  * Round state is carried through reliable `checkpoint()`, never
  * `localCheckpoint`: on a cluster an executor loss replays from the
  * checkpoint FILE, where executor-local blocks would kill the job with
  * unrecomputable truncated lineage. */
private[operators] object Loops {

  /** A round's outcome: the carried state, the row count the next
    * round's width derives from (one the round already counted), and
    * whether the loop has reached its fixpoint. */
  final case class Step(state: DataFrame, rows: Long, done: Boolean = false)

  /** One round's handle on the driver (the initial state is built in
    * a round of its own). */
  final class Round private[Loops] {
    private[Loops] val scratch = ArrayBuffer.empty[DataFrame]
    private[Loops] var carried: DataFrame = _

    /** `df` persisted for this round only: released when it ends. */
    def keep(df: DataFrame): DataFrame = { scratch += df.persist(); scratch.last }

    /** `df` materialized as carried state. A round may carry more than
      * once; the state it returns must be the last one it carried. */
    def carry(df: DataFrame): DataFrame = { carried = df.checkpoint(); carried }
  }

  /** Builds the initial state with `init`, then runs `round` until it
    * reports `done` or `maxRounds` rounds have run. Round i runs with
    * its shuffle width derived from the rows round i-1 reported; the
    * initial state, with no count before it, runs at the session's
    * width. Returns the last step and the number of rounds run. */
  def iterate(spark: SparkSession, maxRounds: Int)(init: Round => Step)
             (round: (Round, Step) => Step): (Step, Int) = {
    ensureCheckpointDir(spark)
    def run(body: Round => Step): Step = {
      val r = new Round
      val step = try body(r) finally r.scratch.foreach(_.unpersist(blocking = false))
      require(step.state eq r.carried, "a round must return the state it last carried")
      step
    }
    var cur = run(init)
    var n = 0
    while (!cur.done && n < maxRounds) {
      val prev = cur
      // the round's jobs are eager, so they plan under this width
      cur = graft.Tables.withConf(spark, "spark.sql.shuffle.partitions",
        loopShuffleWidth(spark, prev.rows).toString)(run(round(_, prev)))
      n += 1
    }
    (cur, n)
  }

  /** `iterate` for a loop that must converge: throws rather than return
    * the state of a loop still unconverged after `maxRounds` rounds. */
  def fixpoint(spark: SparkSession, what: String, maxRounds: Int)
              (init: Round => Step)(round: (Round, Step) => Step): (DataFrame, Int) = {
    val (last, n) = iterate(spark, maxRounds)(init)(round)
    if (!last.done) throw new IllegalStateException(
      s"$what did not converge within $maxRounds rounds")
    (last.state, n)
  }

  /** Row counts of `dfs`, in order, from one job: a tagged union under
    * one global aggregate (one count per DataFrame paid the per-job
    * scheduling floor once each). */
  def counts(dfs: DataFrame*): Seq[Long] = {
    val tagged = dfs.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("t")) }.reduce(_ union _)
    val cs = dfs.indices.map(i => count(when(col("t") === i, 1)))
    val row = tagged.agg(cs.head, cs.tail: _*).head()
    dfs.indices.map(row.getLong)
  }

  /** Give the SparkContext a reliable-checkpoint directory unless it
    * already has one; runs before a loop's first carry.
    *
    * With none configured, the first call sets
    * `<warehouse>/_graft_checkpoints` (Spark adds its own uuid subdir)
    * and registers that subdir with the janitor; it stays the
    * context's dir from then on, shared by every loop and session. A
    * dir the caller configured is used as it is and never deleted.
    * Checkpoint files otherwise accumulate for the context, as Spark's
    * own do with spark.cleaner.referenceTracking.cleanCheckpoints
    * unset. */
  private def ensureCheckpointDir(spark: SparkSession): Unit = {
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
  private val LoopRowsPerTask = 1L << 20

  /** Shuffle width for one round, derived from the rows the previous
    * round counted rather than the session constant: loop rounds shrink
    * to kilobytes, and a fixed wide session pays one scheduling-floor
    * task per partition per job. Capped at the session's width, so a
    * cluster-sized session still fans out fully once rows/task reaches
    * the budget. */
  private def loopShuffleWidth(spark: SparkSession, rows: Long): Int = {
    val sessWidth = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val byRows = (rows + LoopRowsPerTask - 1) / LoopRowsPerTask
    math.max(1L, math.min(sessWidth.toLong, byRows)).toInt
  }
}
