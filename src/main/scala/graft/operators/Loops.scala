package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
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

/** The one round driver for the loops whose round state lives in
  * Spark: connected components (`Dedup.connectedComponents`, RDD
  * rounds), `graph_mst_boruvka` and `graph_kcore` (DataFrame rounds).
  * It owns their round policy — where reliable checkpoints go, how each
  * round's state is carried, how wide each round's shuffles are, when
  * round scratch and carried state are released, and when a loop that
  * must converge gives up — so a caller writes only its algorithm.
  * Lloyd k-means (`Clustering.trainKmeans`) is not a caller: its round
  * state is k×dim centroids in driver memory, with nothing to
  * checkpoint, width or release, so it stays a plain fold.
  *
  * Round state is carried through reliable `checkpoint()`, never
  * `localCheckpoint`: on a cluster an executor loss replays from the
  * checkpoint FILE, where executor-local blocks would kill the job with
  * unrecomputable truncated lineage. */
private[operators] object Loops {

  /** A round's outcome: the carried state, the row count the next
    * round's width derives from (one the round already counted), and
    * whether the loop has reached its fixpoint. */
  final case class Step[S](state: S, rows: Long, done: Boolean = false)

  /** How a state type takes its round's width. A DataFrame round plans
    * its shuffles from the session's `spark.sql.shuffle.partitions`, so
    * the driver pins that to the round's width while the round runs;
    * an RDD round reads `Round.width` and leaves the session alone. */
  final class State[S] private (private[Loops] val widthFromSession: Boolean)
  object State {
    implicit val frames: State[DataFrame] = new State(widthFromSession = true)
    implicit def rdds[T]: State[RDD[T]] = new State(widthFromSession = false)
  }

  /** One round's handle on the driver (the initial state is built in
    * a round of its own, at the session's width). */
  final class Round private[Loops] (val width: Int) {
    private val scratch = ArrayBuffer.empty[() => Unit]
    private[Loops] var carried: AnyRef = _
    private var dropCarried: () => Unit = () => ()

    /** `rdd` persisted for this round only: released when it ends. */
    def keep[T](rdd: RDD[T]): RDD[T] = {
      scratch += (() => rdd.unpersist(blocking = false)); rdd.persist()
    }

    /** `df` materialized as carried state. A round may carry more than
      * once; the state it returns must be the last one it carried. */
    def carry(df: DataFrame): DataFrame = hold(df.checkpoint(), () => ())

    /** `rdd` materialized as carried state, with its row count. The
      * count is the job that computes it: its blocks are cached, and
      * the checkpoint write that follows that job reads them. They stay
      * cached until the next round has read them. */
    def carry[T](rdd: RDD[T]): (RDD[T], Long) = {
      hold(rdd, () => rdd.unpersist(blocking = false))
      rdd.persist().checkpoint()
      (rdd, rdd.count())
    }

    private def hold[S <: AnyRef](state: S, drop: () => Unit): S = {
      release()
      carried = state
      dropCarried = drop
      state
    }

    private[Loops] def end(): Unit = { scratch.foreach(_()); scratch.clear() }

    /** Drops the cache behind the carried state; its checkpoint stays. */
    private[Loops] def release(): Unit = { dropCarried(); dropCarried = () => () }
  }

  /** Builds the initial state with `init`, then runs `round` until it
    * reports `done` or `maxRounds` rounds have run. Round i runs with
    * its shuffle width derived from the rows round i-1 reported; the
    * initial state, with no count before it, runs at the session's
    * width. Returns the last step and the number of rounds run; by
    * then every round's scratch and carried cache is released, so a
    * plan over the last state reads its checkpoint. */
  def iterate[S <: AnyRef](spark: SparkSession, maxRounds: Int)(init: Round => Step[S])
             (round: (Round, Step[S]) => Step[S])(implicit st: State[S]): (Step[S], Int) = {
    ensureCheckpointDir(spark)
    val rounds = ArrayBuffer.empty[Round]
    def run(width: Int)(body: Round => Step[S]): Step[S] = {
      val r = new Round(width)
      rounds += r
      val step = try body(r) finally r.end()
      require(step.state eq r.carried, "a round must return the state it last carried")
      step
    }
    try {
      var cur = run(sessionWidth(spark))(init)
      var n = 0
      while (!cur.done && n < maxRounds) {
        val prev = cur
        val width = loopShuffleWidth(spark, prev.rows)
        // a DataFrame round's jobs are eager, so they plan under this width
        cur = if (st.widthFromSession)
          graft.Tables.withConf(spark, "spark.sql.shuffle.partitions", width.toString)(
            run(width)(round(_, prev)))
        else run(width)(round(_, prev))
        rounds(rounds.size - 2).release()
        n += 1
      }
      (cur, n)
    } finally rounds.foreach(_.release())
  }

  /** `iterate` for a loop that must converge: throws rather than return
    * the state of a loop still unconverged after `maxRounds` rounds. */
  def fixpoint[S <: AnyRef](spark: SparkSession, what: String, maxRounds: Int)
              (init: Round => Step[S])(round: (Round, Step[S]) => Step[S])
              (implicit st: State[S]): (S, Int) = {
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
    val byRows = (rows + LoopRowsPerTask - 1) / LoopRowsPerTask
    math.max(1L, math.min(sessionWidth(spark).toLong, byRows)).toInt
  }

  private def sessionWidth(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
}
