package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.{Duration, DurationInt}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, Row}

/** The ONE owner of materialization policy: every multi-consumer or
  * iterative query site cuts through [[cut]] (CorpusOps q86's scrub
  * output, TextAnalytics' tf and BM25 stats frames, DedupQueries'
  * leaked-id audit, [[Dedup]]'s banded-guard aggregates and
  * connected-components loop, [[GraphAlgos]]' pageRank and BFS), and
  * every driver value that rides a cut's job as an observed metric is
  * read through [[awaitObserved]]. The local-vs-durable choice is a
  * DEPLOYMENT setting, not an edit to query code. ([[GraphAlgos]] keeps
  * its explicit previous-block unpersist pairing — block management a
  * generic helper must not have.)
  *
  * Default: `localCheckpoint()` — executor-local blocks, the right
  * trade on a stable-executor cluster and in every local/bench run
  * (no extra I/O path, measured wins at the call sites). Its known
  * limit: blocks die with their executors, so under dynamic
  * allocation or spot kills a multi-hour job can lose a barrier
  * mid-flight and fail unrecoverable.
  *
  * Cluster-durable form: set [[ConfKey]] (`graft.barrier.checkpointDir`)
  * to a fault-tolerant path (HDFS/S3) and every cut in the session
  * becomes a reliable `checkpoint()` to that directory. It is the only
  * checkpoint switch: no operator takes its own directory. The conf is
  * read per cut (session-dynamic) and each conf'd cut points the
  * SparkContext checkpoint dir at it (one mkdir per cut — barriers are
  * a handful per query, not per row). The opt-in is the conf, never the
  * context's sticky checkpoint dir, so unsetting the conf reverts later
  * cuts to localCheckpoint. Storage note: Spark does not delete
  * reliable checkpoint files unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or the caller
  * clears the directory after consuming the result. */
object Barrier {

  /** The session conf that upgrades every [[cut]] to a reliable
    * checkpoint: a fault-tolerant directory path. Unset (default) =
    * localCheckpoint. */
  val ConfKey = "graft.barrier.checkpointDir"

  /** How long [[awaitObserved]] waits for an observed metric before it
    * falls back to the explicit recompute. */
  private val ObservedWait: Duration = 30.seconds

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Materialize `df` once and cut its lineage — localCheckpoint by
    * default, reliable checkpoint() when [[ConfKey]] is set. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey) match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Read a driver value that rode an earlier action as an observed
    * metric (`df.observe(obs, ...)` on a frame a [[cut]] or collect
    * materialized), instead of paying a separate driver action for it.
    * Waits at most [[ObservedWait]]; `read` runs inside the same guard,
    * so a timeout, a failed metrics job or an unreadable row all take
    * `fallback` — the explicit recompute of the same value — and log
    * one WARN naming the cause. A metrics regression can never hang the
    * caller or change its result, only cost it the saved action. */
  def awaitObserved[T](obs: Observation)(read: Row => T)(fallback: => T): T =
    Try(read(Await.result(obs.future, ObservedWait))) match {
      case Success(v) => v
      case Failure(e) =>
        log.warn(s"observed metric ${obs.name} unavailable ($e); " +
          "recomputing it with an explicit action")
        fallback
    }
}
