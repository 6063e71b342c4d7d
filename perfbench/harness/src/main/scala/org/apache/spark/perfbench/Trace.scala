package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for traced runs.
  *
  * Spans form the tree run → pass → op → {queries.build, catalyst.plan,
  * exec, layer calls} → Spark job → stage. Harness spans are opened and
  * closed on the driver thread; job and stage spans come from [[Listener]],
  * which attaches each job to the span that was innermost when the job
  * started, via a local property the harness sets on the driver thread.
  * All spans of one op share the op's id. Spans stay in memory and are
  * written out once, when the run ends.
  */
final class Trace {
  import Trace.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L

  /** Epoch seconds on the monotonic clock (listener events use epoch ms). */
  private val epochBase = System.currentTimeMillis() / 1e3
  private val nanoBase = System.nanoTime()
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e9

  def current: Option[Span] = stack.headOption

  def open(name: String, newOp: Boolean = false): Span = synchronized {
    val parent = stack.headOption
    val id = nextId; nextId += 1
    val op = if (newOp) id else parent.map(_.op).getOrElse(0L)
    val s = Span(id, parent.map(_.id).getOrElse(0L), op, name, now(), Double.NaN,
      mutable.Map.empty)
    spans += s
    stack.push(s)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.end = now()
    while (stack.nonEmpty && stack.top.id != s.id) stack.pop()
    if (stack.nonEmpty) stack.pop()
  }

  def child(parent: Long, op: Long, name: String, start: Double, end: Double)
      : Span = synchronized {
    val id = nextId; nextId += 1
    val s = Span(id, parent, op, name, start, end, mutable.Map.empty)
    spans += s
    s
  }

  def byId(id: Long): Option[Span] = spans.find(_.id == id)

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    val a = s.attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
      s""""start":${Json.num(s.start)},"end":${Json.num(s.end)},"attrs":{$a}}"""
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, parent: Long, op: Long, name: String,
      start: Double, var end: Double, attrs: mutable.Map[String, Double])
}

/** Attributes Spark jobs, stages and task metrics to the harness span that
  * was active when each job started (local property [[Trace.SpanProperty]]).
  * Registered only in traced runs. */
final class Listener(trace: Trace) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Trace.Span]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = trace.synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .flatMap(id => trace.byId(id.toLong))
    owner.foreach { o =>
      val s = trace.child(o.id, o.op, "job", e.time / 1e3, Double.NaN)
      s.attrs("job_id") = e.jobId
      jobSpan(e.jobId) = s
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = trace.synchronized {
    jobSpan.get(e.jobId).foreach(_.end = e.time / 1e3)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = trace.synchronized {
    val info = e.stageInfo
    for (jobId <- stageJob.get(info.stageId); job <- jobSpan.get(jobId)) {
      val s = trace.child(job.id, job.op, "stage",
        info.submissionTime.getOrElse(0L) / 1e3,
        info.completionTime.getOrElse(0L) / 1e3)
      s.attrs("stage_id") = info.stageId
      s.attrs("tasks") = info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        s.attrs("task_s") = m.executorRunTime / 1e3
        s.attrs("cpu_s") = m.executorCpuTime / 1e9
        s.attrs("gc_s") = m.jvmGCTime / 1e3
        s.attrs("shuffle_write_mb") = m.shuffleWriteMetrics.bytesWritten / 1e6
        s.attrs("shuffle_read_mb") = (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1e6
        s.attrs("spill_mb") = (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        s.attrs("input_mb") = m.inputMetrics.bytesRead / 1e6
      }
    }
  }
}

object Listener {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
