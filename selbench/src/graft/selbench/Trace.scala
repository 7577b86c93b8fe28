package graft.selbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: `layer` is the module called, `phase` what it did. */
final case class Span(id: Int, layer: String, phase: String, parent: Int,
    op: Int, startMs: Double, var endMs: Double = Double.NaN,
    attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Aggregated metrics of one executed stage. */
final case class StageRec(id: Int, job: Int, tasks: Int, runMs: Long,
    cpuNs: Long, shuffleWrite: Long, resultBytes: Long, inputBytes: Long,
    taskRunMs: Seq[Long])

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long = -1L)

/**
 * Spans kept in memory plus a `SparkListener` that records every job and
 * executed stage. A job belongs to the innermost span open on the driver
 * thread when it was submitted: opening a span sets it as a job-local
 * property, which Spark copies into the job's start event.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "selbench.span"
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val taskRun = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](layer: String, phase: String, op: Int)(body: => T): T = {
    val s = open(layer, phase, op)
    try body finally close(s)
  }

  def open(layer: String, phase: String, op: Int): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.length, layer, phase, parent, op, nowMs())
    spans += s
    stack.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endMs = nowMs()
    require(stack.pop() eq s, s"span ${s.layer} closed out of order")
    sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
  }

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.SelbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).getOrElse(-1)
    jobs += JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      taskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val m = info.taskMetrics
    stages += StageRec(info.stageId, stageJob.getOrElse(info.stageId, -1),
      info.numTasks, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.resultSize,
      m.inputMetrics.bytesRead, taskRun.remove(info.stageId).map(_.toSeq).getOrElse(Nil))
  }

  def toJson: String = synchronized {
    import Json._
    obj(
      "spans" -> arr(spans.map(s => obj(
        "id" -> num(s.id), "layer" -> str(s.layer), "phase" -> str(s.phase),
        "parent" -> num(s.parent), "op" -> num(s.op),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs),
        "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> num(v) }: _*)))),
      "jobs" -> arr(jobs.map(j => obj(
        "id" -> num(j.id), "span" -> num(j.span),
        "start_ms" -> num(j.startMs), "end_ms" -> num(j.endMs)))),
      "stages" -> arr(stages.map(s => obj(
        "id" -> num(s.id), "job" -> num(s.job), "tasks" -> num(s.tasks),
        "run_ms" -> num(s.runMs), "cpu_ns" -> num(s.cpuNs),
        "shuffle_write_bytes" -> num(s.shuffleWrite),
        "result_bytes" -> num(s.resultBytes),
        "input_bytes" -> num(s.inputBytes),
        "task_run_ms" -> arr(s.taskRunMs.map(num(_)))))))
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
