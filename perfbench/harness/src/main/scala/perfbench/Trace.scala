package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval: run, pass, op (a query or an ingest batch), phase
  * (a call into one layer) or a Spark job. Times are seconds since the
  * run started; `attrs` holds the counts measured at that boundary. */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val t0: Double) {
  var t1: Double = t0
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def toJson: String = {
    val a = attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"kind":${Json.str(kind)},"name":${Json.str(name)},"t0":${Json.num(t0)},"t1":${Json.num(t1)},"attrs":$a}"""
  }
}

/** In-memory span recorder. Pass and op spans are always kept (they give
  * the end-to-end timings); `phase` records a span only when `traced`,
  * and job spans come only from traced passes. */
final class Tracer(origin: Long) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var stack: List[Span] = Nil
  var traced: Boolean = false

  def now: Double = (System.nanoTime() - origin) / 1e9

  def open(kind: String, name: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      kind, name, now)
    spans += s
    stack = s :: stack
    s
  }

  def close(s: Span): Span = {
    s.t1 = now
    stack = stack.dropWhile(_ ne s).drop(1)
    s
  }

  def span[T](kind: String, name: String)(body: Span => T): T = {
    val s = open(kind, name)
    try body(s) finally close(s)
  }

  /** A phase span when tracing; the bare call otherwise. */
  def phase[T](name: String)(body: => T): T =
    if (traced) span("phase", name)(_ => body) else body

  /** Job spans from the listener, each under the innermost span open at
    * the job's submission (a phase when tracing). */
  def addJobs(jobs: Seq[JobRecord], toRun: Long => Double): Unit =
    for (j <- jobs) {
      val t0 = toRun(j.startMs)
      val t1 = toRun(j.endMs)
      val parent = spans.reverseIterator
        .filter(s => s.kind != "job" && s.t0 <= t0 && t0 <= s.t1)
        .maxByOption(_.t0).map(_.id).getOrElse(-1)
      val s = new Span(spans.size, parent, "job", s"job-${j.jobId}", t0)
      s.t1 = t1
      s.attrs ++= j.counts
      spans += s
    }
}

final case class JobRecord(jobId: Int, startMs: Long, endMs: Long,
    counts: Map[String, Double])

/** Counts jobs, stages, tasks and task metrics per job. Registered by the
  * benchmark for traced passes only. */
final class ExecListener extends SparkListener {
  private val stageJob = mutable.Map[Int, Int]()
  private val starts = mutable.Map[Int, Long]()
  private val sums = mutable.Map[Int, mutable.Map[String, Double]]()
  private val done = mutable.ArrayBuffer[JobRecord]()

  private def add(job: Int, k: String, v: Double): Unit = {
    val m = sums.getOrElseUpdate(job, mutable.Map().withDefaultValue(0.0))
    m(k) += v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    add(e.jobId, "stages", 0)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(add(_, "stages", 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      add(j, "tasks", 1)
      if (m != null) {
        add(j, "task_cpu_s", m.executorCpuTime / 1e9)
        add(j, "task_run_s", m.executorRunTime / 1e3)
        add(j, "gc_s", m.jvmGCTime / 1e3)
        add(j, "input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add(j, "shuffle_write_mb",
          m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add(j, "shuffle_read_mb",
          m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add(j, "spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val counts = sums.remove(e.jobId).map(_.toMap).getOrElse(Map.empty)
    done += JobRecord(e.jobId, starts.remove(e.jobId).getOrElse(e.time),
      e.time, counts)
  }

  /** Jobs finished since the last call. */
  def take(): Seq[JobRecord] = synchronized {
    val out = done.toList
    done.clear()
    out
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
}
