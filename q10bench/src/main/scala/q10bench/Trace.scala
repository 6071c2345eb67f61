package q10bench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans the benchmark records around its calls into each layer: name,
  * start, end, parent span and run id, kept in memory and written as
  * JSON lines when the run ends. A disabled tracer only runs the body. */
final class Tracer(val enabled: Boolean, runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List(-1)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.head
      spans += Span(id, parent, name, System.nanoTime(), 0L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Durations in seconds of every span called `name`. */
  def seconds(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(
        s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

/** Job, stage and task totals from a SparkListener, read as the
  * difference between two snapshots around an operation. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Totals
  @volatile private var t = Totals()

  def snapshot(): Totals = synchronized(t)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      t = t.copy(tasks = t.tasks + 1,
        runNs = t.runNs + m.executorRunTime * 1000000L,
        cpuNs = t.cpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = t.spill + m.diskBytesSpilled + m.memoryBytesSpilled)
    } else t = t.copy(tasks = t.tasks + 1)
  }
}

object SparkCounters {
  final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runNs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      runNs - o.runNs, cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill)
  }

  /** Per-layer metrics of one operation's totals over `wallS` seconds. */
  def metrics(d: Totals, wallS: Double): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", d.jobs.toDouble, "count"),
    ("spark.stages", d.stages.toDouble, "count"),
    ("spark.tasks", d.tasks.toDouble, "count"),
    ("spark.task_run_s", d.runNs / 1e9, "s"),
    ("spark.task_cpu_s", d.cpuNs / 1e9, "s"),
    ("spark.gc_s", d.gcMs / 1e3, "s"),
    ("spark.shuffle_write_mb", d.shuffleWrite / 1e6, "MB"),
    ("spark.shuffle_read_mb", d.shuffleRead / 1e6, "MB"),
    ("spark.spill_mb", d.spill / 1e6, "MB"),
    ("spark.parallelism", if (wallS > 0) d.runNs / 1e9 / wallS else 0.0, "ratio"))
}
