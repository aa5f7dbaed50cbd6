package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** In-memory span recorder for traced runs. Spans are only recorded while
  * [[on]] is set, so a traced run can interleave traced and untraced units
  * of work and report the tracing overhead from the difference. Spans are
  * written out once, at the end of the run.
  */
object Trace {
  final case class Span(layer: String, name: String, startMs: Long, durNs: Long,
      attrs: Map[String, Any])

  @volatile var on: Boolean = false
  private val spans = ArrayBuffer.empty[Span]

  def record(layer: String, name: String, startMs: Long, durNs: Long,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (on) spans.synchronized(spans += Span(layer, name, startMs, durNs, attrs))

  /** Time `body` as a span of `layer` (a plain call when tracing is off). */
  def span[A](layer: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!on) body
    else {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body finally record(layer, name, startMs, System.nanoTime() - t0, attrs)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json.render(Map("layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
        "dur_ns" -> s.durNs) ++ s.attrs))
      w.newLine()
    } finally w.close()
  }

  /** Codegen compilations so far and their approximate total ms (count
    * times the mean of Spark's sampled compile-time histogram).
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}

/** Per-stage execution totals, grouped by the job group that ran them
  * (a registry query's group, or a streaming query's run id). Stages and
  * jobs are only recorded while [[Trace.on]] is set.
  */
final class StageLedger extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var deserMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = new ConcurrentHashMap[String, Totals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def totals(g: String): Totals = byGroup.computeIfAbsent(g, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.on) {
      val t = totals(group(e.properties))
      t.synchronized(t.jobs += 1)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (Trace.on) stageGroup.put(e.stageInfo.stageId, group(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.remove(e.stageInfo.stageId)
    if (g != null) {
      val i = e.stageInfo
      val m = i.taskMetrics
      val t = totals(g)
      t.synchronized {
        t.stages += 1
        t.tasks += i.numTasks
        if (m != null) {
          t.cpuNs += m.executorCpuTime
          t.runMs += m.executorRunTime
          t.gcMs += m.jvmGCTime
          t.deserMs += m.executorDeserializeTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        for (s <- i.submissionTime; c <- i.completionTime) t.intervals += ((s, c))
      }
    }
  }

  def groups: Map[String, Totals] = byGroup.asScala.toMap

  /** Sum over the groups accepted by `keep`. */
  def sum(keep: String => Boolean): Totals = {
    val out = new Totals
    groups.filter { case (g, _) => keep(g) }.values.foreach { t =>
      t.synchronized {
        out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
        out.cpuNs += t.cpuNs; out.runMs += t.runMs; out.gcMs += t.gcMs
        out.deserMs += t.deserMs; out.shuffleRead += t.shuffleRead
        out.shuffleWrite += t.shuffleWrite; out.spill += t.spill
        out.intervals ++= t.intervals
      }
    }
    out
  }

  /** Milliseconds of the windows `[a, b)` during which no stage ran. */
  def gapMs(windows: Seq[(Long, Long)], keep: String => Boolean): Double = {
    val iv = sum(keep).intervals.sortBy(_._1)
    windows.map { case (a, b) =>
      var covered = 0L
      var cur = a
      iv.foreach { case (s, e) =>
        val s1 = math.max(s, cur)
        val e1 = math.min(e, b)
        if (e1 > s1) { covered += e1 - s1; cur = e1 }
      }
      (b - a - covered).toDouble
    }.sum
  }

  /** The execution-layer metrics for the groups accepted by `keep`,
    * divided by `per` (the run's unit of work).
    */
  def execMetrics(keep: String => Boolean, windows: Seq[(Long, Long)], per: Double): Map[String, Double] = {
    val t = sum(keep)
    Map(
      "exec.jobs" -> t.jobs / per,
      "exec.stages" -> t.stages / per,
      "exec.tasks" -> t.tasks / per,
      "exec.task_cpu_s" -> t.cpuNs / 1e9 / per,
      "exec.task_run_s" -> t.runMs / 1e3 / per,
      "exec.gc_s" -> t.gcMs / 1e3 / per,
      "exec.shuffle_read_bytes" -> t.shuffleRead / per,
      "exec.shuffle_write_bytes" -> t.shuffleWrite / per,
      "exec.spill_bytes" -> t.spill / per,
      "exec.driver_gap_s" -> gapMs(windows, keep) / 1e3 / per)
  }
}
