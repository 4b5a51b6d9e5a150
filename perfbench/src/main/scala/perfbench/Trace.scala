package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call the benchmark made into an engine layer. `id` doubles as the
  * Spark job group, so every job the call submits is attributed to it.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One finished Spark job with the task totals of the stages it ran. */
final case class JobRec(jobId: Int, group: Option[Long], description: String,
                        startMs: Long, endMs: Long, stageIds: Seq[Int])

final case class StageRec(stageId: Int, jobId: Int, tasks: Int,
                          runMs: Long, cpuNs: Long, shuffleWriteB: Long,
                          shuffleReadB: Long, spillB: Long, rowsIn: Long,
                          windowed: Boolean, taskMs: Seq[Long]) {
  /** Slowest task over the median task: 1.0 is perfectly even. */
  def skew: Double =
    if (taskMs.size < 2) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** Collects job and stage records; registered only in traced runs. */
final class JobListener extends SparkListener {
  private val starts = mutable.Map[Int, (Long, Option[Long], String, Seq[Int])]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskTimes = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").flatMap(_.toLongOption)
    starts(j.jobId) = (j.time, group, prop("spark.job.description").getOrElse(""),
      j.stageIds)
    j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(j.jobId).foreach { case (t0, g, d, st) =>
      jobs += JobRec(j.jobId, g, d, t0, j.time, st)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskInfo != null)
      taskTimes.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) += t.taskInfo.duration
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    val m = i.taskMetrics
    val windowed = i.rddInfos.exists(_.scope.exists(_.name.startsWith("Window")))
    if (m != null) stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.numTasks, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead, windowed,
      taskTimes.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
  }
}

/** Spans around every call the benchmark makes into a layer, plus the Spark
  * job/stage data attributed to them. With tracing off, `span` only runs
  * the body: no listener is registered and no job group is set.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private var stack: List[Span] = Nil
  private var active = false
  def isActive: Boolean = active
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new JobListener

  /** Start recording (traced runs only); the run's untraced half is
    * measured before this, so the two halves give the tracing overhead.
    */
  def start(): Unit = if (enabled && !active) {
    sc.addSparkListener(listener)
    active = true
  }

  def stop(): Unit = if (active) {
    drain()
    sc.removeSparkListener(listener)
    active = false
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0L),
        parent.map(_.request).getOrElse(ids.get), System.nanoTime())
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        spans += s
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = if (active) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span ids of `root` and everything below it. */
  def subtree(root: Span): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] =
      kids.getOrElse(id, Nil).map(_.id).toSet.flatMap(go) + id
    go(root.id)
  }

  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = subtree(s)
    listener.jobs.filter(_.group.exists(ids.contains)).toSeq
  }

  def stagesOf(jobs: Seq[JobRec]): Seq[StageRec] = {
    val ids = jobs.map(_.jobId).toSet
    listener.stages.filter(st => ids.contains(st.jobId)).toSeq
  }

  /** Self time: the span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s.seconds - Tracer.unionNs(kids.toSeq) / 1e9
  }

  /** Spans, jobs and stages as JSON lines, written when the run ends. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}\n"""
    }
    listener.jobs.sortBy(_.jobId).foreach { j =>
      sb ++= s"""{"job":${j.jobId},"span":${j.group.getOrElse(0L)},"description":"${j.description.replace("\"", "'")}","start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stageIds.mkString("[", ",", "]")}}\n"""
    }
    listener.stages.sortBy(_.stageId).foreach { st =>
      sb ++= s"""{"stage":${st.stageId},"job":${st.jobId},"tasks":${st.tasks},"run_ms":${st.runMs},"cpu_ns":${st.cpuNs},"shuffle_write_b":${st.shuffleWriteB},"shuffle_read_b":${st.shuffleReadB},"spill_b":${st.spillB},"rows_in":${st.rowsIn}}\n"""
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals: concurrent jobs
    * (AQE submits query stages in parallel) are counted once.
    */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
