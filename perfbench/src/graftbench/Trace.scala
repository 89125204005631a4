package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans around the benchmark's calls into graft modules, with Spark
  * runtime counters attributed to them by a [[SpanListener]].
  *
  * A span is opened on the driver thread; while it is open the thread's
  * `graftbench.span` local property names it, so every job submitted from
  * inside the call (including broadcast and adaptive re-plan jobs, which
  * inherit the property) carries the span id. The listener keys its
  * per-job counters on that id. Jobs are additionally attributed to the
  * graft source file of their call site (`count at Dedup.scala:577`),
  * which is how the eager actions a single library call makes internally
  * are split by module.
  *
  * With tracing off, [[span]] only runs its body: no listener is
  * registered and no property is set.
  */
final class Tracer(sc: SparkContext, cores: Int, val enabled: Boolean,
    fileModules: Map[String, String]) {

  final class Span(val id: Int, val name: String, val parent: Int) {
    val startNs: Long = System.nanoTime()
    var endNs: Long = -1L
    val gcStart: Double = Host.gcSeconds()
    var gcEnd: Double = 0.0
    val extra = mutable.LinkedHashMap.empty[String, Double]
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Spans are recorded only while active (the traced iterations). */
  @volatile var active = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val s = new Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1))
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanListener.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcEnd = Host.gcSeconds()
        open = open.tail
        sc.setLocalProperty(SpanListener.Key,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a counter of the caller's own (rows, ratios) to the open span. */
  def count(key: String, value: Double): Unit =
    if (enabled && active) open.headOption.foreach(_.extra(key) = value)

  /** Attach a counter to the latest span named `name` (for numbers the
    * checks compute after the span closed).
    */
  def note(name: String, key: String, value: Double): Unit =
    if (enabled && active) spans.reverseIterator.find(_.name == name).foreach(_.extra(key) = value)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Per-span counters keyed `<span>.<counter>`. Spans with the same name
    * (one per query, say) are summed, except `core_util` and `task_skew`,
    * which are ratios.
    */
  def report(): collection.mutable.LinkedHashMap[String, Double] = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val byName = spans.groupBy(_.name)
    val order = spans.map(_.name).distinct
    order.foreach { name =>
      val group = byName(name)
      val ids = group.map(_.id).toSet
      val wall = group.map(_.seconds).sum
      val children = spans.filter(c => ids.contains(c.parent))
        .map(_.seconds).sum
      val jobs = listener.jobsOf(ids)
      put(out, name, wall, wall - children, jobs, group.map(s => s.gcEnd - s.gcStart).sum)
      group.flatMap(_.extra.toSeq).groupBy(_._1).foreach { case (k, vs) =>
        out(s"$name.$k") = vs.map(_._2).sum
      }
      // call-site attribution inside the span: jobs whose action was
      // invoked from a graft source file are also reported under that
      // file's module, so work a library call does eagerly is visible
      jobs.groupBy(j => fileModules.get(j.siteFile)).foreach {
        case (Some(module), js) =>
          out(s"$name.site_$module.jobs") = js.size.toDouble
          out(s"$name.site_$module.task_s") = js.map(_.busyMs).sum / 1000.0
        case _ => ()
      }
    }
    out
  }

  /** (call site, busy seconds) of every job run inside spans named `name`. */
  def jobSites(name: String): Seq[(String, Double)] = {
    val ids = spans.filter(_.name == name).map(_.id).toSet
    listener.jobsOf(ids).map(j => j.site -> j.busyMs / 1000.0)
  }

  private def put(out: mutable.Map[String, Double], name: String,
      wall: Double, self: Double, jobs: Seq[SpanListener.Job], gc: Double): Unit = {
    val stages = jobs.flatMap(_.stages.values)
    val busy = stages.map(_.busyMs).sum / 1000.0
    out(s"$name.wall_s") = wall
    out(s"$name.self_s") = self
    out(s"$name.jobs") = jobs.size.toDouble
    out(s"$name.stages") = stages.count(_.ran).toDouble
    out(s"$name.tasks") = stages.map(_.durationsMs.size).sum.toDouble
    out(s"$name.task_s") = busy
    out(s"$name.core_util") = if (wall > 0) busy / (cores * wall) else 0.0
    out(s"$name.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / 1048576.0
    out(s"$name.spill_mb") = stages.map(_.spill).sum / 1048576.0
    out(s"$name.gc_s") = gc
    out(s"$name.task_skew") = SpanListener.skew(stages)
  }
}

object SpanListener {
  val Key = "graftbench.span"

  final class Stage {
    var ran = false
    var busyMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
  }

  final class Job(val span: Int, val site: String) {
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    def busyMs: Long = stages.values.map(_.busyMs).sum
    /** `Dedup.scala` out of `count at Dedup.scala:577`. */
    def siteFile: String = site.split(" at ").lastOption
      .map(_.takeWhile(_ != ':')).getOrElse("")
  }

  /** max ÷ median task time of the stage with the most busy time — the
    * stage that sets the span's length when one task straggles.
    */
  def skew(stages: Seq[Stage]): Double = {
    val multi = stages.filter(_.durationsMs.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val d = multi.maxBy(_.busyMs).durationsMs.sorted
      val med = d(d.size / 2).max(1L)
      d.last.toDouble / med
    }
  }
}

/** Collects per-job, per-stage task counters for jobs submitted under a
  * span (see [[Tracer]]).
  */
final class SpanListener extends SparkListener {
  import SpanListener._
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    span.foreach { s =>
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val job = new Job(s.toInt, site)
      jobs(e.jobId) = job
      e.stageIds.foreach { sid =>
        if (!stageJob.contains(sid)) {
          stageJob(sid) = job
          job.stages(sid) = new Stage
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages(e.stageInfo.stageId).ran = true)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); st <- job.stages.get(e.stageId)) {
      st.durationsMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.busyMs += m.executorRunTime + m.executorDeserializeTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.diskBytesSpilled
      }
    }
  }

  def jobsOf(spanIds: Set[Int]): Seq[Job] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toSeq
  }
}
