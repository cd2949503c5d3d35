package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call the benchmark made into a layer's public function. Times are
  * System.nanoTime for durations and epoch milliseconds for matching Spark
  * job submission times. */
final class Span(val id: Int, val name: String, val layer: String, val parent: Int,
                 val request: Long, val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def durNs: Long = endNs - startNs
}

/** Per-stage totals, summed from task-end events. */
final class StageRec(val stageId: Int) {
  var tasks = 0
  val runMs = mutable.ArrayBuffer.empty[Long]
  var schedDelayMs = 0L
  var runTimeMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  /** Max over median task run time; 1 for stages with fewer than 2 tasks. */
  def skew: Double =
    if (runMs.size < 2) 1.0
    else {
      val med = Stats.median(runMs.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else runMs.max / med
    }
}

final case class JobRec(jobId: Int, timeMs: Long, group: String, execution: String,
                        stageIds: Seq[Int], var module: String, callSite: String) {
  var span: Int = -1
}

/** SparkListener that keeps jobs, stages and task metrics of the traced run.
  * Each job carries the job group the tracer set for the active span, and a
  * module taken from its call site: the innermost `graft.*` frame. Jobs
  * Spark runs on its own threads (broadcasts, subqueries) have no engine
  * frame; they take the module of the SQL execution they belong to. */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).orNull
    val module = e.stageInfos.map(_.details).map(TraceListener.moduleOf)
      .find(_ != "other").getOrElse("other")
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, prop("spark.jobGroup.id"), prop("spark.sql.execution.id"),
      e.stageIds, module, site.take(600))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    val info = e.taskInfo
    st.tasks += 1
    st.runMs += m.executorRunTime
    st.runTimeMs += m.executorRunTime
    st.cpuNs += m.executorCpuTime
    st.gcMs += m.jvmGCTime
    st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    st.inputBytes += m.inputMetrics.bytesRead
  }

  /** Stages whose tasks ran on behalf of job `j` (skipped stages carry none). */
  def stagesOf(j: JobRec): Seq[StageRec] = synchronized {
    j.stageIds.filter(s => stageJob.get(s).contains(j.jobId)).flatMap(stages.get)
  }
}

object TraceListener {
  /** Module of the innermost engine frame of a call site (long form). */
  def moduleOf(details: String): String = {
    if (details == null) return "other"
    details.split("\n").iterator.map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graftbench."))
      .map { f =>
        if (f.startsWith("graft.search.ServingSession") || f.startsWith("graft.search.ServingManager"))
          "search.serving"
        else f.split('.')(1) match {
          case "search" | "build" | "merge" | "streaming" | "pipeline" | "analysis" | "codec" => f.split('.')(1)
          case _ => "engine"
        }
      }.getOrElse("other")
  }
}

/** In-memory span recorder. Spans nest on the single client thread; each
  * span sets the Spark job group to its id so the listener can attribute
  * jobs to it. When `on` is false a call is made with no recording at all,
  * which is what the untraced half of a traced run measures. */
final class Tracer(spark: SparkSession) {
  val listener = new TraceListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  var request = 0L
  private var stack: List[Span] = Nil

  def apply[A](layer: String, name: String)(body: => A): A = {
    if (!on) return body
    val sc = spark.sparkContext
    val s = new Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1), request,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Drain the listener bus and attribute every job to a span: the span its
    * job group names when the job started inside that span's interval,
    * otherwise the deepest span open at the job's start (a pool thread can
    * carry a stale group inherited from an earlier span). Jobs of untraced
    * operations match no span and stay unattributed. */
  def finish(): Unit = {
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    def within(s: Span, t: Long) = t >= s.startMs - 1 && t <= s.endMs + 1
    val bySpan = spans.map(s => s.id -> s).toMap
    listener.synchronized {
      val byExecution = listener.jobs.values.filter(j => j.execution != null && j.module != "other")
        .map(j => j.execution -> j.module).toMap
      listener.jobs.values.filter(_.module == "other").foreach { j =>
        byExecution.get(j.execution).foreach(m => j.module = m)
      }
      listener.jobs.values.foreach { j =>
        val byGroup = Option(j.group).filter(_.startsWith("pb-"))
          .flatMap(g => bySpan.get(g.drop(3).toInt)).filter(within(_, j.timeMs))
        j.span = byGroup.orElse(spans.filter(within(_, j.timeMs)).lastOption).map(_.id).getOrElse(-1)
      }
    }
  }

  private var childIndex: (Int, Map[Int, Seq[Span]]) = (-1, Map.empty)
  private def children: Map[Int, Seq[Span]] = {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }

  def descendantsOrSelf(s: Span): Seq[Span] = {
    val ch = children
    def go(x: Span): Seq[Span] = x +: ch.getOrElse(x.id, Nil).flatMap(go)
    go(s)
  }

  /** Jobs attributed to `s` or any span beneath it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = descendantsOrSelf(s).map(_.id).toSet
    listener.synchronized(listener.jobs.values.filter(j => ids.contains(j.span)).toSeq)
  }

  /** Span duration minus the time its children cover, summed per layer. */
  def selfSecondsByLayer: Map[String, Double] =
    spans.toSeq.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum).sum / 1e9
    }

  /** Spans, jobs and stages as one JSON document. The bus is drained first
    * (not under the listener's lock, which its events need). */
  def toJson: String = {
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    listener.synchronized(json())
  }

  private def json(): String = {
    val sb = new StringBuilder
    sb.append("{\"spans\":[")
    sb.append(spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "request" -> s.request, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)).mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(listener.jobs.values.map(j => Json.obj("job" -> j.jobId, "span" -> j.span,
      "group" -> Option(j.group).getOrElse(""), "module" -> j.module, "call_site" -> j.callSite, "time_ms" -> j.timeMs,
      "stages" -> j.stageIds.mkString(" "))).mkString(","))
    sb.append("],\"stages\":[")
    sb.append(listener.stages.values.toSeq.sortBy(_.stageId).map(st => Json.obj(
      "stage" -> st.stageId, "tasks" -> st.tasks, "run_ms" -> st.runTimeMs,
      "cpu_ns" -> st.cpuNs, "gc_ms" -> st.gcMs, "sched_delay_ms" -> st.schedDelayMs,
      "shuffle_read" -> st.shuffleReadBytes, "shuffle_write" -> st.shuffleWriteBytes,
      "spill" -> st.spillBytes, "input" -> st.inputBytes, "skew" -> st.skew)).mkString(","))
    sb.append("]}")
    sb.toString
  }
}

/** Spark totals over a set of jobs. */
final case class SparkTotals(jobs: Int, stages: Int, schedDelayS: Double, runS: Double,
                             cpuS: Double, gcS: Double, shuffleRead: Long, shuffleWrite: Long,
                             spill: Long, input: Long, skew: Double)

object SparkTotals {
  def of(listener: TraceListener, jobs: Seq[JobRec]): SparkTotals = {
    val st = jobs.flatMap(listener.stagesOf).distinctBy(_.stageId)
    val run = st.map(_.runTimeMs).sum
    // skew weighted by each multi-task stage's run time, so tiny stages
    // do not dominate
    val multi = st.filter(_.tasks >= 2)
    val w = multi.map(_.runTimeMs.toDouble).sum
    val skew = if (w <= 0) 1.0 else multi.map(s => s.skew * s.runTimeMs).sum / w
    SparkTotals(jobs.size, st.size, st.map(_.schedDelayMs).sum / 1e3, run / 1e3,
      st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
      st.map(_.shuffleReadBytes).sum, st.map(_.shuffleWriteBytes).sum,
      st.map(_.spillBytes).sum, st.map(_.inputBytes).sum, skew)
  }
}
