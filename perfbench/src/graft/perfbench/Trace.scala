package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** A timed interval, in nanoseconds from the recorder's origin. Kinds
  * nest as pass → query → {construct, plan, exec} → job → stage; the
  * first five come from the benchmark's own calls, jobs and stages from
  * Spark's listener bus.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Long, end: Long, attrs: Map[String, Any]) {
  def dur: Long = end - start
}

/** One Spark job attributed to a phase span, with its tasks' metrics summed. */
final class JobRec(val id: Int, val parent: Long, val start: Long) {
  var end: Long = start
  var stages: Vector[Span] = Vector.empty
  var tasks, taskMs, gcMs, failures, shuffleWrite, shuffleRead, spill, input, output = 0L
}

/** Listener plus span store. The peak task memory is always recorded;
  * jobs are recorded only when started under a phase span (the local
  * property [[Recorder.SpanKey]]), which only traced passes set.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def fromMs(ms: Long): Long = (ms - originMs) * 1000000L
  def now: Long = System.nanoTime() - originNs

  val peakTaskMem = new AtomicLong(0L)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val ids = new AtomicLong(0L)
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def nextId(): Long = ids.incrementAndGet()

  /** Runs `body(spanId)` inside a span; with `phase`, the jobs it starts
    * are attributed to the span. A body that throws leaves no span.
    */
  def span[T](kind: String, name: String, parent: Long, phase: Boolean = false)(body: Long => T): T = {
    val id = nextId()
    if (phase) sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val start = now
    try {
      val v = body(id)
      spans += Span(id, parent, kind, name, start, now, Map.empty)
      v
    } finally if (phase) sc.setLocalProperty(Recorder.SpanKey, null)
  }

  /** Adds attributes to the span recorded last. */
  def annotateLast(attrs: Map[String, Any]): Unit =
    spans(spans.size - 1) = spans.last.copy(attrs = spans.last.attrs ++ attrs)

  /** Waits until every posted event has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobsByParent: Map[Long, Seq[JobRec]] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.sortBy(_.id).groupBy(_.parent)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey))).foreach { p =>
      val j = new JobRec(e.jobId, p.toLong, fromMs(e.time))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = fromMs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).foreach { j =>
      val start = fromMs(si.submissionTime.getOrElse(0L))
      j.stages :+= Span(
        -1L, -1L, "stage", s"stage ${si.stageId}.${si.attemptNumber()}", start,
        si.completionTime.map(fromMs).getOrElse(start), Map("tasks" -> si.numTasks)
      )
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failures += 1
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Own spans plus job and stage spans, in start order, for the span file. */
  def allSpans: Seq[Span] = {
    val sparkSpans = jobsByParent.values.flatten.toSeq.sortBy(_.id).flatMap { j =>
      val jid = nextId()
      val job = Span(jid, j.parent, "job", s"job ${j.id}", j.start, j.end, Map(
        "tasks" -> j.tasks, "task_ms" -> j.taskMs, "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill
      ))
      job +: j.stages.map(s => s.copy(id = nextId(), parent = jid))
    }
    (spans.toSeq ++ sparkSpans).sortBy(s => (s.start, s.id))
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Per-layer metrics of one traced pass, from its spans. A layer's time
  * is its span's duration; `construct.self_s` is construct's self time,
  * the part no Spark job of its own covers.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
    }._1

  def ofPass(pass: Span, spans: Seq[Span], jobs: Map[Long, Seq[JobRec]], moduleOf: String => String,
      modules: Seq[String], cores: Int): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val queries = kids.getOrElse(pass.id, Nil).filter(_.kind == "query")
    def phase(k: String) = queries.flatMap(q => kids.getOrElse(q.id, Nil).filter(_.kind == k))
    def sec(ns: Long) = ns / 1e9
    def js(ps: Seq[Span]) = ps.flatMap(p => jobs.getOrElse(p.id, Nil))
    val (c, p, e) = (phase("construct"), phase("plan"), phase("exec"))
    val (cj, ej) = (js(c), js(e))
    def sumL(j: Seq[JobRec])(f: JobRec => Long) = j.map(f).sum.toDouble
    val self = c.map { s =>
      s.dur - union(jobs.getOrElse(s.id, Nil).map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).filter(t => t._2 > t._1))
    }.sum
    val execS = sec(e.map(_.dur).sum)
    val execTaskS = sumL(ej)(_.taskMs) / 1e3
    def tracker(k: String) = p.map(_.attrs.getOrElse(k, 0L).asInstanceOf[Long]).sum / 1e3
    val coverage =
      if (queries.isEmpty) 0.0
      else queries.map(q => kids.getOrElse(q.id, Nil).map(_.dur).sum.toDouble / math.max(q.dur, 1L)).min
    val base = Map(
      "construct.s" -> sec(c.map(_.dur).sum),
      "construct.self_s" -> sec(self),
      "construct.jobs" -> cj.size.toDouble,
      "construct.stages" -> sumL(cj)(_.stages.size.toLong),
      "construct.task_s" -> sumL(cj)(_.taskMs) / 1e3,
      "construct.shuffle_write_mb" -> sumL(cj)(_.shuffleWrite) / MB,
      "construct.output_mb" -> sumL(cj)(_.output) / MB,
      "plan.s" -> sec(p.map(_.dur).sum),
      "plan.analysis_s" -> tracker("analysis_ms"),
      "plan.optimization_s" -> tracker("optimization_ms"),
      "plan.planning_s" -> tracker("planning_ms"),
      "exec.s" -> execS,
      "exec.jobs" -> ej.size.toDouble,
      "exec.stages" -> sumL(ej)(_.stages.size.toLong),
      "exec.tasks" -> sumL(ej)(_.tasks),
      "exec.task_s" -> execTaskS,
      "exec.busy_frac" -> (if (execS > 0) execTaskS / (execS * cores) else 0.0),
      "exec.gc_s" -> sumL(ej)(_.gcMs) / 1e3,
      "exec.task_failures" -> sumL(ej)(_.failures),
      "exec.shuffle_write_mb" -> sumL(ej)(_.shuffleWrite) / MB,
      "exec.shuffle_read_mb" -> sumL(ej)(_.shuffleRead) / MB,
      "exec.spill_mb" -> sumL(ej)(_.spill) / MB,
      "exec.input_mb" -> sumL(ej)(_.input) / MB,
      "exec.output_mb" -> sumL(ej)(_.output) / MB,
      "trace.coverage_frac" -> coverage
    )
    val byModule = queries.groupBy(q => moduleOf(q.name))
    val mods = modules.flatMap { m =>
      val qs = byModule.getOrElse(m, Nil)
      val cons = qs.flatMap(q => kids.getOrElse(q.id, Nil).filter(_.kind == "construct"))
      Seq(s"mod.$m.s" -> sec(qs.map(_.dur).sum), s"mod.$m.construct_jobs" -> js(cons).size.toDouble)
    }
    base ++ mods
  }
}
