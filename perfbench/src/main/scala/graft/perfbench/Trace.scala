package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root; all spans of one pass
  * share `trace`. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, startMs: Double, endMs: Double)

/** In-memory span recorder. With `enabled = false` every call is a plain
  * pass-through, so untraced runs pay nothing. A span started on the
  * driver thread tags the Spark jobs it starts (job group + a local
  * property), which lets the job listener nest them under it. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  @volatile var sc: SparkContext = _

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Rewrites recorded spans, e.g. to hang a micro-batch's jobs under the
    * batch span once its progress report arrives. */
  def rewrite(f: Span => Span): Unit = {
    val now = all.map(f)
    spans.clear()
    now.foreach(spans.add)
  }

  /** Runs `body` inside a span; `root` starts a new trace id (a pass). */
  def span[A](name: String, layer: String, root: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId()
      val outer = stack.get()
      val (parent, trace) = outer match {
        case (p, t) :: _ if !root => (p, t)
        case _ => (0L, id)
      }
      stack.set((id, trace) :: outer)
      val ctx = sc
      if (ctx != null) {
        ctx.setLocalProperty(Tracer.SpanKey, id.toString)
        ctx.setLocalProperty(Tracer.TraceKey, trace.toString)
        ctx.setJobGroup(s"perfbench-$id", name)
      }
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parent, trace, name, layer, t0, nowMs))
        stack.set(outer)
        if (ctx != null) outer match {
          case (p, t) :: _ =>
            ctx.setLocalProperty(Tracer.SpanKey, p.toString)
            ctx.setLocalProperty(Tracer.TraceKey, t.toString)
            ctx.setJobGroup(s"perfbench-$p", name)
          case Nil =>
            ctx.setLocalProperty(Tracer.SpanKey, null)
            ctx.setLocalProperty(Tracer.TraceKey, null)
            ctx.clearJobGroup()
        }
      }
    }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startMs).foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val TraceKey = "perfbench.trace"
}

/** Task, stage and job counters from Spark's own listener channel, plus
  * job and stage spans nested under the tracer span that started them.
  * All mutation happens on the listener-bus thread; read after
  * [[org.apache.spark.perfbench.Bus.drain]]. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val stageJob = mutable.Map[Int, (Long, Long)]() // stage -> (job span, trace)
  private val jobSpan = mutable.Map[Int, (Long, Long, Long, Long)]() // job -> (span, parent, trace, start)
  @volatile var maxSkew = 0.0
  /** Job span id -> micro-batch id, for jobs a stream started. */
  val batchOfJobSpan = mutable.Map[Long, Long]()

  def snapshot(): Map[String, Double] = synchronized(c.toMap + ("stage_skew" -> maxSkew))
  def resetSkew(): Unit = synchronized { maxSkew = 0.0 }

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("jobs") += 1
    val parent = prop(e.properties, Tracer.SpanKey).map(_.toLong).getOrElse(0L)
    val trace = prop(e.properties, Tracer.TraceKey).map(_.toLong).getOrElse(0L)
    val id = tracer.nextId()
    prop(e.properties, "streaming.sql.batchId").foreach(b => batchOfJobSpan(id) = b.toLong)
    jobSpan(e.jobId) = (id, parent, trace, e.time)
    e.stageIds.foreach(s => stageJob(s) = (id, trace))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, trace, start) =>
      tracer.add(Span(id, parent, trace, s"job ${e.jobId}", "spark_job",
        start.toDouble, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    if (!e.taskInfo.successful) c("failed_tasks") += 1
    val key = (e.stageId, e.stageAttemptId)
    stageSubmit.get(key).foreach(t0 => c("task_wait_s") += math.max(0L, e.taskInfo.launchTime - t0) / 1e3)
    stageTasks.getOrElseUpdate(key, mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_s") += m.executorRunTime / 1e3
      c("task_cpu_s") += m.executorCpuTime / 1e9
      c("gc_s") += m.jvmGCTime / 1e3
      c("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
      c("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1048576.0
      c("shuffle_records") += m.shuffleWriteMetrics.recordsWritten
      c("spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
      c("input_records") += m.inputMetrics.recordsRead
      c("output_records") += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    c("stages") += 1
    val key = (i.stageId, i.attemptNumber())
    stageTasks.remove(key).foreach { ds =>
      // skew is only meaningful over a full wave of non-trivial tasks
      if (ds.size >= 4) {
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).max(1L)
        if (med >= 5) maxSkew = math.max(maxSkew, sorted.last.toDouble / med)
      }
    }
    val start = stageSubmit.remove(key)
    for (t0 <- start; t1 <- i.completionTime; (job, trace) <- stageJob.get(i.stageId))
      tracer.add(Span(tracer.nextId(), job, trace, s"stage ${i.stageId}", "spark_stage",
        t0.toDouble, t1.toDouble))
  }
}

/** Catalyst phase times and plan sizes of every query a session runs,
  * read from `QueryExecution.tracker` through the session's listener
  * manager. Also sums the rows into and out of the dedup verify filter
  * (`i * 5 >= u * 3`) from the executed plan's SQL metrics. */
final class CatalystListener(planChars: Boolean) extends QueryExecutionListener {
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def d(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val chars = if (planChars) qe.optimizedPlan.toString.length.toDouble else 0.0
    val (cand, kept) = CatalystListener.verifyRows(qe.executedPlan)
    synchronized {
      c("queries") += 1
      c("analysis_s") += d("analysis")
      c("optimization_s") += d("optimization")
      c("planning_s") += d("planning")
      c("plan_chars") += chars
      c("verify_candidates") += cand
      c("verify_kept") += kept
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object CatalystListener {
  /** A listener registered on `s`; only `s`'s own queries reach it. */
  def on(s: SparkSession, planChars: Boolean): CatalystListener = {
    val l = new CatalystListener(planChars)
    s.listenerManager.register(l)
    l
  }

  private val VerifyCond = """\* 5\) >= \(.*\* 3\)""".r

  def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => other.children.flatMap(flatten) ++ other.subqueries.flatMap(flatten)
  })

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** (rows into, rows out of) every dedup verify filter in the plan. The
    * rows in are the output of the nearest descendant that counts rows:
    * only projections, which keep the row count, sit in between. */
  def verifyRows(plan: SparkPlan): (Double, Double) = {
    var in = 0L
    var out = 0L
    flatten(plan).foreach {
      case f: FilterExec if VerifyCond.findFirstIn(f.condition.toString).isDefined =>
        out += rows(f).getOrElse(0L)
        in += flatten(f.child).iterator.flatMap(rows).nextOption().getOrElse(0L)
      case _ =>
    }
    (in.toDouble, out.toDouble)
  }
}

/** Task finish times by stage (epoch ms), kept until taken. Cheap enough
  * for untraced runs: it gives the per-file latency of a lake pass. */
final class TaskEnds extends SparkListener {
  private val ends = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    ends.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.finishTime
  }
  def take(): Map[Int, Seq[Long]] = synchronized {
    val m = ends.map { case (k, v) => k -> v.toSeq }.toMap
    ends.clear()
    m
  }
}

/** Micro-batch progress of the benchmark's stream, as Spark reports it. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
