package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished span. Times are epoch milliseconds (fractional) so spans
  * recorded by the harness and spans rebuilt from Spark's own event
  * timestamps share one clock. `trace` groups the spans of one query or
  * one micro-batch; `parent` is a span id or 0 for a root. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span recorder. Spans are kept until [[write]] at the end of
  * the run. A disabled tracer records nothing and installs no listener,
  * which is how the end-to-end runs measure with tracing off. */
final class Tracer(val enabled: Boolean) {
  /** Whether spans are recorded right now: a traced run switches this
    * off for the untraced half of its overhead comparison. */
  @volatile var active: Boolean = enabled
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nowMs: Double = Tracer.nowMs

  /** Time `body` as a span nested under the calling thread's open span. */
  def span[A](name: String, trace: String, attrs: Map[String, Any] = Map.empty)(
      body: => A): A = {
    if (!active) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val t0 = nowMs
    stack.set(id :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      done.add(Span(id, parent, trace, name, t0, nowMs, attrs))
    }
  }

  /** Record an already-finished span (rebuilt from Spark events);
    * returns its id so children can point at it. Parent 0 is resolved
    * at [[write]] time to the innermost harness span enclosing it. */
  def record(name: String, trace: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty, parent: Long = 0L): Long = {
    if (!active) return 0L
    val id = ids.incrementAndGet()
    done.add(Span(id, parent, trace, name, start, end, attrs))
    id
  }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Write every span as one JSON object per line. Spans rebuilt from
    * listener events carry no parent and are attached here: a stage to
    * its job; a micro-batch's job to that batch's addBatch phase; any
    * other job or planning span to the innermost harness span enclosing
    * its start, so self times subtract Spark work from the harness call
    * that caused it. */
  def write(path: String, header: Map[String, Any]): Unit = {
    val all = spans.sortBy(s => (s.start, -s.end))
    val own = all.filter(s => Tracer.ownNames(s.name))
    val jobs = all.filter(_.name == "spark.job")
      .map(s => s.attrs("job_id") -> s).toMap
    val addBatch = all.filter(_.name == "stream.addBatch")
      .map(s => s.trace -> s.id).toMap
    def enclosing(s: Span): Long = {
      val in = own.filter(r => r.start <= s.start && s.start <= r.end)
      if (in.isEmpty) 0L else in.minBy(r => r.end - r.start).id
    }
    val resolved = all.map { s =>
      if (s.parent != 0L || Tracer.ownNames(s.name)) s
      else s.name match {
        case "spark.stage" => s.attrs.get("job_id").flatMap(jobs.get)
          .map(j => s.copy(parent = j.id, trace = j.trace)).getOrElse(s)
        case "spark.job" if addBatch.contains(s.trace) =>
          s.copy(parent = addBatch(s.trace))
        case _ => s.copy(parent = enclosing(s))
      }
    }
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println(Json.obj(header + ("kind" -> "header")))
      resolved.foreach { s =>
        out.println(Json.obj(Map("kind" -> "span", "id" -> s.id,
          "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)))
      }
    } finally out.close()
  }
}

object Tracer {
  private val msBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6
  /** Spans the harness opens itself (never re-parented). */
  private val ownNames = Set("setup", "plans.load", "plans.compile",
    "catalog.query", "op.build", "action", "deploy.run")
}

/** Spark's scheduler events as spans: one `spark.job` per job (with its
  * call site, so `localCheckpoint` jobs can be attributed to
  * graft.Resources) and one `spark.stage` per stage carrying the summed
  * task metrics of that stage. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var spill = 0L; var shuffle = 0L; var input = 0L
  }
  private val jobs = mutable.Map.empty[Int, (Double, String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAcc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (tracer.active) {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // a micro-batch's jobs carry its query and batch id
      val trace = (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
        case (Some(q), Some(b)) => s"batch:$q:$b"
        case _ => s"job:${e.jobId}"
      }
      // the result stage is named by the job's call site, e.g.
      // "localCheckpoint at Resources.scala:83"
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = (e.time.toDouble, site, trace)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (t0, site, trace) =>
      tracer.record("spark.job", trace, t0, e.time.toDouble,
        Map("job_id" -> e.jobId, "call_site" -> site,
          "checkpoint" -> site.startsWith("localCheckpoint")))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (tracer.active && m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.input += m.inputMetrics.bytesRead
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val a = stages.remove(i.stageId).getOrElse(new StageAcc)
      val t0 = i.submissionTime.getOrElse(0L).toDouble
      tracer.record("spark.stage", s"stage:${i.stageId}", t0,
        i.completionTime.map(_.toDouble).getOrElse(t0),
        Map("job_id" -> stageJob.remove(i.stageId).getOrElse(-1),
          "tasks" -> a.tasks, "task_run_ms" -> a.runMs,
          "task_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
          "spill_bytes" -> a.spill, "shuffle_bytes" -> a.shuffle,
          "input_bytes" -> a.input))
    }
}

/** Driver planning per action, from the QueryPlanningTracker phases of
  * the executed plan (analysis, optimization, planning). */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  private def rec(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val t0 = phases.values.map(_.startTimeMs).min.toDouble
      val t1 = phases.values.map(_.endTimeMs).max.toDouble
      tracer.record("driver.plan", "plan", t0, t1,
        phases.map { case (k, v) => s"${k}_ms" -> v.durationMs })
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
}

object Listeners {
  /** Attach the scheduler and planning listeners of a traced run. */
  def install(spark: SparkSession, tracer: Tracer): Unit =
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(new ExecListener(tracer))
      spark.listenerManager.register(new PlanListener(tracer))
    }

  /** Block until the listener buses have delivered every event posted so
    * far, so spans of the last action are not lost. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val m = sc.getClass.getMethod("listenerBus")
    val bus = m.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Minimal JSON writer for the span file and the result line. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => quote(k) + ":" + value(v) }
      .mkString("{", ",", "}")
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
