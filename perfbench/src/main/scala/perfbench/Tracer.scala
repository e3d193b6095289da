package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one benchmark-side call into a layer, or one stream tick. */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Long, endMs: Long, attrs: Map[String, String])

/** One finished Spark job, with the task metrics of its stages. */
final case class JobRec(jobId: Int, desc: String, sqlExecId: Long,
    startMs: Long, endMs: Long, stages: Int, tasks: Long, runMs: Long,
    cpuMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long)

/** One planned query (QueryExecutionListener), with its phase times. */
final case class PlanRec(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long)

/** One streaming micro-batch progress event. */
final case class TickRec(runId: String, batchId: Long, startMs: Long,
    inputRows: Long, durations: Map[String, Long])

/** Benchmark-side tracing. Every measurement comes from Spark's public
  * listener APIs — SparkListener, QueryExecutionListener and
  * StreamingQueryListener — plus spans the harness opens around its own
  * calls into graft. Benchmark-thread jobs are tied to their span by the
  * job description. Stream-tick jobs run under the stream's call site, so
  * they are told apart by the physical plan of their SQL execution.
  * Everything stays in memory until [[writeSpans]] at the end.
  *
  * With `enabled = false` nothing is registered and [[span]] only runs
  * its body: the untraced run pays no listener cost. A traced run
  * registers the listeners up front (a stream's cloned session copies
  * the query-execution listeners present when it starts) and records
  * the whole run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val ticks = new ConcurrentLinkedQueue[TickRec]()

  /** Physical plan text of each SQL execution, by execution id. */
  val sqlPlans = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private final class JobAcc(val jobId: Int, val desc: String, val sqlExecId: Long,
      val startMs: Long, val stageIds: Seq[Int]) {
    var tasks, runMs, cpuMs, gcMs, shRead, shWrite, spill = 0L
    var stages = 0
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val acc = new JobAcc(e.jobId, prop("spark.job.description").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      open.put(e.jobId, acc)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val acc = Option(stageJob.get(info.stageId)).flatMap(j => Option(open.get(j)))
      acc.foreach { a =>
        val m = info.taskMetrics
        a.synchronized {
          a.stages += 1
          a.tasks += info.numTasks
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuMs += m.executorCpuTime / 1000000L
            a.gcMs += m.jvmGCTime
            a.shRead += m.shuffleReadMetrics.totalBytesRead
            a.shWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = open.remove(e.jobId)
      if (a != null) {
        a.stageIds.foreach(stageJob.remove)
        jobs.add(JobRec(a.jobId, a.desc, a.sqlExecId, a.startMs, e.time,
          a.stages, a.tasks, a.runMs, a.cpuMs, a.gcMs, a.shRead, a.shWrite,
          a.spill))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlPlans.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      plans.add(PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        ticks.add(TickRec(p.runId.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, d))
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered the events of the work
    * just finished: no job is open, `done` holds, and the record counts
    * stay put over two polls. False if that takes longer than `timeoutMs`. */
  def settle(timeoutMs: Long)(done: => Boolean): Boolean = !enabled || {
    def counts = (jobs.size, ticks.size, plans.size, sqlPlans.size)
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = counts
    var stable = 0
    while (stable < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = counts
      stable = if (now == last && open.isEmpty && done) stable + 1 else 0
      last = now
    }
    stable >= 2
  }

  /** Run `body` as a span named `name`; benchmark-thread jobs inside it
    * carry the span id in their job description. */
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val parent = current.get().longValue()
    val prevDesc = sc.getLocalProperty("spark.job.description")
    current.set(id)
    sc.setJobDescription(s"perfbench span=$id $name")
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans.add(Span(id, parent, name, t0, System.currentTimeMillis(), attrs))
      current.set(parent)
      sc.setJobDescription(prevDesc)
    }
  }

  /** Jobs whose description names span `id`. */
  def jobsOf(id: Long): Seq[JobRec] = {
    val tag = s"perfbench span=$id "
    jobs.asScala.filter(_.desc.startsWith(tag)).toSeq
  }

  /** Planned queries that started inside [from, to]. */
  def plansIn(from: Long, to: Long): Seq[PlanRec] =
    plans.asScala.filter(p => p.startMs >= from && p.startMs <= to).toSeq

  /** Write every span as one JSON line. */
  def writeSpans(path: String): Unit = {
    // each recorded stream tick becomes a span too, its phases as attrs
    val tickSpans = ticks.asScala.toSeq.sortBy(_.batchId).zipWithIndex.map { case (t, i) =>
      Span(spans.size + 1L + i, 0L, s"tick:${t.batchId}", t.startMs,
        t.startMs + t.durations.getOrElse("triggerExecution", 0L),
        t.durations.map { case (k, v) => k -> v.toString } + ("input_rows" -> t.inputRows.toString))
    }
    val sb = new StringBuilder
    (spans.asScala.toSeq.sortBy(_.id) ++ tickSpans).foreach { s =>
      val a = s.attrs.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
        .mkString(",")
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}","start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{$a}}\n"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
