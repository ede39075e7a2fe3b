package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval around one call the benchmark makes into the engine. */
final class Span(val id: Long, val name: String, val parent: Long, val op: Long, val phase: String, val startMs: Long) {
  var endMs: Long = startMs
  def wallMs: Long = endMs - startMs
}

/** What the listeners saw of one Spark job (`batch` is the micro-batch id
  * of a streaming job, -1 otherwise).
  */
final class JobRec(val id: Int, val span: Long, val execId: Long, val batch: Long, val startMs: Long) {
  var endMs: Long = startMs
  var taskMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Span and listener tracer, off unless `enabled`.
  *
  * Every span sets the Spark local property [[Tracer.SpanKey]] for its
  * duration, so each job submitted inside it carries the span id. A
  * `SparkListener` attributes jobs, stages and tasks to spans, a
  * `QueryExecutionListener` counts files read and written per SQL
  * execution, and a `StreamingQueryListener` keeps every micro-batch's
  * progress. Everything stays in memory until the run reports; time
  * spent inside the listener callbacks is kept as the tracer's own
  * overhead.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  /** Query execution id -> (files read, files written). */
  private val qeFiles = mutable.HashMap[Long, (Long, Long)]()
  /** SQL execution id -> query execution id. */
  private val execQe = mutable.HashMap[Long, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()
  /** Streaming query id -> its micro-batch progress reports. */
  private val progress = mutable.HashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()
  private var nextId = 1L
  private var stack: List[Span] = Nil
  @volatile var phase = "setup"
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  /** Seconds spent inside the listener callbacks. */
  def listenerSeconds: Double = listenerNs.get() / 1e9

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(
        e.jobId,
        prop(SpanKey).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        e.time)
      Tracer.this.synchronized {
        jobs(e.jobId) = rec
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Tracer.this.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => timed {
        org.apache.spark.sql.LakebenchSql.queryExecutionId(end).foreach(q => Tracer.this.synchronized(execQe(end.executionId) = q))
      }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      var read = 0L
      var written = 0L
      def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      foreach(qe.executedPlan) {
        case s: FileSourceScanExec => read += metric(s, "numFiles")
        case w: DataWritingCommandExec => written += metric(w, "numFiles")
        case _ => ()
      }
      Tracer.this.synchronized(qeFiles(qe.id) = (read, written))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      Tracer.this.synchronized(progress.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer()) += e.progress)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as a span named `name`; a no-op wrapper when disabled. */
  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = synchronized {
        val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), op, phase, System.currentTimeMillis())
        nextId += 1
        spans += s
        stack = s :: stack
        s
      }
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(SpanKey, prev)
        synchronized { stack = stack.tail }
      }
    }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.LakebenchBus.drain(spark.sparkContext)

  /** Progress reports of a streaming query's micro-batches, in order. */
  def batches(query: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(progress.getOrElse(query, Nil).filter(_.batchId >= 0).sortBy(_.batchId).toSeq)

  /** Jobs attributed to a span or any span nested inside it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = descendants(s.id)
    jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  private def descendants(id: Long): Set[Long] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ descendants(k))
  }

  /** Files read and written by the SQL executions of these jobs. */
  def files(js: Seq[JobRec]): (Long, Long) = {
    val fs = js.map(_.execId).distinct.flatMap(execQe.get).flatMap(qeFiles.get)
    (fs.map(_._1).sum, fs.map(_._2).sum)
  }
}

object Tracer {
  val SpanKey = "lakebench.span"

  /** Milliseconds of `[from, to)` covered by at least one job interval. */
  def coveredMs(from: Long, to: Long, js: Seq[JobRec]): Long = {
    val iv = js.map(j => (math.max(from, j.startMs), math.min(to, j.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
