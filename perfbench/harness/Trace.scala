package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners of the traced run. Every job is tagged with the span that was
  * current on the thread that started it (the `perfbench.span` local
  * property, inherited by streaming threads), so tasks, stages and SQL
  * executions can be folded into spans after the run. Nothing is written
  * until [[dump]]: events are kept in memory. */
final class Trace(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val tasks = new ConcurrentLinkedQueue[String]()
  private val plans = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** Planning phases reported by the query-execution listener, waiting for
    * the execution-end event that carries their execution id. Both run on
    * the listener bus thread of the shared queue, the QueryExecution
    * listener bus first (it is registered when the session starts). */
  @volatile private var pendingPlan: Map[String, Long] = null
  private val started = new AtomicLong()
  private val ended = new AtomicLong()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.add(Json.obj(
        "job" -> e.jobId,
        "span" -> prop("perfbench.span").orNull,
        "execution" -> prop("spark.sql.execution.id").map(_.toLong).orNull,
        "batch" -> prop("streaming.sql.batchId").map(_.toLong).orNull,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
        if pendingPlan != null =>
        plans.add(Json.obj(Seq("execution" -> end.executionId) ++
          pendingPlan.toSeq: _*))
        pendingPlan = null
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Json.obj(
        "job" -> stageJob.getOrDefault(e.stageId, -1),
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input" -> m.inputMetrics.bytesRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      pendingPlan = Map("analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
    : Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
    : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val st = Option(p.stateOperators).toSeq.flatten
      progress.add(Json.obj(
        "lane" -> p.name, "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum))
    }
  }

  // the QueryExecution listener first: touching the listener manager
  // registers its bus ahead of `sparkListener` on the shared queue
  spark.listenerManager.register(qeListener)
  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Waits (bounded) until every started job has ended and the listener
    * bus has gone quiet, then returns the recorded events as JSON. */
  def dump(): String = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    var quiet = 0
    while (System.nanoTime() < deadline && quiet < 3) {
      Thread.sleep(100)
      val n = tasks.size.toLong + jobs.size + plans.size + progress.size
      if (n == last && started.get == ended.get) quiet += 1 else quiet = 0
      last = n
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    def arr(q: ConcurrentLinkedQueue[String]) =
      q.asScala.mkString("[", ",", "]")
    s"""{"jobs":${arr(jobs)},"tasks":${arr(tasks)},""" +
      s""""plans":${arr(plans)},"progress":${arr(progress)}}"""
  }
}

/** Minimal JSON writer for the harness' result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case Raw(s) => s
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)
}
