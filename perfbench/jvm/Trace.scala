package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a layer. `stats.py` assigns parents by time
  * containment. Times are epoch milliseconds, so harness, listener and
  * stream-progress spans share one clock. */
final case class Span(name: String, layer: String, startMs: Double, endMs: Double,
    request: String)

/** Wall clock in fractional epoch milliseconds (microsecond resolution). */
object Clock {
  def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}

/** Cumulative Spark task counters, read at the edges of a timed region. */
final class TaskCounters {
  val runMs = new AtomicLong; val cpuNs = new AtomicLong; val gcMs = new AtomicLong
  val tasks = new AtomicLong; val jobs = new AtomicLong
  val shuffleWrite = new AtomicLong; val shuffleRead = new AtomicLong
  val spill = new AtomicLong; val outputBytes = new AtomicLong

  def snapshot(): Map[String, Long] = Map(
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "tasks" -> tasks.get, "jobs" -> jobs.get, "shuffle_write" -> shuffleWrite.get,
    "shuffle_read" -> shuffleRead.get, "spill" -> spill.get,
    "output_bytes" -> outputBytes.get)
}

/**
 * Listeners the traced run installs from outside the engine: a
 * SparkListener for task counters and SQL-execution spans, a
 * QueryExecutionListener for the accounting pass, and the SQL metric
 * "number of sort fallback tasks". Nothing here is installed by the
 * untraced run.
 */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val counters = new TaskCounters
  /** Accounting `collect` durations (ms), in completion order. */
  val accountingMs = new ConcurrentLinkedQueue[java.lang.Double]()
  /** Sort-fallback task counts per SQL execution. */
  val sortFallbacks = new AtomicLong

  private val execStart = TrieMap.empty[Long, (Double, String)]
  /** SQL executions that wrote output, with their durations (ms). */
  val writeExecMs = new ConcurrentLinkedQueue[(Double, Double)]()
  private val execOutput = TrieMap.empty[Long, AtomicLong]
  private val stageExec = TrieMap.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      counters.jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => e.stageIds.foreach(s => stageExec.put(s, id.toLong)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      counters.tasks.incrementAndGet()
      counters.runMs.addAndGet(m.executorRunTime)
      counters.cpuNs.addAndGet(m.executorCpuTime)
      counters.gcMs.addAndGet(m.jvmGCTime)
      counters.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      counters.shuffleRead.addAndGet(
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      counters.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val out = m.outputMetrics.bytesWritten
      counters.outputBytes.addAndGet(out)
      if (out > 0) stageExec.get(e.stageId).foreach(id =>
        execOutput.getOrElseUpdate(id, new AtomicLong).addAndGet(out))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, (s.time.toDouble, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        execStart.remove(s.executionId).foreach { case (t0, desc) =>
          val name = Option(desc).map(_.take(60)).getOrElse("sql")
          spans.add(Span(s"sql:$name", "spark", t0, s.time.toDouble, s"sql-${s.executionId}"))
          if (execOutput.remove(s.executionId).exists(_.get > 0))
            writeExecMs.add((s.time.toDouble, s.time - t0))
          sortFallbacks.addAndGet(sortFallbackTasks(s.executionId))
        }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val cols = qe.analyzed.output.map(_.name).toSet
      // CdcPipeline.applyBatch's one accounting/dirty-gate aggregation
      if (funcName == "collect" && Set("rows", "lo", "hi", "buckets").subsetOf(cols))
        accountingMs.add(durationNs / 1e6)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def sortFallbackTasks(executionId: Long): Long =
    try {
      val store = spark.sharedState.statusStore
      val ids = store.execution(executionId).toSeq.flatMap(_.metrics)
        .filter(_.name == "number of sort fallback tasks").map(_.accumulatorId).toSet
      if (ids.isEmpty) 0L
      else store.executionMetrics(executionId).collect {
        case (id, v) if ids(id) => v.takeWhile(c => c.isDigit).toLongOption.getOrElse(0L)
      }.sum
    } catch { case scala.util.control.NonFatal(_) => 0L }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Let the asynchronous listener bus deliver every queued event. */
  def drain(): Unit = Thread.sleep(1500)

  def span[A](name: String, layer: String, request: String)(body: => A): A = {
    val t0 = Clock.nowMs
    try body finally spans.add(Span(name, layer, t0, Clock.nowMs, request))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

/** Stream progress, recorded by both runs: freshness needs the time each
  * epoch committed, which is the end of its trigger. The traced run reads
  * the per-trigger `durationMs` split from the same events. */
final case class Progress(batchId: Long, startMs: Double, durations: Map[String, Long])

final class ProgressRecorder extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) events.add(Progress(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Progress] = events.asScala.toSeq
}
