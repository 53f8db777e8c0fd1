package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PlanPhases, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, on the same base as
  * the listener events' `System.currentTimeMillis` stamps. */
object Clock {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = base + (System.nanoTime() - nano0) / 1e6
}

/** Process-wide counters read around each traced call: local file-system
  * operations ([[FsOps]]) and the JVM's GC time. */
object Counters {
  def snapshot(): Map[String, Long] = {
    val gc = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    FsOps.snapshot() + ("gc_ms" -> gc)
  }
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Per-trigger progress of every streaming query, recorded in both modes:
  * the stream replays' trigger counts are part of the correctness gate. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  /** The harness drains the bus after each operation, so every progress
    * event is delivered while its own operation is current. */
  @volatile var currentOp = -1
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    progress.add(Map(
      "op" -> currentOp,
      "batch" -> p.batchId,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_rows" -> ops.map(_.numRowsTotal).sum))
  }
  def count: Int = progress.size
}

/** Records the program's Spark activity from outside it: SQL executions
  * with their planning phases, jobs and tasks (SparkListener). Events are
  * only buffered here; span nesting and self times are computed from the
  * dump by the Python side (pb/layers.py). */
final class Tracer extends SparkListener {
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Map[String, Any]]()
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Seq[Any]]
  val sqls = new ConcurrentHashMap[Long, Map[String, Any]]()
  @volatile var jobsStarted = 0
  @volatile var jobsEnded = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, Map("id" -> e.jobId, "t0" -> e.time.toDouble,
      "exec" -> exec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    val s = Option(jobStart.remove(e.jobId)).getOrElse(Map("id" -> e.jobId))
    jobs += s ++ Map("t1" -> e.time.toDouble,
      "ok" -> (e.jobResult == JobSucceeded))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks += Seq(stageJob.getOrDefault(e.stageId, -1), i.launchTime,
        i.finishTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
  }

  private val pagesRe = "graft-slot-catalog [^\\n]* pages=(\\d+)".r

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val pages = pagesRe.findFirstMatchIn(s.physicalPlanDescription)
        .map(_.group(1).toInt).getOrElse(-1)
      sqls.put(s.executionId, Map("id" -> s.executionId,
        "root" -> s.rootExecutionId.getOrElse(s.executionId),
        "t0" -> s.time.toDouble, "catalog_pages" -> pages))
    case s: SparkListenerSQLExecutionEnd =>
      val ph = PlanPhases.ms(s)
      val plan = Seq("analysis", "optimization", "planning")
        .map(k => s"${k}_ms" -> ph.getOrElse(k, 0L)).toMap
      sqls.computeIfPresent(s.executionId,
        (_, m) => m ++ plan + ("t1" -> s.time.toDouble))
    case _ => ()
  }

  def dump: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "tasks" -> tasks.toList,
      "sqls" -> sqls.values.asScala.toList.sortBy(_("id").asInstanceOf[Long]))
  }
}

/** The harness's own record of a run: every operation (tick, ingest call,
  * query) with its outcome, and, when tracing, a span around each call into
  * a program module with the process counters it moved. */
final class Recorder(spark: SparkSession, val tracer: Option[Tracer],
    val streams: StreamProbe, extra: () => Map[String, Long]) {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val calls = ArrayBuffer.empty[Map[String, Any]]
  private var nextOp = 0
  var busMismatches = 0
  def tracing: Boolean = tracer.isDefined

  /** Span around one call into a program module (trace mode only). */
  def call[T](name: String, attrs: (String, Any)*)(f: => T): T =
    if (!tracing) f
    else {
      val c0 = Counters.snapshot() ++ extra()
      val t0 = Clock.nowMs
      try f
      finally {
        val t1 = Clock.nowMs
        val d = Counters.delta(c0, Counters.snapshot() ++ extra())
        calls += Map("name" -> name, "op" -> nextOp, "t0" -> t0, "t1" -> t1) ++
          attrs ++ d
      }
    }

  /** One operation: timed in both modes; failures are recorded, not thrown. */
  def op(kind: String, measured: Boolean, attrs: (String, Any)*)(
      f: => Map[String, Any]): Map[String, Any] = {
    streams.currentOp = nextOp
    val t0 = Clock.nowMs
    val (ok, out) =
      try (true, f)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind failed: ${e.getClass.getName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | "))
          (false, Map.empty[String, Any])
      }
    val t1 = Clock.nowMs
    val rec = Map("id" -> nextOp, "kind" -> kind, "t0" -> t0, "t1" -> t1,
      "ms" -> (t1 - t0), "ok" -> ok, "measured" -> measured) ++ attrs ++ out
    ops += rec
    nextOp += 1
    rec
  }

  /** Drain the listener bus; in trace mode also check that every job that
    * started has ended, so a snapshot never reads half an operation. */
  def drain(): Unit = {
    BusDrain.drain(spark.sparkContext)
    tracer.foreach { t =>
      if (t.jobsStarted != t.jobsEnded) {
        busMismatches += 1
        System.err.println(s"[perfbench] listener bus: ${t.jobsStarted} jobs " +
          s"started, ${t.jobsEnded} ended after drain")
      }
    }
  }
}
