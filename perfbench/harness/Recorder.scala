package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans line up with the epoch-ms stamps Spark puts on its events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans recorded by the benchmark around its calls into each layer.
  * The benchmark issues one call at a time from one thread, so a stack
  * gives each span its parent. Spans stay in memory until [[json]]. */
final class Spans(val enabled: Boolean) {
  private final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Double, var end: Double)
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var op = -1

  /** Marks the start of one benchmark op; spans opened until the next
    * call carry its id. */
  def newOp(): Unit = op += 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, stack.headOption.fold(-1)(_.id), op, Clock.ms, 0)
      nextId += 1
      stack = s :: stack
      try body
      finally {
        s.end = Clock.ms
        stack = stack.tail
        done += s
      }
    }

  def json: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""op":${s.op},"start":${s.start},"end":${s.end}}"""
  }.mkString("[", ",", "]")
}

/** Spark events kept for the trace: jobs, tasks, streaming progress and
  * the scan-file counters. Attached from outside the program with
  * `addSparkListener`. With `full = false` it keeps only the streaming
  * progress events, which is what the untraced run needs for its
  * per-trigger latencies. */
final class Recorder(full: Boolean) extends SparkListener {
  private val jobs = ArrayBuffer.empty[String]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Double, String)]
  private val tasks = ArrayBuffer.empty[String]
  private val progress = ArrayBuffer.empty[String]
  private val fileMetricIds = scala.collection.mutable.Set.empty[Long]
  private val filesRead = ArrayBuffer.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobStart(e.jobId) = (e.time.toDouble, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, desc) =>
      jobs += s"""{"id":${e.jobId},"start":$t0,"end":${e.time},""" +
        s""""desc":${Json.str(desc.take(120))}}"""
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val (run, sw, sr, spill, in) =
      if (m == null) (0L, 0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    tasks += s"""{"stage":${e.stageId},"attempt":${e.stageAttemptId},""" +
      s""""start":${i.launchTime},"end":${i.finishTime},"run_ms":$run,""" +
      s""""ok":${i.successful},"shuffle_w":$sw,"shuffle_r":$sr,""" +
      s""""spill":$spill,"input":$in}"""
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val pr = p.progress
      val d = pr.durationMs
      val durs = if (d == null) "" else {
        import scala.jdk.CollectionConverters._
        d.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${Json.str(k)}:${v.longValue}" }.mkString(",")
      }
      // The trigger's own start, not the time the listener bus delivered
      // its progress.
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli
      progress += s"""{"batch":${pr.batchId},"start":$start,""" +
        s""""rows":${pr.numInputRows},"durations":{$durs}}"""
    }
    case s: SparkListenerSQLExecutionStart if full => synchronized {
      collectFileMetrics(s.sparkPlanInfo)
    }
    case s: SparkListenerSQLAdaptiveExecutionUpdate if full => synchronized {
      collectFileMetrics(s.sparkPlanInfo)
    }
    case u: SparkListenerDriverAccumUpdates if full => synchronized {
      u.accumUpdates.foreach { case (id, v) =>
        if (fileMetricIds.contains(id)) filesRead += s"[${Clock.ms},$v]" }
    }
    case _ =>
  }

  private def collectFileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => if (m.name == "number of files read")
      fileMetricIds += m.accumulatorId)
    p.children.foreach(collectFileMetrics)
  }

  def json: String = synchronized {
    s"""{"jobs":${jobs.mkString("[", ",", "]")},""" +
      s""""tasks":${tasks.mkString("[", ",", "]")},""" +
      s""""progress":${progress.mkString("[", ",", "]")},""" +
      s""""files_read":${filesRead.mkString("[", ",", "]")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
