package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.{Caches, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The one diagnostic main: where ONE registered [[graft.SparkEntry]]
  * query spends its time, without a bespoke profiler. Three modes:
  *
  *  - `jobs`: per Spark job, its wall-clock, summed task time, stage
  *    and task counts and label (wall >> task-sum/cores means the job
  *    is scheduler-bound, not compute-bound), plus one `TRIGGER` line
  *    per streaming micro-batch with the engine's own `durationMs`
  *    phase split;
  *  - `plan`: the formatted executed plan (AQE's final one) to
  *    `$GRAFT_PLANS_DIR/<query>.txt` (default `plans/`);
  *  - `time`: the plan-shape counters a perf audit reads first, then a
  *    cache-cleared repeat-timing series.
  *
  * Usage: `sbt "runMain graft.tools.Probe jobs|plan|time
  * <query[,query...]> [reps]"`, with `SPARK_GRAFT_SF_DIR` and
  * `SPARK_GRAFT_CPUS` as for [[graft.Bench]]. Timings are warm repeats
  * in a JVM that ran nothing else: comparable with each other, not
  * with the bench artifact.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val (mode, names) = args match {
      case Array(m @ ("jobs" | "plan" | "time"), qs, _*) => (m, qs.split(',').toSeq)
      case _ => sys.error("usage: Probe jobs|plan|time <query[,query...]> [reps]")
    }
    val reps = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", SparkEntry.DEFAULT_CPUS)
    val plansDir = Paths.get(sys.env.getOrElse("GRAFT_PLANS_DIR", "plans"))
    val spark = SparkEntry.localSession(cpus)
    try names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; see SparkEntry.queries"))
      def run(): Double = {
        Caches.clearAll()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      mode match {
        case "jobs" => jobs(spark, name, reps, cpus.toInt, run())
        case "plan" =>
          Files.createDirectories(plansDir)
          val out = plansDir.resolve(s"$name.txt")
          Files.writeString(out, executed(fn(spark, sfDir))
            .queryExecution.explainString(FormattedMode))
          println(s"wrote $out")
        case "time" =>
          val p = executed(fn(spark, sfDir)).queryExecution.executedPlan.toString
          def n(rx: String) = rx.r.findAllIn(p).length
          // "(?<!Reused)Exchange": a plain "Exchange " also matches
          // inside every "ReusedExchange" node.
          println(s"PLAN scans=${n("Scan parquet")} exchanges=${n("(?<!Reused)Exchange ")}" +
            s" reused=${n("ReusedExchange|ReusedQueryStage")}" +
            s" codegen=${n("""\*\(\d+\)""")}" +
            s" windows=${n("Window ")} joins=${n("Join ")}")
          val times = Seq.fill(reps)(run())
          println("TIMES " + times.map(t => f"$t%.3f").mkString(" ") +
            f" min=${times.min}%.3f")
      }
    } finally spark.stop()
  }

  /** Runs THIS frame's own plan, so its executed plan is AQE's final
    * one (reused exchanges, coalesced reads); `df.count()` would run a
    * different plan. */
  private def executed(df: DataFrame): DataFrame = {
    df.queryExecution.toRdd.count()
    df
  }

  private final case class JobRow(id: Int, wallMs: Long, taskMs: Long,
      stages: Int, tasks: Int, desc: String)

  private def jobs(spark: SparkSession, name: String, reps: Int, cpus: Int,
      run: => Double): Unit = {
    val rows = new ConcurrentHashMap[Int, JobRow]()
    val jobStart = new ConcurrentHashMap[Int, Long]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        rows.put(e.jobId, JobRow(e.jobId, 0, 0, e.stageIds.size, 0,
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("").replace('\n', ' ').take(60)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        rows.computeIfPresent(e.jobId, (_, r) =>
          r.copy(wallMs = e.time - jobStart.getOrDefault(e.jobId, e.time)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          rows.computeIfPresent(stageToJob.getOrDefault(e.stageId, -1), (_, r) =>
            r.copy(taskMs = r.taskMs + e.taskMetrics.executorRunTime, tasks = r.tasks + 1))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent => println(
          s"TRIGGER batch=${p.progress.batchId} durationMs=${p.progress.durationMs}")
        case _ =>
      }
    }
    run // warm-up, uncounted
    spark.sparkContext.addSparkListener(listener)
    val times = Seq.fill(reps)(run)
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let the listener bus drain
    val all = rows.values.asScala.toSeq.sortBy(_.id)
    println(s"QUERY $name reps=$reps wall=${times.map(t => f"$t%.2f").mkString(",")}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%8s ${"stg"}%4s ${"tasks"}%6s  desc")
    all.foreach(r => println(
      f"${r.id}%4d ${r.wallMs}%8d ${r.taskMs}%8d ${r.stages}%4d ${r.tasks}%6d  ${r.desc}"))
    val taskSum = all.map(_.taskMs).sum
    println(f"TOTAL jobs=${all.size} jobWallSum=${all.map(_.wallMs).sum}ms " +
      f"taskTimeSum=${taskSum}ms (~${taskSum / cpus.toDouble}%.0fms/core) " +
      f"queryWall=${times.sum / reps * 1000}%.0fms/rep")
  }
}
