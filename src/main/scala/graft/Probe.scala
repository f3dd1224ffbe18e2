package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Profiler for registered queries — the "where does the time go"
  * answer as text.
  *
  * {{{
  * runMain graft.Probe stages  <sfDir> <name>[,name…]
  * runMain graft.Probe jobs    <sfDir> <name>[,name…]
  * runMain graft.Probe explain <sfDir> <name>[,name…] [outDir]
  * }}}
  *
  *  - `stages` (Bench session shape): build time, warm walls and, for ONE
  *    steady-state rep, every job and stage with wall, task count,
  *    executor run and CPU time, shuffle and input bytes.
  *  - `jobs` (Verify session shape): runs each query the way Verify pays
  *    for it — build, including lifecycle side effects, plus a
  *    coalesce(1) parquet dump — and prints its wall and the call-site
  *    census of its Spark jobs.
  *  - `explain` (Bench session shape): the formatted physical plan, or
  *    with `outDir` one `<outDir>/<name>.txt` per query.
  */
object Probe {

  final case class StageRow(job: Int, stage: Int, tasks: Int, wallMs: Long,
                            runMs: Long, cpuMs: Long, shuffleReadB: Long,
                            shuffleWriteB: Long, inputB: Long, name: String)

  /** One query's `stages` profile; `stages` rows are the recorded rep's. */
  final case class StagesRun(name: String, buildS: Double, warmS: Seq[Double],
                             recordedS: Double, jobWallMs: Map[Int, Long],
                             stages: Seq[StageRow])

  /** One query's `jobs` profile: its Verify-way wall and the call site of
    * every job it ran, in submission order. */
  final case class JobsRun(name: String, wallS: Double, sites: Seq[String])

  private def millis(start: Option[Long], end: Option[Long]): Long =
    (for (s <- start; e <- end) yield e - s).getOrElse(-1L)

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `body` with `listener` attached, every event of `body` delivered. */
  private def listening[T](spark: SparkSession, listener: SparkListener)
                          (body: => T): T = {
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try { val r = body; GraftBus.drain(sc); r }
    finally sc.removeSparkListener(listener)
  }

  /** Builds `name`, runs it `warmups` times untimed and `reps` times
    * timed into a noop sink, then records one more rep stage by stage. */
  def stages(spark: SparkSession, sfDir: String, name: String,
             warmups: Int = 3, reps: Int = 6): StagesRun = {
    val t0 = System.nanoTime()
    val df = Registry.byName(name).build(spark, sfDir)
    val buildS = (System.nanoTime() - t0) / 1e9
    def run(): Double = timed {
      df.write.format("noop").mode("overwrite").save()
    }
    (1 to warmups).foreach(_ => run())
    val warm = (1 to reps).map(_ => run())
    val rows = mutable.ArrayBuffer[StageRow]()
    val stageToJob = mutable.Map[Int, Int]()
    val jobStart = mutable.Map[Int, Long]()
    val jobEnd = mutable.Map[Int, Long]()
    val recorded = listening(spark, new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageIds.foreach(stageToJob(_) = js.jobId)
        jobStart(js.jobId) = js.time
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobEnd(je.jobId) = je.time
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        rows += StageRow(stageToJob.getOrElse(si.stageId, -1), si.stageId,
          si.numTasks, millis(si.submissionTime, si.completionTime),
          tm.executorRunTime, tm.executorCpuTime / 1000000,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten, tm.inputMetrics.bytesRead,
          si.name.linesIterator.next().take(80))
      }
    })(run())
    StagesRun(name, buildS, warm, recorded,
      jobStart.keys.map(j => j -> millis(jobStart.get(j), jobEnd.get(j))).toMap,
      rows.sortBy(r => (r.job, r.stage)).toSeq)
  }

  private def isProbeFrame(frame: String): Boolean =
    frame.startsWith("graft.Probe.") || frame.startsWith("graft.Probe$")

  /** The first program frame outside this probe in `stacks`, tried in
    * order. */
  private def programFrame(stacks: Seq[String]): Option[String] =
    stacks.iterator.flatMap(_.linesIterator).map(_.trim.stripPrefix("at "))
      .find(l => l.startsWith("graft.") && !isProbeFrame(l))

  /** Runs `name` the Verify way — build plus a coalesce(1) parquet dump
    * under `outDir` — and returns its wall and job call sites. A job's
    * site is the first program frame outside this probe of the stack
    * that submitted it, else of its SQL execution's stack (a job
    * submitted from an engine thread — AQE stages, broadcasts — has no
    * program frame of its own), else the execution's or the stage's
    * short call site. Releases the session's caches afterwards, as
    * Verify does between queries. */
  def jobs(spark: SparkSession, sfDir: String, name: String,
           outDir: String): JobsRun = {
    val sites = mutable.ArrayBuffer[String]()
    val execs = mutable.Map[String, SparkListenerSQLExecutionStart]()
    val wall = listening(spark, new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId.toString) = s
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val result = js.stageInfos.lastOption
        val exec = Option(js.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(execs.get)
        sites += programFrame(result.map(_.details).toSeq ++
            exec.map(_.details))
          .orElse(exec.map(_.description))
          .orElse(result.map(_.name)).getOrElse("?")
      }
    })(timed {
      Registry.byName(name).build(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
    })
    spark.catalog.clearCache()
    JobsRun(name, wall, sites.toSeq)
  }

  /** The formatted physical plan of `name`, compacted as in PLANS.md. */
  def explain(spark: SparkSession, sfDir: String, name: String): String =
    Plans.compact(Registry.byName(name).build(spark, sfDir)
      .queryExecution.explainString(FormattedMode))

  private val Usage =
    "usage: graft.Probe stages|jobs|explain <sfDir> <name>[,name…] [outDir]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) sys.error(Usage)
    val Array(mode, sfDir, nameList) = args.take(3)
    val names = nameList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = mode match {
      case "jobs" => Sessions.local(Sessions.envCpus(4), aqe = true)
      case "stages" | "explain" =>
        Sessions.local(Sessions.envCpus(32), aqe = false)
      case _ => sys.error(Usage)
    }
    mode match {
      case "stages" => names.foreach(n => printStages(stages(spark, sfDir, n)))
      case "jobs" =>
        val out = Files.createTempDirectory("graft_probe").toString
        try names.foreach(n => printJobs(jobs(spark, sfDir, n, out)))
        finally FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
          .delete(new Path(out), true): Unit
      case "explain" => names.foreach { n =>
        val plan = explain(spark, sfDir, n)
        args.lift(3) match {
          case Some(dir) =>
            Files.createDirectories(Paths.get(dir))
            Files.writeString(Paths.get(dir, s"$n.txt"), plan + "\n")
            println(s"wrote $dir/$n.txt")
          case None => println(s"== $n\n$plan")
        }
      }
    }
    spark.stop()
  }

  private def printStages(r: StagesRun): Unit = {
    println(f"[probe stages] ${r.name} build=${r.buildS}%.3f " +
      f"warm_min=${r.warmS.min}%.3f " +
      f"warm=${r.warmS.map(w => f"$w%.3f").mkString(",")} " +
      f"recorded=${r.recordedS}%.3f jobs=${r.jobWallMs.size} " +
      s"stages=${r.stages.size} tasks=${r.stages.map(_.tasks).sum}")
    r.stages.groupBy(_.job).toSeq.sortBy(_._1).foreach { case (job, ss) =>
      println(f"[probe stages] job $job wall=${r.jobWallMs.getOrElse(job, -1L)}ms " +
        s"stages=${ss.size}")
      ss.foreach { s =>
        println(f"[probe stages]   stage ${s.stage}%4d tasks=${s.tasks}%3d " +
          f"wall=${s.wallMs}%5dms run=${s.runMs}%5dms cpu=${s.cpuMs}%5dms " +
          f"sr=${s.shuffleReadB}%9dB sw=${s.shuffleWriteB}%9dB " +
          f"in=${s.inputB}%10dB ${s.name}")
      }
    }
  }

  private def printJobs(r: JobsRun): Unit = {
    println(f"[probe jobs] ${r.name} ${r.wallS}%.2f s, ${r.sites.size} jobs")
    r.sites.groupBy(identity).toSeq.sortBy(-_._2.size).foreach { case (s, n) =>
      println(f"[probe jobs]   ${n.size}%4d x $s")
    }
    println("[probe jobs] first 60 in order: " + r.sites.take(60).mkString(" | "))
  }
}
