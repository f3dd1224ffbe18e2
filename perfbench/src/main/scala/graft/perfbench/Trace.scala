package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so op spans
  * line up with Spark's epoch-millisecond event times. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One timed call into the program from outside. `parent` is 0 for a
  * top-level operation; sub-operations (one query of a round) nest. */
final case class Op(id: Int, kind: String, parent: Int, startUs: Long,
                    endUs: Long, traced: Boolean, ok: Boolean,
                    counters: Map[String, Double]) {
  def wallUs: Long = endUs - startUs
  def ms: Double = wallUs / 1000.0
}

final case class JobRec(id: Int, op: Int, startMs: Long, stageIds: Seq[Int],
                        frames: Seq[String]) {
  @volatile var endMs: Long = -1L
  def wallS: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1000.0
  /** Innermost program frame: the function that launched the job. */
  def site: String = frames.headOption.getOrElse("")
  def under(fn: String): Boolean = frames.exists(_.startsWith(fn + ":"))
}

final case class StageRec(id: Int, startMs: Long, endMs: Long, tasks: Int,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleBytes: Long, spillBytes: Long,
                          inputBytes: Long, inputRows: Long)

final case class PhaseRec(phase: String, startMs: Long, endMs: Long)

/** Bytes one file scan read ("size of files read", after partition
  * pruning), with the scanned root paths. */
final case class ScanRec(startMs: Long, roots: Seq[String], bytes: Long)

/** Times every operation; with tracing on, also records Spark jobs,
  * stages and plan phases as spans under the operation that caused them.
  * Spans stay in memory until the run ends. */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = 1
  private var stack = List.empty[Int]

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val execFrames = new ConcurrentHashMap[Long, Seq[String]]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val scans = new ConcurrentLinkedQueue[ScanRec]()

  if (tracing) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val op = Option(e.properties)
          .flatMap(p => Option(p.getProperty(Recorder.OpKey)))
        op.foreach { id =>
          val details = e.stageInfos.sortBy(_.stageId).lastOption
            .map(_.details).getOrElse("")
          // a job submitted from an engine thread (broadcast, subquery)
          // carries no program frame: take its SQL execution's call site
          val own = Recorder.programFrames(details)
          val frames = if (own.nonEmpty) own else Option(e.properties
            .getProperty("spark.sql.execution.id"))
            .flatMap(x => Option(execFrames.get(x.toLong))).getOrElse(Seq.empty)
          jobs.put(e.jobId, JobRec(e.jobId, id.toInt, e.time, e.stageIds, frames))
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execFrames.put(x.executionId, Recorder.programFrames(x.details))
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null) stages.put(si.stageId, StageRec(si.stageId,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        qe.tracker.phases.foreach { case (name, p) =>
          phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs))
        }
        val t = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
        Recorder.fileScans(qe.executedPlan).foreach { case (roots, bytes) =>
          scans.add(ScanRec(t, roots, bytes))
        }
      }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    })
  }

  /** Runs `body` as one operation. A failure is recorded (and counted by
    * the caller) instead of thrown; its time never enters a latency. */
  def op[A](kind: String, traced: Boolean = tracing)(body: => A): Option[A] = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Recorder.OpKey)
    if (traced) sc.setLocalProperty(Recorder.OpKey, id.toString)
    val before = if (traced) Recorder.counters(spark) else Map.empty[String, Double]
    stack = id :: stack
    val t0 = Clock.nowUs
    val result =
      try Some(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind failed: $e")
          e.printStackTrace()
          None
      }
    val t1 = Clock.nowUs
    stack = stack.tail
    sc.setLocalProperty(Recorder.OpKey, prevProp)
    val deltas =
      if (!traced) Map.empty[String, Double]
      else {
        val after = Recorder.counters(spark)
        after.map { case (k, v) =>
          k -> (if (k == "Tables.cached_bytes") v else v - before(k))
        }
      }
    ops += Op(id, kind, parent, t0, t1, traced, result.isDefined, deltas)
    result
  }

  def okOps(kind: String): Seq[Op] = ops.filter(o => o.kind == kind && o.ok).toSeq
  def failed: Int = ops.count(o => !o.ok && o.parent == 0)

  // ---- trace analysis (after the run) ----

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** A job's layer: the program function that launched it, else (an
    * action the benchmark issued itself) the operation it ran under. */
  private def layerOf(j: JobRec): String =
    if (j.site.nonEmpty) j.site
    else ops.find(_.id == j.op).map(o => s"exec:${o.kind}").getOrElse("exec")

  private def descendants(op: Op): Set[Int] = {
    val kids = ops.filter(_.parent == op.id)
    Set(op.id) ++ kids.flatMap(descendants)
  }

  def jobsOf(op: Op): Seq[JobRec] = {
    drain()
    val ids = descendants(op)
    jobs.values.asScala.filter(j => ids.contains(j.op)).toSeq.sortBy(_.id)
  }

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))

  def phasesOf(op: Op): Seq[PhaseRec] = {
    drain()
    val (lo, hi) = (op.startUs / 1000L, op.endUs / 1000L + 1)
    phases.asScala.filter(p => p.startMs >= lo && p.startMs <= hi).toSeq
  }

  /** Bytes read by the op's file scans whose root paths lie under
    * `root`. */
  def scanBytesUnder(op: Op, root: String): Double = {
    drain()
    val (lo, hi) = (op.startUs / 1000L, op.endUs / 1000L + 1)
    val dir = new java.io.File(root).getAbsolutePath
    scans.asScala.filter(s => s.startMs >= lo && s.startMs <= hi &&
      s.roots.exists(_.contains(dir))).map(_.bytes.toDouble).sum
  }

  /** Engine-layer metrics of one traced operation. */
  def layers(op: Op, cores: Int): Map[String, Double] = {
    val js = jobsOf(op)
    val ss = stagesOf(js)
    val ps = phasesOf(op)
    val wallS = op.wallUs / 1e6
    def ms(phase: String) = ps.filter(_.phase == phase)
      .map(p => (p.endMs - p.startMs).toDouble).sum
    val jobIv = js.filter(_.endMs >= 0).map(j => (j.startMs * 1000L, j.endMs * 1000L))
    val planIv = ps.map(p => (p.startMs * 1000L, p.endMs * 1000L))
    val jobUnionS = Recorder.union(jobIv, op.startUs, op.endUs) / 1e6
    // op wall that no job and no plan phase covers
    val gapS = wallS - Recorder.union(jobIv ++ planIv, op.startUs, op.endUs) / 1e6
    val runS = ss.map(_.runMs).sum / 1e3
    op.counters ++ Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.job_wall_s" -> js.map(_.wallS).sum,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "exec.slot_util" -> (if (jobUnionS > 0) runS / (jobUnionS * cores) else 0.0),
      "exec.shuffle_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
      "exec.spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
      "exec.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "driver.gap_s" -> gapS,
      "Tables.scan_bytes" -> ss.map(_.inputBytes).sum.toDouble,
      "Tables.scan_rows" -> ss.map(_.inputRows).sum.toDouble,
      "plan.analysis_ms" -> ms("analysis"),
      "plan.optimizer_ms" -> ms("optimization"),
      "plan.physical_ms" -> ms("planning"))
  }

  /** Self time per layer over the given traced ops: each instant of an op
    * goes to the deepest span covering it (a job → the program function
    * that launched it; a plan phase → `plan.<phase>`; nothing →
    * `driver`). Sums to the ops' wall by construction. */
  def selfTime(timed: Seq[Op]): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    timed.filter(_.traced).foreach { op =>
      val js = jobsOf(op).filter(_.endMs >= 0)
      val spans: Seq[(Long, Long, Int, String)] =
        js.map(j => (j.startMs * 1000L, j.endMs * 1000L, 2, layerOf(j))) ++
          phasesOf(op).map(p => (p.startMs * 1000L, p.endMs * 1000L, 1,
            s"plan.${p.phase}"))
      val cuts = (Seq(op.startUs, op.endUs) ++ spans.flatMap(s => Seq(s._1, s._2)))
        .filter(t => t >= op.startUs && t <= op.endUs).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val mid = (a + b) / 2
          val cover = spans.filter(s => s._1 <= mid && s._2 > mid)
          val layer = if (cover.isEmpty) "driver" else cover.maxBy(_._3)._4
          acc(layer) += (b - a) / 1e6
        case _ =>
      }
    }
    acc.toMap
  }

  /** Every recorded span, one JSON object per line: operations, the jobs
    * and stages they caused, and plan phases (under the innermost traced
    * operation that contains them). */
  def spanLines(): Seq[String] = {
    drain()
    val traced = ops.filter(_.traced).toSeq
    val out = mutable.ArrayBuffer.empty[String]
    def line(id: String, parent: String, op: Int, name: String,
             s: Long, e: Long) = out += Json(scala.collection.immutable.ListMap(
      "id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
      "start_us" -> s, "end_us" -> e))
    traced.foreach { o =>
      line(s"o${o.id}", if (o.parent == 0) "" else s"o${o.parent}", o.id,
        o.kind, o.startUs, o.endUs)
    }
    phases.asScala.toSeq.zipWithIndex.foreach { case (p, i) =>
      traced.filter(o => o.startUs / 1000L <= p.startMs && p.startMs <= o.endUs / 1000L)
        .sortBy(_.startUs).lastOption.foreach { o =>
          line(s"p$i", s"o${o.id}", o.id, s"plan.${p.phase}",
            p.startMs * 1000L, p.endMs * 1000L)
        }
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      line(s"j${j.id}", s"o${j.op}", j.op, s"job:${layerOf(j)}",
        j.startMs * 1000L, j.endMs * 1000L)
      j.stageIds.flatMap(s => Option(stages.get(s))).foreach { s =>
        line(s"s${s.id}", s"j${j.id}", j.op, s"stage:${s.id}",
          s.startMs * 1000L, s.endMs * 1000L)
      }
    }
    out.toSeq
  }
}

object Recorder {
  val OpKey = "perfbench.op"

  /** Program frames of a job's call site, innermost first, as
    * `pkg.Object.method:line` with the `graft.` prefix dropped — the
    * JobProbe attribution. The benchmark's own frames are skipped. */
  def programFrames(details: String): Seq[String] =
    details.linesIterator.map(_.trim.stripPrefix("at ")).collect {
      case l if l.startsWith("graft.") && !l.startsWith("graft.perfbench") =>
        val m = l.takeWhile(_ != '(').stripPrefix("graft.").replace("$", "")
          .replaceAll("\\.+", ".")
        val line = l.dropWhile(_ != ':').drop(1).takeWhile(_.isDigit)
        s"$m:$line"
    }.toSeq

  /** Counters the program and the engine keep, read around each traced
    * op. */
  def counters(spark: SparkSession): Map[String, Double] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    Map(
      "plan.codegen_compile_ms" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .compileTime / 1e6,
      "plan.codegen_classes" ->
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble,
      "IndexManifest.manifest_bytes" ->
        graft.data.IndexManifest.manifestBytesWritten.get.toDouble,
      "IndexManifest.dir_listings" ->
        graft.data.IndexManifest.partitionDirListings.get.toDouble,
      "Tables.cached_bytes" -> spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum.toDouble)
  }

  private object PlanWalk
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** (root paths, size of files read) of every file scan in an executed
    * plan, adaptive query stages and subqueries included. */
  def fileScans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[(Seq[String], Long)] =
    PlanWalk.collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        (s.relation.location.rootPaths.map(_.toString),
          s.metrics.get("filesSize").map(_.value).getOrElse(0L))
    }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
