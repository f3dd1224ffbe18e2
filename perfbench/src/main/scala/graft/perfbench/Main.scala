package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`perfbench/run.py` launches it):
  * `Main <workload> key=value...`. Runs one workload against generated
  * inputs, timing each call into the program's public functions from
  * outside, checks the outputs outside the timed regions, and writes
  * `result.json` (and with tracing on, `spans.jsonl`) into the work
  * directory. It changes no program code and no program state beyond
  * what those calls do themselves. */
object Main {

  /** The session every workload runs in: graft.Bench's confs with AQE
    * left at the production default (on). */
  def sessionConfs(cores: Int, work: String, trace: Boolean): ListMap[String, String] =
    ListMap(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse") ++
      // deeper call sites let a traced job name every program frame
      // that launched it; the untraced runs keep Spark's default
      (if (trace) ListMap("spark.callstack.depth" -> "200") else ListMap.empty)

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val kv = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = kv("work")
    val cores = kv("cores").toInt
    val trace = kv("trace") == "1"
    val confs = sessionConfs(cores, work, trace)
    val t0 = Clock.nowUs
    val builder = SparkSession.builder()
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    val sessionUs = Clock.nowUs
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    val rec = new Recorder(spark, trace)
    val ctx = Ctx(spark, rec, kv, cores, kv("seconds").toDouble,
      kv("seed").toLong, work, sessionUs - t0)
    val out = workload match {
      case "monthly_report" => Workloads.monthlyReport(ctx)
      case "query_warm" => Workloads.queryWarm(ctx)
      case "index_maintain" => Workloads.indexMaintain(ctx)
      case "lineage_build" => Workloads.lineageBuild(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val context = ListMap(
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.runtime.version"),
      "jvm_start_epoch_ms" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime,
      "session_ready_us" -> sessionUs,
      "session_confs" -> confs)
    if (trace) {
      val spans = rec.spanLines()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/spans.jsonl"),
        (spans.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val result = out ++ ListMap(
      "session_start_s" -> (sessionUs - t0) / 1e6,
      "failed" -> rec.failed,
      "ops_ms" -> rec.ops.filter(_.parent == 0).groupBy(_.kind)
        .map { case (k, os) => k -> os.map(_.ms).toSeq },
      "context" -> context)
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/result.json"),
      Json(result).getBytes("UTF-8"))
  }
}

/** What every workload gets: the session, the recorder, the arguments
  * run.py passed, the run length and the seed. */
final case class Ctx(spark: SparkSession, rec: Recorder, args: Map[String, String],
                     cores: Int, seconds: Double, seed: Long, work: String,
                     sessionStartUs: Long)
