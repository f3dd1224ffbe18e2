package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its Spark session: `local[cpus]` with
  * `cpus` shuffle partitions, UTC, the UI off and the aggregate-fallback
  * threshold below. `TestSpark` keeps its own shape: the suites exercise
  * the aggregate paths Spark's default fallback threshold selects.
  */
object Sessions {

  /** The session confs, as a pure map so the Bench and Verify shapes
    * can be pinned without starting a second session.
    *
    *  - `aqe`: Bench runs with AQE OFF — every headline query is
    *    sub-second at bench scale and its shuffle sizing is already
    *    explicit (partitions = cores), so AQE's per-stage driver re-plan
    *    round-trips are pure overhead: measured +26% on the 7-query total
    *    at sf0.1 (5.25 s → 4.16 s). Verify and production sessions at real
    *    scale keep AQE on (skew-join splitting, runtime broadcast); the
    *    static planner still picks broadcast joins from parquet size
    *    stats.
    *  - ObjectHashAggregate (ArgMaxFields, collect_list) falls back to
    *    sort-based aggregation once a task's in-memory hash map reaches
    *    this many groups; the Spark default (128) was tuned for huge
    *    collect_list buffers and kicks in far too early for fixed-size
    *    argmax buffers. 64k groups × ~1 KB buffer ≈ 64 MB/task worst case
    *    — comfortably inside executor memory, and past that the
    *    sort-based fallback is the correct safety valve at 100 TB.
    */
  def confs(cpus: Int, aqe: Boolean): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.ui.enabled" -> "false")

  /** A local session in the [[confs]] shape, with the WARN log level and
    * the one-time `vec_dot`/`vec_sqdist` registration done. */
  def local(cpus: Int, aqe: Boolean): SparkSession = {
    val spark = confs(cpus, aqe)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(spark)
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
