package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The Bench and Verify session shapes, pinned as literal confs, and
  * the guard that keeps every main on [[Sessions]]. Starts no session. */
class SessionsSpec extends AnyFunSuite {

  private val common = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.ui.enabled" -> "false")

  test("Bench shape: local[cpus], cpus shuffle partitions, AQE off") {
    assert(Sessions.confs(32, aqe = false) == common ++ Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "false"))
  }

  test("Verify shape: local[cpus], cpus shuffle partitions, AQE on") {
    assert(Sessions.confs(4, aqe = true) == common ++ Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true"))
    // Verify used to leave AQE at Spark's default; setting it explicitly
    // is the same session only while that default is on
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true))
  }

  test("no main builds its own session: SparkSession.builder appears " +
      "only in Sessions.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map((p: Path) => root.relativize(p).toString).toSeq.sorted
    assert(offenders == Seq("scala/graft/Sessions.scala"))
  }
}
