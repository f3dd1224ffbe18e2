package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s collectors on a real headliner: the rows they return
  * are what `main` prints. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stages records the steady-state rep's jobs and stages") {
    val r = Probe.stages(spark, TestSpark.sf, "ref_q1_agg",
      warmups = 1, reps = 1)
    assert(r.warmS.size == 1 && r.recordedS > 0)
    assert(r.jobWallMs.nonEmpty, "the recorded rep must run a job")
    assert(r.stages.nonEmpty)
    r.stages.foreach { s =>
      assert(s.tasks > 0, s"stage ${s.stage} ran no tasks")
      assert(r.jobWallMs.contains(s.job), s"stage ${s.stage} has no job")
    }
  }

  test("jobs attributes every job to a program frame outside the probe") {
    val out = Files.createTempDirectory("graft_probespec")
    try {
      val r = Probe.jobs(spark, TestSpark.sf, "ref_q1_agg", out.toString)
      assert(r.sites.nonEmpty, "the Verify-way dump must run a job")
      r.sites.foreach { s =>
        assert(s.startsWith("graft.") && !s.startsWith("graft.Probe.") &&
          !s.startsWith("graft.Probe$"), s"unattributed job: $s")
      }
      assert(Files.isDirectory(out.resolve("ref_q1_agg")))
    } finally
      Files.walk(out).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
  }
}
