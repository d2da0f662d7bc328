package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the `SPARK_GRAFT_*` environment settings the engine reads.
  * What remains is deployment (cluster shape, extra confs) and tooling
  * (bench/profile hand-off); tuning decisions such as parallelism floors
  * are constants in code, so a new knob arrives as a reviewed edit to
  * this list. */
class EnvKnobsSpec extends AnyFunSuite {

  private val expected = Set(
    // deployment
    "CPUS", "MASTER", "EXECUTOR_MEM", "EXTRA_CONF",
    // tooling: corpus dir, PlanDump profiling, Bench hand-off
    "SF_DIR", "PROFILE", "ISOLATE_N", "BASELINE", "WARM_DIR", "BENCH_OUT",
  ).map("SPARK_GRAFT_" + _)

  test("main sources name exactly the reviewed SPARK_GRAFT_* settings") {
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, "src/main/scala not found — run from the repo root")
    val found = files.flatMap(f => knob.findAllIn(Files.readString(f))).toSet
    assert(found === expected,
      s"unreviewed: ${(found -- expected).toSeq.sorted}; gone: ${(expected -- found).toSeq.sorted}")
  }
}
