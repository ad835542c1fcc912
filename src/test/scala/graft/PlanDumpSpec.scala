package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** The one plan tool: [[PlanDump.run]] on a registry row whose own final
  * plan is a checkpoint stub must dump the plans that did the work, and
  * report the row count of the frame it collected.
  */
class PlanDumpSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("PlanDump.run dumps a checkpoint-truncated row's captured plans and its row count") {
    // sample_mix_plan builds its result inside a localCheckpoint, so the
    // registered frame's own plan is one ExistingRDD scan
    val row = "sample_mix_plan"
    val df = SparkEntry.queries(row)(spark, sf)
    df.collect()
    val direct = df.queryExecution.explainString(FormattedMode)
    assert(direct.contains("ExistingRDD") && PlanDump.checkpointTruncated(direct),
      s"$row's final plan is not checkpoint-truncated — the test would be vacuous:\n$direct")

    val dir: Path = Files.createTempDirectory("plandump")
    try {
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out) { PlanDump.run(spark, dir.toString, "t", sf, Seq(row)) }
      val txt = Files.readString(dir.resolve(s"${row}_t.txt"))
      assert(txt.contains("== Captured action 1:"), txt)
      assert(!PlanDump.checkpointTruncated(txt) && txt.contains("HashAggregate"),
        s"dump is the ExistingRDD stub, not the plans that ran:\n$txt")
      val expected = SparkEntry.queries(row)(spark, sf).count()
      assert(out.toString.linesIterator.contains(s"[plandump] $row rows=$expected"),
        out.toString)
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }
}
