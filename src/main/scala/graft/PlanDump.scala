package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-inspection aid: execute the named registered queries in ONE
  * session (bench-lane order and configuration, so shared caches behave
  * as in the bench), write each query's `.explain("formatted")` FINAL
  * adaptive plan to `<outDir>/<query>_<suffix>.txt` — the before/after
  * artifacts PERF.md and the optimization reports cite — and print one
  * `[plandump] <query> rows=<n>` line per query to stdout.
  *
  * `sbt "runMain graft.PlanDump <outDir> <suffix> <sfDir> <query...>"`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <outDir> <suffix> <sfDir> <query...>")
    val spark = LocalSession.create("4",
      Map("spark.sql.adaptive.enabled" -> "true"))
    run(spark, args(0), args(1), args(2), args.drop(3).toSeq)
    spark.stop()
  }

  /** A frame whose plan is one checkpoint leaf (`ExistingRDD`) carries no
    * evidence of the computation that produced it — that ran inside the
    * builder's checkpoint action.
    */
  private[graft] def checkpointTruncated(plan: String): Boolean =
    plan.linesIterator.size <= 12

  /** The dump body, callable from tests (PlanDumpSpec). */
  def run(spark: SparkSession, outDir: String, suffix: String,
          sfDir: String, names: Seq[String]): Unit = {
    val selected = SparkEntry.select(names).toSeq.sortBy(_._1) // bench sweep order
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { case (name, fn) =>
      // capture EVERY QueryExecution the query runs (the PlanSpec
      // listener discipline): queries ending in localCheckpoint() would
      // otherwise dump an 8-line ExistingRDD stub, because the real
      // computation executed inside the checkpoint action
      val captured = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          captured.synchronized {
            captured += fn -> qe.explainString(FormattedMode); ()
          }
        override def onFailure(fn: String, qe: QueryExecution,
                               e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val df = fn(spark, sfDir)
      spark.sparkContext.setJobDescription(s"plandump: $name")
      df.write.format("noop").mode("overwrite").save()
      // the noop write finalizes ITS OWN QueryExecution; re-run the
      // frame's one so the printed plan is the finalized AQE plan
      val rows = df.collect().length
      // listener delivery is async — poll to quiescence (three
      // consecutive quiet windows, bounded 2 s)
      var (last, stable, waited) = (-1, 0, 0)
      while (stable < 3 && waited < 2000) {
        Thread.sleep(50); waited += 50
        val n = captured.synchronized(captured.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      spark.listenerManager.unregister(listener)
      val direct = df.queryExecution.explainString(FormattedMode)
      val txt =
        if (!checkpointTruncated(direct)) direct
        else captured.synchronized {
          captured.zipWithIndex.map { case ((fn, p), i) =>
            s"== Captured action ${i + 1}: $fn ==\n$p"
          }.mkString("\n")
        }
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] $name rows=$rows")
    }
  }
}
