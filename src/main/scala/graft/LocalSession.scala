package graft

import org.apache.spark.sql.SparkSession

/** One bootstrap for the four mains (Verify, Bench, PlanDump, ScaleUp):
  * local master sized by SPARK_GRAFT_CPUS, shuffle partitions matched to
  * cores, UTC, no UI, WARN logs — a config tweak lands in exactly one
  * place. Any other Spark conf reaches the builder as a `spark.*` JVM
  * system property (`set javaOptions += "-Dspark.…"` in sbt), so a conf
  * A/B needs no flag of its own.
  */
object LocalSession {
  def create(defaultCpus: String = "32",
             extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b = b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
