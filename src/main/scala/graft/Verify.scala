package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names: dump only those (iteration aid —
    // a full run covers every query)
    val selected =
      try SparkEntry.select(args.drop(2).toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[verify] ${e.getMessage}")
        sys.exit(2)
      }
    val spark = LocalSession.create("4")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // self-diagnosing exit line: a local run predicts the driver's red
    // rows without diffing dump directories (contract unchanged — a
    // failed query still shows as a missing dump)
    val total = selected.size
    if (failed.isEmpty)
      System.err.println(s"[verify] $total/$total dumped, 0 failed")
    else
      System.err.println(
        s"[verify] ${total - failed.size}/$total dumped, ${failed.size} failed: " +
          failed.sorted.mkString(", "))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
