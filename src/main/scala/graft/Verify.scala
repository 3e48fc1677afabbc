package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = graft.core.GraftSession.defaultCpus
    val spark = graft.core.GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        System.err.println(s"[verify] $name failed: $msg")
        Some(s"$name (${msg.linesIterator.nextOption().getOrElse("").trim})")
      }
    }
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
    // one summary line, so a run states what failed and why without
    // grepping Spark's logs
    System.err.println(s"[verify] ${queries.size - failed.size}/${queries.size} ok" +
      (if (failed.isEmpty) "" else failed.mkString("; failed: ", ", ", "")))
  }
}
