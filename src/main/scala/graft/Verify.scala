package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json (name → oracle SQL), for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict to these query names (local iteration).
    val only = args.drop(2).toSet
    val spark = GraftSession.create(defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    SparkEntry.all.filter(r => only.isEmpty || only(r.name)).foreach { r =>
      try r.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${r.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${r.name} failed: ${e.getMessage}")
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
    val json = SparkEntry.all
      .map(r => s"${q(r.name)}: ${q(r.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
