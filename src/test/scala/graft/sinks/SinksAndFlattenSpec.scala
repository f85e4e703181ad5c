package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SinksAndFlattenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("csv artifact: header + ISO timestamp rendering + single file") {
    val dir = Files.createTempDirectory("art").toString + "/out"
    val df = Seq(("BTCUSDT", 42000.0)).toDF("symbol", "price")
      .withColumn("open_time", timestamp_seconds(lit(1704067200L)))
    Artifacts.writeCsv(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = Files.readAllLines(files.head.toPath)
    assert(lines.get(0) == "symbol,price,open_time")
    assert(lines.get(1).contains("2024-01-01 00:00:00"))
  }

  test("json summary artifact round-trips through the S11 reader") {
    val path = Files.createTempDirectory("art2").toString + "/summary.json"
    val df = Seq((42000.5, 123L)).toDF("avg_price", "n")
    Artifacts.writeJsonSummary(df, path)
    val back = spark.read.option("multiLine", "true").json(path)
    val row = back.select("avg_price", "n").as[(Double, Long)].head()
    assert(row == ((42000.5, 123L)))
  }
}
