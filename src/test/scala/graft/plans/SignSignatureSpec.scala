package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SignSignature's value contract, INCLUDING the null rule the Column
  * spelling it replaced had: a null vector (or null plane matrix) buckets
  * to signature 0 — never NULL — so null-vector rows land in LSH bucket 0
  * instead of silently dropping out of block equi-joins. */
class SignSignatureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val planes = Seq(Seq(1.0, 1.0), Seq(1.0, -1.0), Seq(-1.0, -1.0))

  private def sig(vec: Option[Seq[Double]]): org.apache.spark.sql.Row =
    Seq(vec).toDF("v")
      .select(Expressions.signSignature(col("v"), typedlit(planes)).as("s"))
      .head()

  test("matches the per-plane Column spelling on plain vectors") {
    val vecs = Seq(Seq(1.0, 2.0), Seq(-3.0, 0.5), Seq(0.0, 0.0))
    val df = vecs.toDF("v")
    val colSpelling = df.select(
      (0 until planes.length).map { p =>
        val dot = planes(p).zipWithIndex.map { case (s, d) =>
          element_at(col("v"), d + 1) * lit(s)
        }.reduce(_ + _)
        when(dot >= 0, lit(1L) * lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _).as("s"))
    val want = colSpelling.as[Long].collect().toSeq
    val got = df.select(
        Expressions.signSignature(col("v"), typedlit(planes)).as("s"))
      .as[Long].collect().toSeq
    assert(got == want)
  }

  test("null vector buckets to 0, never NULL (non-nullable expression)") {
    val r = sig(None)
    assert(!r.isNullAt(0) && r.getLong(0) == 0L)
    // The schema itself is non-nullable — downstream equi-joins can never
    // lose the row to a null key.
    val schema = Seq(Option.empty[Seq[Double]]).toDF("v")
      .select(Expressions.signSignature(col("v"), typedlit(planes)).as("s"))
      .schema
    assert(!schema("s").nullable)
  }

  test("null rule holds under CODEGEN_ONLY and NO_CODEGEN alike") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val rows = Seq(Option(Seq(1.0, 2.0)), None).toDF("v")
          .select(Expressions.signSignature(col("v"), typedlit(planes)).as("s"))
          .collect()
        assert(rows.forall(!_.isNullAt(0)), s"$mode: null leaked")
        assert(rows(1).getLong(0) == 0L, s"$mode: null vector not bucket 0")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
