package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** CharEntropy — the single-pass byte-entropy quality signal. The
  * load-bearing properties: exact values on hand-computable distributions
  * (uniform k-symbol text has entropy log2 k), agreement with an
  * independent scala-side histogram computation, and real codegen. */
class CharEntropySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def entropyOf(s: String): Double = {
    Expressions.ensureRegistered(spark)
    Seq(Tuple1(s)).toDF("t")
      .select(Expressions.charEntropy(col("t"))).as[Double].head()
  }

  test("uniform distributions hit log2(k) exactly") {
    assert(entropyOf("aaaa") == 0.0)
    assert(entropyOf("abab") == 1.0)
    assert(entropyOf("abcdabcd") == 2.0)
    assert(entropyOf("") == 0.0)
  }

  test("null propagates as null") {
    Expressions.ensureRegistered(spark)
    val got = Seq(Tuple1(null: String)).toDF("t")
      .select(Expressions.charEntropy(col("t"))).collect()
    assert(got.head.isNullAt(0))
  }

  test("matches an independent JVM histogram computation on varied text") {
    val texts = Seq("the quick brown fox", "aabbccddeeff gg",
      "mississippi", "x", "spark spark spark engine")
    def ref(s: String): Double = {
      val bytes = s.getBytes("UTF-8")
      val counts = bytes.groupBy(identity).view.mapValues(_.length)
      counts.values.map { c =>
        val p = c.toDouble / bytes.length; -p * math.log(p)
      }.sum / math.log(2.0)
    }
    Expressions.ensureRegistered(spark)
    val got = texts.map(Tuple1(_)).toDF("t")
      .select(col("t"), Expressions.charEntropy(col("t")))
      .as[(String, Double)].collect().toMap
    // The expression sums in fixed byte-value order, the reference in map
    // order — agreement to 1e-12 (not bit-exact), which is far inside the
    // 6-dp rounding every oracle compare applies.
    texts.foreach(t => assert(math.abs(got(t) - ref(t)) < 1e-12,
      s"entropy mismatch for '$t': ${got(t)} vs ${ref(t)}"))
  }

  test("runs under CODEGEN_ONLY (real doGenCode, no fallback)") {
    Expressions.ensureRegistered(spark)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = Seq("alpha", "beta beta", "gamma gamma gamma")
        .map(Tuple1(_)).toDF("t")
        .select(Expressions.charEntropy(col("t"))).as[Double].collect()
      assert(got.length == 3 && got.forall(e => e > 0.0 && e < 8.0))
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }
}
