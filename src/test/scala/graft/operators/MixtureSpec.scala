package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class MixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def keptIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("bucketed token-budget sample is bit-identical to the naive window") {
    // Deterministic pseudo-random corpus: 3 strata, weights 0-99 INCLUDING
    // zeros (the __before == budget edge), ids dense so every md5 bucket
    // boundary shape occurs somewhere across the budget sweep.
    val rows = (0L until 2000L).map { i =>
      (i, s"s${i % 3}", (i * 2654435761L % 100).toInt)
    }
    val df = rows.toDF("id", "stratum", "w")
    for (budget <- Seq(0L, 1L, 500L, 7919L, 1000000L)) {
      val budgets = Seq(("s0", budget), ("s1", budget), ("s2", budget))
        .toDF("stratum", "budget")
      val fast = keptIds(Mixture.tokenBudgetSample(df, "stratum", col("w"),
        col("id"), budgets))
      val slow = keptIds(NaiveRefs.tokenBudgetSampleNaive(df, "stratum", col("w"),
        col("id"), budgets))
      assert(fast == slow, s"budget=$budget: bucketed=${fast.size} naive=${slow.size}")
    }
  }

  test("budget semantics: running total inclusive of the current row") {
    // Single stratum, weights 10 each; md5 order of ids 0..9 decides who
    // fills a 35-token budget: exactly 3 rows fit (30 ≤ 35 < 40).
    val df = (0L until 10L).map(i => (i, "a", 10)).toDF("id", "stratum", "w")
    val budgets = Seq(("a", 35L)).toDF("stratum", "budget")
    val kept = Mixture.tokenBudgetSample(df, "stratum", col("w"), col("id"), budgets)
    assert(kept.count() == 3)
    // The 3 kept rows are the md5-smallest ids — the deterministic draw.
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val wantOrder = (0L until 10L).sortBy(i => md5Hex(i.toString)).take(3).toSet
    assert(keptIds(kept) == wantOrder)
  }

  test("no window node ever processes the giant stratum") {
    // 20k rows in ONE stratum: the naive formulation would stream all 20k
    // through a single Window task. In the bucketed path every WindowExec
    // (the ≤4096-row bucket cumsum AND the boundary-bucket-only per-row
    // window) must see a small fraction — the structural proof of the
    // skew-immunity claim, read off the executed plan's SQLMetrics.
    val n = 20000L
    val df = spark.range(n).select(col("id"), lit("web").as("stratum"),
      (col("id") % 7).as("w"))
    val budgets = Seq(("web", (3L * n) / 2)).toDF("stratum", "budget")
    val out = Mixture.tokenBudgetSample(df, "stratum", col("w"), col("id"), budgets)
    out.count() // populate metrics
    val windows = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // AQE can hide finished subtrees; walk adaptive nodes too.
    val adaptive = out.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
    }.flatten
    val all = windows ++ adaptive
    assert(all.nonEmpty, "expected WindowExec nodes in the bucketed plan")
    all.foreach { w =>
      val rows = w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      assert(rows < n / 4,
        s"a window processed $rows of $n rows — the giant stratum leaked " +
          "into an unsplittable window task")
    }
  }

  test("constant-budget overload equals a budgets frame listing every stratum") {
    val rows = (0L until 1500L).map { i =>
      (i, s"s${i % 4}", (i * 2654435761L % 50).toInt)
    }
    val df = rows.toDF("id", "stratum", "w")
    for (budget <- Seq(0L, 300L, 5000L)) {
      val budgets = (0 until 4).map(k => (s"s$k", budget)).toDF("stratum", "budget")
      val uniform = keptIds(Mixture.tokenBudgetSample(df, "stratum", col("w"),
        col("id"), lit(budget)))
      val framed = keptIds(Mixture.tokenBudgetSample(df, "stratum", col("w"),
        col("id"), budgets))
      assert(uniform == framed, s"budget=$budget: uniform=${uniform.size} framed=${framed.size}")
    }
  }

  test("strata without a budget row contribute nothing") {
    val df = Seq((1L, "a", 5), (2L, "b", 5)).toDF("id", "stratum", "w")
    val budgets = Seq(("a", 100L)).toDF("stratum", "budget")
    assert(keptIds(Mixture.tokenBudgetSample(df, "stratum", col("w"), col("id"),
      budgets)) == Set(1L))
  }

  test("reserved column names are rejected") {
    val df = Seq((1L, "a", 5)).toDF("id", "stratum", "__k")
    val budgets = Seq(("a", 100L)).toDF("stratum", "budget")
    intercept[IllegalArgumentException] {
      Mixture.tokenBudgetSample(df, "stratum", col("__k"), col("id"), budgets)
    }
    // __whole joined budgetCore's working set in round 11 — an input
    // carrying it must fail the clash check loudly, not throw an ambiguous-
    // reference AnalysisException from inside the classification join.
    val whole = Seq((1L, "a", 5)).toDF("id", "stratum", "__whole")
    intercept[IllegalArgumentException] {
      Mixture.tokenBudgetSample(whole, "stratum", col("__whole").cast("long"),
        col("id"), budgets)
    }
  }

  test("temperature sample keeps ALL of the smallest stratum, sqrt share of others") {
    // 4000 "big" rows vs 40 "small": keep_ppm(small) = 1e6 (everything),
    // keep_ppm(big) = floor(1e6·sqrt(40/4000)) = 100000 → ~10% of big
    // under the uniform md5 draw.
    val df = (0L until 4040L)
      .map(i => (i, if (i < 40L) "small" else "big")).toDF("id", "stratum")
    val out = Mixture.temperatureSample(df, "stratum", col("id"))
    val ppm = out.select("stratum", "keep_ppm").distinct()
      .as[(String, Long)].collect().toMap
    assert(ppm("small") == 1000000L && ppm("big") == 100000L)
    val kept = out.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(kept("small") == 40L, "smallest stratum must keep every row")
    // md5 draw ≈ uniform: expect ~400 of 4000; generous 3-sigma-ish bounds.
    assert(kept("big") > 300L && kept("big") < 500L,
      s"big stratum kept ${kept("big")} of 4000 at 100000 ppm")
  }

  test("temperature sample is deterministic and a pure filter of its input") {
    val df = (0L until 500L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val a = Mixture.temperatureSample(df, "stratum", col("id"))
      .select("id").as[Long].collect().toSet
    val b = Mixture.temperatureSample(df, "stratum", col("id"))
      .select("id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty && a.subsetOf((0L until 500L).toSet))
  }
}
