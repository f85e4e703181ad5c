package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.registry.Query

/** Driver-contract smoke: entry() yields rows; every declared query runs on
  * sf0.001 and reproduces its committed golden ROW COUNT; query names are
  * distinct and every record carries its oracle SQL. The golden file makes
  * silently dropping or breaking a query a build failure, not a runtime
  * bench footnote. */
class EntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** name → expected rows at sf0.001, committed alongside the suite.
    * Regenerate after intentional query changes: run graft.Verify on
    * sf0.001 and count each result parquet. */
  private lazy val golden: Map[String, Long] = {
    val in = getClass.getResourceAsStream("/golden_rowcounts_sf0.001.txt")
    assert(in != null, "missing golden_rowcounts_sf0.001.txt test resource")
    scala.io.Source.fromInputStream(in).getLines()
      .filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split(' '); k -> v.toLong }
      .toMap
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a repeated query name fails the registry's distinct-name check") {
    val run: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(1).toDF()
    val twice = Seq(Query("q_dup", run, "SELECT 1"), Query("q_dup", run, "SELECT 2"))
    val e = intercept[IllegalArgumentException](Query.distinct(twice))
    assert(e.getMessage.contains("q_dup"))
    val once = Seq(Query("q_a", run, "SELECT 1"), Query("q_b", run, "SELECT 2"))
    assert(Query.distinct(once) == once)
    assert(SparkEntry.queries.size == SparkEntry.all.size)
  }

  test("every registered query carries non-blank oracle SQL") {
    val blank = SparkEntry.all.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without oracle SQL: $blank")
  }

  test("every golden query is still declared (none silently dropped)") {
    val dropped = golden.keySet -- SparkEntry.queries.keySet
    assert(dropped.isEmpty,
      s"queries present in the golden file but missing from SparkEntry: $dropped")
  }

  test("every declared query has a golden row count") {
    val ungolden = SparkEntry.queries.keySet -- golden.keySet
    assert(ungolden.isEmpty,
      s"new queries without a committed golden row count: $ungolden")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name matches its golden row count on sf0.001") {
      val df = fn(spark, SparkTestSession.sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      golden.get(name).foreach(want =>
        assert(n == want, s"$name returned $n rows, golden says $want"))
    }
  }

  test("q69 shares the corpus scan: exactly 2 documents scans in the plan") {
    // The curation pipeline reads `documents` once for the keeper-id
    // aggregate and once for the main projection; the shingle postings come
    // from a materialized (RDD-backed) frame. A third scan means the shared
    // stage regressed to a re-read.
    // Counted on the optimized LOGICAL plan: the physical plan wraps
    // everything in a leaf-like AdaptiveSparkPlanExec, which hides the
    // scan leaves from collectLeaves.
    val df = SparkEntry.queries("q69_corpus_curation")(spark, SparkTestSession.sf)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val scans = leaves.count {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("documents"))
          case _ => false
        }
      case _ => false
    }
    assert(scans == 2, s"expected 2 documents scans in q69's plan, saw " +
      s"$scans; leaves:\n${leaves.map(_.getClass.getName).mkString("\n")}")
  }

  /** Count parquet scans of `table` among the optimized plan's leaves. */
  private def parquetScans(df: org.apache.spark.sql.DataFrame, table: String): Int =
    df.queryExecution.optimizedPlan.collectLeaves().count {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains(table))
          case _ => false
        }
      case _ => false
    }

  test("q84 computes MinHash signatures once: no signature work in the final plan") {
    // The signature frame is materialized (RDD-backed) and shared by the
    // banding and the component resolution; the keep-best stage then only
    // joins components back to `documents` for the source/trust columns.
    // Expected documents scans: the (spine + source-join) pair appears
    // TWICE because keepBestPerGroup semi-joins its input against an
    // aggregate of the same input (the skew-proof struct-min shape) = 4.
    // If the signature materialization regressed, the md5 signature
    // expressions (and MORE documents scans to feed them) would reappear
    // in the optimized plan of the FINAL frame.
    val df = SparkEntry.queries("q84_near_dup_keep_best")(spark, SparkTestSession.sf)
    val scans = parquetScans(df, "documents")
    assert(scans == 4, s"expected 4 documents scans in q84's plan " +
      "(spine + source join, ×2 via the keep-best self-agg semi-join), saw " + scans)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("md5"),
      s"signature (md5) computation leaked into q84's final plan:\n$plan")
  }

  test("q99 derives BOTH join sides from one materialized postings frame") {
    // The shingle postings are materialized once; the suite-labeled test
    // side and the training side are filters of that SAME RDD-backed frame
    // — distinct LogicalRDD identities would mean a second postings
    // computation, and any documents parquet scan would mean a re-read.
    val df = SparkEntry.queries("q99_contamination_attribution")(spark, SparkTestSession.sf)
    assert(parquetScans(df, "documents") == 0,
      "q99 re-read documents parquet instead of reusing the postings frame")
    val rddIds = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(rddIds.nonEmpty, "expected RDD-backed postings leaves in q99's plan")
    assert(rddIds.distinct.length == 1,
      s"q99's join sides reference ${rddIds.distinct.length} distinct RDDs " +
        s"(ids $rddIds) — the postings materialization is not shared")
  }

  test("q117 probes the materialized vocab counts (no corpus re-scan)") {
    // The vocab count table is materialized once and feeds the sketch
    // build, the top-20 cut and the exact join-back; a documents scan in
    // the final plan means one of the three consumers regressed to
    // re-running the corpus explode+agg.
    val df = SparkEntry.queries("q117_cms_error")(spark, SparkTestSession.sf)
    assert(parquetScans(df, "documents") == 0,
      "q117 re-read documents parquet instead of reusing the vocab counts")
  }

  test("q128 aggregates from the materialized bigram table (no corpus re-scan)") {
    // The bigram count table is materialized; the context marginal and the
    // final rollup both read it. A documents scan here means the
    // corpus-sized position join runs twice again.
    val df = SparkEntry.queries("q128_bigram_entropy")(spark, SparkTestSession.sf)
    assert(parquetScans(df, "documents") == 0,
      "q128 re-read documents parquet instead of reusing the bigram counts")
  }
}
