package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Session defaults live in exactly one place. The r13 verdict found the
  * measured AQE coalesce floor only in Bench's hand-rolled builder — the
  * other five mains silently ran without a conf the bench proved out.
  * These pins make that class of drift impossible to reintroduce. */
class GraftSessionSpec extends AnyFunSuite {

  private def mainSources: Seq[java.nio.file.Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("no SparkSession.builder() outside GraftSession in main source") {
    val offenders = mainSources.filter { p =>
      !p.endsWith("GraftSession.scala") &&
        Files.readString(p).contains("SparkSession.builder")
    }
    assert(offenders.isEmpty,
      s"entry points must build sessions via GraftSession.create: $offenders")
  }

  test("sharedConfs carries the full measured/contractual set") {
    val m = GraftSession.sharedConfs.toMap
    assert(m("spark.sql.session.timeZone") == "UTC")
    assert(m("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(m("spark.ui.enabled") == "false")
    assert(m("spark.sql.adaptive.enabled") == "true")
    assert(m("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(m("spark.locality.wait") == "0")
    assert(m("spark.serializer") ==
      "org.apache.spark.serializer.KryoSerializer")
    // r19: tiny-R non-agg shuffles take the single-file serialized-sort
    // writer, not the R-files-per-map-task bypass writer (measured 2×
    // on the 32-thread shingle cluster; inert at production R > 200).
    assert(m("spark.shuffle.sort.bypassMergeThreshold") == "0")
    // Room for every generated class of the registry and the product path
    // (plans/codegen_cache/): Spark's default of 100 evicts on every pass.
    assert(m("spark.sql.codegen.cache.maxEntries") == "4000")
    // The custom expressions are injected at session build, not registered
    // by their callers.
    assert(m("spark.sql.extensions") == "graft.GraftExtensions")
    // No duplicate keys hiding a lost value.
    assert(GraftSession.sharedConfs.size == m.size)
  }

  test("the shared test session itself runs with the shared confs") {
    val s = SparkTestSession.spark
    GraftSession.sharedConfs.foreach { case (k, v) =>
      assert(s.conf.get(k) == v, s"test session missing shared conf $k=$v")
    }
  }

  test("a context without the static confs fails the post-create check") {
    // A SparkConf built without Kryo stands in for a pre-existing session
    // (a shell, a test-order leak) that getOrCreate would hand back as is.
    val cacheSize =
      GraftSession.sharedConfs.toMap.apply("spark.sql.codegen.cache.maxEntries")
    val withoutKryo = new org.apache.spark.SparkConf(false)
      .set("spark.shuffle.sort.bypassMergeThreshold", "0")
      .set("spark.sql.codegen.cache.maxEntries", cacheSize)
      .set("spark.sql.extensions", "graft.GraftExtensions")
    val ex = intercept[IllegalStateException] {
      GraftSession.checkStaticConfs(withoutKryo)
    }
    assert(ex.getMessage.contains("spark.serializer=<unset>"))
    assert(!ex.getMessage.contains("bypassMergeThreshold"))
    assert(!ex.getMessage.contains("maxEntries"))
    assert(!ex.getMessage.contains("extensions"))
    // A context built without the extension has none of the custom functions.
    val withoutExtension = withoutKryo.clone()
      .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .remove("spark.sql.extensions")
    val extEx = intercept[IllegalStateException] {
      GraftSession.checkStaticConfs(withoutExtension)
    }
    assert(extEx.getMessage.contains("spark.sql.extensions=<unset>"))
    assert(!extEx.getMessage.contains("serializer"))
    val bypass = withoutKryo.clone()
      .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .set("spark.shuffle.sort.bypassMergeThreshold", "200")
    assert(intercept[IllegalStateException] {
      GraftSession.checkStaticConfs(bypass)
    }.getMessage.contains("bypassMergeThreshold=200"))
    // A context on Spark's default 100-entry codegen cache fails too.
    val defaultCache = bypass.clone()
      .set("spark.shuffle.sort.bypassMergeThreshold", "0")
      .remove("spark.sql.codegen.cache.maxEntries")
    val cacheEx = intercept[IllegalStateException] {
      GraftSession.checkStaticConfs(defaultCache)
    }
    assert(cacheEx.getMessage.contains("spark.sql.codegen.cache.maxEntries=<unset>"))
    assert(!cacheEx.getMessage.contains("serializer"))
    GraftSession.checkStaticConfs(
      defaultCache.clone().set("spark.sql.codegen.cache.maxEntries", cacheSize))
    // The shared test session carries them, so the check passes on it.
    GraftSession.checkStaticConfs(SparkTestSession.spark.sparkContext.getConf)
  }

  test("a fresh newSession() resolves all ten custom functions by name") {
    import org.apache.spark.sql.functions.{array, call_function, col, lit, typedlit}
    val fresh = SparkTestSession.spark.newSession()
    val df = fresh.createDataFrame(Seq(
      (1L, "abc", Seq(1.0, 2.0)), (1L, "abd", Seq(3.0, -1.0)),
      (2L, "xyz", Seq(0.5, 0.5))))
      .toDF("k", "text", "vec")
    val scalars = df.select(
      call_function("rolling_hash", col("text")),
      call_function("simhash64", array(col("text"))),
      call_function("dot_product", col("vec"), col("vec")),
      call_function("char_entropy", col("text")),
      call_function("sign_signature", col("vec"),
        typedlit(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))))
    val aggregates = df.groupBy(col("k")).agg(
      call_function("bounded_collect_set", col("text"), lit(4)),
      call_function("kth_largest", col("k"), lit(1)),
      call_function("max_pair_long", col("k"), col("k")),
      call_function("min_pair_long", col("k"), col("k")),
      call_function("vector_floor_sum", col("vec"), lit(2.0)))
    val called = (scalars.columns ++ aggregates.columns)
      .flatMap(c => "^[a-z0-9_]+(?=\\()".r.findFirstIn(c)).toSet
    assert(called == graft.plans.Expressions.functions.map(_._1.funcName).toSet)
    assert(scalars.collect().map(_.getDouble(2)).toSeq == Seq(5.0, 10.0, 0.5))
    assert(aggregates.collect().length == 2)
  }

  test("a repeated query compiles no new class") {
    // The cache size is read once per JVM, at the first code generation, so
    // the conf check alone cannot show it took effect. 120 projections that
    // differ in a literal generate 120 distinct classes, each compiled on
    // the driver and again in a task: more entries than Spark's default
    // 100-entry cache holds, which would have evicted the first by now.
    val spark = SparkTestSession.spark
    def project(i: Int): Unit =
      spark.range(4).selectExpr(s"id * $i + ${i}L AS v").collect()
    (1 to 120).foreach(project)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    project(1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0 == 0,
      "the generated-code cache evicted a class of a query 120 queries ago")
  }

  test("SPARK_GRAFT_CONF_ env passthrough translates underscores to dots") {
    // applyEnvConfs reads the real environment (can't be injected without
    // widening the API for tests only); assert the translation contract on
    // whatever is present — and that nothing throws on a plain session.
    GraftSession.applyEnvConfs(SparkTestSession.spark)
    sys.env.collect { case (k, v) if k.startsWith("SPARK_GRAFT_CONF_") =>
      val key = k.stripPrefix("SPARK_GRAFT_CONF_").replace("_", ".")
      assert(SparkTestSession.spark.conf.get(key) == v)
    }
  }
}
