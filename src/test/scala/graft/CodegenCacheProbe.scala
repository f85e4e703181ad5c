package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Generated-code cache probe: runs registry queries through
  * `GraftSession.create` at local[4] in one JVM, `count()` each with
  * `clearCache` after every query, over `passes` passes of the same list,
  * and prints one line per pass:
  *
  *  - `wall_s`: the pass's wall time
  *  - `compiles`: new Janino compilations, the
  *    `CodegenMetrics.METRIC_COMPILATION_TIME` count delta. Spark's
  *    generated-code cache loads an entry only on a miss, so with an
  *    effectively unbounded cache pass 1's figure counts the distinct
  *    entries the list produces, and a later pass's counts what it
  *    recompiled
  *  - `janino_s`: `CodeGenerator.compileTime`, reset at each pass start
  *    (summed over threads, so it can exceed the wall time)
  *  - `classes_loaded`: JVM classes loaded during the pass
  *  - `metaspace_mb`, `heap_mb`: used metaspace and heap after a
  *    `System.gc()` at the pass end, i.e. what the cached classes retain
  *
  * A first line names the scale-factor directory, the query count and the
  * session's `spark.sql.codegen.cache.maxEntries`. That is the conf value:
  * Spark sizes the cache once per JVM, at its first code generation, and a
  * later pass compiling nothing is what shows the size took effect. Set
  * the size for one run with `SPARK_GRAFT_CONF_spark_sql_codegen_cache_maxEntries`
  * (an override of `GraftSession.sharedConfs`, so the static-conf check
  * accepts it). Not part of any suite.
  *
  * Usage: `sbt "Test/runMain graft.CodegenCacheProbe [sfDir] [queries]
  * [passes]"` with `sfDir` the corpus directory (default the sf0.001
  * corpus the tests read), `queries` `all` (default) or comma-separated
  * full query names, and `passes` the pass count (default 2).
  */
object CodegenCacheProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(SparkTestSession.sf)
    val names = args.lift(1).filter(_ != "all")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.all.map(_.name).sorted)
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val byName = SparkEntry.all.map(q => q.name -> q.run).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.create(defaultCpus = "4", logLevel = "ERROR")
    println(s"sf_dir=$sfDir queries=${names.size} codegen_cache_max_entries=" +
      spark.conf.getOption("spark.sql.codegen.cache.maxEntries").getOrElse("<default>"))

    val classes = ManagementFactory.getClassLoadingMXBean
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace")
    def mb(bytes: Long): String = f"${bytes / 1048576.0}%.1f"

    for (pass <- 1 to passes) {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val loaded0 = classes.getTotalLoadedClassCount
      CodeGenerator.resetCompileTime()
      val t0 = System.nanoTime()
      val failed = names.filterNot { n =>
        try { byName(n)(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          System.err.println(s"pass $pass: $n failed: ${t.getClass.getSimpleName}")
          false
        }
        finally spark.catalog.clearCache()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val janino = CodeGenerator.compileTime / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val loaded = classes.getTotalLoadedClassCount - loaded0
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      println(f"pass=$pass wall_s=$wall%.1f compiles=$compiles janino_s=$janino%.2f " +
        s"classes_loaded=$loaded " +
        s"metaspace_mb=${metaspace.map(p => mb(p.getUsage.getUsed)).getOrElse("n/a")} " +
        s"heap_mb=${mb(heap)} failed=${failed.size}" +
        (if (failed.isEmpty) "" else s" (${failed.mkString(",")})"))
    }
    spark.stop()
  }
}
