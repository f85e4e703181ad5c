// Lists every Window node with no PARTITION BY in the registry's static
// plans, with the operator that feeds it. Compile and run:
//   scalac -cp "target/scala-2.13/classes:<spark jars>/*" -d <out> \
//     plans/one_topk/unpartitioned_windows.scala
//   java <add-opens flags of tools/run.sh> \
//     -cp "<out>:target/scala-2.13/classes:<spark jars>/*" \
//     UnpartitionedWindows <corpus dir>
// Output: one tab-separated line per node: query, feeding operator, its
// description, the window expressions.
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

object UnpartitionedWindows {
  private val passThrough = Set("SortExec", "ShuffleExchangeExec", "ProjectExec",
    "FilterExec", "WholeStageCodegenExec", "InputAdapter", "WindowExec",
    "WindowGroupLimitExec")

  private def feed(p: SparkPlan): SparkPlan = p match {
    case r: ReusedExchangeExec => feed(r.child)
    case _ if passThrough(p.getClass.getSimpleName) && p.children.size == 1 =>
      feed(p.children.head)
    case _ => p
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create(defaultCpus = "2")
    spark.conf.set("graft.materialize", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for (name <- graft.SparkEntry.queries.keys.toSeq.sorted) {
      val plan = graft.SparkEntry.queries(name)(spark, args(0))
        .queryExecution.executedPlan
      plan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.foreach { w =>
        val f = feed(w.child)
        println(Seq(name, f.getClass.getSimpleName.stripSuffix("Exec"),
          f.simpleString(200), w.windowExpression.mkString("; "))
          .map(_.replaceAll("#\\d+", "")).mkString("\t"))
      }
    }
    spark.stop()
  }
}
