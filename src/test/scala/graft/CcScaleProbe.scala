package graft

import org.apache.spark.sql.functions._

/** Connected-components scale probe: times
  * `Graph.connectedComponentsWithRounds` on `k` disjoint chain+star
  * components (each chain forces several contraction rounds; contraction
  * grows each root's star past `hotDegree = 100000` at the larger sizes,
  * exercising the hot path) and prints, per size, the median wall seconds
  * over `reps` runs, the round count and the `(sum(comp), count)` label
  * checksum next to its expected value. Component `c` spans ids
  * `[c·size, (c+1)·size)` and its label is its first id, so
  * `sum(comp) = Σ c·size·|component c|`: an engine that merges components
  * or labels a node with anything but its component's minimum changes the
  * checksum (`ok=false`). Uses only the public CC entry point, so the same
  * file times any commit. Not part of any suite.
  *
  * Usage: `sbt "Test/runMain graft.CcScaleProbe [sizes] [reps] [k]"` with
  * `sizes` a comma-separated list of node counts (default
  * 8192,1000000,4000000), `reps` the runs per size (default 5) and `k` the
  * component count (default 4). One untimed run on the smallest size warms
  * the JVM first.
  */
object CcScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("8192,1000000,4000000")
      .split(",").map(_.trim.toLong).toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val k = args.lift(2).map(_.toLong).getOrElse(4L)
    val spark = GraftSession.create(defaultCpus = "32", logLevel = "ERROR")

    def expected(n: Long): (Long, Long) = {
      val size = (n + k - 1) / k
      val sumComp = (0L until (n + size - 1) / size)
        .map(c => c * size * math.min(size, n - c * size)).sum
      (sumComp, n)
    }

    def run(n: Long): (Double, Int, Long, Long, Long) = {
      val size = (n + k - 1) / k
      val nodes = spark.range(n).select(col("id")).localCheckpoint()
      val star = spark.range(n).where(col("id") % size % 10 === 1)
        .select((col("id") - col("id") % size).as("src"), col("id").as("dst"))
      val chain = spark.range(n - 1).where((col("id") + 1) % size =!= 0)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val edges = star.union(chain).localCheckpoint()
      val t0 = System.nanoTime()
      val (labels, rounds) = operators.Graph.connectedComponentsWithRounds(
        nodes, "id", edges, "src", "dst", hotDegree = 100000L)
      val r = labels.agg(sum(col("comp")), count(lit(1))).collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, rounds, r.getLong(0), r.getLong(1), edges.count())
    }

    run(sizes.min)
    for (n <- sizes) {
      val runs = (1 to reps).map(_ => run(n))
      val secs = runs.map(_._1).sorted
      val median = if (reps % 2 == 1) secs(reps / 2)
        else (secs(reps / 2 - 1) + secs(reps / 2)) / 2
      val (_, rounds, sumComp, cnt, nEdges) = runs.head
      val stable = runs.forall(r => (r._2, r._3, r._4) == (rounds, sumComp, cnt))
      val (wantSum, wantCnt) = expected(n)
      val ok = stable && (sumComp, cnt) == ((wantSum, wantCnt))
      println(f"n=$n k=$k edges=$nEdges reps=$reps median_s=$median%.2f " +
        f"min_s=${secs.head}%.2f max_s=${secs.last}%.2f rounds=$rounds " +
        s"sum_comp=$sumComp count=$cnt expected=($wantSum,$wantCnt) " +
        s"stable=$stable ok=$ok " +
        s"runs_s=${runs.map(r => f"${r._1}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
