package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def comps(nodes: Seq[Long], edges: Seq[(Long, Long)],
                    maxIters: Int = 30): Map[Long, Long] = {
    val n = nodes.toDF("id")
    val e = edges.toDF("src", "dst")
    Graph.connectedComponents(n, "id", e, "src", "dst", maxIters)
      .as[(Long, Long)].collect().toMap
  }

  /** Driver-side union-find oracle over the same fixture. */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    nodes.map(n => n -> nodes.filter(m => find(m) == find(n)).min).toMap
  }

  test("chain graph collapses to one component labeled by its min id") {
    // 1-2, 2-3, 3-4: diameter 3 forces several contraction rounds.
    val m = comps(Seq(1L, 2L, 3L, 4L), Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components and isolated nodes keep separate labels") {
    val m = comps(Seq(1L, 2L, 3L, 4L, 5L, 9L), Seq((2L, 1L), (4L, 5L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
    // No edge at all (after self-loop removal): every node is its own label.
    assert(comps(Seq(1L, 2L), Seq((2L, 2L))) == Map(1L -> 1L, 2L -> 2L))
  }

  test("edge direction is ignored and edge-only endpoints join the node set") {
    // node list omits 7; the (7,2) edge must still pull it into 1's component
    val m = comps(Seq(1L, 2L), Seq((7L, 2L), (2L, 1L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 7L -> 1L))
  }

  test("matches brute-force union-find on random-ish fixtures") {
    // Several deterministic pseudo-random shapes: sparse, dense, self-loops,
    // duplicate edges — each checked against the driver-side oracle.
    for (seed <- 1 to 4) {
      val n = 20 + seed * 7
      val nodes = (0L until n.toLong).toSeq
      val edges = (0 until n + seed * 9).map { i =>
        val a = (i * 7L + seed) % n; val b = (i * 13L + 5L * seed) % n; (a, b)
      }.filter { case (a, b) => a != b } ++ Seq((3L, 3L), (1L, 2L), (2L, 1L))
      assert(comps(nodes, edges) == unionFind(nodes, edges), s"seed=$seed")
    }
    // The same shapes without the self-loop — each reversed duplicate pair
    // reaches the rounds as two distinct seed rows.
    for (seed <- 1 to 3) {
      val n = 20 + seed * 7
      val nodes = (0L until n.toLong).toSeq
      val edges = (0 until n + seed * 9).map { i =>
        val a = (i * 7L + seed) % n; val b = (i * 13L + 5L * seed) % n; (a, b)
      }.filter { case (a, b) => a != b } ++ Seq((1L, 2L), (2L, 1L))
      assert(comps(nodes, edges) == unionFind(nodes, edges), s"loop-free seed=$seed")
    }
  }

  test("adversarial contraction shapes match union-find") {
    // Shapes that stress large-star vs small-star differently: two stars
    // merged at the roots, two stars merged at leaves, complete bipartite,
    // heavy parallel/duplicate edges.
    val rootJoin = (1L to 10L).map((0L, _)) ++ (21L to 30L).map((20L, _)) :+ (0L, 20L)
    val leafJoin = (1L to 10L).map((0L, _)) ++ (21L to 30L).map((20L, _)) :+ (10L, 30L)
    val bipartite = for (a <- 0L to 4L; b <- 10L to 14L) yield (a, b)
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (2L, 3L), (3L, 1L))
    for ((edges, name) <- Seq((rootJoin, "rootJoin"), (leafJoin, "leafJoin"),
        (bipartite.toSeq, "bipartite"), (dup, "dup"))) {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(comps(nodes, edges) == unionFind(nodes, edges), name)
    }
  }

  test("non-contiguous 40-bit ids resolve correctly") {
    val big = 1L << 40
    val nodes = Seq(0L, 7L, big, big + 3, big * 2)
    val edges = Seq((big, 7L), (big + 3, big), (0L, big * 2))
    val m = comps(nodes, edges)
    assert(m == Map(0L -> 0L, (big * 2) -> 0L,
      7L -> 7L, big -> 7L, (big + 3) -> 7L))
  }

  test("matches union-find on a larger mixed-shape graph") {
    // One fixture mixing the hard shapes: a long path (deep diameter), a
    // star (high degree), dense cliquish clusters, isolated nodes, and
    // cross-links — against the driver-side union-find oracle.
    val n = 400
    val nodes = (0L until n.toLong).toSeq
    val path = (0L until 120L).map(i => (i, i + 1))
    val star = (200L until 260L).map(i => (150L, i))
    val dense = for (i <- 300 until 330; j <- i + 1 to (i + 3).min(329))
      yield (i.toLong, j.toLong)
    val cross = (0 until 40).map { i =>
      val a = (i * 97L + 13L) % n; val b = (i * 31L + 7L) % n; (a, b)
    }.filter { case (a, b) => a != b }
    val edges = path ++ star ++ dense ++ cross
    assert(comps(nodes, edges) == unionFind(nodes, edges))
  }

  test("2000-node random graph matches union-find") {
    // Sparse-ish random graph (below the giant-component threshold, so many
    // mid-sized components of varying shape survive) — the closest the spec
    // gets to production structure.
    val n = 2000
    val nodes = (0L until n.toLong).toSeq
    val edges = (0 until 2200).map { i =>
      val a = (i * 1103515245L + 12345L) % n
      val b = (i * 69069L + 1L) % n
      (a, b)
    }.filter { case (a, b) => a != b }
    assert(comps(nodes, edges) == unionFind(nodes, edges))
  }

  test("long chain converges in O(log n) contraction rounds") {
    // A 64-node path has diameter 63: per-diameter min-label propagation
    // would need 63 rounds; star contraction needs ~log₂ 64. Asserted on
    // the ROUND count the loop itself reports — Spark job counts per round
    // are an AQE staging detail that shifts across versions.
    val nodes = (0L until 64L).toDF("id")
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = Graph.connectedComponentsWithRounds(
      nodes, "id", edges, "src", "dst")
    assert(labels.as[(Long, Long)].collect().toMap.values.toSet == Set(0L))
    // ...and more than one fused pair: multi-pair convergence is exercised.
    assert(rounds > 2 && rounds <= 10,
      s"expected O(log n) contraction rounds for a 64-chain, ran $rounds")
  }

  test("giant-degree node: its shuffled bytes spread over the reducers") {
    // The dedup degeneracy: one root adjacent to half the edge set (a star
    // of identical documents), plus a separate 100-node chain. The loop
    // shuffles blocks of edges, so per-task RECORD counts cannot show a hub
    // pinned to one reducer; shuffle BYTES can. With the hub salted
    // (hotDegree lowered to make the 40k-degree hub "hot" at test scale),
    // no reducer task of any sizeable stage fetches most of that stage's
    // bytes (unsalted, the hub's reducer would fetch ~all of them).
    val hub = 40000
    val nodes = (0L until (hub + 100).toLong).toDF("id")
    val star = (1 to hub).map(i => (0L, i.toLong))
    val tail = (0 until 99).map(i => (hub + 1 + i.toLong, hub + 2 + i.toLong))
    val edges = (star ++ tail).toDF("src", "dst")
    val perStage = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val b = Option(t.taskMetrics).map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L)
        perStage.merge(t.stageId, (b, b),
          (x: (Long, Long), y: (Long, Long)) => (x._1 + y._1, math.max(x._2, y._2)))
        ()
      }
    }
    // The node list and the label aggregate run on the CALLER session; lower
    // its coalescing floors too, so a big task there cannot be a coalescing
    // artifact of the tiny fixture.
    val callerConfs = Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val prev = callerConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    callerConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = Graph.connectedComponents(nodes, "id", edges, "src", "dst",
          loopConfs = Map("spark.sql.shuffle.partitions" -> "16",
            "spark.graft.cc.rowsPerPartition" -> "4000"),
          hotDegree = 1000L)
        .as[(Long, Long)].collect().toMap
      assert((0 to hub).forall(i => m(i.toLong) == 0L))
      assert((hub + 1 to hub + 100).forall(i => m(i.toLong) == hub + 1L))
      import scala.jdk.CollectionConverters._
      val sizeable = perStage.asScala.toSeq.filter(_._2._1 > (256L << 10))
      assert(sizeable.nonEmpty)
      sizeable.foreach { case (sid, (total, max)) =>
        assert(max * 2 < total,
          s"stage $sid: one task fetched $max of $total shuffle bytes")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("salted hot-node rounds match the unsalted rounds and union-find") {
    // A tiny hotDegree salts many keys in every star; the per-round edge
    // sets must not change, so labels AND round counts equal the plain run.
    val n = 400
    val mixed = (0L until 120L).map(i => (i, i + 1)) ++
      (200L until 260L).map(i => (150L, i)) ++
      (0 until 300).map(i => ((i * 97L + 13L) % n, (i * 31L + 7L) % n))
        .filter { case (a, b) => a != b } ++
      (1L to 30L).map(i => (399L, 300L + i)) // a hub that is a LARGE id
    val nodes = (0L until n.toLong).toSeq
    val small = Map("spark.graft.cc.rowsPerPartition" -> "40")
    val (plain, r0) = Graph.connectedComponentsWithRounds(nodes.toDF("id"), "id",
      mixed.toDF("src", "dst"), "src", "dst", loopConfs = small)
    for (hd <- Seq(2L, 8L)) {
      val (salted, r1) = Graph.connectedComponentsWithRounds(nodes.toDF("id"), "id",
        mixed.toDF("src", "dst"), "src", "dst", loopConfs = small, hotDegree = hd)
      val got = salted.as[(Long, Long)].collect().toMap
      assert(got == unionFind(nodes, mixed), s"hotDegree=$hd")
      assert(got == plain.as[(Long, Long)].collect().toMap, s"hotDegree=$hd")
      assert(r1 == r0, s"hotDegree=$hd: $r1 rounds vs $r0 unsalted")
    }
  }

  test("contraction never mutates the caller session's SQL confs") {
    // The loop reads the caller's confs but never writes them; a
    // concurrent query on the CALLER's session must see unchanged confs
    // and keep planning adaptively while the loop iterates.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val nodes = (0L until 4096L).toDF("id")
    val edges = (0L until 4095L).map(i => (i, i + 1)).toDF("src", "dst")
    val fut = Future {
      Graph.connectedComponents(nodes, "id", edges, "src", "dst")
        .agg(min(col("comp"))).first().getLong(0)
    }
    var polls = 0
    while (!fut.isCompleted && polls < 200) {
      assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqeBefore)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore)
      polls += 1
      Thread.sleep(10)
    }
    // A caller-session aggregation planned mid-loop still uses AQE and the
    // caller's partition count.
    val concurrent = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    assert(concurrent.queryExecution.executedPlan.toString
      .contains("AdaptiveSparkPlan"))
    assert(Await.result(fut, 4.minutes) == 0L)
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqeBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore)
  }

  test("iteration exhaustion throws instead of returning wrong labels") {
    // A 40-node path cannot converge in 1 round; the old implementation
    // silently returned non-component labels here.
    val nodes = (0L until 40L).toSeq
    val edges = (0L until 39L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      comps(nodes, edges, maxIters = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
    // A loop option the engine does not read fails loudly too, rather than
    // being silently ignored.
    val bad = intercept[IllegalArgumentException] {
      Graph.connectedComponents(nodes.toDF("id"), "id", edges.toDF("src", "dst"),
        "src", "dst", loopConfs = Map("spark.graft.cc.catalystRoundsMinEdges" -> "0"))
    }
    assert(bad.getMessage.contains("spark.graft.cc.catalystRoundsMinEdges"))
  }

  test("already-star input converges immediately") {
    val m = comps(Seq(1L, 2L, 3L, 4L), Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  // ------------------------------------------------------------ pageRank

  private def ranks(nodes: Seq[Long], edges: Seq[(Long, Long)],
                    iters: Int): Map[Long, Long] = {
    val n = nodes.toDF("id")
    val e = edges.toDF("src", "dst")
    Graph.pageRankPpm(n, "id", e, "src", "dst", iters)
      .as[(Long, Long)].collect().toMap
  }

  /** Driver-side reference: the identical floored integer-ppm recurrence,
    * computed sequentially. */
  private def prRef(nodes: Seq[Long], edges: Seq[(Long, Long)],
                    iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nN = nodes.size.toLong
    var r = nodes.map(_ -> 1000000L / nN).toMap
    for (_ <- 1 to iters) {
      val inflow = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum }
      r = nodes.map(v =>
        v -> (150000L / nN + inflow.getOrElse(v, 0L) * 85 / 100)).toMap
    }
    r
  }

  test("pageRank: one round on a path graph matches the hand computation") {
    // 1-2-3 path + isolated 4. N=4: r0=250000 each, teleport=37500.
    // Round 1 inflows: 1←125000, 2←500000, 3←125000, 4←0.
    val m = ranks(Seq(1L, 2L, 3L, 4L), Seq((1L, 2L), (2L, 3L)), iters = 1)
    assert(m == Map(1L -> 143750L, 2L -> 462500L, 3L -> 143750L, 4L -> 37500L))
  }

  test("pageRank: three rounds match the sequential integer reference") {
    val nodes = (1L to 30L).toSeq
    // Hub 1 touching 2-10, a 11-15 ring, random extra edges, dangling 21-30.
    val edges = (2L to 10L).map(v => (1L, v)) ++
      (11L to 14L).map(v => (v, v + 1)) :+ (15L, 11L) :+
      (3L, 12L) :+ (7L, 20L) :+ (16L, 17L) :+ (18L, 19L)
    assert(ranks(nodes, edges, iters = 3) == prRef(nodes, edges, iters = 3))
  }

  test("pageRank: edge direction is ignored and hubs outrank leaves") {
    val nodes = (1L to 10L).toSeq
    val star = (2L to 10L).map(v => (v, 1L)) // all edges INTO 1
    val m = ranks(nodes, star, iters = 3)
    assert(m(1L) > m(2L), "hub must outrank a leaf")
    assert((2L to 10L).map(m).toSet.size == 1, "leaves are symmetric")
    assert(m == prRef(nodes, star, iters = 3))
  }
}
