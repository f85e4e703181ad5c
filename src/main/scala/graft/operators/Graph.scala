package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Distributed connected components — the dedup-cluster resolver: near-dup
  * candidate PAIRS (MinHash/SimHash/Jaccard output) become duplicate GROUPS,
  * each labeled by its smallest member id (the canonical "keeper").
  *
  * Algorithm: alternating large-star/small-star contraction (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — O(log n)
  * rounds on any graph, vs O(diameter) for plain min-label propagation.
  *
  *  - large-star: every node connects its strictly-larger neighbors to the
  *    minimum of its neighborhood (incl. itself).
  *  - small-star: every node connects its smaller-or-equal neighbors (and
  *    itself) to the minimum of those.
  *
  * The fixpoint is a forest of stars rooted at each component's min id.
  *
  * One round engine: RDD rounds over PRIMITIVE pair blocks — no Catalyst
  * re-planning per iteration (0.25-0.45 s a round at any size) and no
  * `Tuple2` per edge. Each star is ONE shuffle: map tasks write
  * `(key, other)` rows as interleaved `Array[Long]` runs, one per reducer;
  * a reducer sorts its rows by (key, other) and drops adjacent duplicates,
  * so every node's neighbors form one ascending run whose first element is
  * the neighborhood minimum, and the star emits in that same scan. The
  * loop state is the large-star side of that shuffle — each node's sorted,
  * duplicate-free symmetric adjacency — which a round persists and the
  * stats, the next large star and the final labels read. Small-star rows
  * are keyed by their larger endpoint, so a group there is exactly Γ≤(u).
  *
  * Scale design, per round:
  *  - HOT keys are SALTED: a node with more than `hotDegree` rows in a star
  *    (a giant duplicate cluster's root has degree ≈ cluster size) routes
  *    its rows by (key, other), so its edges spread over every reducer while
  *    duplicates still meet, and its minimum is folded from the slice minima
  *    into a small map the next step's tasks carry. The salted set is a
  *    shuffle-free superset of the hot nodes: a node with more than
  *    hotDegree rows over P partitions has more than hotDegree/P in one of
  *    them, so each partition reports its locally heavy keys (at most
  *    2·|E|·P/hotDegree). A salted cold key is merely spread, never wrong.
  *  - Hot rounds cost narrow driver jobs: the seed job reports the first
  *    star's heavy keys, then each star's grouped output is persisted and
  *    scanned once for its slice minima and the next star's heavy keys — 3
  *    jobs per fused pair (4 in the first). None run when the round's TOTAL
  *    edge count is ≤ hotDegree, which proves no node can be hot
  *    (contraction never grows the edge set).
  *  - ONE blocking action per fused round pair: two large/small-star
  *    alternations run inside the job that collects both halves' (edge
  *    count, checksum), the intermediate state read back from cache, so the
  *    fixpoint is detected at the exact round it happens.
  *  - Superseded rounds are unpersisted DETERMINISTICALLY once their
  *    successor is materialized (memory: 2 edge sets, not O(rounds)).
  *  - Reducer counts are re-sized each round from the previous round's
  *    exact edge count, capped at the caller's `spark.sql.shuffle.partitions`.
  *    The caller's session confs are never touched.
  *
  * Non-convergence is an ERROR: if `maxIters` rounds don't reach the
  * fixpoint the call throws instead of silently returning labels that are
  * not connected components (30 rounds cover any 64-bit id space).
  *
  * Convergence detection is PROBABILISTIC: rounds are declared equal on
  * (count, bit_xor(xxhash64(src, dst))) over each round's edges oriented
  * (larger, smaller), the value Spark SQL's `xxhash64` computes. A 64-bit
  * collision between two different equal-count edge sets would end a pair
  * early (~2⁻⁶⁴ per pair); an exact comparison would cost a join per
  * round, and the oracle gate re-verifies every CC consumer's labels.
  */
object Graph {

  /** Rows as interleaved longs: (k0, o0, k1, o1, …). */
  private type Pairs = Array[Long]
  /** Primitive-keyed node sets (value unused) and node → minimum maps. */
  private type Nodes = mutable.LongMap[Long]

  private val tupleEnc =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  private val confKeys =
    Set("spark.sql.shuffle.partitions", "spark.graft.cc.rowsPerPartition")

  /** Murmur3's 64-bit finalizer: spreads sequential ids over reducers. */
  private def mix(k: Long): Long = {
    var h = (k ^ (k >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def home(k: Long, parts: Int): Int = ((mix(k) >>> 1) % parts).toInt

  /** xxhash64(src, dst) exactly as Spark SQL folds it (seed 42). */
  private def edgeHash(src: Long, dst: Long): Long =
    XXH64.hashLong(dst, XXH64.hashLong(src, 42L))

  /** Identity partitioner: map tasks key each run by its reducer index. */
  private final class RunPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** In-place lexicographic sort of pairs [lo, hi) (pair indices): 3-way
    * quicksort, so long runs of one key and duplicate rows stay linear. */
  private def sortPairs(a: Pairs, lo0: Int, hi0: Int): Unit = {
    def swap(i: Int, j: Int): Unit = {
      val k = a(2 * i); val o = a(2 * i + 1)
      a(2 * i) = a(2 * j); a(2 * i + 1) = a(2 * j + 1)
      a(2 * j) = k; a(2 * j + 1) = o
    }
    def cmp(i: Int, k: Long, o: Long): Int = {
      val c = java.lang.Long.compare(a(2 * i), k)
      if (c != 0) c else java.lang.Long.compare(a(2 * i + 1), o)
    }
    var lo = lo0; var hi = hi0
    while (hi - lo > 24) {
      // median of three as pivot
      val m = (lo + hi) >>> 1
      if (cmp(m, a(2 * lo), a(2 * lo + 1)) < 0) swap(m, lo)
      if (cmp(hi - 1, a(2 * lo), a(2 * lo + 1)) < 0) swap(hi - 1, lo)
      if (cmp(hi - 1, a(2 * m), a(2 * m + 1)) < 0) swap(hi - 1, m)
      val pk = a(2 * m); val po = a(2 * m + 1)
      var lt = lo; var i = lo; var gt = hi - 1
      while (i <= gt) {
        val c = cmp(i, pk, po)
        if (c < 0) { swap(lt, i); lt += 1; i += 1 }
        else if (c > 0) { swap(i, gt); gt -= 1 }
        else i += 1
      }
      if (lt - lo < hi - gt - 1) { sortPairs(a, lo, lt); lo = gt + 1 }
      else { sortPairs(a, gt + 1, hi); hi = lt }
    }
    var i = lo + 1
    while (i < hi) {
      var j = i
      while (j > lo && cmp(j, a(2 * j - 2), a(2 * j - 1)) < 0) { swap(j, j - 1); j -= 1 }
      i += 1
    }
  }

  /** ONE shuffle of keyed rows into `parts` reducers; each reducer returns
    * its rows sorted by (key, other), duplicates dropped, as one block. A
    * `salted` key routes by (key, other) instead of by key. */
  private def exchange(rows: RDD[Pairs], parts: Int, salted: Nodes): RDD[Pairs] = {
    val runs = rows.mapPartitions { it =>
      val bufs = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
      it.foreach { b =>
        var i = 0
        while (i < b.length) {
          val k = b(i); val o = b(i + 1)
          val p = if (salted.contains(k)) home(k ^ mix(o), parts) else home(k, parts)
          bufs(p).addOne(k).addOne(o)
          i += 2
        }
      }
      bufs.indices.iterator.filter(bufs(_).length > 0).map(p => (p, bufs(p).result()))
    }
    runs.partitionBy(new RunPartitioner(parts)).mapPartitions { it =>
      val blocks = it.map(_._2).toArray
      val a = new Array[Long](blocks.iterator.map(_.length).sum)
      var n = 0
      blocks.foreach { b => System.arraycopy(b, 0, a, n, b.length); n += b.length }
      sortPairs(a, 0, n / 2)
      var w = 0; var i = 0
      while (i < n) {
        if (w == 0 || a(i) != a(w - 2) || a(i + 1) != a(w - 1)) {
          a(w) = a(i); a(w + 1) = a(i + 1); w += 2
        }
        i += 2
      }
      Iterator.single(if (w == n) a else java.util.Arrays.copyOf(a, w))
    }
  }

  /** Calls `f(start, end)` for each key's run [start, end) (pair indices). */
  private def groups(a: Pairs)(f: (Int, Int) => Unit): Unit = {
    val n = a.length / 2
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && a(2 * j) == a(2 * i)) j += 1
      f(i, j)
      i = j
    }
  }

  /** large-star over an adjacency: node u, m = min(Γ(u) ∪ {u}), emits
    * (v, m) for every v ∈ Γ(u), v > u — keyed by v, the larger endpoint,
    * i.e. already the small star's orientation. `hubMin` holds the salted
    * keys' global minima. */
  private def largeStar(adj: RDD[Pairs], hubMin: Nodes): RDD[Pairs] =
    adj.map { a =>
      val out = new mutable.ArrayBuilder.ofLong
      groups(a) { (s, e) =>
        val u = a(2 * s)
        val m = if (hubMin.contains(u)) hubMin(u) else math.min(u, a(2 * s + 1))
        var x = s
        while (x < e) { val v = a(2 * x + 1); if (v > u) out.addOne(v).addOne(m); x += 1 }
      }
      out.result()
    }

  /** small-star over rows grouped by their larger endpoint u: m = min(Γ≤(u)),
    * emits (v, m) for every v ∈ Γ≤(u) ∪ {u}, minus self-loops — in BOTH
    * orientations, ready for the large-star grouping. A salted hub's (u, m)
    * row is emitted once, by the partition u would route to. */
  private def smallStar(grouped: RDD[Pairs], hubMin: Nodes, parts: Int): RDD[Pairs] =
    grouped.mapPartitionsWithIndex { (pid, it) =>
      val out = new mutable.ArrayBuilder.ofLong
      def edge(v: Long, m: Long): Unit = out.addOne(v).addOne(m).addOne(m).addOne(v)
      it.foreach { a =>
        groups(a) { (s, e) =>
          val u = a(2 * s)
          val hub = hubMin.contains(u)
          val m = if (hub) hubMin(u) else a(2 * s + 1)
          var x = s
          while (x < e) { val v = a(2 * x + 1); if (v != m) edge(v, m); x += 1 }
          if (!hub) edge(u, m)
        }
      }
      hubMin.foreachEntry((u, m) => if (home(u, parts) == pid) edge(u, m))
      Iterator.single(out.result())
    }

  /** What the driver needs from one partition: edge stats, each salted
    * key's slice minimum as (key, first neighbor) pairs, and the keys the
    * NEXT step sees more than its threshold times here. */
  private final case class Part(n: Long, x: Long, firsts: Array[Long], heavy: Array[Long])

  /** Keys occurring more than `thr` times in `keys` (sorted in place). */
  private def heavyKeys(keys: Array[Long], thr: Long): Array[Long] = {
    java.util.Arrays.sort(keys)
    val out = new mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < keys.length) {
      var j = i + 1
      while (j < keys.length && keys(j) == keys(i)) j += 1
      if (j - i > thr) out.addOne(keys(i))
      i = j
    }
    out.result()
  }

  /** One adjacency partition: stats over the (larger, smaller) orientation,
    * salted slices' first neighbors and — when `thr` ≥ 0 — the heavy
    * large-star output keys (the larger endpoints v > u). */
  private def adjPart(a: Pairs, salted: Nodes, thr: Long): Part = {
    var n = 0L; var x = 0L
    val firsts = new mutable.ArrayBuilder.ofLong
    val keys = new mutable.ArrayBuilder.ofLong
    val count = thr >= 0 && a.length / 2 > thr
    groups(a) { (s, e) =>
      val u = a(2 * s)
      if (salted.contains(u)) firsts.addOne(u).addOne(a(2 * s + 1))
      var i = s
      while (i < e) {
        val v = a(2 * i + 1)
        if (v < u) { n += 1; x ^= edgeHash(u, v) } else if (count) keys.addOne(v)
        i += 1
      }
    }
    Part(n, x, firsts.result(), heavyKeys(keys.result(), thr))
  }

  /** One small-star partition: salted slices' first neighbors and the heavy
    * keys of its symmetric output — except the salted hubs' minima, which
    * the driver adds once they are known. */
  private def starPart(a: Pairs, salted: Nodes, thr: Long, pid: Int, parts: Int): Part = {
    val firsts = new mutable.ArrayBuilder.ofLong
    val keys = new mutable.ArrayBuilder.ofLong
    groups(a) { (s, e) =>
      val u = a(2 * s)
      val hub = salted.contains(u)
      if (hub) firsts.addOne(u).addOne(a(2 * s + 1))
      else { keys.addOne(u); for (_ <- s until e) keys.addOne(a(2 * s + 1)) }
      for (i <- (if (hub) s else s + 1) until e) keys.addOne(a(2 * i + 1))
    }
    salted.foreachKey(u => if (home(u, parts) == pid) keys.addOne(u))
    Part(0L, 0L, firsts.result(), heavyKeys(keys.result(), thr))
  }

  /** Salted-key minima from slice firsts; `self` folds in the key itself
    * (large star's min(Γ(u) ∪ {u})). */
  private def hubMins(ps: Array[Part], self: Boolean): Nodes = {
    val m = new Nodes
    for (p <- ps; i <- p.firsts.indices by 2) {
      val u = p.firsts(i)
      val v = if (self) math.min(u, p.firsts(i + 1)) else p.firsts(i + 1)
      if (!m.contains(u) || v < m(u)) m(u) = v
    }
    m
  }

  private def keySet(ps: Array[Part]): Nodes = {
    val s = new Nodes
    for (p <- ps; k <- p.heavy) s(k) = 0L
    s
  }

  /** An adjacency's salted minima and heavy large-star output keys. */
  private def adjMaps(ps: Array[Part]): (Nodes, Nodes) =
    (hubMins(ps, self = true), keySet(ps))

  /** Alternating contraction from the persisted symmetric seed until the
    * fixpoint. Returns the final adjacency (persisted; reclaimed by the
    * ContextCleaner once the caller's plan is unreachable) and the round
    * count. */
  private def contract(seed: RDD[Pairs], seedStats: (Long, Long),
                       seedHeavy: Nodes, basePartsN: Int, rowsPerPart: Long,
                       maxIters: Int, hotDegree: Long): (RDD[Pairs], Int) = {
    val held = mutable.ArrayBuffer[RDD[_]](seed)
    def keep(r: RDD[Pairs]): RDD[Pairs] = {
      held += r.persist(StorageLevel.MEMORY_AND_DISK); r
    }
    def parts(edges: Long): Int =
      math.max(1L, math.min(basePartsN.toLong, edges / rowsPerPart + 1L)).toInt
    val none = new Nodes
    var curStats = seedStats
    val hot0 = curStats._1 > hotDegree
    var cur = exchange(seed, parts(curStats._1), if (hot0) seedHeavy else none)
    var (curMin, curHeavy) =
      if (!hot0) (none, none)
      else adjMaps(keep(cur).map(adjPart(_, seedHeavy, hotDegree / cur.getNumPartitions)).collect())
    var converged = curStats._1 == 0L
    var it = 0
    try {
      while (!converged && it < maxIters) {
        // Manual adaptive coalescing: size the round's shuffles from the
        // PREVIOUS action's exact edge count.
        val p = parts(curStats._1)
        // Salt only when this round COULD contain a hot node (total edges
        // > hotDegree); otherwise no key can be heavy and no narrow job runs.
        val hot = curStats._1 > hotDegree
        val thr = if (hot) hotDegree / p else -1L

        // One round from an adjacency: large star, the grouping by larger
        // endpoint, small star, the next large-star grouping. Returns the
        // new adjacency and its salted keys.
        def round(adj: RDD[Pairs], adjMin: Nodes, adjHeavy: Nodes): (RDD[Pairs], Nodes) =
          if (!hot) {
            val byLarger = exchange(largeStar(adj, adjMin), p, none)
            (exchange(smallStar(byLarger, none, p), p, none), none)
          } else {
            val byLarger = keep(exchange(largeStar(adj, adjMin), p, adjHeavy))
            val ps = byLarger.mapPartitionsWithIndex((pid, it0) =>
              it0.map(starPart(_, adjHeavy, thr, pid, p))).collect()
            val ssMin = hubMins(ps, self = false)
            val salted = keySet(ps)
            ssMin.foreachValue(m => salted(m) = 0L)
            (exchange(smallStar(byLarger, ssMin, p), p, salted), salted)
          }

        // TWO large/small-star alternations per driver action: the action
        // (scheduling + the convergence stats) is the per-round fixed
        // bill, and contraction needs O(log n) rounds either way, so
        // fusing halves the job count. The intermediate state persists and
        // is read back from cache by both the second pair and the stats.
        val (mid, midSalted) = round(cur, curMin, curHeavy)
        keep(mid)
        val (midMin, midHeavy) =
          if (!hot) (none, none) else adjMaps(mid.map(adjPart(_, midSalted, thr)).collect())
        val (next, nextSalted) = round(mid, midMin, midHeavy)
        keep(next)
        val statRows = next.map(a => (1, adjPart(a, nextSalted, thr)))
          .union(mid.map(a => (0, adjPart(a, none, -1L))))
          .collect()
        def statsOf(h: Int): (Long, Long) =
          statRows.iterator.filter(_._1 == h).map(_._2)
            .foldLeft((0L, 0L)) { case ((a, b), q) => (a + q.n, b ^ q.x) }
        val midStats = statsOf(0)
        val nextStats = statsOf(1)
        // midStats == curStats ⇒ cur was already the fixpoint (the pair
        // was the detection overshoot); nextStats == midStats ⇒ the
        // fixpoint landed mid-pair. Either way next carries the fixpoint
        // content — contraction's potential strictly decreases until the
        // fixpoint, so content equality across one or two rounds can
        // never be a cycle.
        converged = nextStats == midStats || midStats == curStats
        val (nextMin, nextHeavy) = adjMaps(statRows.filter(_._1 == 1).map(_._2))
        curMin = nextMin; curHeavy = nextHeavy
        held.filter(_ ne next).foreach(_.unpersist(blocking = false))
        held.clear(); held += next
        cur = next; curStats = nextStats
        it += 2
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            s"(${curStats._1} edges at round $it) — labels would NOT be " +
            "connected components; raise maxIters")
    } catch {
      // On any failure, release this call's caches — nothing downstream
      // can use them.
      case e: Throwable =>
        held.foreach(_.unpersist(blocking = false))
        throw e
    }
    (cur, it)
  }

  /** @param nodes  one column `idCol`; isolated nodes keep their own label
    * @param edges  undirected pairs (`srcCol`, `dstCol`); direction ignored
    * @return (id, comp) — comp = min node id reachable from id
    * @throws IllegalStateException if `maxIters` rounds don't converge
    */
  def connectedComponents(nodes: DataFrame, idCol: String, edges: DataFrame,
                          srcCol: String, dstCol: String,
                          maxIters: Int = 30,
                          loopConfs: Map[String, String] = Map.empty,
                          hotDegree: Long = 1000000L): DataFrame =
    connectedComponentsWithRounds(nodes, idCol, edges, srcCol, dstCol,
      maxIters, loopConfs, hotDegree)._1

  /** [[connectedComponents]] plus the number of contraction rounds actually
    * run — the scale-relevant diagnostic (rounds ≈ log₂ of the largest
    * component's star depth).
    *
    * @param loopConfs loop overrides, read first, then the caller's session
    *                  conf: `spark.sql.shuffle.partitions` (parallelism
    *                  cap) and `spark.graft.cc.rowsPerPartition`
    *                  (per-partition edge budget for the manual round
    *                  re-sizing). Any other key throws
    *                  IllegalArgumentException. The caller's session is
    *                  never mutated.
    * @param hotDegree nodes with more than this many rows in a star are
    *                  salted over all reducers, their neighborhood minimum
    *                  resolved from the slice minima (see the object
    *                  scaladoc); the default caps any one reducer's share
    *                  of a node at ~10⁶ rows while keeping the salted-key
    *                  maps at a few MB even for trillion-edge inputs.
    */
  def connectedComponentsWithRounds(nodes: DataFrame, idCol: String,
                                    edges: DataFrame, srcCol: String,
                                    dstCol: String, maxIters: Int = 30,
                                    loopConfs: Map[String, String] = Map.empty,
                                    hotDegree: Long = 1000000L)
      : (DataFrame, Int) = {
    val unknown = loopConfs.keySet -- confKeys
    require(unknown.isEmpty, s"unknown connectedComponents loopConfs " +
      s"${unknown.mkString(", ")}; supported: ${confKeys.mkString(", ")}")
    val spark = nodes.sparkSession
    val cleaned = edges
      .select(col(srcCol).cast("long").as("_1"), col(dstCol).cast("long").as("_2"))
      .where(col("_1") =!= col("_2"))
      .distinct()
    def conf(key: String, dflt: String): String =
      loopConfs.getOrElse(key, spark.conf.get(key, dflt))
    val basePartsN = conf("spark.sql.shuffle.partitions", "200").toInt
    val rowsPerPart = conf("spark.graft.cc.rowsPerPartition", "100000").toLong
    // ONE Catalyst plan derives the cleaned edges, decoded once into
    // primitive blocks in both orientations; its one seed job populates the
    // persist, computes the convergence stats (over the edges as given) and
    // reports the first star's locally heavy keys.
    val seed: RDD[Pairs] = cleaned.as[(Long, Long)](tupleEnc).rdd
      .mapPartitions { it =>
        val b = new mutable.ArrayBuilder.ofLong
        it.foreach(e => b.addOne(e._1).addOne(e._2).addOne(e._2).addOne(e._1))
        Iterator.single(b.result())
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val thr0 = hotDegree / math.max(1, seed.getNumPartitions)
    val seedParts = seed.map { a =>
      var n = 0L; var x = 0L
      for (i <- a.indices by 4) { n += 1; x ^= edgeHash(a(i), a(i + 1)) }
      val keys = if (n > thr0) Array.tabulate(a.length / 2)(j => a(2 * j)) else Array.emptyLongArray
      Part(n, x, Array.emptyLongArray, heavyKeys(keys, thr0))
    }.collect()
    val seedStats = seedParts.foldLeft((0L, 0L)) { case ((a, b), q) => (a + q.n, b ^ q.x) }
    val (fin, it) = contract(seed, seedStats, keySet(seedParts), basePartsN,
      rowsPerPart, maxIters, hotDegree)
    // At the star fixpoint each node's symmetric neighborhood contains its
    // component root (the root's neighbors are all larger), so
    // comp = min(neighbors ∪ self) — the first entry of each sorted run (a
    // salted root's slices each yield the root itself). Nodes with no edge
    // keep their own id. One Catalyst aggregate on the caller session.
    val nbrMin = spark.createDataset(fin.flatMap { a =>
      val out = Array.newBuilder[(Long, Long)]
      groups(a)((s, _) => out += ((a(2 * s), math.min(a(2 * s), a(2 * s + 1)))))
      out.result().iterator
    })(tupleEnc).toDF("id", "comp")
    val own = nodes.select(col(idCol).cast("long").as("id"))
    (own.select(col("id"), col("id").as("comp")).union(nbrMin)
      .groupBy(col("id")).agg(min(col("comp")).as("comp")), it)
  }

  /** Fixed-iteration PageRank over an undirected graph, in exact integer
    * parts-per-million arithmetic — the centrality ranking over a near-dup
    * candidate graph that surfaces the "template hub" documents every
    * cluster touches (a dup graph's highest-rank nodes are the boilerplate
    * carriers worth human review before mass deletion).
    *
    * Shapes, per iteration: ONE shuffle join (current ranks ⋈ the static
    * degree-annotated edge list, keyed by src) and ONE map-side-combined
    * aggregate on dst — the canonical distributed PageRank round; nothing
    * is ever collected. The degree-annotated symmetric edge list is derived
    * once and materialized ([[graft.Materialize]]: localCheckpoint; lazy
    * under Explain's `graft.materialize=false`) so the `iters` rounds and
    * the degree computation re-read one frame instead of re-deriving the
    * candidate pairs each round. A fixed small `iters` keeps the lineage
    * depth bounded, so no per-round RDD re-wrapping is needed (contrast
    * [[connectedComponents]], whose round count is data-dependent). An
    * RDD-round rewrite was tried in r18 and REJECTED on measurement: with
    * the whole 3-iteration recurrence in ONE Catalyst plan there is no
    * per-round planning to save, and the mega-hub drill regressed
    * 4.7 s → 35.5 s at 1M nodes (Tungsten rows beat serialized tuples once
    * per-round data is large).
    *
    * All arithmetic is integral and floored (`div`), so ranks are
    * bit-identical across engines, partitionings and merge orders:
    *   r₀ = scale div N;  contribution = rank div deg;
    *   rₖ₊₁ = (scale·(100−dampingPct) div 100) div N
    *           + (inflow · dampingPct) div 100.
    * Dangling (degree-0) mass is dropped — the standard simplification —
    * so ranks need not sum to `scale`. The single driver-side action is
    * the node count (one scalar, same class as the IVF centroid collects).
    *
    * `scale` is the total integer mass and sets the RESOLUTION: per-node
    * quantities are ~scale/N, and floored division eats ~one unit per
    * round, so keep scale ≳ 10⁴·N or ranks quantize to zero (measured: at
    * N = 250 000 the 10⁶ default underflows by round 2 — LargeScaleSpec
    * runs 10¹²). The 10⁶ default stays for corpus-sized dup graphs where
    * the ppm reading is the convenient one.
    *
    * @return (id, rank_ppm) for every node in `nodes`, in parts-per-`scale`
    */
  def pageRankPpm(nodes: DataFrame, idCol: String, edges: DataFrame,
                  srcCol: String, dstCol: String, iters: Int = 3,
                  dampingPct: Int = 85, scale: Long = 1000000L): DataFrame = {
    val spark = nodes.sparkSession
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
    val withDeg = {
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      graft.Materialize(sym.join(deg, "src"))
    }
    val n = math.max(ids.count(), 1L)
    val teleport = scale * (100L - dampingPct) / 100L / n
    var ranks = ids.withColumn("rank_ppm", lit(scale / n))
    for (_ <- 1 to iters) {
      val inflow = withDeg.join(ranks, withDeg("src") === ranks("id"))
        .select(col("dst"), expr("rank_ppm div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = ids.join(inflow, ids("id") === inflow("dst"), "left")
        .select(col("id"), (lit(teleport) +
          expr(s"coalesce(inflow, 0L) * $dampingPct div 100")).as("rank_ppm"))
    }
    ranks
  }
}
