package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

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
  * TWO round engines run the identical contraction algebra, dispatched on
  * the MEASURED initial edge count (r18 optimization):
  *
  *  - **RDD rounds** (edge count < `spark.graft.cc.catalystRoundsMinEdges`,
  *    default 2e6): raw (Long, Long) transforms, zero Catalyst work per
  *    iteration. A Catalyst round re-enters planning every iteration —
  *    measured 0.25-0.45 s per round plan at ANY data size (`df.rdd`'s
  *    RDD-DAG construction is dominated by ClosureCleaner serializing each
  *    operator closure's captured plan state, plus a second
  *    `rddQueryExecution` pass and a Row-deserialization stage) — ~1-1.5 s
  *    of pure driver time per CC query, which DOMINATES small-graph calls:
  *    A/B on the q65 graph (9k candidate edges) read 4.9-6.2 s (Catalyst
  *    rounds) vs 1.2-2.4 s (RDD rounds) for bit-identical labels.
  *  - **Catalyst rounds** (edge count ≥ the threshold): the pre-r18 loop,
  *    unchanged — whole-stage-codegen'd stars over compact UnsafeRows. At
  *    large edge counts the per-round shuffle/processing efficiency beats
  *    the planning overhead: measured at 4.4M chain+star edges the
  *    Catalyst rounds run ~1.7× FASTER than the RDD rounds (72.8 s vs
  *    122.1 s warm) even with Kryo shuffle serialization, while at 1.1M
  *    edges the two cross (22.7 s vs 32.8 s in the RDD rounds' favor).
  *    The threshold conf is deliberately below the measured crossover
  *    band's upper end so the big-data regime always gets the engine
  *    whose cost grows slower in bytes.
  *
  * Both engines share ONE seed materialization (typed tuple decode of the
  * cleaned edges — no Row boxing) whose single job also computes the
  * convergence stats, and one final label derivation; the convergence
  * checksum is the same bit_xor(xxhash64(src, dst)) in both (the RDD
  * rounds call Spark's own XxHash64 kernel), so the stats are
  * interchangeable across the dispatch.
  *
  * Scale design, per round (same shapes in both engines):
  *  - The per-node neighborhood minimum is a map-side-combined
  *    (min, degree) aggregate JOINED back to the edges — never a
  *    whole-partition window min. A window partition is one unsplittable
  *    task, and the root of a giant duplicate cluster (the common dedup
  *    degeneracy) has degree ≈ cluster size, so a window would serialize
  *    one cluster-sized task per round. The aggregate reduces each map
  *    partition to one row per node before its shuffle, so the agg itself
  *    never concentrates a hot key.
  *  - The join back is HOT/COLD split (AQE's skew-join rule cannot match
  *    this join shape — verified empirically): the degree of every node
  *    comes out of the SAME aggregate for free; nodes above `hotDegree`
  *    resolve map-side via a broadcast of the (few) hot mins — their edge
  *    rows never shuffle, so a 10⁸-degree cluster root costs zero
  *    reducer-side concentration. At most 2·|E|/hotDegree hot nodes can
  *    exist, so the broadcast is small by construction; cold srcs take the
  *    ordinary shuffle join, whose per-key row count is ≤ hotDegree by
  *    construction.
  *  - ONE blocking action per fused round pair for the convergence signal:
  *    both halves' edge sets materialize inside the same job that computes
  *    it (edge count + checksum) — no separate checkpoint-then-count pair.
  *    Caveat (mirrors the old broadcast-job note): in the RDD engine's hot
  *    regime (round edge count > hotDegree) each minJoin(Some(t)) runs an
  *    eager collectAsMap() driver job at DAG-construction time to build
  *    the hot-min broadcast — 4 extra blocking jobs per fused pair, each
  *    bounded by the 2·|E|/hotDegree map. The Catalyst engine builds the
  *    same map via a BroadcastExchange inside the round plan instead.
  *  - The superseded round's RDD is unpersisted DETERMINISTICALLY as soon as
  *    its successor is materialized — memory use is 2 edge sets, not
  *    O(rounds). If `sparkContext.setCheckpointDir` is configured, each
  *    round additionally checkpoints RELIABLY (one extra cache-fed job per
  *    round), so executor loss recovers from storage instead of replaying
  *    the contraction from scratch.
  *  - Shuffle partition counts are re-sized each round from the previous
  *    round's exact edge count (contraction shrinks the set every round),
  *    capped at the caller's `spark.sql.shuffle.partitions` — cluster-scale
  *    inputs keep full parallelism, tail rounds stop paying empty-task
  *    overhead. The caller's session confs are never touched (the Catalyst
  *    rounds plan on a child session; the RDD rounds plan nothing).
  *
  * Non-convergence is an ERROR: if `maxIters` rounds don't reach the
  * fixpoint the call throws instead of silently returning labels that are
  * not connected components. (log₂-style contraction makes the default
  * bound generous: 30 rounds cover any graph a 64-bit id space can hold.)
  *
  * Convergence detection is PROBABILISTIC in both engines: rounds are
  * declared equal on (count, bit_xor(xxhash64(src, dst))) — a 64-bit
  * checksum collision between two DIFFERENT equal-count edge sets would
  * terminate a pair early and return non-component labels. Accepted risk
  * (~2⁻⁶⁴ per round pair); an exact comparison would cost a join per
  * round, and the oracle gate re-verifies every CC consumer's labels.
  */
object Graph {

  private type Edge = (Long, Long)

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  private val tupleEnc =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** One partition's convergence contribution: (row count, bit_xor of
    * xxhash64(src, dst)) — the SAME function the Catalyst rounds compute
    * in SQL (XxHash64 folds fields left-to-right from seed 42), so stats
    * from either engine are directly comparable. */
  private def statPart(it: Iterator[Edge]): (Long, Long) = {
    var n = 0L; var x = 0L
    while (it.hasNext) {
      val p = it.next(); n += 1
      x ^= XxHash64Function.hash(p._2, LongType,
        XxHash64Function.hash(p._1, LongType, 42L))
    }
    (n, x)
  }

  // ------------------------------------------------------------------
  // RDD round engine (small regime): zero Catalyst work per iteration.
  // ------------------------------------------------------------------

  /** Per-src (min(dst), degree) — one map-side-combined pass. */
  private def srcMinDeg(edges: RDD[Edge], p: HashPartitioner)
      : RDD[(Long, (Long, Long))] =
    edges.aggregateByKey((Long.MaxValue, 0L), p)(
      (acc, v) => (math.min(acc._1, v), acc._2 + 1L),
      (a, b) => (math.min(a._1, b._1), a._2 + b._2))

  /** Attach each row's per-src neighborhood min, hot/cold split on
    * `hotDegree` (see the object scaladoc). Returns (src, (dst, nmin)).
    *
    * `hotDegree = None` selects the plain single shuffle join — the loop
    * passes it whenever the round's TOTAL edge count is ≤ hotDegree, which
    * PROVES no node can be hot: the hot branch would then cost one extra
    * driver job per star per round for a knowably-empty map. */
  private def minJoin(rows: RDD[Edge], mins: RDD[(Long, (Long, Long))],
                      hotDegree: Option[Long], p: HashPartitioner)
      : RDD[(Long, (Long, Long))] = hotDegree match {
    case None =>
      rows.join(mins.mapValues(_._1), p)
    case Some(t) =>
      // collectAsMap is bounded by 2·|E|/hotDegree entries (see scaladoc);
      // the job it runs also materializes the aggregate's shuffle output,
      // which the cold join below then reuses as a skipped stage.
      val hotMap = mins.filter(_._2._2 > t).mapValues(_._1)
        .collectAsMap()
      val bc = rows.sparkContext.broadcast(
        scala.collection.immutable.Map(hotMap.toSeq: _*))
      val viaHot = rows.mapPartitions({ it =>
        val m = bc.value
        it.flatMap { case (s, d) => m.get(s).map(nm => (s, (d, nm))) }
      }, preservesPartitioning = true)
      val coldRows = rows.mapPartitions({ it =>
        val m = bc.value
        it.filter { case (s, _) => !m.contains(s) }
      }, preservesPartitioning = true)
      viaHot.union(coldRows.join(
        mins.filter(_._2._2 <= t).mapValues(_._1), p))
  }

  /** large-star(E): for each node u over symmetric neighbors Γ(u), with
    * m = min(Γ(u) ∪ {u}): emit (v, m) for every v ∈ Γ(u), v > u.
    *
    * No distinct here: each undirected edge contributes exactly one output
    * row (from its smaller endpoint's perspective), so row count stays |E|
    * and the small-star that always follows dedups once for both phases.
    * The min aggregates over the FULL symmetric neighborhood; only the
    * dst > src rows (the emitted side) need the value joined on. */
  private def largeStar(e: RDD[Edge], hotDegree: Option[Long],
                        p: HashPartitioner): RDD[Edge] = {
    val sym = e.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
    minJoin(sym.filter { case (s, d) => d > s }, srcMinDeg(sym, p),
        hotDegree, p)
      .map { case (u, (v, m)) => (v, math.min(m, u)) }
  }

  /** small-star(E): orient edges so src > dst; for each node u with
    * m = min(Γ≤(u)): emit (v, m) for every v ∈ Γ≤(u) ∪ {u}, minus
    * self-loops. The (u, m) self rows come straight from the aggregate —
    * one row per node, not one per edge. */
  private def smallStar(e: RDD[Edge], hotDegree: Option[Long],
                        p: HashPartitioner): RDD[Edge] = {
    val or = e.map { case (s, d) => if (s >= d) (s, d) else (d, s) }
    val mins = srcMinDeg(or, p)
    minJoin(or, mins, hotDegree, p)
      .map { case (_, (v, m)) => (v, m) }
      .union(mins.map { case (u, (m, _)) => (u, m) })
      .filter { case (s, d) => s != d }
      .distinct(p.numPartitions)
  }

  /** RDD rounds from a persisted seed until the fixpoint. Returns the
    * final persisted edge set wrapped as a caller-session DataFrame plus
    * the round count. The seed is unpersisted when its first successor
    * materializes (it enters as `cur`). */
  private def rddRounds(spark: SparkSession, seed: RDD[Edge],
                        seedStats: (Long, Long), basePartsN: Int,
                        rowsPerPart: Long, maxIters: Int, hotDegree: Long)
      : (DataFrame, Int) = {
    val sc = spark.sparkContext
    var cur = seed
    var curStats = seedStats
    var midKeep: RDD[Edge] = null
    var converged = curStats._1 == 0L
    var it = 0
    try {
      while (!converged && it < maxIters) {
        // Manual adaptive coalescing: size the round's shuffles from the
        // PREVIOUS action's exact edge count — contraction shrinks the set
        // every round, and a tiny round on the caller's full partition
        // count is pure task overhead. Never exceeds the caller's setting,
        // so cluster-scale inputs keep full parallelism.
        val parts = math.max(1L,
          math.min(basePartsN.toLong, curStats._1 / rowsPerPart + 1L)).toInt
        val p = new HashPartitioner(parts)
        // Engage the hot/cold join only when this round COULD contain a
        // hot node (total edges > hotDegree); otherwise the plain join is
        // provably skew-safe and saves the hot-map collect jobs. Decided
        // from the fused pair's INPUT edge count — conservative, since
        // contraction never mints a hot node the input's total-edge bound
        // didn't already cover.
        val hd = if (curStats._1 > hotDegree) Some(hotDegree) else None
        // TWO large/small-star alternations per driver action: the action
        // (scheduling + the convergence stats) is the per-round fixed
        // bill, and contraction needs O(log n) rounds either way, so
        // fusing halves the job count. The intermediate round persists and
        // is read back by the second pair from cache (the one job's stages
        // run in dependency order, so the first stage to touch it
        // computes-and-caches and the union's re-read hits cache); the
        // convergence stats read BOTH halves in the same action (a tagged
        // union), so the fixpoint is detected at the exact round it
        // happens.
        val mid = smallStar(largeStar(cur, hd, p), hd, p)
          .persist(StorageLevel.MEMORY_AND_DISK)
        midKeep = mid
        val next = smallStar(largeStar(mid, hd, p), hd, p)
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (sc.getCheckpointDir.isDefined) next.checkpoint()
        val statRows = next
          .mapPartitions(it0 => Iterator.single((1, statPart(it0))))
          .union(mid.mapPartitions(it0 => Iterator.single((0, statPart(it0)))))
          .collect()
        def statsOf(h: Int): (Long, Long) =
          statRows.iterator.filter(_._1 == h).map(_._2)
            .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b ^ d) }
        val midStats = statsOf(0)
        val nextStats = statsOf(1)
        // midStats == curStats ⇒ cur was already the fixpoint (the pair
        // was the detection overshoot); nextStats == midStats ⇒ the
        // fixpoint landed mid-pair. Either way next carries the fixpoint
        // content — contraction's potential strictly decreases until the
        // fixpoint, so content equality across one or two rounds can
        // never be a cycle.
        converged = nextStats == midStats || midStats == curStats
        cur.unpersist(blocking = false)
        mid.unpersist(blocking = false)
        midKeep = null
        cur = next; curStats = nextStats
        it += 2
      }
      if (!converged) {
        val n = curStats._1
        cur.unpersist(blocking = false)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            s"($n edges at round $it) — labels would NOT be " +
            "connected components; raise maxIters")
      }
    } catch {
      // On any failure, release this round's caches — nothing downstream
      // can use them.
      case e: Throwable =>
        if (cur != null) cur.unpersist(blocking = false)
        if (midKeep != null) midKeep.unpersist(blocking = false)
        throw e
    }
    (spark.createDataset(cur)(tupleEnc).toDF("src", "dst"), it)
  }

  // ------------------------------------------------------------------
  // Catalyst round engine (large regime): the pre-r18 loop, unchanged.
  // ------------------------------------------------------------------

  /** Per-src (min(dst), degree) — one map-side-combined pass. */
  private def srcMinsSql(edges: DataFrame): DataFrame =
    edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__nmin"), count(lit(1)).as("__deg"))

  /** [[minJoin]]'s Catalyst twin: hot srcs via broadcast join, cold srcs
    * via the ordinary shuffle join whose per-key row count is ≤ hotDegree.
    * `__nmin` is never null for a matched src, so the null test identifies
    * broadcast misses exactly. */
  private def minJoinSql(rows: DataFrame, mins: DataFrame,
                         hotDegree: Option[Long]): DataFrame = hotDegree match {
    case None =>
      rows.join(mins.drop("__deg"), Seq("src"))
    case Some(t) =>
      val hot = broadcast(mins.where(col("__deg") > t).drop("__deg"))
      val cold = mins.where(col("__deg") <= t).drop("__deg")
      val viaHot = rows.join(hot, Seq("src"), "left")
      viaHot.where(col("__nmin").isNotNull)
        .union(viaHot.where(col("__nmin").isNull).drop("__nmin")
          .join(cold, Seq("src")))
  }

  private def largeStarSql(e: DataFrame, hotDegree: Option[Long]): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    minJoinSql(sym.where(col("dst") > col("src")), srcMinsSql(sym), hotDegree)
      .select(col("dst").as("src"),
        least(col("__nmin"), col("src")).as("dst"))
  }

  private def smallStarSql(e: DataFrame, hotDegree: Option[Long]): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = srcMinsSql(or)
    minJoinSql(or, mins, hotDegree)
      .select(col("dst").as("src"), col("__nmin").as("dst"))
      .union(mins.select(col("src"), col("__nmin").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Catalyst rounds from a persisted seed until the fixpoint — the
    * pre-r18 loop: a CHILD session (same SparkContext/cache, fresh
    * SQL-conf state) with AQE off (one driver job per round, not one per
    * shuffle stage — measured ~4× the job count per round otherwise) and
    * per-round shuffle-partition re-sizing; the caller's session is never
    * mutated. Same return/unpersist contract as [[rddRounds]]. */
  private def sqlRounds(spark: SparkSession, seed: RDD[Edge],
                        seedStats: (Long, Long),
                        loopConfs: Map[String, String], maxIters: Int,
                        hotDegree: Long): (DataFrame, Int) = {
    val loop = spark.newSession()
    loop.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loopConfs.foreach { case (k, v) => loop.conf.set(k, v) }
    val basePartsN = loop.conf.get("spark.sql.shuffle.partitions").toInt
    val rowsPerPart = loop.conf
      .get("spark.graft.cc.rowsPerPartition", "100000").toLong
    // One eager narrow pass converts the tuple seed to the cached Row form
    // the round plans read (ExistingRDD) — without it, every round-1
    // traversal of the fused star plan pays the typed serialize-from-object
    // decode over the full edge set (measured ~1.3× the whole contraction
    // at 4.4M edges). The tuple cache is released as soon as the Row copy
    // is materialized.
    val seedRows = seed.map(t => Row(t._1, t._2))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (loop.sparkContext.getCheckpointDir.isDefined) seedRows.checkpoint()
    seedRows.count()
    seed.unpersist(blocking = false)
    var cur: DataFrame = loop.createDataFrame(seedRows, edgeSchema)
    var curRdd: RDD[_] = seedRows
    var curStats = seedStats
    var midKeep: RDD[Row] = null
    var converged = curStats._1 == 0L
    var it = 0
    try {
      while (!converged && it < maxIters) {
        val parts = math.max(1L,
          math.min(basePartsN.toLong, curStats._1 / rowsPerPart + 1L))
        loop.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val hd = if (curStats._1 > hotDegree) Some(hotDegree) else None
        // Fused pair + lazily-persisted intermediate + tagged-union
        // convergence aggregate — rationale in [[rddRounds]] (the shapes
        // are the same; these are their Catalyst spellings).
        val mid = smallStarSql(largeStarSql(cur, hd), hd)
        val midRdd = mid.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        midKeep = midRdd
        val midDf = loop.createDataFrame(midRdd, edgeSchema)
        val nextRdd = smallStarSql(largeStarSql(midDf, hd), hd).rdd
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (loop.sparkContext.getCheckpointDir.isDefined) nextRdd.checkpoint()
        val next = loop.createDataFrame(nextRdd, edgeSchema)
        // bit_xor, not sum: order-independent, and cannot overflow under
        // ANSI. One collect materializes next (and therefore mid) and
        // returns both halves' (count, checksum).
        val statRows = next.select(lit(1).as("__half"), col("src"), col("dst"))
          .union(midDf.select(lit(0).as("__half"), col("src"), col("dst")))
          .groupBy(col("__half"))
          .agg(count(lit(1)).as("__n"),
            coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("__x"))
          .collect()
        def statsOf(h: Int): (Long, Long) = statRows.find(_.getInt(0) == h)
          .map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L))
        val midStats = statsOf(0)
        val nextStats = statsOf(1)
        converged = nextStats == midStats || midStats == curStats
        curRdd.unpersist(blocking = false)
        midRdd.unpersist(blocking = false)
        midKeep = null
        cur = next; curRdd = nextRdd; curStats = nextStats
        it += 2
      }
      if (!converged) {
        val n = curStats._1
        curRdd.unpersist(blocking = false)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds " +
            s"($n edges at round $it) — labels would NOT be " +
            "connected components; raise maxIters")
      }
    } catch {
      case e: Throwable =>
        if (curRdd != null) curRdd.unpersist(blocking = false)
        if (midKeep != null) midKeep.unpersist(blocking = false)
        throw e
    }
    // The one return covers every round count: curRdd is the last round's
    // persisted output or, when no round ran (it == 0: empty seed under a
    // forced-low dispatch threshold), seedRows — the persisted Row copy.
    // Rebuilding from `seed` instead, already unpersisted after
    // seedRows.count(), would force a full lineage recompute while leaking
    // the persisted seedRows (ADVICE r18).
    (spark.createDataFrame(curRdd.asInstanceOf[RDD[Row]], edgeSchema), it)
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
    *                  cap), `spark.graft.cc.rowsPerPartition` (per-partition
    *                  row budget for the manual round re-sizing), and
    *                  `spark.graft.cc.catalystRoundsMinEdges` (the measured
    *                  initial edge count at which the Catalyst round engine
    *                  takes over — see the object scaladoc for the measured
    *                  crossover). In the Catalyst regime all keys also
    *                  reach the loop's child session. The caller's session
    *                  is never mutated.
    * @param hotDegree nodes with more than this many incident edge rows in
    *                  a round resolve their neighborhood min via broadcast
    *                  instead of the shuffle join (see [[minJoin]]); at most
    *                  2·|E|/hotDegree such nodes can exist, so the default
    *                  bounds the broadcast at a few MB even for trillion-edge
    *                  inputs while capping any one join key at ~10⁶ rows.
    */
  def connectedComponentsWithRounds(nodes: DataFrame, idCol: String,
                                    edges: DataFrame, srcCol: String,
                                    dstCol: String, maxIters: Int = 30,
                                    loopConfs: Map[String, String] = Map.empty,
                                    hotDegree: Long = 1000000L)
      : (DataFrame, Int) = {
    val spark = nodes.sparkSession
    val sc = spark.sparkContext
    val cleaned = edges
      .select(col(srcCol).cast("long").as("_1"), col(dstCol).cast("long").as("_2"))
      .where(col("_1") =!= col("_2"))
      .distinct()
    def conf(key: String, dflt: String): String =
      loopConfs.getOrElse(key, spark.conf.get(key, dflt))
    val basePartsN = conf("spark.sql.shuffle.partitions", "200").toInt
    val rowsPerPart = conf("spark.graft.cc.rowsPerPartition", "100000").toLong
    val catalystMin =
      conf("spark.graft.cc.catalystRoundsMinEdges", "2000000").toLong
    // ONE Catalyst plan derives the cleaned edges, decoded straight to
    // primitive tuples by the typed deserializer (no Row boxing); its one
    // seed job both populates the persist and computes the convergence
    // stats — whose edge count then picks the round engine.
    val seed: RDD[Edge] = cleaned.as[Edge](tupleEnc).rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (sc.getCheckpointDir.isDefined) seed.checkpoint()
    val seedStats = seed.mapPartitions(it0 => Iterator.single(statPart(it0)))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b ^ d) }
    val (fin, it) =
      if (seedStats._1 >= catalystMin)
        sqlRounds(spark, seed, seedStats, loopConfs, maxIters, hotDegree)
      else
        rddRounds(spark, seed, seedStats, basePartsN, rowsPerPart,
          maxIters, hotDegree)
    // At the star fixpoint each node's symmetric neighborhood contains its
    // component root (the root's neighbors are all larger), so
    // comp = min(neighbors ∪ self). `least` skips the null an unmatched
    // left join leaves for isolated nodes. Built as ONE Catalyst plan on
    // the caller session over the final persisted RDD (reclaimed by the
    // ContextCleaner once the returned plan is unreachable).
    val symF = fin.union(fin.select(col("dst").as("src"), col("src").as("dst")))
    val nbrMin = symF.groupBy(col("src")).agg(min(col("dst")).as("nmin"))
      .select(col("src").as("id"), col("nmin"))
    val allNodes = nodes.select(col(idCol).cast("long").as("id"))
      .union(symF.select(col("src").as("id")))
      .distinct()
    (allNodes.join(nbrMin, Seq("id"), "left")
      .select(col("id"), least(col("nmin"), col("id")).as("comp")), it)
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
    * once and materialized (localCheckpoint, unless `graft.materialize` is
    * `false`) so the `iters` rounds and the degree computation re-read one
    * frame instead of re-deriving the candidate pairs each round. A fixed
    * small `iters` keeps the lineage depth bounded, so no per-round RDD
    * re-wrapping is needed (contrast [[connectedComponents]], whose round
    * count is data-dependent). An RDD-round rewrite was tried in r18 and
    * REJECTED on measurement: with the whole 3-iteration recurrence in ONE
    * Catalyst plan there is no per-round planning to save, and the
    * mega-hub drill regressed 4.7 s → 35.5 s at 1M nodes (Tungsten rows
    * beat serialized tuples once per-round data is large).
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
