package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *    set against the corpus; one scan, no corpus shuffle. The baseline and
  *    the verifier for the approximate path.
  *  - [[lshTopK]] — random-hyperplane LSH: corpus is bucketed by a b-bit
  *    sign signature (deterministic hyperplanes), queries probe only their
  *    own bucket; exact cosine rerank within the bucket. At 100 TB the
  *    bucketed join touches ~corpus/2^b per query instead of the full scan.
  */
object Ann {

  /** Cast float vector to double + L2 norm, computed once. */
  private def prepared(df: DataFrame, idCol: String, vecCol: String,
                       idOut: String, vecOut: String, normOut: String): DataFrame = {
    df.select(col(idCol).as(idOut),
        transform(col(vecCol), x => x.cast("double")).as(vecOut))
      .withColumn(normOut,
        sqrt(graft.plans.Expressions.dotProduct(col(vecOut), col(vecOut))))
  }

  /** Cosine over prepared (double, norm>0) vectors. The dot product is the
    * fused [[graft.plans.Expressions.DotProduct]] codegen expression — the
    * same left-to-right double fold as the aggregate(zip_with) composite
    * (bit-identical, oracles untouched) without allocating a product array
    * per candidate pair. */
  def cosine(vecA: Column, normA: Column, vecB: Column, normB: Column): Column =
    graft.plans.Expressions.dotProduct(vecA, vecB) / (normA * normB)

  /** Within-block cosine near-dup pairs over a PREPARED frame with columns
    * (block, id, vec, norm), norm > 0 rows only — the single home of the
    * cross-engine pair contract shared by
    * [[graft.dedup.Dedup.embeddingCosinePairs]],
    * [[graft.dedup.Dedup.embeddingLshPairs]], and [[semanticDedup]]:
    * candidates are id_a < id_b within a block, and the threshold compares
    * the cosine ROUNDED to 6 decimals so the keep/drop decision is
    * bit-reproducible against a SQL oracle. Change the rounding or the
    * tie-break here and every caller (and its oracle) moves together. */
  private[graft] def blockedCosinePairs(v: DataFrame, minSim: Double): DataFrame = {
    val a = v.select(col("block"), col("id").as("id_a"),
      col("vec").as("__va"), col("norm").as("__na"))
    val b = v.select(col("block"), col("id").as("id_b"),
      col("vec").as("__vb"), col("norm").as("__nb"))
    a.join(b, Seq("block")).where(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(cosine(col("__va"), col("__na"), col("__vb"), col("__nb")), 6))
      .where(col("cosine") >= minSim)
      .select(col("block"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact top-k neighbors per query (self-matches excluded). The per-query
    * rank orders by ROUNDED similarity with the corpus id as tiebreak, so
    * results are stable across engines and runs. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = prepared(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = prepared(corpus, idCol, vecCol, "corpus_id", "cv", "cn")
    val sims = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("qn"), col("cv"), col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random ±1 hyperplanes: component (p, d) is the
    * parity of a byte of md5("p:d") — stable across runs/JVMs, no RNG. */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val h = mdf.digest(s"$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** b-bit sign signature of a (double) vector under the fixed hyperplanes:
    * bit p = sign(v · h_p). Routes through the codegen'd
    * [[graft.plans.Expressions.SignSignature]] with the plane matrix as
    * ONE nested-array literal: the per-term Column spelling
    * (`element_at(vec, d+1) * lit(s)` summed) put numPlanes×dim live
    * expression nodes into every stage computing a signature, and the
    * resulting whole-stage codegen compile time dominated the small-corpus
    * bench. Bit-identical results (same left-to-right double accumulation,
    * same >= 0 bit rule, same null-element behavior — see the expression's
    * scaladoc). */
  def signature(vec: Column, planes: Array[Array[Double]]): Column =
    graft.plans.Expressions.signSignature(vec,
      typedlit(planes.map(_.toSeq).toSeq))

  /** Approximate top-k: bucket corpus and queries by signature, exact rerank
    * inside the bucket. `multiProbe` = Hamming radius probed on the QUERY
    * side (0 ⇒ own bucket only; 1 ⇒ also every bucket one bit-flip away) —
    * the standard recall/scan-fraction dial: probing radius 1 scans
    * (numPlanes+1)/2^numPlanes of the corpus in expectation. Recall < 1 by
    * construction; measured against [[bruteForceTopK]] in AnnSpec. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int, dim: Int,
              multiProbe: Int = 1): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val probeOffsets: Seq[Long] =
      0L +: (if (multiProbe >= 1) (0 until numPlanes).map(p => 1L << p) else Seq.empty)
    val q = prepared(queries, idCol, vecCol, "query_id", "qv", "qn")
      .withColumn("sig", signature(col("qv"), planes))
      .withColumn("bucket", explode(array(probeOffsets.map(o =>
        col("sig").bitwiseXOR(lit(o))): _*)))
      .drop("sig")
    val c = prepared(corpus, idCol, vecCol, "corpus_id", "cv", "cn")
      .withColumn("bucket", signature(col("cv"), planes))
    val sims = c.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("qv"), col("qn"), col("cv"), col("cn")), 6).as("cosine"))
      .distinct() // multi-probe can reach the same (query, corpus) twice
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path: partition the
    * corpus into `nlist` cells around centroid vectors, search only the
    * `nprobe` cells nearest each query, exact rerank within them.
    *
    * Centroids here are a deterministic sample of the corpus itself (every
    * (n/nlist)-th vector by id — no RNG, no iterative k-means; Lloyd
    * refinement plugs in trivially by re-running [[assignCells]]). At
    * cluster scale the corpus is written PARTITIONED BY cell, so a query
    * touches nprobe/nlist of the data via partition pruning alone.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int, nprobe: Int,
              lloydIters: Int = 0): DataFrame = {
    // The prepared corpus feeds FOUR consumers — the centroid-stride count,
    // the seed collect, each Lloyd pass, and the final cell-assigned probe
    // plan — so the scan+cast+norm is cached once here instead of
    // recomputed per driver action (buildCentroids detects the existing
    // cache and leaves ownership with us). Left cached for the returned
    // plan's execution; callers running many builds per session clear the
    // session cache between them (the bench does per rep).
    // No Spread here (measured): the per-row assignment work is a few ms
    // per thousand vectors, so fanning an under-split small corpus to
    // defaultParallelism costs more in per-stage task scheduling than the
    // single-thread compute it parallelizes — the reverse of the shingle
    // operators where per-row work dominates. A production corpus arrives
    // well-split and parallelizes without help.
    val c = prepared(corpus, idCol, vecCol, "corpus_id", "cv", "cn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = buildCentroids(c, nlist, lloydIters)
    val cCells = assignCells(c, "cv", centroids, 1).withColumnRenamed("cell_1", "cell")
    val qPrepped = prepared(queries, idCol, vecCol, "query_id", "qv", "qn")
    // Queries probe their nprobe nearest cells (explode over cell ranks).
    val qCells = assignCells(qPrepped, "qv", centroids, nprobe)
      .select(col("query_id"), col("qv"), col("qn"),
        explode(array((1 to nprobe).map(i => col(s"cell_$i")): _*)).as("cell"))
    // No distinct: each corpus vector sits in exactly ONE cell (cell_1) and
    // a query's nprobe probe cells are distinct centroid ids, so a
    // (query, corpus) pair can meet at most once in the join — a distinct
    // here paid a full extra exchange for rows already unique.
    val sims = cCells.join(broadcast(qCells), Seq("cell"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("qv"), col("qn"), col("cv"), col("cn")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  /** Nearest-centroid cluster assignment over the whole corpus — the
    * k-means labeling step exposed as its own operator (corpus
    * partitioning, topic bucketing, IVF index builds all start here).
    * Returns (id, cell). `lloydIters` > 0 refines the deterministic stride
    * seeds with that many distributed k-means passes. At cluster scale the
    * output is what you `partitionBy("cell")` on when writing the corpus. */
  def clusterAssign(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, lloydIters: Int = 0): DataFrame = {
    val c = prepared(corpus, idCol, vecCol, "corpus_id", "cv", "cn")
    val cents = buildCentroids(c, nlist, lloydIters)
    assignCells(c, "cv", cents, 1)
      .select(col("corpus_id").as(idCol), col("cell_1").as("cell"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus by nearest centroid, then drop
    * every vector that has a lower-id ≥ `minCosine` neighbor WITHIN its
    * cluster — each survivor is the minimum-id representative of its
    * within-cell near-duplicate neighborhood. Zero-norm vectors have no
    * direction (cosine is 0/0) and are excluded up front.
    *
    * The threshold compares the cosine ROUNDED to 6 decimals, so the
    * keep/drop decision is reproducible across engines (same contract as
    * [[graft.dedup.Dedup.embeddingCosinePairs]]).
    *
    * Scale shape: this is THE reason SemDeDup clusters first — the
    * quadratic pair join is confined within a cell, so total work is
    * ~n²/nlist instead of n²; pick nlist ∝ corpus size to hold expected
    * cell size constant (the paper uses ~√n clusters). Centroids broadcast
    * (a few thousand doubles); the self-join shuffles both sides by cell
    * once. Returns the kept (id, cell) rows.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, minCosine: Double,
                    lloydIters: Int = 0): DataFrame = {
    val c = prepared(corpus, idCol, vecCol, "corpus_id", "cv", "cn")
      .where(col("cn") > 0)
    val cents = buildCentroids(c, nlist, lloydIters)
    val asgRaw = assignCells(c, "cv", cents, 1)
      .select(col("corpus_id").as("id"), col("cv").as("vec"),
        col("cn").as("norm"), col("cell_1").as("block"))
    // Referenced three times (both pair-join sides + the anti-join probe):
    // materialize the scan+cast+assignment once, per the session-wide
    // graft.materialize strategy (lazy under `false` — Explain).
    val asg = graft.Materialize(asgRaw)
    val dropped = blockedCosinePairs(asg, minCosine)
      .select(col("id_b").as("id")).distinct()
    asg.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("block").as("cell"))
  }

  /** Deterministic centroid pick: every stride-th corpus id — collects ONLY
    * the ~nlist centroid rows to the driver, never the corpus. (A k-means
    * refinement would re-assign and re-average around these seeds.)
    *
    * ONE driver action, not two: the stride needs the corpus count, but a
    * separate prep.count() paid a full job of fixed scheduler latency
    * before the seed scan could start — measurable against q63's
    * sub-second oracle. The count instead rides in as a broadcast 1-row
    * aggregate and the stride arithmetic (`max(1, cnt DIV nlist)`, integer
    * division — identical to the Scala `math.max(1L, cnt / nlist)` it
    * replaces for the non-negative counts involved) moves into the plan,
    * so the count stage and the seed scan schedule inside a single action
    * (which also doubles as the cache warm-up for the shared prep). */
  private def pickCentroids(prep: DataFrame, nlist: Int): Array[(Int, Array[Double], Double)] =
    prep
      .crossJoin(broadcast(prep.agg(count(lit(1)).as("__cnt"))))
      .where(pmod(col("corpus_id"),
        greatest(lit(1L), expr(s"__cnt DIV $nlist"))) === 0)
      .orderBy(col("corpus_id")).limit(nlist).collect()
      .zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Double](r.fieldIndex("cv")).toArray,
          r.getDouble(r.fieldIndex("cn")))
      }

  /** Seed pick + optional Lloyd refinement, with every bounded collect
    * planned on a CHILD session (`spark.newSession()` — same SparkContext,
    * shared cache manager, fresh SQL-conf state; the pattern
    * [[graft.operators.Graph]]'s contraction loop established) configured
    * with AQE off and ONE post-shuffle partition:
    *
    *  - The index-BUILD actions (seed pick, Lloyd mean collects) produce
    *    ≤nlist rows BY CONSTRUCTION at every scale — their exchanges move
    *    centroid-count rows, so AQE's runtime re-planning can never improve
    *    them, while its stage-by-stage materialization turns each 2-stage
    *    collect into 2–3 driver-round-trip jobs whose scheduling gaps
    *    dominate the whole index build on small corpora (measured: ~19 %
    *    of q63). shuffle.partitions=1 is the static form of the coalescing
    *    AQE would have done: the reduce side holds ≤nlist rows.
    *  - The CALLER's session confs are never touched, so concurrent
    *    queries on other threads — batch or streaming, including a
    *    stream's FIRST micro-batch, whose planned shuffle partition count
    *    is pinned into its checkpoint permanently — plan under their own
    *    settings. (This retires the r13/r14 conf-flip guards: there is no
    *    window to guard.)
    *
    * The rebind is a GLOBAL temp view (cross-session by definition): the
    * child resolves the view to `prep`'s own analyzed plan, so the shared
    * cache manager still substitutes the caller's persisted
    * InMemoryRelation — zero-copy, no RDD round-trip — and the first child
    * action doubles as the cache warm-up for the shared prep. The PROBE
    * plan the builders feed stays on the caller's session and keeps AQE —
    * that one scans the corpus and benefits at scale. */
  private def buildCentroids(prep: DataFrame, nlist: Int,
                             lloydIters: Int): Array[(Int, Array[Double], Double)] = {
    val owner = prep.sparkSession
    // Lloyd refinement runs iters+1 actions over prep — cache it for the
    // build unless the caller already owns the cache (ivfTopK does: one
    // cache shared across build AND probe). Seed-only builds are a single
    // action; caching would cost more than it saves.
    val weCache = lloydIters > 0 &&
      prep.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCache) prep.persist()
    val viewName = "graft_ann_idx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    prep.createOrReplaceGlobalTempView(viewName)
    try {
      val child = indexSession(owner)
      val db = owner.conf.get("spark.sql.globalTempDatabase", "global_temp")
      val prepIdx = child.table(s"$db.$viewName")
      val seeds = pickCentroids(prepIdx, nlist)
      if (lloydIters > 0) refineCentroids(prepIdx, seeds, lloydIters)
      else seeds
    } finally {
      owner.catalog.dropGlobalTempView(viewName)
      if (weCache) prep.unpersist(blocking = false)
    }
  }

  /** One child session per OWNER session, created on first index build and
    * reused after: a fresh `SessionState` (analyzer, optimizer, catalogs)
    * costs ~100-200 ms to build — per-BUILD that doubled the sub-second
    * IVF queries; per-OWNER it is one-time noise. Weak keys so a retired
    * owner session is collectable (the child references the shared context
    * and state, never the owner itself). The child's two confs are fixed
    * at creation and never mutated, so reuse across concurrent builds is
    * safe — view names are per-build-unique and the collects are
    * stateless. */
  private val indexSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]()

  private def indexSession(owner: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = indexSessions.synchronized {
    val cached = indexSessions.get(owner)
    if (cached != null) cached
    else {
      val child = owner.newSession()
      child.conf.set("spark.sql.adaptive.enabled", "false")
      child.conf.set("spark.sql.shuffle.partitions", "1")
      indexSessions.put(owner, child)
      child
    }
  }

  /** Lloyd (k-means) refinement of the seed centroids: re-assign every
    * corpus vector to its nearest current centroid (one distributed pass),
    * recompute each cell's mean vector, renormalize. Only the ≤nlist mean
    * rows are collected per iteration; cells that go empty keep their old
    * centroid. Deterministic and EXACT across engines: each component is
    * integerized as floor(x·2²⁴) and summed as a BIGINT (order-free), and
    * the mean comes back as floor(s/n)/2²⁴ — s fits a double exactly
    * (< 2⁵³), s/n is one IEEE division, and floor-after-divide is
    * sign-safe on both engines (no truncating-div vs flooring-div split).
    * A double `avg` here would partial-aggregate in partition order and
    * carry engine-dependent ulp noise into the next assignment pass — the
    * q108/q149 failure class. The 2⁻²⁴ quantization of the mean is a
    * deterministic truncation, identical on engine and oracle. */
  private[similarity] val MeanScale = 16777216.0 // 2^24

  /** Lloyd passes over the CHILD-bound prep frame ([[buildCentroids]] owns
    * session setup and the caller-side cache lifecycle). */
  private def refineCentroids(prep: DataFrame,
                              init: Array[(Int, Array[Double], Double)],
                              iters: Int): Array[(Int, Array[Double], Double)] = {
    var cents = init
    for (_ <- 0 until iters) {
      // ONE array-sum aggregate, not dim scalar sums: identical math
      // (see VectorFloorSum's scaladoc), but the plan carries 2 aggregate
      // expressions instead of dim+1 — the per-column form's optimizer/
      // planner cost per pass dominated this tiny-output action, and a
      // production 768-dim embedding column can't spell 768 columns.
      val means = assignCells(prep, "cv", cents, 1)
        .groupBy(col("cell_1"))
        .agg(count(lit(1)).as("__n"),
          graft.plans.Expressions.vectorFloorSum(col("cv"), MeanScale).as("__s"))
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          r.getInt(0) -> r.getSeq[Long](2).iterator
            .map(s => math.floor(s.toDouble / n) / MeanScale)
            .toArray
        }.toMap
      cents = cents.map { case (cid, oldVec, oldNorm) =>
        means.get(cid) match {
          case Some(v) => (cid, v, math.sqrt(v.map(x => x * x).sum))
          case None => (cid, oldVec, oldNorm)
        }
      }
    }
    cents
  }

  /** Adds cell_1..cell_n = indices of the n nearest centroids (by cosine).
    * The centroid table is a constant-folded literal; distances compute via
    * higher-order functions rather than an unrolled nlist×dim expression
    * tree — the unrolled form costs seconds of codegen compilation and
    * cannot scale past a few dozen centroids. */
  private def assignCells(df: DataFrame, vecCol: String,
                          centroids: Array[(Int, Array[Double], Double)],
                          n: Int): DataFrame = {
    // ONE typed literal, not array(struct(lit, lit, array(lit…))) — the
    // per-element spelling put nlist×(dim+2) literal NODES into the tree
    // (16×64 ≈ a thousand), and although ConstantFolding collapses them
    // before execution, the ANALYSIS of that tree showed up as hundreds of
    // driver-side milliseconds per action in the q63 job-gap profile —
    // paid again for every Lloyd pass and the final probe plan. Tuple
    // field names: _1 = cid, _2 = cnorm, _3 = cvec.
    val centLit = typedlit(centroids.map { case (cid, cvec, cnorm) =>
      (cid, cnorm, cvec.toSeq)
    }.toSeq)
    val sims = transform(centLit, c =>
      struct((graft.plans.Expressions.dotProduct(col(vecCol), c.getField("_3"))
          / c.getField("_2")).as("sim"),
        c.getField("_1").as("cid")))
    // n == 1 (every corpus assignment and every Lloyd pass) needs only the
    // argmax, not a full nlist-element sort per row: array_max orders
    // structs by (sim, cid) — exactly what descending array_sort put first
    // (largest sim, ties to the larger cid) — in one O(nlist) scan.
    if (n == 1) df.withColumn("cell_1", array_max(sims).getField("cid"))
    else {
      val sorted = reverse(array_sort(sims))
      (1 to n).foldLeft(df.withColumn("__cells", sorted)) { (d, i) =>
        d.withColumn(s"cell_$i", col("__cells").getItem(i - 1).getField("cid"))
      }.drop("__cells")
    }
  }

  /** Hard-negative mining for contrastive training: per query, the k most
    * cosine-similar corpus vectors carrying a DIFFERENT label, capped at
    * `maxSim` — candidates above the cap are near-identical to the query
    * and overwhelmingly mislabeled positives, the classic false-negative
    * poison in a contrastive batch. Same scale shape as [[bruteForceTopK]]:
    * the (small) query set broadcasts, the corpus is scanned once, and the
    * per-query rank orders by (ROUNDED cosine desc, corpus id) so the cut
    * is reproducible cross-engine. Zero-norm rows are excluded on both
    * sides (cosine undefined). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    maxSim: Double): DataFrame = {
    // Label rides the prepared projection directly — [[prepared]] + a join
    // back by id would self-join the corpus for a column the scan already
    // holds.
    def prep(df: DataFrame, p: String): DataFrame =
      df.select(col(idCol).as(s"${p}_id"), col(labelCol).as(s"${p}_label"),
          transform(col(vecCol), x => x.cast("double")).as(s"${p}v"))
        .withColumn(s"${p}n", sqrt(graft.plans.Expressions.dotProduct(
          col(s"${p}v"), col(s"${p}v"))))
        .where(col(s"${p}n") > 0)
    val q = prep(queries, "query")
    val c = prep(corpus, "corpus")
    val sims = c.join(broadcast(q), col("query_label") =!= col("corpus_label"))
      .withColumn("cosine",
        round(cosine(col("queryv"), col("queryn"), col("corpusv"), col("corpusn")), 6))
      .where(col("cosine") <= maxSim)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("corpus_label"),
        col("cosine"), col("rank"))
  }
}
