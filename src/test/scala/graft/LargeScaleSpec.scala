package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

/** Marker for multi-minute validation runs, EXCLUDED from the default
  * `sbt test` (build.sbt filters it unless GRAFT_LARGE_SCALE is set — a
  * bare `-- -n graft.LargeScale` include cannot override the exclusion).
  * Run explicitly:
  *   GRAFT_LARGE_SCALE=1 sbt "testOnly graft.LargeScaleSpec"
  */
object LargeScale extends Tag("graft.LargeScale")

/** Order-of-magnitude empirical validation of the dedup stack's scale
  * claims, on synthetic corpora far beyond the bench scale factors:
  *
  *  - a PATHOLOGICAL duplicate cluster (≥20% of all docs identical — the
  *    degeneracy the hot/cold joins and star-edge shapes exist for) must
  *    not pin the pipeline: end-to-end wall time must scale ~linearly from
  *    N to 4N docs, and the contraction round count must stay O(log n);
  *  - the same pipelines the oracled queries run (simhash verified edges →
  *    connected components; MinHash band postings → star edges →
  *    components), not reduced stand-ins.
  *
  * Comments and sf0.1 measurements argue the asymptotics; this spec is the
  * datapoint: 4× the docs must cost well under the quadratic 16×.
  */
class LargeScaleSpec extends AnyFunSuite {
  // getOrCreate REUSES an existing session (e.g. SparkTestSession's
  // local[4] when this spec runs inside a combined `sbt test` with the
  // env opt-in); the configs below then only apply to a standalone
  // `testOnly graft.LargeScaleSpec` run. The ratio assertions stay valid
  // either way — both measured runs share whatever session exists.
  private lazy val spark: SparkSession = {
    // sharedConfs ride this builder too (ADVICE r18): a standalone
    // LargeScaleSpec run otherwise measures under a different serializer
    // and shuffle writer than every production entry point.
    val b = SparkSession.builder()
      .master("local[8]")
      .appName("graft-large-scale")
      .config("spark.sql.shuffle.partitions", "32")
    val s = GraftSession.sharedConfs
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Synthetic corpus: `pct20 = n/5` docs share ONE identical text (the
    * pathological cluster); the rest draw from a templated vocabulary with
    * enough overlap to create realistic mid-sized near-dup groups. Pure
    * column expressions — generation itself stays distributed. */
  private def corpus(n: Long): DataFrame = {
    val base = spark.range(n).select(col("id").as("doc_id"))
    base.withColumn("text",
      when(col("doc_id") % 5 === 0,
        lit("the quick brown fox jumps over the lazy dog every single night"))
      .otherwise(concat(
        lit("document body number "), (col("doc_id") % 9973).cast("string"),
        lit(" talks about topic "), (col("doc_id") % 211).cast("string"),
        lit(" and subject "), (col("doc_id") % 37).cast("string"),
        lit(" with filler words common to many rows"))))
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def simhashPipeline(docs: DataFrame): (Long, Int) = {
    val sim = Dedup.simhashHashes(docs, "doc_id", "text").localCheckpoint()
    val edges = Dedup.simhashVerifiedEdgesFromHashes(sim, maxHamming = 3)
    val (labeled, rounds) = operators.Graph.connectedComponentsWithRounds(
      docs.select(col("doc_id")), "doc_id", edges, "id_a", "id_b",
      // Low threshold so the 20%-of-corpus cluster root takes the
      // broadcast path — the scale shape under test.
      hotDegree = 100000L)
    (labeled.count(), rounds)
  }

  private def minhashPipeline(docs: DataFrame): (Long, Int) = {
    val banded = Dedup.minhashBandPostings(docs, "doc_id", "text",
      n = 3, numHashes = 8, bands = 4).localCheckpoint()
    val edges = Dedup.starEdgesFromBuckets(banded, Seq("band_idx", "band_val"),
      hotSize = 100000L)
    val (labeled, rounds) = operators.Graph.connectedComponentsWithRounds(
      docs.select(col("doc_id")), "doc_id", edges, "id_a", "id_b",
      hotDegree = 100000L)
    (labeled.count(), rounds)
  }

  test("simhash dedup components scale ~linearly with a 20% identical cluster",
      LargeScale) {
    val small = 500000L
    val large = 2000000L
    // Warm both code paths once at tiny scale so JIT/codegen isn't charged
    // to the small run.
    simhashPipeline(corpus(10000L))
    val ((nSmall, rSmall), tSmall) = timed(simhashPipeline(corpus(small)))
    val ((nLarge, rLarge), tLarge) = timed(simhashPipeline(corpus(large)))
    assert(nSmall == small && nLarge == large)
    assert(rSmall <= 10 && rLarge <= 12,
      s"contraction rounds grew past O(log n): $rSmall → $rLarge")
    val ratio = tLarge / tSmall
    info(f"simhash: $small%,d docs in $tSmall%.1f s; $large%,d docs in " +
      f"$tLarge%.1f s (ratio $ratio%.1f× for 4× data, $rSmall/$rLarge rounds)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; quadratic would be ~16×")
  }

  /** ONE stratum holding the whole corpus — the exact degeneracy the
    * bucketed cumulative sum exists for (a "web" domain that IS most of a
    * training mix). The naive window serializes all n rows through a
    * single task; the bucketed path must (a) agree with it bit-for-bit
    * and (b) scale ~linearly in n. Budget scales with n so the kept
    * fraction — and therefore the work profile — is constant across
    * sizes. */
  private def mixturePipeline(n: Long): Long = {
    import spark.implicits._
    val docs = spark.range(n).select(col("id"),
      lit("web").as("stratum"), (col("id") % 97).as("w"))
    val budgets = Seq(("web", 24L * n)).toDF("stratum", "budget")
    operators.Mixture.tokenBudgetSample(docs, "stratum", col("w"), col("id"),
      budgets).count()
  }

  test("token-budget sampling scales ~linearly on ONE giant stratum",
      LargeScale) {
    import spark.implicits._
    val small = 500000L
    val large = 2000000L
    mixturePipeline(10000L)
    // Bit-identity vs the naive single-window reference at the small size.
    val docs = spark.range(small).select(col("id"),
      lit("web").as("stratum"), (col("id") % 97).as("w"))
    val budgets = Seq(("web", 24L * small)).toDF("stratum", "budget")
    val naive = operators.NaiveRefs.tokenBudgetSampleNaive(docs, "stratum",
      col("w"), col("id"), budgets).count()
    val ((kSmall, kLarge), _) = timed {
      (mixturePipeline(small), mixturePipeline(large))
    }
    assert(kSmall == naive,
      s"bucketed path kept $kSmall rows, naive window kept $naive")
    val (_, tSmall) = timed(mixturePipeline(small))
    val (_, tLarge) = timed(mixturePipeline(large))
    val ratio = tLarge / tSmall
    info(f"mixture: $small%,d rows in $tSmall%.1f s ($kSmall%,d kept); " +
      f"$large%,d rows in $tLarge%.1f s ($kLarge%,d kept; ratio $ratio%.1f× for 4× data)")
    assert(kLarge > 0 && ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear")
  }

  test("minhash dedup components scale ~linearly with a 20% identical cluster",
      LargeScale) {
    val small = 250000L
    val large = 1000000L
    minhashPipeline(corpus(10000L))
    val ((nSmall, rSmall), tSmall) = timed(minhashPipeline(corpus(small)))
    val ((nLarge, rLarge), tLarge) = timed(minhashPipeline(corpus(large)))
    assert(nSmall == small && nLarge == large)
    assert(rSmall <= 10 && rLarge <= 12,
      s"contraction rounds grew past O(log n): $rSmall → $rLarge")
    val ratio = tLarge / tSmall
    info(f"minhash: $small%,d docs in $tSmall%.1f s; $large%,d docs in " +
      f"$tLarge%.1f s (ratio $ratio%.1f× for 4× data, $rSmall/$rLarge rounds)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; quadratic would be ~16×")
  }

  /** ONE language holding 80% of the corpus, with a heavy tie at one value
    * — the exact skew `ntile(10) OVER (PARTITION BY lang ORDER BY q)` would
    * serialize through a single group-sized sort task. The histogram path's
    * window runs over ≤ langs×1001 histogram rows regardless of n. */
  private def calibrateInput(n: Long): DataFrame =
    spark.range(n).select(col("id"),
      when(col("id") % 5 === 0,
          concat(lit("lang"), (col("id") % 4).cast("string")))
        .otherwise(lit("en")).as("lang"),
      when(col("id") % 3 === 0, lit(500L)).otherwise(col("id") % 1001).as("q"))

  private def calibratePipeline(n: Long): Long = {
    import spark.implicits._
    operators.Calibrate.histogramBuckets(calibrateInput(n), Seq("lang"), "q",
        buckets = 10, bucketOut = "decile")
      .agg(sum(col("decile") * (col("id") + 1))).as[Long].head()
  }

  test("histogram deciles scale ~linearly on a skewed 5-language corpus",
      LargeScale) {
    import spark.implicits._
    val small = 500000L
    val large = 2000000L
    calibratePipeline(10000L)
    // Bit-identity vs the per-group-window reference at the small size:
    // rows strictly below = count over a RANGE frame ending at -1; same
    // tie-sharing formula, but windowed over the full group (the shape
    // that does NOT scale — fine as a small-size oracle).
    val docs = calibrateInput(small)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("q"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val ref = docs
      .withColumn("__lt", coalesce(count(lit(1)).over(w), lit(0L)))
      .withColumn("__ng", count(lit(1)).over(wg))
      .select(col("id"),
        least(lit(9), expr("(10 * __lt) div __ng")).as("decile"))
      .agg(sum(col("decile") * (col("id") + 1))).as[Long].head()
    val (fastSmall, tSmall) = timed(calibratePipeline(small))
    assert(fastSmall == ref,
      s"histogram-bucket checksum $fastSmall != window reference $ref")
    val (_, tLarge) = timed(calibratePipeline(large))
    val ratio = tLarge / tSmall
    info(f"calibrate: $small%,d rows in $tSmall%.1f s; $large%,d rows in " +
      f"$tLarge%.1f s (ratio $ratio%.1f× for 4× data)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; the per-group sort is back")
  }

  /** Every doc carries the SAME leading bigram — a viral pair whose count
    * equals the corpus size (the "of the" degeneracy). The map-side-combined
    * count tables must reduce it partition-locally; any shape that shuffles
    * one row per occurrence of the hot pair to a single reducer degrades
    * super-linearly. */
  /** Tokens per doc: `alpha beta topicX` — pair (alpha, beta) occurs in
    * EVERY doc (n occurrences), (beta, topicX) splits across 211 values.
    * Every pair's lift is exactly ⌊10⁹/n⌋ (the n_x marginals cancel), so
    * the top-k tie-break is alphabetical and (alpha, beta) is rank 1 —
    * membership in the collected top-100 is deterministic at any n. */
  private def collocationsInput(n: Long): DataFrame =
    spark.range(n).select(concat(
      lit("alpha beta topic"), (col("id") % 211).cast("string")).as("text"))

  private def collocationsPipeline(n: Long): Map[(String, String), Long] =
    functions.Collocations.topCollocations(collocationsInput(n), "text",
        minCount = 5L, k = 100)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("collocation counting scales ~linearly under a viral pair", LargeScale) {
    val small = 500000L
    val large = 2000000L
    collocationsPipeline(10000L)
    val (topSmall, tSmall) = timed(collocationsPipeline(small))
    val (topLarge, tLarge) = timed(collocationsPipeline(large))
    // The viral pair's exact corpus frequency survives the hot-key path.
    assert(topSmall(("alpha", "beta")) == small)
    assert(topLarge(("alpha", "beta")) == large)
    val ratio = tLarge / tSmall
    info(f"collocations: $small%,d docs in $tSmall%.1f s; $large%,d docs in " +
      f"$tLarge%.1f s (ratio $ratio%.1f× for 4× data)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; the viral pair pinned a task")
  }

  /** Banded range join on a uniform event stream plus ONE bot user holding
    * 2% of all events — the hot key whose per-(key, bucket) pair count is
    * the join's quadratic risk. Buckets bound the blowup: a key's pairs per
    * bucket are (events in w)², not (events total)², so wall must stay
    * ~linear in n at fixed rate. */
  private def rangeJoinPipeline(n: Long): Long = {
    val ev = spark.range(n).select(
      when(col("id") % 50 === 0, lit(0L)).otherwise(col("id") % 9973).as("user"),
      timestamp_seconds(col("id") % 86400L).as("ts"),
      col("id"))
    val purchases = ev.where(col("id") % 10 === 0)
      .select(col("user"), col("ts").as("p_ts"), col("id").as("pid"))
    val views = ev.select(col("user"), col("ts").as("v_ts"))
    operators.RangeJoin.banded(purchases, views, Seq("user"), "p_ts", "v_ts",
      lowerSec = -300, upperSec = 0).count()
  }

  test("banded range join scales ~linearly with a hot key", LargeScale) {
    val small = 500000L
    val large = 2000000L
    rangeJoinPipeline(10000L)
    val (pSmall, tSmall) = timed(rangeJoinPipeline(small))
    val (pLarge, tLarge) = timed(rangeJoinPipeline(large))
    // At 4× rows over a FIXED time domain, density doubles per side → pair
    // count grows ~16× (both join sides densify); wall tracks output, so
    // the honest bound is pairs-per-second, not raw wall ratio.
    val throughputRatio = (pLarge / tLarge) / (pSmall / tSmall)
    info(f"rangeJoin: $small%,d rows → $pSmall%,d pairs in $tSmall%.1f s; " +
      f"$large%,d rows → $pLarge%,d pairs in $tLarge%.1f s " +
      f"(pair throughput ratio $throughputRatio%.2f×)")
    assert(pLarge > pSmall)
    assert(throughputRatio > 0.5,
      f"pair throughput fell to $throughputRatio%.2f× at 4× rows — the hot " +
        "key is concentrating work instead of bucket-bounding it")
  }

  private def packingPipeline(n: Long): Long = {
    val docs = spark.range(n).select(col("id"), (col("id") % 97).as("w"))
    operators.Packing.packBins(docs, col("w"), col("id"), 4096L)
      .groupBy("bin").count().count()
  }

  test("global sequence packing scales ~linearly (no corpus-wide window task)",
      LargeScale) {
    import spark.implicits._
    val small = 500000L
    val large = 2000000L
    packingPipeline(10000L)
    // Bit-identity vs the naive global window at the small size, via a
    // positional checksum (bin*8192 + offset < 2^26 per row — no overflow).
    val docs = spark.range(small).select(col("id"), (col("id") % 97).as("w"))
    def checksum(df: DataFrame): Long =
      df.agg(sum(col("bin") * 8192 + col("bin_offset"))).as[Long].head()
    val fast = checksum(operators.Packing.packBins(docs, col("w"), col("id"), 4096L))
    val slow = checksum(operators.NaiveRefs.packBinsNaive(docs, col("w"), col("id"), 4096L))
    assert(fast == slow, s"bucketed checksum $fast != naive $slow")
    val (binsSmall, tSmall) = timed(packingPipeline(small))
    val (binsLarge, tLarge) = timed(packingPipeline(large))
    val ratio = tLarge / tSmall
    info(f"packing: $small%,d rows → $binsSmall%,d bins in $tSmall%.1f s; " +
      f"$large%,d rows → $binsLarge%,d bins in $tLarge%.1f s " +
      f"(ratio $ratio%.1f× for 4× data)")
    assert(binsLarge > binsSmall && ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear")
  }

  /** Every doc opens with ONE corpus-wide sentence (document-frequency n —
    * uncapped, its postings join alone would be C(n, 2) pairs), then a
    * doc-unique token, then a 6-token span shared by exactly its partner
    * (ids 2k/2k+1). The doc-frequency cap must drop the hot grams, the
    * pair spans (df = 2) must survive, and every partner pair must report
    * its aligned 4-gram run — quadratic hazard removed, signal intact. */
  private def alignedRunsPipeline(n: Long): Long = {
    val k = (col("id") / 2).cast("long").cast("string")
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(
        lit("corpus wide shared sentence present everywhere u"),
        col("id").cast("string"),
        lit(" p"), k, lit("a p"), k, lit("b p"), k,
        lit("c p"), k, lit("d p"), k, lit("e p"), k, lit("f")).as("text"))
    val postings = Dedup.positionalShinglePostings(docs, "doc_id", "text", 3)
      .localCheckpoint()
    Dedup.alignedRunsFromPostings(postings, n = 3, minRun = 4,
      maxDocFreq = Some(100L)).count()
  }

  test("aligned-run detection scales ~linearly under a corpus-wide hot n-gram",
      LargeScale) {
    val small = 500000L
    val large = 2000000L
    alignedRunsPipeline(10000L)
    val (pSmall, tSmall) = timed(alignedRunsPipeline(small))
    val (pLarge, tLarge) = timed(alignedRunsPipeline(large))
    // Exactly one surviving pair per id-couple: the signal is complete
    // (no partner lost to the cap) and exact (no hot-gram fabrications).
    assert(pSmall == small / 2, s"expected ${small / 2} pairs, got $pSmall")
    assert(pLarge == large / 2, s"expected ${large / 2} pairs, got $pLarge")
    val ratio = tLarge / tSmall
    info(f"alignedRuns: $small%,d docs → $pSmall%,d pairs in $tSmall%.1f s; " +
      f"$large%,d docs → $pLarge%,d pairs in $tLarge%.1f s " +
      f"(ratio $ratio%.1f× for 4× data)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; the hot n-gram pinned the join")
  }

  /** Self-repetition (q114's operator) under the degeneracy its
    * `maxOccurrences` cap exists for: every 10th doc is a pathological
    * single-token loop ("rep" × 80 — its one 3-gram occurs 78 times, so
    * uncapped it alone contributes C(78,2) ≈ 3k self-pairs PER DOC,
    * ~0.3 G rows at n = 10⁶); the rest carry a doc-unique 5-token motif
    * repeated 4 times behind a unique 3-token prefix. The cap must drop
    * the degenerate grams entirely (rep_run 0 — exactly what q67's
    * repetition FRACTION flags instead), while the motif docs report the
    * exact displacement-5 run: positions 4..16 align, 13 k-grams,
    * 15 tokens. */
  private def selfRepetitionPipeline(n: Long): (Long, Long, Long) = {
    import spark.implicits._
    val id = col("doc_id").cast("string")
    val motif = transform(sequence(lit(1), lit(5)),
      i => concat(lit("m"), id, lit("v"), i.cast("string")))
    val docs = spark.range(n).select(col("id").as("doc_id")).select(
      col("doc_id"),
      when(col("doc_id") % 10 === 0,
          array_join(array_repeat(lit("rep"), 80), " "))
        .otherwise(concat_ws(" ",
          concat(lit("u"), id, lit("a")), concat(lit("u"), id, lit("b")),
          concat(lit("u"), id, lit("c")),
          array_join(flatten(array(motif, motif, motif, motif)), " ")))
        .as("text"))
    val postings = Dedup.positionalShinglePostings(docs, "doc_id", "text", 3)
      .localCheckpoint()
    val out = Dedup.selfAlignedRunsFromPostings(
      docs.select(col("doc_id").as("id")), postings, n = 3, maxOccurrences = 50)
    out.agg(
        count(lit(1)),
        sum(when(col("rep_run_kgrams") === 0, 1L).otherwise(0L)),
        sum(when(col("rep_run_kgrams") === 13, 1L).otherwise(0L)))
      .as[(Long, Long, Long)].head()
  }

  test("self-repetition detection scales ~linearly under degenerate repeat docs",
      LargeScale) {
    val small = 250000L
    val large = 1000000L
    selfRepetitionPipeline(10000L)
    val ((rowsS, zeroS, runS), tSmall) = timed(selfRepetitionPipeline(small))
    val ((rowsL, zeroL, runL), tLarge) = timed(selfRepetitionPipeline(large))
    // One row per doc; every degenerate doc capped to 0 (the occurrence cap
    // bound), every motif doc at EXACTLY its 13-kgram run (signal intact).
    assert(rowsS == small && zeroS == small / 10 && runS == small - small / 10,
      s"small: rows=$rowsS zero=$zeroS run13=$runS")
    assert(rowsL == large && zeroL == large / 10 && runL == large - large / 10,
      s"large: rows=$rowsL zero=$zeroL run13=$runL")
    val ratio = tLarge / tSmall
    info(f"selfRepetition: $small%,d docs in $tSmall%.1f s; $large%,d docs in " +
      f"$tLarge%.1f s (ratio $ratio%.1f× for 4× data)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; the degenerate docs " +
        "squared their own length past the occurrence cap")
  }

  /** Mass scale for the big runs: per-node quantities stay ~10⁶ at n=10⁶,
    * far above the flooring loss (the 10⁶ ppm default would quantize to
    * zero here — the documented resolution contract). */
  private val PrMass = 1000000000000L

  /** Mega-hub graph: node 0 touches n/10 leaves (the giant duplicate
    * cluster's root shape) plus a chain for diameter. The inflow aggregate
    * keyed by dst must map-side-combine the hub's n/10 contributions —
    * any shape that shuffles one row per hub edge to a single reducer
    * degrades super-linearly here. */
  private def pageRankPipeline(n: Long): (Long, Long) = {
    import spark.implicits._
    val nodes = spark.range(n).select(col("id"))
    val star = spark.range(n).where(col("id") % 10 === 1)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val chain = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val ranks = operators.Graph.pageRankPpm(nodes, "id",
      star.union(chain), "src", "dst", iters = 3, scale = PrMass)
    val row = ranks.agg(sum(col("rank_ppm")), max(col("rank_ppm")))
      .as[(Long, Long)].head()
    row
  }

  test("pageRank on a mega-hub graph scales ~linearly", LargeScale) {
    val small = 250000L
    val large = 1000000L
    pageRankPipeline(10000L)
    val ((_, maxSmall), tSmall) = timed(pageRankPipeline(small))
    val ((_, maxLarge), tLarge) = timed(pageRankPipeline(large))
    // The hub must dominate: it absorbs ~n/10 contributions each round, so
    // its rank stays orders above the per-node share scale/n.
    assert(maxSmall > PrMass / small * 50,
      s"hub rank $maxSmall did not dominate at n=$small")
    assert(maxLarge > PrMass / large * 50,
      s"hub rank $maxLarge did not dominate at n=$large")
    val ratio = tLarge / tSmall
    info(f"pageRank: $small%,d nodes in $tSmall%.1f s; $large%,d nodes in " +
      f"$tLarge%.1f s (ratio $ratio%.1f× for 4× nodes)")
    assert(ratio < 10.0,
      f"4× nodes cost $ratio%.1f× wall — super-linear; the hub inflow is " +
        "concentrating instead of map-side combining")
  }

  /** Machine-scale coverage selection: the distributed two-round greedy
    * must scale ~linearly in the posting count at a FIXED machine-sized k
    * (k=500 — beyond greedyCover's driver-loop comfort), with the
    * pathological 20%-identical cluster contributing one candidate doc
    * per bucket at most. Work profile: one doc-grouping shuffle + one
    * partition-local greedy pass + a bounded driver merge. */
  private def coverPipeline(n: Long): Long = {
    val postings = Dedup.shinglePostings(corpus(n), "doc_id", "text", 3)
    operators.Coverage.greedyCoverApprox(postings, "id", "shh", k = 500)
      .count()
  }

  test("approx greedy cover scales ~linearly at machine-sized k", LargeScale) {
    val small = 250000L
    val large = 1000000L
    coverPipeline(10000L)
    val (pSmall, tSmall) = timed(coverPipeline(small))
    val (pLarge, tLarge) = timed(coverPipeline(large))
    // The templated vocabulary is finite (9973×211×37 combos but shingle
    // universe far smaller); selection must still fill a large k.
    assert(pSmall > 100 && pSmall <= 500, s"unexpected pick count $pSmall")
    assert(pLarge > 100 && pLarge <= 500, s"unexpected pick count $pLarge")
    val ratio = tLarge / tSmall
    info(f"greedyCoverApprox: $small%,d docs in $tSmall%.1f s; $large%,d " +
      f"docs in $tLarge%.1f s (ratio $ratio%.1f× for 4× data, " +
      f"picks $pSmall/$pLarge)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; the local greedy or " +
        "the candidate merge is not bounding its work")
  }

  /** Bounded near-dup GROUPS (4 variants per group, a couple of tokens
    * differing) — the LSH-EVAL family (q137 recall curve, q171 precision,
    * q116 estimator error) lists candidate/truth PAIRS, so its linearity
    * claim only makes sense on a corpus whose true-pair count grows
    * linearly with docs (≤ C(4,2) per group); the 20%-identical
    * mega-cluster of the other drills would make the pair LISTING itself
    * quadratic by semantics, not by defect. Group tokens carry the FULL
    * group id — no residue modulus — since r18 (VERDICT-r17 #6): distinct
    * groups then share no keyed shingle at ANY corpus size, so truth AND
    * candidate pairs grow linearly by construction, and the r17 inline
    * adjudication of the old mod-99991 corpus's cross-group residue
    * collisions (super-linear candidate onset past n/4 > modulus — a
    * drill-corpus artifact, never the engine's) is history. */
  private def evalCorpus(n: Long): DataFrame = {
    // EVERY 3-gram shingle must carry a group-specific token: an
    // all-generic shingle ("shared detail across") has corpus-wide doc
    // frequency, the truth core's df cap drops it, and within-group
    // Jaccard ON THE KEPT SHINGLES collapses below the 0.5 band (the
    // first cut of this drill found that the hard way — zero truth
    // pairs). With full group ids every keyed shingle's df is the group
    // size (4) at every scale — far inside the cap, zero cross-group
    // reuse.
    val g = expr("doc_id div 4").cast("string")
    val v = (col("doc_id") % 4).cast("string")
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("text", concat(
        lit("e"), g, lit(" alpha e"), g, lit(" beta s"), g,
        lit(" gamma s"), g, lit(" delta t"), g, lit(" epsilon t"), g,
        lit(" zeta e"), g, lit(" eta s"), g, lit(" theta tail"), v))
  }

  /** The q137/q171/q116 chain on one corpus: df-capped truth pair core,
    * banded candidates, recall at the ≥0.5-Jaccard band, and the minhash
    * estimator's mean error over truth∩candidates.
    * @return (nTrue500, nDetected500, nCandidates, meanAbsErrMilli) */
  private def lshEvalPipeline(docs: DataFrame): (Long, Long, Long, Long) = {
    val postings = Dedup.shinglePostings(docs, "doc_id", "text", 3)
      .localCheckpoint()
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3,
      numHashes = 8).localCheckpoint()
    val banded = Dedup.minhashBandPostingsFromSignatures(sig, numHashes = 8,
      bands = 4)
    val cand = Dedup.candidatePairsFromBandPostings(banded).localCheckpoint()
    val truth = Dedup.pairOverlapCounts(postings, maxDocFreq = 100L)
      .withColumn("j_milli", expr("inter * 1000 div (n_a + n_b - inter)"))
      .localCheckpoint()
    val rec = truth.where(col("j_milli") >= 500)
      .join(cand.withColumn("__det", lit(1L)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(coalesce(col("__det"), lit(0L))), lit(0L)).as("n_det"))
      .first()
    val sa = sig.select(col("id").as("id_a") +:
      (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sb = sig.select(col("id").as("id_b") +:
      (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = (0 until 8)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val err = cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), (matches * 125).as("est_milli"))
      .join(truth.select(col("id_a"), col("id_b"), col("j_milli")),
        Seq("id_a", "id_b"))
      .agg(avg(abs(col("est_milli") - col("j_milli"))).as("mae"))
      .first()
    (rec.getLong(0), rec.getLong(1), cand.count(),
      math.round(if (err.isNullAt(0)) 0.0 else err.getDouble(0)))
  }

  test("LSH recall/precision/estimator eval scales ~linearly with stable bands",
      LargeScale) {
    val small = 250000L
    val large = 1000000L
    lshEvalPipeline(evalCorpus(10000L))
    val ((tr1, det1, cand1, err1), tSmall) =
      timed(lshEvalPipeline(evalCorpus(small)))
    val ((tr2, det2, cand2, err2), tLarge) =
      timed(lshEvalPipeline(evalCorpus(large)))
    // Truth/candidate pairs must track docs ~linearly (bounded groups;
    // the full-group-id corpus makes linear the CONSTRUCTION, so the old
    // 8x residue-collision allowance tightens to a noise margin over 4x).
    assert(tr1 > small / 4 && tr2 > large / 4, s"thin truth sets: $tr1/$tr2")
    assert(cand2 < cand1 * 6, s"candidate pairs grew super-linearly: $cand1 → $cand2")
    val rec1 = det1 * 1000 / tr1
    val rec2 = det2 * 1000 / tr2
    val ratio = tLarge / tSmall
    info(f"lsh-eval: $small%,d docs in $tSmall%.1f s; $large%,d docs in " +
      f"$tLarge%.1f s (ratio $ratio%.1f× for 4× data; recall " +
      f"$rec1/$rec2 milli, est MAE $err1/$err2 milli, cands $cand1%,d/$cand2%,d)")
    // Recall at the ≥0.5 band and the estimator's error are functions of
    // the (scale-invariant) group Jaccard structure — they must hold a
    // stable band across a 4× corpus, or the banding/verify stages are
    // quietly scale-dependent.
    assert(rec1 >= 500 && rec2 >= 500, s"recall collapsed: $rec1/$rec2 milli")
    assert(math.abs(rec1 - rec2) <= 100,
      s"recall band moved across scale: $rec1 → $rec2 milli")
    assert(err1 <= 300 && err2 <= 300, s"estimator MAE broke band: $err1/$err2")
    assert(math.abs(err1 - err2) <= 100,
      s"estimator MAE moved across scale: $err1 → $err2 milli")
    // Since r18 the corpus keys groups by FULL group id, so the only
    // candidates are within-group pairs (floor C(4,2)·(n/4), less the
    // banding's small miss rate — which the recall band above already
    // gates) plus chance band collisions between disjoint shingle sets.
    // Linear candidate growth is therefore the construction, not an
    // adjudicated reading — the r17 residue-collision caveat retired with
    // the modulus.
    val floor1 = 6L * small / 4; val floor2 = 6L * large / 4
    info(f"lsh-eval cands: $cand1%,d/$cand2%,d vs within-group floor " +
      f"$floor1%,d/$floor2%,d (full-group-id corpus: linear by construction)")
    assert(ratio < 10.0,
      f"4× data cost $ratio%.1f× wall — super-linear; a pair core is not " +
        "bounding its work")
  }
}
