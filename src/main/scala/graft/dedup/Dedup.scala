package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.plans.Expressions
import graft.similarity.Ann

/** Deduplication operators for training-data pipelines: exact,
  * fingerprint, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design: every candidate-generation step is a bucket-equality join
  * (hash shuffle on a short key) — never an all-pairs cross join. The only
  * quadratic work is WITHIN a bucket/band, which the banding parameters keep
  * small. Skewed buckets (stop-shingles shared by everything) are handled by
  * the optional document-frequency cap.
  */
object Dedup {

  /** The hashed content-key expressions shared by [[exactDedup]] and
    * [[exactKeeperIds]]: (xxhash64, 32-bit hash, total length, 16-char
    * prefix). Per-column substring BEFORE concat: taking 16 chars of the
    * full concatenation would materialize a doc-sized copy per row first
    * (the \\u0001 separator keeps per-column boundaries unambiguous). */
  private def contentKeyExprs(keyCols: Seq[String]): Seq[Column] = {
    val ks = keyCols.map(col)
    val totalLen = ks.map(k => coalesce(length(k.cast("string")), lit(-1)))
      .reduce(_ + _)
    val prefix =
      concat_ws("\u0001", ks.map(k => substring(k.cast("string"), 1, 16)): _*)
    Seq(xxhash64(ks: _*), hash(ks: _*), totalLen, prefix)
  }

  /** Null-id tripwire for the keeper aggregations: `min` SKIPS nulls, so a
    * group whose ids are all null would silently vanish from the dedup
    * output. The contract (idCol is a non-null row identifier) is enforced
    * inside the SAME aggregate — zero extra passes; evaluates to null when
    * the group is clean, throws otherwise. */
  private def nullIdCheck(idCol: String, op: String = "exactDedup"): Column =
    assert_true(count(col("__id")) === count(lit(1)),
      lit(s"$op: null values in id column '$idCol' — the id must " +
        "be a non-null row identifier"))

  /** Priority tripwire: non-null and >= 0 (the keeper aggregations negate
    * it inside a struct ordering, which needs a sign-safe domain). */
  private def priorityCheck(op: String): Column =
    assert_true(count(col("__p")) === count(lit(1)) && min(col("__p")) >= 0,
      lit(s"$op: priority must be non-null and >= 0"))

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** The max-priority/lowest-id keeper aggregate plus its tripwires — the
    * single home of the keep-best contract shared by [[exactDedupKeepBest]]
    * and [[keepBestPerGroup]]. Expects the pre-aggregate frame `pre` to
    * carry `__id` and `__p`. Returns (aggregate columns, keeper-id field
    * name inside `__best`).
    *
    * When BOTH legs are integral the keeper is the flat two-long
    * [[graft.plans.Expressions.MinPairLong]] (min ord = max priority, ties
    * → min id — identical lexicographic semantics): a struct-valued
    * `min(struct(-p, id))` buffers a struct, which HashAggregateExec
    * rejects, silently planning SortAggregate with a Sort on both exchange
    * sides. The flat buffer keeps the aggregate hash-based and map-side
    * combined. Non-integral ids/priorities (string ids, double scores)
    * keep the struct ordering — same results, sort-based plan. */
  private def bestKeeperAggs(pre: DataFrame, idCol: String,
                             op: String): (Seq[Column], String) = {
    val fast = isIntegral(pre.schema("__p").dataType) &&
      isIntegral(pre.schema("__id").dataType)
    val best =
      if (fast) Expressions.minPairLong((-col("__p")).cast("long"),
        col("__id").cast("long")).as("__best")
      else min(struct((-col("__p")).as("np"), col("__id").as("i"))).as("__best")
    (Seq(best, nullIdCheck(idCol, op).as("__nullck"),
      priorityCheck(op).as("__pck")), if (fast) "pay" else "i")
  }

  /** Exact dedup: keep the lowest-id row per exact key.
    *
    * The grouping key is two independent 32/64-bit hashes of the key tuple
    * (96 bits total) plus two cheap deterministic disambiguators — the
    * total key length and a 16-char key prefix — NOT the raw key columns:
    * shuffling a multi-KB `text` column makes sort/compare cost scale with
    * document size. For two distinct keys to be merged they must collide on
    * both hashes AND have equal lengths AND share a 16-char prefix; the
    * residual probability is far below the 96-bit-only bound (~1e-4 at 2^48
    * keys), and corpora near that size use [[fingerprintDedup]] (128-bit)
    * or MinHash anyway. */
  def exactDedup(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val Seq(h1, h2, len, pfx) = contentKeyExprs(keyCols)
    // Keeper ids via map-side-combined min, NOT a row_number window over
    // the content key: a window partition is one unsplittable task, so a
    // giant identical-content cluster (the common dedup degeneracy) would
    // pin the stage; the partial aggregate reduces each partition to one
    // row per key before any shuffle. The semi join back matches on the
    // FULL content key plus the keeper id, so a row only survives as the
    // keeper of its OWN group — an id reused across different contents
    // cannot smuggle extra rows through (and the id in the join key also
    // hash-SPREADS a giant group's probe rows across partitions). Rows
    // whose id ties the group minimum all survive, as any deterministic
    // tiebreak over duplicate ids would be arbitrary.
    val keepers = df.select(h1.as("__h1"), h2.as("__h2"),
        len.as("__len"), pfx.as("__pfx"), col(idCol).as("__id"))
      .groupBy(col("__h1"), col("__h2"), col("__len"), col("__pfx"))
      .agg(min(col("__id")).as("__keep"), nullIdCheck(idCol).as("__nullck"))
    df.join(keepers,
        h1 === keepers("__h1") && h2 === keepers("__h2") &&
        len === keepers("__len") && pfx === keepers("__pfx") &&
        df(idCol) === keepers("__keep") && keepers("__nullck").isNull,
      "semi")
  }

  /** Exact dedup keeping the BEST copy per duplicate group instead of the
    * lowest-id one: the keeper maximizes `priority` (a per-row score —
    * source trust, crawl recency, quality), ties broken by lowest id so
    * the choice is deterministic. The common real-world shape: the same
    * document crawled from several mirrors, keep the most trusted copy.
    *
    * Same skew-proof shape as [[exactDedup]]: the keeper is
    * `min(struct(-priority, id))` — a map-side-combined aggregate, so a
    * giant identical-content cluster reduces partition-locally and no
    * window task ever holds the whole group; the semi-join back matches
    * the full content key plus the keeper id.
    *
    * Contract: `idCol` and `priority` are non-null and `priority >= 0`
    * (the negation trick needs it) — all three enforced inside the keeper
    * aggregate at zero extra passes. Like [[exactDedup]], rows DUPLICATING
    * the keeper's id all survive (the semi-join matches on content key +
    * id) — including a lower-priority row that shares the keeper's id; a
    * unique id is the caller's contract, any tiebreak over duplicate ids
    * would be arbitrary. */
  def exactDedupKeepBest(df: DataFrame, keyCols: Seq[String], idCol: String,
                         priority: Column): DataFrame = {
    val Seq(h1, h2, len, pfx) = contentKeyExprs(keyCols)
    val pre = df.select(h1.as("__h1"), h2.as("__h2"),
      len.as("__len"), pfx.as("__pfx"), col(idCol).as("__id"),
      priority.as("__p"))
    val (aggs, idField) = bestKeeperAggs(pre, idCol, "exactDedupKeepBest")
    val keepers = pre
      .groupBy(col("__h1"), col("__h2"), col("__len"), col("__pfx"))
      .agg(aggs.head, aggs.tail: _*)
    df.join(keepers,
        h1 === keepers("__h1") && h2 === keepers("__h2") &&
        len === keepers("__len") && pfx === keepers("__pfx") &&
        df(idCol) === keepers("__best").getField(idField) &&
        keepers("__nullck").isNull && keepers("__pck").isNull,
      "semi")
  }

  /** Keep the best row of each PRE-RESOLVED group — the representative-
    * selection step after near-dup group resolution (connected components,
    * band buckets, clusters): keeper maximizes `priority`, ties → lowest
    * id. Same contracts and skew-proof map-side `min(struct(-p, id))`
    * shape as [[exactDedupKeepBest]], keyed by an explicit group column
    * instead of the content hash — including the duplicate-keeper-id edge
    * (all rows sharing the keeper's (group, id) survive; unique ids are
    * the caller's contract). */
  def keepBestPerGroup(df: DataFrame, groupCol: String, idCol: String,
                       priority: Column): DataFrame = {
    // Null-group tripwire. NOTE the join below matches groups with
    // null-SAFE equality (<=>): with a plain ===, the optimizer infers
    // IsNotNull(__g) from the null-rejecting equi-key and pushes it
    // BELOW this aggregate — the null-group rows are filtered away
    // before the assert ever sees them, and the drop is silent again.
    val pre = df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
      priority.as("__p"))
    val (keeperAggs, idField) = bestKeeperAggs(pre, idCol, "keepBestPerGroup")
    val aggs = keeperAggs :+
      assert_true(count(col("__g")) === count(lit(1)),
        lit(s"keepBestPerGroup: null values in group column '$groupCol'"))
        .as("__gck")
    val best = pre
      .groupBy(col("__g"))
      .agg(aggs.head, aggs.tail: _*)
    df.join(best,
        df(groupCol) <=> best("__g") && best("__gck").isNull &&
        df(idCol) === best("__best").getField(idField) &&
        best("__nullck").isNull && best("__pck").isNull,
      "semi")
  }

  /** JUST the keeper ids (lowest id per exact-content group), for frames
    * whose `idCol` is a UNIQUE non-null row identifier: callers that only
    * need the id set (e.g. a curation pipeline that semi-joins it against
    * a frame it already scans) get it from ONE pass over `df`, instead of
    * [[exactDedup]]'s aggregate + full-width probe pair. With unique ids
    * the id alone identifies the keeper row, so no content-key rejoin is
    * needed. */
  def exactKeeperIds(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val Seq(h1, h2, len, pfx) = contentKeyExprs(keyCols)
    df.select(h1.as("__h1"), h2.as("__h2"), len.as("__len"), pfx.as("__pfx"),
        col(idCol).as("__id"))
      .groupBy(col("__h1"), col("__h2"), col("__len"), col("__pfx"))
      .agg(min(col("__id")).as(idCol),
        nullIdCheck(idCol, "exactKeeperIds").as("__nullck"))
      // The filter references the check so column pruning cannot drop it;
      // always true on clean input (assert_true yields null).
      .where(col("__nullck").isNull)
      .select(col(idCol))
  }

  /** Incremental exact dedup — the continuously-ingested-corpus shape: from
    * a NEW batch, keep one row per distinct content (lowest id) that is NOT
    * already present in the existing corpus index. `indexFingerprints` is a
    * frame with a `fingerprint` column holding
    * [[graft.functions.TextOps.contentFingerprint]] values (md5 of
    * normalized text) — the portable currency a pipeline persists between
    * ingests ([[fingerprintDedup]] produces it).
    *
    * Both steps key on the SAME normalized fingerprint (not raw text), so
    * whitespace/case variants dedup consistently within the batch and
    * against the index.
    *
    * Order matters for skew: the INTRA-batch dedup runs first (exactDedup —
    * map-side-combined, giant-identical-cluster-safe), so the index
    * anti-join probes one row per distinct content — its key can never be
    * hot no matter how degenerate the batch. The index side reduces to
    * distinct fingerprints before the join. */
  /** @param fingerprintOut when set, the survivors keep their (already
    *                       computed) fingerprint under this column name —
    *                       callers that persist it back into the index
    *                       shouldn't pay the md5 twice. */
  def incrementalExactDedup(newDocs: DataFrame, idCol: String, textCol: String,
                            indexFingerprints: DataFrame,
                            fingerprintOut: Option[String] = None): DataFrame = {
    require(!newDocs.columns.contains("__fp"),
      "column name __fp is reserved by incrementalExactDedup")
    fingerprintOut.foreach(n => require(!newDocs.columns.contains(n),
      s"fingerprintOut column '$n' already exists on the input"))
    val withFp = newDocs.withColumn("__fp",
      TextOps.contentFingerprint(col(textCol)))
    val fresh = exactDedup(withFp, Seq("__fp"), idCol)
    // Frame-qualified references on both sides: `newDocs` may itself carry
    // a `fingerprint` column, which an unqualified name would make
    // ambiguous.
    val idx = indexFingerprints.select(col("fingerprint")).distinct()
    val kept = fresh.join(idx, fresh("__fp") === idx("fingerprint"), "anti")
    fingerprintOut match {
      case Some(n) => kept.withColumnRenamed("__fp", n)
      case None => kept.drop("__fp")
    }
  }

  /** Fingerprint dedup groups: normalize → md5 → group; returns one row per
    * distinct content with the keeper id and duplicate count. */
  def fingerprintDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fingerprint", TextOps.contentFingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Ordered (position-preserving) n-gram list of a token array — the
    * positional base [[shinglesFromTokens]] distinct-ifies. */
  def orderedShinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(lit(Array.empty[String]))

  /** Distinct word n-gram shingles from an already-tokenized column.
    *
    * Documents with fewer than `n` tokens yield an EMPTY array: `sequence`
    * with end < start would produce a DESCENDING range (e.g. [1,0]) whose
    * 0 position makes `slice` throw, so the short-doc case is guarded
    * explicitly with a typed empty literal. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(orderedShinglesFromTokens(toks, n))

  /** Distinct word n-gram shingles of a text column.
    *
    * The tokenization is bound through a one-element `transform` lambda
    * variable: Catalyst does NOT common-subexpression-eliminate into
    * higher-order-function lambdas, so referencing `split(text)` directly
    * inside the per-position lambda would re-run the regex split once PER
    * SHINGLE POSITION (measured 5-10× slowdown on real corpora). */
  def shingles(text: Column, n: Int): Column =
    element_at(
      transform(array(TextOps.tokens(text)), tk => shinglesFromTokens(tk, n)), 1)

  /** Exploded (id, RAW shingle) pairs.
    *
    * Two posting currencies coexist deliberately: this raw-string form
    * feeds MinHash, whose md5-derived slot hashes must be reproducible by
    * the external oracle engine bit-for-bit (bucket membership IS the
    * result); [[shinglePostings]] carries xxhash64 ids for count-only
    * pipelines (contamination/curation), where the oracle compares counts
    * and the engine can use the cheapest hash. */
  private def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                               n: Int): DataFrame =
    graft.operators.Spread(df)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh_arr"))
      .select(col("id"), explode(col("sh_arr")).as("sh"))

  /** All-pairs n-gram Jaccard similarity ≥ minJaccard over (id, shh)
    * [[shinglePostings]], via the one pair core [[pairOverlapCounts]]:
    * each shingle's posting list is gathered once, bounded by `maxDocFreq`,
    * and pairs form only within a list (quadratic in the list length, never
    * in the corpus). `maxDocFreq` drops shingles that occur in more than
    * that many documents — the skew guard that keeps hot shingles from
    * exploding the pair emission at corpus scale (they contribute almost no
    * discriminative signal anyway). Pass a materialized (localCheckpoint'ed)
    * postings frame to shingle the corpus exactly once: the lazy plan
    * otherwise re-derives the explode for the per-doc sizes and the
    * posting-list aggregate.
    *
    * Shuffle economy: the posting lists carry only (shingle-HASH, id) —
    * never the shingle string or per-doc counts; the per-doc set sizes are
    * the per-id posting counts (postings are distinct per doc) and rejoin
    * AFTER pair aggregation as a broadcast dim (one row per doc, not one per
    * posting). A 64-bit hash false-collision needs ~2^32 distinct shingles
    * to matter; corpora that big use minhash anyway. */
  def ngramJaccardFromPostings(postings: DataFrame, minJaccard: Double,
                               maxDocFreq: Long): DataFrame =
    pairOverlapCounts(postings, maxDocFreq)
      .withColumn("jaccard",
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) ≥ `minContainment`
    * over the same pair core as [[ngramJaccardFromPostings]].
    * Containment is the subset-duplicate detector Jaccard structurally
    * misses: a wire story embedded verbatim in a 10×-longer page has
    * Jaccard ≈ 0.1 but containment ≈ 1.0. Same scale shape — the metric is
    * a post-aggregation projection over the identical pair counts. */
  def ngramContainmentFromPostings(postings: DataFrame, minContainment: Double,
                                   maxDocFreq: Long): DataFrame =
    pairOverlapCounts(postings, maxDocFreq)
      .withColumn("containment",
        round(col("inter") / least(col("n_a"), col("n_b")), 6))
      .where(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))

  /** Raw shared-shingle pair counts: (id_a < id_b, inter) for pairs with
    * ≥ `minShared` distinct common shingles — the absolute-overlap cousin
    * of [[ngramJaccardFromPostings]] for consumers (provenance matrices,
    * flow audits) that care about how MUCH text is shared, not the ratio.
    * Same pair core, same `maxDocFreq` skew cap. */
  def sharedShinglePairs(postings: DataFrame, minShared: Long,
                         maxDocFreq: Long): DataFrame =
    pairOverlapCounts(postings, maxDocFreq).where(col("inter") >= minShared)
      .select(col("id_a"), col("id_b"), col("inter"))

  /** Pair overlap counts via BOUNDED posting lists — the one pair core of
    * the n-gram family. One aggregate groups the postings by key through
    * [[graft.plans.Expressions.BoundedCollectSet]], whose buffer NEVER
    * exceeds cap+1 elements: a ubiquitous hot key (stop-gram shingle,
    * boilerplate fingerprint — exactly the skew this operator's callers
    * expect) poisons its buffer at cap+1 and evaluates to NULL instead of
    * accumulating its full posting list in executor memory. Keys with df
    * outside [2, maxDocFreq] drop with the NULL filter BEFORE any pair
    * exists; each surviving key emits its ≤ C(cap, 2) ordered pairs in
    * place from the sorted ≤cap-element list. Output:
    * (id_a < id_b, n_shared). Identical to the DISTINCT + self-join +
    * df-prune composition (the oracle's spelling); the postings shuffle
    * once (map-side partial sets ≤ cap+1 each) and both the per-key MEMORY
    * and the pair emission are capped by construction.
    *
    * Pair emission is lambda-free: `posexplode` yields each list element
    * with its position i, and `explode(slice(list, i + 2, size))` yields the
    * elements after it — both generators stay in whole-stage codegen,
    * where nested `transform` lambdas would run interpreted per row.
    *
    * Duplicate (id, key) postings are deduped INSIDE the aggregate's set,
    * so the df band counts DISTINCT ids and a repeated posting can never
    * fabricate a (x, x) self-pair or double-count a pair — callers need no
    * upstream `.distinct()` (its shuffle is exactly what this operator
    * exists to avoid). */
  def boundedPairCounts(postings: DataFrame, keyCol: String, idCol: String,
                        maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 2 && maxDocFreq <= Int.MaxValue,
      s"maxDocFreq must be in [2, Int.MaxValue], got $maxDocFreq")
    postings
      .groupBy(col(keyCol))
      .agg(graft.plans.Expressions
        .boundedCollectSet(col(idCol), maxDocFreq.toInt).as("__ids"))
      .where(col("__ids").isNotNull)
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__i") + 2, size(col("__ids")))).as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** (id_a, id_b, inter, n_a, n_b) over (id, shh) [[shinglePostings]]: the
    * [[boundedPairCounts]] core plus both set sizes, which rejoin broadcast
    * AFTER pair aggregation and count every posting of the id (hot
    * shingles included) — for consumers that derive their own metric
    * (integer-milli Jaccard, the q137 recall curve) instead of the
    * prepackaged [[ngramJaccardFromPostings]]/[[ngramContainmentFromPostings]]
    * cuts. */
  def pairOverlapCounts(postings: DataFrame, maxDocFreq: Long): DataFrame = {
    val sizes = postings.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    boundedPairCounts(postings, "shh", "id", maxDocFreq)
      .withColumnRenamed("n_shared", "inter")
      .join(broadcast(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a"))), Seq("id_a"))
      .join(broadcast(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b"))), Seq("id_b"))
  }

  /** Exploded, distinct-per-doc (id, shingle-hash) postings — the shared
    * currency of the contamination/curation pipelines. xxhash64 in the hot
    * path: ~5× cheaper per row than an md5-derived construction, and the
    * oracle compares OVERLAP COUNTS (hash-agnostic), never raw hashes. */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    // Spread: the r12 sf0.1 A/B scored the generic call sites a small loss
    // and left the guard off here, but the sf1 two-point run showed why it
    // belongs on anyway — a one-file 10× corpus ran the whole shingle +
    // pair-core family on 2 of 32 threads (q181 16.8 s single stage), and
    // the materializing callers bake that starvation into their
    // checkpoints. Re-A/B'd this round at BOTH scales: sf1 −60 %-class
    // wins across the family, sf0.1 within noise after the AQE-floor
    // change. At production split counts Spread is the identity.
    graft.operators.Spread(df)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh_arr"))
      .select(col("id"), explode(col("sh_arr")).as("sh"))
      .select(col("id"), xxhash64(col("sh")).as("shh"))

  /** Positional (id, pos, shh) token n-gram postings — NOT distinct-ified
    * (position matters); `pos` is the 0-based n-gram start index in token
    * space. The tokenization is bound through the same one-element
    * `transform` lambda trick as [[shingles]] (Catalyst does not CSE into
    * HOF lambdas — an unbound reference would re-split per position). */
  def positionalShinglePostings(df: DataFrame, idCol: String, textCol: String,
                                n: Int): DataFrame = {
    val ordered = element_at(
      transform(array(TextOps.tokens(col(textCol))),
        tk => orderedShinglesFromTokens(tk, n)), 1)
    // Spread: consumers MATERIALIZE this frame (the aligned-runs pipelines
    // checkpoint it before their self-join), so an under-split input would
    // bake single-partition postings into the checkpoint and serialize the
    // whole downstream join/window chain onto one task — the spread fixes
    // the tokenize+explode stage AND the materialized partitioning.
    graft.operators.Spread(df)
      .select(col(idCol).as("id"), posexplode(ordered).as(Seq("pos", "sh")))
      .select(col("id"), col("pos"), xxhash64(col("sh")).as("shh"))
  }

  /** Longest ALIGNED common n-gram run per document pair — the core signal
    * of exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": verbatim shared spans matter more
    * than whole-document similarity).
    *
    * Shape: positional postings self-join on the n-gram hash (inverted
    * index — quadratic only within one hash's posting list, with the
    * `maxDocFreq` cap dropping stop-gram lists), then the classic
    * islands trick: two matches of one pair at the same positional
    * displacement `diff = pos_a − pos_b` belong to one aligned run iff
    * their `pos_a` are consecutive, so grouping by
    * `pos_a − row_number()` within (pair, diff) labels maximal runs and a
    * count per label is the run length in n-grams. The window partitions
    * by (id_a, id_b, diff) — bounded by the shorter document's length, so
    * no unsplittable corpus-sized sort exists anywhere in the plan.
    *
    * A run of c n-grams covers c + n − 1 consecutive shared tokens
    * (`run_tokens`). Returns pairs with run_kgrams ≥ minRun.
    *
    * `p` is the positional (id, pos, shh) [[positionalShinglePostings]]
    * frame, referenced up to three times (doc-frequency cap + both join
    * sides) — pass a MATERIALIZED frame at corpus scale so the n-gram
    * explode runs once (q111 does, via the registry's mat). */
  def alignedRunsFromPostings(p: DataFrame, n: Int, minRun: Long,
                              maxDocFreq: Option[Long]): DataFrame = {
    val filtered = maxDocFreq match {
      case Some(cap) =>
        val hot = p.groupBy(col("shh"))
          .agg(count_distinct(col("id")).as("df")).where(col("df") > cap)
        p.join(hot.select(col("shh")), Seq("shh"), "left_anti")
      case None => p
    }
    val a = filtered.select(col("id").as("id_a"), col("pos").as("pos_a_raw"), col("shh"))
    val b = filtered.select(col("id").as("id_b"), col("pos").as("pos_b_raw"), col("shh"))
    // (pair, diff, pos_a) rows are already unique: a posting row is unique
    // per (id, pos), and within one (pair, diff) a given pos_a determines
    // pos_b — repeated identical n-grams inside a doc land at distinct
    // positions and therefore distinct diffs or distinct pos_a.
    val pairs = a.join(b, Seq("shh")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pos_a_raw").as("pos_a"),
        (col("pos_a_raw") - col("pos_b_raw")).as("diff"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diff"))
      .orderBy(col("pos_a"))
    pairs
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diff"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("run")).as("run_kgrams"))
      .where(col("run_kgrams") >= minRun)
      .withColumn("run_tokens", col("run_kgrams") + (n - 1))
  }

  /** Longest INTERNAL aligned n-gram repeat per document — verbatim
    * template spam detection: a doc that repeats a span verbatim (mail
    * footers, scraped nav blocks, generation loops) shows a long aligned
    * self-run even when its token-level duplicate FRACTION (q67's
    * repetitionStats) stays moderate.
    *
    * Same islands construction as [[alignedRunsFromPostings]], but the
    * pair join is the document with ITSELF at a strictly positive
    * displacement (pos_b > pos_a), so every shuffle is keyed by the doc id
    * — corpus-embarrassingly-parallel. The `maxOccurrences` cap drops
    * n-grams repeated more than that many times WITHIN one doc before the
    * join: a degenerate "word word word …" doc would otherwise square its
    * own length (such docs are exactly what the q67 fraction flags, so the
    * cap loses no signal). Returns every id of `ids` (one `id` column)
    * with its max repeat run (0 when the doc never repeats an n-gram at any
    * displacement).
    *
    * `p` is the positional [[positionalShinglePostings]] frame, referenced
    * four times (occurrence cap + anti-join + both pair sides), so pass a
    * MATERIALIZED frame at corpus scale (q114 does, via the registry's
    * mat). */
  def selfAlignedRunsFromPostings(ids: DataFrame, p: DataFrame, n: Int,
                                  maxOccurrences: Long): DataFrame = {
    val hot = p.groupBy(col("id"), col("shh"))
      .agg(count(lit(1)).as("occ")).where(col("occ") > maxOccurrences)
      .select(col("id"), col("shh"))
    val f = p.join(hot, Seq("id", "shh"), "left_anti")
    val a = f.select(col("id"), col("pos").as("pos_a"), col("shh"))
    val b = f.select(col("id"), col("pos").as("pos_b"), col("shh"))
    val pairs = a.join(b, Seq("id", "shh"))
      .where(col("pos_b") > col("pos_a"))
      .select(col("id"), col("pos_a"), (col("pos_b") - col("pos_a")).as("diff"))
    val w = Window.partitionBy(col("id"), col("diff")).orderBy(col("pos_a"))
    val runs = pairs
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("id"), col("diff"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("id")).agg(max(col("run")).as("rep_run_kgrams"))
    ids.join(runs, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("rep_run_kgrams"), lit(0L)).as("rep_run_kgrams"))
      .withColumn("rep_run_tokens",
        when(col("rep_run_kgrams") > 0, col("rep_run_kgrams") + (n - 1))
          .otherwise(lit(0L)))
  }

  /** Per-document n-gram novelty against everything that came before it in
    * id order — the "how much of this doc is new text" curation signal
    * (novelty ≈ 0 flags near-copies and boilerplate even when no single
    * pair crosses a similarity threshold).
    *
    * A distinct shingle is NOVEL for the document with the smallest id
    * containing it. One groupBy(hash)→min(id) over the postings (map-side
    * partial min — the reduce side sees one row per distinct shingle), one
    * hash-join back, one per-doc count: every shuffle is keyed by the
    * shingle hash or the doc id, nothing is quadratic. The fraction is
    * reported in exact integer milli (novel·1000 div total) — no float
    * thresholds to desynchronize engines. Documents of `ids` with no
    * postings (fewer than n tokens) report novelty 1000 (vacuously novel).
    *
    * The (id, shh) [[shinglePostings]] frame is referenced twice
    * (first-seen aggregate + join-back side) — pass a MATERIALIZED frame so
    * the shingle explode runs once, the way q69 shares its postings (the
    * registry does this via mat()). */
  def ngramNoveltyFromPostings(ids: DataFrame, postings: DataFrame): DataFrame = {
    val first = postings.groupBy(col("shh")).agg(min(col("id")).as("first_id"))
    val perDoc = postings.join(first, Seq("shh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L)).as("novel_shingles"))
    ids.join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("novel_shingles"), lit(0L)).as("novel_shingles"))
      .withColumn("novelty_milli",
        when(col("n_shingles") === 0, lit(1000L))
          .otherwise((col("novel_shingles") * 1000 / col("n_shingles")).cast("long")))
  }

  /** [[contaminationOverlap]] over pre-computed postings — lets a composed
    * pipeline (q69-style curation) shingle the corpus ONCE and feed both
    * sides from the same cached frame. */
  def contaminationFromPostings(train: DataFrame, test: DataFrame,
                                minShared: Long): DataFrame = {
    val te = test.select(col("shh")).distinct()
    train.join(te, Seq("shh"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("id").as("doc_id"), col("n_shared"))
  }

  /** Per-SUITE contamination attribution — the multi-benchmark shape of
    * [[contaminationFromPostings]]: eval pipelines hold out SEVERAL suites
    * at once, and the removal decision (and the leak report) needs to know
    * WHICH suite a training doc overlaps, not just that it overlaps.
    *
    * `testWithSuite` carries (suite, shh) postings; they are reduced to
    * distinct (suite, shh) first, so the join multiplicity per training
    * posting is exactly the number of suites sharing that shingle and
    * `count(*)` per (id, suite) IS the distinct-overlap count. Output: one
    * row per contaminated training doc — its worst (top) suite by shared
    * count (ties → lexically greatest suite, deterministic), that count,
    * and how many suites independently flagged it. The per-doc argmax is
    * `max(struct(n, suite))` — map-side combinable, no window. */
  def contaminationBySuiteFromPostings(train: DataFrame, testWithSuite: DataFrame,
                                       minShared: Long): DataFrame = {
    val te = testWithSuite.select(col("suite"), col("shh")).distinct()
    train.join(te, Seq("shh"))
      .groupBy(col("id"), col("suite"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .groupBy(col("id"))
      .agg(max(struct(col("n_shared").as("n"), col("suite").as("s"))).as("__top"),
        count(lit(1)).as("n_suites"))
      .select(col("id").as("doc_id"), col("__top.s").as("top_suite"),
        col("__top.n").as("top_shared"), col("n_suites"))
  }

  /** C4/CCNet-style duplicate-SEGMENT removal: drop every segment (line,
    * paragraph, fixed token block) that occurs more than `maxCount` times
    * across the corpus, then reassemble each document from its surviving
    * segments in original order. This is the sub-document dedup pass of a
    * training pipeline — boilerplate headers/footers/navigation repeat
    * across millions of pages that are NOT document-level duplicates.
    *
    * `segsCol` is the ordered array of segments for the row
    * (`split(col(textCol), "\n")` for the literal C4 "discard any line
    * occurring more than k times" rule). Output: one row per input
    * doc — (id, text_clean, n_kept, n_removed) — including docs whose
    * every segment was removed (empty text_clean), so the caller decides
    * the drop threshold.
    *
    * Scale shape: segments explode to (id, idx, xxhash64(seg)) postings;
    * the hot set is a map-side-combined count per 8-byte hash (never a
    * distinct over raw strings), and only HOT hashes — the duplicated
    * sliver of the corpus — flow into the membership join, which AQE
    * broadcasts when small. Reassembly is one groupBy(id) whose state is
    * bounded by document size. As with [[ngramJaccardFromPostings]], hash
    * membership trades a ~n²/2⁶⁴ false-collision (a unique line counted
    * into a hot line's tally) for string-free shuffles. */
  def segmentDedup(df: DataFrame, idCol: String, segsCol: Column,
                   maxCount: Long, sep: String = "\n",
                   carryCols: Seq[String] = Nil): DataFrame = {
    // posexplode_outer keeps docs whose segment array is null/empty as one
    // (null idx, null seg) row — a plain posexplode would silently drop
    // them from the output, breaking the one-row-per-doc contract. Null
    // segs are excluded from the hot tally and from every count below.
    //
    // `carryCols` ride the explode and the re-group (joining the group key:
    // id is unique per doc, so group cardinality is unchanged) — the way a
    // caller keeps per-doc attributes like `source` WITHOUT a second
    // corpus-sized join back to the input after reassembly.
    val carry = carryCols.map(col)
    // Spread: segsCol is typically a tokenize-and-reassemble expression
    // (tokenBlocks) — CPU-heavy per row, the shinglePostings regime; an
    // under-split corpus would run the explode single-threaded. Identity
    // at production split counts.
    val segs = graft.operators.Spread(df)
      .select(col(idCol).as("id") +: carry :+
        posexplode_outer(segsCol).as(Seq("idx", "seg")): _*)
      .withColumn("segh", xxhash64(col("seg")))
    val hot = segs.where(col("seg").isNotNull)
      .groupBy(col("segh")).agg(count(lit(1)).as("n"))
      .where(col("n") > maxCount)
      .select(col("segh"), lit(true).as("__hot"))
    val live = col("__hot").isNull && col("seg").isNotNull
    segs.join(hot, Seq("segh"), "left")
      .groupBy(col("id") +: carry: _*)
      .agg(
        count(col("seg")).as("n_total"),
        count(when(live, 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(live, struct(col("idx"), col("seg"))))),
            x => x.getField("seg")),
          sep).as("text_clean"))
      .withColumn("n_removed", col("n_total") - col("n_kept"))
      .select(col("id") +: carry :+ col("text_clean") :+ col("n_kept") :+
        col("n_removed"): _*)
  }

  /** Fixed-size token blocks of `text` — the segmenter for corpora without
    * line structure (transcripts, OCR). Binds the token split through a
    * one-element transform lambda for the same no-CSE-into-lambdas reason
    * as [[shingles]], and guards the degenerate token count the same way
    * as [[shinglesFromTokens]]: null text or an empty token array must
    * yield an EMPTY block array — an unguarded `sequence(1, 0)` is the
    * DESCENDING array [1, 0] and would fabricate two garbage segments. */
  def tokenBlocks(text: Column, blockTokens: Int): Column =
    element_at(
      transform(array(TextOps.tokens(text)), tk =>
        when(size(tk) >= 1,
          transform(
            sequence(lit(1),
              floor((size(tk) + lit(blockTokens - 1)) / lit(blockTokens)).cast("int")),
            i => array_join(
              slice(tk, (i - 1) * blockTokens + 1, lit(blockTokens)), " ")))
          .otherwise(lit(Array.empty[String]))),
      1)

  /** Winnowing-style fingerprint selection (the MOSS family — Schleimer,
    * Wilkerson, Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting"): slide a k-token gram over each document, hash each
    * gram with the PORTABLE md5-60-bit key (an independent SQL engine
    * reproduces the selection bit-for-bit, unlike xxhash64), and select
    * the grams that are the minimum of their ±(w−1)-gram neighborhood. In
    * the no-tie case every w consecutive grams contain a selected one
    * (density ~2/(w+1)), giving position-independent SUB-document overlap
    * detection — partial plagiarism/quotation that whole-doc fingerprints
    * and MinHash doc signatures structurally miss.
    *
    * Scale shape: winnowing is a PER-DOCUMENT local algorithm, so it runs
    * entirely inside one codegen'd projection — gram hashes and the
    * ±(w−1) neighborhood min are array transforms over each row's token
    * list (per-element work O(w), w tiny), and within-doc dedup is
    * `array_distinct` on the selected set. No gram explode, no window
    * exchange, no global distinct: at scale the operator contributes ZERO
    * shuffles (the one exception is [[graft.operators.Spread]]'s
    * tiny-input repartition, identity whenever the scan yields at least
    * cluster-parallelism splits); only the selected ~2/(w+1) density of
    * fingerprints ever leaves the row. Output is distinct (id, fp) PER
    * INPUT ROW (fps deduped
    * in-array); an input with duplicate id rows produces duplicate
    * postings — fine for [[boundedPairCounts]] (dedupes in-aggregate),
    * but callers needing a globally-distinct set must distinct()
    * themselves. */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
                           k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    graft.operators.Spread(df)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__tk"))
      .where(size(col("__tk")) >= k)
      .withColumn("__fps",
        transform(sequence(lit(1), size(col("__tk")) - (k - 1)),
          i => conv(substring(
            md5(array_join(slice(col("__tk"), i, lit(k)), " ")),
            1, 15), 16, 10).cast("long")))
      // select fps that are the min of their ±(w−1) neighborhood: the
      // two-arg filter gives each element its 0-based index; the
      // neighborhood is a bounded slice [max(1, p−w+1), min(n, p+w−1)]
      // around 1-based position p = i+1.
      .withColumn("__sel", array_distinct(filter(col("__fps"), (x, i) => {
        val n = size(col("__fps"))
        val lo = greatest(i + lit(2) - w, lit(1))
        val hi = least(i + lit(w), n)
        x === array_min(slice(col("__fps"), lo, hi - lo + lit(1)))
      })))
      // explode_OUTER + null filter, not plain explode: Catalyst infers
      // `size(__sel) > 0 AND isnotnull(__sel)` from a non-outer explode
      // and pushes it below the projections, INLINING the whole gram-hash
      // transform into the filter's array_min lambda — which re-evaluates
      // the O(n) md5 transform per element, i.e. O(n²) per document. The
      // outer variant infers nothing; empty docs surface one null fp row
      // dropped by a cheap attribute filter.
      .select(col("id"), explode_outer(col("__sel")).as("fp"))
      .where(col("fp").isNotNull)
  }

  /** Benchmark decontamination: for each training doc, the number of
    * distinct n-gram shingles it shares with ANY document of the held-out
    * test/benchmark set. Docs at or above `minShared` should be dropped
    * before training — they leak evaluation data.
    *
    * Scale shape: both sides reduce to (id, shingle-hash) postings — the
    * join shuffles 8-byte xxhash64 hashes, never shingle strings; the test
    * side is distinct-by-hash first, so join multiplicity is exactly one
    * per shared shingle and `count(*)` IS the distinct-overlap count. */
  def contaminationOverlap(train: DataFrame, test: DataFrame, idCol: String,
                           textCol: String, n: Int, minShared: Long): DataFrame =
    contaminationFromPostings(shinglePostings(train, idCol, textCol, n),
      shinglePostings(test, idCol, textCol, n), minShared)

  /** The seeded 32-bit hash for MinHash signature slot `s`: 8-hex-char
    * chunks of md5 digests, one digest per 4 slots — computing ⌈k/4⌉ md5s
    * per shingle instead of k. Cross-engine-stable (mirrored in the DuckDB
    * oracle SQL). */
  def minhashSlotHash(sh: Column, s: Int): Column = {
    val digest = if (s < 4) md5(sh.cast("binary"))
                 else md5(concat(lit(s"${s / 4}:"), sh).cast("binary"))
    conv(substring(digest, (s % 4) * 8 + 1, 8), 16, 10).cast("long")
  }

  /** MinHash signatures: per doc, min of each seeded hash over its shingle
    * set. One aggregation pass over the exploded shingles: the md5s are
    * computed map-side and only (id, partial mins) rows ever shuffle.
    *
    * `hashPerDistinctShingle = true` switches to a (shingle → slot hashes)
    * dim frame joined back to the postings: md5 work divides by the corpus
    * shingle-duplication factor, at the cost of two extra posting-sized
    * shuffles (the dim distinct and the join back; slot values stay
    * bit-identical either way). MEASURED at sf0.1 (duplication ~×2): the
    * dim is ~7% faster when the signature is computed once into a
    * materialized frame (q70's shape) but ~60% SLOWER when the plan is
    * referenced lazily twice (q43's self-join re-derives the heavier dim
    * plan), so the map-side shape is the default; flip it for one-shot
    * signature pipelines over corpora with high shingle duplication. The
    * dim's doc-frequency counts drive a hot/cold split on the join back,
    * so a viral stop-shingle (> `hotDf` docs) resolves via broadcast and
    * can never pin a reducer partition. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int,
                        numHashes: Int, hashPerDistinctShingle: Boolean = false,
                        hotDf: Long = 1000000L): DataFrame = {
    val ex = explodedShingles(df, idCol, textCol, n)
    if (!hashPerDistinctShingle) {
      ex.groupBy(col("id"))
        .agg(min(minhashSlotHash(col("sh"), 0)).as("mh0"),
          (1 until numHashes).map(s => min(minhashSlotHash(col("sh"), s)).as(s"mh$s")): _*)
    } else {
      val dim = ex.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .select(col("sh") +: col("__df") +:
          (0 until numHashes).map(s => minhashSlotHash(col("sh"), s).as(s"__s$s")): _*)
      val hot = broadcast(dim.where(col("__df") > hotDf).drop("__df"))
      val cold = dim.where(col("__df") <= hotDf).drop("__df")
      val viaHot = ex.join(hot, Seq("sh"), "left")
      val joined = viaHot.where(col("__s0").isNotNull)
        .union(viaHot.where(col("__s0").isNull)
          .drop((0 until numHashes).map(s => s"__s$s"): _*)
          .join(cold, Seq("sh")))
      joined.groupBy(col("id"))
        .agg(min(col("__s0")).as("mh0"),
          (1 until numHashes).map(s => min(col(s"__s$s")).as(s"mh$s")): _*)
    }
  }

  /** [[minhashBandPostings]] over pre-computed [[minhashSignatures]] — a
    * composed pipeline that references the postings twice should
    * materialize the COMPACT signature frame (one row per doc, 8 longs)
    * and derive the ×bands explode lazily on each side: the banding is a
    * cheap codegen'd projection, while checkpointing the exploded postings
    * writes bands× rows with string band values. */
  def minhashBandPostingsFromSignatures(sig: DataFrame, numHashes: Int,
                                        bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val rows = numHashes / bands
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws("_", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*).as("band_val"))
    }: _*)
    sig.select(col("id"), explode(bandStructs).as("band"))
      .select(col("id"), col("band.band_idx").as("band_idx"),
              col("band.band_val").as("band_val"))
  }

  /** Exploded (id, band_idx, band_val) MinHash postings — the shared first
    * stage of both MinHash candidate shapes; see
    * [[minhashBandPostingsFromSignatures]] for the materialization-friendly
    * split. */
  def minhashBandPostings(df: DataFrame, idCol: String, textCol: String,
                          n: Int, numHashes: Int, bands: Int): DataFrame =
    minhashBandPostingsFromSignatures(
      minhashSignatures(df, idCol, textCol, n, numHashes), numHashes, bands)

  /** MinHash + LSH candidate pairs: band the signature, bucket-join on
    * (band index, band value). Docs agreeing on ANY band become candidates —
    * the classic S-curve trade-off; verify candidates with
    * [[ngramJaccardFromPostings]] or exact comparison downstream. Quadratic within
    * a bucket — the pair-LISTING shape; for duplicate-GROUP resolution use
    * [[starEdgesFromBuckets]] over [[minhashBandPostings]]. */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String, n: Int,
                           numHashes: Int, bands: Int): DataFrame =
    candidatePairsFromBandPostings(
      minhashBandPostings(df, idCol, textCol, n, numHashes, bands))

  /** The bucket self-join of ANY (id, band_idx, band_val) posting frame →
    * distinct ordered candidate pairs (id_a < id_b) — the one pair
    * construction every banded consumer shares (the LSH candidates here,
    * the recall/precision/leakage/agreement/PageRank queries in
    * SparkEntry). Centralized so the ordering tiebreak and the distinct
    * are fixed in ONE place; a diverging copy would silently desynchronize
    * a query from its oracle mirror. */
  def candidatePairsFromBandPostings(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Incremental NEAR-dup screening — the MinHash counterpart of
    * [[incrementalExactDedup]]: for each NEW-batch document, how many of
    * its signature bands collide with the persisted corpus index
    * (`indexBandPostings` — a stored [[minhashBandPostings]] frame; only
    * its (band_idx, band_val) columns are read). Rows appear only for
    * suspects (≥1 matching band); the count is the S-curve signal — gate on
    * it or verify suspects with [[ngramJaccardFromPostings]] downstream.
    *
    * Skew shape: the batch's DISTINCT buckets (map-side-combined — a
    * degenerate all-identical batch collapses before any shuffle)
    * semi-join the index's distinct buckets; only then do batch postings
    * join the (small) matched-bucket set, which AQE broadcasts at
    * realistic sizes, and the per-doc count partial-aggregates before its
    * id-keyed (hash-spread) shuffle. */
  def incrementalMinhashSuspects(newDocs: DataFrame, idCol: String,
                                 textCol: String, n: Int, numHashes: Int,
                                 bands: Int,
                                 indexBandPostings: DataFrame): DataFrame = {
    val batch = minhashBandPostings(newDocs, idCol, textCol, n, numHashes, bands)
    val matched = batch.select(col("band_idx"), col("band_val")).distinct()
      .join(indexBandPostings.select(col("band_idx"), col("band_val")).distinct(),
        Seq("band_idx", "band_val"), "semi")
    batch.join(matched, Seq("band_idx", "band_val"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matching_bands"))
  }

  /** SimHash per doc (custom Catalyst expression — single projection pass,
    * no shuffle) plus the band columns used for Hamming-bucket joins. */
  def withSimhash(df: DataFrame, textCol: String, out: String = "simhash"): DataFrame =
    graft.operators.Spread(df)
      .withColumn(out, Expressions.simhash64(TextOps.tokens(col(textCol))))

  /** Normalized (id, simhash) hashes — the input currency of the
    * verified-edge and banding constructions below; materialize this (e.g.
    * localCheckpoint) when feeding a multi-reference pipeline. */
  def simhashHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withSimhash(df, textCol).select(col(idCol).as("id"), col("simhash"))

  /** Star edges (bucket-min id → member id) over arbitrary bucket postings
    * with an `id` column — the linear group-resolution core shared by the
    * simhash and MinHash paths: linear in postings where the all-pairs
    * bucket self-join is quadratic in bucket size, and connected components
    * over these edges equal those of the full "shares a bucket" candidate
    * graph (every bucket stays connected through its min). MinHash band
    * values are ~`64/bands × numHashes/bands` bits of signature (the q70
    * default: 2×32-bit minima per band), so chance band collisions stay
    * negligible far past trillion-doc corpora — unlike 16-bit simhash
    * bands, which need Hamming verification
    * ([[simhashVerifiedEdgesFromHashes]]). Pass a MATERIALIZED (localCheckpoint'ed)
    * postings frame when the banding is expensive: the frame is referenced
    * twice (min aggregate + join probe) and a lazy plan would re-derive it.
    *
    * The bucket minimum comes from a map-side-combined groupBy joined back
    * to the postings, not a whole-partition window min: a giant bucket
    * (identical docs agree on every band) would otherwise stream through
    * one unsplittable window task. The join back is HOT/COLD split on the
    * bucket size (which the same aggregate yields for free): buckets above
    * `hotSize` resolve their min via broadcast — their members never
    * shuffle by bucket, so the giant-cluster bucket cannot pin a reducer —
    * and at most postings/hotSize such buckets exist, bounding the
    * broadcast by construction. AQE's skew-join rule can NOT be relied on
    * for this shape (the aggregate reuses its exchange, which the rule's
    * pattern does not match), hence the structural split. */
  def starEdgesFromBuckets(postings: DataFrame, bucketCols: Seq[String],
                           hotSize: Long = 1000000L): DataFrame = {
    val bcs = bucketCols.map(col)
    val mins = postings.groupBy(bcs: _*)
      .agg(min(col("id")).as("m"), count(lit(1)).as("__n"))
    val hot = broadcast(mins.where(col("__n") > hotSize).drop("__n"))
    val cold = mins.where(col("__n") <= hotSize).drop("__n")
    val viaHot = postings.join(hot, bucketCols, "left")
    // m is never null for a matched bucket (ids are non-null), so the null
    // test identifies broadcast misses exactly; null-valued bucket columns
    // match in neither branch, as in the plain inner join.
    val attached = viaHot.where(col("m").isNotNull)
      .union(viaHot.where(col("m").isNull).drop("m").join(cold, bucketCols))
    attached.where(col("m") =!= col("id"))
      .select(col("m").as("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** SimHash near-dup candidate PAIRS at Hamming radius `maxHamming`, via
    * the [[simhashComboPostings]] combination bucketing: maxHamming flipped
    * bits touch ≤ maxHamming of the `blocks` bit blocks, so every true pair
    * agrees on ≥1 (blocks − maxHamming)-block key — full recall with a
    * ~32-bit bucket key instead of a 16-bit band (the 4×16 banding's
    * in-bucket pair count was measured 5-6× higher on a dense templated
    * corpus and grows as n²/2^16 on chance collisions alone). Exact Hamming
    * distance is then checked on the candidates only.
    *
    * `maxHamming < blocks` is REQUIRED (the pigeonhole guarantee); the
    * configuration is rejected instead of silently under-recalling.
    *
    * Within-bucket pair enumeration is quadratic in bucket size — the right
    * tool for LISTING near-dup pairs at a calibrated radius. For resolving
    * duplicate GROUPS, use [[simhashVerifiedEdgesFromHashes]] + connected
    * components, which collapses identical hashes first. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, blocks: Int = 6): DataFrame = {
    require(maxHamming < blocks,
      s"maxHamming=$maxHamming voids the pigeonhole recall guarantee of " +
        s"blocks=$blocks (only Hamming < $blocks is guaranteed); " +
        "raise blocks or lower maxHamming")
    val posted = simhashComboPostings(
      simhashHashes(df, idCol, textCol), blocks, maxHamming)
    posted.as("a").join(posted.as("b"),
        col("a.ci") === col("b.ci") && col("a.ck") === col("b.ck") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              bit_count(col("a.simhash") bitwiseXOR col("b.simhash")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** The array-of-(ci, ck) combo keys for a `simhash` column — exposed
    * within the package so DedupSpec can check the pigeonhole recall
    * contract on the exact bucketing. */
  private[graft] def simhashComboKeys(blocks: Int, maxHamming: Int): Column = {
    val widths = Array.tabulate(blocks)(b => 64 / blocks + (if (b < 64 % blocks) 1 else 0))
    val offs = widths.scanLeft(0)(_ + _)
    def block(b: Int): Column =
      shiftrightunsigned(col("simhash"), offs(b)) bitwiseAND lit((1L << widths(b)) - 1)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    array(combos.zipWithIndex.map { case (combo, ci) =>
      // Pack the selected blocks into one long: subset widths sum ≤ 64.
      val packed = combo.map(b => (b, block(b))).foldLeft(lit(0L): Column) {
        case (acc, (b, blk)) => shiftleft(acc, widths(b)) bitwiseOR blk
      }
      struct(lit(ci).as("ci"), packed.as("ck"))
    }: _*)
  }

  /** Exploded (id, simhash, combo index, packed combo key) postings for
    * Hamming-radius search, Manku-style (Detecting Near-Duplicates for Web
    * Crawling, WWW 2007): the 64-bit hash splits into `blocks` near-equal
    * bit blocks, and every (blocks − maxHamming)-block COMBINATION becomes
    * one bucket key. maxHamming flipped bits touch ≤ maxHamming blocks, so
    * some untouched combination always remains — full recall — while the
    * key widens from one block (~64/blocks bits) to blocks−maxHamming of
    * them (~32 bits at the 6/3 default): chance-collision bucket density
    * drops from n/2^16 to n/2^32. The C(blocks, maxHamming) posting
    * multiplicity (20× at the default) is the linear price that keeps the
    * within-bucket pair join from going quadratic on templated corpora,
    * where millions of DISTINCT hashes crowd a 16-bit band value. */
  private def simhashComboPostings(hashes: DataFrame, blocks: Int,
                                   maxHamming: Int): DataFrame =
    hashes.select(col("id"), col("simhash"),
        explode(simhashComboKeys(blocks, maxHamming)).as("c"))
      .select(col("id"), col("simhash"), col("c.ci").as("ci"), col("c.ck").as("ck"))

  /** Hamming-VERIFIED simhash dedup edges over pre-computed
    * [[simhashHashes]] — the duplicate-GROUP construction that stays
    * correct at corpus scale.
    *
    * Raw band-bucket components (star edges over 16-bit simhash bands)
    * merge on CHANCE band collisions: a 16-bit band value collides
    * between unrelated docs past n ≈ 16k, silently chaining unrelated docs
    * into mega-components.
    * Here every edge is Hamming-verified instead:
    *
    *  1. identical hashes collapse first — [[starEdgesFromBuckets]] on the
    *     raw simhash (Hamming 0, trivially verified; LINEAR in docs, so
    *     the giant identical-doc cluster never enters any pairwise step);
    *  2. only the DISTINCT hash values (one representative = min id per
    *     value) enter the [[simhashComboPostings]] bucket join, and each
    *     candidate pair is kept only at `bit_count(xor) ≤ maxHamming`.
    *
    * The union has the same transitive closure as the full verified pair
    * graph {(x,y) : hamming ≤ maxHamming}: any verified pair either shares
    * a hash (connected via step 1) or routes through its representatives
    * (same hashes → same buckets, same Hamming distance). The edge SET is
    * bucketing-independent (pigeonhole recall + explicit verification), so
    * `blocks` is pure performance tuning and the cross-engine oracle needs
    * no knowledge of it. */
  def simhashVerifiedEdgesFromHashes(sim: DataFrame, maxHamming: Int = 3,
                                     blocks: Int = 6): DataFrame = {
    require(maxHamming < blocks,
      s"maxHamming=$maxHamming voids the pigeonhole recall guarantee of " +
        s"blocks=$blocks (only Hamming < $blocks is guaranteed); " +
        "raise blocks or lower maxHamming")
    val ident = starEdgesFromBuckets(sim.select(col("id"), col("simhash")),
      Seq("simhash"))
    val reps = sim.groupBy(col("simhash")).agg(min(col("id")).as("id"))
    val posted = simhashComboPostings(reps, blocks, maxHamming)
    val verified = posted.as("a").join(posted.as("b"),
        col("a.ci") === col("b.ci") && col("a.ck") === col("b.ck") &&
        col("a.id") < col("b.id") &&
        bit_count(col("a.simhash") bitwiseXOR col("b.simhash")) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    ident.union(verified)
  }

  /** Embedding near-dup pairs WITHOUT a blocking column: the corpus is
    * bucketed by a deterministic random-hyperplane sign signature (the same
    * construction [[graft.similarity.Ann.lshTopK]] probes), and cosine is
    * computed only within a bucket — the pair space shrinks by ~2^numPlanes
    * versus all-pairs while near-identical vectors (the dedup targets)
    * almost always agree on every sign bit. Recall is < 1 by construction
    * (a near-dup pair straddling one hyperplane is missed — raise
    * `minSim`-adjacent recall by lowering numPlanes, or run
    * [[embeddingCosinePairs]] within a curated blocking column instead). */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        numPlanes: Int, dim: Int, minSim: Double): DataFrame = {
    val planes = Ann.hyperplanes(numPlanes, dim)
    // Zero-norm vectors have no direction: their cosine is 0/0 = NaN, and
    // Spark orders NaN ABOVE every real number, so `cosine >= minSim` would
    // admit the pair. Excluded on both sides (mirrored in the oracle).
    val v = df.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .withColumn("norm",
        sqrt(graft.plans.Expressions.dotProduct(col("vec"), col("vec"))))
      .where(col("norm") > 0)
      .withColumn("block", Ann.signature(col("vec"), planes))
    Ann.blockedCosinePairs(v, minSim).withColumnRenamed("block", "bucket")
  }

  /** Incremental embedding near-dup screening — the embedding counterpart
    * of [[incrementalMinhashSuspects]]: for each NEW-batch vector, how many
    * vectors of the persisted corpus index it near-duplicates (rounded
    * cosine ≥ `minSim` within its LSH sign bucket), plus the best match.
    * Rows appear only for suspects; gate ingestion on them or route them
    * to exact verification.
    *
    * Skew/scale shape: both sides bucket by the same deterministic
    * hyperplane signature, and the BATCH side carries a broadcast hint —
    * an incremental ingest batch is the small side by construction, so the
    * probe is a broadcast hash join and the corpus-sized index NEVER
    * shuffles (bucket-equi-join semantics unchanged). The per-batch-id
    * aggregate is count + the flat two-long
    * [[graft.plans.Expressions.MaxPairLong]] over (micro-cosine, index id)
    * — hash-based and map-side combined, where the `max(struct(cosine,
    * id))` spelling it replaces silently planned Sort→SortAggregate on
    * both exchange sides (struct buffers are not HashAggregate-eligible).
    * The micro-cosine leg is exact: cosine is already rounded to 6 dp, so
    * ord = round(cosine·10⁶) recovers the integer m losslessly and
    * m / 10⁶ re-derives the identical double (both are the
    * nearest-double of the rational m·10⁻⁶). Non-integral id columns fall
    * back to the struct ordering — same results, sort-based plan. The
    * index side is any (id, vec) frame — typically a stored table read
    * back with its signatures recomputed, which is a projection-only scan
    * (no shuffle); persist the signature column alongside the vectors to
    * skip even that. Recall bounds are [[embeddingLshPairs]]'s
    * (sign-bucket blocking). */
  def incrementalEmbeddingSuspects(newVecs: DataFrame, indexVecs: DataFrame,
                                   idCol: String, vecCol: String,
                                   numPlanes: Int, dim: Int,
                                   minSim: Double): DataFrame = {
    val planes = Ann.hyperplanes(numPlanes, dim)
    def prep(df: DataFrame, idOut: String, vecOut: String, normOut: String) =
      df.select(col(idCol).as(idOut),
          transform(col(vecCol), x => x.cast("double")).as(vecOut))
        .withColumn(normOut,
          sqrt(graft.plans.Expressions.dotProduct(col(vecOut), col(vecOut))))
        .where(col(normOut) > 0) // zero-norm: NaN cosine — see embeddingLshPairs
        .withColumn("block", Ann.signature(col(vecOut), planes))
    val batch = prep(newVecs, "vec_id", "__bv", "__bn")
    val index = prep(indexVecs, "__iid", "__iv", "__in")
    val idType = indexVecs.schema(idCol).dataType
    val matches = broadcast(batch).join(index, Seq("block"))
      .withColumn("cosine",
        round(Ann.cosine(col("__bv"), col("__bn"), col("__iv"), col("__in")), 6))
      .where(col("cosine") >= minSim)
    if (isIntegral(idType))
      matches
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_index_matches"),
          Expressions.maxPairLong(round(col("cosine") * 1e6).cast("long"),
            col("__iid").cast("long")).as("__best"))
        .select(col("vec_id"), col("n_index_matches"),
          (col("__best.ord") / 1e6).as("best_cosine"),
          col("__best.pay").cast(idType).as("best_index_id"))
    else
      matches
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_index_matches"),
          max(struct(col("cosine"), col("__iid"))).as("__best"))
        .select(col("vec_id"), col("n_index_matches"),
          col("__best.cosine").as("best_cosine"),
          col("__best.__iid").as("best_index_id"))
  }

  /** Embedding near-dup pairs within a blocking key (e.g. a cluster/label
    * column): cosine similarity over float vectors, computed in double
    * precision. Blocking keeps the pair space linear-ish; for unblocked
    * corpora use [[embeddingLshPairs]], which blocks by LSH sign buckets. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, minSim: Double): DataFrame = {
    // norm > 0: see embeddingLshPairs — NaN cosine would pass >= minSim.
    val v = df.select(col(blockCol).as("block"), col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .withColumn("norm",
        sqrt(graft.plans.Expressions.dotProduct(col("vec"), col("vec"))))
      .where(col("norm") > 0)
    Ann.blockedCosinePairs(v, minSim)
  }
}
