package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.plans.{Expressions, Hashing}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight"),
    (1L, "the quick brown fox jumps over the lazy dog today"),   // near-dup of 0
    (2L, "completely different content about spark query engines"),
    (3L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 0
    (4L, "another unrelated document mentioning nothing similar at all")
  ).toDF("doc_id", "text")

  test("exactDedup keeps lowest id per identical text") {
    val kept = Dedup.exactDedup(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L, 4L))
  }

  test("exactDedupKeepBest keeps the max-priority copy, ties -> lowest id") {
    // doc 3 duplicates doc 0 but carries higher priority → 3 wins its
    // group; docs 1/2/4 are singletons and survive regardless.
    val prioritized = docs.withColumn("trust",
      when(col("doc_id") === 3, 9L).otherwise(col("doc_id") % 2))
    val kept = Dedup.exactDedupKeepBest(prioritized, Seq("text"), "doc_id",
        col("trust"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L))
    // Equal priorities degrade to exactDedup's lowest-id rule.
    val flat = Dedup.exactDedupKeepBest(docs, Seq("text"), "doc_id", lit(1L))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(flat == Seq(0L, 1L, 2L, 4L))
  }

  test("winnowed fingerprints: identical content, embedded passages, short docs") {
    val passage = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six").trim
    val host = s"totally different preamble text starts here $passage and trailing words close it out"
    val other = "unrelated content entirely about cooking with many various ingredient tokens inside the pot"
    val docs = Seq((0L, passage), (1L, host), (2L, other), (3L, passage),
      (4L, "too short")).toDF("doc_id", "text")
    val byDoc = Dedup.winnowedFingerprints(docs, "doc_id", "text", k = 4, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // Selection is content-local: identical docs get identical sets.
    assert(byDoc(0L) == byDoc(3L) && byDoc(0L).nonEmpty)
    // The embedded passage surfaces shared selections; disjoint vocab none.
    assert((byDoc(0L) & byDoc(1L)).nonEmpty)
    assert((byDoc(0L) & byDoc(2L)).isEmpty)
    // Fewer than k tokens -> no grams, no fingerprints.
    assert(!byDoc.contains(4L))
  }

  test("winnowed fingerprints match the windowed-neighborhood-min reference") {
    // Pseudo-random corpus with repeated template blocks so neighborhoods
    // contain ties and duplicate grams; reference = the pre-rework
    // explode + sliding-window-min formulation, computed in Scala.
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "tmpl1", "tmpl2")
    val docs = (0L until 40L).map { i =>
      val n = 5 + (i * 7 % 30).toInt
      val toks = (0 until n).map(j => vocab(((i * 31 + j * 17) % vocab.size).toInt))
      (i, toks.mkString(" "))
    }
    val (k, w) = (3, 4)
    def md5fp(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val want: Map[Long, Set[Long]] = docs.flatMap { case (id, text) =>
      val toks = text.split("\\s+").toVector
      if (toks.size < k) Nil
      else {
        val fps = toks.sliding(k).map(g => md5fp(g.mkString(" "))).toVector
        fps.indices.collect {
          case p if fps(p) == fps.slice(math.max(0, p - (w - 1)),
            math.min(fps.size, p + w)).min => (id, fps(p))
        }
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Dedup.winnowedFingerprints(docs.toDF("doc_id", "text"),
        "doc_id", "text", k, w)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got == want)
  }

  test("boundedPairCounts equals the self-join + df-prune composition") {
    // Random postings with a hot key above the cap (must vanish), singleton
    // keys (no pairs), and shared keys driving multi-key pair counts.
    val postings = ((0L until 200L).map(i => (s"k${i % 23}", i % 40)) ++
      (0L until 80L).map(i => ("hot", i % 60))).distinct
      .toDF("fp", "id")
    val cap = 15L
    val want = postings.as[(String, Long)].collect().toSeq
      .groupBy(_._1).values
      .filter(g => g.size >= 2 && g.size <= cap)
      .flatMap(g => g.map(_._2).sorted.combinations(2))
      .map { case Seq(a, b) => (a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Dedup.boundedPairCounts(postings, "fp", "id", cap)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => ((a, b), n) }.toMap
    assert(got == want)
    assert(got.nonEmpty)
    // Duplicate (id, key) postings (re-ingested shard, duplicated doc_id
    // rows) dedupe INSIDE the aggregate: no (x, x) self-pairs, no double
    // counting, df band still counts DISTINCT ids — identical output to
    // the distinct input.
    val doubled = postings.unionAll(postings)
    val got2 = Dedup.boundedPairCounts(doubled, "fp", "id", cap)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => ((a, b), n) }.toMap
    assert(got2 == want)
    assert(got2.keys.forall { case (a, b) => a < b })
    // The hot key (60 distinct ids > cap) contributed nothing: no pair can
    // exceed the count achievable through the 23 cold keys alone.
    intercept[IllegalArgumentException] {
      Dedup.boundedPairCounts(postings, "fp", "id", maxDocFreq = 1L)
    }
  }

  test("pairOverlapCounts equals the oracle's df prune + self-join + sizes reference") {
    // A hot key in 60 docs (> cap: pruned from the pairs, still counted in
    // the sizes), df-1 keys on docs 100..109 (sizes only, no pair), ids
    // 40..59 whose only key is the hot one, and 23 shared keys driving
    // multi-key pair counts.
    val postings: Seq[(Long, Long)] = ((0L until 200L).map(i => (i % 40, i % 23)) ++
      (0L until 60L).map(i => (i, 999L)) ++
      (100L until 110L).map(i => (i, 1000L + i))).distinct
    val cap = 15L
    // The oracle's semantics spelled in Scala: keys with count(*) > cap
    // leave the postings, the self-join counts matches per (a < b), and the
    // sizes are count(*) per id over the UNPRUNED postings.
    def reference(ps: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long, Long)] = {
      val sizes = ps.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      ps.groupBy(_._2).values.filter(_.size <= cap).toSeq
        .flatMap(g => for ((a, _) <- g; (b, _) <- g if a < b) yield (a, b))
        .groupBy(identity).map { case (pr @ (a, b), hits) =>
          pr -> ((hits.size.toLong, sizes(a), sizes(b))) }
    }
    def core(ps: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long, Long)] =
      Dedup.pairOverlapCounts(ps.toDF("id", "shh"), cap)
        .select("id_a", "id_b", "inter", "n_a", "n_b")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (a, b, i, na, nb) => ((a, b), (i, na, nb)) }.toMap
    val want = reference(postings)
    assert(want.nonEmpty)
    assert(want.keys.forall { case (a, b) => a < 40 && b < 40 })
    assert(core(postings) == want)
    // Doubled postings (a duplicated doc_id row) are where the two
    // semantics part: the core counts DISTINCT ids per key, so its pairs
    // and `inter` do not move, while count(*) doubles every df and
    // quadruples every match. Hence the precondition that
    // shinglePostings is distinct per (id, shh) and doc_id is unique.
    val doubled = postings ++ postings
    def inters(m: Map[(Long, Long), (Long, Long, Long)]) =
      m.view.mapValues(_._1).toMap
    assert(inters(core(doubled)) == inters(want))
    assert(inters(reference(doubled)) != inters(want))
  }

  test("shinglePostings is distinct per (id, shh) on a repetitive document") {
    // "a a a a a a" has four 3-gram positions but one distinct shingle; the
    // oracle's count(*) equals the core's distinct-id count only because
    // each document posts each shingle once.
    val rep = Seq((0L, "a a a a a a"), (1L, "a a a b a a a"), (2L, "a a"))
      .toDF("doc_id", "text")
    val ps = Dedup.shinglePostings(rep, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSeq
    assert(ps.size == ps.distinct.size)
    assert(ps.groupBy(_._1).view.mapValues(_.size).toMap ==
      Map(0L -> 1, 1L -> 4))
  }

  test("keepBestPerGroup picks max-priority (ties lowest id) per group") {
    val grouped = Seq(
      (0L, 10L, 1L), (1L, 10L, 5L), (2L, 10L, 5L), // grp 10: 1 wins (5, tie -> low id)
      (3L, 20L, 0L),                               // singleton
      (4L, 30L, 2L), (5L, 30L, 7L)                 // grp 30: 5 wins
    ).toDF("id", "grp", "p")
    val kept = Dedup.keepBestPerGroup(grouped, "grp", "id", col("p"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L))
  }

  test("keepBestPerGroup throws on a null group instead of dropping it") {
    val g = Seq((0L, Some(1L), 1L), (1L, None, 2L)).toDF("id", "grp", "p")
    intercept[Exception] {
      Dedup.keepBestPerGroup(g, "grp", "id", col("p")).count()
    }
  }

  test("exactDedupKeepBest throws on null or negative priority") {
    val nullP = docs.withColumn("p",
      when(col("doc_id") === 3, lit(null).cast("long")).otherwise(lit(1L)))
    intercept[Exception] {
      Dedup.exactDedupKeepBest(nullP, Seq("text"), "doc_id", col("p")).count()
    }
    val negP = docs.withColumn("p", lit(-1L))
    intercept[Exception] {
      Dedup.exactDedupKeepBest(negP, Seq("text"), "doc_id", col("p")).count()
    }
  }

  test("ngramJaccardFromPostings finds near-dups and exact dups") {
    val pairs = Dedup.ngramJaccardFromPostings(
        Dedup.shinglePostings(docs, "doc_id", "text", n = 3), minJaccard = 0.5,
        maxDocFreq = 100L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup → jaccard 1.0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ngram jaccard of exact dup is 1.0") {
    val j = Dedup.ngramJaccardFromPostings(
        Dedup.shinglePostings(docs, "doc_id", "text", 3), 0.9, 100L)
      .where(col("id_a") === 0 && col("id_b") === 3)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("maxDocFreq cap drops universal shingles") {
    val spam = (0L until 10L).map(i => (i, s"common shingle text here unique$i"))
      .toDF("doc_id", "text")
    // 'common shingle text' and 'shingle text here' appear in all 10 docs;
    // capped at 5 they contribute nothing, leaving no pair ≥ 0.3.
    val capped = Dedup.ngramJaccardFromPostings(
      Dedup.shinglePostings(spam, "doc_id", "text", 3), 0.3, maxDocFreq = 5L)
    assert(capped.count() == 0)
  }

  test("short docs (< n tokens) yield empty shingle sets, not a crash") {
    // sequence(1, size-(n-1)) DESCENDS when size < n, making slice throw —
    // the guard must produce an empty array instead.
    val short = Seq((0L, "one"), (1L, "two words"), (2L, ""),
      (3L, "three whole tokens"), (4L, "three whole tokens")).toDF("doc_id", "text")
    val shingled = short.select(col("doc_id"),
      Dedup.shinglesFromTokens(graft.functions.TextOps.tokens(col("text")), 3).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n")).as[(Long, Int)].collect().toMap
    assert(shingled(0L) == 0 && shingled(1L) == 0 && shingled(2L) == 0)
    assert(shingled(3L) == 1)
    // The full pipelines run end-to-end over the mixed corpus.
    val pairs = Dedup.ngramJaccardFromPostings(
        Dedup.shinglePostings(short, "doc_id", "text", 3), 0.5, 100L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L))) // only the 3-token exact dups can pair
    Dedup.minhashLshCandidates(short, "doc_id", "text", 3, 8, 4).count() // no throw
  }

  test("minhash LSH candidates include exact and near dups") {
    val cands = Dedup.minhashLshCandidates(docs, "doc_id", "text",
      n = 3, numHashes = 8, bands = 4).as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 3L)))
    assert(!cands.contains((2L, 4L)))
  }

  test("minhash signatures are bit-identical under the distinct-shingle dim") {
    // hashPerDistinctShingle trades md5 volume for two posting shuffles;
    // whatever the plan shape, the signature VALUES must not move (they
    // are the cross-engine bucket currency the oracle mirrors).
    val corpus = (0L until 25L).map { i =>
      (i, s"shared prefix words number${i % 4} middle${i % 3} and a tail")
    }.toDF("doc_id", "text")
    val direct = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 8)
      .orderBy(col("id")).collect().toSeq
    val dim = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 8,
        hashPerDistinctShingle = true)
      .orderBy(col("id")).collect().toSeq
    assert(direct == dim)
    // And with a hot-shingle threshold low enough to route shared shingles
    // through the broadcast branch.
    val hot = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 8,
        hashPerDistinctShingle = true, hotDf = 2L)
      .orderBy(col("id")).collect().toSeq
    assert(direct == hot)
  }

  test("simhash: identical docs distance 0, near-dups close, distinct far") {
    val sim = Dedup.withSimhash(docs, "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sim(0L), sim(3L)) == 0)
    assert(ham(sim(0L), sim(1L)) < ham(sim(0L), sim(2L)))
  }

  test("simhashCandidates surfaces the exact dup pair") {
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 3L)))
  }

  test("simhash banding recall: every pair within Hamming bands-1 is found") {
    // Brute-force ground truth over a larger corpus: ANY pair at Hamming
    // distance ≤ bands − 1 = 3 must appear in the banded candidates — the
    // pigeonhole guarantee the maxHamming ≤ bands − 1 contract protects.
    val corpus = (0L until 40L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      (i, if (i % 3 == 0) base else s"$base extra${i % 7} tail${i % 5}")
    }.toDF("doc_id", "text")
    val sims = Dedup.withSimhash(corpus, "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val truth = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b)).toSet
    val cands = Dedup.simhashCandidates(corpus, "doc_id", "text",
        maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(cands),
      s"missed pairs within Hamming 3: ${truth.diff(cands)}")
  }

  test("simhashCandidates rejects maxHamming beyond the pigeonhole bound") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 6)
    }
    assert(ex.getMessage.contains("pigeonhole"))
  }

  test("minhash star edges give the same components as all-pairs candidates") {
    val corpus = (0L until 30L).map { i =>
      (i, if (i % 2 == 0) "the quick brown fox jumps over the lazy dog"
          else s"unrelated text number${i % 9} content${i % 4} word${i % 11}")
    }.toDF("doc_id", "text")
    def components(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Graph.connectedComponents(
          corpus.select(col("doc_id")), "doc_id", edges, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
    val star = Dedup.starEdgesFromBuckets(
      Dedup.minhashBandPostings(corpus, "doc_id", "text", 3, 8, 4),
      Seq("band_idx", "band_val"))
    val allPairs = Dedup.minhashLshCandidates(corpus, "doc_id", "text", 3, 8, 4)
    assert(components(star) == components(allPairs))
  }

  test("combo-bucket pigeonhole: any pair within Hamming 3 shares a key (300 random pairs)") {
    // Deterministic pseudo-random 64-bit hashes with 0-3 flipped bits; the
    // pair MUST land in ≥1 common (ci, ck) bucket — the recall contract the
    // verified-edge path relies on. One Spark job for all pairs.
    val rnd = new scala.util.Random(42)
    val pairs = (0 until 300).map { i =>
      val h = rnd.nextLong()
      val flips = rnd.nextInt(4)
      val h2 = (0 until flips).foldLeft(h)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
      (i.toLong, h, h2)
    }
    val hashes = pairs.flatMap { case (i, h, h2) =>
      Seq((2 * i, h), (2 * i + 1, h2)) }.toDF("id", "simhash")
    val keyed = hashes.select(col("id"),
        explode(Dedup.simhashComboKeys(blocks = 6, maxHamming = 3)).as("c"))
      .select((col("id") / 2).cast("long").as("pair"), col("id"),
        col("c.ci").as("ci"), col("c.ck").as("ck"))
    val sharing = keyed.groupBy(col("pair"), col("ci"), col("ck"))
      .agg(countDistinct(col("id")).as("n"))
      .where(col("n") === 2)
      .select("pair").distinct()
      .as[Long].collect().toSet
    val missing = pairs.map(_._1).toSet -- sharing
    assert(missing.isEmpty, s"pairs within Hamming 3 with NO shared bucket: $missing")
  }

  test("simhashVerifiedEdges: components split where Hamming exceeds the radius") {
    // Exact dups (0,3) must land in one component; a doc sharing a band by
    // CHANCE but far in Hamming must NOT be merged. Construct the chance
    // collision directly on hash values: x and y share band 0 (low 16 bits)
    // but differ in 20 high bits — raw bucket edges merge them, verified
    // edges must not.
    val sims = Seq(
      (0L, 0x1111222233334444L), (3L, 0x1111222233334444L), // identical
      (1L, 0x1111222233334445L),                            // hamming 1 of 0
      (7L, 0x0FFFFAAAECC34444L)                             // shares band 0 only, far
    ).toDF("id", "simhash")
    val edges = Dedup.simhashVerifiedEdgesFromHashes(sims, maxHamming = 3)
      .as[(Long, Long)].collect().toSet
    assert(edges.contains((0L, 3L)))
    assert(edges.contains((0L, 1L)))
    assert(!edges.exists(e => e._1 == 7L || e._2 == 7L),
      s"chance band collision must not produce an edge: $edges")
    // And the raw bucket graph WOULD have merged 7 — the failure mode the
    // verification exists for.
    val raw = Dedup.starEdgesFromBuckets(
      Seq((0L, 0x4444L), (3L, 0x4444L), (7L, 0x4444L)).toDF("id", "bv"),
      Seq("bv")).as[(Long, Long)].collect().toSet
    assert(raw.exists(e => e._1 == 7L || e._2 == 7L))
  }

  test("simhashVerifiedEdges components match brute-force verified pairs") {
    val corpus = (0L until 40L).map { i =>
      (i, if (i % 3 == 0) "the quick brown fox jumps over the lazy dog"
          else if (i % 3 == 1) "the quick brown fox jumps over the lazy cat"
          else s"unrelated text number${i % 7} content${i % 5} word${i % 11}")
    }.toDF("doc_id", "text")
    def components(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Graph.connectedComponents(
          corpus.select(col("doc_id")), "doc_id", edges, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
    val verified = Dedup.simhashVerifiedEdgesFromHashes(
      Dedup.simhashHashes(corpus, "doc_id", "text"), maxHamming = 3)
    // Brute force: the full pair listing at the same radius (q44's shape).
    val brute = Dedup.simhashCandidates(corpus, "doc_id", "text",
      maxHamming = 3).select(col("id_a"), col("id_b"))
    assert(components(verified) == components(brute))
  }

  test("exactDedup throws on null ids instead of silently dropping groups") {
    val withNull = Seq(
      (java.lang.Long.valueOf(0L), "aa"), (java.lang.Long.valueOf(1L), "aa"),
      (null.asInstanceOf[java.lang.Long], "bb"),
      (null.asInstanceOf[java.lang.Long], "bb")
    ).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.exactDedup(withNull, Seq("text"), "doc_id").count()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("non-null row identifier")), ex.toString)
    val ex2 = intercept[Exception] {
      Dedup.exactKeeperIds(withNull, Seq("text"), "doc_id").count()
    }
    assert(messages(ex2).exists(_.contains("non-null row identifier")), ex2.toString)
  }

  test("exactKeeperIds equals exactDedup's id set on unique-id input") {
    val ids = Dedup.exactKeeperIds(docs, Seq("text"), "doc_id")
      .as[Long].collect().sorted.toSeq
    val ref = Dedup.exactDedup(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == ref && ids == Seq(0L, 1L, 2L, 4L))
  }

  test("incrementalExactDedup drops index dups and intra-batch dups") {
    import graft.functions.TextOps
    val index = Seq("seen before content right here")
      .toDF("text").select(TextOps.contentFingerprint(col("text")).as("fingerprint"))
    val batch = Seq(
      (10L, "seen before content right here"),    // already in the index
      (11L, "Seen  Before   content right here"), // index dup modulo normalization
      (12L, "brand new content arriving now"),
      (13L, "brand new content arriving now"),    // intra-batch dup of 12
      (14L, "another fresh document entirely")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExactDedup(batch, "doc_id", "text", index)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(12L, 14L))
  }

  test("incrementalMinhashSuspects flags index near-dups with band counts") {
    val index = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val indexPostings = Dedup.minhashBandPostings(index, "doc_id", "text", 3, 8, 4)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact: all 4 bands
      (11L, "totally different words appear in this unrelated body text")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalMinhashSuspects(batch, "doc_id", "text",
        3, 8, 4, indexPostings)
      .as[(Long, Long)].collect().toMap
    assert(got(10L) == 4L) // identical shingle set → every band matches
    assert(!got.contains(11L), s"distinct doc must not be a suspect: $got")
  }

  test("embedding cosine pairs: identical vectors similarity 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(0.6f, 0.8f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", "label", 0.99)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((0L, 1L, 1.0)))
  }

  test("embeddingLshPairs finds identical vectors without a blocking column") {
    // Identical vectors share every sign bit → same bucket → cosine 1.
    // Orthogonal vectors may or may not share a bucket; if they do, the
    // minSim filter drops them (cosine 0).
    val dim = 64
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d * 7) % 13) - 6).toFloat / 6f)
    val vecs = Seq(
      (0L, vec(1)), (1L, vec(1)),      // identical pair
      (2L, vec(2)), (3L, vec(3))       // unrelated
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingLshPairs(vecs, "vec_id", "embedding",
        numPlanes = 6, dim = dim, minSim = 0.99)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((0L, 1L, 1.0)))
  }

  test("incrementalEmbeddingSuspects flags batch vectors the index near-duplicates") {
    val dim = 64
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d => (((seed * 31 + d * 7) % 13) - 6).toFloat / 6f)
    val index = Seq((0L, vec(1)), (1L, vec(2)), (2L, vec(1))).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, vec(1)),                    // duplicates index ids 0 and 2
      (11L, vec(9)),                    // novel
      (12L, Array.fill(dim)(0f))        // zero norm: excluded, not NaN
    ).toDF("vec_id", "embedding")
    val got = Dedup.incrementalEmbeddingSuspects(batch, index,
        "vec_id", "embedding", numPlanes = 6, dim = dim, minSim = 0.99)
      .select("vec_id", "n_index_matches", "best_cosine", "best_index_id")
      .as[(Long, Long, Double, Long)].collect().toSeq
    // Only the true duplicate surfaces; best match breaks the cosine tie
    // (ids 0 and 2 both at 1.0) toward the larger index id, matching the
    // oracle's ORDER BY cosine DESC, iid DESC argmax.
    assert(got == Seq((10L, 2L, 1.0, 2L)))
  }

  test("contaminationOverlap counts distinct shared shingles per train doc") {
    // test doc 10 shares its full 8-shingle set with train doc 0 (exact
    // copy) and nothing with train doc 2.
    val train = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark query engines")
    ).toDF("doc_id", "text")
    val test_ = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationOverlap(train, test_, "doc_id", "text",
        n = 3, minShared = 3L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 8L)) // 10 tokens → 8 distinct 3-gram shingles
  }

  test("contaminationBySuite attributes the worst suite with deterministic ties") {
    // Postings passed directly: train doc 1 shares 3 hashes with suiteA and
    // 4 with suiteB (suiteB wins); doc 2 shares 3 with each (tie → greatest
    // suite name wins); doc 3 shares only 2 anywhere (below minShared).
    val train = Seq(
      (1L, 101L), (1L, 102L), (1L, 103L), (1L, 104L),
      (2L, 201L), (2L, 202L), (2L, 203L),
      (3L, 301L), (3L, 302L)
    ).toDF("id", "shh")
    val testSuites = Seq(
      ("suiteA", 101L), ("suiteA", 102L), ("suiteA", 103L),
      ("suiteB", 101L), ("suiteB", 102L), ("suiteB", 103L), ("suiteB", 104L),
      ("suiteA", 201L), ("suiteA", 202L), ("suiteA", 203L),
      ("suiteB", 201L), ("suiteB", 202L), ("suiteB", 203L),
      ("suiteA", 301L), ("suiteA", 302L),
      // duplicate test postings must not inflate counts (distinct first)
      ("suiteA", 101L), ("suiteB", 201L)
    ).toDF("suite", "shh")
    val got = Dedup.contaminationBySuiteFromPostings(train, testSuites, minShared = 3L)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> (("suiteB", 4L, 2L)),
      2L -> (("suiteB", 3L, 2L))))
  }

  test("postings contamination flags the copy and the partial overlap, not clean docs") {
    // A mixed corpus: one exact copy of a test doc (all 6 trigrams shared),
    // one partial overlap ("alpha beta gamma" only), many clean docs.
    val train = (
      Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"),
          (1L, "alpha beta gamma unrelated trailing words here now")) ++
      (2L to 60L).map(i => (i, s"clean document number $i with words w$i x$i y$i z$i"))
    ).toDF("doc_id", "text")
    val test_ = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val tr = Dedup.shinglePostings(train, "doc_id", "text", n = 3)
    val te = Dedup.shinglePostings(test_, "doc_id", "text", n = 3)
    def flagged(minShared: Long): Map[Long, Long] =
      Dedup.contaminationFromPostings(tr, te, minShared)
        .as[(Long, Long)].collect().toMap
    assert(flagged(1L) == Map(0L -> 6L, 1L -> 1L))
    assert(flagged(2L) == Map(0L -> 6L))
  }

  test("containment flags subset-duplicates that jaccard misses") {
    // Doc 1 is doc 0's first 12 tokens: every one of its 10 shingles is in
    // doc 0 (containment 1.0), but doc 0 has 28 shingles → jaccard 10/28.
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val short = (1 to 12).map(i => s"w$i").mkString(" ")
    val df = Seq((0L, long), (1L, short)).toDF("doc_id", "text")
    val postings = Dedup.shinglePostings(df, "doc_id", "text", 3)
    val cont = Dedup.ngramContainmentFromPostings(postings, 0.9, 100L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont == Seq((0L, 1L, 1.0)))
    val jac = Dedup.ngramJaccardFromPostings(postings, 0.9, 100L)
    assert(jac.isEmpty, "jaccard at the same threshold must miss the subset pair")
  }

  test("segmentDedup removes corpus-hot lines and reassembles in order") {
    // "nav bar" appears in 3 docs (> maxCount=2) → removed everywhere;
    // "unique line N" survives; doc 3 is ALL boilerplate → empty text.
    val df = Seq(
      (0L, "nav bar\nunique line zero\nfooter text"),
      (1L, "nav bar\nunique line one\nfooter text"),
      (2L, "nav bar\nunique line two"),
      (3L, "nav bar\nnav bar"),
      (4L, null.asInstanceOf[String]) // null text must not vanish
    ).toDF("doc_id", "text")
    // "footer text" occurs twice (== maxCount) → kept.
    val got = Dedup.segmentDedup(df, "doc_id", split(col("text"), "\n"), maxCount = 2L)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) == (("unique line zero\nfooter text", 2L, 1L)))
    assert(got(1L) == (("unique line one\nfooter text", 2L, 1L)))
    assert(got(2L) == (("unique line two", 1L, 1L)))
    assert(got(3L) == (("", 0L, 2L))) // emptied doc still emitted
    assert(got(4L) == (("", 0L, 0L))) // null doc emitted with zero counts
    assert(got.size == 5)
  }

  test("tokenBlocks yields empty arrays for null text") {
    val df = Seq((0L, null.asInstanceOf[String]), (1L, "a b"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        Dedup.tokenBlocks(col("text"), 3).as("blocks"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(0L) == Seq.empty)
    assert(got(1L) == Seq("a b"))
  }

  test("tokenBlocks chunks tokens into fixed-size ordered blocks") {
    val df = Seq((0L, "a b c d e f g"), (1L, "x")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        Dedup.tokenBlocks(col("text"), 3).as("blocks"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(0L) == Seq("a b c", "d e f", "g")) // 7 tokens → 3 blocks
    assert(got(1L) == Seq("x"))
  }

  test("withSimhash on an already-registered session logs no re-registration WARN") {
    // Re-creating the session's temp functions on every call made Spark log
    // "replaced a previously registered function" once per function.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("capture-warn", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warns.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    try {
      for (_ <- 1 to 2)
        assert(Dedup.withSimhash(docs, "text").count() == docs.count())
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    val replaced = warns.asScala.filter(_.contains("previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }

  test("rolling hash expression matches the scala reference implementation") {
    Expressions.ensureRegistered(spark)
    val df = docs.select(col("doc_id"), Expressions.rollingHash(col("text")).as("h"),
      col("text"))
    df.as[(Long, Long, String)].collect().foreach { case (_, h, text) =>
      assert(h == Hashing.rollingHash(text.getBytes("UTF-8")))
    }
    // Equal strings hash equal; distinct strings differ here.
    val hs = df.as[(Long, Long, String)].collect().map(r => r._3 -> r._2).toMap
    assert(hs.size == 4) // 5 docs, 2 identical texts
  }

  test("ngramNovelty: first occurrence owns the shingle, dups score zero") {
    val got = Dedup.ngramNoveltyFromPostings(docs.select(col("doc_id").as("id")),
        Dedup.shinglePostings(docs, "doc_id", "text", n = 3))
      .select("id", "n_shingles", "novel_shingles", "novelty_milli")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc0: 10 tokens → 8 distinct 3-grams, all first-seen.
    assert(got(0L) == (0L, 8L, 8L, 1000L))
    // doc1 shares 7 of its 8 3-grams with doc0; only "lazy dog today" is new.
    assert(got(1L) == (1L, 8L, 1L, 125L))
    // doc3 is an exact copy of doc0 → nothing novel.
    assert(got(3L) == (3L, 8L, 0L, 0L))
    // Unrelated docs are fully novel.
    assert(got(2L)._4 == 1000L && got(4L)._4 == 1000L)
  }

  test("ngramNovelty: shingle-less docs report vacuous novelty 1000") {
    val tiny = Seq((1L, "only two"), (2L, "three tokens here")).toDF("doc_id", "text")
    val got = Dedup.ngramNoveltyFromPostings(tiny.select(col("doc_id").as("id")),
        Dedup.shinglePostings(tiny, "doc_id", "text", n = 3))
      .select("id", "n_shingles", "novelty_milli")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 0L, 1000L))
    assert(got(2L) == (2L, 1L, 1000L))
  }

  test("alignedRuns finds the full overlap run of near-duplicates") {
    val got = Dedup.alignedRunsFromPostings(
        Dedup.positionalShinglePostings(docs, "doc_id", "text", 3), n = 3,
        minRun = 3, maxDocFreq = None)
      .select("id_a", "id_b", "run_kgrams", "run_tokens")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // docs 0/3 are identical 10-token texts: 8 consecutive 3-grams.
    assert(got((0L, 3L)) == (8L, 10L))
    // docs 0/1 (and 1/3) share the first 9 tokens: 7 consecutive 3-grams.
    assert(got((0L, 1L)) == (7L, 9L))
    assert(got((1L, 3L)) == (7L, 9L))
    assert(got.size == 3, s"unexpected pairs: ${got.keySet}")
  }

  test("alignedRuns reports the longest ISLAND, not the total match count") {
    // One differing middle token splits the overlap into two 2-gram runs —
    // 4 aligned matches total, but no run longer than 2.
    val ab = Seq(
      (10L, "a b c d X e f g h"),
      (20L, "a b c d Y e f g h")).toDF("doc_id", "text")
    val got = Dedup.alignedRunsFromPostings(
        Dedup.positionalShinglePostings(ab, "doc_id", "text", 3), n = 3,
        minRun = 2, maxDocFreq = None)
      .select("id_a", "id_b", "run_kgrams", "run_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((10L, 20L, 2L, 4L)))
    // minRun above the longest island filters the pair out entirely.
    assert(Dedup.alignedRunsFromPostings(
      Dedup.positionalShinglePostings(ab, "doc_id", "text", 3), n = 3,
      minRun = 3, maxDocFreq = None).isEmpty)
  }

  test("selfAlignedRuns finds the longest internal verbatim repeat") {
    // "a b c d" recurs at displacement 5 ("a b c","b c d" at pos 0,1 and
    // 5,6) → a 2-kgram island = 4 repeated tokens; the clean doc scores 0.
    val df = Seq(
      (1L, "a b c d e a b c d x"),
      (2L, "all these tokens appear exactly once here")).toDF("doc_id", "text")
    val got = Dedup.selfAlignedRunsFromPostings(df.select(col("doc_id").as("id")),
        Dedup.positionalShinglePostings(df, "doc_id", "text", 3), n = 3,
        maxOccurrences = 50L)
      .select("id", "rep_run_kgrams", "rep_run_tokens")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 2L, 4L))
    assert(got(2L) == (2L, 0L, 0L))
  }

  test("selfAlignedRuns occurrence cap neutralizes degenerate repetition") {
    val spam = Seq((1L, "w w w w w w")).toDF("doc_id", "text")
    // Uncapped: "w w w" at pos 0-3, displacement 1 island of 3.
    val loose = Dedup.selfAlignedRunsFromPostings(spam.select(col("doc_id").as("id")),
        Dedup.positionalShinglePostings(spam, "doc_id", "text", 3), n = 3,
        maxOccurrences = 50)
      .select("rep_run_kgrams").as[Long].head()
    assert(loose == 3L)
    // Cap below the occurrence count drops the gram before the self-join.
    val capped = Dedup.selfAlignedRunsFromPostings(spam.select(col("doc_id").as("id")),
        Dedup.positionalShinglePostings(spam, "doc_id", "text", 3), n = 3,
        maxOccurrences = 3)
      .select("rep_run_kgrams").as[Long].head()
    assert(capped == 0L)
  }

  test("alignedRuns maxDocFreq cap drops ubiquitous n-grams") {
    // Every 3-gram of docs 0/3 appears in 2 documents; a cap of 1 removes
    // them all, so no pair survives.
    val none = Dedup.alignedRunsFromPostings(
      Dedup.positionalShinglePostings(docs, "doc_id", "text", 3), n = 3,
      minRun = 1, maxDocFreq = Some(1L))
    assert(none.isEmpty)
  }

  test("custom expressions run under CODEGEN_ONLY (real doGenCode, no fallback)") {
    // CODEGEN_ONLY makes Spark THROW instead of falling back to
    // interpretation when an expression can't generate code — this proves
    // RollingHash/SimHash64 compile inside the generated projection.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = docs.select(
          Expressions.rollingHash(col("text")).as("rh"),
          Expressions.simhash64(graft.functions.TextOps.tokens(col("text"))).as("sh"))
        .as[(Long, Long)].collect()
      assert(got.length == docs.count())
      assert(got.forall { case (rh, sh) => rh != 0L && sh != 0L })
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }
}
