package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class CoverageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(postings: Seq[(Long, String)], k: Int): Seq[(Int, Long, Long, Long)] =
    NaiveRefs.greedyCover(postings.toDF("id", "sh"), "id", "sh", k)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)

  test("k beyond maxK fails loudly before any job runs; explicit maxK is the escape hatch") {
    // Each round is two driver jobs, so k=10^4 is a quiet multi-hour
    // driver loop at any cluster size — the guardrail must throw up front.
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "sh")
    val e = intercept[IllegalArgumentException] {
      NaiveRefs.greedyCover(df, "id", "sh", k = NaiveRefs.DefaultMaxK + 1)
    }
    assert(e.getMessage.contains("maxK"))
    // Explicit maxK raises the ceiling (tiny corpus exhausts immediately —
    // the point is only that construction no longer throws).
    val ok = NaiveRefs.greedyCover(df, "id", "sh",
      k = NaiveRefs.DefaultMaxK + 1, maxK = NaiveRefs.DefaultMaxK + 1)
    assert(ok.count() == 2)
  }

  test("greedy picks maximize marginal gain with min-id tiebreak") {
    // doc 1 covers {a,b,c}; doc 2 covers {c,d}; doc 3 covers {d,e}.
    // Round 1: doc 1 (gain 3). Round 2: docs 2 and 3 both gain 2 over
    // {a,b,c}? doc 2 adds {d} (1), doc 3 adds {d,e} (2) → doc 3.
    // Round 3: doc 2 adds nothing beyond {a..e}∩{c,d} → gain 0 rows are
    // absent → exhausted, only 2 rounds emitted before a zero-gain pick.
    val p = Seq(1L -> "a", 1L -> "b", 1L -> "c",
      2L -> "c", 2L -> "d", 3L -> "d", 3L -> "e")
    val got = run(p, 5)
    assert(got == Seq((1, 1L, 3L, 3L), (2, 3L, 2L, 5L)))
  }

  test("ties break on the smaller doc id") {
    val p = Seq(7L -> "x", 7L -> "y", 4L -> "p", 4L -> "q")
    val got = run(p, 1)
    assert(got == Seq((1, 4L, 2L, 2L)))
  }

  test("duplicate postings collapse before counting") {
    val p = Seq(1L -> "a", 1L -> "a", 1L -> "b", 2L -> "c")
    val got = run(p, 2)
    assert(got.head == ((1, 1L, 2L, 2L)))
    assert(got(1) == ((2, 2L, 1L, 3L)))
  }

  test("greedyCoverApprox: single bucket degenerates to exact greedy; multi-bucket stays in band") {
    val p = for {
      id <- 1L to 40L
      j <- 0 until 6
    } yield id -> s"k${(id * 7 + j * j) % 53}"
    val exact = run(p, 6)
    // buckets=1: the local round IS strict greedy over the whole corpus,
    // and the merge re-runs greedy over exactly its picks — ids, gains and
    // covered_cum all match (key universes differ only by xxhash64, which
    // is injective on these tiny key sets in practice).
    val one = Coverage.greedyCoverApprox(p.toDF("id", "sh"), "id", "sh", 6,
        buckets = 1)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(one == exact)
    // Multi-bucket: a bucket CAN drop a doc exact greedy would pick later
    // (the GreeDi trade), so require the quality band + greedy invariants,
    // not equality.
    val multi = Coverage.greedyCoverApprox(p.toDF("id", "sh"), "id", "sh", 6,
        buckets = 8)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(multi.map(_._4).max >= (0.9 * exact.map(_._4).max).toLong)
    assert(multi.map(_._3).sum == multi.last._4)
    // Tie and duplicate handling mirror greedyCover's.
    val ties = Seq(7L -> "x", 7L -> "y", 4L -> "p", 4L -> "q")
    val t = Coverage.greedyCoverApprox(ties.toDF("id", "sh"), "id", "sh", 1)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(t == Seq((1, 4L, 2L, 2L)))
  }

  test("greedyCoverExactSmall is row-for-row greedyCover on the q170 fixture") {
    // The q170 small-regime dispatch's exactness claim: the one-job
    // single-task path must reproduce the 2k-driver-job exact greedy
    // EXACTLY (rounds, ids, gains, covered_cum) — not just within the
    // GreeDi band — because the registry switches between them by corpus
    // size and the DuckDB oracle unrolls strict greedy.
    val postings = graft.dedup.Dedup.shinglePostings(
      graft.Tables.documents(spark, SparkTestSession.sf), "doc_id", "text", 3)
    val exact = NaiveRefs.greedyCover(postings, "id", "shh", 5)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val small = Coverage.greedyCoverExactSmall(postings, "id", "shh", 5)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(small == exact)
  }

  test("greedyCoverExactSmall enforces its funnel ceiling on measured postings, not doc count") {
    // VERDICT-r16 hardening: the single-task funnel's ~10^8-postings memory
    // argument must be enforced by the guard itself — a SMALL-doc-count
    // corpus of pathologically long documents (many keys per doc) has to
    // route to the multi-bucket GreeDi path once its measured distinct
    // posting count exceeds the ceiling.
    // Dispatch function first: the ceiling is a postings count.
    assert(Coverage.exactSmallBuckets(100L, 100L, 8) == 1,
      "at the ceiling: exact single-bucket")
    assert(Coverage.exactSmallBuckets(101L, 100L, 8) == 8,
      "just over: parallelism-many GreeDi buckets")
    assert(Coverage.exactSmallBuckets(10000L, 100L, 8) == 100,
      "far over: enough buckets that EXPECTED postings/bucket fit the cap")
    assert(Coverage.exactSmallBuckets(0L, 100L, 0) == 1 &&
      Coverage.exactSmallBuckets(101L, 100L, 0) >= 1,
      "degenerate parallelism never yields zero buckets")
    // End-to-end: 6 docs x 50 distinct keys = 300 postings >> maxPostings=64
    // routes to GreeDi buckets — and because every doc still fits the
    // candidate merge, the routed result must STILL equal strict greedy
    // (correctness is preserved on both sides of the guard; only the
    // funnel's task-memory shape changes).
    val longDocs = for {
      id <- 1L to 6L
      j <- 0 until 50
    } yield id -> s"key_${id}_$j" // disjoint: greedy picks ids ascending
    val df = longDocs.toDF("id", "sh")
    val exact = NaiveRefs.greedyCover(df, "id", "sh", 3)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val routed = Coverage.greedyCoverExactSmall(df, "id", "sh", 3,
        maxPostings = 64L)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(routed == exact)
  }

  test("merge tree: multi-level fan-in bounds every merge point and stays exact/banded") {
    // VERDICT-r17 #3: the flat merge collected buckets·k candidates (full
    // key arrays) to the driver — linear in corpus size at extreme bucket
    // counts. fanIn=2 over 9 leaf buckets forces three merge LEVELS
    // (9 → 5 → 3 → 2 groups) before a ≤ 2·k-candidate driver merge.
    // Disjoint per-doc keys mean no level ever drops a doc as zero-gain
    // and no group overflows k, so the tree must reproduce exact greedy
    // row-for-row (rounds, ids, gains, covered_cum) — every level's
    // greedy passes all picks through unchanged.
    val disjoint = for {
      id <- 1L to 30L
      j <- 0 until (2 + (id % 5)).toInt
    } yield id -> s"key_${id}_$j"
    val exact = run(disjoint, 30)
    assert(exact.length == 30)
    val treed = Coverage.greedyCoverApproxFan(disjoint.toDF("id", "sh"),
        "id", "sh", k = 30, buckets = 9, fanIn = 2)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(treed == exact)
    // Overlapping keys + small k: groups genuinely drop docs, so require
    // the GreeDi band and the greedy invariants (levels compose — the
    // Mirzasoleiman multi-round argument), not equality.
    val p = for {
      id <- 1L to 40L
      j <- 0 until 6
    } yield id -> s"k${(id * 7 + j * j) % 53}"
    val exact6 = run(p, 6)
    val t6 = Coverage.greedyCoverApproxFan(p.toDF("id", "sh"), "id", "sh",
        k = 6, buckets = 9, fanIn = 2)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(t6.map(_._4).max >= (0.9 * exact6.map(_._4).max).toLong,
      s"tree coverage ${t6.map(_._4).max} < 90% of exact ${exact6.map(_._4).max}")
    assert(t6.sliding(2).forall(w => w.size < 2 || w(0)._3 >= w(1)._3),
      "tree gains must be non-increasing (greedy invariant)")
    assert(t6.map(_._3).sum == t6.last._4)
    // fanIn < 2 would never shrink the group count — loud, not an
    // infinite level loop.
    intercept[IllegalArgumentException] {
      Coverage.greedyCoverApproxFan(p.toDF("id", "sh"), "id", "sh", 3, 4, 1)
    }
  }

  test("greedyCoverApprox reaches >=90% of exact coverage on the q170 fixture at k=100") {
    // The q170 registry fixture: 3-shingle postings over the documents
    // table. Exact greedy pays 2 driver jobs per round (the DefaultMaxK
    // rationale); the approx path pays one distributed job + a driver
    // merge, and must land within the GreeDi quality band.
    val postings = graft.dedup.Dedup.shinglePostings(
      graft.Tables.documents(spark, SparkTestSession.sf), "doc_id", "text", 3)
    val k = 100
    val exact = NaiveRefs.greedyCover(postings, "id", "shh", k)
      .as[(Int, Long, Long, Long)].collect()
    val approx = Coverage.greedyCoverApprox(postings, "id", "shh", k)
      .as[(Int, Long, Long, Long)].collect()
    assert(exact.nonEmpty && approx.nonEmpty)
    val exactCov = exact.map(_._4).max.toDouble
    val approxCov = approx.map(_._4).max.toDouble
    assert(approxCov >= 0.9 * exactCov,
      s"approx covered $approxCov < 90% of exact $exactCov")
    // Contract sanity: rounds are 1..n, gains non-increasing, cum = Σ gains.
    assert(approx.map(_._1).toSeq == (1 to approx.length))
    assert(approx.sliding(2).forall(w => w.size < 2 || w(0)._3 >= w(1)._3),
      "approx gains must be non-increasing (greedy invariant)")
    assert(approx.map(_._3).sum == approx.last._4)
  }

  test("matches a driver-side greedy reference on a random-ish fixture") {
    val p = for {
      id <- 1L to 40L
      j <- 0 until 6
    } yield id -> s"k${(id * 7 + j * j) % 53}"
    val got = run(p, 6)
    // sequential reference
    val byDoc = p.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var covered = Set.empty[String]
    val ref = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    for (r <- 1 to 6) {
      val gains = byDoc.view.mapValues(s => (s -- covered).size).toMap
      val best = gains.filter(_._2 > 0)
      if (best.nonEmpty) {
        val (id, g) = best.toSeq.minBy { case (i, gg) => (-gg, i) }
        covered = covered ++ byDoc(id)
        ref += ((ref.size + 1, id, g.toLong, covered.size.toLong))
      }
    }
    assert(got == ref.toSeq)
  }
}
