package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

class AnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("IVF index build runs concurrently with an active stream; caller confs never touched") {
    // The r14 design flipped session confs around the bounded index-build
    // collects and so had to REFUSE under an active stream (a stateful
    // stream's first micro-batch planning inside the window would pin
    // shuffle-partitions=1 into its checkpoint forever). The build now
    // plans those collects on a child session, so it must run TO COMPLETION
    // while a stream is active on the caller's session, with the caller's
    // confs bit-identical throughout.
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    val (aqe0, part0) = (spark.conf.get(aqeKey), spark.conf.get(partKey))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    val query = ms.toDF().groupBy(col("value") % 2).count()
      .writeStream.outputMode("complete").format("noop").start()
    try {
      assert(spark.streams.active.nonEmpty)
      val emb = Tables.embeddings(spark, SparkTestSession.sf)
      val q = emb.where(col("vec_id") < 5)
      // Lloyd iterations exercise BOTH child-session collect shapes (seed
      // pick + mean refinement) while the stream is live.
      val out = Ann.ivfTopK(q, emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3, lloydIters = 1)
      assert(out.count() > 0)
      assert(spark.conf.get(aqeKey) == aqe0 && spark.conf.get(partKey) == part0,
        "index build mutated the caller session's confs")
      // The stream still makes progress after (and despite) the build.
      ms.addData(1L, 2L, 3L)
      query.processAllAvailable()
      assert(query.isActive)
      // No leaked cross-session rebind views.
      assert(!spark.catalog.listTables("global_temp").collect()
        .exists(_.name.startsWith("graft_ann_idx_")))
    } finally query.stop()
  }

  test("brute force top-k: rank 1 is the most similar, k respected") {
    val emb = Tables.embeddings(spark, SparkTestSession.sf)
    val out = Ann.bruteForceTopK(emb.where(col("vec_id") < 5), emb, "vec_id", "embedding", 3)
    val grouped = out.groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("mr"))
      .as[(Long, Long, Int)].collect()
    assert(grouped.length == 5)
    assert(grouped.forall(g => g._2 == 3 && g._3 == 3))
    // cosine is non-increasing with rank per query
    val rows = out.orderBy("query_id", "rank")
      .select("query_id", "cosine").as[(Long, Double)].collect().grouped(3)
    rows.foreach { g => assert(g.sliding(2).forall(p => p(0)._2 >= p(1)._2)) }
  }

  test("LSH ANN achieves reasonable recall@10 against brute force") {
    val emb = Tables.embeddings(spark, SparkTestSession.sf)
    val q = emb.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(q, emb, "vec_id", "embedding", 10,
        numPlanes = 6, dim = 64, multiProbe = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 6 planes + radius-1 probing scans ~11% of the corpus in expectation;
    // true near neighbors concentrate in probed buckets → recall well above
    // the scan fraction.
    assert(recall > 0.15, s"recall=$recall")
    // and every approx hit must be a genuine neighbor ranked by true cosine
    assert(approx.nonEmpty)
  }

  test("IVF ANN: recall scales with probed fraction, exact within cells") {
    val emb = Tables.embeddings(spark, SparkTestSession.sf)
    val q = emb.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(q, emb, "vec_id", "embedding", k = 10, nlist = 8, nprobe = 3)
    val got = ivf.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    // probing 3/8 of the cells; neighbors concentrate near the query's cell
    assert(recall > 0.2, s"recall=$recall")
    // ranks well-formed per query
    val mr = ivf.groupBy("query_id").agg(max("rank")).as[(Long, Int)].collect()
    assert(mr.forall(_._2 <= 10))
  }

  test("IVF with Lloyd refinement keeps recall at least competitive") {
    val emb = Tables.embeddings(spark, SparkTestSession.sf)
    val q = emb.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    def recallOf(iters: Int): Double = {
      val got = Ann.ivfTopK(q, emb, "vec_id", "embedding",
          k = 10, nlist = 8, nprobe = 3, lloydIters = iters)
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    val r0 = recallOf(0); val r2 = recallOf(2)
    // Lloyd centers the cells on the data's actual clusters; on this corpus
    // it must not degrade recall materially and stays above the raw floor.
    assert(r2 > 0.2, s"lloyd recall=$r2")
    assert(r2 >= r0 - 0.1, s"lloyd recall regressed: $r2 vs seed $r0")
  }

  test("semantic dedup keeps exactly the min-id representative of each clique") {
    // 30 vectors in 3 orthogonal directions (id % 3), ids dense so the
    // stride-10 centroid pick lands one centroid per direction. Within a
    // cell all vectors are identical (cosine 1), so only the minimum id of
    // each direction survives.
    val rows = (0L until 30L).map { i =>
      val v = Array.fill(4)(0f); v((i % 3).toInt) = 1f; (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val kept = Ann.semanticDedup(df, "vec_id", "embedding", nlist = 3, minCosine = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L))
  }

  test("semantic dedup agrees with clusterAssign + embeddingCosinePairs") {
    // Both paths share Ann.blockedCosinePairs (the single pair contract),
    // so this checks the two independent cell-assignment + prepared-frame
    // plumbings agree — not two pair-rule implementations.
    val emb = Tables.embeddings(spark, SparkTestSession.sf)
    // Guard the comparison's premise: semanticDedup drops zero-norm vectors
    // before the stride pick; with none present, clusterAssign sees the
    // identical corpus and the two cell assignments coincide.
    val zeroNorm = emb.where(aggregate(transform(col("embedding"),
      x => x.cast("double")), lit(0.0d), (a, x) => a + x * x) === 0.0).count()
    assert(zeroNorm == 0, "test premise: corpus has no zero-norm vectors")
    val cells = Ann.clusterAssign(emb, "vec_id", "embedding", nlist = 16)
    val dropped = graft.dedup.Dedup.embeddingCosinePairs(
        emb.join(cells, "vec_id"), "vec_id", "embedding", "cell", minSim = 0.3)
      .select(col("id_b")).as[Long].collect().toSet
    val expected = emb.select("vec_id").as[Long].collect().toSet -- dropped
    val kept = Ann.semanticDedup(emb, "vec_id", "embedding", nlist = 16,
      minCosine = 0.3).select("vec_id").as[Long].collect().toSet
    assert(kept == expected)
  }

  test("hyperplanes are deterministic") {
    val a = Ann.hyperplanes(4, 8).map(_.toSeq).toSeq
    val b = Ann.hyperplanes(4, 8).map(_.toSeq).toSeq
    assert(a == b)
    assert(a.flatten.forall(v => v == 1.0 || v == -1.0))
  }

  test("hard negatives: different label only, maxSim cap honored, top-k by cosine") {
    val emb = Tables.embeddings(spark, SparkTestSession.sf)
    val q = emb.where(col("vec_id") < 5)
    val out = Ann.hardNegatives(q, emb, "vec_id", "embedding", "label",
      k = 4, maxSim = 0.95)
    val labels = emb.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val rows = out.select($"query_id", $"corpus_id", $"corpus_label",
      $"cosine", $"rank").as[(Long, Long, Int, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (qid, cid, clabel, cos, rank) =>
      assert(labels(cid) == clabel)
      assert(clabel != labels(qid), s"query $qid got same-label negative $cid")
      assert(cos <= 0.95 + 1e-9)
      assert(rank >= 1 && rank <= 4)
    }
    // per query: ranks are 1..n with cosine non-increasing
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4
        case _ => true
      })
    }
    // the top negative really is the best different-label candidate under
    // the cap: cross-check one query against a brute-force recompute
    val full = Ann.bruteForceTopK(q.where($"vec_id" === 0), emb,
        "vec_id", "embedding", k = 1000)
      .select($"corpus_id", $"cosine").as[(Long, Double)].collect()
    val want = full.filter { case (cid, cos) =>
      labels(cid) != labels(0L) && cos <= 0.95 }
      .maxBy(r => (r._2, -r._1))
    val got = rows.filter(r => r._1 == 0L && r._5 == 1).head
    assert((got._2, got._4) == want, s"got $got want $want")
  }
}
