package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

/** Plan-level scale assertions: the physical plans that make or break a
  * 100 TB run — bucketed co-located joins (no shuffle), broadcast of small
  * dimensions, partition pruning on a cell-partitioned corpus. These test
  * PLANS, not rows: the property that holds at sf0.001 holds at any scale
  * because it's a structural fact about the query, not the data. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bucketed tables join with no shuffle exchange") {
    val orders = Tables.load(spark, SparkTestSession.sf, "orders")
    val customer = Tables.load(spark, SparkTestSession.sf, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // A fresh JVM's in-memory catalog doesn't own last run's warehouse
    // files; clear the locations or the CREATE refuses.
    Seq("b_orders", "b_customer").foreach { tbl =>
      val dir = new java.io.File(s"spark-warehouse/$tbl")
      if (dir.exists()) {
        Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
    }
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .format("parquet").saveAsTable("b_orders")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .format("parquet").saveAsTable("b_customer")
    // Force the sort-merge path (a broadcast would hide the bucketing).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders").join(spark.table("b_customer"),
        $"o_custkey" === $"c_custkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(j.count() == orders.count()) // every order has its customer
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val lineitem = Tables.load(spark, SparkTestSession.sf, "lineitem")
    val part = Tables.load(spark, SparkTestSession.sf, "part")
    val j = lineitem.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy($"p_type").agg(sum($"l_quantity").as("qty"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("cell-partitioned corpus write prunes to probed cells on read") {
    val emb = Tables.load(spark, SparkTestSession.sf, "embeddings")
    val assigned = similarity.Ann.clusterAssign(emb, "vec_id", "embedding", 8)
    val out = Files.createTempDirectory("cellpart").toString + "/corpus"
    emb.join(assigned, "vec_id").write.partitionBy("cell").parquet(out)
    val pruned = spark.read.parquet(out).where($"cell" === 3)
    val planned = pruned.queryExecution.executedPlan.toString
    // Partition pruning: the scan carries the cell predicate as a partition
    // filter, so only 1/8 of the files are touched at any scale.
    assert(planned.contains("PartitionFilters: [isnotnull(cell"), planned)
    assert(pruned.count() ==
      assigned.where($"cell" === 3).count())
  }

  test("tfidf: constant term scores zero, rare term dominates, top-k capped") {
    val docs = Seq(
      (0L, "alpha beta beta"),
      (1L, "alpha beta gamma"),
      (2L, "alpha delta delta delta")).toDF("doc_id", "text")
    val got = functions.TfIdf.topTerms(docs, "doc_id", "text", 2)
      .orderBy($"doc_id", $"rnk")
      .as[(Long, String, Double, Int)].collect()
    // 'alpha' is in every doc → idf 0 → never in top terms unless nothing
    // else exists; rare terms (df=1) rank first.
    assert(got.filter(_._1 == 2L).head._2 == "delta")
    assert(got.count(_._1 == 0L) == 2)
    val d0 = got.filter(_._1 == 0L).map(_._2).toSeq
    assert(d0.head == "beta" && d0.contains("alpha")) // alpha only as filler
    val betaScore = got.filter(r => r._1 == 0L && r._2 == "beta").head._3
    assert(betaScore == math.rint(2 * math.log(3.0 / 2) * 1e6) / 1e6)
  }

  test("pii redaction finds and masks emails and phones") {
    val docs = Seq(
      (0L, "mail me at a.b+c@example.org or call +1-800-555-0199 now"),
      (1L, "no pii here 1234 plus + signs - dashes")).toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        functions.TextOps.emailCount($"text").as("e"),
        functions.TextOps.phoneCount($"text").as("p"),
        functions.TextOps.redactPii($"text").as("r"))
      .orderBy($"doc_id").as[(Long, Int, Int, String)].collect()
    assert(got(0) == ((0L, 1, 1, "mail me at [EMAIL] or call [PHONE] now")))
    assert(got(1) == ((1L, 0, 0, "no pii here 1234 plus + signs - dashes")))
  }

  test("AQE splits a skewed join partition at runtime") {
    // 90% of the left side shares one key: a static plan sorts the hot
    // partition on one reducer; AQE's skew-join splits it into subtasks.
    val left = spark.range(200000)
      .withColumn("k", when($"id" % 10 =!= 0, 0L).otherwise($"id"))
      .withColumn("payload", md5($"id".cast("string")))
    val right = spark.range(1000).withColumn("k", $"id")
      .withColumn("dim", md5(($"id" * 7).cast("string")))
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = left.join(right.hint("merge"), Seq("k"))
      // Execute THIS DataFrame's own QueryExecution (count() would build a
      // separate one and leave this plan un-finalized).
      j.queryExecution.toRdd.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected runtime skew split:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hot-key per-group top-k: one partial limit under one exchange, equals a reference") {
    // 90 % of the rows share one key, over 4 input partitions: the partial
    // WindowGroupLimit keeps ≤ k rows per group per map task, so the hot
    // group crosses the exchange as ≤ 4·k rows, not 9000.
    val fx = spark.range(0, 10000, 1, 4).select(
      when($"id" < 9000, lit("hot")).otherwise(concat(lit("cold"), $"id" % 10)).as("k"),
      (xxhash64($"id") % 100000).as("v"), $"id")
    val k = 7
    val top = operators.WindowOps.topKPerGroup(fx, Seq($"k"), Seq($"v".desc, $"id"), k)
      .select($"k", $"v", $"id", $"rank")
    val want = fx.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.flatMap { g =>
        g.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
          .map { case ((kk, v, id), i) => (kk, v, id, i + 1) }
      }.toSet
    assert(want.size == 11 * k)
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = top.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(got == want)
      val plan = top.queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"expected one exchange:\n$plan")
      val partials = exchanges.head.collect {
        case l: WindowGroupLimitExec if l.mode == Partial => l }
      assert(partials.size == 1,
        s"expected one Partial WindowGroupLimit below the exchange:\n$plan")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("building q85 and q104 runs no Spark job") {
    // Building a query is planning only: no profile pass, no eager
    // materialization before the caller's action.
    Tables.load(spark, SparkTestSession.sf, "documents") // memoized handle
    val jobs = JobCounter.jobsDuring(spark) {
      Seq("q85_vocab_topk", "q104_diversified_topk")
        .foreach(q => SparkEntry.queries(q)(spark, SparkTestSession.sf))
    }
    assert(jobs == 0, s"building q85 and q104 ran $jobs Spark job(s)")
  }

  test("thresholded top-k per group matches the plain rank window exactly") {
    val li = Tables.load(spark, SparkTestSession.sf, "lineitem")
    val ord = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val plain = operators.WindowOps.topKPerGroup(li, Seq(col("l_returnflag")), ord, 100)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"rank")
    val thresholded = operators.WindowOps.thresholdedTopKPerGroup(li,
        Seq("l_returnflag"), col("l_extendedprice"),
        Seq(col("l_orderkey"), col("l_linenumber")), 100)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"rank")
    assert(plain.exceptAll(thresholded).isEmpty && thresholded.exceptAll(plain).isEmpty)
  }

  test("thresholded top-k: under-k groups, duplicate values, null values") {
    // group a: 2 rows (< k → NULL threshold, keep all); group b: heavy ties
    // AT the k-th value (ties-superset must re-rank correctly); group c:
    // nulls beyond a full top-k (must never displace non-null values);
    // a null group key: ranked as its own group, as the plain window does.
    val rows =
      Seq((Some("a"), Some(5.0), 1L), (Some("a"), Some(3.0), 2L)) ++
      (1L to 10L).map(i => (Some("b"), Some(7.0), i)) ++
      Seq((Some("b"), Some(9.0), 11L), (Some("b"), Some(1.0), 12L)) ++
      ((1L to 5L).map(i => (Some("c"), Some(i.toDouble), i)) :+
        (Some("c"), None, 6L)) ++
      Seq(4.0, 8.0, 6.0, 2.0).zipWithIndex.map { case (v, i) =>
        (Option.empty[String], Some(v), 13L + i) }
    val df = rows.toDF("g", "v", "id")
    val ord = Seq(col("v").desc, col("id"))
    val plain = operators.WindowOps.topKPerGroup(df, Seq(col("g")), ord, 3)
      .select($"g", $"id", $"rank")
    val thresholded = operators.WindowOps.thresholdedTopKPerGroup(df,
        Seq("g"), col("v"), Seq(col("id")), 3)
      .select($"g", $"id", $"rank")
    assert(plain.where($"g".isNull).count() == 3)
    assert(plain.exceptAll(thresholded).isEmpty && thresholded.exceptAll(plain).isEmpty)
  }

  test("rank-limit windows plan a partial WindowGroupLimit before the shuffle") {
    // Spark 3.5+ rewrites `row_number() <= k` windows into a two-phase
    // WindowGroupLimit: the PARTIAL node keeps only k rows per group per
    // input partition BEFORE the exchange — the shuffle carries ≤ k·parts
    // rows per group instead of the whole group. It still locally SORTS
    // every input partition first, though — which is why the single-value
    // rankings (q14/q18) use thresholdedTopKPerGroup's bounded-heap
    // threshold pass instead. This test pins the rewrite for the plain
    // form so a conf/regression that disables it is loud.
    val li = Tables.load(spark, SparkTestSession.sf, "lineitem")
    val plan = operators.WindowOps.topKPerGroup(li, Seq(col("l_returnflag")),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
        10)
      .queryExecution.executedPlan.toString
    val hits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(hits >= 2,
      s"expected partial+final WindowGroupLimit nodes, found $hits in:\n$plan")
    assert(plan.contains("Partial"),
      s"expected a Partial-mode WindowGroupLimit before the exchange:\n$plan")
  }

  test("argmax join plans aggregates only — no window sort anywhere") {
    // q160's contract: top-1-per-group via max_by(struct) compiles to hash
    // aggregates with map-side partials; a WindowExec in this plan would
    // mean a per-group sort task is back (the shape a hot customer kills).
    val plan = SparkEntry.queries("q160_argmax_join")(spark, SparkTestSession.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"argmax join must not plan a window:\n$plan")
    assert(plan.contains("max_by"), s"expected max_by aggregates:\n$plan")
  }

  test("rolling WAU expands to an equi-keyed aggregate — no range join") {
    // q161's contract: the 7-day sliding distinct is an offset-explode +
    // groupBy, never a BroadcastNestedLoopJoin/range join over the spine.
    val plan = SparkEntry.queries("q161_rolling_wau")(spark, SparkTestSession.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"rolling WAU must not plan a cartesian product:\n$plan")
    // The only nested-loop allowed is the broadcast of the 1-row bounds
    // frame (the sanctioned crossJoin(broadcast(...)) totals pattern).
    assert(!plan.contains("NestedLoop") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"rolling WAU must not plan a non-broadcast nested-loop join:\n$plan")
    assert(plan.contains("Generate"), s"expected the offset explode:\n$plan")
  }

  test("diversified top-k caps each group and matches the naive reference") {
    val li = Tables.load(spark, SparkTestSession.sf, "lineitem")
    val part = Seq(col("l_returnflag"))
    val ord = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val got = operators.WindowOps.diversifiedTopK(li, part, ord,
        perGroup = 20, k = 45)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"group_rank")
      .collect().toSeq
    assert(got.size == 45)
    // No group exceeds its cap, and the within-group rank is honest.
    val byGroup = got.groupBy(_.getString(0))
    assert(byGroup.values.forall(_.size <= 20))
    assert(got.forall(_.getInt(3) <= 20))
    // Equals the naive single-window + global-sort reference.
    val naive = operators.WindowOps.topKPerGroup(li, part, ord, 20)
      .orderBy(ord: _*).limit(45)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber")
      .collect().toSeq
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getInt(2))) ==
      naive.map(r => (r.getString(0), r.getLong(1), r.getInt(2))))
  }

  test("q65 component resolution: O(log n) rounds, jobs proportional to rounds") {
    // The structural fact behind q65's scale behavior: star-edge candidates
    // + large-star/small-star contraction converge in O(log n) ROUNDS (the
    // old min-label shape needed O(diameter)). Rounds are asserted exactly
    // — they are the loop's own counter, stable across Spark versions. The
    // job ceiling is expressed per round (1 materialize action + 2 hot-side
    // broadcasts) plus a fixed allowance for init/label/size derivation,
    // NOT as an absolute count, so AQE staging changes outside the loop
    // can't fail it spuriously.
    var rounds = -1
    val jobs = JobCounter.jobsDuring(spark) {
      val docs = Tables.load(spark, SparkTestSession.sf, "documents")
      val sim = Dedup.simhashHashes(docs, "doc_id", "text")
      val edges = Dedup.simhashVerifiedEdgesFromHashes(sim, maxHamming = 3)
      val (labeled, r) = operators.Graph.connectedComponentsWithRounds(
        docs.select(col("doc_id")), "doc_id", edges, "id_a", "id_b")
      rounds = r
      assert(labeled.count() > 0)
    }
    assert(rounds <= 8, s"expected O(log n) contraction rounds, ran $rounds")
    // Fixed allowance: the AQE-staged edge-derivation init (~10 jobs: hash
    // aggregates, the hot-side broadcasts, the banded self-join) + the
    // label/size derivation on the caller session; then ≤4 jobs per round
    // (1 materialize action + hot-side broadcast jobs). The old min-label
    // shape was ~2 ACTIONS per diameter round — rounds-proportionality
    // with a small constant is the structural claim.
    assert(jobs <= 18 + 4 * rounds,
      s"q65 pipeline ran $jobs jobs for $rounds rounds — per-round job " +
        "amplification (the degraded-scheduler failure mode) crept back in")
  }

  test("clusterAssign: every vector gets exactly one cell in [0, nlist)") {
    val emb = Tables.load(spark, SparkTestSession.sf, "embeddings")
    val a = similarity.Ann.clusterAssign(emb, "vec_id", "embedding", 8)
    assert(a.count() == emb.count())
    assert(a.select("vec_id").distinct().count() == emb.count())
    val cells = a.select("cell").distinct().as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 8))
  }
}
