package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-quality audit over the FULL query registry — the regressions the
  * DuckDB oracle cannot see. Every query is PLANNED (not run) at sf0.001
  * with AQE and materialization off, so the physical tree is the complete,
  * static, codegen-annotated plan, and five properties are pinned:
  *
  *  1. ZERO CartesianProduct nodes anywhere (main plan or subqueries) — a
  *     cartesian is never the right plan in this engine; every intentional
  *     cross is `crossJoin(broadcast(tinyAgg))`, which plans as
  *     BroadcastNestedLoopJoin.
  *  2. BroadcastNestedLoopJoin COUNTS match a committed golden profile.
  *     Every BNLJ in the registry today is the broadcast-1-row scalar
  *     idiom (corpus totals, quantile cut rows, top-1 frames) — audited
  *     good. The golden pin means a NEW non-equi or accidental cross join
  *     cannot slip in as a harmless-looking BNLJ at test scale and then
  *     explode into a broadcast of a non-tiny side at 100 TB: the count
  *     trips, forcing an explicit audit + regeneration
  *     (GRAFT_REGEN_PLAN_PROFILE=1 sbt "testOnly graft.PlanAuditSpec").
  *  3. At least one WholeStageCodegen span per plan — a registry query
  *     whose entire tree fell out of codegen (e.g. an interpreted-only
  *     expression landing in the hot path) fails loudly instead of
  *     shipping 10× slower.
  *  4. ZERO ScalaUDF expressions: every function the engine adds is a
  *     Catalyst expression (`graft.plans.Expressions`), never a JVM lambda
  *     that boxes each row through Scala converters.
  *  5. The set of queries with an unpartitioned Window (one task sees the
  *     window's whole input) equals a classified list; see
  *     `unpartitionedWindows`.
  *
  * AQE is disabled HERE only so the audit sees deterministic static plans;
  * Bench/Verify keep it on (it never introduces cartesians — it only
  * converts joins toward broadcast).
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private val profilePath = "/plan_profile_sf0.001.txt"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("graft.materialize", "false")
  }
  override def afterAll(): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.unset("graft.materialize")
    super.afterAll()
  }

  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    plan.collectWithSubqueries { case p => p }

  private val plans = scala.collection.concurrent.TrieMap.empty[String, SparkPlan]
  private def plan(name: String): SparkPlan = plans.getOrElseUpdate(name,
    SparkEntry.queries(name)(spark, SparkTestSession.sf).queryExecution.executedPlan)

  /** (cartesian count, bnlj count, has a codegen span, sort-agg count,
    * shuffle-exchange count, ScalaUDF count) for one query. */
  private def profile(name: String): (Int, Int, Boolean, Int, Int, Int) = {
    val all = nodes(plan(name))
    (all.count(_.getClass.getSimpleName.startsWith("CartesianProduct")),
      all.count(_.getClass.getSimpleName.startsWith("BroadcastNestedLoopJoin")),
      all.exists(_.isInstanceOf[WholeStageCodegenExec]),
      all.count(_.getClass.getSimpleName.startsWith("SortAggregate")),
      all.count(_.getClass.getSimpleName.startsWith("ShuffleExchange")),
      all.map(_.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum).sum)
  }

  /** Queries whose aggregates are all HASH-shaped by design — the r12
    * MinPairLong/MaxPairLong rewrite exists precisely because a
    * struct-extremum keeper silently planned SortAggregate here. Pinned so
    * a future "harmless" struct ordering cannot re-introduce the
    * Sort+SortAggregate pair on these hot paths. */
  private val hashAggOnly = Seq("q83_dedup_keep_best",
    "q84_near_dup_keep_best", "q106_incremental_embedding")

  /** Queries that plan a Window with no PARTITION BY, which sends its
    * whole input through one task. Each such node sits over an aggregate
    * or a global top-k whose size is bounded by a key's distinct values
    * or a fixed cut, never over a scan (classified node by node in
    * plans/one_topk/unpartitioned_windows.md). */
  private val unpartitionedWindows = Set("q115_zipf_fit",
    "q153_curriculum_order", "q155_key_skew", "q156_time_to_convert",
    "q175_spearman", "q176_mutual_info", "q185_gini",
    "q187_events_to_convert", "q192_price_band_revenue",
    "q195_apportionment", "q203_decile_divergence")

  /** name -> (bnlj count, shuffle-exchange count). Shuffle counts joined
    * the profile in r16 (previously two hand-maintained literal pins for
    * the r15 q57/q86 exchange diets): a benign planner change now
    * regenerates uniformly after audit instead of failing ad-hoc asserts
    * with no regen path. */
  private lazy val golden: Map[String, (Int, Int)] = {
    val in = getClass.getResourceAsStream(profilePath)
    assert(in != null, s"missing $profilePath test resource — regenerate with " +
      "GRAFT_REGEN_PLAN_PROFILE=1 sbt 'testOnly graft.PlanAuditSpec'")
    scala.io.Source.fromInputStream(in).getLines().filter(_.nonEmpty)
      .map { l =>
        val Array(k, b, s) = l.split(' ')
        k -> ((b.stripPrefix("bnlj=").toInt, s.stripPrefix("shuf=").toInt))
      }
      .toMap
  }

  if (sys.env.contains("GRAFT_REGEN_PLAN_PROFILE")) {
    test("REGENERATE plan profile (GRAFT_REGEN_PLAN_PROFILE set)") {
      val lines = SparkEntry.queries.keys.toSeq.sorted.map { name =>
        val (cart, bnlj, _, _, shuf, _) = profile(name)
        assert(cart == 0, s"$name plans a CartesianProduct — fix before pinning")
        s"$name bnlj=$bnlj shuf=$shuf"
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get("src/test/resources" + profilePath),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      succeed
    }
  } else {
    test("golden profile covers exactly the registry") {
      assert(golden.keySet == SparkEntry.queries.keySet,
        s"stale plan profile: missing=${SparkEntry.queries.keySet -- golden.keySet} " +
          s"dropped=${golden.keySet -- SparkEntry.queries.keySet} — regenerate")
    }

    test("unpartitioned Window nodes: exactly the classified queries") {
      val got = SparkEntry.queries.keySet.filter(name => nodes(plan(name)).exists {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
      assert(got == unpartitionedWindows,
        s"unclassified=${got -- unpartitionedWindows} " +
          s"gone=${unpartitionedWindows -- got} — classify the window's input " +
          "in plans/one_topk/unpartitioned_windows.md, then update this set")
    }

    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      test(s"plan audit: $name") {
        val (cart, bnlj, hasCodegen, sortAggs, shuf, udfs) = profile(name)
        assert(cart == 0, s"$name plans a CartesianProduct")
        assert(udfs == 0, s"$name plans $udfs ScalaUDF expression(s)")
        golden.get(name).foreach { case (wantBnlj, wantShuf) =>
          assert(bnlj == wantBnlj,
            s"$name has $bnlj BroadcastNestedLoopJoin nodes, golden pins " +
              s"$wantBnlj — audit the new join (is the broadcast side " +
              "provably tiny at scale?) then regenerate the profile")
          // Shuffle count guards the exchange DIETS (r15: q57's
          // double-duty spread, 5 shuffles; q86's c1-as-window over c12,
          // 9 shuffles — see TfIdf.scala / LmScore.scala scaladocs for
          // the per-exchange breakdown): a refactor or planner-rule
          // change that re-introduces a corpus-sized exchange fails here
          // instead of as a bench regression two rounds later. An
          // EXPECTED plan change (audited) regenerates the profile.
          assert(shuf == wantShuf,
            s"$name plans $shuf ShuffleExchange nodes, golden pins " +
              s"$wantShuf — audit the exchange delta (did a diet regress, " +
              "or is the new exchange load-bearing at scale?) then " +
              "regenerate with GRAFT_REGEN_PLAN_PROFILE=1")
        }
        assert(hasCodegen, s"$name has NO WholeStageCodegen span anywhere")
        if (hashAggOnly.contains(name))
          assert(sortAggs == 0,
            s"$name plans $sortAggs SortAggregate node(s) — a struct-buffered " +
              "extremum crept back into a keeper/suspects hot path; use " +
              "Expressions.minPairLong/maxPairLong (flat buffers, hash-aggregable)")
      }
    }
  }
}
