package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, sf}

/** Cross-cutting plan-shape guarantees the 100 TB design leans on. */
class PlanShapeSpec extends AnyFunSuite {

  test("AQE coalesces over-provisioned shuffle partitions") {
    val df = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type")).count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      "AQE must be active and coalescing small shuffle partitions:\n" + plan.take(600))
  }

  test("retrieval/ranking tier has no global-rank window funnel") {
    // bm25_topk / hybrid_rrf / similarity_hamming rank via the
    // bounded-heap BoundedTopK aggregate (partial top-k per partition
    // before the shuffle). A Window node anywhere in these plans means
    // someone reintroduced the corpus-sized single-task sort the r6
    // verdict flagged — the scored input (posting lists, the full
    // signature scan) is unbounded at 100 TB even when "candidate
    // bounded" at test scale.
    Seq("bm25_topk", "hybrid_rrf", "similarity_hamming").foreach { k =>
      val df = SparkEntry.queries(k)(spark, sf)
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty,
        s"$k must rank through BoundedTopK, not a Window: ${windows.mkString("; ")}")
    }
  }

  test("BM25 scoring is map-only: no corpus explode, window or term/doc shuffle") {
    // bm25ScoredOn tokenizes each document once in a projection and
    // takes df from one global aggregate broadcast back. A Generate over
    // the corpus, a Window, or a shuffle keyed on term means postings
    // went back through a term funnel, where a head term of a Zipf
    // vocabulary lands on one task. The one Generate allowed is the
    // posexplode of a ≤k-element BoundedTopK heap: it reads the single
    // row of a global aggregate.
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    import org.apache.spark.sql.catalyst.plans.logical._
    def overOneRow(p: LogicalPlan): Boolean = p match {
      case Filter(_, c) => overOneRow(c)
      case Project(_, c) => overOneRow(c)
      case a: Aggregate => a.groupingExpressions.isEmpty
      case _ => false
    }
    Seq("bm25_topk", "hybrid_rrf").foreach { k =>
      val plan = SparkEntry.queries(k)(spark, sf).queryExecution.optimizedPlan
      val gens = plan.collect { case g: Generate => g }.filterNot(g =>
        g.generator.isInstanceOf[PosExplode] && overOneRow(g.child))
      assert(gens.isEmpty, s"$k explodes outside the top-k heap: ${gens.mkString("; ")}")
      val windows = plan.collect { case w: Window => w }
      assert(windows.isEmpty, s"$k plans a Window: ${windows.mkString("; ")}")
    }
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("bm25_topk")(spark, sf)
    df.collect()
    val keyed = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.references.exists(a => a.name == "term" || a.name == "doc_id")
        case _ => false
      }) => e
    }
    assert(keyed.isEmpty,
      "bm25_topk shuffles on term or doc_id:\n" + keyed.mkString("\n").take(800))
  }

  test("similarity_hamming candidate scan is a pinned BroadcastNestedLoopJoin") {
    // The =!= candidate join is the DELIBERATE exception to the
    // bucket-join invariant: the binary tier is a brute signature scan
    // with the 5-row query side broadcast. Pin the physical shape so an
    // optimizer change degrading it to CartesianProduct (corpus×corpus
    // shuffle) cannot land silently. (ADVICE r6.)
    val df = SparkEntry.queries("similarity_hamming")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "hamming candidates must come from a broadcast nested-loop scan:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"),
      "hamming scan degraded to CartesianProduct:\n" + plan.take(800))
  }

  test("lm_score_bigram scores through keyed joins, never a cartesian") {
    // the bigram model is vocabulary-sized: the (w1,w2)/(w1) scoring
    // joins must stay keyed equi-joins (hash or sort-merge; AQE may
    // broadcast at test scale) — a CartesianProduct or nested-loop here
    // means a join key was lost and the plan is corpus² at 100 TB
    val df = SparkEntry.queries("lm_score_bigram")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "lm_score_bigram join degraded to a product:\n" + plan.take(800))
  }

  test("SF-scaling TPC-H dims broadcast via size estimation, never a hint") {
    // customer/part/supplier grow linearly with SF (at sf100k customer is
    // ~15 B rows): a hard broadcast() hint on them is a compulsory
    // multi-TB broadcast at the 100 TB design point. The contract is
    // two-sided: (1) no query hints an SF-scaling table — Catalyst's
    // size-based selection must be what picks the strategy; (2) at bench
    // scale that selection still yields BroadcastHashJoin, so removing
    // the hints provably did not change the measured plans. (r10 verdict.)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    Seq("q18_large_orders", "q14_promo_rev", "q16_supplier_count",
        "q5_region_rev", "q9_profit_by_nation", "q2_min_cost_supplier")
      .foreach { k =>
        val df = SparkEntry.queries(k)(spark, sf)
        val badHints = df.queryExecution.analyzed.collect {
          case h: ResolvedHint => h.child.toString
        }.filter(c => c.contains("customer.parquet") ||
          c.contains("part.parquet") || c.contains("supplier.parquet"))
        assert(badHints.isEmpty,
          s"$k hints an SF-scaling table:\n" + badHints.mkString("\n").take(600))
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"$k lost its size-based dim broadcast at bench scale:\n" + plan.take(800))
      }
  }

  test("no keyed query collects to the driver mid-plan") {
    // structural: every registered op returns a DataFrame whose plan is
    // pure Catalyst (a .collect() inside a query function would surface
    // as a LocalRelation of materialized rows at the root)
    SparkEntry.allOps.foreach { op =>
      val plan = op.run(spark, sf).queryExecution.logical.toString
      assert(!plan.startsWith("LocalRelation"),
        s"${op.key} appears to materialize on the driver")
    }
  }
}
