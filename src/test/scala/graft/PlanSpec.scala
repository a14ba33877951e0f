package graft

import graft.queries.QueryDef

/** Physical-plan regression guards: the scale properties each operator
  * was designed around, asserted against the actual planned query — a
  * broadcast that silently degrades to a sort-merge join or a projection
  * that stops pruning would pass value-equality tests but fail at 100 TB.
  * (Asserted on the pre-AQE sparkPlan; AQE only improves these shapes.) */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.sparkPlan.toString
  }

  test("j1: dimension join is a broadcast hash join, never sort-merge") {
    val p = plan("j1_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("o2 global top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("o2_global_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p7: time-range predicate reaches the parquet scan") {
    val p = plan("p7_time_range")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      p)
  }

  test("p1: projection prunes the scan to the selected columns") {
    val p = plan("p1_projection")
    assert(p.contains(
      "ReadSchema: struct<p_partkey:bigint,p_name:string,p_retailprice:double>"),
      p)
  }

  test("funding_stats: all six horizons share ONE window operator") {
    val p = plan("funding_stats")
    val windowNodes = p.sliding("Window [".length)
      .count(_.startsWith("Window ["))
    assert(windowNodes == 1, s"expected exactly one Window node:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // horizon frames grow from the partition start; a frame opening at
    // CURRENT ROW is the sliding form Spark re-aggregates on every row
    assert(!p.contains("specifiedwindowframe(RowFrame, currentrow$()"), p)
    graft.ops.Stats.referenceHorizons.foreach { h =>
      assert(p.contains("specifiedwindowframe(RowFrame, " +
        s"unboundedpreceding$$(), ${h.sessions - 1}))"), s"${h.name}:\n$p")
    }
  }

  test("e1 brute-force top-k: broadcast query vector + TakeOrdered merge") {
    val p = plan("e1_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("a12 sessionize: lag, numbering and session agg share one partitioning") {
    val df = SparkEntry.queries("a12_sessionize")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // one hash shuffle (user_id) + the final presentation sort — a second
    // hashpartitioning would mean the agg re-shuffled the fact
    val hashEx = p.sliding("hashpartitioning".length)
      .count(_.startsWith("hashpartitioning"))
    assert(hashEx <= 2, s"expected at most 2 hashpartitioning refs:\n$p")
  }

  test("e3 IVF: centroids and probes broadcast; no sort-merge join anywhere") {
    val p = plan("e3_ivf_topk")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("d2 minhash: no cartesian product in candidate generation") {
    // built directly (not through the registry): the registry shares
    // one persisted pair frame across d2/d6/d9/d10/x1/x2, whose
    // InMemoryRelation would make this guard vacuous
    val p = graft.ops.TextDedup.minHashNearDups(
      Tables.documents(spark, dir), k = 16, bands = 4, threshold = 0.4)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j-family join strategies: broadcast where a side is dimension-sized") {
    // j2 semi / j3 anti / j4 left-outer keep the small side broadcast —
    // a silent fallback to sort-merge would shuffle the fact table
    Seq("j2_semi_join", "j3_anti_join", "j4_left_outer").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("j7 full-outer: shuffle join by necessity (no broadcast full-outer)") {
    // full outer cannot broadcast either side; pin the shuffle strategy so
    // an accidental broadcast hint (which Spark would reject or worse,
    // plan as BNLJ) fails here and not in a bench regression
    val p = plan("j7_full_outer")
    assert((p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) &&
      p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t7 tf-idf: corpus size is a broadcast aggregate, not a driver count") {
    val p = plan("t7_tfidf_topterms")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("t9 decontamination: bench shingles broadcast (unhinted AQE shuffle was 5x)") {
    val p = plan("t9_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("e6 PQ: codebooks and lookup table broadcast, no cartesian/sort-merge") {
    val p = plan("e6_pq_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("e7: exact ground-truth sets broadcast into every recall semi-join") {
    // the localized exact sets are k-row relations; a silent fallback to
    // sort-merge would shuffle each shortlist four times
    val p = plan("e7_recall_bound")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("global-window audit: v1's bounded top-100 window is the ONLY unpartitioned window in the whole registry") {
    // an unpartitioned window moves the whole input into ONE partition —
    // the canonical scale cliff. The audit walks every registered
    // query's plan: the single intended instance is v1's cumulative-
    // coverage window, whose input the test below proves is cut to
    // ≤100 rows FIRST. Anything new fails here by name.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: p.children.flatMap(nodes)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        nodes(fn(spark, dir).queryExecution.sparkPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => name
        }
      }.distinct
    assert(offenders == Seq("v1_vocab_coverage"), offenders.toString)
  }

  test("v1: rank cutoff bounds the intentionally-global window to top-100") {
    // the unpartitioned cumulative-coverage window must sit ABOVE a
    // TakeOrderedAndProject, so its single partition holds ≤100 rows —
    // not the whole vocabulary (which is what the naive filter-after-
    // window plan would sort in one partition)
    val p = plan("v1_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Window"), p)
  }

  test("a20 Q3 pipeline: top-10 is TakeOrdered, dim broadcast, filters pushed") {
    // the global top-10 must NOT be a full sort; the filtered customer
    // side must broadcast; both date predicates must reach the scans
    val p = plan("a20_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan") ||
      p.contains("GreaterThan(l_shipdate"), p)
  }

  test("g3/g1: duplicate-ts collapse shares the window's symbol partitioning") {
    // exchanges only exist post-EnsureRequirements → use executedPlan.
    // one hash exchange for the events side (the output orderBy adds a
    // range partitioning) — a groupBy(symbol, ts) pre-agg would add a
    // second hash exchange of the big side
    def executed(name: String): String =
      SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
    val g3 = executed("g3_zscore_anomaly")
    assert("Exchange hashpartitioning".r.findAllIn(g3).length == 1, g3)
    val g1 = executed("g1_gapfill_ffill")
    // obs window + tiny distinct-symbols grid branch
    assert("Exchange hashpartitioning".r.findAllIn(g1).length <= 2, g1)
  }
}
