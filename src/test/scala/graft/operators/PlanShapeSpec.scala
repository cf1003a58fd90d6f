package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, SparkEntry}

/** Plan-shape regressions: the scale properties the queries claim
  * (filter pushdown into the parquet scan, broadcast joins for dims,
  * no cartesian products where an equi-join is intended) must survive
  * refactors — a correct-but-badly-planned query is a regression even
  * when its rows still match.
  */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  /** Executed plans of the per-round lineage cuts a query runs while it
    * is built. The iterative graph operators materialize each round
    * with an eager `localCheckpoint`, so the returned frame's plan
    * starts at a `Scan ExistingRDD` and never shows the round joins;
    * the rounds run as their own actions, which a
    * [[QueryExecutionListener]] observes. A round is a `localCheckpoint`
    * whose plan holds a join — the 1-row seed/source cuts have none.
    */
  private def roundPlans(name: String): Seq[String] =
    cutPlans(SparkEntry.queries(name)(spark, dir))

  /** [[roundPlans]] of an arbitrary build step, such as an index build
    * that a query's memoized read runs only once per session.
    */
  private def cutPlans(build: => Any): Seq[String] = {
    val cuts = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") cuts.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // drain first: earlier tests' queued actions must not reach this listener
    ListenerFlush.flush(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      build
      ListenerFlush.flush(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    cuts.asScala.toSeq.filter(_.contains("Join"))
  }

  test("selective filters reach the parquet scan (PushedFilters)") {
    val p = planOf("filter_agg_revenue")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("GreaterThanOrEqual(l_discount"))
  }

  test("column pruning: Q1 scan reads only the needed lineitem columns") {
    val p = planOf("agg_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey"), s"unpruned scan: $readSchema")
  }

  test("dimension joins broadcast; no cartesian product sneaks in") {
    assert(planOf("join_broadcast_dim").contains("BroadcastHashJoin"))
    val q3 = planOf("join_shipping_priority")
    assert(q3.contains("BroadcastHashJoin"))
    assert(!q3.contains("CartesianProduct"))
  }

  test("range join runs as an equi-join on (user, bucket), not a nested loop") {
    val p = planOf("range_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("copurchase pairs: equi-self-join + TakeOrdered, canonical a < b, counts non-increasing") {
    val p = planOf("copurchase_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-20 should avoid a global sort")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    val out = Relational.copurchasePairs(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, _) => a < b })
    assert(out.map(_._3).toSeq == out.map(_._3).sortBy(-_).toSeq)
  }

  test("interval join is a (user, cell) equi-join with exactly-once pair matches") {
    val p = planOf("interval_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the first-overlap-cell condition makes each pair match in ONE
    // grid cell — no duplicate rows exist that a DISTINCT would hide
    val out = Temporal.intervalJoin(spark, "/root/testdata/sf0.001")
      .select("user_id", "view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.nonEmpty && out.distinct.size == out.size, "duplicate pair matches")
  }

  test("knn join co-partitions on cell as a shuffle-hash join, never a broadcast") {
    val p = planOf("sim_knn_join")
    // the whole point of the operator: a query set too big to
    // broadcast meets the corpus in a cell-partitioned shuffle join
    assert(p.contains("ShuffledHashJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(planOf("sort_limit_global").contains("TakeOrderedAndProject"))
  }

  test("graph similarity queries: equi-joins over the edge index, never a cartesian") {
    // ppr's rank joins run in its per-round cuts, not its final plan
    val pprRounds = roundPlans("graph_ppr")
    assert(pprRounds.size == Graph.PrIters, s"expected ${Graph.PrIters} ppr rounds, saw ${pprRounds.size}")
    val plans = Seq("graph_jaccard", "graph_ppr", "graph_link_predict").map(n => n -> planOf(n)) ++
      pprRounds.map("graph_ppr round" -> _)
    for ((name, p) <- plans) {
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name plan grew a product:\n${p.linesIterator.take(25).mkString("\n")}")
    }
    // top-20 consumers avoid a global sort
    assert(planOf("graph_jaccard").contains("TakeOrderedAndProject"))
  }

  test("dp release: one corpus hash-agg, no join, no window — noise is grouped-frame arithmetic") {
    val p = planOf("privacy_dp_counts")
    assert(!p.contains("Join"), s"dp release grew a join:\n$p")
    assert(!p.contains("- Window ["))
    // exactly one aggregation pair (partial + final) over the corpus
    assert("HashAggregate".r.findAllIn(p).size <= 4, p)
  }

  test("full outer join: pre-aggregated side, no nested loop") {
    val p = planOf("join_full_outer")
    assert(p.contains("FullOuter") || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("range search: no window operator, no cartesian — join, score, filter only") {
    val p = planOf("sim_range_search")
    // a radius query has no rank, so the plan must not pay a per-query
    // sort: score → threshold filter, nothing else
    assert(!p.contains("- Window ["), s"range search regressed to a window plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // both threshold compares survive in the physical plan (the fast
    // double band and the exact rounded compare)
    assert(p.contains("Filter"))
  }

  test("hash sampling stays scan-local: no shuffle below the sample filter/limit") {
    // uniform k-sample: per-partition top-k, never a global sort
    assert(planOf("sample_topk_hash").contains("TakeOrderedAndProject"))
    // Bernoulli-by-hash sampling: the keep decision must sit DIRECTLY
    // on the scan in the optimized plan (splitting and sampling at
    // 100 TB must be embarrassingly parallel) — checked structurally,
    // not by text position, so the top-level orderBy exchange can't
    // mask a regression
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode}
    val lp = SparkEntry.queries("stratified_sample")(spark, dir)
      .queryExecution.optimizedPlan
    val scanLocalFilter = lp.collect {
      case f @ Filter(cond, _: LeafNode) if cond.sql.contains("pmod") => f
    }
    assert(scanLocalFilter.nonEmpty, s"sampling filter not directly over the scan:\n$lp")
  }

  test("decontamination joins the benchmark side as a broadcast") {
    // the eval-suite n-gram set is tiny by construction; the corpus
    // side must never shuffle for this join
    assert(planOf("decontam_overlap").contains("BroadcastHashJoin"))
  }

  test("repetition metrics scan the corpus exactly once") {
    // per-doc scalars ride along the n-gram stream — a second stats
    // branch would re-scan (and re-split) the whole corpus
    // string count, not collect: AQE's AdaptiveSparkPlanExec hides its
    // subtree from collect() until execution
    val pe = SparkEntry.queries("text_repetition")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(pe).size
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$pe")
  }

  test("quality sweep reduces the corpus in ONE scan (totals from the sweep, not a re-scan)") {
    val pe = SparkEntry.queries("quality_sweep")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(pe).size
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$pe")
  }

  test("mixture apply broadcasts the threshold table; keep decision is scan-local") {
    val pe = SparkEntry.queries("mix_apply")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(pe.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$pe")
  }

  test("event funnel shuffles the event table on user_id exactly once (no per-stage self-joins)") {
    val pe = SparkEntry.queries("event_funnel")(spark, dir)
      .queryExecution.executedPlan.toString
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(pe).size
    assert(userExchanges == 1, s"expected 1 user_id shuffle, got $userExchanges:\n$pe")
    val scans = "FileScan parquet".r.findAllIn(pe).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$pe")
  }

  test("compaction planner packs within partition groups (partitioned window, no global funnel)") {
    val pe = SparkEntry.queries("table_compaction_plan")(spark, dir)
      .queryExecution.executedPlan.toString
    val windows = pe.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, s"no window in plan:\n$pe")
    assert(windows.forall(_.contains("pbucket")),
      s"every planner window must partition by pbucket:\n${windows.mkString("\n")}")
  }

  test("pii redaction is a row-local projection (no shuffle before the sort)") {
    // string count, not collect: AQE hides the subtree from collect()
    val pe = SparkEntry.queries("pii_redact")(spark, dir)
      .queryExecution.executedPlan.toString
    // exactly the one exchange the final total-order ORDER BY needs
    val exchanges = "\\bExchange ".r.findAllIn(pe).size
    assert(exchanges == 1, s"redaction path shuffles:\n$pe")
  }

  test("chunking is scan-local: only the gate's ORDER BY exchanges") {
    val pe = SparkEntry.queries("text_chunking")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "\\bExchange ".r.findAllIn(pe).size
    assert(exchanges == 1, s"chunk derivation shuffles:\n$pe")
    assert(!pe.contains("CartesianProduct"))
  }

  test("shard layout broadcasts its 1-row total; one corpus aggregation shuffle") {
    val pe = SparkEntry.queries("corpus_shards")(spark, dir)
      .queryExecution.executedPlan.toString
    // the corpus-total crossJoin must be a broadcast of the 1-row
    // side, never a shuffled join of the full corpus
    assert(pe.contains("BroadcastNestedLoopJoin") || pe.contains("BroadcastExchange"),
      s"total not broadcast:\n$pe")
    val corpusScans = "FileScan parquet".r.findAllIn(pe).size
    assert(corpusScans == 2, s"expected 2 scans (docs + total), got $corpusScans")
  }

  test("scene detection runs the window + both aggregations on ONE doc_id exchange") {
    val pe = SparkEntry.queries("multimodal_scenes")(spark, dir)
      .queryExecution.executedPlan.toString
    // hashpartitioning(doc_id) satisfies the (doc_id, scene_id) and
    // (doc_id) clustered distributions downstream — a second exchange
    // would mean the chain broke
    val docExchanges = "hashpartitioning\\(doc_id".r.findAllIn(pe).size
    assert(docExchanges == 1, s"expected 1 doc_id shuffle, got $docExchanges:\n$pe")
  }

  test("attribution shuffles events on user_id exactly once (single window operator)") {
    val pe = SparkEntry.queries("event_attribution")(spark, dir)
      .queryExecution.executedPlan.toString
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(pe).size
    assert(userExchanges == 1, s"expected 1 user_id shuffle, got $userExchanges:\n$pe")
    // both ignore-nulls window columns ride ONE Window operator
    val windows = "- Window \\[".r.findAllIn(pe).size
    assert(windows == 1, s"expected 1 window operator, got $windows:\n$pe")
  }

  test("curation manifest read scans only state tables, never corpus text") {
    // the flagship claim: after ingest, a manifest read is a
    // state-table scan + tiny pair CC — if documents.parquet appears
    // in the plan, the lifecycle regressed to a per-query recompute
    CurationState.ensureBuilt(spark, dir) // build once (memoized)
    val p = planOf("corpus_incremental")
    assert(!p.contains("documents.parquet"),
      "manifest read re-scans corpus text:\n" + p.linesIterator.take(40).mkString("\n"))
    assert(!p.contains("embeddings.parquet"),
      "manifest read re-scans embeddings")
  }

  test("substring flag read is a posting-metadata join, no corpus n-gram scan") {
    WgramIndex.ensureBuilt(spark, dir)
    val lp = Dedup.substringFlagged(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!lp.contains("documents.parquet"),
      "flag read re-n-grams the corpus")
  }

  test("corpus order: distributed numbering leaves no single-partition exchange in the plan") {
    val p = planOf("corpus_order")
    // the range sort and the kept-corpus pipeline run in earlier eager
    // lineage cuts; the final plan starts after them
    val cuts = roundPlans("corpus_order")
    assert(cuts.nonEmpty, "corpus_order ran no lineage cut with a join")
    for (r <- p +: cuts) {
      assert(!r.contains("SinglePartition"), s"single-task funnel in corpus_order:\n$r")
      assert(!r.contains("CartesianProduct"), r)
    }
  }

  test("fused IVF-PQ: ADC lookup broadcasts; no cartesian product") {
    val p = planOf("sim_topk_ivfpq")
    assert(p.contains("BroadcastHashJoin"), s"ADC lookup join not broadcast:\n$p")
    // the query reads the persisted PQ index, built once per session
    // by Lloyd rounds that are each an eager lineage cut: read those
    val cuts = cutPlans(Similarity.pqTrain(spark, dir))
    assert(cuts.size == Similarity.PqIters - 1,
      s"expected ${Similarity.PqIters - 1} PQ training rounds, saw ${cuts.size}")
    for (r <- p +: cuts) assert(!r.contains("CartesianProduct"), r)
  }

  test("edit-distance dedup joins through the shingle index, never a cross join") {
    val p = planOf("dedup_edit_distance")
    assert(!p.contains("CartesianProduct"))
  }

  test("event paths: both leads on ONE user_id window; top-20 via TakeOrdered") {
    val pe = SparkEntry.queries("event_paths")(spark, dir)
      .queryExecution.executedPlan.toString
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(pe).size
    assert(userExchanges == 1, s"expected 1 user_id shuffle, got $userExchanges:\n$pe")
    val windows = "- Window \\[".r.findAllIn(pe).size
    assert(windows == 1, s"expected 1 window operator, got $windows:\n$pe")
    assert(pe.contains("TakeOrderedAndProject"), "top-20 should avoid a global sort")
  }

  test("rollup serving never scans the fact table: the monthly plan reads only the rollup") {
    val p = planOf("rollup_serving")
    assert(!p.contains("lineitem.parquet"),
      s"serving plan regressed to a fact-table scan:\n$p")
  }

  test("gap fill: grid explode rides a broadcast bound; no cartesian on the event stream") {
    val p = planOf("timeseries_gapfill")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop is the 1-row bounds broadcast into the grid
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("sessionization: lag + running sum + both aggs on ONE user_id exchange") {
    val pe = SparkEntry.queries("event_sessions")(spark, dir)
      .queryExecution.executedPlan.toString
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(pe).size
    assert(userExchanges == 1, s"expected 1 user_id shuffle, got $userExchanges:\n$pe")
  }

  test("OHLC resample: one hash aggregate with a partial (map-side) phase, no window") {
    val pe = SparkEntry.queries("timeseries_resample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!pe.contains("- Window ["), s"resample regressed to a window plan:\n$pe")
    assert("partial_min_by|partial_minby".r.findFirstIn(pe.toLowerCase).isDefined ||
      pe.contains("HashAggregate"), s"no partial aggregation:\n$pe")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(pe).size
    assert(exchanges == 1, s"expected 1 bar-keyed shuffle, got $exchanges:\n$pe")
  }

  test("count-min sketch: cell matrix broadcasts to the probe join, no cartesian") {
    val p = planOf("text_freq_cms")
    assert(p.contains("BroadcastHashJoin"), s"cms matrix should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("incrementally maintained MV serves the fact aggregate: no fact scan in the plan") {
    val p = SparkEntry.queries("table_mv_incremental")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("o_totalprice"), s"fact scan survived the rewrite:\n$p")
    assert(p.contains("sum_cents"), s"MV relation absent:\n$p")
  }

  test("NOT IN plans as a null-aware anti join, not a per-row subquery") {
    val pe = SparkEntry.queries("join_not_in")(spark, dir)
      .queryExecution.executedPlan.toString
    // the trailing boolean on BroadcastHashJoin's LeftAnti toString is
    // the isNullAwareAntiJoin flag — both NOT IN subqueries carry it
    val naaj = "LeftAnti, BuildRight, true".r.findAllIn(pe).size
    assert(naaj >= 2, s"NOT IN did not plan null-aware ($naaj):\n$pe")
  }

  test("label propagation: equi-joins only, top-20 as TakeOrdered") {
    val p = planOf("graph_communities")
    // the label-vector joins run in the per-round cuts
    val rounds = roundPlans("graph_communities")
    assert(rounds.size == Graph.CommRounds, s"expected ${Graph.CommRounds} rounds, saw ${rounds.size}")
    for (r <- p +: rounds)
      assert(!r.contains("BroadcastNestedLoopJoin") && !r.contains("CartesianProduct"), r)
    assert(p.contains("TakeOrderedAndProject"), "top-20 should avoid a global sort")
  }

  test("winnowing: fingerprint pair join is an equi-join, top-25 as TakeOrdered") {
    val p = planOf("dedup_winnowing")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("keyphrases: word stats broadcast to the phrase-word stream, no cartesian") {
    val p = planOf("text_keyphrases")
    assert(p.contains("BroadcastHashJoin"), s"stats should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("A/B readout: two hash-aggs, no window, no join") {
    val p = planOf("event_abtest")
    assert(!p.contains("Window"), "per-user reduction must be an agg, not a window")
    assert(!p.contains("Join"), "arm assignment must be scan-local, never a join")
  }

  test("scene dedup: signature group-by, no candidate pair join exists") {
    val p = planOf("multimodal_scene_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("link prediction: wedge equi-join + anti join, top-20 as TakeOrdered") {
    val p = planOf("graph_link_predict")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("Benford screen: one scan, digit ladder scan-local, no join") {
    val p = planOf("profile_benford")
    assert(!p.contains("Join"), "the digit ladder and ppm math must be scan-local")
  }

  test("forecast backtest: aggs + report-sized grid, no window, no cartesian blowup") {
    val p = planOf("timeseries_forecast")
    assert(!p.contains("Window"), "train profile must be an agg, not a window")
    assert(!p.contains("CartesianProduct"))
  }

  test("iterative graph: the edge list NEVER exchanges across rounds (bucket-pinned)") {
    // the r14 gap: per-round joins re-shuffled the |E| edge list (72-98
    // MB/query at sf0.1). The bucketed edge serving must keep every
    // round's edge side exchange-free — the only hash exchanges left
    // are the |V|-scale rank/label/message vectors (p/v), never u.
    // Each round is its own eager lineage cut, so the rounds are read
    // from the executed per-round plans (the one-line-per-operator
    // format this regex matches); the round count keeps a guard that
    // sees no rounds from passing.
    val iterative = Seq("graph_pagerank" -> Graph.PrIters, "graph_ppr" -> Graph.PrIters,
      "graph_bfs" -> Graph.BfsHops, "graph_communities" -> Graph.CommRounds)
    for ((q, expected) <- iterative) {
      val rounds = roundPlans(q)
      assert(rounds.size == expected, s"$q: expected $expected round plans, saw ${rounds.size}")
      for (p <- rounds) {
        val edgeExchanges = "Exchange hashpartitioning\\(u#".r.findAllIn(p).size
        assert(edgeExchanges == 0,
          s"$q re-exchanges the edge list $edgeExchanges time(s):\n$p")
      }
    }
  }

  test("BFS hops probe the bucketed edge scan directly") {
    // each hop is its own eager lineage cut: the returned frame's plan
    // starts at the last cut, so every hop's executed plan is checked
    val hops = roundPlans("graph_bfs")
    assert(hops.size == Graph.BfsHops, s"expected ${Graph.BfsHops} hop plans, saw ${hops.size}")
    for (p <- hops)
      assert(p.contains("SelectedBucketsCount"), s"bfs must scan the bucketed edge table:\n$p")
  }
}
