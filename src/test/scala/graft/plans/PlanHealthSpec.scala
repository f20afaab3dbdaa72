package graft.plans

import graft.SparkSpec
import graft.SparkEntry
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan-shape regression guard for flagship queries: the properties
  * ExplainAudit checks by eye, asserted so a future edit cannot silently
  * trade a pruned/broadcast/TakeOrdered plan for a worse one. Each check
  * is a stable plan-string marker, not an exact plan match — Spark is free
  * to improve the plan, not to regress the property.
  */
class PlanHealthSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  private def scan(q: String): FileSourceScanExec =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail(s"no parquet scan in $q"))

  test("q_filter_project: predicates pushed to the scan, schema pruned") {
    val s = scan("q_filter_project")
    assert(s.metadata("PushedFilters").contains("GreaterThan(l_quantity"))
    // projection needs 5 columns; the scan must not read all 16
    assert(s.schema.fields.length <= 6,
      s"scan reads ${s.schema.fields.length} columns: ${s.schema.fieldNames.mkString(",")}")
  }

  test("q_keyset_page: cursor pushed to the scan, top-k not a global sort") {
    val s = scan("q_keyset_page")
    assert(s.metadata("PushedFilters").contains("GreaterThan(o_orderkey,500)"),
      s"cursor predicate not pushed: ${s.metadata("PushedFilters")}")
    assert(plan("q_keyset_page").contains("TakeOrderedAndProject"))
  }

  test("q_join_star: dimensions broadcast, no sort-merge join") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "star dims fell back to SMJ")
  }

  test("q_topk_orders: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_ann_pq_served: packed ADC is shuffle-free — no hashpartitioning " +
      "exchange before the top-rerank cut (the round-13 layout's point)") {
    val p = plan("q_ann_pq_served")
    assert(p.contains("bytestou8"), "packed unpack missing from the plan")
    assert(!p.contains("hashpartitioning(vid"),
      "ADC regressed to the row-form groupBy(vid) shuffle")
    assert(p.contains("TakeOrderedAndProject(limit=40"),
      "rerank cut is not a TakeOrdered")
  }

  test("q_hashtag_upsert: the compacted upserted store probes as a pure " +
      "one-bucket pruned scan — tombstones folded, no join, no shuffle") {
    // the probe is a driver read: it opens the files of one bucket of
    // the store and no tombstone file, and the plan left is a local scan
    val (q, opened) = graft.util.LocalScan.opened(
      SparkEntry.queries("q_hashtag_upsert")(spark, sf))
    val p = q.queryExecution.executedPlan.toString
    val dirs = opened.map(f => java.nio.file.Paths.get(f).getParent.getFileName.toString)
    assert(opened.nonEmpty && dirs.distinct.size == 1 && dirs.head.startsWith("__bucket="),
      s"bucket prune missing: $opened")
    assert(!p.contains("Join"), s"post-compact probe should be join-free: $p")
    // the cap, too, runs on the driver: nothing but the local scan is left
    assert(!p.contains("Exchange") && p.contains("LocalTableScan"), p)
  }

  test("q_ann_ivf: centroid assignment has no Window operator") {
    val p = plan("q_ann_ivf")
    assert(!p.contains("Window"), "assignment regressed to a windowed argmax")
  }

  test("q_mixture_sample: corpus running sum is range-partitioned, never per-source-only") {
    val exec = SparkEntry.queries("q_mixture_sample")(spark, sf)
      .queryExecution.executedPlan
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match { case w: WindowExec => Seq(w); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
        case _ => p.children
      }
      here ++ (kids ++ p.subqueries).flatMap(windows)
    }
    val ws = windows(exec)
    assert(ws.nonEmpty, "expected window operators in the quota plan")
    // the corpus-facing cumulative sum must partition by (source, __rng);
    // a window partitioned by source alone may only run over the tiny
    // per-range aggregate (i.e. its subtree must contain an aggregation)
    ws.foreach { w =>
      if (w.partitionSpec.size < 2) {
        val aggBelow = w.collectLeaves().nonEmpty &&
          w.toString.contains("HashAggregate")
        assert(aggBelow,
          s"per-source window over raw rows (no range pre-prune):\n$w")
      }
    }
    assert(ws.exists(_.partitionSpec.size >= 2),
      "no range-partitioned running sum found — quota regressed to a per-source window")
  }

  test("q_window_dedup: rank-limit pushed below the shuffle (WindowGroupLimit)") {
    val p = plan("q_window_dedup")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_tfidf: per-doc top-k pre-filtered map-side (WindowGroupLimit)") {
    val p = plan("q_tfidf")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_reservoir: per-group cap pre-filtered map-side (WindowGroupLimit)") {
    val p = plan("q_reservoir")
    assert(p.contains("WindowGroupLimit"),
      s"reservoir rank filter lost its map-side partial top-k:\n$p")
  }

  test("q_audio_energy: zero shuffles — build, decode and framing ride the scan") {
    val p = plan("q_audio_energy")
    assert(!p.contains("Exchange"), s"audio pipeline grew a shuffle:\n$p")
    assert(p.contains("graft_bytes_u8") || p.contains("bytestou8") ||
      p.toLowerCase.contains("bytestou8"),
      "PCM decode is not the codegen expression")
  }

  test("q_bucketed_join: co-located SMJ + bucket-key agg — ZERO exchanges") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected the pinned SMJ:\n$p")
    // bucketing proves the partitioning on BOTH the join and the
    // orderkey groupBy; the top-k is TakeOrdered — so the whole plan
    // must carry no shuffle at all
    assert(!p.contains("Exchange"),
      s"bucketed join/agg grew a shuffle — layout metadata lost:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k regressed:\n$p")
  }

  test("q_bucket_pruning: point filter reads 1-of-8 bucket files") {
    val p = plan("q_bucket_pruning")
    assert(p.contains("SelectedBucketsCount: 1 out of 8"),
      s"bucket pruning did not engage:\n$p")
  }

  test("q_dpp: fact scan carries a runtime partition-pruning filter") {
    val p = plan("q_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruningExpression on the partitioned fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dimension leg not broadcast:\n$p")
  }

  test("q_regional_revenue: all four dimension legs broadcast; date filter pushed") {
    val p = plan("q_regional_revenue")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 4, s"expected 4 broadcast dimension joins, got $bhj:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date filter not pushed to the orders scan:\n$p")
  }

  test("q_ship_priority: broadcast customer, TakeOrdered top-k, filters pushed") {
    val p = plan("q_ship_priority")
    assert(p.contains("BroadcastHashJoin"), s"customer leg not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k regressed to a sort:\n$p")
    assert(p.contains("GreaterThan(l_shipdate"),
      s"shipdate filter not pushed to the lineitem scan:\n$p")
  }

  test("q_asof_native: custom exec planned, right side reuses the dedup exchange") {
    val p = plan("q_asof_native")
    assert(p.contains("AsofJoin"), s"native asof not planned:\n$p")
    assert(!p.contains("Union"), s"union leaked into the native asof:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected 2 exchanges (left + run-dedup'd right), got $exchanges:\n$p")
  }

  test("q_readability: zero shuffles — three regex counts ride the scan") {
    val p = plan("q_readability")
    assert(!p.contains("Exchange"), s"readability grew a shuffle:\n$p")
    assert(!p.contains("Generate"), "readability grew an explode")
  }

  test("q_quality_gopher: zero shuffles — the gate rides the scan") {
    val p = plan("q_quality_gopher")
    assert(!p.contains("Exchange"), s"quality gate grew a shuffle:\n$p")
    assert(!p.contains("Generate"), "quality gate grew an explode")
  }

  test("q_cdc_chunks: zero shuffles — boundary detection rides the scan") {
    val p = plan("q_cdc_chunks")
    assert(!p.contains("Exchange"), s"CDC chunking grew a shuffle:\n$p")
  }

  test("q_stratified: sampling is a pure filter on the scan") {
    val p = plan("q_stratified")
    assert(!p.contains("Exchange") && !p.contains("Sample"),
      s"stratified sampling should be filter-only:\n$p")
  }

  test("q_cooccur / q_bigram_lm: top-k via TakeOrderedAndProject") {
    assert(plan("q_cooccur").contains("TakeOrderedAndProject"))
    assert(plan("q_bigram_lm").contains("TakeOrderedAndProject"))
  }

  test("q_salted_join: the salted join actually shuffles (no broadcast)") {
    // a broadcast join never shuffles the fact side by key — the salt
    // would be dead overhead; the demo must run the plan it exists for
    val p = plan("q_salted_join")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"salted join fell back to broadcast:\n$p")
  }

  test("q_interval_join: event_type filters pushed to both scans") {
    // scan nodes sit under an AdaptiveSparkPlanExec (collect can't reach
    // them pre-execution) — assert on the rendered plan instead
    val p = plan("q_interval_join")
    assert("EqualTo\\(event_type".r.findAllIn(p).size == 2,
      s"expected both sides pruned in:\n$p")
  }

  test("q_bigram_ppl: the LM table joins broadcast — per-doc side never shuffles for the join") {
    val p = plan("q_bigram_ppl")
    assert(p.contains("BroadcastHashJoin"), s"LM join fell back to shuffle:\n$p")
  }

  test("q_kl_source: one corpus scan — marginals read the cached (group,term) counts") {
    val p = plan("q_kl_source")
    assert(p.contains("InMemoryTableScan"),
      s"marginal rollups re-scan the corpus instead of the cached counts:\n$p")
  }

  test("q_triangles: no cartesian product; closing edge is a semi join") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct"), s"triangle join went cartesian:\n$p")
    assert(p.contains("LeftSemi"), s"closing edge probe is not a semi join:\n$p")
  }

  test("q_anomaly / q_regression: exactly one shuffle — the user_id partitioning") {
    Seq("q_anomaly", "q_regression").foreach { q =>
      val n = "Exchange hashpartitioning".r.findAllIn(plan(q)).size
      assert(n == 1, s"$q has $n hash exchanges, expected 1")
    }
  }

  /** Count shuffle exchanges structurally: recurse through AQE wrappers
    * and cached-relation plans (each distinct cache counted ONCE — a
    * cache consumed twice costs its shuffle once), skip ReusedExchange.
    */
  private def countShuffles(q: String): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val seenCaches = scala.collection.mutable.Set[Long]()
    def walk(p: SparkPlan): Int = {
      val here = p match { case _: ShuffleExchangeExec => 1; case _ => 0 }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case i: InMemoryTableScanExec =>
          val cacheKey = System.identityHashCode(i.relation.cacheBuilder).toLong
          if (seenCaches.add(cacheKey)) Seq(i.relation.cachedPlan) else Nil
        case _ => p.children
      }
      here + (kids ++ p.subqueries).map(walk).sum
    }
    walk(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
  }

  test("experiment/series family: bounded exchanges, no window operators") {
    // the continuation-2 family's design claim: sequential folds run
    // inside collected bounded arrays, never as window operators, and
    // each operator pays a fixed small number of exchanges (user/key
    // groupBys + global scalar aggregates) regardless of input size.
    // cuped/ab_health checkpoint their 2-row arm frame (single-pass
    // rollup), so their user/arm groupBy shuffles are paid inside the
    // checkpoint materialization — this walk pins the post-checkpoint
    // shape (a regression that adds a visible exchange still fails)
    val expected = Map(
      "q_survival" -> 3, "q_cuped" -> 1, "q_did" -> 3,
      "q_ab_health" -> 2, "q_holt" -> 2, "q_holt_backtest" -> 2)
    val bad = expected.keys.toSeq.sorted
      .map(q => q -> countShuffles(q)).filter { case (q, n) => n != expected(q) }
    assert(bad.isEmpty, bad.map { case (q, n) =>
      s"$q has $n shuffle exchanges, expected ${expected(q)}"
    }.mkString("; "))
    val windowed = Seq("q_survival", "q_holt", "q_holt_backtest", "q_cuped",
      "q_did", "q_ab_health").filter { q =>
      SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.exists {
        case _: WindowExec | _: WindowGroupLimitExec => true; case _ => false
      }
    }
    assert(windowed.isEmpty, s"array-fold operators using windows: $windowed")
  }

  test("q_scd2 / q_cdc_apply / q_gapfill: minimal key-partitioned exchanges") {
    // the round-8 time-series family: each chained step (dedup-keep-first,
    // run collapse, last-writer-wins, LOCF) must reuse the user_id
    // partitioning of the first shuffle — an extra exchange means a step
    // repartitioned what was already co-located.
    //  - q_scd2: runs-dedup + SCD2 collapse share ONE user_id exchange
    //  - q_gapfill: resample agg + lead window + run explode share ONE
    //  - q_cdc_apply: TWO — building the snapshot inline (dedup) is its
    //    own exchange; the apply itself is one, as cdcApply documents (a
    //    deployment reads the snapshot pre-bucketed and pays only the one)
    val expected = Map("q_scd2" -> 1, "q_gapfill" -> 1, "q_cdc_apply" -> 2)
    val bad = expected.keys.toSeq.sorted
      .map(q => q -> countShuffles(q)).filter { case (q, n) => n != expected(q) }
    assert(bad.isEmpty, bad.map { case (q, n) =>
      s"$q has $n shuffle exchanges, expected ${expected(q)}"
    }.mkString("; "))
  }

  /** Every WindowExec/WindowGroupLimitExec with an EMPTY partition spec in
    * the plan tree — the "all rows through one partition" shape that
    * serializes 100 TB through a single sort task. Recurses through AQE
    * wrappers, cached-relation plans, and subqueries so nothing hides.
    */
  private def unpartitionedWindows(plan: SparkPlan): Seq[String] = {
    val here = plan match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
      case _ => Nil
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case p => p.children
    }
    here ++ (kids ++ plan.subqueries).flatMap(unpartitionedWindows)
  }

  test("detector canary: an unpartitioned window IS caught") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
      .withColumn("c", sum(col("b")).over(Window.orderBy(col("a"))))
    assert(unpartitionedWindows(df.queryExecution.executedPlan).nonEmpty,
      "detector failed to flag a known-unpartitioned window")
  }

  test("suite-wide: no query plan contains an unpartitioned window (100 TB guard)") {
    // allowlisted: windows whose input is provably bounded to ~k rows
    //  - q_vocab_zipf: global rank/cum_frac over the k-row top-k
    //    (TakeOrdered LIMIT upstream, TextAnalysis.vocabStats:186)
    //  - q_skew_audit: rank over the k-row post-limit heavy-hitter set
    //    (Profile.skewAudit:28 — topk = counts.limit(k) feeds the window)
    //  - q_topk_served: rank over the 5-row post-limit exact-top set the
    //    sketch audit compares against (StatsQueries q_topk_served)
    //  - q_hybrid_rrf: rank over each retriever's top-20 bounded output
    //    (both inputs are TakeOrdered-limited before the window —
    //    Fusion.rrf:37; the corpus-wide work stays inside the retrievers)
    //  - q_ann_filtered_recall (+ the _part store twin): the
    //    label-frequency rank runs over the POST-AGGREGATION label table
    //    (one row per distinct label — a dimension vocabulary, not
    //    corpus rows; the corpus-wide work is the upstream groupBy,
    //    which partitions normally)
    val allow = Set("q_vocab_zipf", "q_skew_audit", "q_topk_served",
      "q_hybrid_rrf", "q_ann_filtered_recall", "q_ann_filtered_recall_part")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filterNot(allow).flatMap { q =>
      val hits = unpartitionedWindows(
        SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      if (hits.isEmpty) None else Some(s"$q: ${hits.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows (single-partition sort at scale):\n${offenders.mkString("\n")}")
  }

  test("served plans never re-derive their store: no corpus scan, no retrain") {
    // the build-once/serve split is a plan property, not a convention:
    //  - served MLT must read only postings/termstats/corpus parquet —
    //    a documents.parquet scan means it re-tokenized the corpus
    //  - served PQ must read codebook+codes — a posexplode in the plan
    //    means the Lloyd training round ran in-query
    val mlt = plan("q_mlt_served")
    assert(!mlt.contains("documents.parquet"),
      s"served MLT re-scanned the corpus:\n$mlt")
    val pq = plan("q_ann_pq_served")
    assert(!pq.contains("posexplode"),
      s"served PQ re-trained the codebook in-plan:\n$pq")
    val ivf = plan("q_ann_ivf_served")
    assert(!ivf.contains("embeddings.parquet"),
      s"served IVF scanned the raw corpus instead of the store:\n$ivf")
  }

  test("q_textrank: iteration joins read the persisted edge table, top-k is TakeOrdered") {
    val p = plan("q_textrank")
    assert(p.contains("InMemoryTableScan"),
      s"per-round joins rebuild the edge table from the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_media_meta: zero shuffles — five wire-format parsers ride the scan") {
    val p = plan("q_media_meta")
    assert(!p.contains("Exchange"), s"media parsing grew a shuffle:\n$p")
  }
}
