package graft

import org.apache.spark.sql.functions._
import graft.analytics.StarAnalytics
import graft.operators.Dedup

/** Plan-shape assertions for the scale claims: the right physical operator
  * must appear (or a wrong one must NOT), independent of data. These are
  * the properties that survive a 100× scale-up. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val noAutoBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
  private val noAqeBroadcast =
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("keep-latest dedup plans a WindowGroupLimit (map-side top-1 per key)") {
    val ev = Tables.events(spark, sf)
    val plan = physical(Dedup.keepLatest(ev, Seq("user_id", "event_type"),
      col("ts"), col("event_id")))
    assert(plan.contains("WindowGroupLimit"))
  }

  test("pricing summary pushes the date filter into the parquet scan") {
    val df = StarAnalytics.pricingSummary(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("lineitem")).get
    assert(scan.contains("PushedFilters") && scan.contains("l_shipdate"))
    // column pruning: the 16-column table is read as a handful of columns
    assert(!scan.contains("l_comment") && !scan.contains("l_partkey"))
  }

  test("star join broadcasts the fixed-size dims, never sort-merges them") {
    val plan = physical(StarAnalytics.regionRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("aggregations keep whole-stage codegen (no interpreted hot path)") {
    val df = StarAnalytics.pricingSummary(spark, sf)
    df.collect() // finalize THIS plan (count() would execute a derived one)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // codegen'd operators carry the * prefix / [codegen id : N] marker
    assert(plan.contains("codegen id"))
    assert(plan.contains("* HashAggregate"))
  }

  test("stratified sample is a pure pushed filter — no shuffle, no exchange") {
    val plan = physical(graft.operators.Sampling.stratifiedSample(
      Tables.events(spark, sf), col("event_type"), col("event_id"),
      Map("purchase" -> 1000), 100))
    assert(!plan.contains("Exchange"), plan.take(400))
    assert(plan.contains("Filter"))
  }

  test("tfidf plans a WindowGroupLimit for the per-doc top-k") {
    val df = graft.ext.TextAnalysis.tfidfTop(Tables.documents(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
    // N rides in as a broadcast single-row aggregate, not a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("kmeans assignment broadcasts centroids; corpus never hash-shuffles") {
    val df = graft.ext.Similarity.kmeansRefine(Tables.embeddings(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
    // the only hashpartitioning exchanges key on the assignment/refine
    // groups, never on the raw corpus scan before assignment
    assert(!plan.contains("Exchange hashpartitioning(embedding"))
    // nearest-centroid pick is the map-side-combining max_by aggregate:
    // the |corpus|×|centroids| fanout partial-collapses INSIDE the scan
    // stage — no rank window ever sorts the fanout
    assert(plan.contains("partial_max_by"), plan.take(600))
    assert(!plan.contains("WindowGroupLimit"), plan.take(600))
  }


  test("similarity top-k never shuffles the corpus side") {
    val plan = physical(
      graft.ext.Similarity.bruteForceTopK(Tables.embeddings(spark, sf)))
    // the only exchanges are the query-set broadcast and the final
    // per-query window partitioning of |Q|·k result candidates — the
    // corpus scan feeds the join without a hash-partition exchange on it
    val corpusThenExchange = "Exchange hashpartitioning(vec_id"
    assert(!plan.contains(corpusThenExchange))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }

  test("assocRules' order total is a row count of the basket memo — " +
    "no distinct over the pair frame survives in the plan") {
    val df = StarAnalytics.assocRules(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the old totalN shape was orderParts.select(ok).distinct():
    // a keys=[l_orderkey] aggregate feeding a count — the orderSets
    // refactor replaced it with count(1) over the memo, so no
    // l_orderkey-keyed aggregate may appear anywhere in this plan
    assert(!plan.contains("HashAggregate(keys=[l_orderkey"), plan.take(800))
    assert(!plan.contains("ObjectHashAggregate(keys=[l_orderkey"),
      plan.take(800))
  }

  test("EXISTS late-shipment check plans a semi join, never a distinct") {
    val plan = physical(StarAnalytics.latePriorityOrders(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(400))
    // each order emitted once by the join itself — no dedup aggregate
    // between the join and the priority rollup
    assert(!plan.contains("HashAggregate(keys=[o_orderkey"))
  }

  test("weighted sample is a pure filter — no keyed shuffle, and the " +
    "predicate stays below the loader's parallelism floor") {
    val docs = Tables.documents(spark, sf)
    val plan = physical(graft.operators.Sampling.weightedSample(docs,
      col("doc_id"), least(lit(1250L) * col("n_chars"), lit(1000000L))))
    // the ONLY exchange allowed is Tables' round-robin scan-parallelism
    // floor (a no-op on any real multi-split corpus); the sample itself
    // must add no keyed repartitioning
    assert(!plan.contains("hashpartitioning") &&
      !plan.contains("rangepartitioning"), plan.take(600))
    // and the sampling predicate must sit ON the scan side of that floor
    // (filter pushdown through the repartition), so the shuffled frame is
    // the already-sampled sliver, not the corpus
    val exchangeAt = plan.indexOf("Exchange")
    val filterAt = plan.indexOf("Filter")
    assert(filterAt > exchangeAt, plan.take(600))
  }

  test("fixed-k-per-stratum sampling prunes with WindowGroupLimit") {
    val plan = physical(graft.operators.Sampling.uniformKPerStratum(
      Tables.events(spark, sf).select("event_id", "event_type"),
      col("event_type"), col("event_id"), 100))
    assert(plan.contains("WindowGroupLimit"), plan.take(400))
  }

  test("top-p selection shuffles once — a single exchange on the group key") {
    val plan = physical(graft.operators.Sampling.topPByMass(
      Tables.documents(spark, sf).select("doc_id", "source", "n_chars"),
      col("source"), col("doc_id"), col("n_chars"), 0.8))
    val exchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(plan).length
    assert(exchanges == 1, s"expected 1 group-key exchange, got $exchanges")
  }

  test("returned-items (Q10) caps driver traffic with TakeOrderedAndProject") {
    val plan = physical(StarAnalytics.returnedItems(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
    // the fixed-size nation dim must broadcast, not shuffle
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("top supplier (Q15) computes the max as a one-row broadcast, " +
    "not a correlated rescan") {
    val df = StarAnalytics.topSupplier(spark, sf)
    val plan = physical(df)
    // exactly one scan of lineitem feeds both the per-supplier aggregate
    // and (via ReusedExchange or a second tiny agg) the scalar max
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("waiting suppliers (Q21) plans semi+anti self-joins, no row blowup") {
    val plan = physical(StarAnalytics.waitingSuppliers(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(600))
    assert(plan.contains("LeftAnti"), plan.take(600))
    // semi/anti emit each probe row at most once — there must be no
    // post-join dedup aggregate on the lineitem identity
    assert(!plan.contains("HashAggregate(keys=[l_orderkey"))
  }

  test("nation volume (Q7) broadcasts the name-filtered nation dim " +
    "before either fact table is touched") {
    val plan = physical(StarAnalytics.nationVolume(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    // the nation-name predicate must not survive as a post-join filter on
    // the fact join output; it is applied inside the broadcast build side
    assert(plan.contains("n_name"))
  }

  test("join strategy hints are honored (SHUFFLE_HASH / MERGE / BROADCAST)") {
    // At 100 TB the planner's size estimates can be stale; hints are the
    // documented escape hatch and must survive to the physical plan.
    val li = Tables.lineitem(spark, sf).select("l_orderkey")
    val o = Tables.orders(spark, sf).select("o_orderkey")
    def planWith(hint: String): String = physical(
      li.join(o.hint(hint), col("l_orderkey") === col("o_orderkey")))
    assert(planWith("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planWith("merge").contains("SortMergeJoin"))
    assert(planWith("broadcast").contains("BroadcastHashJoin"))
  }

  test("star join degrades to shuffle joins when auto-broadcast is off, " +
    "with identical results") {
    // The 100 TB failure mode: size estimates go stale and nothing
    // auto-broadcasts. The explicitly-broadcast fixed dims must still
    // broadcast; the scaling joins must fall back to shuffle strategies;
    // and the ANSWER must not change with the strategy.
    val expected = StarAnalytics.regionRevenue(spark, sf).collect()
    GraftSession.withConf(spark, noAutoBroadcast) {
      val df = StarAnalytics.regionRevenue(spark, sf)
      val plan = physical(df)
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(600))
      assert(plan.contains("BroadcastHashJoin")) // forced dims unaffected
      assert(df.collect().toSeq == expected.toSeq)
    }
  }

  test("pagerank rank join carries no forced broadcast — degrades to a " +
    "shuffle join when the rank frame outgrows the broadcast threshold") {
    // The 100× hazard: a hard broadcast(ranks) hint OOMs executors once the
    // node frame outgrows memory. With every broadcast threshold disabled, a
    // hint would STILL plan a BroadcastExchange; hint-free code must fall
    // back to shuffle strategies.
    GraftSession.withConf(spark, noAutoBroadcast, noAqeBroadcast) {
      val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (2L, 3L, 2.0),
        (3L, 2L, 2.0)).toDF("src", "dst", "w")
      val nodes = edges.select(col("src").as("id")).distinct()
      val ranks = nodes.withColumn("rank", lit(1.0 / 3))
      val step = graft.analytics.GraphAnalytics
        .rankStep(edges.withColumn("frac", col("w")), nodes, 3L, ranks, 0.85)
      val plan = step.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan.take(600))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(600))
    }
  }

  test("important-parts supplier join carries no forced broadcast — " +
    "degrades to a shuffle join when thresholds are disabled") {
    // Same 100× hazard class as the pagerank rank frame: the supplier
    // subset scales with the catalog. Only the fixed nation dim and the
    // one-row total may keep hard hints.
    GraftSession.withConf(spark, noAutoBroadcast, noAqeBroadcast) {
      val plan = physical(StarAnalytics.importantParts(spark, sf))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(600))
    }
  }

  test("z-order layout key stays inside whole-stage codegen") {
    val df = graft.operators.ZOrder.layoutStats(
      Tables.lineitem(spark, sf), "l_partkey", "l_suppkey")
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("codegen id"))
    // the interleave projection must not fall back to an interpreted UDF
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"))
  }

  test("power-iteration Gram build combines map-side as primitive longs") {
    val gram = Tables.embeddings(spark, sf)
      .select(expr("cast(embedding as array<double>)").as("e"))
      .select(posexplode(col("e")).as(Seq("i", "xi")), col("e"))
      .select(col("i"), col("xi"), posexplode(col("e")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg(sum(floor(col("xi") * col("xj") * lit(1e12) + lit(0.5))
        .cast("bigint")).as("s"))
    val plan = physical(gram)
    // the n·d² stream must collapse BEFORE the exchange (partial_sum) and
    // accumulate as a long, not a 128-bit decimal
    assert(plan.contains("partial_sum"), plan.take(600))
    assert(!plan.contains("partial_sum(cast(xi"), plan.take(600))
  }

  test("inverted-index posting cap plans a WindowGroupLimit") {
    val plan = physical(graft.ext.TextAnalysis.invertedIndex(
      Tables.documents(spark, sf)))
    assert(plan.contains("WindowGroupLimit"), plan.take(600))
  }

  test("naive Bayes broadcasts the class frame — the corpus side never " +
    "feeds a cartesian product") {
    val plan = physical(graft.ext.TextAnalysis.naiveBayes(
      Tables.documents(spark, sf)))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    // sparse scoring: the doc-vocab frame joins the class-token model by
    // BROADCAST on the term key (the only term-keyed exchange allowed is
    // the vocab-scalar distinct, which never touches the doc frame)
    assert(plan.contains("BroadcastHashJoin [term"), plan.take(800))
  }

  test("Gini ranks run over the per-customer aggregate, partitioned by " +
    "segment — never a global sort of raw orders") {
    val plan = physical(graft.analytics.StatsAnalytics.giniBySegment(
      Tables.orders(spark, sf), Tables.customer(spark, sf)))
    // the per-customer spend partial-aggregates map-side; the rank window
    // sits above it (outer-first print order, so the DEEPEST partial
    // aggregate — the raw-orders one — prints after the window)
    assert(plan.contains("partial_sum"), plan.take(600))
    assert(plan.contains("Window"), plan.take(600))
    assert(plan.indexOf("Window") < plan.lastIndexOf("partial_sum"),
      plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("PSI cells collapse map-side; the midpoint is a broadcast scalar") {
    val plan = physical(graft.analytics.StatsAnalytics.psiDrift(
      Tables.events(spark, sf)))
    assert(plan.contains("partial_sum"), plan.take(600))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("RFM quintile windows sort the per-customer frame, not raw orders") {
    val plan = physical(graft.analytics.StatsAnalytics.rfmSegments(
      Tables.orders(spark, sf)))
    assert(plan.contains("Window"), plan.take(600))
    assert(plan.indexOf("Window") < plan.lastIndexOf("partial_"),
      plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("EWMA unrolled pair join broadcasts the tiny daily frame") {
    val plan = physical(graft.analytics.StatsAnalytics.ewmaDaily(
      Tables.events(spark, sf)))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("KS binning collapses the corpus before the bounded global window") {
    val plan = physical(graft.analytics.StatsAnalytics.ksTest(
      Tables.events(spark, sf)))
    // per-bin counts partial-aggregate map-side; the single-partition
    // window then runs over the bin frame, not the raw rows (plans print
    // outer-first, so the window must appear ABOVE the partial aggregate)
    assert(plan.contains("partial_sum"), plan.take(600))
    assert(plan.contains("Window"), plan.take(600))
    assert(plan.indexOf("Window") < plan.indexOf("partial_sum"),
      plan.take(600))
  }

  test("AUC rank-sum window runs over the distinct-score aggregate, " +
    "never raw documents") {
    val plan = physical(graft.ext.EvalOps.aucReport(
      Tables.documents(spark, sf)))
    // outer-first print: the global window must sit ABOVE the partial
    // aggregate that collapses the corpus to ≤ 10 001 score rows (the
    // FIRST partial_ is the final scalar agg's own map phase — the
    // corpus collapse is the deepest, hence lastIndexOf)
    assert(plan.contains("Window"), plan.take(600))
    assert(plan.contains("partial_"), plan.take(600))
    assert(plan.indexOf("Window") < plan.lastIndexOf("partial_"),
      plan.take(600))
  }

  test("skyline broadcasts the bounded per-size frame back to the scan") {
    val plan = physical(graft.ext.EvalOps.skylineParts(
      Tables.part(spark, sf)))
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"), plan.take(600))
  }

  test("item-CF top-k partial-aggregates map-side (bounded heap, no " +
    "per-item sort); the catalog-scaling freq joins carry no forced " +
    "broadcast") {
    val plan = physical(graft.ext.EvalOps.itemCFUncached(spark, sf))
    assert(plan.contains("partial_top_k_by_score"), plan.take(600))
    assert(plan.contains("ObjectHashAggregate"), plan.take(600))
    // no broadcast HINT on freq: degrading under a disabled auto-broadcast
    // threshold proves nothing is pinned to executor memory
    GraftSession.withConf(spark, noAutoBroadcast) {
      val degraded = physical(graft.ext.EvalOps.itemCFUncached(spark, sf))
      assert(!degraded.contains("BroadcastHashJoin"), degraded.take(600))
    }
  }

  test("isotonic minimax runs over the centile aggregate, never documents") {
    val plan = physical(graft.ext.EvalOps.isotonicCalibration(
      Tables.documents(spark, sf)))
    // same outer-first argument as the AUC pin: every Window sits ABOVE
    // the deepest partial aggregate that collapses the corpus to centiles
    assert(plan.contains("Window"), plan.take(600))
    assert(plan.indexOf("Window") < plan.lastIndexOf("partial_"),
      plan.take(600))
  }

  test("attribution collapses channel counts in one purchase-keyed " +
    "aggregate: no window, just the bounded unpivot explode") {
    val plan = physical(graft.analytics.EventAnalytics.attribution(
      Tables.events(spark, sf)))
    // the fixed channel domain means NO per-purchase window (which would
    // re-shuffle and sort the purchase key space) — the per-purchase
    // total is a conditional sum inside the same aggregate, and the
    // credits unpivot through a bounded Generate
    assert(!plan.contains("Window"), plan.take(1200))
    assert(plan.contains("Generate"), plan.take(1200))
  }

  test("lorenz ntile ranks the per-customer aggregate, not raw orders") {
    val plan = physical(graft.analytics.StatsAnalytics.lorenzDeciles(
      Tables.orders(spark, sf)))
    assert(plan.contains("Window"), plan.take(600))
    assert(plan.indexOf("ntile") > plan.indexOf("Window") ||
      plan.contains("ntile"), plan.take(600))
    // the customer collapse happens below the global window
    assert(plan.indexOf("Window") < plan.lastIndexOf("partial_"),
      plan.take(600))
  }
}
