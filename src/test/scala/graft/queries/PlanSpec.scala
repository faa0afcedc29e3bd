package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Base64, ExpressionImplUtils, StringTranslate, UnBase64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.SparkSpec
import graft.SparkEntry
import graft.operators.Intermediates

/** Physical-plan assertions for the scale-critical properties: predicate
  * pushdown to parquet, column pruning, broadcast join selection, and
  * sort elimination under aggregation. These are the properties that
  * keep the 100 TB plans sane — regressions here don't fail correctness
  * gates, so they get their own spec.
  */
class PlanSpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case s: FileSourceScanExec => s }

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf001)

  test("rel_q1_pricing: shipdate filter pushes to the parquet scan") {
    val scan = scans(executed(query("rel_q1_pricing"))).head
    assert(scan.metadata("PushedFilters").contains("l_shipdate"),
      scan.metadata("PushedFilters"))
  }

  test("rel_q1_pricing: scan reads only referenced columns") {
    val scan = scans(executed(query("rel_q1_pricing"))).head
    val read = scan.schema.fieldNames.toSet
    assert(read.subsetOf(Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate")), read.toString)
  }

  test("rel_q5_nation_revenue: dimension joins are broadcast") {
    val plan = executed(query("rel_q5_nation_revenue"))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"expected >=2 broadcast joins:\n$plan")
  }

  test("rel_q3_top_orders: filtered customer dim is broadcast") {
    val plan = executed(query("rel_q3_top_orders"))
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
  }

  test("sim_bruteforce_topk: query panel broadcast, corpus never shuffled before scoring") {
    val plan = executed(query("sim_bruteforce_topk"))
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty, s"expected broadcast NLJ for the query panel:\n$plan")
  }

  test("sim_ivf_topk: corpus branch assigns cells narrowly — no exchange before the candidate join") {
    // the old join+window assignment shuffled the whole corpus (vectors
    // included) just to learn each row's cell — the one flagged
    // scale-killer at 100 TB. The narrow nearest_centroid Generate must
    // keep the corpus branch exchange-free up to the candidate join.
    val plan = executed(query("sim_ivf_topk"))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val cand = bhj.find(_.left.toString.contains("nearest_centroid"))
    assert(cand.nonEmpty, s"no candidate join streaming the narrow-assigned corpus:\n$plan")
    val shuffles = cand.get.left.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"corpus branch must not shuffle to learn its cell:\n${cand.get.left}")
  }

  test("sim_pq_topk: corpus encodes narrowly — no exchange before the candidate join") {
    // cell assignment AND the PQ encode must both stay narrow maps on
    // the corpus branch: the codes (m bytes/row) are what stream into
    // the candidate join; the LUT lives only on the broadcast query side
    val plan = executed(query("sim_pq_topk"))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val cand = bhj.find(_.left.toString.contains("pq_encode"))
    assert(cand.nonEmpty, s"no candidate join streaming the narrow-encoded corpus:\n$plan")
    val shuffles = cand.get.left.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"corpus branch must not shuffle to assign cells or encode codes:\n${cand.get.left}")
    assert(!cand.get.left.toString.contains("pq_lut"),
      "the ADC lookup table must never be built on the corpus side")
  }

  test("sim_project_topk: corpus projects narrowly — no exchange before the candidate join") {
    // the JL projection must stay a per-row map on the corpus branch
    // (mat_vec rides in-expression); the only joins are the broadcast
    // of the projected query panel, and nothing shuffles corpus rows
    // before candidate scoring
    val plan = executed(query("sim_project_topk"))
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty, s"expected broadcast of the projected panel:\n$plan")
    val corpusSide = bnlj.head.left
    assert(corpusSide.toString.contains("mat_vec"),
      s"corpus side must carry the narrow mat_vec projection:\n$corpusSide")
    val shuffles = corpusSide.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"corpus branch must not shuffle before candidate scoring:\n$corpusSide")
  }

  test("rel_window_topk: partial top-k pushed below the shuffle (WindowGroupLimit)") {
    // Catalyst's InferWindowGroupLimit bounds shuffle volume at
    // partitions×k for rank<=k filters — the custom partial-top-k
    // operator we would otherwise have to write (SURVEY §4.2)
    val df = query("rel_window_topk")
    df.collect()
    val plan = executed(df).toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial window group limit:\n$plan")
  }

  test("mixture diagnostics: one corpus pass — no self-join re-derives the tokenize subtree") {
    // KL marginals must come from window sums over the vocabulary-
    // bounded counts table (a marginals-as-joins form scanned the
    // corpus 4x when exchange reuse missed); diversity must explode
    // both n-gram orders from the same row (an explode per order
    // tokenized the corpus twice)
    for (name <- Seq("text_kl_mixture", "text_ngram_diversity")) {
      val df = query(name)
      // leaves, not LogicalRelation: another suite may have cached the
      // documents table, swapping the scan for an InMemoryRelation
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.size == 1,
        s"$name: expected exactly one source leaf, got ${leaves.size}:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("pipe_source_cap: per-group cap runs as partial WindowGroupLimit") {
    // groupCap's rank filter must push a per-task partial top-cap below
    // the exchange — at 100 TB the shuffle then carries O(sources·cap)
    // rows per task instead of every document row
    val df = query("pipe_source_cap")
    df.collect()
    val plan = executed(df).toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial window group limit under pipe_source_cap:\n$plan")
  }

  test("rel_topk_aggregator: native partial top-k aggregation, no window machinery") {
    val df = query("rel_topk_aggregator")
    df.collect()
    val plan = executed(df).toString
    // TypedImperativeAggregate → ObjectHashAggregate with partial and
    // final topk_pairs phases; shuffle volume is k rows per group per
    // partition. The whole point is NOT paying the window sort path.
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_topk_pairs"),
      s"expected partial native top-k aggregation:\n$plan")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window "),
      s"native aggregate must not fall back to window machinery:\n$plan")
  }

  test("text_features is evaluated once per row (Generate barrier holds)") {
    // Catalyst has no let-binding: if CollapseProject/pushdown ever
    // re-inline the feature struct into its consumers, the plan shows
    // one text_features call per reference (quality filter + marker
    // gate + two aggregates in pipe_clean_corpus). The explode(array(_))
    // binding must keep it to exactly one.
    for (name <- Seq("pipe_clean_corpus", "text_stats", "text_quality_by_source",
        "pipe_filter_funnel")) {
      val plan = executed(query(name)).toString
      val n = "text_features".r.findAllIn(plan).size
      assert(n == 1, s"$name evaluates text_features $n times:\n$plan")
    }
  }

  test("msg_xml_policy: narrow validator map (only the presentation sort exchanges)") {
    val plan = executed(query("msg_xml_policy"))
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"xml policy scan must stay narrow:\n$plan")
  }

  test("count() over an ordered query eliminates the sort (bench path)") {
    val counted = query("rel_window_running").groupBy().count()
    val sorts = executed(counted).collect { case s: SortExec => s }
    // the window sort remains (required); the final presentation orderBy
    // must be gone — so at most the one partitionBy/orderBy sort pair
    assert(sorts.size <= 1, s"presentation sort not eliminated:\n$counted")
  }

  test("msg_enrich: pure narrow pipeline — no shuffle at all") {
    val plan = executed(
      graft.pipeline.Enrich.plain(graft.sources.Tables.messages(spark, sf001)))
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"enrich must stay narrow:\n$plan")
  }

  /** Every `StaticInvoke` of a query's optimized plan (Spark's `aes_*`,
    * `base64` and `unbase64` are runtime-replaced by these).
    */
  private def staticInvokes(df: DataFrame): Seq[StaticInvoke] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case s: StaticInvoke => s }))

  test("stanza cipher: one graft static call per row, none of Spark's aes/base64/translate") {
    val spark4 = Seq(classOf[ExpressionImplUtils], classOf[Base64], classOf[UnBase64]).map(_.getName)
    val enrich = graft.pipeline.Enrich(graft.sources.Tables.messages(spark, sf001),
      graft.pipeline.GraftConfig.dev)
    for ((name, df) <- Seq("Enrich" -> enrich, "msg_roundtrip" -> query("msg_roundtrip"))) {
      val invokes = staticInvokes(df)
      val sparks = invokes.filter(i => spark4.contains(i.staticObject.getName.stripSuffix("$")))
      assert(sparks.isEmpty, s"$name plans Spark's ${sparks.map(_.functionName)}")
      val translates = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case t: StringTranslate => t }))
      assert(translates.isEmpty, s"$name still translates")
      assert(invokes.exists(_.staticObject == graft.plans.AesCbc.getClass), name)
    }
    // the benchmark's plan self-test counts StaticInvokes named *aes*:
    // the encrypt in Enrich's F1 filter (pushed below the project) and
    // the one in the projection
    val aes = staticInvokes(query("msg_pipeline_encrypted"))
      .filter(_.functionName.toLowerCase.contains("aes"))
    assert(aes.size == 2, aes)
    assert(aes.forall(i => i.staticObject == graft.plans.AesCbc.getClass &&
      i.functionName == "aesEncrypt"), aes)
  }

  test("dedup signatures are computed scan-side: narrow from parquet to sig") {
    // the signature stage (shingle-hash + minhash, simhash likewise) must
    // be a pure narrow projection over the scan — no exchange anywhere in
    // its plan; shuffles belong exclusively to the downstream candidate /
    // verify joins (a groupBy here would shuffle the whole corpus: the
    // 100 TB property)
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf001)
    val minhashSig = docs
      .select(col("doc_id"), graft.operators.Dedup.hashedShingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.plans.TextHashExprs.minhashSig(col("sh"), 64))
    val simhashSig = docs
      .select(col("doc_id"), graft.plans.TextHashExprs.simhashSig(col("text")).as("sig"))
    for (df <- Seq(minhashSig, simhashSig)) {
      val shuffles = executed(df).collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, df.queryExecution.executedPlan.toString)
    }
  }

  test("ev_range_follow: band join is an equi hash/merge join") {
    val plan = executed(query("ev_range_follow"))
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      plan.toString)
  }

  test("dedup_cosine_pairs: every join is an equi-join; vector cache reused") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val pairs = graft.operators.CosinePairs
      .tfCosinePairs(docs, "text", "doc_id", threshold = 0.6)
    val plan = executed(pairs)
    // prefix candidates and verification both ride term/id equi-joins —
    // the all-pairs semantics must never plan as a cartesian/NLJ
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      plan.toString)
    assert(plan.collect { case j: CartesianProductExec => j }.isEmpty,
      plan.toString)
    // one persisted per-document vector table feeds the prefix self-join
    // (l, r) and both verify sides — the shingle/df work runs ONCE
    assert(plan.collect { case s: InMemoryTableScanExec => s }.size >= 3,
      plan.toString)
    Intermediates.release(spark)
  }

  test("ev_funnel: range predicate rides the user_id equi-join, never an NLJ") {
    val plan = executed(query("ev_funnel"))
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      plan.toString)
  }

  test("rel_q19_disjunctive: OR-blocks ride the partkey equi-join, never an NLJ") {
    // Catalyst must extract l_partkey = p_partkey as the join key and
    // evaluate the three (brand, size, quantity) conjunct blocks as a
    // post-join filter — a nested loop over lineitem×part is the
    // classic Q19 plan failure
    val plan = executed(query("rel_q19_disjunctive"))
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      plan.toString)
  }

  test("text_top_terms: partial map-side aggregation + bounded top-k, no global sort") {
    val df = query("text_top_terms")
    df.collect()
    val plan = executed(df)
    // the limit must execute as TakeOrdered (heap of k per partition),
    // not a full sort of the distinct-term aggregate
    assert(plan.toString.contains("TakeOrderedAndProject"), plan.toString)
    // and the term counts must combine map-side before the exchange
    assert(plan.toString.contains("partial_count"), plan.toString)
  }

  test("mm_features: feature extraction is a narrow map stage") {
    val feats = graft.operators.Multimodal.histogramFeatures(
      graft.operators.Multimodal.syntheticMedia(
        graft.sources.Tables.documents(spark, sf001)))
    val shuffles = executed(feats.toDF())
      .collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, "histogram features must not shuffle")
  }

  test("pipe_pack_sequences: no single-task global window in the plan") {
    // the two-phase scan's per-range-partition prefix window is fine
    // (parallel by construction); what must never appear is a window
    // with an EMPTY partition spec — Spark executes that on one task
    val plan = executed(query("pipe_pack_sequences"))
    val globals = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty,
      "packing must use the distributed scan, not a global Window")
  }

  test("text_bm25_search: stats and term-df sides broadcast; corpus tokens filtered before the agg shuffle") {
    val plan = executed(query("text_bm25_search"))
    // dfreq join + 1-row stats cross join both arrive as broadcasts
    val bcasts = plan.collect {
      case j: BroadcastHashJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j }
    assert(bcasts.size >= 2, s"expected broadcast dfreq + stats sides:\n$plan")
    assert(plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }.nonEmpty,
      "expected explode of the token array")
    // decisive scale property: no shuffle carries raw token rows — every
    // exchange input is already a (partial) aggregate, so shuffle volume
    // is O(matching docs × |query|), not O(corpus tokens)
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    val aggBelowEveryShuffle = shuffles.forall(s => s.child.find {
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
      case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
      case _ => false
    }.isDefined)
    assert(aggBelowEveryShuffle,
      s"a shuffle carries unaggregated token rows:\n$plan")
  }

  test("pipe_chunk_docs: chunk generation is narrow (no shuffle before the presentation sort)") {
    val plan = executed(query("pipe_chunk_docs"))
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    // only the final orderBy may exchange; chunk expansion itself is a map
    assert(shuffles.size <= 1, s"chunking must not shuffle:\n$plan")
    assert(plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }.nonEmpty)
  }

  test("pipe_ingest_incremental: anti-join shuffles digests, never document bodies") {
    val plan = executed(query("pipe_ingest_incremental"))
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    // every exchanged row set projects only id/digest-width columns —
    // the `text` column must be consumed scan-side by sha2
    val leaksText = shuffles.exists(_.child.output.exists(_.name == "text"))
    assert(!leaksText, s"document bodies crossed a shuffle:\n$plan")
  }

  test("text_dup_passages: shuffles carry hashed grams and counts, never document text") {
    val plan = executed(query("text_dup_passages"))
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    assert(!shuffles.exists(_.child.output.exists(_.name == "text")),
      s"document bodies crossed a shuffle:\n$plan")
  }

  test("pipe_curriculum: rank window is partitioned by source, not global") {
    val plan = executed(query("pipe_curriculum"))
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"found an unpartitioned (single-task) window:\n$plan")
  }

  test("rel_q18_big_orders: lineitem aggregate combines map-side before the shuffle") {
    // structural pin (not a substring match): a Partial-mode sum over
    // l_quantity must sit BELOW the exchange that hashes on l_orderkey —
    // i.e. the map-side combine happens before lineitem's rows shuffle
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    // AQE wraps executed exchanges in leaf QueryStageExec nodes — a plain
    // collect stops at the stage boundary, so expand through them
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      p +: kids.flatMap(allNodes)
    }
    val df = query("rel_q18_big_orders")
    df.collect()
    val plan = executed(df)
    val combinedBelowShuffle = allNodes(plan)
      .collect { case e: ShuffleExchangeExec => e }
      .exists { e =>
        e.outputPartitioning.toString.contains("l_orderkey") &&
        allNodes(e.child).collect {
          case h: HashAggregateExec if h.aggregateExpressions.exists(a =>
            a.mode == Partial &&
            a.aggregateFunction.toString.contains("l_quantity")) => h
        }.nonEmpty
      }
    assert(combinedBelowShuffle,
      s"expected Partial sum(l_quantity) below the l_orderkey exchange:\n$plan")
  }

  test("rel_q10_returns: returnflag filter pushes to the lineitem scan; dims broadcast") {
    val plan = executed(query("rel_q10_returns"))
    val liScan = scans(plan).find(_.metadata("Location").contains("lineitem")).get
    assert(liScan.metadata("PushedFilters").contains("l_returnflag"),
      liScan.metadata("PushedFilters"))
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"customer and nation sides must broadcast:\n$plan")
  }

  test("sim_semantic_dedup: cluster self-join is an equi-join, assignment is narrow") {
    val plan = executed(query("sim_semantic_dedup"))
    // the intra-cluster search must never degenerate to an all-pairs NLJ:
    // the only join key is the nearest-centroid cell
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      plan.toString)
    // and vectors only ever cross a shuffle already labeled with their
    // cell (the assignment itself is narrow — the centroid matrix rides
    // inside the native expression; the presentation sort moves only
    // (id_a, id_b, cos) rows)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    val vecShuffles = shuffles.filter(
      _.child.output.exists(a => a.name == "va" || a.name == "vb" ||
        a.name == "embedding"))
    assert(vecShuffles.forall(_.child.output.exists(_.name == "cell")),
      s"an unlabeled vector crossed a shuffle:\n$plan")
  }

  test("sim_neardup_cosine production shape: within-cluster equi-join on (cell, label)") {
    val plan = executed(query("sim_neardup_cosine"))
    // never an all-pairs NLJ — the pair search is an equi-join whose key
    // includes BOTH the semantic cell and the label
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      plan.toString)
    val equiKeySets: Seq[Set[String]] = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name)).toSet
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name)).toSet
      case j: BroadcastHashJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name)).toSet
    }
    assert(equiKeySets.exists(ks => ks.contains("cell") && ks.contains("label")),
      s"no (cell, label) equi-join found:\n$plan")
    // vectors only cross shuffles already labeled with their cell
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    val vecShuffles = shuffles.filter(
      _.child.output.exists(a => a.name == "va" || a.name == "vb" ||
        a.name == "embedding"))
    assert(vecShuffles.forall(_.child.output.exists(_.name == "cell")),
      s"an unlabeled vector crossed a shuffle:\n$plan")
  }

  test("text_lm_score: shuffles carry tokens and counts, never document text") {
    val res = graft.operators.TextAnalysis.lmScore(
      graft.sources.Tables.documents(spark, sf001), "text", "doc_id")
    try {
      val plan = executed(res)
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.nonEmpty)
      assert(!shuffles.exists(_.child.output.exists(_.name == "text")),
        s"document bodies crossed a shuffle:\n$plan")
    } finally Intermediates.release(spark)
  }

  test("text_lm_score managed: token subtree is cache-backed, evaluated once") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    val res = graft.operators.TextAnalysis.lmScore(docs, "text", "doc_id")
    try {
      val plan = executed(res)
      // every consumer of the token table (score join, model build, and
      // the totals aggregate over the model) must read the persisted
      // cache — that IS the single-tokenize guarantee
      val cacheScans =
        plan.collect { case s if s.nodeName.contains("InMemoryTableScan") => s }
      assert(cacheScans.size == 3,
        s"expected 3 token-cache reads (score + model + totals):\n$plan")
      // and no direct parquet re-scan of documents survives outside it
      assert(scans(plan).isEmpty,
        s"tokenize subtree re-evaluated from source:\n$plan")
      // the cache-backed result agrees row for row with the same plan
      // recomputed from source once the cache is released
      val cached = res.orderBy("doc_id").collect().map(_.toString)
      Intermediates.release(spark)
      val recomputed = res.orderBy("doc_id").collect().map(_.toString)
      assert(cached.sameElements(recomputed))
    } finally Intermediates.release(spark)
  }

  test("pipe_split_leakproof: document text never crosses an exchange") {
    // the split's 100 TB story: the cluster pass shuffles (digest, id)
    // pairs and the assignment join carries digests — a text attribute
    // inside any exchange would mean documents are being shuffled
    val plan = executed(query("pipe_split_leakproof"))
    val exchanges = plan.collect {
      case e: ShuffleExchangeExec => e.child.output.map(_.name)
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        e.child.output.map(_.name)
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      assert(!cols.contains("text"), s"text shuffled: $cols")
    }
  }

  test("sim_embed_outliers: broadcast centroid join + bounded rank heap") {
    val plan = executed(query("sim_embed_outliers"))
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "centroid join must be broadcast — the corpus never shuffles for scoring")
    assert(plan.toString.contains("WindowGroupLimit"),
      "per-group rank must run as a bounded heap below the exchange")
  }

  test("text_remove_dup_spans_stats: equi-joins only, no cartesian/NLJ") {
    val plan = executed(query("text_remove_dup_spans_stats"))
    assert(plan.collect {
      case c: CartesianProductExec => c
      case n: BroadcastNestedLoopJoinExec => n
    }.isEmpty, "the rewrite must never plan a non-equi join")
  }

  test("partitioned history table prunes month partitions at read") {
    val dir = tmpDir("hist_prune")
    graft.pipeline.Enrich.plain(graft.sources.Tables.messages(spark, sf0001))
      .write.partitionBy("date_partition").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("date_partition") === "202401M")
    val scan = scans(executed(pruned)).head
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("date_partition")),
      scan.metadata.toString)
  }
}
