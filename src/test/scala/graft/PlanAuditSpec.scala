package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Events, Relational}

/** Plan-shape audits: the properties that matter at 100 TB — filter
  * pushdown into the parquet scan, column pruning, broadcast of
  * dimension sides, whole-stage codegen, and shuffle counts — locked
  * in as assertions so a regression in plan quality fails CI, not a
  * cluster bill.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def capture(df: org.apache.spark.sql.DataFrame, mode: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain(mode) }
    out.toString
  }

  test("q1: filter pushed to parquet scan, columns pruned, codegen on") {
    val df = Relational.q1PricingSummary(spark, sf)
    val fmt = capture(df, "formatted")
    assert(fmt.contains("PushedFilters"), fmt)
    assert(fmt.contains("LessThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    // pruned scan: none of the untouched columns appear anywhere
    assert(!fmt.contains("l_orderkey"), "scan reads columns q1 never uses")
    // AQE's pre-execution simple plan hides *(n) markers; codegen
    // mode prints the generated subtrees directly
    assert(capture(df, "codegen").contains("WholeStageCodegen subtree"),
      "no whole-stage codegen spans")
  }

  test("q5: all five dimension joins broadcast") {
    val p = capture(Relational.q5LocalSupplier(spark, sf), "simple")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts\n$p")
  }

  test("evt_enrich: dims broadcast, no sort-merge join") {
    val p = capture(Events.evtEnrich(spark, sf), "simple")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("asof join: at most one hash shuffle (union-sort, no per-key blowup)") {
    val p = capture(Relational.qAsofJoin(spark, sf), "simple")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"asof join shuffles too much ($exchanges)\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  /** Force dedupNgram onto the merge-scan (large-vocab) path for plan
    * audits: the test corpus's 31-word vocabulary takes the bitmask
    * path by default.
    */
  private def forcingArrayNgram[A](body: => A): A = {
    spark.conf.set("spark.graft.ngram.maskVocabMax", "0")
    try body finally spark.conf.unset("spark.graft.ngram.maskVocabMax")
  }

  test("dedup_ngram self-join at scale: pinned prefix relation, no cartesian") {
    // at 100 TB documents won't broadcast; the word-set + prefix
    // relation feeds 4 subtrees (two candidate sides, two verify
    // rejoins) and must be computed ONCE — pinned, every reference an
    // in-memory scan — and no join may degenerate to a cartesian
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try forcingArrayNgram {
      val df = graft.dedup.Dedup.dedupNgram(spark, sf)
      df.collect() // AQE finalizes the plan on execution
      val p = df.queryExecution.executedPlan.toString
      val scans = "InMemoryTableScan".r.findAllIn(p).size
      assert(scans >= 4,
        s"prefix relation not pinned across its 4 references ($scans scans)\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.catalog.clearCache()
    }
  }

  test("JaccardLengthPruning injects the size prefilter ahead of the merge scan") {
    forcingArrayNgram {
      val df = graft.dedup.Dedup.dedupNgram(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("least(") && opt.contains("greatest(") && opt.contains("size("),
        s"length prefilter not injected\n$opt")
      // the original jaccard bound is still there (rule only adds an
      // implied conjunct, never replaces the exact predicate)
      assert(opt.toLowerCase.contains("sortedjaccard"), opt)
    }
  }

  test("JaccardLengthPruning is semantics-preserving (same rows with rule excluded)") {
    forcingArrayNgram {
      val withRule = graft.dedup.Dedup.dedupNgram(spark, sf).collect().toSet
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "graft.plans.JaccardLengthPruning")
      try {
        val withoutRule = graft.dedup.Dedup.dedupNgram(spark, sf).collect().toSet
        assert(withRule == withoutRule)
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("dedup_ngram small-vocab bitmask path: inline popcount verify, no merge scan") {
    // the degenerate-vocabulary guardrail (vocab ≤ 4096 → word sets
    // ride as fixed-width long-array masks): verification fuses into
    // the candidate join — no SortedJaccard, no ids-only distinct of
    // the quadratic candidate stream — and the output matches the
    // merge-scan path EXACTLY (same blocking, same int→double division)
    val masked = graft.dedup.Dedup.dedupNgram(spark, sf)
    val opt = masked.queryExecution.optimizedPlan.toString.toLowerCase
    assert(opt.contains("maskjaccard"), s"mask path not taken\n$opt")
    assert(!opt.contains("sortedjaccard"),
      "mask path still carries the array verify")
    val a = masked.collect().toSet
    val b = forcingArrayNgram {
      graft.dedup.Dedup.dedupNgram(spark, sf).collect().toSet
    }
    assert(a == b, s"bitmask path diverges from merge-scan path " +
      s"(${a.size} vs ${b.size} rows, ${(a diff b).size}+${(b diff a).size} asymmetric)")
    spark.catalog.clearCache()
  }

  test("q_promo_effect: part dim broadcast, date filter pushed to fact scan") {
    val df = graft.operators.Relational.qPromoEffect(spark, sf)
    val fmt = capture(df, "formatted")
    assert(fmt.contains("BroadcastHashJoin"), fmt)
    assert(fmt.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
  }

  test("pipeline_prep: whole pipeline in two shuffles") {
    // lang/quality filters sit ABOVE the dedup window by design
    // (filtering first would change which duplicate survives), so the
    // plan-shape guarantee is the shuffle bound: dedup hash partition
    // + final aggregate, nothing else
    val p = capture(graft.operators.Analytics.pipelinePrep(spark, sf), "formatted")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"pipeline shuffles too much ($exchanges)\n$p")
  }

  test("dedup_exact: partial aggregation before the shuffle") {
    val p = capture(graft.dedup.Dedup.dedupExact(spark, sf), "simple")
    // partial + final pair means map-side combine happens pre-shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("evt_retention: fact-derived cohort side is NOT broadcast at scale") {
    // cohorts is one row per user — broadcasting it at 100 TB is an
    // executor OOM. With the broadcast path closed off (threshold -1,
    // the scale situation), the plan must not contain any broadcast.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Events.evtRetention(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"),
        s"cohort join forces a broadcast despite threshold -1\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("evt_moving_agg: window partitions on composite key, not event_type alone") {
    // event_type has ~5 values; a window partitioned on it alone is a
    // ~5-task global sort at scale. The composite (event_type, hour
    // bucket) key must appear in the Window operator's partition spec.
    val df = Events.evtMovingAgg(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "no window operator in plan")
    windows.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"window partitions on ${w.partitionSpec} — single low-cardinality key")
    }
  }

  test("evt_moving_agg: bucketed window equals the single-partition formulation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val naive = Window.partitionBy($"event_type").orderBy($"ts".cast("long"))
      .rangeBetween(-3600L, 0L)
    val want = graft.core.Tables.events(spark, sf)
      .withColumn("n_last_hour", count(lit(1)).over(naive))
      .withColumn("sum_last_hour", round(sum($"value").over(naive), 2))
      .select($"event_id", $"event_type", $"n_last_hour", $"sum_last_hour")
      .collect().toSet
    val got = Events.evtMovingAgg(spark, sf).collect().toSet
    assert(got == want, "composite-bucket window diverges from naive window")
  }

  test("q4: semi join with cross-table predicate, no cartesian, date filter pushed") {
    val p = capture(Relational.q4OrderPriority(spark, sf), "simple")
    assert(p.contains("LeftSemi"), s"EXISTS did not plan as a semi join\n$p")
    assert(!p.contains("CartesianProduct"))
    val fmt = capture(Relational.q4OrderPriority(spark, sf), "formatted")
    assert(fmt.contains("PushedFilters") &&
      fmt.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date filter not pushed to the orders scan")
  }

  test("txt_doc_freq: top-k via TakeOrdered, vocabulary never globally sorted") {
    val p = capture(graft.text.TextAnalysis.txtDocFreq(spark, sf), "simple")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit did not plan as distributed top-k\n$p")
  }

  test("sim_pq_ann: scoring joins broadcast, no sort-merge join") {
    val p = capture(graft.similarity.Similarity.simPqAnn(spark, sf), "simple")
    assert(!p.contains("SortMergeJoin"),
      s"PQ scoring fell back to a sort-merge join\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_incremental: batch bands broadcast as the BUILD side, corpus never shuffled") {
    val p = capture(graft.dedup.Dedup.dedupIncremental(spark, sf), "simple")
    // the increment must be the broadcast build side of an INNER band
    // join (a batch-side left_outer can only BuildRight, which would
    // shuffle the whole stored index per increment at scale)
    assert(p.contains("BuildLeft"),
      s"batch side is not the broadcast build side\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus band index fell into a shuffle join\n$p")
  }

  test("dedup_incremental_stored: same BuildLeft shape against parquet-backed store relations") {
    // the production path reads the class relations from the stored
    // index (parquet-backed, real Catalyst stats — NOT the cached
    // in-memory relation the derive key pins above); the designed
    // plan must survive that source swap: increment broadcast as the
    // INNER build side, stored index streamed, zero shuffle joins
    val p = capture(
      graft.dedup.Dedup.dedupIncrementalStored(spark, sf), "simple")
    assert(p.contains("BuildLeft"),
      s"stored-path batch side is not the broadcast build side\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"stored class relations fell into a shuffle join\n$p")
  }

  test("sim_ivfpq_ann: probe and ADC sides broadcast, no corpus-corpus join") {
    val p = capture(graft.similarity.Similarity.simIvfPqAnn(spark, sf), "simple")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-corpus join crept into the IVFADC path\n$p")
    assert(!p.contains("CartesianProduct"))
    // codes ⋈ broadcast(probes) and ⋈ broadcast(ADC tables): the two
    // corpus-side joins must both be broadcast hash joins — the codes
    // scan is the only corpus-wide pass
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("sim_pq_rerank: both stages broadcast the query side, no cartesian") {
    val p = capture(graft.similarity.Similarity.simPqRerank(spark, sf), "simple")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q8: region/nation broadcast, share denominator never rescans the fact") {
    val p = capture(Relational.q8MarketShare(spark, sf), "simple")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"))
    // one scan of lineitem: the window-sum denominator reuses the
    // (year, nation) aggregate instead of re-reading the fact table
    val factScans = "lineitem".r.findAllIn(p).size
    assert(factScans <= 1, s"share denominator rescans lineitem\n$p")
  }

  test("q_upsert_latest: one shuffle on the table key resolves versions") {
    val p = capture(Relational.qUpsertLatest(spark, sf), "simple")
    val keyExchanges = "Exchange hashpartitioning\\(o_orderkey".r.findAllIn(p).size
    assert(keyExchanges <= 1, s"upsert shuffles the key more than once\n$p")
  }

  test("q6: every predicate and the 3-column projection reach the scan") {
    val df = Relational.q6ForecastRevenue(spark, sf)
    val fmt = capture(df, "formatted")
    assert(fmt.contains("GreaterThanOrEqual(l_shipdate"), "shipdate not pushed")
    assert(fmt.contains("GreaterThanOrEqual(l_discount"), "discount not pushed")
    assert(fmt.contains("LessThan(l_quantity"), "quantity not pushed")
    assert(!fmt.contains("l_orderkey"), "scan reads columns q6 never uses")
  }

  test("q18: quantity aggregate runs BELOW the joins (aggregate-then-join)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = Relational.q18LargeOrders(spark, sf).queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.size >= 2, s"expected joins to orders and customer\n$plan")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, "no aggregate in plan")
    // the lineitem quantity aggregate must not contain a join beneath
    // it — joining first would drag order/customer rows through the
    // fact-sized shuffle
    assert(aggs.exists(a => a.collect { case j: Join => j }.isEmpty),
      s"aggregate sits above the joins\n$plan")
  }

  test("q22: anti join for NOT EXISTS, scalar average broadcast, no cartesian") {
    val p = capture(Relational.q22IdleCustomers(spark, sf), "simple")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not plan as anti join\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scalar-average cross join fell back to a cartesian product\n$p")
  }

  test("txt_repetition: zero shuffles — pure narrow pass over the scan") {
    val p = capture(graft.text.TextAnalysis.txtRepetition(spark, sf), "formatted")
    assert(!p.contains("Exchange"), s"repetition profile shuffles\n$p")
  }

  test("pipeline_sample: rate table broadcast, single rollup shuffle") {
    val p = capture(graft.operators.Analytics.pipelineSample(spark, sf), "simple")
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"sampling pass shuffles more than the rollup\n$p")
  }

  test("txt_contamination: bounded shuffles, no cartesian") {
    val p = capture(graft.text.TextAnalysis.txtContamination(spark, sf), "simple")
    assert(!p.contains("CartesianProduct"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4, s"contamination join shuffles too much ($exchanges)\n$p")
  }

  test("dedup_substr: linear plan — no doc×doc, hash-key join-back, bounded shuffles") {
    val p = capture(graft.dedup.Dedup.dedupSubstr(spark, sf), "simple")
    assert(!p.contains("CartesianProduct"), s"substr dedup went quadratic\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join\n$p")
    // count join-back on the 8-byte shingle hash + per-doc window +
    // span rollup + the per-doc left join — everything key-partitioned
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 7, s"substr dedup shuffles too much ($exchanges)\n$p")
  }

  test("evt_top_types: rank window runs over the aggregate, not raw events") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = Events.evtTopTypes(spark, sf).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "no window operator in plan")
    windows.foreach { w =>
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        s"rank window sees raw events instead of the per-window aggregate\n$plan")
    }
  }

  test("pipeline_curate: whole curation pass within the window+rollup shuffle budget") {
    // two key-partitioned windows (content hash; source×shard packing)
    // + the funnel/context rollups and their join — the quality gates
    // and sampling must ride the scan pass, adding no exchanges
    val p = capture(graft.operators.Analytics.pipelineCurate(spark, sf), "simple")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 6, s"curation pipeline shuffles too much ($exchanges)\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q9: dims broadcast, single fact-fact shuffle join") {
    val p = capture(Relational.q9ProductProfit(spark, sf), "simple")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    val smj = "SortMergeJoin".r.findAllIn(p).size
    assert(smj <= 1, s"more than the lineitem-orders shuffle join ($smj)\n$p")
  }

  test("q15: max side broadcast, no unpartitioned window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = Relational.q15TopSupplier(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.isEmpty,
      "q15 uses a window — the whole supplier rollup would sort in one task")
    val p = capture(df, "simple")
    assert(p.contains("BroadcastHashJoin"), s"scalar max not broadcast\n$p")
  }

  test("q17/evt_attribution: windows partition on high-cardinality keys") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((df, key) <- Seq(
        (Relational.q17SmallQuantity(spark, sf), "l_partkey"),
        (Events.evtAttribution(spark, sf), "user_id"))) {
      val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, "no window operator in plan")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty, s"unpartitioned window\n$w")
        assert(w.partitionSpec.exists(_.toString.contains(key)),
          s"window not partitioned on $key\n$w")
      }
    }
  }

  test("new curation ops keep their designed shuffle shapes") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // dedup_paragraph: exactly two hash exchanges (block-hash window +
    // per-doc aggregate); the doc rejoin must be a broadcast
    val para = graft.dedup.Dedup.dedupParagraph(spark, sf)
    val pPlan = capture(para, "simple")
    assert("Exchange hashpartitioning".r.findAllIn(pPlan).size == 2,
      s"paragraph dedup shuffle count drifted\n$pPlan")
    val pWins = para.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(pWins.nonEmpty && pWins.forall(
      _.partitionSpec.exists(_.toString.startsWith("h#"))),
      "first-occurrence window not partitioned on the block hash")
    // pipeline_cap: the doc-level window must carry the bucket in its
    // partition spec (the two-level scan's whole point — never one
    // giant sorted partition per source)
    val cap = graft.operators.Analytics.pipelineCap(spark, sf)
    val cWins = cap.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(cWins.exists(_.partitionSpec.exists(_.toString.contains("bucket"))),
      "cap running sum lost its bucket partitioning")
    assert(capture(cap, "simple").contains("BroadcastHashJoin"),
      "bucket offsets not broadcast back")
    // q_quantile_buckets: the histogram cumsum must carry the bucket
    // in its partition spec (near-unique price domain ≈ |orders|), and
    // the only permitted unpartitioned window is the offset prefix
    // over the bucket-count-sized (bucket, btot) totals
    val qb = Relational.qQuantileBuckets(spark, sf)
    val qWins = qb.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(qWins.exists(_.partitionSpec.exists(_.toString.contains("bucket"))),
      "quantile histogram cumsum lost its bucket partitioning")
    qWins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val names = w.child.output.map(_.name).toSet
      assert(names == Set("bucket", "btot"),
        s"unpartitioned window over a non-bucket-sized input: $names")
    }
    // q_median_mad: both rank passes on the two-level scan — the
    // cumulative cents/dev windows must carry the bucket in their
    // partition spec (near-unique price domain, ~150k rows/priority
    // at sf10 under the old 5-task priority-only window), and a
    // window partitioned only on o_orderpriority may consume only
    // the bucket-count-sized (priority, bucket, btot) totals
    val mm = Relational.qMedianMad(spark, sf)
    val mWins = mm.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(mWins.exists(_.partitionSpec.exists(_.toString.contains("bucket"))),
      "median/mad histogram cumsum lost its bucket partitioning")
    mWins.filterNot(_.partitionSpec.exists(_.toString.contains("bucket")))
      .foreach { w =>
        val names = w.child.output.map(_.name).toSet
        assert(names.subsetOf(Set("o_orderpriority", "bucket", "btot")),
          s"priority-only window over a non-bucket-sized input: $names")
      }
    // txt_ccnet_buckets: the tercile CDF window must consume only the
    // (lang, mean) HISTOGRAM — value-domain-bounded (≤ the e4 range
    // per lang) at any corpus size. A rewrite that cumsums over the
    // per-doc LM relation instead would ship doc_id/n_bigrams into
    // the window child and fact-size the per-lang sort — this assert
    // fails on exactly that input shape (the q_median_mad device)
    val cc = graft.text.TextAnalysis.txtCcnetBuckets(spark, sf)
    val ccWins = cc.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(ccWins.nonEmpty, "ccnet tercile CDF window disappeared")
    ccWins.foreach { w =>
      val names = w.child.output.map(_.name).toSet
      assert(names.subsetOf(Set("lang", "mean_surprisal_e4", "c")),
        s"ccnet CDF window over a non-histogram input: $names")
    }
    // pipeline_rag: the composed serving path adds NO corpus-sized
    // stage beyond its constituents' — downstream of the (internally
    // checkpointed) MMR selection, context assembly is ONE chunk pass
    // over documents joined by BROADCASTING the |queries|·5 selection,
    // and the chunk-dedup window carries chunk_hash (parallel, never
    // a global sort)
    val rtf = graft.similarity.Similarity.hybridTf(spark, sf).persist()
    try {
      val rag = graft.similarity.Rag.pipelineRagPlan(spark, sf, rtf)
      val rPlan = capture(rag, "simple")
      assert(rPlan.contains("BroadcastHashJoin"),
        s"RAG context join does not broadcast the selection\n$rPlan")
      assert(!rPlan.contains("SortMergeJoin") &&
             !rPlan.contains("CartesianProduct"),
        s"RAG context assembly grew a corpus-sized join\n$rPlan")
      assert("documents\\.parquet".r.findAllIn(rPlan).size <= 1,
        s"RAG context assembly re-scans documents\n$rPlan")
      val rWins = rag.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(rWins.nonEmpty && rWins.forall(
        _.partitionSpec.exists(_.toString.contains("chunk_hash"))),
        "chunk-dedup window not partitioned on chunk_hash")
    } finally { rtf.unpersist(); () }
    // txt_surprisal: the vocabulary-count join must broadcast — a
    // sort-merge join there means the corpus re-shuffled on term
    val sur = graft.text.TextAnalysis.txtSurprisal(spark, sf)
    val sPlan = capture(sur, "simple")
    assert(!sPlan.contains("SortMergeJoin"),
      s"surprisal joins fell back to sort-merge\n$sPlan")
  }

  test("dedup_recall_eval: threshold axis broadcasts, no cartesian, truth pinned") {
    // the audit's corpus-sized work is the truth candidate join; the
    // (method, threshold) rollup must stay metadata-sized — the ≤3-row
    // threshold axis rides BROADCAST nested-loop joins (a
    // CartesianProduct there would shuffle the truth relation per
    // threshold), and the pinned truth relation feeds its 4 consumers
    // (two caught-joins, two rollups) from memory, not 4 recomputes
    val df = graft.dedup.Dedup.dedupRecallEval(spark, sf)
    df.collect() // AQE finalizes; also populates the InMemory scans
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"threshold axis degenerated to a cartesian shuffle\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      s"threshold cross joins are not broadcast\n$p")
    // since r18 the two catch branches materialize via their own
    // checkpoints (overlapped jobs), so the FINAL plan holds the two
    // rollup consumers of the pinned truth; the branch executions
    // consumed the same cache (their inputs appear here as
    // checkpointed RDD scans, not recomputes)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"truth relation not pinned across the rollup consumers\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"catch branches not materialized via checkpoints\n$p")
    spark.catalog.clearCache()
    // branch-plan pin (r18 advisor): each catch branch must consume
    // the pinned truth from memory — a future change that recomputes
    // truth per branch would not show in the final (post-checkpoint)
    // plan above, so assert on the PRE-checkpoint branch plans, and
    // on the r19 prune: the signature input is the truth-doc
    // semi-joined sample, not the full slice
    val (truth, mh, sh, packed) = graft.dedup.Dedup.recallBranches(spark, sf)
    try {
      for ((name, branch) <- Seq("minhash" -> mh, "simhash" -> sh)) {
        val bp = capture(branch, "formatted")
        assert("InMemoryTableScan".r.findAllIn(bp).size >= 2,
          s"$name branch recomputes the truth relation\n$bp")
        assert(bp.contains("LeftSemi"),
          s"$name branch signatures are not truth-doc pruned\n$bp")
      }
    } finally { (truth +: packed).foreach(_.unpersist()) }
  }

  test("pipeline_split/shard/length_hist: one aggregation shuffle each") {
    for (df <- Seq(graft.operators.Analytics.pipelineSplit(spark, sf),
                   graft.operators.Analytics.pipelineShard(spark, sf),
                   graft.operators.Analytics.txtLengthHist(spark, sf))) {
      val p = capture(df, "simple")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= 1, s"expected a single aggregation shuffle\n$p")
    }
  }

  test("q_asof_native: custom exec planned, merge-scan cost shape, equals union-sort twin") {
    val df = Relational.qAsofNative(spark, sf)
    val p = capture(df, "simple")
    assert(p.contains("AsOfJoin"), s"custom strategy did not plan the node\n$p")
    // two clustered exchanges feeding the merge (plus the orders
    // pre-reduction's own aggregate exchange) and NO window/union
    // machinery — the operator is a single merge scan
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"asof exec shuffles too much ($exchanges)\n$p")
    assert(!p.contains("Window"), s"native asof still uses a window\n$p")
    val got = df.collect().toSet
    val want = Relational.qAsofJoin(spark, sf).collect().toSet
    assert(got == want, "native as-of differs from the union-sort twin")
    assert(got.nonEmpty)
  }

  test("runtime bloom filter injects on a selective shuffled fact-fact join") {
    // the 100 TB setup: both sides too big to broadcast, one side
    // selectively filtered — Spark should derive a bloom filter from
    // the filtered side and push it into the other side's scan,
    // cutting shuffle input by the filter's selectivity. Size
    // thresholds are tuned for test-scale data; the assertion locks
    // that the optimization engages under the graft session
    // (extensions installed, AQE on).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = graft.core.Tables.orders(spark, sf)
        .filter($"o_orderdate" >= lit("1997-03-01") && $"o_orderdate" < lit("1997-04-01"))
      val l = graft.core.Tables.lineitem(spark, sf)
      val joined = l.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg") || opt.contains("might_contain"),
        s"no runtime bloom filter in the optimized plan\n$opt")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("kmeans/classifier/coverage/epoch-shuffle keep their designed shuffle shapes") {
    // pipeline_shuffle: a pure projection (×3 epoch fan-out) — the
    // epoch ORDER comes from the hash key, never from an exchange
    val sh = capture(graft.operators.Analytics.pipelineShuffle(spark, sf),
      "formatted")
    assert(!sh.contains("Exchange"), s"epoch shuffle keys shuffle\n$sh")
    // txt_classifier: the per-doc reduction is the ONLY exchange (the
    // 256-weight model rides the expression, no model join)
    val cl = capture(graft.text.TextAnalysis.txtClassifier(spark, sf), "simple")
    assert("Exchange hashpartitioning".r.findAllIn(cl).size <= 1,
      s"classifier shuffles beyond the per-doc reduction\n$cl")
    assert(!cl.contains("CartesianProduct"))
    // txt_dup_coverage: df groupBy + hash join-back + per-doc rollup —
    // nothing beyond the tfidf-shaped three
    val dc = capture(graft.text.TextAnalysis.txtDupCoverage(spark, sf), "simple")
    assert("Exchange hashpartitioning".r.findAllIn(dc).size <= 3,
      s"dup coverage shuffles beyond df/join/rollup\n$dc")
    // sim_kmeans: the returned assignment is a ZERO-shuffle projection
    // over the quantized corpus — centroids are expression state
    val km = capture(graft.similarity.Similarity.simKmeans(spark, sf), "simple")
    assert(!km.contains("Exchange hashpartitioning"),
      s"kmeans assignment shuffles — centroid state leaked into a join\n$km")
    // evt_mv_merge: shard partials + MV merge — two hash aggregates,
    // nothing event-sized past the first
    val mv = capture(Events.evtMvMerge(spark, sf), "simple")
    assert("Exchange hashpartitioning".r.findAllIn(mv).size <= 2,
      s"MV merge shuffles beyond partials+merge\n$mv")
    // sim_threshold_sweep: cell pack + bucket aggregate; the
    // cumulative window sees only the ≤19-row bucket domain
    val sw = capture(graft.similarity.Similarity.simThresholdSweep(spark, sf),
      "simple")
    assert("Exchange hashpartitioning".r.findAllIn(sw).size <= 2,
      s"threshold sweep shuffles beyond pack+histogram\n$sw")
    // pipeline_fixed_sample: bounded-heap draw — NO window (the
    // row_number twin would sort the whole corpus per stratum)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val fs = graft.operators.Analytics.pipelineFixedSample(spark, sf)
    assert(fs.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }.isEmpty,
      "fixed sample plans a window sort")
  }

  test("dedup_ngram: rare-token prefixes discriminate far beyond source blocks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // replicate the prefix assembly: the candidate key space must be
    // much finer than source alone (the round-5 size-bucket key went
    // quadratic at sf1 because length barely discriminates), and the
    // indexed prefix must stay the ~10% AllPairs bound, or the
    // candidate join degenerates to corpus-sized buckets
    val d = graft.core.Tables.documents(spark, sf)
      .withColumn("wset", expr("array_distinct(split(trim(text), ' +'))"))
    val tokenDf = d.select(explode($"wset").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val pref = d.select($"doc_id", $"source", explode($"wset").as("tok"))
      .join(tokenDf, Seq("tok"))
      .groupBy($"doc_id", $"source")
      .agg(array_sort(collect_list(struct($"df", $"tok"))).as("byRarity"),
           count(lit(1)).as("s"))
      .select($"doc_id", $"source", $"s", expr(
        "transform(slice(byRarity, 1, " +
          "cast(s - ((9*s + 9) div 10) + 1 as int)), x -> x.tok)")
        .as("prefix"))
    // the synthetic corpus draws from a ~31-word vocabulary — the
    // worst case for ANY content blocking (every token is common), so
    // the split bound here is modest; on natural Zipfian vocabularies
    // the key space is ~|prefix vocabulary| × sources (see Scaladoc)
    val nSources = d.select($"source").distinct().count()
    val nKeys = pref.select($"source", explode($"prefix").as("tok"))
      .distinct().count()
    assert(nKeys >= nSources * 3,
      s"prefix key space barely splits: $nKeys keys over $nSources sources")
    // prefix length honors the lossless AllPairs bound s-ceil(.9s)+1
    val bad = pref.filter(size($"prefix") =!=
      ($"s" - expr("(9*s + 9) div 10") + 1)).count()
    assert(bad == 0, s"$bad docs with a mis-sized prefix")
  }

  test("batch-3 operators keep their shuffle shapes") {
    // cross-source: bucket-source aggregate + self-join on the bucket
    // key + matrix rollup — nothing cartesian, nothing corpus-quadratic
    val cs = capture(graft.dedup.Dedup.dedupCrossSource(spark, sf), "simple")
    assert(!cs.contains("CartesianProduct"), cs)
    // decontam: existence is a LEFT-SEMI against distinct test keys —
    // never an inner pair join
    val dc = capture(graft.dedup.Dedup.pipelineDecontam(spark, sf), "simple")
    assert(dc.contains("LeftSemi"), s"decontam lost its semi join\n$dc")
    assert(!dc.contains("CartesianProduct"), dc)
    // bigram LM: the tf-idf join shape — corpus-sized work is the
    // (doc,bigram) tf aggregate + two model aggregates; bounded fan
    val lm = capture(graft.text.TextAnalysis.txtBigramLm(spark, sf),
      "simple")
    assert("Exchange hashpartitioning".r.findAllIn(lm).size <= 6, lm)
    assert(!lm.contains("CartesianProduct"), lm)
    // SQ8 ANN: queries and the one-row model broadcast; no cartesian
    // against the corpus
    val sq = capture(graft.similarity.Similarity.simSqAnn(spark, sf),
      "simple")
    assert(!sq.contains("CartesianProduct"), sq)
    // rate limit / out-of-order: one window each, then one aggregate —
    // no joins at all
    val rl = capture(Events.evtRateLimit(spark, sf), "simple")
    assert("Window".r.findAllIn(rl).size == 1 && !rl.contains("Join"), rl)
    val oo = capture(Events.evtOutOfOrder(spark, sf), "simple")
    assert("Window".r.findAllIn(oo).size == 1 && !oo.contains("Join"), oo)
    // mode: the row_number window reads the AGGREGATED relation (its
    // exchange partitions on the groupBy key, present exactly once
    // before the window's own single-column re-exchange)
    val md = capture(graft.operators.Relational.qMode(spark, sf), "simple")
    assert("Exchange hashpartitioning".r.findAllIn(md).size <= 3, md)
    assert("Window \\[".r.findAllIn(md).size == 1, md)
    // the rn=1 argmax runs as a pre-shuffle WindowGroupLimit (partial
    // top-1 per group before the exchange — the plan you'd want)
    assert(md.contains("WindowGroupLimit"), md)
    // degree histogram: count + left join + ≤max-degree rollup
    val dh = capture(graft.graph.Graph.graphDegreeHist(spark, sf), "simple")
    assert(!dh.contains("CartesianProduct"), dh)
    // IVF+SQ8: probes and quantized queries broadcast; the corpus-side
    // work is the code scan restricted by the probe join — no
    // cartesian against the corpus, no shuffled join of it either
    val ivfsq = capture(graft.similarity.Similarity.simIvfSq(spark, sf),
      "simple")
    assert(!ivfsq.contains("CartesianProduct"), ivfsq)
    assert(!ivfsq.contains("SortMergeJoin"),
      s"IVF+SQ8 shuffled a join that must broadcast\n$ivfsq")
    // concurrency sweep: the per-user sessionize pair plus the r18
    // two-level day sweep (per-(day,hour) local running sum + the
    // ≤24-row-per-day carry-in prefix), no joins — the union is a
    // read-side concat
    val cc = capture(Events.evtConcurrency(spark, sf), "simple")
    assert("Window \\[".r.findAllIn(cc).size == 4 && !cc.contains("Join"),
      cc) // sessionize lag + session-id sum + hour sweep + hour carry
  }

  test("txt_bigram_lm: shuffles carry 63-bit hash keys, never bigram strings") {
    val fmt = capture(graft.text.TextAnalysis.txtBigramLm(spark, sf), "formatted")
    // the corpus-sized aggregate and both model joins key on h1/h2
    // (md5 longs); no exchange partitions on the string columns
    assert(fmt.contains("md5lower64"), "hash projection missing")
    assert(!fmt.contains("hashpartitioning(w1") &&
           !fmt.contains("hashpartitioning(bigram"),
      "a shuffle still keys on bigram strings")
    assert(fmt.contains("h1#") && fmt.contains("h2#"),
      "hash key columns missing from the plan")
    // the hashed stream is pinned (both consumers read the cache)
    assert(fmt.contains("InMemory"), "bigram hash relation not persisted")
  }

  test("mm_phash_pairs: native phash63, pinned combo relation, no cartesian") {
    val fmt = capture(
      graft.multimodal.Multimodal.mmPhashPairs(spark, sf), "formatted")
    assert(fmt.contains("phash63"),
      "perceptual hash not computed by the fused native expression")
    assert(fmt.contains("InMemory"), "combo relation not persisted")
    assert(!fmt.contains("CartesianProduct"), "pair search went quadratic")
  }

  test("shingle consumers: fused shinglemd5, no per-shingle lambda pipeline") {
    for ((name, df) <- Seq(
        "txt_dup_coverage" -> graft.text.TextAnalysis.txtDupCoverage(spark, sf),
        "txt_fingerprint" -> graft.text.TextAnalysis.txtFingerprint(spark, sf),
        "txt_contamination" -> graft.text.TextAnalysis.txtContamination(spark, sf))) {
      val fmt = capture(df, "formatted")
      assert(fmt.contains("shinglemd5"), s"$name: native shingle hash missing")
      assert(!fmt.contains("md5lower64(concat_ws"),
        s"$name: per-shingle md5 lambda pipeline still in the plan")
    }
  }

  test("dedup_recall_eval: chunk index explodes through a Generate, no simhash lambda recurrence") {
    // audit the chunk-stream builder directly: since r18 the catch
    // branches materialize behind checkpoints (overlapped jobs), so
    // the final dedupRecallEval plan no longer exposes this subtree.
    // The sample comes from the SAME factored builder the query uses
    // (r18 advisor: a hard-coded doc_id % 4 here could drift from the
    // conf-driven production slice).
    val sample = graft.dedup.Dedup.recallAuditSample(spark, sf)
    val fmt = capture(graft.dedup.Dedup.simhashChunks(sample), "formatted")
    // the simhash md5 fold is computed once per doc BELOW the Generate
    // (posexplode(sequence(0,3)) is the CollapseProject barrier); the
    // old transform(sequence(0,3), k -> shiftright(simhash,…)) lambda
    // was interpreted and CollapseProject re-inlined the fold into the
    // lambda body, recomputing it per element
    assert(fmt.contains("Generate"), fmt)
    assert(!fmt.contains("transform(sequence"),
      s"chunk stream still computes simhash inside an interpreted lambda\n$fmt")
    assert(fmt.contains("shiftright"),
      s"per-row chunk shift missing above the Generate\n$fmt")
  }

  test("sim_filtered_ann: predicate pushed to the embeddings scan, pre-ranking") {
    val fmt = capture(
      graft.similarity.Similarity.simFilteredAnn(spark, sf), "formatted")
    // the metadata filter reaches the parquet scan (at 100 TB this is
    // the partition/stats prune), and candidates are filtered BEFORE
    // the top-k aggregate — never a lossy post-filter
    assert(fmt.contains("PushedFilters"), fmt)
    assert(!fmt.contains("CartesianProduct"), "filtered search went quadratic")
  }

  test("pipeline_kanon: one metadata-sized aggregate, partial before the shuffle") {
    val fmt = capture(
      graft.operators.Analytics.pipelineKanon(spark, sf), "formatted")
    // exactly one exchange (the quasi-identifier rollup), map-side
    // combined — the gate stays metadata-sized at any corpus scale
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(fmt).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n$fmt")
    assert(fmt.contains("partial_count"), "no map-side partial aggregation")
  }

  test("q16: 2-column pruned bridge scan, broadcast dims, anti join broadcast") {
    val df = Relational.q16SupplierVariety(spark, sf)
    val fmt = capture(df, "formatted")
    // the fact scan reads exactly the two bridge keys
    assert(!fmt.contains("l_quantity") && !fmt.contains("l_extendedprice"),
      "bridge scan reads columns q16 never uses")
    val simple = capture(df, "simple")
    assert(simple.contains("BroadcastHashJoin"), simple)
    // supplier exclusion is a broadcast ANTI join, not a shuffled one
    assert("LeftAnti, BuildRight".r.findAllIn(simple).nonEmpty ||
      simple.contains("LeftAnti"), s"no anti join in plan\n$simple")
    assert(!simple.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("q20: one fact shuffle, per-part rollup over the aggregate, dims broadcast") {
    val df = Relational.q20ExcessShipments(spark, sf)
    val fmt = capture(df, "formatted")
    // both fact predicates reach the parquet scan
    assert(fmt.contains("PushedFilters"), fmt)
    assert(fmt.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate filter not pushed to the fact scan")
    val simple = capture(df, "simple")
    assert(!simple.contains("SortMergeJoin"), "a join fell back to sort-merge")
    assert(!simple.contains("CartesianProduct"))
  }

  test("session-4 operators keep their shuffle shapes") {
    // chunking: ZERO shuffle — explode + per-row slice/hash, no join,
    // and the chunk index explodes through a Generate (the
    // CollapseProject barrier that keeps the token array computed once)
    val ch = capture(graft.operators.Analytics.pipelineChunk(spark, sf),
      "simple")
    assert(!ch.contains("Exchange") && !ch.contains("Join"), ch)
    assert(ch.contains("Generate"), s"chunk index is not exploded\n$ch")
    // expectations: one aggregate pass per table (the count-distinct
    // rides an Expand), a union of 1-row results — never a join
    val ex = capture(
      graft.operators.Analytics.pipelineExpectations(spark, sf), "simple")
    assert(!ex.contains("Join"), ex)
    assert("Exchange hashpartitioning".r.findAllIn(ex).size <= 6, ex)
    // cdc apply: ONE key shuffle feeding both windows (rank + op
    // count share the user_id partitioning), no join, no snapshot
    val cdc = capture(Events.evtCdcApply(spark, sf), "simple")
    assert(!cdc.contains("Join"), cdc)
    assert("Exchange hashpartitioning".r.findAllIn(cdc).size == 1, cdc)
    assert("Window \\[".r.findAllIn(cdc).size == 2, cdc)
    // index profile: centroid table and totals row broadcast back —
    // the corpus is never on the shuffled side of a join
    val ip = capture(
      graft.similarity.Similarity.simIndexProfile(spark, sf), "simple")
    assert(!ip.contains("SortMergeJoin"),
      s"centroid join fell back to sort-merge\n$ip")
    assert(!ip.contains("CartesianProduct"), ip)
  }

  test("session-5 operators keep their shuffle shapes") {
    // q12: one equi-join, a 2-group map-combinable aggregate, and a
    // 2-column orders projection (priority/date only — no totalprice)
    val q12 = capture(Relational.q12ShipLateness(spark, sf), "simple")
    assert(!q12.contains("CartesianProduct"), q12)
    assert(!q12.contains("o_totalprice"), "orders scan is not pruned")
    // dsir: the 8192-bucket model is broadcast back onto the pinned
    // hashed-bigram stream — the corpus is never on the shuffled side
    // of the score join. Audit the pre-checkpoint composition:
    // txtDsirWeights itself returns a localCheckpoint (so it can
    // unpersist the bigram cache — r13), which collapses the plan.
    val dsBg = graft.text.TextAnalysis.dsirHashedBigrams(
      graft.core.Tables.documents(spark, sf)).persist()
    try {
      val ds = capture(graft.text.TextAnalysis.dsirScoreWith(
        dsBg, graft.text.TextAnalysis.dsirBucketCounts(dsBg)), "simple")
      assert(ds.contains("BroadcastHashJoin"), ds)
      assert(!ds.contains("SortMergeJoin"),
        s"bucket-model join fell back to sort-merge\n$ds")
      assert(ds.contains("InMemoryTableScan"),
        "hashed-bigram stream is not pinned")
    } finally { dsBg.unpersist(); () }
    // hybrid rrf: the selected query terms broadcast into the posting
    // join (the df-capped side), never a corpus-vs-corpus shuffle
    // join. Audit the pre-checkpoint plan builder (the public entry
    // checkpoints so it can release the tf cache — r13).
    val hyTf = graft.similarity.Similarity.hybridTf(spark, sf).persist()
    try {
      val hy = capture(graft.similarity.Similarity.simHybridRrfPlan(
        spark, sf, hyTf), "simple")
      assert(hy.contains("BroadcastHashJoin"), hy)
      assert(!hy.contains("CartesianProduct"), hy)
      assert(hy.contains("InMemoryTableScan"), "corpus tf is not pinned")
    } finally { hyTf.unpersist(); () }
  }
}
