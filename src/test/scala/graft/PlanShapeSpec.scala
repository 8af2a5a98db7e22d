package graft

/** Plan-shape regression guards: the scale properties the query comments
  * claim (broadcasts instead of shuffled joins, zero-shuffle per-row
  * pipelines, top-k pushdown, parquet predicate/column pushdown, no
  * single-partition windows, no cartesian products outside the one
  * documented baseline) asserted against the actual physical plans, so a
  * future edit that silently degrades a plan fails the suite rather than
  * the 100 TB deployment.
  *
  * Checks read `sparkPlan` (the selected physical plan, pre-AQE): AQE can
  * only improve on what is asserted here (demote to broadcast, split skew),
  * never introduce a shuffle the static plan lacks.
  */
class PlanShapeSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.sparkPlan.toString
  }

  test("q09 top-k compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q09_top_orders").contains("TakeOrderedAndProject"))
  }

  test("r7 additions: no cartesian products, broadcast-only small sides") {
    // q158's vocabulary bits table, q159's 64-row range table, and q164's
    // weight/query tables must all broadcast; the corpus/code scans never
    // pair-join. q163's one nested loop is the batch broadcast (the q16
    // probe shape) — still no CartesianProduct.
    for (q <- Seq("q158_ccnet_buckets", "q159_ann_sq8", "q160_kmv_overlap",
        "q163_bitext_mine", "q164_ndcg_sq8", "q165_bootstrap_ci",
        "q167_skew_report")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs:\n$p")
    }
    assert(plan("q158_ccnet_buckets").contains("BroadcastHashJoin"),
      "q158_ccnet_buckets lost its broadcast small side")
    // r15: q159's array rewrite has no pos key left to hash-join on — its
    // small sides (the 1-row range frame, the ≤10-query set) ride
    // BroadcastNestedLoopJoin cross joins; the corpus must never shuffle
    // for them and nothing may sort-merge.
    locally {
      val p = plan("q159_ann_sq8")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"q159 lost its broadcast small sides:\n$p")
      assert(!p.contains("SortMergeJoin"), s"q159 sort-merges:\n$p")
    }
    // q162's series collapses to buckets BEFORE any window: the plan must
    // hash-aggregate below its windows and keep the final top-20 pushed
    assert(plan("q162_seasonal_decompose").contains("TakeOrderedAndProject"),
      "q162 lost top-k pushdown")
  }

  test("per-row pipelines shuffle nothing but the presentation sort") {
    // groupBy-free per-row queries: the ONLY exchange allowed is the final
    // range-partitioned ORDER BY; a hashpartitioning exchange means a
    // shuffle crept into what must stay map-only work.
    for (q <- Seq("q71_repetition_filter", "q50_stratified_sample",
        "q52_pii_redact", "q20_quality_score", "q22_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), s"$q shuffles:\n$p")
    }
  }

  test("broadcast-stats joins never sort-merge") {
    // scalar/stats aggregates joined back onto the fact scan must ride a
    // broadcast: a SortMergeJoin here shuffles the whole fact table.
    for (q <- Seq("q73_anomaly_zscore", "q77_winsorized", "q79_kmeans")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q sort-merges:\n$p")
    }
    // q49's 1-row stats ride a broadcast nested-loop cross join
    assert(plan("q49_bm25").contains("Broadcast"))
    // q70's vocabulary join broadcasts the df side
    assert(plan("q70_tfidf_topterms").contains("BroadcastHashJoin"))
    // the star join broadcasts every dimension
    val star = plan("q04_star_join")
    assert(star.contains("BroadcastHashJoin") && !star.contains("SortMergeJoin"))
  }

  test("windowed pipelines never collapse to a single partition") {
    // per-series windows must keep their partition keys; an Exchange
    // SinglePartition means one task sorts the whole corpus. q111 is the
    // acid test: a GLOBAL cumulative sum that must still never plan one.
    for (q <- Seq("q51_token_pack", "q40_gap_fill", "q62_fixed_k_sample",
        "q72_transitions", "q111_curriculum_pack")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q single-partitions:\n$p")
    }
  }

  test("no cartesian product outside the documented q17 baseline") {
    for (q <- Seq("q45_neardup_lsh_verify", "q13_minhash_lsh", "q14_simhash",
        "q57_fuzzy_join", "q15_ngram_jaccard", "q92_ann_pq", "q93_triangles",
        "q94_ann_ivfadc", "q96_passage_dedup", "q98_lexical_topk",
        // ExactSubstr must mark spans via the window-key equi-join — an
        // all-pairs occurrence comparison is the failure mode it exists
        // to avoid
        "q143_substr_dedup",
        // SemDeDup's pairwise step must stay a cell-id equi-join; the only
        // nested-loop allowed is the BROADCAST centroid assignment
        "q107_semdedup", "q110_clean_eval_split",
        // the MRR eval's posting join must stay shingle-keyed
        "q120_self_retrieval_mrr")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q went all-pairs")
    }
  }

  test("q114 OLS outliers: 1-row stats broadcast, top-k pushes down") {
    // the 5-sum global aggregate joins back as a broadcast (never a
    // shuffled join against the corpus), and the final ranking must stay
    // TakeOrderedAndProject — a global Sort would materialize the corpus
    // on one task at 100 TB
    val p = plan("q114_residual_outliers")
    assert(p.contains("TakeOrderedAndProject"), s"q114 lost top-k pushdown:\n$p")
    assert(p.contains("Broadcast"), s"q114 stats join lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q114 sort-merges the corpus:\n$p")
  }

  test("q115/q117 corpus expansions stay join-free two-phase aggregates") {
    // epoch explode (q115) and BPE pair generation (q117) are IN-ROW
    // Generates; the only shuffle either may plan is the partial/final
    // hash aggregate on the (epoch,shard)/pair key
    for (q <- Seq("q115_epoch_shuffle", "q117_bpe_pairs")) {
      val p = plan(q)
      assert(p.contains("Generate"), s"$q lost its in-row expansion:\n$p")
      assert(p.contains("HashAggregate"), s"$q lost hash aggregation:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs:\n$p")
    }
    assert(plan("q117_bpe_pairs").contains("TakeOrderedAndProject"),
      "q117 lost top-k pushdown")
    // q118's merge application must stay per-row projections: the only
    // exchange is the final per-lang aggregate
    val p118 = plan("q118_bpe_encode")
    assert(!p118.contains("Join") && !p118.contains("CartesianProduct"),
      s"q118 grew a join:\n$p118")
  }

  test("q121 perceptron: every training round broadcasts, corpus never sort-merges") {
    // three unrolled iterations = three 4-number weight rows broadcast
    // back onto the feature scan; a SortMergeJoin anywhere means a
    // training round shuffled the corpus
    val p = plan("q121_perceptron_quality")
    assert(p.contains("Broadcast"), s"q121 lost its weight broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q121 shuffles the corpus:\n$p")
  }

  test("q108 novelty: shingle aggregates stay two-phase (map-side combine)") {
    // both the document-frequency agg and the per-doc collapse must show
    // partial/final HashAggregate pairs — a single-phase agg shuffles raw
    // shingle rows
    val p = plan("q108_novelty")
    assert(p.contains("HashAggregate"), s"q108 lost hash aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), "q108 went all-pairs")
  }

  test("q95 bloom prescreen probes below the exchange, via broadcast") {
    // the sketch probe must sit on the scan side — BEFORE any shuffle —
    // or the ~100× exchange-bytes cut is silently lost. r15: the sketch
    // ships as a sparkContext BROADCAST probed by a UDF over xxhash64
    // (guide §3.2's manual pattern) instead of a 128 KiB plan literal
    // that was rendered into every plan string and task binary — so the
    // probe now shows as a UDF filter over xxhash64(sh).
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val sp = SparkEntry.queries("q95_bloom_screen")(spark, sf0001)
      .queryExecution.sparkPlan
    val probes = sp.collect {
      case f: FilterExec if f.condition.toString.contains("xxhash64") => f
    }
    assert(probes.nonEmpty, s"q95 lost its bloom probe:\n$sp")
    for (f <- probes) {
      assert(!f.condition.toString.contains("0x"),
        s"q95 sketch regressed to a plan literal: " +
          f.condition.toString.take(200))
      // r15: the scale-gated fan-out may put one REPARTITION_BY_NUM
      // exchange below the probe (parallelizing the single-split scan;
      // a no-op at cluster scale) — what must never sit below the probe
      // is an ENSURE_REQUIREMENTS (aggregation/join) shuffle, which
      // would mean the probe stopped cutting the aggregation's bytes.
      assert(f.collectFirst {
        case e: ShuffleExchangeLike
            if e.shuffleOrigin.toString != "REPARTITION_BY_NUM" => e
      }.isEmpty,
        s"q95 bloom probe sits above an aggregation shuffle:\n$sp")
    }
  }

  test("q92 PQ: codebook and ADC tables broadcast, corpus never sort-merges") {
    // the codebook joins (train + encode) and the per-query distance-table
    // join must all ride broadcasts — a SortMergeJoin would reshuffle the
    // exploded corpus against KB-scale state
    val p = plan("q92_ann_pq")
    assert(p.contains("BroadcastHashJoin"), s"q92 lost its broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q92 sort-merges the corpus:\n$p")
  }

  test("parquet scans receive pushed filters and pruned columns") {
    // predicate pushdown reaches the scan
    assert(plan("q02_pricing_summary").contains("LessThanOrEqual(l_shipdate"))
    // column pruning: q50 touches only (doc_id, lang) of the 5-column table
    assert(plan("q50_stratified_sample").contains("struct<doc_id:bigint,lang:string>"))
  }

  /** The physical plan of `df` (planning counted by a job listener; the
    * logical plan is optimized first) and the Spark jobs planning started.
    * A sentinel job marks the end: the listener bus delivers in order, so
    * every job planning started is seen before it.
    */
  private def plannedWithJobs(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.execution.SparkPlan, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val qe = df.queryExecution
    qe.optimizedPlan
    val sentinel = s"plan-shape-sentinel-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          done.countDown()
        else if (done.getCount > 0) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val plan = qe.sparkPlan
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (plan, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** A CommitLog snapshot read plans as one parquet scan over the table's
    * own files — deletion vectors a filter inside it, column names mapped
    * inside the reader — with `column`'s filter pushed into the scan, no
    * join, no broadcast, no row-based relation and no job while planning.
    */
  private def assertSnapshotScan(df: org.apache.spark.sql.DataFrame, root: String,
      column: String, dvs: Boolean): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val (p, jobs) = plannedWithJobs(df)
    val scans = p.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one file scan:\n$p")
    val files = scans.head.relation.location.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(root)),
      s"scan reads other files: ${files.mkString(", ")}")
    assert(p.collect { case j: BaseJoinExec => j }.isEmpty, s"join in a snapshot read:\n$p")
    assert(p.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"broadcast:\n$p")
    assert(p.collect { case r: RowDataSourceScanExec => r }.isEmpty, s"row scan:\n$p")
    assert(scans.head.metadata("PushedFilters").contains(column),
      s"no pushed filter on $column:\n${scans.head.metadata}")
    assert(p.toString.contains("dv_live") == dvs, s"DV filter present != $dvs:\n$p")
    assert(jobs == 0, s"physical planning started $jobs Spark job(s)")
  }

  test("CommitLog snapshot reads plan as one scan: DVs, time travel, renamed columns") {
    import org.apache.spark.sql.functions.col
    import graft.sources.CommitLog
    def tmp() = java.nio.file.Files.createTempDirectory("graft-shape").toString
    val root = tmp()
    CommitLog.append(spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1), root)
    CommitLog.append(spark.range(100, 200).selectExpr("id", "id * 2 AS v").coalesce(1), root)
    CommitLog.deleteDV(spark, root, col("id") % 5 === 0)
    val byPath = spark.read.format("graft-commitlog").load(root).filter(col("v") > 10)
    assertSnapshotScan(byPath, root, "v", dvs = true)
    assert(byPath.count() == (0L until 200L).count(i => i % 5 != 0 && i * 2 > 10))
    val name = s"shape_dv_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE TABLE $name USING `graft-commitlog` OPTIONS (path '$root')")
    try {
      assertSnapshotScan(spark.sql(s"SELECT id FROM $name WHERE v > 10"), root, "v", dvs = true)
      val tt = spark.sql(s"SELECT id FROM $name VERSION AS OF 3 WHERE v > 10")
      assertSnapshotScan(tt, root, "v", dvs = true)
      assert(tt.count() == (0L until 200L).count(i => i % 5 != 0 && i * 2 > 10))
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
    val renamed = tmp()
    CommitLog.append(spark.range(100).selectExpr("id", "id AS v").coalesce(1), renamed)
    CommitLog.renameColumn(renamed, "v", "value")
    val mapped = spark.read.format("graft-commitlog").load(renamed).filter(col("value") >= 90)
    assertSnapshotScan(mapped, renamed, "value", dvs = false)
    assert(mapped.collect().map(_.getLong(1)).sorted.toSeq == (90L until 100L))
  }
}
