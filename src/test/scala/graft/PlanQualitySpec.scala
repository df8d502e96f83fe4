package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB safety net (SURVEY.md §4.2).
  * Verifies that Catalyst actually gives us pushdown, pruning,
  * broadcast, and whole-stage codegen on the headline queries, so a
  * scale-up doesn't silently degrade to full scans / shuffle joins.
  */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-quality")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString()
  }

  test("q01: filter is pushed to the parquet scan") {
    val p = plan("q01_pushdown_agg")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"expected l_shipdate in PushedFilters:\n$p")
  }

  test("q01: scan reads only the needed columns (pruning)") {
    val p = plan("q01_pushdown_agg")
    assert(p.contains("ReadSchema"), p)
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"scan should not read unused key columns: $readSchema")
  }

  test("q03: nation join is a broadcast join") {
    val p = plan("q03_join_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin:\n$p")
  }

  test("q01: aggregation has a partial (map-side) phase") {
    val p = plan("q01_pushdown_agg")
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("q01: whole-stage codegen covers the agg pipeline") {
    val df = SparkEntry.queries("q01_pushdown_agg")(spark, sfDir)
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), s"expected WholeStageCodegen spans:\n${p.take(2000)}")
  }

  test("q13: ANN brute-force is a TakeOrderedAndProject (no global sort)") {
    val p = plan("q13_ann_brute")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q14: cosine pairs is an equi-join on grid cells, not a cross join") {
    val p = plan("q14_cos_neardup_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q14 must not cross-join at scale:\n$p")
    assert(p.contains("ckey"), s"expected the grid-cell equi key in the plan:\n$p")
  }

  test("q21: containment join is gram-blocked, not a nested-loop cross") {
    val p = plan("q21_containment_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q21 must not cross-join at scale:\n$p")
  }

  test("q21: at scale the gram join is a shuffled join with the unexploded side as build side") {
    // pin the 100× shape (round-2 VERDICT "What's wrong" #3): with
    // auto-broadcast off (as it would be at real sizes) the gram join
    // must be a shuffled equi-join, and with hash joins allowed the
    // build side must be the SMALLER, UNEXPLODED prefix side (a), not
    // the ~20×-exploded gram side (b).
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p1 = plan("q21_containment_join")
      assert(!p1.contains("BroadcastNestedLoopJoin") && !p1.contains("CartesianProduct")
        && !p1.contains("BroadcastHashJoin"),
        s"q21 with broadcast disabled must shuffle, not broadcast:\n$p1")
      val joinLine = p1.linesIterator.find(_.contains("ShuffledHashJoin")).getOrElse("")
      assert(joinLine.contains("ShuffledHashJoin"),
        s"expected ShuffledHashJoin (shuffle_hash hint on the prefix side):\n$p1")
      assert(joinLine.contains("BuildLeft"),
        s"hash build side must be the unexploded prefix side (left):\n$joinLine\n$p1")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("x06: simhash signatures compute once behind a materialization boundary") {
    // inspect the LAZY plan (the public operator materializes it eagerly
    // and then releases the cache — round-3 unpersist fix)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (df, bands) = graft.ops.TrainingOps.simhashNearDupPairsPlan(docs)
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("InMemoryTableScan"),
        s"expected the persisted signature table on both join sides:\n$p")
      // the expensive fingerprint aggregate must not be inlined into a Filter
      val filterLines = p.linesIterator.filter(_.trim.startsWith("+- Filter")).mkString("\n")
      assert(!filterLines.contains("aggregate("),
        s"simhash aggregate leaked into a Filter:\n$filterLines")
    } finally bands.unpersist()
  }

  test("x13: jaccard pipeline reads the cached signature table, no cross join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (df, caches) = graft.ops.TrainingOps.jaccardNearDupPairsPlan(docs)
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("InMemoryTableScan"),
        s"expected the persisted hash-array table behind the band join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"x13 must stay an equi-join pipeline:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("x06/x13/x14: caches are released after the result materializes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def cachedRdds(): Int =
      spark.sparkContext.getPersistentRDDs.size
    // run each operator end-to-end; afterwards the only persistent RDDs
    // allowed to remain are the (tiny, ContextCleaner-GC'd) localCheckpoint
    // results — the big signature/band/edge caches must be gone. We assert
    // by delta: each call may add at most its own small checkpoint blocks,
    // not a monotonically growing cache (the round-2 leak re-ran Verify
    // twice and hit "already cached" WARNs).
    val before = cachedRdds()
    graft.ops.TrainingOps.simhashNearDupPairs(docs).count()
    graft.ops.TrainingOps.jaccardNearDupPairs(docs).count()
    graft.ops.TrainingOps.dupComponents(docs).count()
    val mid = cachedRdds()
    graft.ops.TrainingOps.simhashNearDupPairs(docs).count()
    graft.ops.TrainingOps.jaccardNearDupPairs(docs).count()
    graft.ops.TrainingOps.dupComponents(docs).count()
    // poll rather than one fixed sleep: the ops release via
    // unpersist(blocking=false) and ContextCleaner GC, both asynchronous —
    // a single 500 ms nap made this assert timing-dependent (the r4
    // pageRank flake class)
    val deadline = System.nanoTime() + 10000000000L
    while (cachedRdds() > mid + 3 && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
    }
    val after = cachedRdds()
    assert(after <= mid + 3,
      s"persistent RDDs grow across invocations: before=$before mid=$mid after=$after")
  }

  test("x56: first-occurrence pick is a min-struct aggregate, not a hot-key window") {
    // a row_number window over the line fingerprint would funnel every
    // occurrence of a mega-frequent line (a boilerplate footer at corpus
    // scale) through ONE partition; the aggregate gets map-side combine
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (df, lines) = graft.ops.TrainingOps.paragraphDedupPlan(docs)
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("Window"),
        s"first-occurrence selection must not use a window:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"the exploded line table must persist once and feed both the " +
          s"aggregate and the join-back:\n$p")
      // same tightening as the x48 pin: require the min itself
      assert(p.contains("partial_min"),
        s"expected a partial_min (map-side combinable) on the line key:\n$p")
    } finally lines.unpersist()
  }

  test("x48: first-occurrence pick is a min-struct aggregate, not a hot-gram window") {
    // a row_number window partitioned by the gram fingerprint would funnel
    // every corpus occurrence of one boilerplate 13-gram through ONE task
    // (VERDICT r04 what's-wrong #3); the aggregate gets map-side combine —
    // the same pin x56 carries for line fingerprints
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.ops.TrainingOps.repeatedDupWindows(docs, 13)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Window"),
      s"x48 first-occurrence selection must not use a window:\n$p")
    // specifically the map-side-combinable MIN — an || partial_ fallback
    // would be satisfied by any unrelated partial aggregate in the plan
    assert(p.contains("partial_min"),
      s"expected a partial_min (map-side combinable) on the gram key:\n$p")
  }

  test("x59: edit-distance pipeline reads the cached text table, equi-joins only") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (df, caches) = graft.ops.TrainingOps.editNearDupPairsPlan(docs)
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("InMemoryTableScan"),
        s"expected the persisted norm/signature table behind bands + verify:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"the O(len²) DP must run only on band-bucketed candidates:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("x64: cross-corpus band join reads both cached signature tables, no cross join") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = d.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(13L)) =!= 0)
    val ref = d.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(13L)) === 0)
    val (df, caches) = graft.ops.TrainingOps.crossNearDupPlan(corpus, ref)
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"expected BOTH persisted signature tables behind the band join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"x64 must stay an equi-join pipeline:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("x56/x59: caches are released after the result materializes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def cachedRdds(): Int = spark.sparkContext.getPersistentRDDs.size
    val before = cachedRdds()
    graft.ops.TrainingOps.paragraphDedup(docs).count()
    graft.ops.TrainingOps.editNearDupPairs(docs).count()
    val mid = cachedRdds()
    graft.ops.TrainingOps.paragraphDedup(docs).count()
    graft.ops.TrainingOps.editNearDupPairs(docs).count()
    // poll, don't nap (async unpersists — the r4 pageRank flake class)
    val deadline = System.nanoTime() + 10000000000L
    while (cachedRdds() > mid + 2 && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
    }
    val after = cachedRdds()
    assert(after <= mid + 2,
      s"persistent RDDs grow across invocations: before=$before mid=$mid after=$after")
  }

  test("x19: decontamination broadcasts the benchmark gram set, never shuffles the corpus grams") {
    val p = plan("x19_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus gram side must not shuffle for the semi-join:\n$p")
  }

  test("x20: hash sample is a pure pushed filter, no shuffle at all") {
    val p = plan("x20_hash_sample")
    // the only exchange allowed is the final presentation sort
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"sampling must not shuffle data:\n$p")
    assert(p.contains("Filter"), p)
  }

  test("x21: tf-idf joins document frequencies by broadcast") {
    val p = plan("x21_tfidf_top_terms")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary-sized df table must broadcast back:\n$p")
  }

  test("x29: LSH ANN is top-M candidates (no global sort) joined by broadcast") {
    val p = plan("x29_ann_lsh")
    assert(p.contains("TakeOrderedAndProject"),
      s"Hamming top-M and final top-k must be TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the M-row candidate set must broadcast into the verify join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x30: pack pass 2 windows PER BUCKET — no single-partition global window") {
    val (df, toks) = graft.ops.TrainingOps.packSequencesPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("Window"), p)
      assert(!p.contains("SinglePartition"),
        s"global prefix sum must not funnel through one partition:\n$p")
      assert(p.contains("hashpartitioning(bucket"),
        s"the running sum must partition by the bucket key:\n$p")
    } finally toks.unpersist()
  }

  test("x31: stratified sample pre-prunes per partition (WindowGroupLimit, partial + final)") {
    // with few strata the rank window has low key parallelism; the saving
    // grace at scale is Spark's group-limit pushdown: every INPUT
    // partition keeps only its own top-nPer per stratum before the
    // shuffle, so the per-stratum sort never sees the full stratum
    val p = plan("x31_stratified_sample")
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"rn<=k must push a partial per-partition group limit:\n$p")
  }

  test("x32: one cached exploded-lines table feeds both the frequency agg and the join-back") {
    val (df, lines) = graft.ops.TrainingOps.deboilerplatePlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = df.queryExecution.executedPlan.toString()
      // each InMemoryTableScan prints its cached subtree, so the raw
      // FileScan text appears once PER branch — the single-materialization
      // pin is: both branches read InMemoryTableScans of the one
      // InMemoryRelation, and no FileScan exists outside a cached subtree
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"both branches must read the cached line table:\n$p")
      val plain = df.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"no leaf may scan the corpus outside the cached line table:\n$p")
    } finally lines.unpersist()
  }

  test("x41: one cached post-cap fingerprint table feeds the self-join sides and size aggregates") {
    val (df, caches) = graft.ops.TrainingOps.winnowContainmentPairsPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = df.queryExecution.executedPlan.toString()
      // two self-join sides + two size-aggregate references — every one
      // must read the single cached fingerprint table, and nothing may
      // recompute the md5 stage from the corpus directly
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3,
        s"all fp references must read the cached table:\n$p")
      val plain = df.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"no leaf may scan the corpus outside the cached fp table:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("x41: the df-cap is a groupBy + anti-join, never a Window keyed on fp") {
    // VERDICT r05 what's-wrong #1: count().over(Window.partitionBy("fp"))
    // funneled every occurrence of a mega-frequent winnow fingerprint
    // through ONE WindowExec task to compute the very df that drops it,
    // and WindowExec partitions cannot be skew-split. The cap must stay a
    // map-side-combinable count + anti-join (the x48 window-free pin
    // template).
    val (df, caches) = graft.ops.TrainingOps.winnowContainmentPairsPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      // optimizedPlan deliberately: it prints the cached (InMemoryRelation)
      // subtrees too, so the cap inside the kept table's build plan is
      // visible — the executed plan would only show InMemoryTableScans
      val p = df.queryExecution.optimizedPlan.toString()
      assert(!p.contains("Window"),
        s"x41 df-cap must not run a window keyed on fp:\n$p")
      assert(p.contains("LeftAnti"),
        s"expected the over-cap fingerprints removed via an anti-join:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("x79: one cached conversation-fingerprint table feeds the group agg and the join-back") {
    val (df, cfp) = graft.ops.TrainingOps.convDedupGroupsPlan(
      graft.Pipeline.turnsFromDocuments(spark, sfDir).toDF())
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"both the group aggregate and the probe must read the cached fp table:\n$p")
      val plain = df.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"no leaf may recompute the conversation fingerprints from the corpus:\n$p")
    } finally cfp.unpersist()
  }

  test("x80: one cached token-mass aggregate feeds the corpus total and the rate projection") {
    val (df, bySource) = graft.ops.TrainingOps.mixtureRatesPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"both the total and the probe must read the cached per-source table:\n$p")
      val plain = df.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"the tokenize scan must run once, inside the cached aggregate:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"the 1-row total must re-enter by broadcast:\n$p")
    } finally bySource.unpersist()
  }

  test("x87: one cached (source, term) count table feeds all three references") {
    val (df, st) = graft.ops.TrainingOps.sourceKlDivergencePlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3,
        s"term counts, source totals, and probe must all read the cache:\n$p")
      val plain = df.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"the tokenize scan must run once, inside the cached count table:\n$p")
    } finally st.unpersist()
  }

  test("x88: one cached distinct (source, term) table feeds the sizes and both self-join sides") {
    val (df, st) = graft.ops.TrainingOps.sourceOverlapPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3,
        s"sizes and both self-join sides must read the cache:\n$p")
      val plain = df.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"the tokenize+distinct must run once, inside the cache:\n$p")
    } finally st.unpersist()
  }

  test("x22/x23: as-of and range joins are equi-joins, never nested loops") {
    for (n <- Seq("x22_asof_join", "x23_range_join")) {
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$n must not plan a nested loop:\n$p")
    }
    // the range join's interval predicate must be a post-filter over the
    // bucket equi-join, not a join condition forcing a nested loop
    val p = plan("x23_range_join")
    assert(p.contains("bkt"), s"expected the time-bucket equi key:\n$p")
  }

  test("x02: metrics never reads the fat text column") {
    val df = SparkEntry.queries("x02_extract_metrics")(spark, sfDir)
    // The extraction stage necessarily reads text, but the metrics
    // aggregation above it must operate on the narrow projection only.
    val agg = df.queryExecution.optimizedPlan.toString()
    assert(agg.contains("payload_kind"), agg)
  }

  test("extraction plan has no shuffle when partitioning is inherited") {
    val turns = Pipeline.turnsFromDocuments(spark, sfDir)
    val p = Pipeline.extractTurns(turns).toDF().queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), s"no-repartition path must not shuffle:\n$p")
  }

  /** Shuffle exchanges in a physical plan string (broadcasts excluded). */
  private def shuffles(plan: String): Int = "(?<![A-Za-z])Exchange ".r.findAllIn(plan).length

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("extraction plan with salting has exactly one exchange") {
    val turns = Pipeline.turnsFromDocuments(spark, sfDir)
    val p = Pipeline.extractTurns(turns, 8).toDF().queryExecution.executedPlan.toString()
    assert(shuffles(p) == 1, s"salted path should repartition once:\n$p")
    // a resumed input: the remainder's re-spread collapses into the
    // salted repartition (the committed keys join by broadcast)
    val out = tempDir("graft-salt-resume")
    Pipeline.writeResults(Pipeline.extractTurns(turns.limit(20)), out)
    val resumed = Pipeline.extractTurns(Pipeline.resume(spark, turns, out), 8)
    val pr = resumed.toDF().queryExecution.executedPlan.toString()
    assert(shuffles(pr) == 1, s"resumed salted path should repartition once:\n$pr")
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // the 100 TB lever for repeated equi-joins on the same key (results
    // joined back to signatures/goldens by doc key): bucket both sides
    // at write time and the join needs no shuffle at all.
    // default warehouse = ./spark-warehouse (gitignored); stale dirs from
    // a previous in-memory catalog survive the DROP, so clear them too
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_stats")
    for (t <- Seq("b_docs", "b_stats")) {
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.select("doc_id", "text")
      .write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_docs")
    docs.selectExpr("doc_id", "length(text) AS n_chars")
      .write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_stats")
    // force the sort-merge path (tiny test tables would auto-broadcast,
    // which hides the bucketing guarantee this asserts)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_docs").join(spark.table("b_stats"), "doc_id")
      val p = joined.queryExecution.executedPlan.toString()
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(joined.count() == docs.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("resume anti-join keeps only un-extracted keys") {
    val ss = spark
    import ss.implicits._
    val turns = Pipeline.turnsFromDocuments(spark, sfDir).limit(20)
    val out = java.nio.file.Files.createTempDirectory("graft-resume").toString
    Pipeline.writeResults(Pipeline.extractTurns(turns), out)
    val all = Pipeline.turnsFromDocuments(spark, sfDir).limit(40)
    val remaining = Pipeline.resume(spark, all, out)
    val done = spark.read.parquet(s"$out/results").select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    val rem = remaining.collect().map(t => (t.conv_id, t.turn_idx)).toSet
    assert(rem.intersect(done).isEmpty, "resume must exclude committed keys")
    assert(rem.size == 40 - done.size, s"expected ${40 - done.size} remaining, got ${rem.size}")
    // lineage rows exist and row counts reconcile
    val lineageN = spark.read.parquet(s"$out/lineage").selectExpr("sum(n_rows)").head().getLong(0)
    assert(lineageN == done.size.toLong, s"lineage rows $lineageN != results ${done.size}")
  }

  test("resume treats a _temporary-only results dir as a fresh run (first-write SIGKILL)") {
    // a job killed during its FIRST write leaves results/ holding only
    // the uncommitted _temporary — resume must process everything, not
    // die on parquet schema inference over zero committed files
    // (ADVICE r02); the subsequent append completes to exactly-once.
    val ss = spark
    import ss.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-firstkill").toString
    assert(new java.io.File(s"$out/results/_temporary/0/task_dead/").mkdirs())
    val all = Pipeline.turnsFromDocuments(spark, sfDir).limit(25)
    val remaining = Pipeline.resume(spark, all, out)
    assert(remaining.count() == 25, "resume over an uncommitted-only dir must be a fresh run")
    Pipeline.appendResults(Pipeline.extractTurns(remaining), out)
    val keys = spark.read.parquet(s"$out/results")
      .select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(keys.length == 25 && keys.distinct.length == 25,
      s"expected 25 unique keys, got ${keys.length}/${keys.distinct.length}")
    // and the dead attempt's dir is gone (purged before the append commit)
    assert(!new java.io.File(s"$out/results/_temporary/0/task_dead").exists())
  }

  test("resume append purges a dead attempt's _temporary task outputs") {
    val ss = spark
    import ss.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-stale").toString
    val first20 = Pipeline.turnsFromDocuments(spark, sfDir).limit(20)
    Pipeline.writeResults(Pipeline.extractTurns(first20), out)
    // plant a dead job's committed-task output where the next append's
    // v1 committer would sweep it into the commit
    val stale = new java.io.File(s"$out/results/_temporary/0/task_202608160000_0007_m_000000")
    assert(stale.mkdirs())
    val donor = new java.io.File(s"$out/results").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(stale, donor.getName.replace("part-00000", "part-00999")).toPath)
    val all40 = Pipeline.turnsFromDocuments(spark, sfDir).limit(40)
    val remaining = Pipeline.resume(spark, all40, out)
    Pipeline.appendResults(Pipeline.extractTurns(remaining), out)
    val keys = spark.read.parquet(s"$out/results")
      .select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(keys.length == 40, s"stale attempt leaked: ${keys.length} rows, expected 40")
    assert(keys.distinct.length == 40, "duplicate keys after resume")
  }

  test("resume is null-safe: a committed null conv_id is not extracted again") {
    val ss = spark
    import ss.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    val turns = Seq(
      model.Turn(null, 0, "user", "a turn without a conversation id", "plain", ts),
      model.Turn("c1", 0, "user", "a turn with one", "plain", ts)).toDS()
    val out = tempDir("graft-nullkey")
    Pipeline.writeResults(Pipeline.extractTurns(turns), out)
    for (_ <- 1 to 2)
      Pipeline.appendResults(Pipeline.extractTurns(Pipeline.resume(spark, turns, out)), out)
    val keys = spark.read.parquet(s"$out/results")
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSeq
    assert(keys.count(_ == ((null, 0))) == 1 && keys.length == 2,
      s"expected one row per key after two resumes, got ${keys.mkString(", ")}")
  }

  test("resume re-spreads a remainder of whole committed files over the input's partition count") {
    val ss = spark
    import ss.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    val turns = (0 until 4800).map(i => model.Turn(f"c${i / 10}%04d", i % 10, "user", s"turn $i", "plain", ts))
    val in = tempDir("graft-resume-skew") + "/turns"
    turns.grouped(800).foreach(_.toDS().coalesce(1).write.mode("append").parquet(in))
    val out = tempDir("graft-resume-skew-out")
    // a large open cost scans each of the six files as its own partition
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (1L << 30).toString)
    try {
      Pipeline.writeResults(Pipeline.extractTurns(turns.take(1600).toDS()), out)
      val all = Pipeline.turnsSchemaDf(spark, in)
      assert(all.rdd.getNumPartitions == 6)
      // two of the six splits are fully committed: kept as they are, the
      // remainder would read 0/0/800/800/800/800 (max/mean 1.5)
      val sizes = Pipeline.resume(spark, all, out).mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.length == 6, s"remainder has ${sizes.length} partitions, the input 6")
      assert(sizes.sum == 3200)
      val skew = sizes.max / (sizes.sum.toDouble / sizes.length)
      assert(skew <= 1.25, s"remainder partition sizes ${sizes.mkString("/")}: max/mean $skew")
    } finally spark.conf.set(key, prev)
  }

  test("results write deserializes no ExtractionResult (lineage fuses with the extraction)") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    listeners.register(listener)
    try {
      val out = tempDir("graft-fused")
      Pipeline.writeResults(Pipeline.extractTurns(Pipeline.turnsFromDocuments(spark, sfDir)), out)
      // listener delivery is async
      def write = plans.toArray(Array.empty[String]).find(_.contains(s"$out/results"))
      val deadline = System.nanoTime() + 30e9.toLong
      while (write.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val p = write.getOrElse(fail("the results write was not reported"))
      assert(p.contains("DeserializeToObject newInstance(class graft.model.Turn)"), p)
      assert(!p.linesIterator.exists(l => l.contains("DeserializeToObject") && l.contains("ExtractionResult")),
        s"the results write deserializes ExtractionResult rows:\n$p")
    } finally listeners.unregister(listener)
  }

  test("a failed derived-table write is rethrown after every sink job has ended") {
    val out = tempDir("graft-sinkfail")
    // an overwrite clears a plain file in its way; a dangling symlink reads
    // as absent, and no directory can be made over it
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$out/metrics_rolling"), java.nio.file.Paths.get(s"$out/missing/dir"))
    val turns = Pipeline.turnsFromDocuments(spark, sfDir).limit(20)
    val e = intercept[Exception](Pipeline.writeResults(Pipeline.extractTurns(turns), out))
    assert(String.valueOf(e.getMessage).contains("metrics_rolling"), e.toString)
    org.apache.spark.graftshim.ListenerBus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a sink job was still running when the failure surfaced")
    for (t <- Seq("results", "lineage", "metrics"))
      assert(new java.io.File(s"$out/$t/_SUCCESS").exists(), s"$t/ did not commit")
  }

  test("salting spreads a hot conversation across partitions") {
    val ss = spark
    import ss.implicits._
    // corpus has one deliberately hot conversation (100 turns; FIXTURES §2)
    val corpus = new GoldenParitySpec().corpus
    val hot = corpus.groupBy(_.conv_id).maxBy(_._2.size)._1
    val ds = Pipeline.salted(spark.createDataset(corpus), 8)
    val partsForHot = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map(t => (pid, t.conv_id))
    }.filter(_._2 == hot).map(_._1).distinct().collect()
    assert(partsForHot.length >= 4,
      s"hot conversation $hot should spread over >=4 of 8 partitions, got ${partsForHot.length}")
  }

  test("Spark pipeline output equals the pure-function goldens (engine-level parity)") {
    val ss = spark
    import ss.implicits._
    // run the committed corpus through the DISTRIBUTED path and compare
    // a sample of turns against Extractor.extract run locally.
    val corpus = new GoldenParitySpec().corpus
    val ds = spark.createDataset(corpus)
    val distributed = Pipeline.extractTurns(ds, 8).collect()
    val local = corpus.map(Extractor.extract)
    val dMap = distributed.map(r => ((r.conv_id, r.turn_idx), r)).toMap
    for (l <- local) {
      val d = dMap((l.conv_id, l.turn_idx))
      assert(d.text == l.text && d.summary == l.summary && d.status == l.status,
        s"distributed != local for ${l.conv_id}/${l.turn_idx}")
    }
  }

  // --- round-4: x21 TF-IDF scale shape (VERDICT r03 next #2) ---------------

  test("x21: plan construction is lazy — no corpus-count action, N is an in-plan zero-column aggregate") {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a bare spark.read.parquet runs a schema-inference/listing job of
      // its own, which is not what this spec polices. Warm that path
      // once (unmeasured), then measure a SECOND bare read — the exact
      // job cost of the one read the query builder performs in the same
      // warm state. Any action the builder adds (the old eager
      // docs.count()) then strictly exceeds the baseline.
      spark.read.parquet(s"$sfDir/documents.parquet")
      Thread.sleep(500)
      val jobs0 = jobs
      spark.read.parquet(s"$sfDir/documents.parquet")
      Thread.sleep(500)
      val baseline = jobs - jobs0
      val jobs1 = jobs
      val df = SparkEntry.queries("x21_tfidf_top_terms")(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString()
      // Listener delivery is async; a count() would have completed
      // synchronously above, so a short drain window suffices.
      Thread.sleep(500)
      val built = jobs - jobs1
      assert(built <= baseline,
        s"building the TF-IDF plan ran $built job(s) where a bare warm read runs " +
          s"$baseline — the separate corpus-count action is back")
      // N rides the same job as a 1-row aggregate whose scan reads ZERO
      // data columns (count-only pruning)
      assert(p.contains("struct<>"),
        s"expected a zero-column count scan feeding N:\n$p")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("x21: correct under either document-frequency join strategy (no forced broadcast)") {
    // dfreq is vocabulary-sized: broadcastable on clean prose, NOT on a
    // web-scale vocabulary of typo/numeric tokens — so the operator
    // leaves the strategy to AQE and must be right both ways.
    def run() = SparkEntry.queries("x21_tfidf_top_terms")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val auto = run()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("x21_tfidf_top_terms")(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString()
      // the 1-row N cross-join stays an explicit broadcast (fine at any
      // scale); the dfreq join must become a shuffled equi-join, never
      // a cartesian
      assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"with broadcast off the dfreq join must shuffle:\n$p")
      assert(run() == auto, "shuffled-join results differ from broadcast-join results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // --- round-4: x39 Bloom decontamination (the no-broadcast regime) --------

  test("x39: Bloom sketch prefilters the corpus map-side; exact verify join works shuffled; result == x19") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // the regime this variant exists for: benchmark grams too big to
    // broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (plan, bGrams) = graft.ops.TrainingOps.decontaminateBloomPlan(docs, bench)
      try {
        val p = plan.queryExecution.executedPlan.toString()
        assert(p.contains("might_contain"),
          s"expected the native Bloom probe on the corpus gram side:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"verify join must stay an equi-join:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"with broadcast off the verify join must shuffle:\n$p")
        val got = plan.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = graft.ops.TrainingOps.decontaminate(docs, bench)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == exact,
          s"Bloom variant must be exact: extra=${(got -- exact).take(3)} missing=${(exact -- got).take(3)}")
        assert(exact.nonEmpty, "decontamination fixture must produce hits")
      } finally bGrams.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x53: hashed quality scorer is map-only — no Generate, only the presentation sort shuffles") {
    val p = plan("x53_hashed_quality")
    assert(!p.contains("Generate"),
      s"bigram scoring must stay a per-row higher-order projection, not an explode:\n$p")
    // rangepartitioning for the deterministic-oracle orderBy is the
    // single allowed exchange; a real sink drops it entirely
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"scorer must not shuffle data:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no aggregation/join shuffle in a map-only op:\n$p")
  }

  test("x95: per-anchor top-k pushes a partial group limit; buckets equi-join off one cache") {
    val (df, caches) = graft.ops.TrainingOps.hardNegativesPlan(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
        s"rk<=k must push a partial per-partition group limit:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"bucket candidates must come from an equi-join:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"both bucket-join sides must read the one cached key table:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("x94: decontamination candidates are corpus x bench band pairs, never a corpus self-join") {
    val (df, caches) = graft.ops.TrainingOps.semanticDecontaminatePlan(
      SparkEntry.clusteredEmbeddings(spark, sfDir))
    try {
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"band candidates must come from an equi-join:\n$p")
      assert(p.contains("pmod"),
        s"the bench/corpus periodic split must gate both band sides:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"both band sides must read the one cached signature table:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("x96: fence and stats aggregates re-enter by broadcast") {
    val p = plan("x96_winsorize_scores")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"both tiny per-source aggregates must broadcast back:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x98: epoch-shard assignment is map-only — the presentation sort is the only exchange") {
    val p = plan("x98_epoch_shards")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no aggregation/join shuffle in a map-only assignment:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"only the deterministic-oracle sort may shuffle:\n$p")
  }

  test("x101: the Gopher rule bundle is one map-only projection") {
    val p = plan("x101_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      s"flag rules must not shuffle or join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"only the presentation sort may shuffle:\n$p")
  }

  test("x105: coverage shuffles only the two bounded aggregates") {
    // one corpus-wide term aggregate + one ≤64-row bucket aggregate; the
    // running sum then rides a bounded single-partition window by design
    val p = plan("x105_vocab_coverage")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"only term + bucket aggregates may hash-shuffle:\n$p")
  }

  test("x107: the resample top-k is a TakeOrderedAndProject, never a global sort") {
    val p = plan("x107_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must not materialize a full sort:\n$p")
  }

  test("star round: every exchange in the contraction round has a fixed partition count") {
    // x14/x37's loop runs starRoundPlan once per round. A repartition
    // without a count is advisory (REPARTITION_BY_COL), which AQE may
    // coalesce or re-plan from run to run; the star steps pin
    // defaultParallelism instead. Checked over the loop's real input
    // boundary (a checkpointed edge scan) in the shuffle-join regime —
    // at this scale every join would otherwise broadcast.
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val (edges, edgeIds) = graft.ops.TrainingOps.trackedCheckpoint(
      spark.range(0, 64).selectExpr("id AS u", "id + 1 AS v"))
    try {
      val p = graft.ops.TrainingOps.starRoundPlan(edges)
        .queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(!exchanges.exists(_.contains("REPARTITION_BY_COL")),
        s"a loop-internal exchange has no fixed partition count:\n$p")
      val n = spark.sparkContext.defaultParallelism
      assert(exchanges.exists(l => l.contains("REPARTITION_BY_NUM") && l.contains(s", $n)")),
        s"the star steps must repartition by u into defaultParallelism = $n:\n$p")
    } finally {
      graft.ops.TrainingOps.releaseRdds(edges, edgeIds)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("x110 core: the Generate barriers keep the md5 shingle chain computed once") {
    // the stateless core cannot persist (it must run as a streaming
    // plan), so its shingle/hash arrays are pinned behind explode-of-one
    // Generates — if CollapseProject ever re-inlines them, the 8 minhash
    // columns each re-derive the per-shingle md5 chain (the 45.7 s
    // regression this spec pins out). Counted on the OPTIMIZED plan:
    // re-inlining multiplies the per-shingle-hash pattern ~8×.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(13L)) =!= 0)
    val ref = docs.filter(pmod(col("doc_id"), lit(13L)) === 0)
    val (refFp, base, buckets, _) = graft.ops.TrainingOps.ingestRefTables(ref)
    try {
      val pFull = graft.ops.TrainingOps
        .ingestCurateCore(corpus, refFp, buckets, 0.8)
        .queryExecution.optimizedPlan.toString
      // Scope the count to the STREAMING CORE's own operators (ADVICE
      // r05): toString prints the persisted ref tables' cached subtrees
      // under each InMemoryRelation, and those legitimately contain the
      // build-time md5 chain — counting them would couple this spec to
      // the ref-side plan shape. Prune every line indented below an
      // InMemoryRelation before counting.
      val p = {
        val out = scala.collection.mutable.Buffer[String]()
        var skipIndent = -1
        for (l <- pFull.linesIterator) {
          val indent = math.max(l.indexWhere(c => !" +-:".contains(c)), 0)
          if (skipIndent >= 0 && indent > skipIndent) ()
          else if (l.contains("InMemoryRelation")) { skipIndent = indent; out += l }
          else { skipIndent = -1; out += l }
        }
        out.mkString("\n")
      }
      assert(p.linesIterator.count(_.contains("Generate explode")) >= 2,
        s"the shingle and hash barriers must survive optimization:\n${p.take(4000)}")
      val shingleHashes = "conv\\(substring\\(md5".r.findAllIn(p).length
      assert(shingleHashes <= 5,
        s"per-shingle md5 chain inlined $shingleHashes times — barrier lost")
    } finally { refFp.unpersist(); base.unpersist(); buckets.unpersist() }
  }
}
