package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Plan-shape assertions for the properties the 100 TB design depends on.
  * Row-level correctness is the oracle gate's job; these tests pin the
  * PHYSICAL plans: filters must reach the parquet scan, dimension joins
  * must broadcast, map-only operators must not shuffle. A regression here
  * is invisible at sf0.01 and fatal at scale.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = {
    df.collect() // let AQE finalize so the asserted plan is the executed one
    df.queryExecution.executedPlan.toString
  }

  test("temporal extent pushes into the parquet scan as a raw-column filter") {
    val p = plan(Tables.eventsRanged(spark, sfDir, "2024-01-05", "2024-01-10")
      .select("event_id"))
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"ts range must appear in PushedFilters:\n$p")
  }

  test("bbox filter pushes x/y predicates to the scan") {
    val p = plan(Tables.lineitem(spark, sfDir)
      .filter(col("l_partkey") >= 16 && col("l_partkey") < 48)
      .select("l_partkey"))
    assert(p.contains("GreaterThanOrEqual(l_partkey,16)") &&
      p.contains("LessThan(l_partkey,48)"),
      s"x range must reach PushedFilters:\n$p")
  }

  test("q5 dimension joins are broadcast, not shuffled") {
    val p = plan(SparkEntry.queries("q5_region")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q1 aggregates with a map-side partial before the exchange") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, sfDir))
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0,
      s"expected HashAggregate and Exchange:\n$p")
    assert(p.contains("partial_sum"),
      s"expected partial (map-side) aggregation before the exchange:\n$p")
    assert(p.contains("*("), "aggregation must be whole-stage codegen")
  }

  test("fitted tree scoring is map-only: no Exchange, no join in the plan") {
    // training collects metadata-sized histograms at plan time; the
    // RETURNED query must be a pure literal CASE chain over the scan
    val p = plan(SparkEntry.queries("ml_tree_fit")(spark, sfDir))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"tree scoring must be a zero-shuffle literal map:\n$p")
  }

  test("forest and boost scoring are map-only literal CASE chains") {
    Seq("ml_forest_fit", "ml_boost_fit", "ml_cv_ridge").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("Exchange") && !p.contains("Join"),
        s"$q scoring must be a zero-shuffle literal map:\n$p")
    }
  }

  test("JL projection is a pure map: signs are literals, no Exchange") {
    val p = plan(SparkEntry.queries("embed_project")(spark, sfDir))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"projection must be a zero-shuffle literal map:\n$p")
    assert(p.contains("*("), "projection must be whole-stage codegen")
  }

  test("collocations: unigram/total tables broadcast back to the bigrams") {
    val full = plan(SparkEntry.queries("text_collocations")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"unigram counts must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus-sized join allowed:\n$p")
  }

  test("naive bayes: corpus joins only broadcast sides, no row-to-row join") {
    val full = plan(SparkEntry.queries("ml_nb_fit")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"),
      s"the NB grid and marginals must broadcast:\n$p")
  }

  test("k-center assignment is map-only over center literals") {
    val p = plan(SparkEntry.queries("embed_kcenter")(spark, sfDir))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assignment must be a zero-shuffle literal map:\n$p")
  }

  test("winnow overlap: bucket cap broadcasts, no cartesian, no window sort") {
    val p = plan(SparkEntry.queries("text_winnow_overlap")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"cap filter must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"pair generation must stay a keyed fp join:\n$p")
  }

  test("scale ops are map-only: no Exchange in the plan") {
    val p = plan(SparkEntry.queries("scale_clip")(spark, sfDir))
    assert(!p.contains("Exchange"), s"scaling must not shuffle:\n$p")
    assert(p.contains("*("), "scaling must be whole-stage codegen")
  }

  test("text analysis is map-only: no Exchange in the plan") {
    val p = plan(SparkEntry.queries("text_langid")(spark, sfDir))
    assert(!p.contains("Exchange"), s"langid must not shuffle:\n$p")
  }

  test("AUC/PR windows run on the collapsed score grid, not corpus rows") {
    // SCALE.md §1: the only legal unpartitioned windows sit above a
    // grid-collapsing aggregate (≤10001 distinct rnd4 scores) or a
    // distributed top-k. Representative guard: in ml_eval_auc/_pr the
    // Window's subtree must reach HashAggregate(keys=[score…]) before
    // any file scan — i.e. the corpus collapses BELOW the window.
    for (q <- Seq("ml_eval_auc", "ml_eval_pr")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      val w = p.indexOf("Window")
      assert(w >= 0, s"$q: expected a Window node:\n$p")
      val below = p.substring(w)
      val agg = below.indexOf("HashAggregate(keys=[score")
      assert(agg >= 0,
        s"$q: window must sit above the score-grid aggregate:\n$p")
      val scan = below.indexOf("FileScan")
      assert(scan < 0 || agg < scan,
        s"$q: the grid collapse must happen between window and scan:\n$p")
    }
  }

  test("simhash signatures are map-side: exactly one Exchange (sig groupBy)") {
    val full = plan(SparkEntry.queries("dedup_simhash")(spark, sfDir))
    // AQE's toString repeats the plan under "== Initial Plan =="; count
    // shuffles in the executed (final) section only
    val p = full.split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1,
      s"simhash must shuffle only the O(docs) signature groupBy, found $n:\n$p")
  }

  test("first-wins dedup: two bucket-key Exchanges plus the per-doc regroup, no sort") {
    val full = plan(SparkEntry.queries("dedup_online")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // sigs groupBy(band,sig) owners + sigs→join repartition share the
    // bucket key; the only other shuffle is the O(docs) doc_id regroup
    assert(n <= 3, s"first-wins dedup grew extra shuffles ($n):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"bucket join must stay hash-based (no full-corpus sort):\n$p")
  }

  test("sequence packing: one source-partitioned window, no global sort") {
    val full = plan(SparkEntry.queries("text_pack")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"packing must shuffle once on source, found $n:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"packing must not globally sort:\n$p")
  }

  test("rag pipeline: chunk+embed map-side, queries broadcast, one top-k window") {
    val full = plan(SparkEntry.queries("pipeline_rag")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    // the corpus side must only ever meet a BROADCAST query side — any
    // sort-merge/shuffled-hash join here would co-shuffle the chunk set
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast against the chunk scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rag chain must not shuffle a join side:\n$p")
    // chunking + embedding are projections: the only shuffle is the
    // per-query top-k window
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"rag chain must shuffle once (top-k window), found $n:\n$p")
  }

  test("diversity sample: cell assign map-side, one cell-window Exchange") {
    val full = plan(graft.sim.Ann.diversitySample(
      Tables.embeddings(spark, sfDir), perCell = 8))
    val p = full.split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1,
      s"diversity sample must shuffle once on cell, found $n:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"cell assignment must be pure column math, not a join:\n$p")
  }

  test("novelty: gram image map-side, hash joins only, no corpus sort") {
    val full = plan(SparkEntry.queries("text_novelty")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"),
      s"gram join must stay hash-based:\n$p")
    // grams Exchange + first-carrier groupBy + verdict regroup — all keyed
    // on fixed-width hashes or doc ids, never a full-text shuffle
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 3, s"novelty grew extra shuffles ($n):\n$p")
  }

  test("mlp predict is map-only after the scan: no Exchange") {
    val full = plan(SparkEntry.queries("ml_predict_mlp")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    assert(!p.contains("Exchange"),
      s"real-weights predict must stay map-only:\n$p")
  }

  test("decontamination broadcasts the benchmark; corpus never shuffles") {
    val full = plan(SparkEntry.queries("text_decontaminate")(spark, sfDir))
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$p")
    // only the benchmark distinct + the per-doc hit count shuffle — the
    // corpus side is Generate → map-side join, no Exchange
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 Exchanges (bench distinct, hit count), got $n:\n$p")
  }

  test("brute-force ANN never shuffles the corpus: broadcast nested loop") {
    val p = plan(SparkEntry.queries("ann_topk")(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast against the corpus scan:\n$p")
  }

  test("ivf: corpus never sorts; queries broadcast; sample is a top-K") {
    // cell assignment + ranking join: the corpus side must hash-join
    // against the BROADCAST query/probe side — a sort-merge join would
    // pay a corpus sort per query batch
    val p = plan(SparkEntry.queries("ann_ivf")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"probe join must broadcast the query side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus sort-merge in the ivf plan:\n$p")
    // quantizer sampling: orderBy(md5).limit must lower to a distributed
    // top-K (TakeOrderedAndProject), NEVER a global sort of the corpus —
    // this is what makes seededCentroids O(sampleN) driver work at any
    // corpus size
    val emb = Tables.embeddings(spark, sfDir)
    val sample = emb
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("_r"))
      .orderBy(col("_r"), col("vec_id")).limit(256)
    val sp = plan(sample)
    assert(sp.contains("TakeOrderedAndProject"),
      s"sample must be a top-K, not a global sort:\n$sp")
  }

  test("pq scans: codes and tables are map-side, every join broadcasts") {
    // ann_pq: encode is a projection over the scan; the ADC join and both
    // refine joins carry a broadcast side — the corpus must never land in
    // a sort-merge or shuffled-hash join in either stage
    for (q <- Seq("ann_pq", "ann_ivfpq")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: corpus must only meet broadcast sides:\n$p")
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q: query side must broadcast:\n$p")
    }
  }

  test("quantized scans (sq8, binary): corpus only meets broadcast sides") {
    // encode/dequantize/signature-pack are projections over the scan; the
    // ranking join and (for binary) both refine joins must carry a
    // broadcast side — the corpus never lands in a sort-merge or
    // shuffled-hash join
    for (q <- Seq("ann_sq8", "ann_binary")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: corpus must only meet broadcast sides:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q: query side must broadcast against the corpus scan:\n$p")
    }
  }

  test("bloom build is partial-aggregated map-side; probe side broadcasts " +
    "the filter") {
    val p = plan(SparkEntry.queries("text_bloom_overlap")(spark, sfDir))
    // the 32 KB filter reduces map-side before one single-row exchange
    assert(p.contains("partial_bloom"),
      s"bloom aggregate must have a map-side partial:\n$p")
    // the probe meets the one-row filter via a broadcast nested loop —
    // only the exact-membership truth twin is allowed a real join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the filter must broadcast to the probe scan:\n$p")
  }

  test("lexical search: the term filter runs map-side before any exchange") {
    val p = plan(SparkEntry.queries("text_search_lexical")(spark, sfDir))
    // the IN-filter on query terms must sit under the postings aggregate
    // (scan → explode → Filter → partial agg), so only the query's terms
    // ever shuffle — the bucketed-postings read pattern at lake scale
    val fi = p.indexOf("IN (hash,merge,window)")
    assert(fi >= 0, s"no term IN-filter in the plan:\n$p")
    // top-down plan print: deeper (earlier-executing) operators appear
    // later — the filter must be deeper than the map-side partial agg
    val pa = p.indexOf("partial_count")
    assert(pa >= 0 && fi > pa,
      s"term filter must execute before the postings aggregation:\n$p")
  }

  test("bucketed tables co-locate the join: no Exchange on either side") {
    import graft.core.Tables
    import graft.sources.Sinks
    Seq("b_lineitem", "b_orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    Sinks.saveBucketed(Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity"), "b_lineitem", 8, Seq("l_orderkey"))
    Sinks.saveBucketed(Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate"), "b_orders", 8, Seq("o_orderkey"))
    // at test scale the planner would broadcast instead (also bucket-free);
    // disable broadcast to surface the merge-join path a fact-fact join of
    // two 100 TB tables would take
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected merge join:\n$p")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("projection pruning reaches the scan (ReadSchema is narrow)") {
    val p = plan(Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(sum("l_quantity")))
    val schema = p.linesIterator.find(_.contains("ReadSchema:"))
      .getOrElse(fail(s"no ReadSchema in plan:\n$p"))
    assert(schema.contains("l_returnflag") && schema.contains("l_quantity") &&
      !schema.contains("l_extendedprice") && !schema.contains("l_comment"),
      s"scan must read only the two referenced columns:\n$schema")
  }

  test("resampleProjection is one aggregation: exactly one Exchange") {
    import graft.cube.{Crs, DataCube}
    val cube = DataCube(Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_partkey"), lit(64)).as("x"),
        pmod(col("l_suppkey"), lit(64)).as("y"),
        col("l_returnflag").as("band"),
        col("l_quantity").cast("double").as("value")))
      .withCrs(Crs(32633, a = 10.0, c = 500000.0, e = -10.0, f = 4500000.0))
    val p = plan(cube.resampleProjection(
      Crs(32633, a = 25.0, c = 500000.0, e = -25.0, f = 4500000.0)).df)
      .split("== Initial Plan ==")(0) // AQE toString repeats the pre-AQE plan
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1,
      s"re-grid must be column math + one reduce shuffle, got $n:\n$p")
  }

  test("ridge probe: moment partials map-side, weights broadcast, no " +
    "data-row hash exchange") {
    val p = plan(SparkEntry.queries("text_quality_fit")(spark, sfDir))
    // training: the 14 moment sums must partial-aggregate before their
    // single-partition reduce — the only tolerable exchange of a global
    // fit at 100 TB
    assert(p.contains("partial_sum"),
      s"moments must map-side partial-aggregate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no data row may shuffle for a global fit:\n$p")
    // scoring: the 1-row weight table joins back as a broadcast, never a
    // repartition of the corpus
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"weights must broadcast back over the features:\n$p")
  }

  test("vocab-scale rankings lower to distributed top-k, never a " +
    "single-partition window over the vocab table") {
    // topngrams/collocations/chi2/zipf rank an O(distinct-terms/bigrams)
    // table: at web-corpus scale that table is billions of rows, so the
    // rank MUST be a TakeOrderedAndProject (parallel per-partition top-k +
    // driver merge of k·partitions rows); any Window may only run on the
    // ≤k rows ABOVE the top-k (top-down plan print: shallower = later).
    Seq("text_topngrams", "text_collocations", "text_chi2_terms",
        "text_zipf").foreach { q =>
      val full = plan(SparkEntry.queries(q)(spark, sfDir))
      val p = full.split("== Initial Plan ==").head
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: global ranking must be a distributed top-k:\n$p")
      val wi = p.indexOf("Window")
      val ti = p.indexOf("TakeOrderedAndProject")
      assert(wi == -1 || wi < ti,
        s"$q: a Window below the top-k ranks the full vocab table:\n$p")
    }
  }

  test("scale stats are agg + broadcast join: zero Window in the plan") {
    // scaleMinMax/scaleZScore statistics must be a |bands|-row groupBy
    // aggregate broadcast back (global: 1-row agg cross-joined). A
    // Window.partitionBy(band) computes the same numbers but funnels the
    // ENTIRE cube into |bands| reducer partitions — unbounded per-reducer
    // buffering at 100 TB.
    Seq("scale_minmax", "scale_zscore").foreach { q =>
      val full = plan(SparkEntry.queries(q)(spark, sfDir))
      val p = full.split("== Initial Plan ==").head
      assert(!p.contains("Window"),
        s"$q: stats must not run through a window:\n$p")
      assert(p.contains("BroadcastHashJoin") ||
             p.contains("BroadcastNestedLoopJoin"),
        s"$q: stats must broadcast back onto the cube:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: the cube must not shuffle for a stats join:\n$p")
    }
  }

  test("scale stats join is null-safe: a null dim value scales, not drops") {
    // the old Window.partitionBy(d) form scaled the null partition; the
    // agg+join form must too (<=> match), or rows silently vanish
    import graft.cube.DataCube
    val df = spark.createDataFrame(Seq(
      (Option("a"), 1.0), (Option("a"), 3.0),
      (Option.empty[String], 10.0), (Option.empty[String], 30.0)
    )).toDF("band", "value")
    val out = DataCube(df).scaleMinMax(Some("band")).df
    assert(out.count() == 4, "null-band rows must survive the stats join")
    val nulls = out.filter(col("band").isNull)
      .orderBy("value").collect().map(_.getDouble(1))
    assert(nulls.toSeq == Seq(0.0, 1.0),
      s"null band must scale within its own group, got ${nulls.toSeq}")
  }

  test("fanOut: one round-robin Exchange over a one-file scan, the same " +
       "Dataset once the splits reach the target, streams pass through") {
    val docs = Tables.documents(spark, sfDir)
    val target = spark.sparkContext.defaultParallelism
    val p = plan(Tables.fanOut(docs)).split("== Initial Plan ==").head
    assert("Exchange ".r.findAllIn(p).size == 1 &&
      p.contains(s"Exchange RoundRobinPartitioning($target)"),
      s"a one-file scan must fan out once to $target partitions:\n$p")

    // split count = ceil((len + openCost) / maxPartitionBytes); pick the
    // split size so one copy of documents makes target - 1 splits
    val file = new org.apache.hadoop.fs.Path(docs.inputFiles.head)
    val len = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(file).getLen
    val oneCopy = len + spark.sessionState.conf.filesOpenCostInBytes
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, (oneCopy + target - 2) / (target - 1))
      // a self-union reads documents twice but counts the file once
      val twice = docs.unionByName(docs)
      assert(!(Tables.fanOut(twice) eq twice),
        "the self-union's one file must not count twice")
      spark.conf.set(key, oneCopy / target)
      assert(Tables.fanOut(docs) eq docs,
        s">= $target splits must need no repartition")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    val stream = spark.readStream.format("rate").load()
    assert(Tables.fanOut(stream) eq stream)
  }

  test("CacheScope: operator pins are released at the harness barrier") {
    graft.core.CacheScope.releaseAll() // clean slate
    spark.catalog.clearCache()
    val out = SparkEntry.queries("dedup_ensemble")(spark, sfDir)
    assert(out.count() > 0)
    assert(graft.core.CacheScope.size > 0,
      "ensemble must pin its shared shingle pass through the scope")
    graft.core.CacheScope.releaseAll()
    assert(graft.core.CacheScope.size == 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseAll must leave no cached relation behind")
  }

  test("bpe apply is a pure map: merges are plan literals, no Exchange") {
    val p = plan(SparkEntry.queries("text_bpe_apply")(spark, sfDir))
    assert(!p.contains("Exchange"),
      s"tokenization must not shuffle the corpus:\n$p")
    assert(p.contains("*("), "tokenization must be whole-stage codegen")
  }
}
