package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-hygiene guard over the whole query registry: no query may plan
  * a CartesianProduct (unbounded all-pairs), and nested-loop joins may
  * only appear where a tiny broadcast build side makes them the right
  * plan. Catches the classic regression where an equi-join condition
  * stops being recognized and silently degrades to all-pairs. */
class PlanHygieneSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  // non-equi range probes / literal grids where a broadcast nested loop
  // against a handful of rows is the intended physical plan
  private val bnljAllowed = Set("j3_pixel_range_join", "j3_range_join_htm",
    "j3_range_join_q3c", "j4_tile_pixel_overlap",
    "a8_mc_summary", "u3_camera_tiles", "w5_asof_lookup",
    "w7_asof_forward", // same 3-row literal probe grid as w5
    "x18_length_quantiles",
    // the (N, Σdl) corpus-scalar attach is a broadcast cross join
    // against ONE row — the declarative alternative to a driver-side
    // collect of the two aggregates
    "x51_bm25_topk",
    // same one-row corpus-scalar pattern: the vocabulary size attaches
    // to the scoring stream as a broadcast cross join against ONE row
    "x53_lm_score",
    // one-row (tot_r, tot_t) scalar attach onto the B-bounded bucket
    // table — the same declarative alternative to a driver collect
    "x57_dsir_weights",
    // embeds x51 as its lexical arm, inheriting its one-row cross join
    "x56_rrf_fusion",
    // embeds x53 as its scoring stage, inheriting its one-row cross join
    "x68_ppl_buckets",
    // two one-row corpus-scalar attaches (N_tokens, N_bigrams)
    "x70_pmi_collocations",
    // the node-count scalar attaches as a one-row cross join per round
    "x74_source_pagerank",
    // embeds x53 + two one-row scalar attaches (corpus avg, partition Z)
    "x76_doremi_weights",
    // three one-row scalar results (node/edge/triangle counts) joined
    // into the single output row — broadcast cross joins of 1×1 frames
    "x83_triangle_count",
    // one-row (Σtrained, Σcurrent) totals attach — the x57 pattern
    "x106_ivf_drift",
    // embeds x51's one-row corpus-scalar attach (delta-summed form)
    "x105_bm25_incremental")

  test("no registered query plans a CartesianProduct") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      if (!bnljAllowed.contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected BroadcastNestedLoopJoin")
    }
  }

  // map-side-only curation ops must stay shuffle-free (their 100 TB
  // contract); the final presentation orderBy is the one allowed
  // range-partition exchange
  test("embarrassingly-parallel curation keys plan no data shuffle") {
    Seq("x27_pii_scrub", "x28_split_assign", "x29_chunk_overlap",
        "x72_jl_projection",
        // benchmark broadcast + running argmax per row: the scoring
        // pass itself must never shuffle
        "x94_semantic_decontaminate")
      .foreach { name =>
        val plan = graft.SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toSeq
        assert(exchanges.forall(_.contains("rangepartitioning")),
          s"$name shuffles beyond the presentation sort: $exchanges\n$plan")
      }
  }

  // shuffle budgets: the dedup-scoring keys pay exactly two hash
  // exchanges (content-hash window + doc rollup), the stratum-window
  // keys exactly one (partitionBy source); one range exchange each for
  // the presentation sort. More = a silent extra shuffle crept in.
  test("curation keys keep their exact shuffle budgets") {
    val budgets = Map(
      "x26_line_dedup" -> 2, "x31_repeated_substrings" -> 2,
      "x17_stratified_sample" -> 1, "x32_weighted_sample" -> 1,
      "x33_budget_select" -> 1,
      // one per-shard window (x78) / per-source windows sharing one
      // exchange (x77) — no global sort in either
      "x78_seeded_shuffle" -> 1, "x77_quality_qnorm" -> 1)
    budgets.foreach { case (name, hashBudget) =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
      assert(hashEx == hashBudget,
        s"$name plans $hashEx hash exchanges, budget $hashBudget:\n$plan")
      assert(rangeEx <= 1, s"$name plans $rangeEx range exchanges")
    }
  }

  // x26 is allowed exactly one hash shuffle (the span-hash window) plus
  // the doc_id aggregation it feeds; scanning only (doc_id, text)
  test("line dedup reads only the columns it needs") {
    val plan = graft.SparkEntry.queries("x26_line_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    val read = "ReadSchema: [^\n]+".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text")
      && !read.contains("lang") && !read.contains("source")
      && !read.contains("n_chars"),
      s"x26 scan not pruned to (doc_id, text): $read")
  }

  // the ANN family's top-k selection must stay partition-bounded: the
  // scoring kernels keep a k-bounded per-query heap (BoundedTopK), so
  // the ranking window's shuffle carries partitions × queries × k rows,
  // never the scored corpus. sf0.001 has 500 vectors × 10 queries: an
  // unbounded x3/x38 scan shuffles ≥ 4 990 scored rows into the window
  // (x42's stage 1 likewise, plus its rescore join); with the heaps the
  // whole query moves a few hundred. The record budgets below sit well
  // under the unbounded counterfactual and well over the bounded
  // steady state, so either regression direction trips loudly.
  test("ANN top-k selection shuffles a bounded row count, not the corpus") {
    val budgets = Map(
      "x3_topk_similarity" -> 1000L, // unbounded: ≥ 4 990
      "x38_ann_pq" -> 1000L, // unbounded: ≥ 4 990
      "x43_ann_pq_trained" -> 1000L, // same scan shape as x38
      "x14_ann_lsh" -> 1000L, // bucket- AND partition-bounded
      // list- AND partition-bounded; tightened r7 after the redundant
      // post-heap dropDuplicates exchange was removed (measured 51)
      "x15_ann_ivf" -> 500L,
      "x39_ann_ivfpq" -> 1500L,
      "x40_ann_filtered" -> 1000L,
      // stage-1 heap keeps ≤ 10 × 100 shortlist rows per partition and
      // the rescore join moves shortlist-sized sides: unbounded ≥ 7 000
      "x42_ann_pq_rescore" -> 4500L,
      "x44_ann_pq_serve" -> 4500L, // x42's shape with trained books
      // per-source heaps in the block tasks: ≤ blocks × k rows per
      // source reach the window (56 label-0 vectors at sf0.001 →
      // ≤ ~1 300 records total; unbounded all-pairs ≥ 3 080 scored)
      "x45_knn_graph" -> 2000L,
      "x46_ann_sq8" -> 1000L, // codes scan, same bound as x38
      // two graph builds (fresh plan per round: replicate ×KnnBlocks +
      // per-source heap emission) + tiny beam-window exchanges; every
      // piece is tenant- or beam-bounded, measured 1229 at sf0.001
      "x47_ann_graph_search" -> 3000L,
      // pair-bounded, not corpus-bounded: the x8 block scan emits only
      // threshold-passing pairs into the contraction (59 at sf0.001 —
      // the unthresholded counterfactual is ~125 k scored pairs), and
      // the contraction rounds shuffle the edge/label frontier;
      // measured 5 740 total across all rounds
      "x48_semantic_dedup" -> 12000L,
      // cell-bounded x48: the kmeans rounds shuffle ≤ 1024 agg cells
      // each, the per-cell block scan shuffles n × Ring × Blocks
      // replicated rows (500 × 3 × 4 = 6 000 at sf0.001) plus the
      // threshold-passing pairs and contraction frontier
      "x108_semantic_dedup_cells" -> 16000L,
      // word-frequency-bounded: the corpus collapses to distinct words
      // before the pair explosion (measured 112; shuffling raw corpus
      // tokens instead would move ≥ 10 k), top-50 is TakeOrdered
      "x49_bpe_pair_count" -> 500L,
      // sketch-cell-bounded: the CMS build's shuffle carries at most
      // d×w = 2048 cells + the probe batch regardless of corpus size
      // (measured 1 426 at sf0.001; shuffling raw tokens would move
      // ≥ 4 × corpus tokens ≈ 40 k+)
      "x54_cms_freq" -> 4000L,
      // matching-postings-bounded: non-phrase terms never leave the
      // scan; only postings matching a phrase term shuffle, and they
      // ride TWO hops (vote groupBy, then match groupBy). The phrase
      // batch deliberately includes stopwords ("the", "a"), so votes ≈
      // 10 k of sf0.001's 27.9 k tokens → measured 20 313 total; an
      // unpruned plan would push the FULL positional index through the
      // first hop alone (≥ 27.9 k, ≥ 55 k across both)
      "x55_phrase_search" -> 25000L,
      // signature-bounded: ≤ names × (len+1) deduped signature rows
      // ride the self-join (150 names × 19 at sf0.001), candidates are
      // genuine shared-signature pairs only (measured 9 136 total);
      // without the per-id signature dedup the digit-run duplicates
      // multiply candidate rows quadratically within buckets (the
      // pre-fix shape)
      "x69_fuzzy_join" -> 15000L,
      // x3's scan shape with label columns riding the heap rows; the
      // metric rollup re-shuffles only queries × k rows
      "x82_retrieval_eval" -> 1500L,
      // packed-code scan (two longs/vector), same heap bound as x3/x46
      "x88_ann_binary" -> 1000L,
      // stage-1 heap keeps ≤ 10 × 100 shortlist rows per partition and
      // the rescore join moves shortlist-sized sides (x42's bound)
      "x92_ann_bin_rescore" -> 4500L,
      // three bounded arms (bucket-, list-, heap-bounded) + the union
      // distinct + the rescore id-join; measured 3 419 at sf0.001 —
      // the unbounded counterfactual is ≥ 3 × 4 990 scored rows
      "x102_ann_ensemble" -> 8000L,
      // 300-query audit batch through the same bounded heaps: selection
      // is partitions × 300 × 10 rows, the vote rollup sample × k
      "x104_knn_label_audit" -> 30000L)
    budgets.foreach { case (name, budget) =>
      val written = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          written.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        graft.SparkEntry.queries(name)(spark, sf).count()
        // listener bus is async; drain it before reading the counter
        // (listenerBus is private[spark] — reflection, test-only)
        val bus = spark.sparkContext.getClass
          .getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } finally spark.sparkContext.removeSparkListener(listener)
      info(s"$name shuffled ${written.get()} records (budget $budget)")
      assert(written.get() <= budget,
        s"$name shuffled ${written.get()} records (budget $budget) — " +
          "top-k selection no longer partition-bounded?")
    }
  }

  private def pins(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionByExpression => r
    }

  test("width pin, small branch: an explicit-width exchange on the keys") {
    val df = Tables.documents(spark, sf).select(col("doc_id").as("k"))
    // every test SF takes this branch
    assert(Tables.scanUnderfillsCores(df))
    val got = pins(Tables.pinWidth(true, df, "k"))
    assert(got.size == 1)
    assert(got.head.optNumPartitions ==
      Some(spark.sparkContext.defaultParallelism))
    assert(got.head.partitionExpressions.collect {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
    } == Seq("k"))
  }

  test("width pin, estate branch: the gate reads false and the plan is untouched") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    // splits this small make the test table fill the cores many times
    spark.conf.set(key, "1k")
    try {
      val df = Tables.documents(spark, sf)
      assert(!Tables.scanUnderfillsCores(df))
      Seq(Tables.pinWidth(Tables.scanUnderfillsCores(df), df, "doc_id"),
        Tables.spreadSmallScan(df, "doc_id")).foreach { out =>
        assert(pins(out).isEmpty)
        assert(out.queryExecution.analyzed == df.queryExecution.analyzed)
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
