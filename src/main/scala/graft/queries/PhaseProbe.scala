package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round measurement harness (guide §1): time the
  * SUB-PHASES of the most expensive bench keys in isolation so a change
  * targets the phase that actually costs, not the one that looks
  * complex. Every phase is evaluated through the noop sink (§1.4) —
  * full computation, no result materialization on the driver — and
  * labeled with setJobDescription (§1.5).
  *
  * Usage: runMain graft.queries.PhaseProbe [sfDir] [phase ...]
  * (no phases = run all). Prints one `phase,seconds` CSV line each.
  * Honors SPARK_GRAFT_CPUS like Bench so probe numbers are comparable
  * to bench numbers.
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.MasterConf(SparkSession.builder(), s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    val d = sfDir

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warm-up (same as Bench: file index + codegen + ANN kernel JIT)
    try {
      spark.range(1000000L).agg(sum("id")).count()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        Tables.t(spark, sfDir, t).count()
      }
      graft.SparkEntry.queries("x3_topk_similarity")(spark, sfDir).count()
    } catch { case _: Throwable => }

    // Each phase is a thunk so construction costs (driver-side eager
    // work like bloom builds) are timed too.
    val phases: Seq[(String, () => Unit)] = Seq(
      "job_floor" -> (() => noop(spark.range(2).toDF("i"))),
      "shuffle_floor" -> (() => noop(
        spark.range(1000).toDF("i").groupBy(col("i") % 7).count())),
      "x7_pairs" -> (() => noop(DedupQueries.x7Pairs(s, d))),
      "x7_grams_distinct" -> (() => {
        val docs = Tables.documents(s, d)
        noop(docs.select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(0, size(w) - 2)")).as("i"))
          .select(col("doc_id"),
            expr(PortableHash.hex60("concat(w[i], '_', w[i+1])")).as("gram"))
          .distinct())
      }),
      "x8_pairs" -> (() => noop(DedupQueries.x8PairScan(s, d))),
      "starcontract_on_x7" -> (() => noop(
        graft.operators.ConnectedComponents.starContract(
          s, DedupQueries.x7Pairs(s, d).select(col("doc_a"), col("doc_b"))))),
      "starcontract_on_x8" -> (() => noop(
        graft.operators.ConnectedComponents.starContract(
          s, DedupQueries.x8PairScan(s, d).select(col("vec_a"), col("vec_b"))))),
      "x108_kmeans_fit" -> (() => {
        DedupQueries.kmeansFitDf(s, Tables.embeddings(s, d)): Unit
      }),
      "x108_cellpairs" -> (() => noop(DedupQueries.x108CellPairScan(s, d))),
      "x22_full" -> (() => noop(DedupQueries.x22DupClustersStar(s, d))),
      "x16_full" -> (() => noop(DedupQueries.x16DupClusters(s, d))),
      "x48_full" -> (() => noop(DedupQueries.x48SemanticDedup(s, d))),
      "x108_full" -> (() => noop(DedupQueries.x108SemanticDedupCells(s, d))),
      // r16 A/B arm: the cell pair scan WITHOUT the pinned-width small
      // path — groupByKey's exchange gets AQE-coalesced by its (tiny)
      // input bytes while the pair work above it is quadratic
      "x108_cellpairs_nopin" -> (() => noop(
        DedupQueries.cellPairScan(s, Tables.embeddings(s, d),
          pinSmall = false))),
      "x74_full" -> (() => noop(DedupQueries.x74SourcePagerank(s, d))),
      "x74_edges_only" -> (() => {
        val docSrc = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val cross = DedupQueries.x7Pairs(s, d).select(col("doc_a"), col("doc_b"))
          .join(docSrc.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
          .join(docSrc.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
          .where(col("src_a") =!= col("src_b"))
        noop(cross.select(col("src_a").as("u"), col("src_b").as("v"))
          .union(cross.select(col("src_b").as("u"), col("src_a").as("v")))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w")))
      }),
      "x83_edges_only" -> (() => {
        val parts = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(col("u"), col("v")))
      }),
      "x83_edges_packed" -> (() => {
        val parts = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
          .select((col("u").cast("long") * lit(4294967296L)
            + col("v").cast("long")).as("uv"))
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select((col("uv") / lit(4294967296L)).cast("long").as("u"),
            pmod(col("uv"), lit(4294967296L)).cast("long").as("v")))
      }),
      // r16 candidate: pair stream via index sequence + element_at — no
      // per-position array suffix copy (slice allocates a new array per
      // posexplode row)
      "x83_edges_idx" -> (() => {
        val parts = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"), col("ps"),
            explode(expr(
              "IF(pos + 2 <= size(ps), sequence(pos + 2, size(ps)), array())"))
              .as("j"))
          .select((shiftleft(col("u").cast("long"), 32)
            .bitwiseOR(expr("element_at(ps, j)").cast("long"))).as("uv"))
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      // r16 candidate: typed flatMap kernel emitting packed pair longs
      // (single generator, zero intermediate arrays), then the same
      // packed aggregate
      "x83_edges_kernel" -> (() => {
        import s.implicits._
        val parts = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts.select(col("ps")).as[Array[Long]]
          .flatMap { ps =>
            val out = new scala.collection.mutable.ArrayBuffer[Long](
              ps.length * (ps.length - 1) / 2)
            var i = 0
            while (i < ps.length) {
              var j = i + 1
              while (j < ps.length) {
                out += (ps(i) << 32) | ps(j); j += 1
              }
              i += 1
            }
            out
          }
          .toDF("uv")
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      // r16 candidate: the support count as repartition(uv) + a typed
      // per-partition primitive LongMap — 99.7% of pair keys are unique
      // at ×10, so the two-level HashAggregate's partial map is pure
      // insert-miss overhead (fills, spills, combines nothing)
      "x83_edges_mapcount" -> (() => {
        import s.implicits._
        val parts = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        val uv = parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
          .select((shiftleft(col("u").cast("long"), 32)
            .bitwiseOR(col("v").cast("long"))).as("uv"))
        noop(uv.repartition(col("uv")).as[Long]
          .mapPartitions { it =>
            val m = new scala.collection.mutable.LongMap[Long](1 << 16)
            it.foreach(k => m(k) = m.getOrElse(k, 0L) + 1L)
            m.iterator.collect {
              case (k, n) if n >= MiningQueries.TriMinSupport => k
            }
          }
          .toDF("uv")
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      // r16 candidate: pin the okey exchange at defaultParallelism so
      // AQE's byte-based coalescing can't collapse the partition count
      // under the EXPLODING pair stage above it (64 MB of part sets
      // fan out ~8× into pairs — coalescing prices the input bytes,
      // not the generated work)
      "x83_edges_pinned" -> (() => {
        val parts = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .repartition(s.sparkContext.defaultParallelism, col("okey"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
          .select((shiftleft(col("u").cast("long"), 32)
            .bitwiseOR(col("v").cast("long"))).as("uv"))
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      "x83_partsets_only" -> (() => {
        noop(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps")))
      }),
      // r16b decomposition: every stage below rides the SAME pinned
      // exchange (spreadSmallScan) so the variants differ only in the
      // stage under test, not in parallelism
      "x83_partsets_pinned" -> (() => {
        noop(Tables.spreadSmallScan(
            Tables.lineitem(s, d)
              .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
            "okey")
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps")))
      }),
      // codegen HashAggregate baseline over the same groups (no
      // collect_set): isolates the ObjectHashAggregate/sort-fallback
      // cost of building the part sets
      "x83_partsets_countonly" -> (() => {
        noop(Tables.spreadSmallScan(
            Tables.lineitem(s, d)
              .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
            "okey")
          .groupBy(col("okey"))
          .agg(count(col("part")).as("c")))
      }),
      // pair GENERATION only (no support aggregate): pinned part sets ->
      // posexplode + slice explode -> packed long -> count scalar
      "x83_pairgen_pinned" -> (() => {
        val parts = Tables.spreadSmallScan(
            Tables.lineitem(s, d)
              .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
            "okey")
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
          .select((shiftleft(col("u").cast("long"), 32)
            .bitwiseOR(col("v").cast("long"))).as("uv"))
          .groupBy().agg(count(lit(1))))
      }),
      // current x83 edges shape exactly (spread pin + slice pairs +
      // packed support agg), minus the Observation
      "x83_edges_spread" -> (() => {
        val parts = Tables.spreadSmallScan(
            Tables.lineitem(s, d)
              .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
            "okey")
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
          .select((shiftleft(col("u").cast("long"), 32)
            .bitwiseOR(col("v").cast("long"))).as("uv"))
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      // idx pair stream (no per-position slice copy) over the SAME
      // pinned exchange — the r16 probe ran this unpinned, so its 16 s
      // measured AQE serialization, not the generator
      "x83_edges_idx_pinned" -> (() => {
        val parts = Tables.spreadSmallScan(
            Tables.lineitem(s, d)
              .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
            "okey")
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"), col("ps"),
            explode(expr(
              "IF(pos + 2 <= size(ps), sequence(pos + 2, size(ps)), array())"))
              .as("j"))
          .select((shiftleft(col("u").cast("long"), 32)
            .bitwiseOR(expr("element_at(ps, j)").cast("long"))).as("uv"))
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      // typed flatMap pair kernel over the SAME pinned exchange
      "x83_edges_kernel_pinned" -> (() => {
        import s.implicits._
        val parts = Tables.spreadSmallScan(
            Tables.lineitem(s, d)
              .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
            "okey")
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts.select(col("ps")).as[Array[Long]]
          .flatMap { ps =>
            val out = new scala.collection.mutable.ArrayBuffer[Long](
              ps.length * (ps.length - 1) / 2)
            var i = 0
            while (i < ps.length) {
              var j = i + 1
              while (j < ps.length) {
                out += (ps(i) << 32) | ps(j); j += 1
              }
              i += 1
            }
            out
          }
          .toDF("uv")
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      // support agg over an EXPLICIT-width uv exchange: AQE prices the
      // final aggregate's exchange by the partial output (~12 M
      // near-unique keys, nothing combines) and coalesces it to a few
      // fat tasks; an explicit repartition(uv) pins the final agg width
      // and the partial/final pair fuses into one stage behind it
      "x83_edges_uvpinned" -> (() => {
        val parts = Tables.spreadSmallScan(
            Tables.lineitem(s, d)
              .select(col("l_orderkey").as("okey"), col("l_partkey").as("part")),
            "okey")
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
        noop(parts
          .select(col("ps"), posexplode(col("ps")))
          .select(col("col").as("u"),
            explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
          .select((shiftleft(col("u").cast("long"), 32)
            .bitwiseOR(col("v").cast("long"))).as("uv"))
          .repartition(s.sparkContext.defaultParallelism, col("uv"))
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      // sorted-stream pair kernel: NO collect_set anywhere — repartition
      // by okey + sortWithinPartitions, then one mapPartitions walks the
      // sorted (okey, part) rows, dedups equal neighbours, and emits
      // packed pairs from a reusable buffer
      "x83_edges_sortedstream" -> (() => {
        import s.implicits._
        val uv = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .repartition(s.sparkContext.defaultParallelism, col("okey"))
          .sortWithinPartitions(col("okey"), col("part"))
          .as[(Long, Long)]
          .mapPartitions { it =>
            val buf = new scala.collection.mutable.ArrayBuffer[Long](64)
            var curKey = Long.MinValue
            var last = Long.MinValue
            new Iterator[Long] {
              var out: Iterator[Long] = Iterator.empty
              def flush(): Iterator[Long] = {
                val n = buf.length
                val pairs = new scala.collection.mutable.ArrayBuffer[Long](
                  n * (n - 1) / 2)
                var i = 0
                while (i < n) {
                  var j = i + 1
                  while (j < n) { pairs += (buf(i) << 32) | buf(j); j += 1 }
                  i += 1
                }
                buf.clear()
                pairs.iterator
              }
              def hasNext: Boolean = {
                while (!out.hasNext && it.hasNext) {
                  val (k, p) = it.next()
                  if (k != curKey) {
                    out = flush(); curKey = k; last = Long.MinValue
                  }
                  if (p != last) { buf += p; last = p }
                }
                if (!out.hasNext && buf.nonEmpty) out = flush()
                out.hasNext
              }
              def next(): Long = out.next()
            }
          }
          .toDF("uv")
        noop(uv
          .groupBy(col("uv")).agg(count(lit(1)).as("support"))
          .where(col("support") >= MiningQueries.TriMinSupport)
          .select(shiftright(col("uv"), 32).as("u"),
            col("uv").bitwiseAND(lit(4294967295L)).as("v")))
      }),
      "x2_band_cand" -> (() => {
        val sigs = DedupQueries.minhashSignatures(Tables.documents(s, d))
          .localCheckpoint(true)
        val banded = DedupQueries.bandBuckets(sigs)
        val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
        val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
        noop(DedupQueries.bucketSelfJoin(s, a, b, Seq("band", "bucket"))
          .where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .dropDuplicates("doc_a", "doc_b"))
      }),
      "x20_full" -> (() => noop(DedupQueries.x20Decontaminate(s, d))),
      "x34_full" -> (() => noop(DedupQueries.x34DecontaminateBloom(s, d))),
      // pre-r15 shapes kept for paired A/B probing (not declared keys)
      "x20_distinct_shape" -> (() => {
        val docs = Tables.documents(s, d)
        val benchGrams = DedupQueries.gramsOf(
          docs.where(col("doc_id") % DedupQueries.DecontamEvery === 0))
          .select(col("doc_id").as("bench_id"), col("gram"))
        noop(DedupQueries.gramsOf(
          docs.where(col("doc_id") % DedupQueries.DecontamEvery =!= 0))
          .join(broadcast(benchGrams), "gram")
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).as("n_overlap"))
          .where(col("n_overlap") >= DedupQueries.DecontamMinOverlap))
      }),
      "x87_window_shape" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val words = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 1)
        val tok = words
          .select(col("doc_id"), posexplode(col("w")))
          .select(col("doc_id"), col("pos"), col("col").as("word"))
        val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val bounded = tok
          .withColumn("prev", lag(col("word"), 1).over(ord))
          .withColumn("b",
            when(col("prev").isNotNull &&
              expr(PortableHash.hex60("concat(prev, ' ', word)"))
                % MiningQueries.CdcMod === 0, 1L).otherwise(0L))
          .withColumn("chunk_id",
            coalesce(sum(col("b")).over(
              ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val spans = bounded.groupBy(col("doc_id"), col("chunk_id"))
          .agg(min(col("pos")).as("start"), count(lit(1)).as("n_words"))
        val chunks = spans.join(words, "doc_id")
          .select(col("doc_id"), col("chunk_id"), col("n_words"),
            expr(s"${PortableHash.hex60(
              "concat_ws(' ', slice(w, start + 1, n_words))")}").as("chunk_h"))
        val copies = chunks.groupBy(col("chunk_h"))
          .agg(count(lit(1)).as("n_copies"))
        noop(chunks.join(copies, "chunk_h")
          .select(col("doc_id"), col("chunk_id"), col("n_words"),
            col("chunk_h"), col("n_copies")))
      }),
      "x86_window_shape" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= MiningQueries.WinnowK)
          .select(col("doc_id"),
            explode(expr(s"sequence(0, size(w) - ${MiningQueries.WinnowK})"))
              .as("pos"), col("w"))
          .select(col("doc_id"), col("pos"),
            expr(s"concat_ws(' ', slice(w, pos + 1, ${MiningQueries.WinnowK}))")
              .as("gram"))
          .withColumn("gram_h", expr(PortableHash.hex60("gram")))
        val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(-(MiningQueries.WinnowW - 1), 0)
        noop(grams.withColumn("fp_h", min(col("gram_h")).over(win))
          .where(col("pos") >= MiningQueries.WinnowW - 1)
          .select(col("doc_id"), col("fp_h")).distinct())
      }),
      "x30_full" -> (() => noop(
        graft.SparkEntry.queries("x30_neardup_lsh")(s, d))),
      "x60_full" -> (() => noop(
        graft.SparkEntry.queries("x60_dup_spans")(s, d))),
      // r16 decomposition: the positional gram build + checkpoint alone
      "x60_grams_only" -> (() => {
        val g = DedupQueries.SpanGram
        val gramCols = (0 until g).map(i => s"w[pos+$i]").mkString(", ")
        noop(Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= g)
          .select(col("doc_id"), col("w"),
            explode(expr(s"sequence(0, size(w) - $g)")).as("pos"))
          .select(col("doc_id"), col("pos"),
            expr(PortableHash.hex60(s"concat_ws(' ', $gramCols)")).as("h")))
      }),
      // r16 decomposition: up to the kept checkpoint (grams ckpt + df
      // cap + join back)
      "x60_kept_only" -> (() => {
        val g = DedupQueries.SpanGram
        val gramCols = (0 until g).map(i => s"w[pos+$i]").mkString(", ")
        val grams = Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= g)
          .select(col("doc_id"), col("w"),
            explode(expr(s"sequence(0, size(w) - $g)")).as("pos"))
          .select(col("doc_id"), col("pos"),
            expr(PortableHash.hex60(s"concat_ws(' ', $gramCols)")).as("h"))
          .localCheckpoint(true)
        val rare = grams.select(col("doc_id"), col("h")).distinct()
          .groupBy(col("h")).agg(count(lit(1)).as("gram_df"))
          .where(col("gram_df") <= DedupQueries.SpanMaxDf)
          .select(col("h"))
        noop(grams.join(rare, "h"))
      }),
      // spanRuns WITHOUT the r16 scan spread (the pre-spread shape) —
      // paired A/B arm for the x60/x61 regression check
      "x60_nospread_shape" -> (() => {
        val g = DedupQueries.SpanGram
        val gramCols = (0 until g).map(i => s"w[pos+$i]").mkString(", ")
        val docs = Tables.documents(s, d)
        val grams = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= g)
          .select(col("doc_id"), col("w"),
            explode(expr(s"sequence(0, size(w) - $g)")).as("pos"))
          .select(col("doc_id"), col("pos"),
            expr(PortableHash.hex60(s"concat_ws(' ', $gramCols)")).as("h"))
          .localCheckpoint(true)
        val rare = grams.select(col("doc_id"), col("h")).distinct()
          .groupBy(col("h")).agg(count(lit(1)).as("gram_df"))
          .where(col("gram_df") <= DedupQueries.SpanMaxDf)
          .select(col("h"))
        val kept = grams.join(rare, "h").localCheckpoint(true)
        val m = kept.as("ga")
          .join(kept.as("gb"), col("ga.h") === col("gb.h") &&
            col("ga.doc_id") < col("gb.doc_id"))
          .select(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"),
            col("ga.pos").as("pa"), (col("ga.pos") - col("gb.pos")).as("diag"))
        val wIsl = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
          .orderBy(col("pa"))
        noop(m.withColumn("isl", col("pa") - row_number().over(wIsl))
          .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
          .agg((count(lit(1)) + lit(g - 1)).cast("long").as("span_words"),
            min(col("pa")).as("start_a"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(max(col("span_words")).as("max_span_words"),
            sum(when(col("span_words") >= DedupQueries.SpanMin, 1L)
              .otherwise(0L)).as("n_spans"))
          .where(col("max_span_words") >= DedupQueries.SpanMin)
          .orderBy(col("doc_a"), col("doc_b")))
      }),
      "x2_sorted_ckpt" -> (() => {
        val sigs = DedupQueries.minhashSignatures(Tables.documents(s, d))
          .localCheckpoint(true)
        val banded = DedupQueries.bandBuckets(sigs)
        val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
        val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
        val cand = DedupQueries.bucketSelfJoin(s, a, b, Seq("band", "bucket"))
          .where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
        noop(cand
          .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
          .withColumn("est_jaccard",
            DedupQueries.sigAgreement(col("sig_a"), col("sig_b")))
          .where(col("est_jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
          .localCheckpoint(true)
          .orderBy(col("doc_a"), col("doc_b")))
      }),
      "x87_ckpt_shape" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val words = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 1)
        val tok = words
          .select(col("doc_id"), posexplode(col("w")))
          .select(col("doc_id"), col("pos"), col("col").as("word"))
        val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val bounded = tok
          .withColumn("prev", lag(col("word"), 1).over(ord))
          .withColumn("b",
            when(col("prev").isNotNull &&
              expr(PortableHash.hex60("concat(prev, ' ', word)"))
                % MiningQueries.CdcMod === 0, 1L).otherwise(0L))
          .withColumn("chunk_id",
            coalesce(sum(col("b")).over(
              ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val spans = bounded.groupBy(col("doc_id"), col("chunk_id"))
          .agg(min(col("pos")).as("start"), count(lit(1)).as("n_words"))
        val chunks = spans.join(words, "doc_id")
          .select(col("doc_id"), col("chunk_id"), col("n_words"),
            expr(s"${PortableHash.hex60(
              "concat_ws(' ', slice(w, start + 1, n_words))")}").as("chunk_h"))
          .localCheckpoint(true)
        val copies = chunks.groupBy(col("chunk_h"))
          .agg(count(lit(1)).as("n_copies"))
        noop(chunks.join(copies, "chunk_h")
          .select(col("doc_id"), col("chunk_id"), col("n_words"),
            col("chunk_h"), col("n_copies"))
          .orderBy(col("doc_id"), col("chunk_id")))
      }),
      "x30_sorted_nockpt" -> (() => noop(
        DedupQueries.x30PairScan(s, Tables.embeddings(s, d))
          .orderBy(col("vec_a"), col("vec_b")))),
      "x30_sorted_ckpt" -> (() => noop(
        DedupQueries.x30PairScan(s, Tables.embeddings(s, d))
          .localCheckpoint(true)
          .orderBy(col("vec_a"), col("vec_b")))),
      "x30_unsorted" -> (() => noop(
        DedupQueries.x30PairScan(s, Tables.embeddings(s, d)))),
      "x30_ids_shape" -> (() => {
        import graft.plans.SpatialFunctions.dot_scaled
        val planeCols = DedupQueries.hyperplanes.map(p => typedLit(p.toSeq))
        val bucketCol = (0 until DedupQueries.LshPlanes).map { p =>
          when(dot_scaled(col("e"), planeCols(p)) >= 0, lit(1L << p))
            .otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_))
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("n", dot_scaled(col("e"), col("e")))
          .withColumn("bucket", bucketCol)
        val own = e.select(col("bucket"), col("vec_id").as("id_a"))
        val probeBuckets = array(col("bucket") +:
          (0 until DedupQueries.LshPlanes)
            .map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)
        val probes = e.select(explode(probeBuckets).as("bucket"),
          col("vec_id").as("id_b"))
        val lookup = e.select(col("vec_id"), col("e"), col("n"))
        noop(DedupQueries.bucketJoin(s, own, probes, Seq("bucket"))
          .where(col("id_a") < col("id_b"))
          .join(broadcast(lookup.select(col("vec_id").as("id_a"),
            col("e").as("e_a"), col("n").as("n_a"))), "id_a")
          .join(broadcast(lookup.select(col("vec_id").as("id_b"),
            col("e").as("e_b"), col("n").as("n_b"))), "id_b")
          .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
            (dot_scaled(col("e_a"), col("e_b"))
              / (sqrt(col("n_a")) * sqrt(col("n_b")))).as("cosine"))
          .where(col("cosine") > 0.4))
      }),
      "x47_full" -> (() => noop(
        graft.SparkEntry.queries("x47_ann_graph_search")(s, d))),
      // r16 A/B arm: x47 WITHOUT the eager graph checkpoint (rounds
      // share the inline build via ReuseExchange, the r15 shape)
      "x47_nockpt_shape" -> (() => {
        import s.implicits._
        val label0 = DedupQueries.tenantVectors(s, d)
        val wG = org.apache.spark.sql.expressions.Window
          .partitionBy(col("src_id"))
          .orderBy(col("cosine").desc, col("nbr_id"))
        val graph = DedupQueries.knnBlockScored(s, label0,
            DedupQueries.GraphDegree, pinSmall = args.contains("__pin"))
          .withColumn("rk", row_number().over(wG))
          .where(col("rk") <= DedupQueries.GraphDegree)
          .select(col("src_id"), col("nbr_id"))
        val headIds = Tables.embeddings(s, d).where(col("label") === 0)
          .select(col("vec_id")).orderBy(col("vec_id"))
          .limit(DedupQueries.GraphQueryCount + DedupQueries.GraphEntryCount)
          .as[Long].collect().sorted
        val qIds = headIds.take(DedupQueries.GraphQueryCount)
        val entryIds = headIds.drop(DedupQueries.GraphQueryCount)
        val queryVecs = label0.filter(r => qIds.contains(r._1)).collect()
          .map { case (id, e, n) => (id, (e, n)) }
        noop(DedupQueries.beamSearch(s, graph,
          label0.toDF("cand_id", "cand_e", "cand_n"),
          queryVecs, entryIds, DedupQueries.GraphBeamWidth,
          DedupQueries.GraphBeamRounds, k = 5))
      }),
      "x87_full" -> (() => noop(
        graft.SparkEntry.queries("x87_cdc_chunks")(s, d))),
      "x76_full" -> (() => noop(
        graft.SparkEntry.queries("x76_doremi_weights")(s, d))),
      "x57_full" -> (() => noop(
        graft.SparkEntry.queries("x57_dsir_weights")(s, d))),
      "x53_full" -> (() => noop(
        graft.SparkEntry.queries("x53_lm_score")(s, d))),
      // x53 WITHOUT the r16 scan spread — paired A/B arm
      "x53_nospread_shape" -> (() => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            split(trim(regexp_replace(lower(col("text")), "[^a-z]+", " ")), " ")
              .as("t"))
          .where(size(col("t")) >= 2)
        def bigrams = toks
          .select(col("doc_id"), col("t"),
            explode(expr("sequence(1, size(t) - 1)")).as("i"))
          .select(col("doc_id"), expr("t[i-1]").as("a"), expr("t[i]").as("b"))
        val cab = bigrams.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("c_ab"))
          .localCheckpoint(true)
        val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
        val vocab = cab.select(col("a").as("w"))
          .union(cab.select(col("b").as("w")))
          .agg(countDistinct(col("w")).as("v"))
        noop(bigrams
          .join(cab, Seq("a", "b"))
          .join(ca, Seq("a"))
          .crossJoin(broadcast(vocab))
          .withColumn("lp", round(
            log((col("c_ab") + lit(1.0)) / (col("c_a") + col("v")))
              * lit(1000000.0)).cast("long"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_logp_s"))
          .orderBy(col("doc_id")))
      }),
      "x86_full" -> (() => noop(
        graft.SparkEntry.queries("x86_winnowing")(s, d))),
      "x105_full" -> (() => noop(
        graft.SparkEntry.queries("x105_bm25_incremental")(s, d))),
      "x51_full" -> (() => noop(
        graft.SparkEntry.queries("x51_bm25_topk")(s, d))),
      "x51_nofilter_shape" -> (() => {
        val docs = Tables.documents(s, d)
        val dl = docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("sum_dl"))
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        import s.implicits._
        val qterms = TextQueries.bm25Queries
          .flatMap { case (q, ts) => ts.map(t => (q, t)) }
          .toDF("query_id", "term")
        noop(TextQueries.bm25Score(s, tf, dl, stats, qterms,
          TextQueries.Bm25TopK))
      }),
      "x83_full" -> (() => noop(MiningQueries.x83TriangleCount(s, d))),
      "x69_sigs_only" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        noop(names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))"))).as("sig"))
          .dropDuplicates("id", "sig"))
      }),
      "x69_full" -> (() => noop(MiningQueries.x69FuzzyJoin(s, d))),
      // r16 decomposition: candidate pairs WITHOUT the levenshtein
      // refine — isolates the join machinery from the refine kernel
      "x69_cand_only" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val a = sigs.select(col("sig"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b = sigs.select(col("sig"), col("id").as("id_b"),
          col("name").as("name_b"))
        noop(DedupQueries.bucketSelfJoin(s, a, b, Seq("sig"))
          .where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")))
      }),
      // r16 decomposition: the variant stream alone (scan → explode →
      // substring → xxhash64), no join — the linear part of x69
      "x69_stream_only" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        noop(names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig")))
      }),
      // r16 candidate: x71's shared-window skew guard — ONE window over
      // the shared sig frame instead of selfAdaptive's per-side windows
      // (both sides are full projections of the same frame, so the
      // shared count is exactly the per-side count)
      "x69_sharedwin_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val t = DedupQueries.skewThreshold(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("sig"))
        val salted = sigs.withColumn("__salts", least(lit(32L),
          floor((count(lit(1)).over(w) + lit(t - 1)) / lit(t))))
        val a = salted
          .withColumn("__shard", (rand(42) * col("__salts")).cast("long"))
          .select(col("sig"), col("__shard"), col("id").as("id_a"),
            col("name").as("name_a"))
        val b = salted
          .withColumn("__shard",
            explode(sequence(lit(0L), col("__salts") - 1)))
          .select(col("sig"), col("__shard"), col("id").as("id_b"),
            col("name").as("name_b"))
        noop(a.join(b, Seq("sig", "__shard"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      // same + eager checkpoint of the windowed frame (both join sides
      // then read materialized rows instead of re-running the stream)
      "x69_sharedwin_ckpt_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val t = DedupQueries.skewThreshold(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("sig"))
        val salted = sigs.withColumn("__salts", least(lit(32L),
          floor((count(lit(1)).over(w) + lit(t - 1)) / lit(t))))
          .localCheckpoint(true)
        val a = salted
          .withColumn("__shard", (rand(42) * col("__salts")).cast("long"))
          .select(col("sig"), col("__shard"), col("id").as("id_a"),
            col("name").as("name_a"))
        val b = salted
          .withColumn("__shard",
            explode(sequence(lit(0L), col("__salts") - 1)))
          .select(col("sig"), col("__shard"), col("id").as("id_b"),
            col("name").as("name_b"))
        noop(a.join(b, Seq("sig", "__shard"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      // r16b: shared window + the current pins (join-width + dedup) —
      // the r16a probe predated both, so re-arm with a fair shape
      "x69_sharedwin_pinned_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val t = DedupQueries.skewThreshold(s)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("sig"))
        // threshold <= 0 disables the salt, as in x71 and bucketSelfJoin:
        // one shard per sig is the plain sig join
        val salted = sigs.withColumn("__salts",
          if (t <= 0) lit(1L)
          else least(lit(32L),
            floor((count(lit(1)).over(w) + lit(t - 1)) / lit(t))))
        val n = s.sparkContext.defaultParallelism
        val a = salted
          .withColumn("__shard", (rand(42) * col("__salts")).cast("long"))
          .select(col("sig"), col("__shard"), col("id").as("id_a"),
            col("name").as("name_a"))
          .repartition(n, col("sig"), col("__shard"))
        val b = salted
          .withColumn("__shard",
            explode(sequence(lit(0L), col("__salts") - 1)))
          .select(col("sig"), col("__shard"), col("id").as("id_b"),
            col("name").as("name_b"))
          .repartition(n, col("sig"), col("__shard"))
        noop(a.join(b, Seq("sig", "__shard"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .repartition(n, col("id_a"), col("id_b"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      "x69_nodedup_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val a = sigs.select(col("sig"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b = sigs.select(col("sig"), col("id").as("id_b"),
          col("name").as("name_b"))
        noop(DedupQueries.bucketSelfJoin(s, a, b, Seq("sig"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      "x69_r14_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))"))).as("sig"))
          .dropDuplicates("id", "sig")
        val a = sigs.select(col("sig"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b = sigs.select(col("sig"), col("id").as("id_b"),
          col("name").as("name_b"))
        noop(DedupQueries.bucketSelfJoin(s, a, b, Seq("sig"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      "x75_full" -> (() => noop(MiningQueries.x75CorpusDatasheet(s, d))),
      // x75 with the CURRENT x7 window-form grams but NO kept-grams
      // barrier: the r16 cold-JVM A/B arm for VERDICT r15 next #2 (is
      // the eager checkpoint mispriced for composing callers?)
      "x75_nobarrier_shape" -> (() => {
        val docs = Tables.documents(s, d)
        val base = docs.select(col("source"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        val bySrc = base.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        val ent = base.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .join(bySrc.select(col("source"), col("n_docs")), "source")
          .withColumn("p", col("c").cast("double") / col("n_docs").cast("double"))
          .groupBy(col("source"))
          .agg(round(-sum(col("p") * log(col("p"))), 6).as("lang_entropy"))
        val grams0 = Tables.spreadSmallScan(docs, "doc_id")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(0, size(w) - 2)")).as("i"))
          .select(col("doc_id"),
            expr(PortableHash.hex60("concat(w[i], '_', w[i+1])")).as("gram"))
          .distinct()
        val wnd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gram"))
        val kept = grams0
          .withColumn("gram_df", count(lit(1)).over(wnd))
          .where(col("gram_df") <= DedupQueries.MaxGramDf)
          .select(col("doc_id"), col("gram")) // NO localCheckpoint
        val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = kept.as("ga")
          .join(kept.as("gb"), col("ga.gram") === col("gb.gram") &&
            col("ga.doc_id") < col("gb.doc_id"))
          .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        val pairs = inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .where(col("n_inter") /
            (col("na") + col("nb") - col("n_inter")).cast("double") >= 0.3)
        val dup = pairs
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
        noop(bySrc.join(ent, "source")
          .join(dup, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
            col("lang_entropy"),
            coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
            round(coalesce(col("n_dup_docs"), lit(0L)).cast("double")
              / col("n_docs").cast("double"), 6).as("dup_frac"))
          .orderBy(col("source")))
      }),
      "x75_r14x7_shape" -> (() => {
        val docs = Tables.documents(s, d)
        val base = docs.select(col("source"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        val bySrc = base.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        val ent = base.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .join(bySrc.select(col("source"), col("n_docs")), "source")
          .withColumn("p", col("c").cast("double") / col("n_docs").cast("double"))
          .groupBy(col("source"))
          .agg(round(-sum(col("p") * log(col("p"))), 6).as("lang_entropy"))
        // r14-shape x7 pairs inline: agg+join-back DF cap, no barrier
        val grams0 = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(0, size(w) - 2)")).as("i"))
          .select(col("doc_id"),
            expr(PortableHash.hex60("concat(w[i], '_', w[i+1])")).as("gram"))
          .distinct()
        val dfCap = grams0.groupBy(col("gram"))
          .agg(count(lit(1)).as("gram_df"))
          .where(col("gram_df") <= DedupQueries.MaxGramDf)
          .select(col("gram"))
        val kept = grams0.join(dfCap, "gram")
        val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = kept.as("ga")
          .join(kept.as("gb"), col("ga.gram") === col("gb.gram") &&
            col("ga.doc_id") < col("gb.doc_id"))
          .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        val pairs = inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .where(col("n_inter") /
            (col("na") + col("nb") - col("n_inter")).cast("double") >= 0.3)
        val dup = pairs
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
        noop(bySrc.join(ent, "source")
          .join(dup, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
            col("lang_entropy"),
            coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
            round(coalesce(col("n_dup_docs"), lit(0L)).cast("double")
              / col("n_docs").cast("double"), 6).as("dup_frac")))
      }),
      "x75_nockpt_shape" -> (() => {
        val docs = Tables.documents(s, d)
        val base = docs.select(col("source"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        val bySrc = base.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        val ent = base.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .join(bySrc.select(col("source"), col("n_docs")), "source")
          .withColumn("p", col("c").cast("double") / col("n_docs").cast("double"))
          .groupBy(col("source"))
          .agg(round(-sum(col("p") * log(col("p"))), 6).as("lang_entropy"))
        val dup = DedupQueries.x7Pairs(s, d)
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
        noop(bySrc.join(ent, "source")
          .join(dup, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
            col("lang_entropy"),
            coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
            round(coalesce(col("n_dup_docs"), lit(0L)).cast("double")
              / col("n_docs").cast("double"), 6).as("dup_frac")))
      }),
      "x76_nockpt_shape" -> (() => {
        val scores = TextQueries.x53LmScore(s, d)
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val dom = scores.join(src, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bigrams")).as("n_bigrams"),
            sum(col("sum_logp_s")).as("sum_logp_s"))
        val tot = dom.agg(sum(col("sum_logp_s")).as("t_lp"),
          sum(col("n_bigrams")).as("t_nb"))
        val ex = dom.crossJoin(broadcast(tot))
          .withColumn("excess",
            (col("t_lp").cast("double") / col("t_nb").cast("double")
              - col("sum_logp_s").cast("double") / col("n_bigrams").cast("double"))
              / lit(1000000.0))
        val z = ex.agg(sum(col("n_bigrams").cast("double") * exp(col("excess")))
          .as("z"))
        noop(ex.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), col("n_bigrams"),
            round(col("sum_logp_s").cast("double")
              / col("n_bigrams").cast("double") / lit(1000000.0), 6)
              .as("avg_logp"),
            round(col("excess"), 6).as("excess"),
            round(col("n_bigrams").cast("double") * exp(col("excess"))
              / col("z"), 6).as("weight")))
      }),
      "x69_hash_names_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
          .dropDuplicates("id", "sig")
        val a = sigs.select(col("sig"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b = sigs.select(col("sig"), col("id").as("id_b"),
          col("name").as("name_b"))
        noop(DedupQueries.bucketSelfJoin(s, a, b, Seq("sig"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      // r16b decomposition: candidates + refine, NO pair dedup / orderBy
      "x69_refine_nodedup" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val a = sigs.select(col("sig"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b = sigs.select(col("sig"), col("id").as("id_b"),
          col("name").as("name_b"))
        noop(DedupQueries.bucketSelfJoin(s, a, b, Seq("sig"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist")))
      }),
      // r16b candidate: current shape + explicit-width exchange before
      // the pair dedup (the x83 finding: near-unique final agg, AQE
      // coalesces it to a few fat tasks)
      "x69_dedup_pinned_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val a = sigs.select(col("sig"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b = sigs.select(col("sig"), col("id").as("id_b"),
          col("name").as("name_b"))
        noop(DedupQueries.bucketSelfJoin(s, a, b, Seq("sig"))
          .where(col("id_a") < col("id_b"))
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .repartition(s.sparkContext.defaultParallelism,
            col("id_a"), col("id_b"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      // r16b candidate: POSITION-RESTRICTED FastSS — an ED<=1 pair is
      // (a) equal strings: both identity sigs, i=0 = i=0;
      // (b) substitution at i: del_i(a) == del_i(b), SAME i;
      // (c) indel: shorter's identity == some deletion of the longer.
      // So the variant-only join's del_i x del_j (i != j) matches are
      // pure ED-2 waste; splitting the join into (sig, i) self-join +
      // ident x del join keeps completeness and cuts candidates.
      "x69_pos_cand" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"), col("i"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val a1 = sigs.select(col("sig"), col("i"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b1 = sigs.select(col("sig"), col("i"), col("id").as("id_b"),
          col("name").as("name_b"))
        val j1 = DedupQueries.bucketSelfJoin(s, a1, b1, Seq("sig", "i"))
          .where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
        val idents = sigs.where(col("i") === 0)
          .select(col("sig"), col("id").as("id_a"), col("name").as("name_a"))
        val dels = sigs.where(col("i") > 0)
          .select(col("sig"), col("id").as("id_b"), col("name").as("name_b"))
        val j2 = DedupQueries.bucketJoin(s, dels, idents, Seq("sig"))
          .where(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
        noop(j1.unionAll(j2))
      }),
      // position-restricted candidates + refine + pinned dedup + sort —
      // the full x69 shape under the split join
      "x69_pos_full_shape" -> (() => {
        val names = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val sigs = names
          .select(col("id"), col("name"),
            explode(expr("sequence(0, length(name))")).as("i"))
          .select(col("id"), col("name"), col("i"),
            xxhash64(when(col("i") === 0, col("name"))
              .otherwise(concat(expr("substring(name, 1, i - 1)"),
                expr("substring(name, i + 1, length(name))")))).as("sig"))
        val a1 = sigs.select(col("sig"), col("i"), col("id").as("id_a"),
          col("name").as("name_a"))
        val b1 = sigs.select(col("sig"), col("i"), col("id").as("id_b"),
          col("name").as("name_b"))
        val j1 = DedupQueries.bucketSelfJoin(s, a1, b1, Seq("sig", "i"))
          .where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("name_a"), col("id_b"), col("name_b"))
        val idents = sigs.where(col("i") === 0)
          .select(col("sig"), col("id").as("id_a"), col("name").as("name_a"))
        val dels = sigs.where(col("i") > 0)
          .select(col("sig"), col("id").as("id_b"), col("name").as("name_b"))
        val j2 = DedupQueries.bucketJoin(s, dels, idents, Seq("sig"))
          .where(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            when(col("id_a") < col("id_b"), col("name_a"))
              .otherwise(col("name_b")).as("name_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"),
            when(col("id_a") < col("id_b"), col("name_b"))
              .otherwise(col("name_a")).as("name_b"))
        noop(j1.unionAll(j2)
          .withColumn("edit_dist", graft.plans.SpatialFunctions
            .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
          .where(col("edit_dist") <= 1)
          .select(col("id_a"), col("id_b"), col("edit_dist"))
          .repartition(s.sparkContext.defaultParallelism,
            col("id_a"), col("id_b"))
          .dropDuplicates("id_a", "id_b")
          .orderBy(col("id_a"), col("id_b")))
      }),
      // r16b x7 decomposition
      "x7_kept_only" -> (() => {
        // the kept-grams checkpoint construction alone: the timed cost
        // every x7-family key pays at construction
        noop(DedupQueries.x7KeptGrams(s, d))
      }),
      "x7_inter_only" -> (() => {
        val kept = DedupQueries.x7KeptGrams(s, d)
        val keptJ = kept.repartition(s.sparkContext.defaultParallelism,
          col("gram"))
        noop(keptJ.as("ga")
          .join(keptJ.as("gb"), col("ga.gram") === col("gb.gram") &&
            col("ga.doc_id") < col("gb.doc_id"))
          .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_inter")))
      }),
      // r16b candidate: ONE gram-keyed exchange for the distinct AND the
      // DF window (hashpartitioning(gram) satisfies the distinct's
      // (doc_id, gram) clustering by the subset rule) — the current
      // shape pays spread + distinct exchange + window exchange
      "x7_kept_gramex" -> (() => {
        val docs = Tables.documents(s, d)
        val grams0 = Tables.spreadSmallScan(docs, "doc_id")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(0, size(w) - 2)")).as("i"))
          .select(col("doc_id"),
            expr(PortableHash.hex60("concat(w[i], '_', w[i+1])")).as("gram"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gram"))
        noop(grams0
          .repartition(s.sparkContext.defaultParallelism, col("gram"))
          .distinct()
          .withColumn("gram_df", count(lit(1)).over(w))
          .where(col("gram_df") <= DedupQueries.MaxGramDf)
          .select(col("doc_id"), col("gram"))
          .localCheckpoint(true))
      }),
      // r16b x58 decomposition (hashed-band era)
      "x58_cand_hashed" -> (() => {
        val docs = Tables.documents(s, d)
        val small = Tables.scanUnderfillsCores(docs)
        val sigs = DedupQueries.minhashSignatures(docs).localCheckpoint(true)
        val banded = DedupQueries.bandBucketsHashed(sigs)
        val ba = banded.select(col("bh"), col("doc_id").as("doc_a"))
        val bb = banded.select(col("bh"), col("doc_id").as("doc_b"))
        noop(DedupQueries.bucketSelfJoin(s, ba, bb, Seq("bh"))
          .where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .dropDuplicates("doc_a", "doc_b"))
      }),
      "x58_sh_only" -> (() => {
        val docs = Tables.documents(s, d)
        val sigs = DedupQueries.minhashSignatures(docs).localCheckpoint(true)
        val banded = DedupQueries.bandBucketsHashed(sigs)
        val ba = banded.select(col("bh"), col("doc_id").as("doc_a"))
        val bb = banded.select(col("bh"), col("doc_id").as("doc_b"))
        val cand = DedupQueries.bucketSelfJoin(s, ba, bb, Seq("bh"))
          .where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
          .localCheckpoint(true)
        val candDocs = broadcast(cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))).distinct())
        val words = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 3)
        noop(words
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(0, size(w) - 3)")).as("i"))
          .select(col("doc_id"),
            expr(PortableHash.hex60(
              "concat_ws(' ', w[i], w[i+1], w[i+2])")).as("h"))
          .join(candDocs, Seq("doc_id"), "leftsemi")
          .distinct())
      }),
      // r16b x6 decomposition: the sim construction is checkpoint-hidden
      // in the declared plan — probe its stages through the noop sink
      "x6_tokens_distinct" -> (() => {
        noop(Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .select(col("doc_id"), expr(PortableHash.hex60("t")).as("h"))
          .distinct())
      }),
      "x6_votes" -> (() => {
        val tokens = Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .select(col("doc_id"), expr(PortableHash.hex60("t")).as("h"))
          .distinct()
        val bitAggs = (0 until DedupQueries.SimBits).map { j =>
          sum(shiftright(col("h"), j).bitwiseAND(1L)).as(s"b$j")
        } :+ count(lit(1)).as("n_tok")
        noop(tokens.groupBy(col("doc_id"))
          .agg(bitAggs.head, bitAggs.tail: _*)
          .withColumn("simhash",
            (0 until DedupQueries.SimBits).map(j =>
              when(col(s"b$j") * 2 > col("n_tok"), lit(1L << j))
                .otherwise(lit(0L)))
              .reduce((a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column) => a.bitwiseOR(b)))
          .select(col("doc_id"), col("simhash")))
      }),
      "minhash_sigs" -> (() => noop(
        DedupQueries.minhashSignatures(Tables.documents(s, d)))),
      // r16 candidate: spread the documents scan before the per-token
      // work — the corpus parquet is far under one 128 MB scan split,
      // so the tokenize→explode→hash stage otherwise runs as ONE task
      // at any core count
      "minhash_sigs_spread" -> (() => noop(
        DedupQueries.minhashSignatures(Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))))),
      "x7_grams_spread" -> (() => {
        val docs = Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        noop(docs.select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(0, size(w) - 2)")).as("i"))
          .select(col("doc_id"),
            expr(PortableHash.hex60("concat(w[i], '_', w[i+1])")).as("gram"))
          .distinct())
      }),
      "x2_full" -> (() => noop(DedupQueries.x2DedupMinhash(s, d))),
      "x6_full" -> (() => noop(DedupQueries.x6DedupSimhash(s, d))),
      "x58_full" -> (() => noop(DedupQueries.x58MinhashCalibration(s, d))),
      "x71_full" -> (() => noop(DedupQueries.x71CrossCorpusDedup(s, d))),
      "x52_full" -> (() => noop(DedupQueries.x52QualityKeeper(s, d)))
    )
    val selected =
      if (args.length <= 1) phases
      else phases.filter { case (n, _) => args.drop(1).contains(n) }
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"probe: $name")
      def once(): Double = {
        val t0 = System.nanoTime()
        fn()
        (System.nanoTime() - t0) / 1e9
      }
      val sec = math.min(once(), once()) // min-of-2 like Bench
      println(f"$name,$sec%.3f")
    }
    spark.stop()
  }
}
