package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Opt-in spot bench for the above-floor registry keys at an
  * "sf1-equivalent" scale (VERDICT r15 next #3): ~145 of the 155 keys
  * run at the per-key job floor at sf0.1 (sub-0.5 s, 8-core ≈ 32-core),
  * so the main bench can no longer MEASURE an optimization on them and
  * the ±15% host drift manufactures phantom regressions. This main
  * gives the top keys measurement headroom without touching the driver
  * contract: `graft.Bench` is unchanged, and this is a separate,
  * explicitly-invoked record.
  *
  * Scale-up is derived from the base SF dir at RUN TIME (regenerated
  * every invocation into a fresh temp dir — nothing cached across
  * runs): each table is the union of `mult` replicas whose id spaces
  * are shifted by a multiple of 23100 = lcm(2,3,4,5,7,11,50), so every
  * id-modulo predicate in the registry (bench docs = doc_id%50,
  * old/new halves = %2, the %3/%4/%5/%7/%11 subsets) selects the same
  * fraction per replica as at the base SF. Replica CONTENT is decoupled
  * so cross-replica rows are mutually inert and per-replica structure
  * is exactly the base SF's:
  *  - documents: every token gets a per-replica suffix → gram/term/
  *    shingle vocabularies are disjoint across replicas (near-dup
  *    pairs, DF caps, BM25 postings, decontamination overlaps all keep
  *    their base-SF per-replica selectivity); token COUNTS per doc are
  *    unchanged.
  *  - embeddings: dimensions cyclically rotated per replica → norms
  *    (and so per-vector math) unchanged, cross-replica cosines
  *    decorrelated; LSH/cell occupancy grows linearly like a real
  *    corpus under a fixed plane/centroid budget (their candidate work
  *    is then genuinely superlinear — that is the at-scale truth this
  *    bench exists to show, not an artifact).
  *  - customer: names get a per-replica suffix (deletion-1 signatures
  *    can never match across replicas).
  *  - lineitem: order/part keys shifted → co-occurrence graphs are
  *    disjoint per replica.
  * Everything else is copied unscaled (none of the spot keys read it;
  * the copies keep the table-warm-up path identical to Bench's).
  *
  * Env: SPARK_GRAFT_SF_DIR (base tables), SPARK_GRAFT_CPUS (master),
  * SPARK_GRAFT_BENCH_TOPK_SF (replica count, default 10 ≈ sf1),
  * SPARK_GRAFT_BENCH_TOPK_OUT (full-precision record path, default
  * bench_topk.json). Optional args = key filter. Prints ONE JSON line
  * ("metric":"topk_total") — additions-only next to Bench's line,
  * never replacing it.
  */
object BenchTopK {

  /** The spot-bench key set: every key ≥ ~1 s in the r15 close record
    * (the ones the sf0.1 bench can still measure), minus the
    * deliberately-quadratic exact oracle anchors (x8/x48 — their scale
    * story is carried by x108/x30) and pure compositions of included
    * components (x22/x73/x79/x98/x56/x100 ride x16/x7/x51/x2/x6). */
  val topKeys: Seq[String] = Seq(
    "x2_dedup_minhash", "x6_dedup_simhash", "x7_ngram_jaccard",
    "x16_dup_clusters", "x20_decontaminate", "x30_neardup_lsh",
    "x34_decontaminate_bloom", "x47_ann_graph_search", "x51_bm25_topk",
    "x52_quality_keeper", "x55_phrase_search", "x57_dsir_weights",
    "x58_minhash_calibration", "x60_dup_spans", "x61_span_excise",
    "x64_leakage_safe_split", "x69_fuzzy_join", "x71_cross_corpus_dedup",
    "x74_source_pagerank", "x75_corpus_datasheet", "x83_triangle_count",
    "x87_cdc_chunks", "x96_zipf_profile", "x108_semantic_dedup_cells")

  /** lcm(2,3,4,5,7,11,50): id shifts that are multiples of this keep
    * every registry modulo predicate replica-aligned. */
  private val ModBase = 23100L

  private def shiftBase(maxId: Long): Long =
    ((maxId / ModBase) + 1L) * ModBase

  /** Same fixed-work CPU reference as graft.Bench (duplicated so the
    * driver-contract file stays untouched): single-threaded xorshift
    * chain, min-of-3 after a JIT warm-up. */
  private def chain(seed: Long, iters: Int): Long = {
    var x = seed
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val x = chain(0x9E3779B97F4A7C15L, 200000000)
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).min
  }

  /** Builds the scaled tables under `outDir` and returns outDir. */
  def buildScaled(spark: SparkSession, sfDir: String,
      outDir: String, mult: Int): String = {
    import spark.implicits._
    def base(name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def replicas(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(r => f(df, r)).reduce(_ unionAll _)

    // documents: shift doc_id, suffix every token for r > 0
    val docs = base("documents")
    val docShift = shiftBase(docs.agg(max("doc_id")).head().getLong(0))
    write(replicas(docs) { (df, r) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(r * docShift))
      if (r == 0) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1~" + r.toString))
    }, "documents")

    // embeddings: shift vec_id, rotate dimensions by r (mod dim count)
    val emb = base("embeddings")
    val vecShift = shiftBase(emb.agg(max("vec_id")).head().getLong(0))
    write(replicas(emb) { (df, r) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(r * vecShift))
      if (r == 0) shifted
      else shifted.withColumn("embedding",
        expr(s"concat(slice(embedding, ${r % 64} + 1, " +
          s"size(embedding) - ${r % 64}), slice(embedding, 1, ${r % 64}))"))
    }, "embeddings")

    // customer: shift c_custkey, suffix the name for r > 0
    val cust = base("customer")
    val custShift = shiftBase(cust.agg(max("c_custkey")).head().getLong(0))
    write(replicas(cust) { (df, r) =>
      val shifted = df.withColumn("c_custkey",
        col("c_custkey") + lit(r * custShift))
      if (r == 0) shifted
      else shifted.withColumn("c_name",
        concat(col("c_name"), lit("~" + r.toString)))
    }, "customer")

    // lineitem: shift order/part keys (disjoint co-occurrence graphs)
    val li = base("lineitem")
    val okShift = shiftBase(li.agg(max("l_orderkey")).head().getLong(0))
    val pkShift = shiftBase(li.agg(max("l_partkey")).head().getLong(0))
    write(replicas(li) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * okShift))
        .withColumn("l_partkey", col("l_partkey") + lit(r * pkShift))
    }, "lineitem")

    // unscaled copies (warm-up parity with Bench; no spot key reads them)
    Seq("region", "nation", "supplier", "part", "orders", "events")
      .foreach(t => write(base(t), t))
    outDir
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mult = sys.env.getOrElse("SPARK_GRAFT_BENCH_TOPK_SF", "10").toInt
    require(mult >= 1, s"SPARK_GRAFT_BENCH_TOPK_SF must be >= 1, got $mult")
    val calibration = calibrate()
    val spark = MasterConf.session(cpus)

    val selected =
      if (args.isEmpty) topKeys
      else {
        val unknown = args.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) {
          System.err.println(s"[topk] unknown key(s): ${unknown.mkString(", ")}")
          spark.stop(); sys.exit(1)
        }
        args.toSeq
      }

    // scaled inputs: regenerated EVERY invocation (untimed), never
    // reused across runs
    val dir = java.nio.file.Files.createTempDirectory("graft_topk_sf")
      .toFile.getAbsolutePath
    spark.sparkContext.setJobDescription(s"topk: build ${mult}x inputs")
    val tGen0 = System.nanoTime()
    buildScaled(spark, sfDir, dir, mult)
    val genSec = (System.nanoTime() - tGen0) / 1e9

    // warm-up parity with Bench: file index + codegen + ANN kernel JIT
    spark.sparkContext.setJobDescription("topk: warm-up")
    try {
      spark.range(1000000L).agg(sum("id")).count()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        graft.queries.Tables.t(spark, dir, t).count()
      }
      SparkEntry.queries("x3_topk_similarity")(spark, dir).count()
    } catch { case _: Throwable => }

    val results = selected.map { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"topk: $name")
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, dir).count(); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[topk] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      val r1 = once()
      val runs = Seq(r1) ++ (if (r1 >= 0) Seq(once()) else Seq.empty)
      val ok = runs.filter(_ >= 0)
      (name, if (ok.isEmpty) -1.0 else ok.min, runs)
    }
    def us(fmt: String, v: Double): String =
      fmt.formatLocal(java.util.Locale.US, v)
    val ok = results.collect { case (_, v, _) if v >= 0 => v }
    val failures = results.count(_._2 < 0)
    val total = if (ok.nonEmpty) ok.sum else 0.0
    val qs = results.map { case (k, v, _) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else us("%.2f", v))
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"topk_total","value":${us("%.2f", total)},"unit":"sec","queries":$qs,"n_keys":${results.size},"failures":$failures,"mult":$mult,"gen_s":${us("%.1f", genSec)},"calibration_s":${us("%.3f", calibration)},"base_sf":"$sfDir"}"""
    println(line)
    val runsJson = results.map { case (k, _, rs) =>
      "\"" + k + "\":" + rs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"topk_total","value":$total,"unit":"sec","queries":${results.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},"runs":$runsJson,"n_keys":${results.size},"failures":$failures,"mult":$mult,"gen_s":$genSec,"calibration_s":$calibration,"base_sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_TOPK_OUT",
      "bench_topk.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Throwable =>
        System.err.println(s"[topk] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // best-effort cleanup of the generated inputs
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    } catch { case _: Throwable => }
  }
}
