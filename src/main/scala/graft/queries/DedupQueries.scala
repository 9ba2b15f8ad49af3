package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{BoundedTopK, SaltedJoin}

/** Training-data-pipeline operators: deduplication + similarity search
  * (SURVEY.md §7.6 north-star extensions). Designed for 100 TB scale:
  * everything is shuffle-by-bucket (LSH bands / hash buckets), never
  * all-pairs, except the small-side brute-force baselines.
  *
  * Oracle-compared float math goes through exact integer scaling
  * (round(x*1e6) per element, integer sums) so Spark and DuckDB agree
  * bit-for-bit; see CoreQueries determinism notes.
  */
object DedupQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** Session-unique suffix for x16's per-round Observation names (a
    * reused name would cross-wire metrics when the query runs twice in
    * one session, e.g. Verify then Bench). */
  private val obsEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  // -- x1: exact dedup ----------------------------------------------------

  /** Exact dedup: hash-groupBy on content, keep lowest id as canonical.
    * At scale this is a single shuffle on a 128-bit content hash
    * (not the full text). */
  val x1DedupExact: QFn = (s, d) => {
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy(col("canonical_id"))
  }
  val x1Sql =
    """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)
      |ORDER BY canonical_id""".stripMargin

  // -- x2: MinHash + LSH near-dedup --------------------------------------

  val SigSize = 64
  val Bands = 16 // 4 rows per band
  private val MersennePrime = 2147483647L // 2^31 - 1
  // seeded affine hash parameters (deterministic across runs)
  private val (hashA, hashB) = {
    val rng = new scala.util.Random(1234)
    (Array.fill(SigSize)(1L + rng.nextInt(Int.MaxValue - 1)),
      Array.fill(SigSize)(rng.nextInt(Int.MaxValue).toLong))
  }

  /** Portable 60-bit shingle/token hash — see [[PortableHash]]. */
  private def hex60(sqlStr: String): String = PortableHash.hex60(sqlStr)
  private def duckHex60(sqlStr: String): String = PortableHash.duckHex60(sqlStr)

  /** doc_id + 64-component MinHash signature over word 3-gram shingles.
    * One explode + one groupBy (map-side combine keeps shuffle small:
    * 64 longs per doc regardless of doc length). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // spread a sub-split-size corpus across the cores before the
    // shingle explode + 64 min-hash partial aggregate — otherwise the
    // whole per-token stage runs as ONE scan task (r16, guide §2.5)
    val words = Tables.spreadSmallScan(docs, "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      // guard: sequence(0, size-3) turns descending (negative indices)
      // for <3-word docs; such docs have no shingles, like the SQL
      // range(1, n) which is simply empty
      .where(size(col("w")) >= 3)
    // no distinct: min over a multiset equals min over its set, so the
    // signature is identical and the pre-aggregation shuffle disappears.
    // The md5 hash runs as a TOP-LEVEL projection after a codegen'd
    // explode — Catalyst HOF lambdas are interpreted per element, and
    // md5-inside-transform was a 4× regression at sf0.1 (VERDICT r2);
    // Generate + projection fuse into one WholeStageCodegen stage, so
    // `w` is referenced, not copied, per shingle
    val shingles = words
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, size(w) - 3)")).as("i"))
      .select(col("doc_id"),
        expr(hex60("concat_ws(' ', w[i], w[i+1], w[i+2])")).as("h"))
    // reduce h into [0, p) first so a*h + b stays below 2^62 (ANSI-safe)
    val hMod = pmod(col("h"), lit(MersennePrime))
    val sigAggs = (0 until SigSize).map { i =>
      min(pmod(hMod * hashA(i) + hashB(i), lit(MersennePrime))).as(s"s$i")
    }
    shingles.groupBy(col("doc_id"))
      .agg(sigAggs.head, sigAggs.tail: _*)
      .withColumn("sig", array((0 until SigSize).map(i => col(s"s$i")): _*))
      .select(col("doc_id"), col("sig"))
  }

  /** x2 — MinHash LSH near-duplicate pairs: band-bucket join (16 bands ×
    * 4 rows), candidates verified by full-signature agreement fraction.
    * Scale path: shuffle is by (band, bucket), never all-pairs — and the
    * band join carries doc ids only (signatures re-attach by id join
    * afterwards), so the wide sig arrays never ride the candidate
    * shuffle. */
  /** (doc_id, band, bucket) LSH band buckets of a signature frame —
    * codegen'd explode + top-level concat (no HOF). Shared by x2 and
    * the incremental near-dup path. */
  def bandBuckets(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        explode(expr(s"sequence(0, ${Bands - 1})")).as("band"))
      // NOTE (r15): a struct-of-4-longs bucket key was tried (narrower
      // than the string through the exchanges) and measured ~10-15%
      // SLOWER end-to-end at bench scale — struct keys fall off the
      // UTF8String/long fast comparators in the skew-guard window sort
      // and the SMJ. The decimal string stays: injective and
      // binary-comparable.
      .select(col("doc_id"), col("band"),
        expr("concat_ws(',', CAST(sig[band*4] AS STRING), CAST(sig[band*4+1] AS STRING), CAST(sig[band*4+2] AS STRING), CAST(sig[band*4+3] AS STRING))")
          .as("bucket"))

  /** (doc_id, band, bh) band buckets with the HASHED join key (r16b,
    * guide §2.3 narrower types — the x69 pattern): bh packs the band
    * index and the band's four signature components through xxhash64
    * into 8 bytes, so the candidate exchanges, skew-guard window sorts
    * and join comparisons run on longs instead of ~75-byte decimal
    * strings. The hash is ONLY a candidate generator: consumers restore
    * exactness with [[sharesBandExact]] after the signature attach, so
    * a 64-bit collision can only add a candidate row that the exact
    * band check then drops — completeness is untouched (equal buckets
    * always hash equal). r15's struct-of-4-longs attempt lost because
    * struct keys fall off the long/UTF8String fast comparators; a
    * single long key is the fastest comparator there is. */
  def bandBucketsHashed(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        explode(expr(s"sequence(0, ${Bands - 1})")).as("band"))
      .select(col("doc_id"),
        xxhash64(col("band"), expr("sig[band*4]"), expr("sig[band*4+1]"),
          expr("sig[band*4+2]"), expr("sig[band*4+3]")).as("bh"))

  /** Exact "a and b share at least one LSH band bucket" over the full
    * signature arrays — the decimal bucket string is an injective
    * encoding of the band's four components, so bucket equality ⇔
    * component-wise equality. 16 × 4 codegen'd equality terms. */
  def sharesBandExact(sigA: Column, sigB: Column): Column =
    (0 until Bands)
      .map { b =>
        (0 until 4)
          .map(r => sigA(b * 4 + r) === sigB(b * 4 + r))
          .reduce(_ && _)
      }
      .reduce(_ || _)

  /** Skew-guard threshold from `graft.dedup.skewThreshold` (default
    * 4096 rows; <= 0 disables the guard). A hot LSH/simhash bucket
    * (near-identical boilerplate, empty-ish docs) makes its candidate
    * self-join quadratic IN ONE REDUCER; AQE skew-split cannot help
    * because the blow-up happens inside the join, not in its input
    * sizes. The guard is DECLARATIVE ([[SaltedJoin.adaptive]]): the
    * hot-bucket detection and the per-bucket shard count ride the
    * query's own DAG — composing a guarded query costs nothing and no
    * extra measurement job runs at execution time (the round-5 eager
    * `skewSalts` measure cost x2/x6 an extra ~1 s job per run). */
  private[graft] def skewThreshold(spark: SparkSession): Long = {
    val confKey = "graft.dedup.skewThreshold"
    val raw = spark.conf.get(confKey, "4096")
    scala.util.Try(raw.trim.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"$confKey must be a long, got '$raw'"))
  }

  /** Bucket-keyed candidate self-join, per-bucket salted above the
    * skew threshold. `a` and `b` must be projections of the same
    * bucketed frame (that contract is what lets the guard use the
    * cheap window form — see [[SaltedJoin.selfAdaptive]]). */
  private[graft] def bucketSelfJoin(spark: SparkSession, a: DataFrame,
      b: DataFrame, keys: Seq[String]): DataFrame = {
    val t = skewThreshold(spark)
    // pin the join exchange width when the inputs are measurably small
    // (r16): the candidate join's OUTPUT fans out per bucket, so AQE's
    // byte-based coalescing of the (tiny) input exchange would run the
    // pair formation on a couple of cores; at estate scale the gate is
    // false and the r15 plan is untouched
    val small = Tables.scanUnderfillsCores(a)
    if (t <= 0) a.join(b, keys)
    else SaltedJoin.selfAdaptive(a, b, keys, t,
      pin = (df, k) => Tables.pinWidth(small, df, k: _*))
  }

  /** Two-sided bucket join with the same guard, hot buckets counted on
    * the side declared skewed (e.g. a warehouse band index vs an ingest
    * slice); the small side replicates into the hot buckets' shards. */
  private[graft] def bucketJoin(spark: SparkSession, skewed: DataFrame,
      small: DataFrame, keys: Seq[String]): DataFrame = {
    val t = skewThreshold(spark)
    val pinned = Tables.scanUnderfillsCores(skewed)
    if (t <= 0) skewed.join(small, keys)
    else SaltedJoin.adaptive(skewed, small, keys, t,
      pin = (df, k) => Tables.pinWidth(pinned, df, k: _*))
  }

  /** Signature-agreement fraction (64 codegen'd equality terms). */
  def sigAgreement(a: Column, b: Column): Column =
    (0 until SigSize)
      .map(i => when(a(i) === b(i), 1).otherwise(0))
      .reduce((x: Column, y: Column) => x + y) / lit(SigSize.toDouble)


  val x2DedupMinhash: QFn = (s, d) => {
    // localCheckpoint (GC-managed) instead of cache: query functions
    // return plans whose actions run later, so an explicit unpersist
    // would race the caller
    val docs = Tables.documents(s, d)
    val small = Tables.scanUnderfillsCores(docs)
    val sigs = minhashSignatures(docs).localCheckpoint(true)
    // hashed 8-byte band keys through the candidate machinery (r16b);
    // exactness restored by the sharesBandExact filter after the attach
    val banded = bandBucketsHashed(sigs)
    val a = banded.select(col("bh"), col("doc_id").as("doc_a"))
    val b = banded.select(col("bh"), col("doc_id").as("doc_b"))
    // NOTE (r15): an x6-style first-collision filter in place of this
    // dropDuplicates was tried and measured SLOWER here — exact-dup
    // cliques collide in ALL 16 bands, so the post-attach filter pays
    // the 64-term array math on ~16x the rows the dedup-first shape
    // attaches. The ids-only dedup exchange stays.
    val cand = Tables.pinWidth(small, bucketSelfJoin(s, a, b, Seq("bh"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      // 64 codegen'd equality terms instead of interpreted zip_with/aggregate
      .withColumn("est_jaccard", sigAgreement(col("sig_a"), col("sig_b")))
      .where(sharesBandExact(col("sig_a"), col("sig_b")) &&
        col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // SQL fragments of the minhash recipe, shared by the x2 and x58
  // oracles so the two can never silently diverge from each other.
  private def sigMinExprsSql: String = (0 until SigSize).map { i =>
    s"MIN((hm * ${hashA(i)} + ${hashB(i)}) % $MersennePrime) AS s$i"
  }.mkString(",\n    ")
  private def bandSelectsSql: String = (0 until Bands).map { bnd =>
    val cols = (0 until 4).map(r => s"s${bnd * 4 + r}").mkString(", ")
    s"SELECT doc_id, $bnd AS band, concat_ws(',', $cols) AS bucket FROM sigs"
  }.mkString("\n  UNION ALL\n  ")
  private def eqSumSql: String = (0 until SigSize)
    .map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** DuckDB oracle for x2: same md5-derived shingle hash, the same 64
    * affine-min aggregations (constants inlined), the same 16-band bucket
    * strings, candidate distinct, and signature-agreement verification. */
  val x2Sql: String = {
    val p = MersennePrime
    val minExprs = sigMinExprsSql
    val bandSelects = bandSelectsSql
    val eqSum = eqSumSql
    s"""WITH words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE length(string_split(text, ' ')) >= 3),
       |shingles AS (
       |  SELECT doc_id,
       |    ${duckHex60("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} % $p AS hm
       |  FROM (SELECT doc_id, w, unnest(range(1, length(w) - 1)) AS i
       |        FROM words)),
       |sigs AS (
       |  SELECT doc_id,
       |    $minExprs
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |eq AS (
       |  SELECT doc_a, doc_b, ($eqSum) AS n_equal
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = doc_a
       |  JOIN sigs sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_equal / ${SigSize}.0 AS est_jaccard
       |FROM eq WHERE n_equal / ${SigSize}.0 >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -- x71: cross-corpus (A-vs-B) near-dup flagging ----------------------

  /** x71 — incremental / cross-corpus near-duplicate flagging: the
    * production dedup shape where a NEW slice (today's crawl) is checked
    * against an EXISTING corpus without self-joining either side. The
    * corpus splits by doc_id parity (even = existing, odd = new) as a
    * deterministic stand-in for the slice boundary; candidates form only
    * where a new doc's LSH band bucket collides with an existing doc's,
    * verified by full-signature agreement — x2's estimator, two-sided.
    * `CurationWarehouse.ingest` runs this join shape against its
    * persisted band index; this key is its oracle-checkable form.
    *
    * Scale shape: at 100 TB the existing side is the warehouse band
    * INDEX (bucket-partitioned parquet) and the new side a slice; the
    * band join shuffles ids-only rows keyed by the 8-byte hashed band
    * key (r16b — exactness restored by the sharesBandExact filter after
    * the attach; CurationWarehouse's persisted index keeps the
    * injective bucket strings, which remain a valid key choice for a
    * store that must be range-scannable), hot
    * buckets shard in-plan with the slice replicated into the shards
    * ([[graft.operators.SaltedJoin.adaptive]] — the guard declares the
    * warehouse side skewed), and signatures re-attach by id afterwards
    * so the wide arrays never ride the candidate shuffle. */
  val x71CrossCorpusDedup: QFn = (s, d) => {
    val sigs = minhashSignatures(Tables.documents(s, d)).localCheckpoint(true)
    // hashed 8-byte band keys (r16b, see bandBucketsHashed); exactness
    // restored by the sharesBandExact filter after the attach
    val banded = bandBucketsHashed(sigs)
    // Skew guard via ONE window over the SHARED pre-filter frame (r15):
    // the two corpus halves are disjoint filters of `banded`, so
    // [[SaltedJoin.selfAdaptive]]'s per-side window contract doesn't
    // hold (per-key cardinalities differ) — but deriving the salt count
    // from the COMBINED bucket size gives both sides the same value per
    // key, which is all shard-join correctness needs, and drops
    // [[SaltedJoin.adaptive]]'s hot-key aggregate + two attach joins
    // (its AQE broadcast chain was the measured gap to x2's window
    // form). Any consistent per-key salt count preserves the result:
    // the left side draws one shard, the right replicates all of them.
    val t = skewThreshold(s)
    val cand = (if (t <= 0) {
      val oldSide = banded.where(col("doc_id") % 2 === 0)
        .select(col("bh"), col("doc_id").as("doc_old"))
      val newSide = banded.where(col("doc_id") % 2 === 1)
        .select(col("bh"), col("doc_id").as("doc_new"))
      oldSide.join(newSide, Seq("bh"))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bh"))
      val salted = banded.withColumn("__salts", least(lit(32L),
        floor((count(lit(1)).over(w) + lit(t - 1)) / lit(t))))
      val oldSide = salted.where(col("doc_id") % 2 === 0)
        .withColumn("__shard", (rand(42) * col("__salts")).cast("long"))
        .select(col("bh"), col("__shard"), col("doc_id").as("doc_old"))
      val newSide = salted.where(col("doc_id") % 2 === 1)
        .withColumn("__shard",
          explode(sequence(lit(0L), col("__salts") - 1)))
        .select(col("bh"), col("__shard"), col("doc_id").as("doc_new"))
      // pinned-width join exchange for measurably-small inputs (r16,
      // same gate as bucketSelfJoin): the candidate join's output fans
      // out per bucket past what AQE's byte-based coalescing prices
      val small = Tables.scanUnderfillsCores(banded)
      Tables.pinWidth(small, oldSide, "bh", "__shard")
        .join(Tables.pinWidth(small, newSide, "bh", "__shard"),
          Seq("bh", "__shard"))
    })
      .select(col("doc_new"), col("doc_old"))
      .dropDuplicates("doc_new", "doc_old")
    cand
      .join(sigs.select(col("doc_id").as("doc_new"), col("sig").as("sig_a")), "doc_new")
      .join(sigs.select(col("doc_id").as("doc_old"), col("sig").as("sig_b")), "doc_old")
      .withColumn("est_jaccard", sigAgreement(col("sig_a"), col("sig_b")))
      .where(sharesBandExact(col("sig_a"), col("sig_b")) &&
        col("est_jaccard") >= 0.5)
      .select(col("doc_new"), col("doc_old"), col("est_jaccard"))
      .orderBy(col("doc_new"), col("doc_old"))
  }
  val x71Sql: String = {
    val p = MersennePrime
    s"""WITH words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE length(string_split(text, ' ')) >= 3),
       |shingles AS (
       |  SELECT doc_id,
       |    ${duckHex60("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} % $p AS hm
       |  FROM (SELECT doc_id, w, unnest(range(1, length(w) - 1)) AS i
       |        FROM words)),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigMinExprsSql
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  $bandSelectsSql),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       |  FROM banded n JOIN banded o
       |    ON n.band = o.band AND n.bucket = o.bucket
       |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
       |eq AS (
       |  SELECT doc_new, doc_old, ($eqSumSql) AS n_equal
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = doc_new
       |  JOIN sigs sb ON sb.doc_id = doc_old)
       |SELECT doc_new, doc_old, n_equal / ${SigSize}.0 AS est_jaccard
       |FROM eq WHERE n_equal / ${SigSize}.0 >= 0.5
       |ORDER BY doc_new, doc_old""".stripMargin
  }

  // -- x74: source-graph PageRank ----------------------------------------

  /** Fixed-point scale for x74's integer PageRank state (same exact-int
    * trick as x59's centroid recurrence — no FP accumulation order to
    * diverge between engines). */
  private val PrScale = 1000000000000L // 1e12
  private val PrRounds = 5

  /** x74 — PageRank over the SOURCE graph induced by cross-source
    * near-duplicate pairs (x7's verified pairs): sources sharing
    * near-dup documents are linked with weight = pair count, and the
    * stationary importance ranks which sources originate content vs
    * mirror it — the crawl-prioritization / domain-quality-prior signal
    * (Common Crawl-style pipelines rank domains exactly this way before
    * fetch). Undirected edges, damping 0.85, [[PrRounds]] synchronous
    * rounds from the uniform vector; ALL arithmetic is integer at
    * [[PrScale]] (contribution = r·w div W, then 85/100 damping in
    * integer div), so the oracle's unrolled-CTE replay is bit-exact —
    * the x59 trick applied to a graph recurrence.
    *
    * Scale shape: the rank vector is one narrow row per source and the
    * per-round cost is one edge join + one (v)-keyed sum — PageRank's
    * standard Pregel shape; each round breaks lineage through a
    * rotating [[graft.operators.Checkpoints.Loop]] (superseded rank
    * copies freed) so the 5-round lineage never compounds. The
    * node-count scalar rides a one-row broadcast cross join. Dup-pair
    * edges are x7's (DF-capped grams, bounded candidates); the edge
    * aggregation shuffles (u,v) id pairs only. */
  val x74SourcePagerank: QFn = (s, d) => {
    import s.implicits._
    val docSrc = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val cross = x7Pairs(s, d).select(col("doc_a"), col("doc_b"))
      .join(docSrc.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(docSrc.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .where(col("src_a") =!= col("src_b"))
    // the edge count rides the checkpoint materialization and decides
    // the single-task finish (r15 optimization, same scale-adaptive
    // rule as ConnectedComponents.localEdgeLimit): the recurrence is
    // integer-exact, so running all PrRounds in one task over a
    // task-sized graph is bit-identical to the distributed rounds —
    // and drops ~2 jobs + 2 shuffles per round of pure fixed overhead.
    // Above the limit the Pregel-shaped loop below runs unchanged.
    val obs0 = org.apache.spark.sql.Observation(
      s"x74_n_${obsEpoch.incrementAndGet()}")
    val edges = graft.operators.Checkpoints.stable(
      cross.select(col("src_a").as("u"), col("src_b").as("v"))
        .union(cross.select(col("src_b").as("u"), col("src_a").as("v")))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        .observe(obs0, count(lit(1)).as("n")))
    val nEdges = obs0.get("n").asInstanceOf[Long]
    val nodes = docSrc.select(col("source")).distinct()
    val limit = graft.operators.ConnectedComponents.localEdgeLimit(s)
    // the grouped edge table is SYMMETRIC (each undirected source pair
    // appears as (u,v) and (v,u)), so its count is 2× the canonical
    // edge count graft.cc.localEdgeLimit is defined over — compare
    // against 2×limit so the conf means the same thing in every
    // consumer (ADVICE r15, same fix as x16).
    if (limit > 0 && nEdges <= 2 * limit) {
      val tagged = edges
        .select(lit(0).as("t"), col("u"), col("v"), col("w"))
        .unionByName(nodes.select(lit(1).as("t"), col("source").as("u"),
          lit(null).cast("string").as("v"), lit(0L).as("w")))
      tagged.as[(Int, String, String, Long)]
        .coalesce(1)
        .mapPartitions(localPagerank)
        .toDF("source", "r")
        .select(col("source"), col("r").as("rank_scaled"),
          round(col("r").cast("double") / lit(PrScale.toDouble), 6).as("rank"))
        .orderBy(col("source"))
    } else {
    val outW = edges.groupBy(col("u")).agg(sum(col("w")).as("wu"))
    val nn = nodes.agg(count(lit(1)).as("n"))
    // rank rounds rotate through a Loop (superseded rank copies freed —
    // blocks locally, checkpoint files on the reliable path); `edges`
    // is loop-invariant and stays on plain stable above
    val loop = new graft.operators.Checkpoints.Loop(s, keep = 2)
    var rank = loop.stable(
      nodes.crossJoin(broadcast(nn))
        .select(col("source"), expr(s"$PrScale div n").as("r")))
    for (_ <- 1 to PrRounds) {
      // (r*w) div wu without forming r*w: r ≈ 1e12 scaled, so the raw
      // product overflows Long once an edge carries >9.2e6 pairs (two
      // big mirrors at corpus scale). The split form is the exact
      // identity floor(r·w/wu) = (r div wu)·w + ((r mod wu)·w) div wu,
      // whose largest intermediate is (wu-1)·w — safe for weights to
      // ~3e9. (The oracle keeps the direct form: DuckDB's SUM runs in
      // HUGEINT and the identity guarantees equal values.)
      val contrib = edges
        .join(rank.select(col("source").as("u"), col("r")), "u")
        .join(outW, "u")
        .select(col("v").as("source"),
          expr("(r div wu) * w + ((r % wu) * w) div wu").as("c"))
        .groupBy(col("source")).agg(sum(col("c")).as("cs"))
      rank = loop.stable(
        nodes.crossJoin(broadcast(nn))
          .join(contrib, Seq("source"), "left")
          .select(col("source"),
            (expr(s"(15 * $PrScale) div (100 * n)")
              + expr("(85 * coalesce(cs, CAST(0 AS BIGINT))) div 100")).as("r")))
    }
    rank
      .select(col("source"), col("r").as("rank_scaled"),
        round(col("r").cast("double") / lit(PrScale.toDouble), 6).as("rank"))
      .orderBy(col("source"))
    }
  }

  /** Single-task replay of the x74 recurrence over a tagged edge/node
    * iterator (t=0: weighted edge (u,v,w); t=1: node in `u`). Integer
    * division exactly as the distributed expressions write it —
    * `(r div wu)*w + ((r mod wu)*w) div wu` per edge, damped base +
    * `85·cs div 100` per node — so the output is bit-identical. All
    * multiplies/adds are *Exact (ADVICE r15): the distributed
    * expressions run under ANSI SQL and FAIL on Long overflow, so the
    * local replay must throw at the same bound rather than silently
    * wrap into wrong ranks. */
  private def localPagerank(
      it: Iterator[(Int, String, String, Long)]): Iterator[(String, Long)] = {
    val es = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val ns = scala.collection.mutable.ArrayBuffer.empty[String]
    it.foreach { case (t, u, v, w) =>
      if (t == 0) es += ((u, v, w)) else ns += u
    }
    // empty corpus: no nodes (and so no edges) — return the same empty
    // frame the distributed branch produces instead of dividing by 0
    // (ADVICE r15)
    if (ns.isEmpty) return Iterator.empty
    val n = ns.length.toLong
    val wu = scala.collection.mutable.HashMap.empty[String, Long]
    es.foreach { case (u, _, w) =>
      wu(u) = Math.addExact(wu.getOrElse(u, 0L), w)
    }
    var rank = scala.collection.mutable.HashMap.empty[String, Long]
    ns.foreach(src => rank(src) = PrScale / n)
    val base = (15L * PrScale) / Math.multiplyExact(100L, n)
    for (_ <- 1 to PrRounds) {
      val cs = scala.collection.mutable.HashMap.empty[String, Long]
      es.foreach { case (u, v, w) =>
        val r = rank(u); val o = wu(u)
        val c = Math.addExact(Math.multiplyExact(r / o, w),
          Math.multiplyExact(r % o, w) / o)
        cs(v) = Math.addExact(cs.getOrElse(v, 0L), c)
      }
      val next = scala.collection.mutable.HashMap.empty[String, Long]
      ns.foreach(src => next(src) =
        Math.addExact(base, Math.multiplyExact(85L, cs.getOrElse(src, 0L)) / 100L))
      rank = next
    }
    ns.iterator.map(src => (src, rank(src)))
  }
  // lazy: x7CteBody is defined further down the object body
  lazy val x74Sql: String = {
    val rounds = (1 to PrRounds).map { t =>
      s"""c$t AS (
         |  SELECT e.v AS source, CAST(SUM(r.r * e.w // o.wu) AS BIGINT) AS cs
         |  FROM edges e JOIN r${t - 1} r ON r.source = e.u
         |  JOIN outw o ON o.u = e.u
         |  GROUP BY e.v),
         |r$t AS (
         |  SELECT nodes.source,
         |    CAST((15 * $PrScale // (100 * nn.n))
         |      + (85 * COALESCE(c.cs, 0) // 100) AS BIGINT) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$t c USING (source))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $x7CteBody,
       |e0 AS (
       |  SELECT da.source AS src_a, db.source AS src_b
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b
       |  WHERE da.source <> db.source),
       |edges AS (
       |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM (SELECT src_a AS u, src_b AS v FROM e0
       |        UNION ALL SELECT src_b, src_a FROM e0)
       |  GROUP BY u, v),
       |outw AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wu FROM edges GROUP BY u),
       |nodes AS (SELECT DISTINCT source FROM documents),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT source, CAST($PrScale // n AS BIGINT) AS r
       |       FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT source, r AS rank_scaled,
       |  round(CAST(r AS DOUBLE) / $PrScale.0, 6) AS rank
       |FROM r$PrRounds
       |ORDER BY source""".stripMargin
  }

  // -- x58: minhash estimator calibration --------------------------------

  /** x58 — estimator calibration for the x2 MinHash sketch: every LSH
    * candidate pair with BOTH its 64-component signature-agreement
    * ESTIMATE of Jaccard (E[agree/64] = J, the Broder minwise property)
    * and the EXACT shingle-set Jaccard it estimates, plus the scaled
    * absolute error. This is the table production dedup actually tunes
    * with — bands/rows and the verification threshold are chosen by
    * where the estimator's error puts the S-curve, and that choice needs
    * a measured calibration, not faith in the formula.
    *
    * Scale shape: the exact confirm runs ONLY on LSH candidate pairs
    * (the sketch bounds the quadratic work exactly as x2 does), over
    * shingle sets first semi-joined to candidate docs — so the gram
    * equi-join is Σ|shingles(candidate docs)|, never corpus². The
    * candidate list is localCheckpointed because three chains (estimate,
    * intersection, set sizes) consume it. Agreement is the same 64
    * codegen'd equality terms as x2; exact Jaccard is the same integer
    * set math as x7. */
  val x58MinhashCalibration: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val small = Tables.scanUnderfillsCores(docs)
    val sigs = minhashSignatures(docs).localCheckpoint(true)
    // hashed 8-byte band keys (r16b, see bandBucketsHashed): collision
    // pairs can only ADD candidate rows; the est chain's
    // sharesBandExact filter drops them before the output, and the
    // extra rows they add to inter/candDocs only cost negligible work
    val banded = bandBucketsHashed(sigs)
    val ba = banded.select(col("bh"), col("doc_id").as("doc_a"))
    val bb = banded.select(col("bh"), col("doc_id").as("doc_b"))
    // the candidate-pair count rides the checkpoint materialization
    // (no extra job) and gates the broadcast hint below: candDocs
    // scales with the corpus (every doc in any LSH collision), so a
    // FORCED broadcast of it risks driver/executor OOM at estate scale
    // where the planner's graceful semi-join degradation is the right
    // call (ADVICE r15). Below the bound — every test SF — the hint
    // keeps the measured r15 plan.
    val candObs = org.apache.spark.sql.Observation(
      s"x58_cand_${obsEpoch.incrementAndGet()}")
    val cand = Tables.pinWidth(small, bucketSelfJoin(s, ba, bb, Seq("bh"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
      .observe(candObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    // ≤ 2M pairs ⇒ ≤ 4M distinct ids ≈ 32 MB of longs — comfortably
    // broadcastable; above that the planner decides (AQE can still
    // pick broadcast from the measured post-distinct size). The count
    // is over HASHED candidates, a superset that includes 64-bit
    // collision pairs, so the gate can only switch the broadcast off sooner.
    val candBroadcastable =
      candObs.get("n").asInstanceOf[Long] <= 2000000L
    val candDocs0 = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val candDocs = if (candBroadcastable) broadcast(candDocs0) else candDocs0
    // exact shingle sets (full 60-bit hashes, not the mod-p reduction the
    // signatures use), restricted to candidate docs BEFORE the gram join
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
    val sh = words
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, size(w) - 3)")).as("i"))
      .select(col("doc_id"),
        expr(hex60("concat_ws(' ', w[i], w[i+1], w[i+2])")).as("h"))
      // semi-join BEFORE the distinct (r15): the candidate-doc filter
      // commutes with a per-(doc_id, h) distinct, and candDocs is a
      // broadcast-sized id list at every measured SF, so the
      // corpus-wide shingle stream is pruned scan-side and the distinct
      // exchange carries only candidate docs' shingles (the old order
      // paid the full-corpus distinct first, then threw most of it
      // away). The broadcast hint is count-gated above (ADVICE r15).
      .join(candDocs, Seq("doc_id"), "leftsemi")
      .transform(df => Tables.pinWidth(small, df, "doc_id", "h"))
      .distinct()
      // three consumers (sizes, both intersection attaches) — without
      // the checkpoint each re-runs the tokenize→explode→distinct
      // subtree (the x61 multi-consumer rule, applied here r15)
      .localCheckpoint(true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = Tables.pinWidth(small, cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h")),
        "doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val est = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .where(sharesBandExact(col("sig_a"), col("sig_b")))
      .withColumn("est_jaccard", sigAgreement(col("sig_a"), col("sig_b")))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    est
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("ni") / (col("na") + col("nb") - col("ni")).cast("double"))
      .withColumn("err_s",
        round(abs(col("est_jaccard") - col("jaccard")) * lit(1000000.0))
          .cast("long"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard"),
        col("err_s"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB oracle for x58: the x2 signature/band/candidate recipe
    * (shared fragments) + the x7-style exact set intersection over the
    * unreduced 60-bit shingle hashes. */
  val x58Sql: String = {
    val p = MersennePrime
    s"""WITH words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE length(string_split(text, ' ')) >= 3),
       |sh0 AS (
       |  SELECT doc_id,
       |    ${duckHex60("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS h
       |  FROM (SELECT doc_id, w, unnest(range(1, length(w) - 1)) AS i
       |        FROM words)),
       |shingles AS (SELECT doc_id, h % $p AS hm FROM sh0),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigMinExprsSql
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  $bandSelectsSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sh AS (SELECT DISTINCT doc_id, h FROM sh0),
       |sizes AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
       |  GROUP BY 1, 2),
       |eq AS (
       |  SELECT doc_a, doc_b, ($eqSumSql) AS n_equal
       |  FROM cand JOIN sigs sa ON sa.doc_id = doc_a
       |  JOIN sigs sb ON sb.doc_id = doc_b)
       |SELECT e.doc_a, e.doc_b,
       |  e.n_equal / ${SigSize}.0 AS est_jaccard,
       |  COALESCE(i.n_inter, 0) /
       |    CAST(na.n + nb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard,
       |  CAST(round(abs(e.n_equal / ${SigSize}.0
       |    - COALESCE(i.n_inter, 0) /
       |      CAST(na.n + nb.n - COALESCE(i.n_inter, 0) AS DOUBLE))
       |    * 1000000.0) AS BIGINT) AS err_s
       |FROM eq e
       |LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
       |JOIN sizes na ON na.doc_id = e.doc_a
       |JOIN sizes nb ON nb.doc_id = e.doc_b
       |ORDER BY e.doc_a, e.doc_b""".stripMargin
  }

  // -- x6: SimHash near-dedup --------------------------------------------

  val SimBits = 60 // 15 hex chars of md5 → 60-bit token hash (portable)
  val SimChunks = 4 // 4 × 15-bit chunks; pigeonhole covers hamming ≤ 3

  /** x6 — 60-bit SimHash: per-token hash bit votes; candidate pairs from
    * any matching 15-bit chunk (4 chunks cover hamming ≤ 3 by
    * pigeonhole), verified by exact hamming distance. The token hash is
    * md5-derived so the DuckDB oracle reproduces it bit-for-bit.
    * Scale path: shuffle by (chunk index, chunk value). */
  val x6DedupSimhash: QFn = (s, d) => {
    // hash before the distinct (8-byte hashes shuffle, not strings) but
    // OUTSIDE any HOF lambda: explode the tokens (codegen'd Generate),
    // md5 as a fused top-level projection
    val tokens = Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), expr(hex60("t")).as("h"))
      .distinct()
    // vote_j > 0  ⟺  2·(count of set bits) > n: sum the raw bit instead
    // of a ±1 conditional — one shift+mask per (row, bit), no branch
    val bitAggs = (0 until SimBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L)).as(s"b$j")
    } :+ count(lit(1)).as("n_tok")
    val sim = tokens.groupBy(col("doc_id"))
      .agg(bitAggs.head, bitAggs.tail: _*)
      .withColumn("simhash",
        (0 until SimBits).map(j =>
          when(col(s"b$j") * 2 > col("n_tok"), lit(1L << j)).otherwise(lit(0L)))
          .reduce((a: Column, b: Column) => a.bitwiseOR(b)))
      .select(col("doc_id"), col("simhash"))
      .localCheckpoint(true)
    val chunked = sim.select(col("doc_id"), col("simhash"),
        explode(expr(s"sequence(0, ${SimChunks - 1})")).as("chunk"))
      .withColumn("cval", expr("shiftright(simhash, chunk * 15) & 32767"))
    val a = chunked.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = chunked.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    // emit each pair ONLY at the first chunk where it collides: a pair
    // whose signatures agree on k chunks would otherwise surface k times
    // and need a dropDuplicates over the full candidate set (2.9M rows at
    // sf0.1 for 127k distinct survivors — a 23× shuffle). The
    // first-collision predicate is pure bit math on the already-joined
    // simhashes, so dedup costs zero extra shuffle; hamming is filtered
    // in the same codegen stage for the same reason.
    def chunkDiffers(c: Int): Column =
      shiftright(col("sim_a"), c * 15).bitwiseAND(32767L) =!=
        shiftright(col("sim_b"), c * 15).bitwiseAND(32767L)
    val firstCollision = (1 until SimChunks).foldLeft(
      when(col("chunk") === 0, lit(true))) { (w, c) =>
        w.when(col("chunk") === c, (0 until c).map(chunkDiffers)
          .reduce((x: Column, y: Column) => x && y))
      }.otherwise(lit(false))
    bucketSelfJoin(s, a, b, Seq("chunk", "cval"))
      .where(col("doc_a") < col("doc_b") && firstCollision)
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .where(col("hamming") <= 2)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB oracle for x6: same md5-derived 60-bit token hash, the same
    * bit votes / majority simhash, chunk buckets, and hamming verify. */
  val x6Sql: String = {
    val voteExprs = (0 until SimBits).map { j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val simExpr = (0 until SimBits).map { j =>
      s"(CASE WHEN b$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE 0 END)"
    }.mkString(" | ")
    val chunkSelects = (0 until SimChunks).map { c =>
      s"SELECT doc_id, $c AS chunk, (simhash >> ${c * 15}) & 32767 AS cval FROM sim"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tokens AS (
       |  SELECT DISTINCT doc_id, ${duckHex60("t")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |        FROM documents)),
       |votes AS (
       |  SELECT doc_id,
       |    $voteExprs
       |  FROM tokens GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id, $simExpr AS simhash FROM votes),
       |chunked AS (
       |  $chunkSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM chunked a JOIN chunked b
       |    ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |FROM cand
       |JOIN sim sa ON sa.doc_id = doc_a
       |JOIN sim sb ON sb.doc_id = doc_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -- x7: n-gram Jaccard (exact) ----------------------------------------

  /** x7 — exact word-bigram Jaccard over *discriminative* shingles:
    * grams appearing in > MaxGramDf documents are dropped before the
    * equi-join (the TF-IDF-style trick that keeps the join linear at
    * scale — common shingles would otherwise create quadratic gram
    * groups). Set sizes are over the kept grams; all-integer math. */
  val MaxGramDf = 20
  /** x7 pair relation WITHOUT the presentation sort — x16 consumes this
    * as its edge list (a range-exchange + sampling job would otherwise
    * run just to feed an unordered union). */
  /** The x7 gram-intersection computation WITHOUT the Jaccard cut —
    * (doc_a, doc_b, n_inter, na, nb, jaccard) for every candidate pair
    * sharing ≥ 1 DF-capped gram. x7 cuts it on Jaccard, x79 on
    * containment. */
  /** The DF-capped kept-grams frame (doc_id, gram) of [[x7Scored]],
    * eagerly checkpointed; each call builds a fresh checkpoint. */
  private[graft] def x7KeptGrams(s: SparkSession, d: String): DataFrame =
    x7KeptGrams(s, d, materialize = true)

  /** `materialize = false` skips the eager checkpoint so plan tooling
    * (graft.Explain's `x7_keptgrams` pseudo-key) can print the
    * otherwise checkpoint-hidden construction plan; every query path
    * uses the materialized form. */
  private[graft] def x7KeptGrams(s: SparkSession, d: String,
      materialize: Boolean): DataFrame = {
    val docs = Tables.documents(s, d)
    // grams are hashed to 8-byte ints inside the projection (same
    // md5-derived hash the oracle reproduces), so the distinct + DF-join
    // shuffles carry longs instead of full gram strings (~8× narrower)
    // spread before the gram explode + hash (r16, guide §2.5)
    val grams0 = Tables.spreadSmallScan(docs, "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2) // guard descending sequence on 1-word docs
      // codegen'd explode + top-level md5, not an interpreted HOF lambda
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, size(w) - 2)")).as("i"))
      .select(col("doc_id"), expr(hex60("concat(w[i], '_', w[i+1])")).as("gram"))
    // ONE explicit gram-keyed exchange serves BOTH the distinct and the
    // DF window below it on measurably-small inputs (r16b):
    // hashpartitioning(gram) satisfies the distinct's (doc_id, gram)
    // clustering by the subset rule, so the distinct's partial/final
    // pair fuses behind the exchange and the window needs only a sort —
    // and the explicit width stops AQE coalescing both near-unique-key
    // stages to a few fat tasks (the x83 finding; kept construction
    // measured 2.7 → 1.1 s at ×10). Estate-scale inputs keep the r15
    // distinct→window shape untouched.
    val grams = Tables.pinWidth(Tables.scanUnderfillsCores(docs), grams0,
      "gram").distinct()
    // DF cap as ONE window over gram instead of a count aggregate joined
    // back (guide §2.4: two operations keyed the same way share one
    // exchange — the window count and the filter ride a single
    // hash(gram) exchange; the old agg+join shape paid the exchange
    // twice plus a join). A hot gram's window task stays linear
    // (sort + count), and the quadratic pair work below is what the DF
    // cap itself bounds.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    val kept = grams
      .withColumn("gram_df", count(lit(1)).over(w))
      .where(col("gram_df") <= MaxGramDf)
      .select(col("doc_id"), col("gram"))
    // localCheckpoint: THREE consumers (sizes, both self-join sides) —
    // without it each re-executes the scan→explode→distinct→window
    // subtree (the before-plan carried 46 Exchanges for this reason).
    // EAGER: a lazy checkpoint was measured (r15) and lost — sibling
    // AQE stages race to materialize the same partitions and duplicate
    // the work; the eager barrier runs the subtree exactly once.
    // (Composition probes also measured SKIPPING this barrier inside
    // x75 — 2.55 vs 2.08 s — and inlining the full r14 agg+join shape
    // — 2.65 vs 2.34 s; the barrier'd window form wins there too.
    // Re-confirmed r16 with a 3×3 cold-JVM interleaved matrix: all
    // three shapes tie at ~2.6 s min — the r14 0.51 stamp does not
    // reproduce under r14's own shape either.)
    if (materialize) kept.localCheckpoint(true) else kept
  }

  private[graft] def x7Scored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kept = x7KeptGrams(s, d)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // pin the intersection self-join's exchange width on measurably-
    // small inputs (r16, same rule as bucketSelfJoin): the join output
    // fans out ≤ MaxGramDf× per gram while AQE coalesces the exchange
    // by its (small) input bytes; ReuseExchange dedups the identical
    // pinned exchange across the two sides
    val keptJ = Tables.pinWidth(Tables.scanUnderfillsCores(docs), kept, "gram")
    // NOTE (r16b, measured negative result — do not retry): pinning the
    // intersection aggregate's width (the x83 uv pin) measured flat on
    // x7 and WORSE on its compositions (x52 3.5 → 4.4 at ×10) — the
    // shared-gram combining is real here, so the partial aggregate
    // earns its keep and AQE's coalesce of the small combined output is
    // correct.
    val inter = keptJ.as("ga")
      .join(keptJ.as("gb"), col("ga.gram") === col("gb.gram") &&
        col("ga.doc_id") < col("gb.doc_id"))
      .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("n_inter") / (col("na") + col("nb") - col("n_inter")).cast("double"))
  }

  private[graft] def x7Pairs(s: SparkSession, d: String): DataFrame =
    x7Scored(s, d)
      .where(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
  val x7NgramJaccard: QFn = (s, d) =>
    x7Pairs(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** x79 — CONTAINMENT dedup (Broder's containment coefficient):
    * `C = |A∩B| / min(|A|,|B|)` flags pairs where the smaller gram set
    * sits (almost) inside the larger — quotation, aggregation, and
    * partial-mirror duplication that symmetric Jaccard structurally
    * misses (a 50-gram doc fully contained in a 500-gram doc has
    * J ≈ 0.1 but C = 1.0). Same gram/intersection machinery as x7,
    * WITHOUT the Jaccard threshold; cut at C ≥ 0.8.
    *
    * Scale shape: identical to x7 — DF-capped grams bound every
    * posting list, the intersection join shuffles hashed-gram longs,
    * and the containment filter is column math on the joined counts.
    * (The candidate set is pre-threshold, so this key is WHY x7's
    * scored form is factored out: both cuts share one plan shape.) */
  val x79Containment: QFn = (s, d) =>
    x7Scored(s, d)
      .withColumn("containment",
        round(col("n_inter") / least(col("na"), col("nb")).cast("double"), 6))
      .where(col("containment") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("na"),
        col("nb"), col("containment"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  /** Shared CTE body producing the x7 gram/intersection relations —
    * reused by the x16 clustering oracle. */
  private[graft] val x7CteBody: String =
    s"""allgrams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |      list_transform(range(1, length(string_split(text, ' '))),
      |        i -> ${duckHex60("string_split(text, ' ')[i] || '_' || string_split(text, ' ')[i+1]")})))
      |      AS gram
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, gram FROM allgrams
      |  WHERE gram IN (SELECT gram FROM allgrams GROUP BY gram
      |                 HAVING COUNT(*) <= $MaxGramDf)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM grams ga JOIN grams gb
      |    ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b, n_inter,
      |    n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.3)""".stripMargin

  val x7Sql =
    s"""WITH $x7CteBody
      |SELECT doc_a, doc_b, n_inter, jaccard FROM pairs
      |ORDER BY doc_a, doc_b""".stripMargin

  /** x80 — per-document n-gram NOVELTY: the fraction of a doc's
    * distinct word bigrams whose FIRST corpus occurrence (by doc_id
    * order) is this doc — the originality signal dedup pipelines use
    * to separate content originators from recombinators, and the
    * memorization-risk proxy (low-novelty docs are mostly re-seen
    * text). Uses the x7 gram recipe BEFORE the DF cap: novelty must
    * see boilerplate grams — they are exactly what makes a doc
    * non-novel.
    *
    * Scale shape: one shuffle by hashed gram for the min-doc_id
    * aggregate, one gram-keyed join back (both sides the same narrow
    * (gram, doc_id) longs), one map-side-combined per-doc rollup —
    * linear in corpus gram volume, no pair join anywhere. */
  val x80GramNovelty: QFn = (s, d) => {
    val grams = gramsOf(Tables.documents(s, d))
    // first-occurrence attach as ONE window over the gram partition
    // (r15, guide §2.4: two operations keyed the same way share one
    // exchange) — the old aggregate-then-join-back shape paid the
    // hash(gram) exchange twice plus a sort-merge join; min-over-
    // partition streams linearly through a hot boilerplate gram's
    // single partition exactly like the old groupBy reducer did.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    grams.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel") / col("n_grams").cast("double"), 6))
      .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novelty"))
      .orderBy(col("doc_id"))
  }
  val x80Sql: String =
    s"""WITH allgrams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |      list_transform(range(1, length(string_split(text, ' '))),
      |        i -> ${duckHex60("string_split(text, ' ')[i] || '_' || string_split(text, ' ')[i+1]")})))
      |      AS gram
      |  FROM documents),
      |first AS (SELECT gram, MIN(doc_id) AS first_doc
      |          FROM allgrams GROUP BY gram)
      |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN f.first_doc = a.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  round(SUM(CASE WHEN f.first_doc = a.doc_id THEN 1 ELSE 0 END)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
      |FROM allgrams a JOIN first f USING (gram)
      |GROUP BY a.doc_id
      |ORDER BY a.doc_id""".stripMargin

  /** x79's oracle reads the PRE-threshold inter/sizes CTEs of the x7
    * body (the trailing `pairs` CTE goes unused — its Jaccard cut is
    * exactly what containment must bypass). */
  val x79Sql: String =
    s"""WITH $x7CteBody
      |SELECT doc_a, doc_b, n_inter, na, nb, containment, jaccard FROM (
      |  SELECT doc_a, doc_b, n_inter,
      |    CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
      |    round(n_inter / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
      |      AS containment,
      |    round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 6)
      |      AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b)
      |WHERE containment >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  // -- x20: decontamination (benchmark n-gram overlap) -------------------

  /** x20 — training-data decontamination: flag corpus documents sharing
    * ≥ `DecontamMinOverlap` distinct word bigrams with any held-out
    * benchmark document (every 50th doc stands in for the eval suite).
    * The benchmark side is tiny by construction, so its gram set is
    * BROADCAST and the corpus never shuffles — the production shape for
    * "remove test-set overlap from 100 TB of pretraining text" (the
    * corpus-side scan stays embarrassingly parallel). */
  val DecontamEvery = 50
  val DecontamMinOverlap = 5

  /** Distinct (doc_id, hashed word bigram) for a document subset —
    * shared by x20/x34/x80. The doc_id predicate is applied BEFORE the
    * gram explode + distinct: the per-doc gram sets are independent, so
    * filtering first is semantically identical and keeps each branch's
    * distinct shuffle proportional to its own subset (the bench side is
    * 1/50 of the corpus — filtering after the shared distinct would
    * recompute the full-corpus shuffle per branch). */
  // NOTE (r16b, measured negative result — do not retry): replacing
  // this distinct's exchange with an explicit-width gram repartition
  // (the x7KeptGrams win) measured 3-4× WORSE on x20/x34 at ×10
  // (x20 1.5 → 5.7 s): unlike x7, the consumers here are broadcast
  // joins and map-side counts that never reuse a gram partitioning, so
  // the explicit exchange only re-shuffles the raw (pre-dedup) stream
  // wider without saving any downstream exchange.
  private[queries] def gramsOf(docs: DataFrame): DataFrame =
    // spread before the gram explode + hash (one scan task otherwise —
    // r16, guide §2.5); no-op when the relation fills the cores
    Tables.spreadSmallScan(docs, "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, size(w) - 2)")).as("i"))
      .select(col("doc_id"), expr(hex60("concat(w[i], '_', w[i+1])")).as("gram"))
      .distinct()

  val x20Decontaminate: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val benchGrams = gramsOf(docs.where(col("doc_id") % DecontamEvery === 0))
      .select(col("doc_id").as("bench_id"), col("gram"))
    // NOTE (r15, measured negative result — do not retry): joining the
    // RAW gram stream (skipping this distinct) and deduping in the
    // aggregate (count(DISTINCT gram)) removed the corpus-side exchange
    // but measured 2.5× SLOWER paired (4.44 vs 1.74 s): with the bench
    // sample drawn from the same corpus, matches are NOT rare, so the
    // join fanout runs per occurrence (hot bigrams × their bench df)
    // and the distinct-aggregate pays a second exchange over that
    // fanned-out stream. The per-(doc,gram) distinct below bounds the
    // fanout before it happens and its exchange is the cheaper of the
    // two. (At true decontamination scale the bench set is minuscule
    // and disjoint-ish, which flips the trade — but that shape must be
    // measured there, not asserted here.)
    gramsOf(docs.where(col("doc_id") % DecontamEvery =!= 0))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= DecontamMinOverlap)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** x34 — the same decontamination with a BLOOM-FILTER prefilter on the
    * corpus side: the benchmark gram set aggregates into a bloom filter
    * (Spark's native `BloomFilterAggregate` — distributed build, one
    * BINARY row out), the corpus stream drops non-member grams through a
    * codegen'd `might_contain` probe against the constant filter, and
    * only survivors enter the exact confirm join (bloom false positives
    * are eliminated there, so the result is IDENTICAL to x20 and shares
    * its oracle). At 100 TB this is the shape that matters: the bench
    * relation may be millions of grams — too big to hash-join cheaply
    * against every corpus partition, but a few MB as bloom bits — and
    * the probe prunes the corpus stream before any shuffle or join
    * build. Spark's own runtime-filter machinery, reused as a
    * first-class operator. */
  val x34DecontaminateBloom: QFn = (s, d) => {
    import graft.plans.SketchFunctions
    val docs = Tables.documents(s, d)
    val benchGrams = gramsOf(docs.where(col("doc_id") % DecontamEvery === 0))
      .select(col("doc_id").as("bench_id"), col("gram"))
    // distributed bloom build; the collected bytes are ~100 KB — the
    // same driver round-trip Spark's InjectRuntimeFilter performs.
    // DELIBERATELY EAGER at plan-construction time: the probe needs the
    // filter as a foldable literal (BloomFilterMightContain's contract),
    // so composing this query runs TWO jobs up front (count + build) —
    // both over the small bench side only. Sizing from the measured
    // count keeps the fpp honest however large the bench set grows (a
    // fixed guess would silently degrade the filter into a pass-through
    // and push all the pruning work onto the confirm join).
    // Sizing (r15): an UPPER BOUND on the distinct gram count from one
    // cheap column scan (total bigram slots — no explode, no distinct
    // exchange) instead of an exact count job. Over-sizing only lowers
    // the fpp below target; under-sizing is impossible (bound ≥ true
    // count), and the exact confirm join makes any fpp result-neutral.
    val benchDocs = docs.where(col("doc_id") % DecontamEvery === 0)
    val nBench = math.max(benchDocs
      .agg(coalesce(sum(greatest(
        size(split(col("text"), " ")) - 1, lit(0)).cast("long")), lit(0L)))
      .head().getLong(0), 1L)
    // Build over the RAW gram stream — bloom insertion is idempotent,
    // so dropping gramsOf's distinct exchange leaves the filter bits
    // for a given sizing reachable-set-identical.
    val bloomBytes = benchDocs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("w"), explode(expr("sequence(0, size(w) - 2)")).as("i"))
      .select(expr(hex60("concat(w[i], '_', w[i+1])")).as("gram"))
      .agg(SketchFunctions.bloomAgg(xxhash64(col("gram")),
        expectedItems = nBench, fpp = 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)
    // Corpus side keeps the per-(doc,gram) distinct BEFORE the bloom
    // probe: Catalyst pushes the might_contain filter below the
    // distinct's aggregate (it references only the grouping columns),
    // so the exchange carries bloom survivors, and the distinct bounds
    // the confirm-join fanout (same measured trade as x20's note — the
    // raw-stream + count(DISTINCT) variant was tried r15 and lost).
    gramsOf(docs.where(col("doc_id") % DecontamEvery =!= 0))
      .where(SketchFunctions.mightContain(bloomBytes, xxhash64(col("gram"))))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= DecontamMinOverlap)
      .orderBy(col("doc_id"), col("bench_id"))
  }
  /** The distinct (doc_id, hashed word bigram) CTE — the SQL mirror of
    * [[gramsOf]], shared by x20's oracle and TextQueries' x65. */
  private[queries] val gramsCteSql: String =
    s"""grams AS (
       |  SELECT doc_id, unnest(list_distinct(
       |      list_transform(range(1, length(string_split(text, ' '))),
       |        i -> ${duckHex60("string_split(text, ' ')[i] || '_' || string_split(text, ' ')[i+1]")})))
       |      AS gram
       |  FROM documents WHERE length(string_split(text, ' ')) >= 2)""".stripMargin

  val x20Sql =
    s"""WITH $gramsCteSql
       |SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_overlap
       |FROM grams c JOIN grams b ON c.gram = b.gram
       |WHERE b.doc_id % $DecontamEvery = 0 AND c.doc_id % $DecontamEvery <> 0
       |GROUP BY 1, 2 HAVING COUNT(*) >= $DecontamMinOverlap
       |ORDER BY c.doc_id, bench_id""".stripMargin

  // -- x16: duplicate clusters (connected components) --------------------

  /** x16 — duplicate-cluster assignment: connected components over the
    * x7 near-duplicate pair graph, labeling every involved document
    * with the minimum doc_id of its component (the canonical
    * representative a dedup pipeline keeps) plus the cluster size.
    *
    * Distributed min-label propagation: each iteration is one
    * shuffle-join (neighbor-min) + one update, iterating to fixpoint —
    * O(diameter) rounds, and near-dup clusters have tiny diameters. At
    * 100 TB the same loop runs with the alternating large-star /
    * small-star optimization (fewer rounds on skewed components); the
    * per-round plan here is already the scale shape: shuffle by vertex,
    * map-side-combined min.
    *
    * Oracle: DuckDB recursive CTE computing the same transitive closure
    * (UNION-dedup bounds the recursion). */
  val x16DupClusters: QFn = (s, d) => {
    import s.implicits._
    val pairs = x7Pairs(s, d).select(col("doc_a"), col("doc_b"))
    // count rides the checkpoint materialization (no separate job) and
    // decides the single-task finish, same scale-adaptive rule as
    // [[graft.operators.ConnectedComponents]]: below the limit the
    // whole labeling is one union-find task — each propagation round
    // is 2 shuffles + a lineage break of pure fixed overhead once the
    // edge set fits one task. Above it, min-label propagation runs
    // unchanged (the 100 TB path).
    val obs0 = org.apache.spark.sql.Observation(
      s"x16_n_${obsEpoch.incrementAndGet()}")
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val nEdges = obs0.get("n").asInstanceOf[Long]
    val limit = graft.operators.ConnectedComponents.localEdgeLimit(s)
    // the observed count is over the SYMMETRIC (doubled) edge stream,
    // while graft.cc.localEdgeLimit counts CANONICAL edges everywhere
    // else (ConnectedComponents gates on the distinct edge count) —
    // compare against 2×limit so one conf value means one thing
    // (ADVICE r15). localMinLabels then buffers up to 2×limit rows
    // (~64 MB of (long,long) at the 2 M default), twice the CC case;
    // still far inside a task.
    if (limit > 0 && nEdges <= 2 * limit) {
      val labels = edges.as[(Long, Long)]
        .coalesce(1)
        .mapPartitions(graft.operators.ConnectedComponents.localMinLabels)
        .toDF("doc_id", "cluster_id")
      clusterPresentation(labels)
    } else {
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    // the min label travels one hop per round ⟶ O(component diameter)
    // rounds, a handful for near-dup clusters; the cap is a runaway
    // guard and under-convergence FAILS LOUDLY below rather than
    // returning a silently under-merged clustering
    val maxIter = 64
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id")), Seq("doc_b"))
        .groupBy(col("doc_a"))
        .agg(min(col("cluster_id")).as("nbr_min"))
        .select(col("doc_a").as("doc_id"), col("nbr_min"))
      // ONE job per round: the changed-count rides a CollectMetrics
      // (Dataset.observe) node evaluated while the eager localCheckpoint
      // materializes partitions — no separate count() action, and unlike
      // a Dataset .map the plan stays whole-stage-codegen'd columnar
      // (the r3 accumulator-in-map form deserialized every row every
      // round). Exactly-once per partition by contract, so the count is
      // retry-safe too.
      val obs = org.apache.spark.sql.Observation(
        s"x16_changed_${obsEpoch.incrementAndGet()}")
      labels = labels.join(nbrMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id")).as("chg"))
        .observe(obs, count(when(col("chg"), lit(1))).as("changed"))
        .localCheckpoint(true)
        .select(col("doc_id"), col("cluster_id"))
      changed = obs.get("changed").asInstanceOf[Long]
      iter += 1
    }
    require(changed == 0,
      s"x16 label propagation did not converge in $iter rounds")
    clusterPresentation(labels)
    }
  }

  /** Shared (doc_id, cluster_id) → (+cluster_size, ordered) postlude of
    * x16/x22 — one copy, since both keys share the x16 oracle. */
  private def clusterPresentation(labels: org.apache.spark.sql.DataFrame) = {
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** x22 — the same duplicate-cluster labeling computed by alternating
    * large-star/small-star contraction
    * ([[graft.operators.ConnectedComponents.starContract]]) instead of
    * min-label propagation: O(log² n) rounds regardless of component
    * shape, the algorithm to reach for when dup components at 100 TB
    * turn out chain-shaped or wildly skewed (x16's propagation is
    * O(diameter) rounds). Identical labeling ⇒ shares the x16 oracle. */
  val x22DupClustersStar: QFn = (s, d) => {
    val pairs = x7Pairs(s, d).select(col("doc_a"), col("doc_b"))
    clusterPresentation(graft.operators.ConnectedComponents
      .starContract(s, pairs)
      .select(col("node").as("doc_id"), col("root").as("cluster_id")))
  }

  val x16Sql: String =
    s"""WITH RECURSIVE $x7CteBody,
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(doc_id, r) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.doc_id),
      |labels AS (
      |  SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)
      |SELECT l.doc_id, l.cluster_id, s.cluster_size
      |FROM labels l
      |JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      |      FROM labels GROUP BY cluster_id) s USING (cluster_id)
      |ORDER BY l.doc_id""".stripMargin

  // -- x3 / x8: embedding similarity -------------------------------------

  /** Exact-integer dot (round(xi·yi·1e6) summed as longs) on primitive
    * arrays — the same arithmetic the SQL oracles express with
    * list_transform/list_sum, but ~100× faster than Catalyst's
    * interpreted higher-order functions on big pair sets. */
  private[graft] def dotScaled(a: Array[Double], b: Array[Double]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) {
      val v = a(i) * b(i) * 1000000d
      // half-away-from-zero, matching SQL round() (Math.round is half-up)
      s += (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
      i += 1
    }
    s
  }
  private[graft] def normScaled(a: Array[Double]): Long = dotScaled(a, a)

  /** [[dotScaled]] over float arrays, widening per element — float →
    * double widening is EXACT, so the value is bit-identical to
    * converting the arrays up front; carrying floats instead halves the
    * kernel shuffles' embedding bytes (r16, guide §2.3 narrower types /
    * VERDICT r15 next #8). */
  private[graft] def dotScaledF(a: Array[Float], b: Array[Float]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) {
      val v = a(i).toDouble * b(i).toDouble * 1000000d
      s += (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
      i += 1
    }
    s
  }
  private[graft] def normScaledF(a: Array[Float]): Long = dotScaledF(a, a)

  /** Branch-free double dot·1e6 — the SCREEN for the exact kernel (r16,
    * guide §1.2 "per-task work"): per element the exact kernel adds
    * round(xi·yi·1e6) and |round(v) − v| ≤ 0.5, so
    * |dotScaled − dotRaw| ≤ 0.5·d + (double accumulation error); with
    * [[screenMargin]] covering both, `dotRaw + margin < rhs` PROVES the
    * exact threshold test fails and the branchy rounding loop is
    * skipped for the (vast) sub-threshold majority. Never decides a
    * boundary pair: those fall through to [[dotScaledF]]. */
  private[graft] def dotRawF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0d; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s * 1000000d
  }

  /** Safe screen slack: 0.5 per element of rounding distance plus a
    * generous allowance for double accumulation error (products are
    * ≤ ~1e6 in magnitude and d ≤ a few hundred, so the true FP error is
    * orders of magnitude below 8). */
  private[graft] def screenMargin(d: Int): Double = 0.5 * d + 8.0

  private def embRows(df: org.apache.spark.sql.DataFrame) = {
    import df.sparkSession.implicits._
    df.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, e.map(_.toDouble)) }
  }

  /** [[embRows]] WITHOUT the up-front double widening — the pair-scan
    * kernels (x8/x108) keep the storage floats through their shuffles
    * and widen per element inside the dot loops (exact, see
    * [[dotScaledF]]). */
  private def embRowsF(df: org.apache.spark.sql.DataFrame) = {
    import df.sparkSession.implicits._
    df.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
  }

  /** Window rank order for (query_id, cand_id, cosine) rows — rank 1 =
    * highest cosine, ties to the lower cand_id. The per-partition heaps
    * in the ANN kernels MUST evict under exactly this order (it is the
    * window's ORDER BY) for the bounded selection to stay exact. */
  private val cosineRankOrder: Ordering[(Long, Long, Double)] =
    Ordering.fromLessThan { (x, y) =>
      x._3 > y._3 || (x._3 == y._3 && x._2 < y._2)
    }

  /** Rank order for (query_id, cand_id, adc) rows — rank 1 = smallest
    * ADC distance, ties to the lower cand_id. */
  private val adcRankOrder: Ordering[(Long, Long, Long)] =
    Ordering.fromLessThan { (x, y) =>
      x._3 < y._3 || (x._3 == y._3 && x._2 < y._2)
    }

  /** x3 — brute-force cosine top-k: 10 query vectors broadcast to every
    * partition; candidates stream through a primitive-array dot kernel
    * (the GEMM shape of honest brute-force ANN). The kernel keeps a
    * k-bounded per-query heap ([[graft.operators.BoundedTopK]]) so only
    * partitions × queries × k rows reach the ranking window — the scan
    * is O(corpus) by definition (brute force), but the selection shuffle
    * is not. Rank by exact-integer-derived cosine. x14 is the sublinear
    * path. */
  val x3TopkSimilarity: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val queries = s.sparkContext.broadcast(
      emb.filter(_._1 < 10).collect().sortBy(_._1)
        .map { case (id, e) => (id, e, normScaled(e)) })
    val scored = emb.mapPartitions { it =>
      val qs = queries.value
      val rows = it.flatMap { case (cid, ce) =>
        val cn = normScaled(ce)
        qs.iterator.collect { case (qid, qe, qn) if qid != cid =>
          (qid, cid, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(cn)))
        }
      }
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Double)) => r._1)(
        cosineRankOrder)
    }.toDF("query_id", "cand_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }
  val x3Sql =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
      |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
      |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
      |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
      |  FROM e q, e c
      |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT query_id, rank, cand_id, cosine FROM (
      |  SELECT query_id, cand_id, cosine,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, cand_id) AS rank
      |  FROM scored) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** x8 — embedding-cosine near-duplicate pairs above a threshold, as a
    * block-nested pair join: vectors hash into `X8Blocks` blocks by id,
    * every block pair (i ≤ j) shuffles to one task, and a primitive-array
    * kernel scores the pairs inside the task. No driver-side
    * materialization — per-task memory is bounded by two blocks, the
    * shuffle is n·B replicated rows, and every unordered id pair lands in
    * exactly one block pair: the distributed block-GEMM shape (B scales
    * as sqrt(parallelism) on a cluster). The LSH prefilter (x14) is the
    * sublinear alternative when approximate recall is acceptable. */
  val X8Blocks = 8
  /** x8's block-nested exact-cosine pair scan, unordered — shared with
    * x48's component build. */
  private[queries] def x8PairScan(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val bCount = X8Blocks
    // r16 kernel shape (guide §2.3, §1.2): rows ship Array[Float] (the
    // storage width — half the bytes of the old widened doubles; the
    // widening per element inside the kernel is exact, so every cosine
    // is bit-identical) plus the PRE-COMPUTED sqrt of the scaled norm
    // (the kernel used to take two sqrts per PAIR). The threshold test
    // runs the branch-free double screen first and only boundary pairs
    // (plus actual passes, which need the exact cosine value) pay the
    // exact rounding loop — sub-threshold pairs, the vast majority of
    // the O(n²/B) scan, cost one fused multiply-add loop each.
    val emb = embRowsF(Tables.embeddings(s, d))
      .map { case (id, e) => (id, e, math.sqrt(normScaledF(e).toDouble)) }
    // replicate each vector to every block pair it participates in;
    // role 0 = "left" block of the pair, role 1 = "right"
    val replicated = emb.flatMap { case (id, e, sn) =>
      val b = (id % bCount).toInt
      (0 until bCount).map { o =>
        if (o >= b) ((b * bCount + o), 0, id, e, sn)
        else ((o * bCount + b), 1, id, e, sn)
      }
    }
    // the per-blockpair loop — double screen first (proves the 0.4 test
    // fails for the vast sub-threshold majority; zero denominators fall
    // through to the exact path so NaN/Inf comparison semantics stay
    // exactly the old code's), exact kernel for survivors, whose
    // emitted cosine must be exact anyway
    def blockPairs(key: Int,
        left: scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)],
        right: scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)])
        : Iterator[(Long, Long, Double)] = {
      val isDiag = (key / bCount) == (key % bCount)
      val rs = if (isDiag) left else right
      for {
        (ua, ue, su) <- left.iterator
        (va, ve, sv) <- rs.iterator
        if !isDiag || ua < va
        denom = su * sv
        if !(denom > 0 &&
          dotRawF(ue, ve) + screenMargin(ue.length) < 0.4 * denom)
        cos = dotScaledF(ue, ve) / denom
        if cos > 0.4
      } yield if (ua < va) (ua, va, cos) else (va, ua, cos)
    }
    // same grouping-mechanism gate as cellPairScan (r16): pin the
    // exchange width + group in-task when the input is measurably
    // small (AQE would coalesce the tiny exchange under the quadratic
    // loop); keep groupByKey's one-group-per-task memory bound at scale
    val pinned = Tables.scanUnderfillsCores(Tables.embeddings(s, d))
    val pairs = if (pinned) {
      Tables.pinWidth(pinned, replicated.toDF("key", "role", "id", "ef", "sn"),
          "key")
        .as[(Int, Int, Long, Array[Float], Double)]
        .mapPartitions { it =>
          val groups = scala.collection.mutable.HashMap.empty[Int,
            (scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)],
             scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)])]
          it.foreach { case (key, role, id, ef, sn) =>
            val g = groups.getOrElseUpdate(key,
              (scala.collection.mutable.ArrayBuffer.empty,
                scala.collection.mutable.ArrayBuffer.empty))
            (if (role == 0) g._1 else g._2) += ((id, ef, sn))
          }
          groups.iterator.flatMap { case (key, (left, right)) =>
            blockPairs(key, left, right)
          }
        }.toDF("vec_a", "vec_b", "cosine")
    } else {
      replicated.groupByKey(_._1).flatMapGroups {
        (key: Int, it: Iterator[(Int, Int, Long, Array[Float], Double)]) =>
          val left = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Float], Double)]
          val right = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Float], Double)]
          it.foreach { case (_, role, id, e, sn) =>
            (if (role == 0) left else right) += ((id, e, sn))
          }
          blockPairs(key, left, right)
      }.toDF("vec_a", "vec_b", "cosine")
    }
    pairs
  }
  val x8EmbeddingDedup: QFn = (s, d) =>
    x8PairScan(s, d).orderBy(col("vec_a"), col("vec_b"))
  val x8Sql =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
      |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  CAST(list_sum(list_transform(range(1, length(a.embedding) + 1),
      |    i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
      |    / (sqrt(a.norm_s) * sqrt(b.norm_s)) AS cosine
      |FROM e a, e b
      |WHERE a.vec_id < b.vec_id
      |  AND CAST(list_sum(list_transform(range(1, length(a.embedding) + 1),
      |    i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
      |    / (sqrt(a.norm_s) * sqrt(b.norm_s)) > 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  // -- x48: semantic dedup — near-dup graph → components → keep-one ------

  /** x48 — SemDeDup-style semantic deduplication over the embedding
    * space, the composition a training pipeline actually ships (pairs
    * alone — x8 — and cluster labels alone — x16 — are intermediate
    * products; the kept/representative assignment is the dedup
    * decision): the x8 near-duplicate pair scan (block-nested exact
    * cosine, threshold 0.4) becomes an undirected graph,
    * [[graft.operators.ConnectedComponents.starContract]] labels every
    * vector with its component's minimum id in O(log² n) rounds
    * regardless of component shape, and exactly one representative per
    * component is KEPT — the min id as the deterministic stand-in for
    * a quality-ranked pick. Vectors in no near-dup pair keep
    * themselves. Scale: the pair scan is block-bounded (two blocks per
    * task, x8), the contraction is round-bounded (pinned by the x22
    * soak), and the label attach is one shuffle join on vec_id over
    * ids-only frames — the embedding payload never rides the graph
    * stages. */
  /** x48's decision layer, pair-source-agnostic: components of the
    * near-dup graph → min-id representative → kept flag for EVERY id in
    * `ids` (singletons keep themselves). The pair source is the
    * pluggable half: x8's exact block scan here, x30's sublinear LSH
    * scan at corpus scale (CorpusSoak runs that composition). */
  private[graft] def semanticDedupDecision(s: SparkSession,
      ids: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val labels = graft.operators.ConnectedComponents.starContract(s, pairs)
      .select(col("node").as("vec_id"), col("root"))
    ids.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("root"), col("vec_id")).as("rep_id"))
      .withColumn("kept", col("vec_id") === col("rep_id"))
  }

  val x48SemanticDedup: QFn = (s, d) =>
    semanticDedupDecision(s, Tables.embeddings(s, d),
      x8PairScan(s, d).select(col("vec_a"), col("vec_b")))
      .orderBy(col("vec_id"))

  /** Oracle: x8's exact pair scan as the edge set, transitive closure
    * via recursive CTE (x16's shape), min-id labels, singletons kept. */
  val x48Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
      |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
      |  FROM embeddings),
      |prs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM e a, e b
      |  WHERE a.vec_id < b.vec_id
      |    AND CAST(list_sum(list_transform(range(1, length(a.embedding) + 1),
      |      i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
      |      / (sqrt(a.norm_s) * sqrt(b.norm_s)) > 0.4),
      |edges AS (
      |  SELECT vec_a AS u, vec_b AS v FROM prs
      |  UNION ALL SELECT vec_b, vec_a FROM prs),
      |reach(vec_id, r) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT edges.u, reach.r FROM reach JOIN edges ON edges.v = reach.vec_id),
      |labels AS (
      |  SELECT vec_id, MIN(r) AS rep_id FROM reach GROUP BY vec_id)
      |SELECT emb.vec_id,
      |  COALESCE(l.rep_id, emb.vec_id) AS rep_id,
      |  COALESCE(l.rep_id, emb.vec_id) = emb.vec_id AS kept
      |FROM embeddings emb LEFT JOIN labels l USING (vec_id)
      |ORDER BY emb.vec_id""".stripMargin

  // -- x108: cluster-bounded SemDeDup (the corpus-scale form) ------------

  /** Blocks per CELL in [[x108CellPairScan]] — bounds task memory under
    * cell skew the way [[X8Blocks]] bounds x8's corpus scan. */
  val X108Blocks = 4

  /** Cells each vector lands in (nearest + ring): the recall/compute
    * knob. Work scales ~R²·Σ|cell|²; measured drop-recall vs the exact
    * arm (x48) at sf0.1: 0.60 at R=2, 0.85 at R=3 — both with ZERO
    * false drops (every x108 drop is an x48 drop; cells only restrict
    * the edge set, never add edges). R=3 is the shipping point; at
    * production thresholds (cos ≥ 0.9, vs the aggressive 0.4 the
    * oracle pins) near-dups sit deep inside one Voronoi cell and the
    * gap closes further. */
  val X108Ring = 3

  /** x108's edge build — exact-cosine near-dup pairs restricted to
    * vectors sharing a k-means cell: every vector lands in its top-R
    * cells (R = [[X108Ring]] = 3: nearest = home plus a 2-cell
    * adjacent ring, so near-dups straddling Voronoi boundaries still
    * meet — 0.85 drop-recall vs 0.60 at R=2), and x8's
    * block-nested kernel runs per cell. A pair costs compute only when
    * both ids share a cell, so total work is Σ_cell |cell|² instead of
    * n² — the SemDeDup shape as actually run at corpus scale (cells ~
    * n/k; k is the scale knob, √n at warehouse sizes). Task memory
    * stays bounded under cell skew by block-nesting WITHIN the cell
    * ((cell, blockPair) keys). A pair whose members share both cells
    * appears twice → distinct before the decision layer. */
  private[graft] def x108CellPairScan(s: SparkSession,
      d: String, k: Int = IvfClusters): org.apache.spark.sql.DataFrame =
    cellPairScan(s, Tables.embeddings(s, d), k)

  /** k≈√n rule for [[cellPairScan]]'s cell count — the scale knob the
    * k-ladder measured (README: recall 0.848/0.650/0.571 at
    * k=16/64/128 on sf0.1's ~2k vectors, zero false drops at every k).
    * Cells ≈ √n keeps Σ|cell|² ≈ n^1.5 total pair work with ~√n-sized
    * cells; floored at [[IvfClusters]] (tiny corpora gain nothing from
    * fewer) and capped at 4096 (the driver-side Lloyd trainer holds
    * k×64 centroids — beyond that, train distributed first). Production
    * callers derive k from their corpus count through this; the x108
    * registry key keeps the FIXED default so its DuckDB oracle (which
    * replays the same k-means) stays stable. */
  def semDedupCellCount(nVectors: Long): Int =
    math.max(IvfClusters,
      math.min(4096, math.round(math.sqrt(nVectors.toDouble)).toInt))

  /** The DataFrame-general form of [[x108CellPairScan]] — production
    * pipelines (CorpusSoak's semantic-dedup phase) pass their own
    * (vec_id, embedding) collection and a corpus-derived k
    * ([[semDedupCellCount]]). */
  /** The per-(cell, blockPair) exact-cosine pair loop shared by both
    * grouping mechanisms of [[cellPairScan]] — double screen first,
    * exact rounding kernel only on the boundary band (identical
    * decisions either way; see [[dotRawF]]/[[screenMargin]]). */
  private def cellGroupPairs(bp: Int, bCount: Int,
      left: scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)],
      right: scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)],
      threshold: Double): Iterator[(Long, Long)] = {
    val isDiag = (bp / bCount) == (bp % bCount)
    val rs = if (isDiag) left else right
    for {
      (ua, ue, su) <- left.iterator
      (va, ve, sv) <- rs.iterator
      if !isDiag || ua < va
      denom = su * sv
      if {
        val rhs = threshold * denom
        if (denom > 0) {
          val raw = dotRawF(ue, ve)
          val m = screenMargin(ue.length)
          if (raw - m > rhs) true            // proven pass
          else if (raw + m < rhs) false      // proven fail
          else dotScaledF(ue, ve) / denom > threshold
        } else dotScaledF(ue, ve) / denom > threshold
      }
    } yield if (ua < va) (ua, va) else (va, ua)
  }

  private[graft] def cellPairScan(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      k: Int = IvfClusters,
      threshold: Double = 0.4): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (cs, _) = kmeansFitDf(s, emb, k)
    val cb = s.sparkContext.broadcast(cs)
    val bCount = X108Blocks
    // r16 kernel shape — same three changes as x8PairScan (floats
    // through the shuffle, sqrt-norm precomputed per row, double screen
    // before the exact rounding loop), with one extra: this kernel
    // emits IDS only, so the screen also fast-PASSES pairs provably
    // above the threshold and the exact loop runs only on the boundary
    // band. Work here is Σ_cell |cell|² with FIXED k (the oracle
    // replays this exact k-means), so per-pair cost is the whole
    // at-scale story — the ×10 spot bench had this key at 55 s, the
    // largest in the registry.
    val celled = embRowsF(emb)
      .flatMap { case (id, ef) =>
        val sn = math.sqrt(normScaledF(ef).toDouble)
        val scaled = new Array[Long](ef.length)
        var i = 0
        while (i < ef.length) { scaled(i) = scale1e6(ef(i).toDouble); i += 1 }
        // top-R by (dot DESC, cluster ASC) — the x62 rank rule
        val books = cb.value
        val dots = Array.tabulate(books.length) { c =>
          var dot = 0L; var j = 0
          val bc = books(c)
          while (j < scaled.length) { dot += scaled(j) * bc(j); j += 1 }
          (c, dot)
        }
        dots.sortBy { case (c, dot) => (-dot, c) }
          .take(X108Ring)
          .map { case (cell, _) => (cell, id, ef, sn) }
          .toSeq
      }
    val replicated = celled.flatMap { case (cell, id, ef, sn) =>
      val b = (id % bCount).toInt
      (0 until bCount).map { o =>
        if (o >= b) ((cell, b * bCount + o), 0, id, ef, sn)
        else ((cell, o * bCount + b), 1, id, ef, sn)
      }
    }
    // Grouping mechanism (r16): groupByKey's hash exchange carries only
    // ~100 MB-scale replicated rows at test SFs, so AQE's byte-based
    // coalescing collapses it to a couple of partitions — and the
    // QUADRATIC pair loop above it then runs on a couple of cores (the
    // same mispricing x83's pair aggregate hit). When the input is
    // measurably small the exchange is pinned ([[Tables.pinWidth]]:
    // explicit width, exempt from coalescing) and groups are collected
    // in-task — memory stays trivially bounded by the tiny input. At
    // estate scale the gate is false and the original groupByKey path
    // runs: one group per task, memory bounded by two blocks, exactly
    // the r15 shape. Both paths call the same pair loop.
    val pinned = Tables.scanUnderfillsCores(emb)
    if (pinned) {
      Tables.pinWidth(pinned, replicated.toDF("key", "role", "id", "ef", "sn"),
          "key")
        .as[((Int, Int), Int, Long, Array[Float], Double)]
        .mapPartitions { it =>
          val groups = scala.collection.mutable.HashMap.empty[(Int, Int),
            (scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)],
             scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)])]
          it.foreach { case (key, role, id, ef, sn) =>
            val g = groups.getOrElseUpdate(key,
              (scala.collection.mutable.ArrayBuffer.empty,
                scala.collection.mutable.ArrayBuffer.empty))
            (if (role == 0) g._1 else g._2) += ((id, ef, sn))
          }
          groups.iterator.flatMap { case ((_, bp), (left, right)) =>
            cellGroupPairs(bp, bCount, left, right, threshold)
          }
        }.toDF("vec_a", "vec_b").distinct()
    } else {
      replicated.groupByKey(_._1).flatMapGroups {
        (key: (Int, Int), it: Iterator[((Int, Int), Int, Long, Array[Float], Double)]) =>
          val left = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Float], Double)]
          val right = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Float], Double)]
          it.foreach { case (_, role, id, ef, sn) =>
            (if (role == 0) left else right) += ((id, ef, sn))
          }
          cellGroupPairs(key._2, bCount, left, right, threshold)
      }.toDF("vec_a", "vec_b").distinct()
    }
  }

  /** x108 — SemDeDup with the edge set CLUSTER-BOUNDED (VERDICT r8 #1):
    * the same decision layer as x48 (components → min-id representative
    * → kept flag) but edges come from [[x108CellPairScan]] — pairs
    * within trained k-means cells plus the [[X108Ring]]-cell (top-3) ring — instead of
    * x8's exact O(n²) block scan. This is the plan you RUN at 100 TB;
    * x48 stays as the exact arm the recall note compares against.
    * Reference analog: coarse spatial index → exact refine
    * (README.md:26-28) transplanted to embedding space. */
  val x108SemanticDedupCells: QFn = (s, d) =>
    semanticDedupDecision(s, Tables.embeddings(s, d),
      x108CellPairScan(s, d))
      .orderBy(col("vec_id"))

  /** Oracle: replay the k-means rounds (x59's CTE chain), take the
    * top-[[X108Ring]] (3) cells per vector, exact-cosine pairs within
    * shared cells, then
    * the x48 closure/labeling. */
  // lazy: KmeansRounds/ivfCentroids are declared LATER in this object;
  // a strict val here would bake in their pre-init defaults
  lazy val x108Sql: String = {
    val last = s"c$KmeansRounds"
    s"""WITH RECURSIVE $kmeansCtesSql,
       |dotF AS (
       |  SELECT e.vec_id, c.cluster, CAST(SUM(e.es * c.cs) AS BIGINT) AS dot
       |  FROM es e JOIN $last c ON c.dim = e.dim GROUP BY 1, 2),
       |cells AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT vec_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dot DESC, cluster) AS rk
       |    FROM dotF) WHERE rk <= $X108Ring),
       |en AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings),
       |prs AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM cells ca JOIN cells cb ON cb.cluster = ca.cluster
       |  JOIN en a ON a.vec_id = ca.vec_id
       |  JOIN en b ON b.vec_id = cb.vec_id
       |  WHERE a.vec_id < b.vec_id
       |    AND CAST(list_sum(list_transform(range(1, length(a.embedding) + 1),
       |      i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(a.norm_s) * sqrt(b.norm_s)) > 0.4),
       |edges AS (
       |  SELECT vec_a AS u, vec_b AS v FROM prs
       |  UNION ALL SELECT vec_b, vec_a FROM prs),
       |reach(vec_id, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT edges.u, reach.r FROM reach JOIN edges ON edges.v = reach.vec_id),
       |labels AS (
       |  SELECT vec_id, MIN(r) AS rep_id FROM reach GROUP BY vec_id)
       |SELECT emb.vec_id,
       |  COALESCE(l.rep_id, emb.vec_id) AS rep_id,
       |  COALESCE(l.rep_id, emb.vec_id) = emb.vec_id AS kept
       |FROM embeddings emb LEFT JOIN labels l USING (vec_id)
       |ORDER BY emb.vec_id""".stripMargin
  }

  // -- x52: quality-aware near-dup keeper --------------------------------

  /** x52 — the production dedup decision x48 approximates with min-id:
    * within each near-duplicate cluster (x7's n-gram Jaccard graph →
    * x22's star-contracted components), KEEP the highest-quality copy
    * and drop the rest — the policy curation pipelines actually ship
    * (dedup should discard the WORSE copy, not an arbitrary one).
    *
    * Quality is x10's deterministic heuristic scaled to an exact
    * BIGINT (`q_s = round(quality_score·1e9)`) so the arg-max never
    * compares raw floats across engines; ties break to the lower
    * doc_id. Selection is `max(struct(q_s, −doc_id, doc_id))` per
    * cluster — a map-side-combinable aggregate over ids-only rows (one
    * shuffle on cluster_id; no window over the corpus, and the text
    * payload never rides the graph stages). Singletons keep
    * themselves. */
  val x52QualityKeeper: QFn = (s, d) => {
    val stop = TextQueries.langProfiles.flatMap(_._2).distinct
    val set = stop.map(w => s"'$w'").mkString("(", ", ", ")")
    // spread before the per-doc stopword filter + alpha regexp (heavy
    // per-row work on a one-split scan otherwise — r16, guide §2.5)
    val q = Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(toks, t -> t IN $set))").cast("long"))
      .withColumn("n_alpha",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
      .withColumn("q_s", round(
        ((col("n_stop") / col("n_tokens").cast("double")) * lit(0.5) +
          least((col("n_alpha") / col("n_tokens").cast("double")) / lit(10.0),
            lit(1.0)) * lit(0.5)) * lit(1000000000.0)).cast("long"))
      .select(col("doc_id"), col("q_s"))
    val pairs = x7Pairs(s, d).select(col("doc_a"), col("doc_b"))
    val labels = graft.operators.ConnectedComponents.starContract(s, pairs)
      .select(col("node").as("doc_id"), col("root"))
    val lab = q.join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("q_s"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    val rep = lab.groupBy(col("cluster_id"))
      .agg(max(struct(col("q_s"), (-col("doc_id")).as("neg_id"),
        col("doc_id").as("rep"))).as("m"))
      .select(col("cluster_id"), col("m.rep").as("rep_id"))
    lab.join(rep, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("q_s"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: x7's pair CTE + x16's recursive closure for the clusters,
    * x10's quality expression scaled to BIGINT, window arg-max per
    * cluster (the declarative stand-in for the Spark side's
    * max-of-struct aggregate). */
  val x52Sql: String = {
    val stop = TextQueries.langProfiles.flatMap(_._2).distinct
    val set = stop.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH RECURSIVE $x7CteBody,
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc_id, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.doc_id),
       |labels AS (
       |  SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
       |q AS (
       |  SELECT doc_id, CAST(round(
       |    ((n_stop / CAST(n_tokens AS DOUBLE)) * 0.5 +
       |      least((n_alpha / CAST(n_tokens AS DOUBLE)) / 10.0, 1.0) * 0.5)
       |    * 1000000000.0) AS BIGINT) AS q_s
       |  FROM (SELECT doc_id,
       |    CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(length(list_filter(string_split(text, ' '),
       |      t -> t IN $set)) AS BIGINT) AS n_stop,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha
       |  FROM documents)),
       |lab AS (
       |  SELECT q.doc_id, q.q_s,
       |    COALESCE(l.cluster_id, q.doc_id) AS cluster_id
       |  FROM q LEFT JOIN labels l ON l.doc_id = q.doc_id),
       |rep AS (
       |  SELECT cluster_id, doc_id AS rep_id FROM (
       |    SELECT cluster_id, doc_id,
       |      row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY q_s DESC, doc_id) AS rn
       |    FROM lab) WHERE rn = 1)
       |SELECT lab.doc_id, lab.cluster_id, lab.q_s, rep.rep_id,
       |  lab.doc_id = rep.rep_id AS kept
       |FROM lab JOIN rep USING (cluster_id)
       |ORDER BY lab.doc_id""".stripMargin
  }

  // -- x14: LSH-bucketed ANN (scale path) --------------------------------

  val LshPlanes = 6
  /** Fixed seeded random hyperplanes (64-dim). */
  lazy val hyperplanes: Array[Array[Double]] = {
    val rng = new scala.util.Random(77)
    Array.fill(LshPlanes)(Array.fill(64)(rng.nextGaussian()))
  }

  /** Sign-bit bucket from the random hyperplanes, bit-identical to the
    * SQL oracle's form: exact-integer scaled plane dots (round(x·y·1e6)
    * per element — summation-order-independent), sign bits packed. */
  private[queries] def lshBucketOf(e: Array[Double]): Long =
    (0 until LshPlanes).map { p =>
      if (dotScaled(e, hyperplanes(p)) >= 0) 1L << p else 0L
    }.reduce(_ | _)

  /** x14 — ANN via random-hyperplane LSH with multi-probe: each query
    * probes its own bucket plus the LshPlanes hamming-1 neighbors, exact
    * cosine within probed buckets only. The bounded query batch is
    * broadcast as a bucket→probes map, so the collection streams ONCE
    * through a primitive-array kernel — no shuffle, no interpreted
    * higher-order functions on the hot path. (Huge query batches would
    * instead shuffle both sides by bucket — same candidate semantics.)
    * Recall vs x3 brute force checked in specs. */
  val x14AnnLsh: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val probesByBucket = s.sparkContext.broadcast(
      emb.filter(_._1 < 10).collect().sortBy(_._1)
        .flatMap { case (id, e) =>
          val b = lshBucketOf(e); val n = normScaled(e)
          (b +: (0 until LshPlanes).map(p => b ^ (1L << p)))
            .distinct.map(pb => (pb, (id, e, n)))
        }
        .groupBy(_._1).map { case (b, arr) => (b, arr.map(_._2)) })
    val scored = emb.mapPartitions { it =>
      val byBucket = probesByBucket.value
      val rows = it.flatMap { case (cid, ce) =>
        val b = lshBucketOf(ce)
        byBucket.get(b) match {
          case Some(qs) =>
            lazy val cn = normScaled(ce)
            qs.iterator.collect { case (qid, qe, qn) if qid != cid =>
              (qid, cid, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(cn)), b)
            }
          case None => Iterator.empty
        }
      }
      // bucket-bounded candidates already; the heap makes the window
      // input partition-bounded too (uniform ANN-family selection)
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Double, Long)) => r._1)(
        Ordering.fromLessThan { (x, y) =>
          x._3 > y._3 || (x._3 == y._3 && x._2 < y._2)
        })
    }.toDF("query_id", "cand_id", "cosine", "bucket")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"),
        col("bucket"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB oracle for x14: the hyperplane constants are literal arrays;
    * bucket bits come from the same exact-integer scaled plane dots, the
    * hamming-1 multi-probe is an explicit 7-bucket unnest, and cosine is
    * the exact-integer form (x3 pattern). */
  val x14Sql: String = {
    def planeDot(p: Int): String = {
      val arr = "[" + hyperplanes(p).mkString(", ") + "]"
      s"CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT)"
    }
    val bucketExpr = (0 until LshPlanes).map { p =>
      s"(CASE WHEN ${planeDot(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString(" | ")
    val probeList = "[bucket" +
      (0 until LshPlanes).map(p => s", xor(bucket, ${1L << p})").mkString + "]"
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s,
       |    $bucketExpr AS bucket
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe, norm_s AS qn,
       |    unnest($probeList) AS bucket
       |  FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS cand_id, q.bucket,
       |    CAST(list_sum(list_transform(range(1, length(q.qe) + 1),
       |      i -> CAST(round(CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.qn) * sqrt(c.norm_s)) AS cosine
       |  FROM e c JOIN q ON c.bucket = q.bucket
       |  WHERE q.query_id <> c.vec_id)
       |SELECT query_id, rank, cand_id, cosine, bucket FROM (
       |  SELECT query_id, cand_id, cosine, bucket,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // -- x15: IVF-bucketed ANN (alternative scale path) --------------------

  val IvfClusters = 16
  val IvfProbes = 3

  /** x15 — IVF (inverted-file) ANN: a fixed set of seeded coarse
    * centroids partitions the collection into cluster lists; each query
    * probes its `IvfProbes` nearest centroids and brute-forces only
    * those lists. The k-means refinement step is omitted deliberately
    * (seeded random centroids keep the operator deterministic); at scale
    * the lists are the shuffle key exactly like LSH buckets in x14. */
  /** Seeded coarse centroids for an arbitrary cell count — one rng
    * stream, so `kmeansSeeds(k)` is prefix-stable: the first
    * [[IvfClusters]] rows equal [[ivfCentroids]] for every k ≥ 16.
    * This is the x108 cell-count knob's seed rule (k ≈ √n at warehouse
    * sizes; see the README's k-ladder measurement). */
  def kmeansSeeds(k: Int): Array[(Int, Array[Double])] = {
    val rng = new scala.util.Random(4242)
    Array.tabulate(k)(i => (i, Array.fill(64)(rng.nextGaussian())))
  }

  /** Fixed seeded coarse centroids shared by x15 and its oracle. */
  lazy val ivfCentroids: Array[(Int, Array[Double])] = kmeansSeeds(IvfClusters)

  val x15AnnIvf: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val cb = s.sparkContext.broadcast(ivfCentroids)
    def nearestClusters(e: Array[Double], k: Int): Seq[Int] =
      cb.value.map { case (ci, c) => (ci, dotScaled(e, c)) }
        .sortBy { case (ci, dot) => (-dot, ci) }.take(k).map(_._1).toSeq
    // build: each vector joins its single nearest list
    val listed = emb.map { case (id, e) => (nearestClusters(e, 1).head, id, e) }
    // probe: queries fan out to IvfProbes lists
    val queries = s.sparkContext.broadcast(
      emb.filter(_._1 < 10).collect().sortBy(_._1)
        .flatMap { case (id, e) =>
          nearestClusters(e, IvfProbes).map(c => (c, id, e, normScaled(e)))
        })
    val scored = listed.mapPartitions { it =>
      val qs = queries.value
      val rows = it.flatMap { case (cluster, cid, ce) =>
        val cn = normScaled(ce)
        qs.iterator
          .filter { case (qc, qid, _, _) => qc == cluster && qid != cid }
          .map { case (_, qid, qe, qn) =>
            (qid, cid, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(cn)))
          }
      }
      // each candidate lives in exactly ONE inverted list (rank-1
      // assignment above), so (query, cand) pairs are unique within the
      // scan and the bounded heap is exact with no post-hoc dedup. The
      // invariant is enforced by AnnRecallSpec ("IVF assigns each
      // vector to exactly one list") — if listing ever emits a
      // candidate into two lists, that spec trips, not this plan.
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Double)) => r._1)(
        cosineRankOrder)
    }.toDF("query_id", "cand_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB oracle for x15: centroid constants are literal arrays;
    * cluster dots are exact-integer scaled; membership = rank-1 cluster,
    * query probes = rank ≤ 3 (same (-dot, cluster) tiebreak); cosine is
    * the exact-integer form. */
  val x15Sql: String = {
    val clusterDots = ivfCentroids.map { case (ci, c) =>
      val arr = "[" + c.mkString(", ") + "]"
      s"SELECT vec_id, $ci AS cluster, CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT) AS dot FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings),
       |cd AS (
       |  $clusterDots),
       |ranked AS (
       |  SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) AS rk
       |  FROM cd),
       |member AS (SELECT vec_id, cluster FROM ranked WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cluster FROM ranked
       |  WHERE rk <= $IvfProbes AND vec_id < 10),
       |scored AS (
       |  SELECT p.query_id, m.vec_id AS cand_id,
       |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
       |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
       |  FROM probes p
       |  JOIN member m ON m.cluster = p.cluster
       |  JOIN e q ON q.vec_id = p.query_id
       |  JOIN e c ON c.vec_id = m.vec_id
       |  WHERE p.query_id <> m.vec_id)
       |SELECT query_id, rank, cand_id, cosine FROM (
       |  SELECT query_id, cand_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // -- x106: IVF list-mass drift (the maintenance trigger as a query) ----

  /** Trained-layout id boundary for x106: vectors below it stand in for
    * the corpus the coarse layout was trained on, the rest for what
    * streamed in afterward (the VectorIngestSpec base/feed split). */
  val IvfDriftTrainedN = 250L

  /** x106 — IVF list-mass drift: every vector coarse-assigned to its
    * rank-1 seeded centroid (x15's membership rule), then per list the
    * trained-slice mass vs the full-corpus mass, with the
    * total-variation numerator as EXACT integer cross-products
    * (|n_trained·Σcurrent − n_current·Σtrained| — no float fractions,
    * so every engine computes the identical value). This is
    * [[graft.VectorIndex.ivfDrift]]'s trigger restated as a registry
    * query: the table a maintenance scheduler would scan to decide
    * which indexes re-train tonight.
    *
    * Scale shape: one map-only assignment pass (broadcast centroids) +
    * one map-side-combined groupBy on the 16 list ids; the totals
    * attach as a one-row broadcast cross join (the x57 scalar
    * pattern). Shuffle carries list-count cells, never vectors. */
  val x106IvfDrift: QFn = (s, d) => {
    import s.implicits._
    val cb = s.sparkContext.broadcast(ivfCentroids)
    val assigned = embRows(Tables.embeddings(s, d))
      .map { case (id, e) =>
        val best = cb.value.map { case (ci, c) => (ci, dotScaled(e, c)) }
          .minBy { case (ci, dot) => (-dot, ci) }._1
        (id, best)
      }.toDF("vec_id", "cluster")
    val agg = assigned.groupBy(col("cluster")).agg(
      sum(when(col("vec_id") < IvfDriftTrainedN, 1L).otherwise(0L))
        .as("n_trained"),
      count(lit(1)).as("n_current"))
    val tot = agg.agg(sum(col("n_trained")).as("tot_trained"),
      sum(col("n_current")).as("tot_current"))
    agg.crossJoin(broadcast(tot))
      .select(col("cluster").cast("long").as("cluster"),
        col("n_trained"), col("n_current"),
        abs(col("n_trained") * col("tot_current") -
          col("n_current") * col("tot_trained")).as("drift_num"))
      .orderBy(col("cluster"))
  }

  /** Oracle: the x15 membership CTE, per-list conditional counts, and
    * the same integer cross-product drift numerator. */
  val x106Sql: String = {
    val clusterDots = ivfCentroids.map { case (ci, c) =>
      val arr = "[" + c.mkString(", ") + "]"
      s"SELECT vec_id, $ci AS cluster, CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT) AS dot FROM embeddings"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH cd AS (
       |  $clusterDots),
       |ranked AS (
       |  SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) AS rk
       |  FROM cd),
       |member AS (SELECT vec_id, cluster FROM ranked WHERE rk = 1),
       |agg AS (
       |  SELECT cluster,
       |    CAST(SUM(CASE WHEN vec_id < $IvfDriftTrainedN THEN 1 ELSE 0 END) AS BIGINT) AS n_trained,
       |    CAST(COUNT(*) AS BIGINT) AS n_current
       |  FROM member GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(n_trained) AS BIGINT) AS tot_trained,
       |    CAST(SUM(n_current) AS BIGINT) AS tot_current FROM agg)
       |SELECT CAST(a.cluster AS BIGINT) AS cluster, a.n_trained, a.n_current,
       |  CAST(abs(a.n_trained * t.tot_current - a.n_current * t.tot_trained) AS BIGINT) AS drift_num
       |FROM agg a CROSS JOIN tot t
       |ORDER BY cluster""".stripMargin
  }

  // -- x46: scalar-quantized ANN (SQ8 — the other compressed format) -----

  /** x46 — scalar 8-bit quantization ANN: per-dimension affine int8
    * codes trained from the corpus min/max, symmetric integer-L2
    * ranking on codes. SQ8 is the OTHER standard compressed vector
    * format next to PQ: 8 bits/dim (4× smaller than float32, near-
    * lossless ranking) vs PQ's 0.5 bits/dim (32× smaller, shortlist-
    * quality only) — AnnRecallSpec pins both ends of that trade. The
    * min/max "training" here is genuinely DISTRIBUTED, unlike PQ's
    * bounded-sample Lloyd: a per-partition elementwise reduce merges
    * 128 longs per partition at the driver (DELIBERATELY EAGER at
    * composition, like x34's bloom build — the quantizer params must
    * exist before the scan plan does). Integer end to end
    * (1e6-scaled mins/maxes, floor division), so the oracle re-derives
    * codes and distances bit-for-bit. At 100 TB: codes column scans at
    * 64 B/vector, the 10-query code batch broadcasts, the bounded
    * per-query heap keeps the selection shuffle partition-bounded. */
  val x46AnnSq8: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val scaled = emb.map { case (id, e) => (id, e.map(scale1e6)) }
    val (mins, maxs) = scaled
      .map { case (_, sv) => (sv, sv) }
      .reduce { (a, b) =>
        (a._1.zip(b._1).map(t => math.min(t._1, t._2)),
          a._2.zip(b._2).map(t => math.max(t._1, t._2)))
      }
    def encode(sv: Array[Long]): Array[Int] =
      Array.tabulate(sv.length) { j =>
        val range = maxs(j) - mins(j)
        if (range == 0L) 0
        else (((sv(j) - mins(j)) * 255L) / range).toInt
      }
    val queries = s.sparkContext.broadcast(
      scaled.filter(_._1 < 10).collect().sortBy(_._1)
        .map { case (qid, sv) => (qid, encode(sv)) })
    val mmB = s.sparkContext.broadcast((mins, maxs))
    val scored = scaled.mapPartitions { it =>
      val qs = queries.value
      val (mn, mx) = mmB.value
      val rows = it.flatMap { case (cid, sv) =>
        val cc = Array.tabulate(sv.length) { j =>
          val range = mx(j) - mn(j)
          if (range == 0L) 0
          else (((sv(j) - mn(j)) * 255L) / range).toInt
        }
        qs.iterator.collect { case (qid, qc) if qid != cid =>
          var d2 = 0L; var j = 0
          while (j < qc.length) {
            val t = (qc(j) - cc(j)).toLong; d2 += t * t; j += 1
          }
          (qid, cid, d2)
        }
      }
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Long)) => r._1)(
        adcRankOrder)
    }.toDF("query_id", "cand_id", "d2")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("d2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: per-dimension min/max over the scaled corpus, the same
    * floor-division codes ((v-mn)*255 // (mx-mn), nonnegative so floor
    * == truncation), symmetric integer-L2 rank. */
  val x46Sql: String =
    """WITH s AS (
      |  SELECT vec_id,
      |    list_transform(range(1, length(embedding) + 1),
      |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
      |  FROM embeddings),
      |dims AS (SELECT unnest(range(1, 65)) AS j),
      |mm AS (
      |  SELECT j, MIN(sv[j]) AS mn, MAX(sv[j]) AS mx
      |  FROM s CROSS JOIN dims GROUP BY j),
      |codes AS (
      |  SELECT vec_id, s2.j,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE ((sv[s2.j] - mn) * 255) // (mx - mn) END AS c
      |  FROM (SELECT vec_id, sv, dims.j FROM s CROSS JOIN dims) s2
      |  JOIN mm ON mm.j = s2.j),
      |scored AS (
      |  SELECT qc.vec_id AS query_id, cc.vec_id AS cand_id,
      |    CAST(SUM((qc.c - cc.c) * (qc.c - cc.c)) AS BIGINT) AS d2
      |  FROM codes qc
      |  JOIN codes cc ON cc.j = qc.j AND cc.vec_id <> qc.vec_id
      |  WHERE qc.vec_id < 10
      |  GROUP BY 1, 2)
      |SELECT query_id, rank, cand_id, d2 FROM (
      |  SELECT query_id, cand_id, d2,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY d2, cand_id) AS rank
      |  FROM scored) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // -- x45: kNN-graph build (top-k neighbors for EVERY vector) -----------

  val KnnGraphK = 3
  val KnnBlocks = 4

  /** x45 — kNN-GRAPH construction: for every vector of the selected
    * tenant (label 0 — the x40 pre-filter philosophy), its `KnnGraphK`
    * nearest neighbors by exact cosine. This is the build step of
    * graph-based ANN indexes (NSW/HNSW layers) and of graph semantic
    * dedup — and a genuinely different distributed shape from the
    * x3/x14/x38 family: the "query" side is the WHOLE collection, so
    * nothing can broadcast. The kernel reuses x8's block-nested
    * self-join (every unordered block pair meets in exactly one task,
    * per-task memory bounded by two blocks) and scores BOTH directions
    * inside the task with a [[graft.operators.BoundedTopK]] heap per
    * SOURCE vector — so each source emits ≤ KnnBlocks × k candidate
    * rows to the final ranking window, never O(tenant). At 100 TB the
    * block count scales as sqrt(parallelism) exactly like x8, and the
    * per-source heaps keep the selection shuffle linear in the vector
    * count. */
  /** The tenant's vectors as (id, double embedding, scaled norm) —
    * shared by the graph build (x45) and the graph search (x47). */
  private[graft] def tenantVectors(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.embeddings(s, d)
      .where(col("label") === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        val ed = e.map(_.toDouble); (id, ed, normScaled(ed))
      }
  }

  /** Block-parallel exact-kNN scoring kernel shared by x45 and x47's
    * index build: x8's block-nested self-join (every unordered block
    * pair meets in exactly one task), both directions scored in-task,
    * a per-SOURCE BoundedTopK heap bounding emission to ≤ KnnBlocks × k
    * rows per source. Returns (src_id, nbr_id, cosine) candidates; the
    * caller applies the global rank-≤k window. */
  private[graft] def knnBlockScored(s: SparkSession,
      emb: org.apache.spark.sql.Dataset[(Long, Array[Double], Long)],
      k: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val bCount = KnnBlocks
    val replicated = emb.flatMap { case (id, e, n) =>
      val b = (id % bCount).toInt
      (0 until bCount).map { o =>
        if (o >= b) ((b * bCount + o), 0, id, e, n)
        else ((o * bCount + b), 1, id, e, n)
      }
    }
    // same grouping-mechanism gate as cellPairScan (r16): pin the
    // exchange width + group in-task when the input is measurably
    // small; keep groupByKey's one-group-per-task bound at scale
    val pinned = Tables.scanUnderfillsCores(emb.toDF())
    val scored = if (pinned) {
      Tables.pinWidth(pinned, replicated.toDF("key", "role", "id", "e", "n"),
          "key")
        .as[(Int, Int, Long, Array[Double], Long)]
        .mapPartitions { it =>
          val groups = scala.collection.mutable.HashMap.empty[Int,
            (scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Long)],
             scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Long)])]
          it.foreach { case (key, role, id, e, n) =>
            val g = groups.getOrElseUpdate(key,
              (scala.collection.mutable.ArrayBuffer.empty,
                scala.collection.mutable.ArrayBuffer.empty))
            (if (role == 0) g._1 else g._2) += ((id, e, n))
          }
          groups.iterator.flatMap { case (key, (left, right)) =>
            knnBlockRows(key, bCount, k, left, right)
          }
        }
    } else {
      replicated.groupByKey(_._1).flatMapGroups {
        (key: Int, it: Iterator[(Int, Int, Long, Array[Double], Long)]) =>
          val left = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Double], Long)]
          val right = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Double], Long)]
          it.foreach { case (_, role, id, e, n) =>
            (if (role == 0) left else right) += ((id, e, n))
          }
          knnBlockRows(key, bCount, k, left, right)
      }
    }
    scored.toDF("src_id", "nbr_id", "cosine")
  }

  /** Per-blockpair kNN scoring shared by both grouping mechanisms of
    * [[knnBlockScored]] (sqrt of each norm hoisted per ROW — the old
    * loop took two sqrts per pair; cosines must be exact, they feed the
    * rank order, so no screen applies). Object-level on purpose: a def
    * nested in the calling method captures the enclosing module
    * instance via the `cosineRankOrder` field and is not
    * task-serializable. */
  private def knnBlockRows(key: Int, bCount: Int, k: Int,
      left: scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Long)],
      right: scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Long)])
      : Iterator[(Long, Long, Double)] = {
    val isDiag = (key / bCount) == (key % bCount)
    def directed(srcs: Seq[(Long, Array[Double], Double)],
        cands: Seq[(Long, Array[Double], Double)]) =
      for {
        (sid, se, ss) <- srcs.iterator
        (cid, ce, cs) <- cands.iterator
        if sid != cid
      } yield (sid, cid, dotScaled(se, ce) / (ss * cs))
    def sq(xs: scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Long)]) =
      xs.map { case (id, e, n) => (id, e, math.sqrt(n.toDouble)) }.toSeq
    val (l, r) = (sq(left), sq(right))
    val rows =
      if (isDiag) directed(l, l)
      else directed(l, r) ++ directed(r, l)
    BoundedTopK.perQuery(rows, k,
      (r: (Long, Long, Double)) => r._1)(cosineRankOrder)
  }

  val x45KnnGraph: QFn = (s, d) => {
    val scored = knnBlockScored(s, tenantVectors(s, d), KnnGraphK)
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= KnnGraphK)
      .select(col("src_id"), col("rank"), col("nbr_id"), col("cosine"))
      .orderBy(col("src_id"), col("rank"))
  }

  /** Oracle: exact within-tenant all-pairs cosine (x3's integer form),
    * rank ≤ k per source. */
  val x45Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings WHERE label = 0),
       |scored AS (
       |  SELECT q.vec_id AS src_id, c.vec_id AS nbr_id,
       |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
       |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
       |  FROM e q, e c
       |  WHERE q.vec_id <> c.vec_id)
       |SELECT src_id, rank, nbr_id, cosine FROM (
       |  SELECT src_id, nbr_id, cosine,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY cosine DESC, nbr_id) AS rank
       |  FROM scored) WHERE rank <= $KnnGraphK
       |ORDER BY src_id, rank""".stripMargin

  // -- x103: mutual-kNN filter over the x45 graph ------------------------

  /** x103 — MUTUAL kNN (reciprocal-nearest-neighbor) filter over x45's
    * graph: keep exactly the pairs where a ∈ kNN(b) AND b ∈ kNN(a) —
    * the standard precision filter in semantic dedup and agglomerative
    * clustering (a one-directional edge often just means b sits in a
    * dense region; reciprocity is the strong-tie signal). Output is
    * the canonical pair with BOTH ranks, the asymmetry evidence
    * downstream thresholds read.
    *
    * Scale shape: x45 carries the construction cost; this adds one
    * self-join of the k-bounded edge list on the canonical pair key —
    * ≤ n·k rows per side, never the vector payload. */
  val x103MutualKnn: QFn = (s, d) => {
    val g = x45KnnGraph(s, d)
      .select(col("src_id"), col("nbr_id"), col("rank"), col("cosine"))
    val fwd = g.where(col("src_id") < col("nbr_id"))
      .select(col("src_id").as("vec_a"), col("nbr_id").as("vec_b"),
        col("rank").cast("long").as("rank_ab"), col("cosine"))
    val rev = g.where(col("src_id") > col("nbr_id"))
      .select(col("nbr_id").as("vec_a"), col("src_id").as("vec_b"),
        col("rank").cast("long").as("rank_ba"))
    fwd.join(rev, Seq("vec_a", "vec_b"))
      .select(col("vec_a"), col("vec_b"), col("rank_ab"), col("rank_ba"),
        col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }
  lazy val x103Sql: String =
    s"""WITH knn AS (SELECT * FROM ($x45Sql)),
       |fwd AS (
       |  SELECT src_id AS vec_a, nbr_id AS vec_b,
       |    CAST(rank AS BIGINT) AS rank_ab, cosine
       |  FROM knn WHERE src_id < nbr_id),
       |rev AS (
       |  SELECT nbr_id AS vec_a, src_id AS vec_b,
       |    CAST(rank AS BIGINT) AS rank_ba
       |  FROM knn WHERE src_id > nbr_id)
       |SELECT f.vec_a, f.vec_b, f.rank_ab, r.rank_ba, f.cosine
       |FROM fwd f JOIN rev r ON f.vec_a = r.vec_a AND f.vec_b = r.vec_b
       |ORDER BY f.vec_a, f.vec_b""".stripMargin

  // -- x104: kNN label-agreement audit -----------------------------------

  /** Audit sample size (query ids below this bound). */
  val KnnAuditN = 300L
  /** Neighbors consulted per audited vector. */
  val KnnAuditK = 10

  /** x104 — kNN LABEL-AGREEMENT audit (the Confident-Learning-style
    * label-noise detector, and the embedding-quality probe): for each
    * audited vector, the majority label among its exact top-10 cosine
    * neighbors (tie → smallest label), compared to its own label. A
    * disagreeing vector is either mislabeled or embedded badly —
    * either way it is the row a data-quality queue reviews first.
    *
    * Scale shape: the audit SAMPLE is the query batch (bounded
    * broadcast, the x3 convention at 300 ids); candidates stream the
    * primitive dot kernel through k-bounded per-query heaps, the
    * majority vote touches sample × k rows. Auditing a full corpus is
    * x45's kNN-graph build plus this vote — the sample form is what a
    * continuous data-quality monitor actually runs. */
  val x104KnnLabelAudit: QFn = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, lab, e) => (id, lab, e.map(_.toDouble)) }
    val queries = s.sparkContext.broadcast(
      emb.filter(_._1 < KnnAuditN).collect().sortBy(_._1)
        .map { case (id, lab, e) => (id, lab, e, normScaled(e)) })
    val scored = emb.mapPartitions { it =>
      val qs = queries.value
      val rows = it.flatMap { case (cid, clab, ce) =>
        lazy val cn = normScaled(ce)
        qs.iterator.collect { case (qid, _, qe, qn) if qid != cid =>
          (qid, cid, clab, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(cn)))
        }
      }
      graft.operators.BoundedTopK.perQuery(rows, KnnAuditK,
        (r: (Long, Long, Int, Double)) => r._1)(
        Ordering.fromLessThan { (x, y) =>
          x._4 > y._4 || (x._4 == y._4 && x._2 < y._2)
        })
    }.toDF("query_id", "cand_id", "c_label", "cosine")
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val votes = scored.withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= KnnAuditK)
      .groupBy(col("query_id"), col("c_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("c_label"))
    val pred = votes.withColumn("vr", row_number().over(wVote))
      .where(col("vr") === 1)
      .select(col("query_id"),
        col("c_label").cast("long").as("pred_label"),
        col("n_votes"))
    val own = Tables.embeddings(s, d)
      .where(col("vec_id") < KnnAuditN)
      .select(col("vec_id").as("query_id"),
        col("label").cast("long").as("label"))
    own.join(pred, "query_id")
      .select(col("query_id"), col("label"), col("pred_label"),
        col("n_votes"),
        (col("label") === col("pred_label")).cast("long").as("agree"))
      .orderBy(col("query_id"))
  }
  val x104Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    c.label AS c_label,
       |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
       |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
       |  FROM e q, e c
       |  WHERE q.vec_id < $KnnAuditN AND q.vec_id <> c.vec_id),
       |top AS (
       |  SELECT query_id, c_label FROM (
       |    SELECT query_id, c_label,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, cand_id) AS rk
       |    FROM scored) WHERE rk <= $KnnAuditK),
       |votes AS (
       |  SELECT query_id, c_label, CAST(COUNT(*) AS BIGINT) AS n_votes
       |  FROM top GROUP BY query_id, c_label),
       |pred AS (
       |  SELECT query_id, CAST(c_label AS BIGINT) AS pred_label, n_votes
       |  FROM (SELECT query_id, c_label, n_votes,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY n_votes DESC, c_label) AS vr
       |        FROM votes) WHERE vr = 1)
       |SELECT o.vec_id AS query_id, CAST(o.label AS BIGINT) AS label,
       |  p.pred_label, p.n_votes,
       |  CASE WHEN o.label = p.pred_label THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS agree
       |FROM embeddings o JOIN pred p ON p.query_id = o.vec_id
       |WHERE o.vec_id < $KnnAuditN
       |ORDER BY query_id""".stripMargin

  // -- x47: graph-ANN serving — greedy beam search over the kNN graph ----

  /** Graph degree for x47's index (denser than x45's k=3 presentation
    * graph: beam search needs enough out-edges to navigate). */
  val GraphDegree = 4
  /** Beam width B: survivors per query per expansion round. */
  val GraphBeamWidth = 3
  /** Fixed expansion rounds R (unrolled in the oracle like x43's Lloyd
    * iterations — a data-dependent stopping rule could not hash-match). */
  val GraphBeamRounds = 2
  /** Seeded entry points per query: the GraphEntryCount lowest tenant
    * vec_ids after the query batch. */
  val GraphEntryCount = 2
  /** Query batch: the GraphQueryCount lowest tenant vec_ids. */
  val GraphQueryCount = 10

  /** x47 — the QUERY-TIME counterpart of x45 (VERDICT r6 #2 gap):
    * greedy NSW-style beam search over the tenant's kNN graph, the
    * serving shape of every graph-ANN stack (HNSW/NSW: enter at seeded
    * points, repeatedly score the frontier's out-neighbors, keep the
    * best B, stop after R hops). Expressed Spark-first as ITERATIVE
    * JOINS against the graph table — the beam frames are tiny (queries
    * × B rows) and broadcast onto the graph/vector scans, so each round
    * is a map-side join; no driver-side traversal loop ever touches
    * per-node state. The candidate-fetch join is x42's stage-2 shape:
    * at 100 TB the graph and vector tables are id-bucketed warehouse
    * tables and each round touches ≤ queries × B × degree rows of
    * them. The index build here is inline ([[knnBlockScored]], shared
    * with x45) because the registry contract is one self-contained
    * DataFrame per key; a deployment would persist the graph as a
    * table ([[graft.CurationWarehouse]]-style) and skip the rebuild.
    * Everything is deterministic — (cosine DESC, cand_id) tiebreaks,
    * fixed entries, fixed rounds — so the DuckDB oracle REPLAYS the
    * beam hop by hop as unrolled CTEs and the result hash-matches at
    * every SF. AnnRecallSpec's sf0.1 audit runs the same semantics at
    * serving parameters and pins recall ABOVE x14/x15 at an equal
    * exact-scoring budget. */
  /** The beam-search serving kernel, graph-source-agnostic — shared by
    * x47 (inline build) and [[graft.VectorIndex.search]] (PERSISTED
    * graph/vector tables, the deployment shape): iterative broadcast
    * joins, (cosine DESC, cand_id) tiebreaks, monotone beam (the
    * frontier stays in its own candidate set), answer = rank ≤ k of the
    * DISTINCT visited set. `graph` = (src_id, nbr_id); `embD` =
    * (cand_id, cand_e, cand_n); `queryVecs` is the bounded query batch
    * with scaled norms. */
  /** `excludeSelf` drops candidates whose id EQUALS the query id — only
    * meaningful when query ids are corpus ids (the x47 registry
    * convention); a batch with its own fresh id space must pass false
    * or a coincidental id collision silently hides a true neighbor. */
  private[graft] def beamSearch(s: SparkSession,
      graph: org.apache.spark.sql.DataFrame,
      embD: org.apache.spark.sql.DataFrame,
      queryVecs: Array[(Long, (Array[Double], Long))],
      entryIds: Array[Long], beamWidth: Int, rounds: Int,
      k: Int, excludeSelf: Boolean = true): org.apache.spark.sql.DataFrame = {
    val qIds = queryVecs.map(_._1)
    val entryPairs = qIds.flatMap(q =>
      entryIds.filter(en => !excludeSelf || en != q).map(en => (q, en)))
    beamSearchFrom(s, graph, embD, queryVecs, entryPairs, beamWidth,
      rounds, k, excludeSelf)
  }

  /** [[beamSearch]] with PER-QUERY entry seeds — the form a layered
    * (HNSW-style) descent needs, where each query enters a layer at the
    * node the layer above converged to. Seeds are (query_id, cand_id)
    * pairs; bounded by queries × entries per the serving contract. */
  private[graft] def beamSearchFrom(s: SparkSession,
      graph: org.apache.spark.sql.DataFrame,
      embD: org.apache.spark.sql.DataFrame,
      queryVecs: Array[(Long, (Array[Double], Long))],
      entryPairs: Array[(Long, Long)], beamWidth: Int, rounds: Int,
      k: Int, excludeSelf: Boolean = true): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val queriesB = s.sparkContext.broadcast(queryVecs.toMap)
    // score a (query_id, cand_id) set: fetch candidate vectors by id
    // (broadcast the tiny cand side), exact integer-scaled cosine
    def scoreCands(c: org.apache.spark.sql.DataFrame) =
      c.join(embD, "cand_id")
        .select(col("query_id"), col("cand_id"), col("cand_e"), col("cand_n"))
        .as[(Long, Long, Array[Double], Long)]
        .mapPartitions { it =>
          val qs = queriesB.value
          it.map { case (qid, cid, ce, cn) =>
            val (qe, qn) = qs(qid)
            (qid, cid, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(cn)))
          }
        }.toDF("query_id", "cand_id", "cosine")
    val wB = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    val entryCands = entryPairs
      .filter { case (q, en) => !excludeSelf || en != q }
      .toSeq.toDF("query_id", "cand_id")
    var beam = scoreCands(entryCands)
    var visited = beam
    for (_ <- 1 to rounds) {
      // frontier = best B found so far; its out-neighbors join in; the
      // frontier itself stays in the candidate set so the beam is
      // monotone (best-so-far never regresses)
      val frontier = beam.withColumn("rk", row_number().over(wB))
        .where(col("rk") <= beamWidth)
        .select(col("query_id"), col("cand_id"))
      val nbrs = frontier.withColumnRenamed("cand_id", "hop_src")
        .join(graph, col("hop_src") === col("src_id"))
        .select(col("query_id"), col("nbr_id").as("cand_id"))
      val cands = (if (excludeSelf)
        frontier.union(nbrs).where(col("cand_id") =!= col("query_id"))
      else frontier.union(nbrs))
        .dropDuplicates("query_id", "cand_id")
      val sc = scoreCands(cands)
      visited = visited.union(sc)
      beam = sc
    }
    // answer = best k of EVERYTHING scored along the walk (not just the
    // final beam) — the visited set is what the budget bought
    visited.dropDuplicates("query_id", "cand_id")
      .withColumn("rank", row_number().over(wB))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val x47AnnGraphSearch: QFn = (s, d) => {
    import s.implicits._
    val label0 = tenantVectors(s, d)
    // the index: x45's build at GraphDegree — ONE instance, so the R
    // per-round joins against it share identical exchange subplans and
    // ReuseExchange computes the build once (the round-2 join must use
    // NAME-resolved columns, not dataset-qualified refs: the frontier's
    // lineage embeds round-1's graph subplan and `graph("src_id")`
    // would trip the ambiguous-self-join check; after the scoring
    // kernel's serialization boundary the names are unique). The
    // registry contract is one self-contained DataFrame per key, so the
    // build is inline here; [[graft.VectorIndex]] is the persisted
    // build-once/serve-many form of exactly this kernel.
    val wG = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    // NOTE (r16, measured negative result — do not retry): an EAGER
    // localCheckpoint of the finished graph (capping the per-round plan
    // growth, VERDICT r15 #7) measured SLOWER paired at BOTH scales
    // (sf0.1: 2.42 vs 1.89 s; ×10: 3.75 vs 2.62 s): the beam rounds'
    // joins against the build already share ONE execution via
    // ReuseExchange inside the final action, so the barrier only adds
    // a serialized materialization job — the r15 multi-consumer rule's
    // exception (duplicate subtrees that execute concurrently in one
    // action) applies even though the subtree holds the quadratic kNN
    // kernel. The r16 win for this key is knnBlockScored's pinned
    // grouping width (4.6 → 2.6 s on the ×10 bench).
    val graph = knnBlockScored(s, label0, GraphDegree)
      .withColumn("rk", row_number().over(wG))
      .where(col("rk") <= GraphDegree)
      .select(col("src_id"), col("nbr_id"))
    // bounded collect #1: the 12 lowest tenant ids fix the query batch
    // and the seeded entries (oracle mirror: row_number() over vec_id)
    val headIds = Tables.embeddings(s, d).where(col("label") === 0)
      .select(col("vec_id")).orderBy(col("vec_id"))
      .limit(GraphQueryCount + GraphEntryCount).as[Long].collect().sorted
    val qIds = headIds.take(GraphQueryCount)
    val entryIds = headIds.drop(GraphQueryCount)
    // bounded collect #2: the query vectors + norms (broadcast to the
    // scoring kernel, exactly like the x3/x42 query batches)
    val queryVecs = label0.filter(r => qIds.contains(r._1)).collect()
      .map { case (id, e, n) => (id, (e, n)) }
    beamSearch(s, graph, label0.toDF("cand_id", "cand_e", "cand_n"),
      queryVecs, entryIds, GraphBeamWidth, GraphBeamRounds, k = 5)
  }

  /** Oracle: replays the beam hop by hop — x45's exact graph CTE, then
    * per round (score frontier∪neighbors, keep top-B) unrolled like
    * x43's Lloyd training, final rank over the DISTINCT visited set. */
  val x47Sql: String = {
    val cosExpr = (qa: String, ca: String) =>
      s"""CAST(list_sum(list_transform(range(1, length($qa.embedding) + 1),
         |      i -> CAST(round(CAST($qa.embedding[i] AS DOUBLE) * CAST($ca.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
         |      / (sqrt($qa.norm_s) * sqrt($ca.norm_s))""".stripMargin
    def scoreCte(sName: String, cName: String) =
      s"""$sName AS (
         |  SELECT c.query_id, c.cand_id,
         |    ${cosExpr("q", "ce")} AS cosine
         |  FROM $cName c
         |  JOIN q ON q.query_id = c.query_id
         |  JOIN e0 ce ON ce.vec_id = c.cand_id)"""
    val rounds = (1 to GraphBeamRounds).map { r =>
      s"""b$r AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, cand_id) AS rk
         |    FROM s${r - 1}) WHERE rk <= $GraphBeamWidth),
         |c$r AS (
         |  SELECT DISTINCT query_id, cand_id FROM (
         |    SELECT query_id, cand_id FROM b$r
         |    UNION ALL
         |    SELECT b.query_id, g.nbr_id AS cand_id
         |    FROM b$r b JOIN graph g ON g.src_id = b.cand_id)
         |  WHERE cand_id <> query_id),
         |${scoreCte(s"s$r", s"c$r")}"""
    }.mkString(",\n")
    val unionAll = (0 to GraphBeamRounds)
      .map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s,
       |    row_number() OVER (ORDER BY vec_id) AS pos
       |  FROM embeddings WHERE label = 0),
       |allp AS (
       |  SELECT s.vec_id AS src_id, c.vec_id AS nbr_id,
       |    ${cosExpr("s", "c")} AS cosine
       |  FROM e0 s JOIN e0 c ON s.vec_id <> c.vec_id),
       |graph AS (
       |  SELECT src_id, nbr_id FROM (
       |    SELECT src_id, nbr_id,
       |      row_number() OVER (PARTITION BY src_id
       |        ORDER BY cosine DESC, nbr_id) AS rk
       |    FROM allp) WHERE rk <= $GraphDegree),
       |q AS (
       |  SELECT vec_id AS query_id, embedding, norm_s FROM e0
       |  WHERE pos <= $GraphQueryCount),
       |c0 AS (
       |  SELECT q.query_id, ent.vec_id AS cand_id
       |  FROM q CROSS JOIN (
       |    SELECT vec_id FROM e0
       |    WHERE pos > $GraphQueryCount
       |      AND pos <= ${GraphQueryCount + GraphEntryCount}) ent),
       |${scoreCte("s0", "c0")},
       |$rounds,
       |visited AS (
       |  SELECT DISTINCT query_id, cand_id, cosine FROM ($unionAll))
       |SELECT query_id, rank, cand_id, cosine FROM (
       |  SELECT query_id, cand_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rank
       |  FROM visited) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // -- x23: k-means update step (embedding clustering) -------------------

  /** x23 — one Lloyd iteration over the embedding collection: assign
    * every vector to its nearest seeded coarse centroid (the x15
    * membership rule — exact-integer dots, (-dot, cluster) tiebreak),
    * then recompute centroids as per-dimension means. The update-side
    * sums run on round(e·1e6) integers so the oracle reproduces them
    * bit-for-bit; the mean is one IEEE division. Long format:
    * (cluster, dim, n_members, sum_scaled, centroid_val). At 100 TB
    * this is the canonical two-shuffle iteration — broadcast centroids,
    * map-side-combined partial sums per (cluster, dim). */
  val x23KmeansStep: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val cb = s.sparkContext.broadcast(ivfCentroids)
    val assigned = emb.map { case (id, e) =>
      val best = cb.value.map { case (ci, c) => (ci, dotScaled(e, c)) }
        .maxBy { case (ci, dot) => (dot, -ci) }._1
      (id, best, e)
    }
    assigned.flatMap { case (_, cluster, e) =>
      e.iterator.zipWithIndex.map { case (v, dim) =>
        val s = v * 1000000d
        val scaled = (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toLong
        (cluster, dim, scaled)
      }
    }.toDF("cluster", "dim", "scaled")
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).as("n_members"), sum(col("scaled")).as("sum_scaled"))
      .withColumn("centroid_val",
        col("sum_scaled").cast("double") / (col("n_members") * 1000000L).cast("double"))
      .select(col("cluster").cast("long").as("cluster"),
        col("dim").cast("long").as("dim"),
        col("n_members"), col("sum_scaled"), col("centroid_val"))
      .orderBy(col("cluster"), col("dim"))
  }
  /** Oracle: x15's membership CTE (centroid constants inlined), then
    * per-(cluster, dim) exact-integer sums and the same one-division
    * mean. */
  val x23Sql: String = {
    val clusterDots = ivfCentroids.map { case (ci, c) =>
      val arr = "[" + c.mkString(", ") + "]"
      s"SELECT vec_id, $ci AS cluster, CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT) AS dot FROM embeddings"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH cd AS (
       |  $clusterDots),
       |ranked AS (
       |  SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) AS rk
       |  FROM cd),
       |member AS (SELECT vec_id, cluster FROM ranked WHERE rk = 1),
       |vals AS (
       |  SELECT m.cluster, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(round(CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) AS scaled
       |  FROM member m
       |  JOIN embeddings e ON e.vec_id = m.vec_id
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, length(e.embedding) + 1)) AS i) ix)
       |SELECT CAST(cluster AS BIGINT) AS cluster, dim,
       |  COUNT(*) AS n_members, CAST(SUM(scaled) AS BIGINT) AS sum_scaled,
       |  CAST(SUM(scaled) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS centroid_val
       |FROM vals GROUP BY 1, 2
       |ORDER BY cluster, dim""".stripMargin
  }

  // -- x59: k-means trained to convergence -------------------------------

  val KmeansRounds = 3

  /** x59 — k-means TRAINED, not stepped: [[KmeansRounds]] full Lloyd
    * iterations from the seeded coarse centroids (x23 is the single
    * update step; this is the loop a clustering deployment actually
    * runs — MLlib's KMeans shape with the state kept at 1e6-scaled
    * integers so every engine agrees bit-for-bit).
    *
    * The recurrence is exactly integer: assignments maximize
    * Σ_dim es(v,d)·cs(c,d) over BIGINT products (order-free, no float
    * summation anywhere), and each round's new centroid is
    * round(sum_scaled / n) — ONE IEEE division + round per cell, which
    * is deterministic across engines — with empty clusters carrying
    * their previous centroid forward. The DuckDB oracle REPLAYS the
    * same [[KmeansRounds]] rounds as unrolled CTE blocks from the same
    * inlined seeds (x43's trained-codebook pattern: data-dependent
    * training state is re-derived, never copied).
    *
    * Scale shape: per round, ONE broadcast of the k×64 centroid table
    * (k = [[IvfClusters]] = 16 at the shipping keys; the `k` parameter
    * is the x108 cell-count knob, seeds via [[kmeansSeeds]])
    * out and ONE map-side-combined (cluster, dim) aggregate back —
    * 1024 cells ride each shuffle and each driver collect regardless
    * of corpus size; the embedding table is scanned once per round.
    * That is the canonical distributed-k-means cost model. */
  /** Integer argmax-dot cluster pick (shared by the training rounds
    * and the x62 assignment pass): highest dot wins, ties to the
    * lowest cluster — the SQL (dot DESC, cluster) rank rule. */
  private def bestCluster(books: Array[Array[Long]],
      e: Array[Long]): (Int, Long) = {
    var best = 0; var bestDot = Long.MinValue
    var c = 0
    while (c < books.length) {
      var dot = 0L; var i = 0
      val bc = books(c)
      while (i < e.length) { dot += e(i) * bc(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    (best, bestDot)
  }

  /** Run the [[KmeansRounds]] Lloyd rounds; returns the trained
    * centroid table and the last round's (cluster, dim) → (n, sum)
    * aggregate. x59 reports this state; x62 assigns under it. */
  private[graft] def kmeansFit(s: SparkSession, d: String,
      k: Int = IvfClusters)
      : (Array[Array[Long]], Array[((Int, Int), (Long, Long))]) =
    kmeansFitDf(s, Tables.embeddings(s, d), k)

  /** DataFrame-general form of [[kmeansFit]] (same seeded Lloyd; the
    * production [[cellPairScan]] trains on its caller's collection). */
  private[graft] def kmeansFitDf(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame, k: Int = IvfClusters)
      : (Array[Array[Long]], Array[((Int, Int), (Long, Long))]) = {
    import s.implicits._
    val es = graft.operators.Checkpoints.stable(embRows(emb)
      .map { case (id, e) => (id, e.map(scale1e6)) }
      ) // scanned once per ROUND, not re-decoded — stable across rounds
    var cs: Array[Array[Long]] =
      kmeansSeeds(k).map { case (_, c) => c.map(scale1e6) }
    var agg: Array[((Int, Int), (Long, Long))] = Array.empty
    for (_ <- 1 to KmeansRounds) {
      val cb = s.sparkContext.broadcast(cs)
      agg = es.flatMap { case (_, e) =>
        val best = bestCluster(cb.value, e)._1
        e.iterator.zipWithIndex.map { case (v, dim) => (best, dim, v) }
      }.toDF("cluster", "dim", "scaled")
        .groupBy(col("cluster"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("scaled")).as("ss"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      val next = cs.map(_.clone())
      agg.foreach { case ((c, dim), (n, sum)) =>
        // round half away from zero — DuckDB round()'s rule, NOT
        // math.round's half-up (they differ at negative exact halves)
        val q = sum.toDouble / n
        next(c)(dim) =
          (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)).toLong
      }
      cs = next
    }
    (cs, agg)
  }

  val x59KmeansTrain: QFn = (s, d) => {
    import s.implicits._
    val nDim = 64
    val (cs, agg) = kmeansFit(s, d)
    val n = agg.map { case ((c, _), (cnt, _)) => (c, cnt) }.toMap
    val rows = for {
      c <- 0 until ivfCentroids.length
      dim <- 0 until nDim
    } yield (c.toLong, dim.toLong, n.getOrElse(c, 0L), cs(c)(dim))
    rows.toDF("cluster", "dim", "n_members", "c_s")
      .orderBy(col("cluster"), col("dim"))
  }

  /** x62 — the assignment pass under the TRAINED centroids: every
    * vector labeled with its final cluster and integer dot — the
    * (vec_id, cluster) table SemDeDup-style pipelines partition work
    * by after training. One broadcast + one distributed map over the
    * corpus; no shuffle at all beyond the presentation sort. */
  val x62KmeansAssign: QFn = (s, d) => {
    import s.implicits._
    val (cs, _) = kmeansFit(s, d)
    val cb = s.sparkContext.broadcast(cs)
    embRows(Tables.embeddings(s, d))
      .map { case (id, e) =>
        val (c, dot) = bestCluster(cb.value, e.map(scale1e6))
        (id, c.toLong, dot)
      }
      .toDF("vec_id", "cluster", "dot_s")
      .orderBy(col("vec_id"))
  }

  /** Oracle: the same [[KmeansRounds]] Lloyd rounds unrolled as CTE
    * blocks — integer dot assignment with (dot DESC, cluster) tiebreak,
    * round(sum/n) centroid update, empty clusters coalescing to their
    * previous value. */
  /** Shared CTE chain of the k-means recipe (scaled embeddings, seed
    * centroids, all [[KmeansRounds]] unrolled rounds) — the x59 and x62
    * oracles both start from it. */
  private def kmeansCtesSql: String = {
    val seeds = ivfCentroids.map { case (ci, c) =>
      val arr = "[" + c.map(scale1e6).mkString(", ") + "]"
      s"SELECT $ci AS cluster, CAST(i - 1 AS BIGINT) AS dim, " +
        s"($arr)[CAST(i AS INTEGER)] AS cs " +
        "FROM (SELECT unnest(range(1, 65)) AS i)"
    }.mkString("\n  UNION ALL\n  ")
    val rounds = (1 to KmeansRounds).map { r =>
      val prev = if (r == 1) "c0" else s"c${r - 1}"
      s"""dot$r AS (
         |  SELECT e.vec_id, c.cluster, CAST(SUM(e.es * c.cs) AS BIGINT) AS dot
         |  FROM es e JOIN $prev c ON c.dim = e.dim GROUP BY 1, 2),
         |mem$r AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dot DESC, cluster) AS rk
         |    FROM dot$r) WHERE rk = 1),
         |agg$r AS (
         |  SELECT m.cluster, e.dim, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(e.es) AS BIGINT) AS ss
         |  FROM mem$r m JOIN es e USING (vec_id) GROUP BY 1, 2),
         |c$r AS (
         |  SELECT c.cluster, c.dim,
         |    COALESCE(CAST(round(CAST(a.ss AS DOUBLE) / a.n) AS BIGINT),
         |      c.cs) AS cs
         |  FROM $prev c LEFT JOIN agg$r a
         |    ON a.cluster = c.cluster AND a.dim = c.dim)""".stripMargin
    }.mkString(",\n")
    s"""es AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000)
       |      AS BIGINT) AS es
       |  FROM embeddings CROSS JOIN LATERAL
       |    (SELECT unnest(range(1, length(embedding) + 1)) AS i) ix),
       |c0 AS (
       |  $seeds),
       |$rounds""".stripMargin
  }

  val x59Sql: String = {
    val last = s"c$KmeansRounds"
    val lastAgg = s"agg$KmeansRounds"
    s"""WITH $kmeansCtesSql
       |SELECT CAST(c.cluster AS BIGINT) AS cluster, c.dim AS dim,
       |  COALESCE(a.n, 0) AS n_members, c.cs AS c_s
       |FROM $last c LEFT JOIN $lastAgg a
       |  ON a.cluster = c.cluster AND a.dim = c.dim
       |ORDER BY 1, 2""".stripMargin
  }

  /** Oracle for x62: one more integer-dot assignment CTE against the
    * final round's centroids. */
  val x62Sql: String = {
    val last = s"c$KmeansRounds"
    s"""WITH $kmeansCtesSql,
       |dotF AS (
       |  SELECT e.vec_id, c.cluster, CAST(SUM(e.es * c.cs) AS BIGINT) AS dot
       |  FROM es e JOIN $last c ON c.dim = e.dim GROUP BY 1, 2),
       |ranked AS (
       |  SELECT vec_id, cluster, dot,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dot DESC, cluster) AS rk
       |  FROM dotF)
       |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dot AS dot_s
       |FROM ranked WHERE rk = 1
       |ORDER BY vec_id""".stripMargin
  }

  // -- x60: cross-document duplicate spans (exact-substring dedup) -------

  val SpanGram = 5 // anchor width in words
  val SpanMaxDf = 20 // gram document-frequency cap (x7's discriminative trick)
  val SpanMin = 8 // minimum reported shared span, in words

  /** x60 — cross-document duplicate SPANS: for every document pair, the
    * maximal exactly-shared word spans (length of the longest, count of
    * those ≥ [[SpanMin]] words) — the exact-substring dedup primitive of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), which cuts repeated passages, not whole near-dup
    * documents (x2/x7's granularity). Suffix arrays don't distribute;
    * the same spans fall out of positional gram anchors: two docs
    * sharing a span of L ≥ g words share exactly L−g+1 consecutive
    * positional g-grams on one (posA − posB) diagonal, so maximal spans
    * = maximal consecutive-position runs per (pair, diagonal) — the
    * gather-scatter form a 1000-executor cluster can run.
    *
    * Scale shape: anchors join on an 8-byte gram hash with x7's
    * document-frequency cap (boilerplate grams in > [[SpanMaxDf]] docs
    * never enter the pair join, keeping it linear); the run-detection
    * window partitions by (pair, diagonal) — its input is the matched
    * anchors, already pair-bounded, never the corpus. All-integer
    * output. */
  /** Maximal shared-span runs per (pair, diagonal): (doc_a, doc_b,
    * diag, span_words, start_a). x60 aggregates these to pair-level
    * statistics; x61 excises the covered ranges from the later doc. */
  private[graft] def spanRuns(s: SparkSession, d: String): DataFrame =
    spanRunsOf(Tables.documents(s, d))

  /** The span-run kernel over an arbitrary (doc_id, text) frame — the
    * registry keys run it on the table; CorpusPipeline's span_excise
    * stage runs it on the piped corpus. */
  private[graft] def spanRunsOf(docs: DataFrame): DataFrame =
    spanRunsOf(docs, materialize = true)

  /** `materialize = false` skips the eager kept-anchor checkpoint so
    * plan tooling (graft.Explain's `x60_spanruns` pseudo-key) can print
    * the otherwise checkpoint-hidden construction; all query paths use
    * the materialized form. */
  private[graft] def spanRunsOf(docs: DataFrame,
      materialize: Boolean): DataFrame = {
    val g = SpanGram
    val gramCols = (0 until g).map(i => s"w[pos+$i]").mkString(", ")
    // spread before the gram explode + hash (r16, guide §2.5)
    val grams = Tables.spreadSmallScan(docs, "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= g)
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, size(w) - $g)")).as("pos"))
      .select(col("doc_id"), col("pos"),
        expr(hex60(s"concat_ws(' ', $gramCols)")).as("h"))
    // (r16b) NO checkpoint here any more: the r15 barrier existed for
    // the agg+join-back shape's two consumers, but the window-form DF
    // cap consumes the positional stream exactly ONCE — the barrier was
    // only materializing 2.5 M rows for nothing, and dropping it fuses
    // the tokenize→explode→hash projection into the h-exchange's map
    // stage.
    // DF cap as WINDOWS over one hash(h) exchange (r16 — the x7 trick,
    // finally applied here): the old shape paid a (doc_id, h) distinct
    // exchange, a groupBy(h) exchange, AND a join back onto the
    // positional stream (sort-merge of two ~full-stream sides) just to
    // attach the per-anchor distinct-doc count. With (h) ordered by
    // (doc_id, pos), a lag flag marks each doc's first occurrence and
    // its full-frame sum IS the distinct-doc count — same exchange
    // serves both window functions, no join back anywhere. The
    // exchange is width-pinned on measurably-small inputs (the same
    // AQE-coalescing rule as everywhere else this round). Probe at the
    // ×10 bench: the grams→kept segment fell 7.0 → (see notes).
    val gramsW = Tables.pinWidth(Tables.scanUnderfillsCores(docs), grams, "h")
    val wOrd = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    val wAll = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // both sides of the anchor self-join read `kept` — checkpoint so
    // the window chain executes once instead of per side (r15 rule)
    val keptPlan = gramsW
      .withColumn("__nd",
        when(lag(col("doc_id"), 1).over(wOrd).isNull
          .or(lag(col("doc_id"), 1).over(wOrd) =!= col("doc_id")), 1L)
          .otherwise(0L))
      .withColumn("gram_df", sum(col("__nd")).over(wAll))
      .where(col("gram_df") <= SpanMaxDf)
      .select(col("doc_id"), col("pos"), col("h"))
    val kept0 = if (materialize) keptPlan.localCheckpoint(true) else keptPlan
    // pin the anchor self-join's exchange width on measurably-small
    // inputs (r16, same rule as bucketSelfJoin): the join output fans
    // out per shared anchor while AQE coalesces the exchange by its
    // (small) input bytes; ReuseExchange dedups the identical pinned
    // exchange across the two sides
    val kept = Tables.pinWidth(Tables.scanUnderfillsCores(docs), kept0, "h")
    val m = kept.as("ga")
      .join(kept.as("gb"), col("ga.h") === col("gb.h") &&
        col("ga.doc_id") < col("gb.doc_id"))
      .select(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"),
        col("ga.pos").as("pa"), (col("ga.pos") - col("gb.pos")).as("diag"))
    val wIsl = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(wIsl))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg((count(lit(1)) + lit(g - 1)).cast("long").as("span_words"),
        min(col("pa")).as("start_a"))
  }

  val x60DupSpans: QFn = (s, d) => {
    spanRuns(s, d).groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span_words")).as("max_span_words"),
        sum(when(col("span_words") >= SpanMin, 1L).otherwise(0L))
          .as("n_spans"))
      .where(col("max_span_words") >= SpanMin)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared CTE chain of the span recipe up to `runs` — the x60 and x61
    * oracles both start from it so they can never diverge. */
  private def spanRunCtesSql: String = {
    val g = SpanGram
    val gramConcat = (0 until g).map(i => s"w[i+$i]")
      .mkString(" || ' ' || ")
    s"""words AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE length(string_split(text, ' ')) >= $g),
       |grams AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    ${duckHex60(gramConcat)} AS h
       |  FROM (SELECT doc_id, w, unnest(range(1, length(w) - $g + 2)) AS i
       |        FROM words)),
       |df AS (
       |  SELECT h, COUNT(*) AS gram_df
       |  FROM (SELECT DISTINCT doc_id, h FROM grams) GROUP BY h),
       |kept AS (
       |  SELECT g.doc_id, g.pos, g.h FROM grams g
       |  JOIN df USING (h) WHERE df.gram_df <= $SpanMaxDf),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
       |    a.pos - b.pos AS diag
       |  FROM kept a JOIN kept b
       |    ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, diag, pa,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
       |      ORDER BY pa) AS isl
       |  FROM m),
       |runs AS (
       |  SELECT doc_a, doc_b, diag, isl,
       |    CAST(COUNT(*) + $g - 1 AS BIGINT) AS span_words,
       |    CAST(MIN(pa) AS BIGINT) AS start_a
       |  FROM isl GROUP BY 1, 2, 3, 4)""".stripMargin
  }

  /** Oracle: same positional anchors (1-based DuckDB indexing), same
    * df cap, same diagonal-island run detection. */
  val x60Sql: String = {
    s"""WITH $spanRunCtesSql
       |SELECT doc_a, doc_b,
       |  CAST(MAX(span_words) AS BIGINT) AS max_span_words,
       |  CAST(SUM(CASE WHEN span_words >= $SpanMin THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_spans
       |FROM runs GROUP BY 1, 2
       |HAVING MAX(span_words) >= $SpanMin
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -- x61: duplicate-span excision (the dedup APPLICATION) --------------

  /** x61 — duplicate-span EXCISION: the cleaned corpus x60's detection
    * feeds — every span ≥ [[SpanMin]] words that also occurs in an
    * earlier document (lower doc_id) is removed from the LATER one
    * (keep-first-occurrence, Lee et al.'s ExactSubstr removal policy),
    * and every document comes back with its cleaned text and removed
    * word count (0 and unchanged text for untouched docs).
    *
    * Scale shape: the span relation is x60's (pair-bounded); covered
    * positions explode only spans (≤ doc length each), the anti-join
    * against them is by (doc, pos), and text rebuild is one
    * per-affected-doc aggregation (sorted-struct array_join — no
    * window). The full corpus rides through exactly one left join at
    * the end; untouched docs never shuffle their text. */
  val x61SpanExcise: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    // span-bounded rows, checkpointed: three chains (covered positions,
    // affected-doc list and through it the words join) would otherwise
    // each re-run the gram self-join + run-detection window (x58's
    // multi-consumer rule)
    val spans = spanRuns(s, d)
      .where(col("span_words") >= SpanMin)
      .select(col("doc_b").as("doc_id"),
        (col("start_a") - col("diag")).as("start"), col("span_words"))
      .localCheckpoint(true)
    val covered = spans
      .select(col("doc_id"),
        explode(expr("sequence(start, start + span_words - 1)")).as("pos"))
      .distinct()
    val affected = spans.select(col("doc_id")).distinct()
    val words = docs
      .join(affected, "doc_id") // only affected docs tokenize
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "word")
    val keptAgg = words
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, word))), x -> x.word), ' ')")
          .as("cleaned"))
    val cleanedAffected = affected
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    docs.select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(cleanedAffected, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cleaned"), col("text")).as("text_clean"),
        (col("n_words") - coalesce(col("n_kept"), col("n_words")))
          .as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: x60's span chain, covered-position union, anti-join, and
    * an ORDER BY string_agg rebuild. */
  val x61Sql: String = {
    s"""WITH $spanRunCtesSql,
       |spans AS (
       |  SELECT doc_b AS doc_id, start_a - diag AS start, span_words
       |  FROM runs WHERE span_words >= $SpanMin),
       |covered AS (
       |  SELECT DISTINCT doc_id, CAST(start + x AS BIGINT) AS pos
       |  FROM spans CROSS JOIN LATERAL
       |    (SELECT unnest(range(0, span_words)) AS x) t),
       |affected AS (SELECT DISTINCT doc_id FROM spans),
       |wordsall AS (
       |  SELECT d.doc_id, CAST(i - 1 AS BIGINT) AS pos, w[CAST(i AS INTEGER)] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE doc_id IN (SELECT doc_id FROM affected)) d
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(range(1, length(w) + 1)) AS i) ix),
       |keptagg AS (
       |  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    string_agg(w.word, ' ' ORDER BY w.pos) AS cleaned
       |  FROM wordsall w
       |  ANTI JOIN covered c ON c.doc_id = w.doc_id AND c.pos = w.pos
       |  GROUP BY 1),
       |cleanaff AS (
       |  SELECT a.doc_id, COALESCE(k.cleaned, '') AS cleaned,
       |    COALESCE(k.n_kept, 0) AS n_kept
       |  FROM affected a LEFT JOIN keptagg k USING (doc_id))
       |SELECT d.doc_id,
       |  COALESCE(c.cleaned, d.text) AS text_clean,
       |  CAST(length(string_split(d.text, ' '))
       |    - COALESCE(c.n_kept, length(string_split(d.text, ' ')))
       |    AS BIGINT) AS n_removed
       |FROM documents d LEFT JOIN cleanaff c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // -- x63: dedup audit rollup -------------------------------------------

  /** Session memo of x61's cleaned-corpus frame for COMPOSING consumers
    * (VERDICT r7 #7): x61 is the registry's most expensive chain
    * (~10 s at sf0.1), and x63 composes it wholesale — the audit should
    * pay the span chain once per (session, table dir) and re-read the
    * checkpointed result after that, the way the soak pipeline shares
    * its stage outputs. The x61 registry key itself stays UNmemoized so
    * its bench reading remains the chain's real cost, not a cache hit.
    *
    * Contract: registry table dirs are IMMUTABLE for a session's
    * lifetime (the driver's testdata contract) — a dir regenerated
    * mid-session would serve the memoized pre-rewrite frame. Entries
    * (one corpus-sized frame per (session, dir)) are EVICTED when the
    * owning session's SparkContext ends (listener below, VERDICT r8
    * #6) so a long-lived multi-session service does not pin
    * checkpointed blocks of stopped sessions; the registry sees at
    * most a handful of dirs. */
  private val x61Shared = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]
  private val x61ListenerHooked = java.util.concurrent.ConcurrentHashMap
    .newKeySet[SparkSession]()
  private def x61CleanedShared(s: SparkSession, d: String): DataFrame = {
    if (x61ListenerHooked.add(s)) {
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            x61Shared.keySet.removeIf(_._1 eq s)
            x61ListenerHooked.remove(s)
          }
        })
    }
    x61Shared.computeIfAbsent((s, d),
      _ => x61SpanExcise(s, d).localCheckpoint(true))
  }

  /** x63 — the curation AUDIT artifact: per source, the document count,
    * span-excision loss (x61's removed words) and affected-document
    * count — the per-slice accounting table a curation run publishes
    * next to its output so downstream consumers can see WHERE the
    * dedup bit (reference analog: the per-visit counter rows `ap_proto`
    * appends to its metrics table). Composition key: the scale story is
    * x60/x61's; the rollup itself is one map-side-combined aggregate
    * over ids-and-counts (text_clean is pruned out of the join by
    * Catalyst — the audit never carries document text). Composes the
    * SHARED x61 frame, so a session that already ran the excision
    * pays only the rollup here. */
  val x63DedupAudit: QFn = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    x61CleanedShared(s, d)
      .join(docs, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_removed")).as("words_removed"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L))
          .as("docs_affected"))
      .orderBy(col("source"))
  }

  val x63Sql: String =
    s"""SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(x.n_removed) AS BIGINT) AS words_removed,
       |  CAST(SUM(CASE WHEN x.n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_affected
       |FROM (${x61Sql.replace("\n", "\n  ")}) x
       |JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- x38: product-quantization ANN (compressed-domain scale path) ------

  /** PQ geometry: 64-dim vectors split into `PqSubspaces` 8-dim
    * subvectors, each quantized to one of `PqK` codebook entries — a
    * 64-dim float vector becomes PqSubspaces small codes (8 bytes),
    * the 32× compression that lets a 100 TB embedding collection live
    * in executor memory as codes + one broadcast codebook. */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqK = 16

  /** Fixed seeded codebooks shared bit-for-bit with the SQL oracle:
    * entries are INTEGER-SCALED (×1e6) longs — the ground truth both
    * engines quantize against, so no float parsing can diverge. The
    * σ = 0.125 entry scale matches the per-dimension spread of a
    * unit-norm 64-dim vector (1/√64), so the codebook occupies the same
    * shell as the data. (Codebook *quality* is a recall concern, not a
    * correctness one — the k-means refinement x23 demonstrates would
    * train these at scale.) */
  lazy val pqCodebooks: Array[Array[Array[Long]]] = {
    val rng = new scala.util.Random(99)
    Array.fill(PqSubspaces, PqK, PqSubDim)(
      math.round(rng.nextGaussian() * 125000d))
  }

  private[graft] def scale1e6(v: Double): Long = {
    val s = v * 1000000d
    (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toLong
  }

  /** Squared L2 between a scaled subvector and a codebook entry. */
  private[graft] def pqDist2(se: Array[Long], off: Int, c: Array[Long]): Long = {
    var d = 0L; var i = 0
    while (i < c.length) {
      val t = se(off + i) - c(i); d += t * t; i += 1
    }
    d
  }

  /** PQ encoding: nearest codebook entry per subspace (ties → lower
    * code) — shared by x38/x39. */
  private[graft] def pqEncode(se: Array[Long],
      cb: Array[Array[Array[Long]]]): Array[Int] =
    Array.tabulate(PqSubspaces) { m =>
      var bestK = 0
      var bestD = Long.MaxValue
      var k = 0
      while (k < PqK) {
        val dd = pqDist2(se, m * PqSubDim, cb(m)(k))
        if (dd < bestD) { bestD = dd; bestK = k }
        k += 1
      }
      bestK
    }

  /** Per-query ADC lookup tables for the 10 query vectors (sorted by
    * id): lut(m)(k) = d2(query subvector m, codebook entry k). */
  private def pqQueryLuts(emb: org.apache.spark.sql.Dataset[(Long, Array[Double])],
      cb: Array[Array[Array[Long]]]): Array[(Long, Array[Array[Long]])] =
    emb.filter(_._1 < 10).collect().sortBy(_._1).map { case (qid, qe) =>
      val se = qe.map(scale1e6)
      (qid, Array.tabulate(PqSubspaces, PqK) { (m, k) =>
        pqDist2(se, m * PqSubDim, cb(m)(k))
      })
    }

  /** x38 — ANN by product quantization with asymmetric distance (ADC):
    * every vector is ENCODED once (nearest codebook entry per subspace,
    * ties → lower code); each of the 10 query vectors precomputes a
    * (subspace × code) distance lookup table; scanning the collection
    * is then `PqSubspaces` table adds per candidate — no float math,
    * no full vectors. At 100 TB the codes column is what the scan
    * reads (32× less I/O than raw embeddings) and the LUTs are
    * kilobytes broadcast to every task: the IVF-PQ shape every
    * billion-vector ANN serving system uses (x15 supplies the IVF
    * half). Exact-integer arithmetic end to end, so the oracle
    * re-derives codes and ADC identically. */
  val x38AnnPq: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val cb = s.sparkContext.broadcast(pqCodebooks)
    val luts = s.sparkContext.broadcast(pqQueryLuts(emb, pqCodebooks))
    val scored = emb.mapPartitions { it =>
      val qs = luts.value
      val rows = it.flatMap { case (cid, ce) =>
        val code = pqEncode(ce.map(scale1e6), cb.value)
        qs.iterator.collect { case (qid, lut) if qid != cid =>
          var adc = 0L; var m = 0
          while (m < PqSubspaces) { adc += lut(m)(code(m)); m += 1 }
          (qid, cid, adc)
        }
      }
      // the full-corpus ADC scan emits ≤ k rows per query per partition:
      // the selection window sorts partitions × k rows, never O(corpus)
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Long)) => r._1)(
        adcRankOrder)
    }.toDF("query_id", "cand_id", "adc")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: codebooks inlined as integer-list VALUES; codes and ADC
    * re-derived with the same scaled arithmetic. */
  val x38Sql: String = {
    val cbRows = (for {
      m <- 0 until PqSubspaces
      k <- 0 until PqK
    } yield s"($m, $k, [${pqCodebooks(m)(k).mkString("::BIGINT, ")}::BIGINT])")
      .mkString(",\n    ")
    s"""WITH cb(m, k, c) AS (VALUES
       |    $cbRows),
       |sub AS (
       |  SELECT vec_id, ms.m,
       |    list_transform(range(1, ${PqSubDim + 1}),
       |      i -> CAST(round(CAST(embedding[ms.m * $PqSubDim + i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS m) ms),
       |dists AS (
       |  SELECT sub.vec_id, sub.m, cb.k,
       |    CAST(list_sum(list_transform(range(1, ${PqSubDim + 1}),
       |      i -> (sv[i] - c[i]) * (sv[i] - c[i]))) AS BIGINT) AS d2
       |  FROM sub JOIN cb ON cb.m = sub.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rk
       |    FROM dists) WHERE rk = 1),
       |adc AS (
       |  SELECT qd.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(SUM(qd.d2) AS BIGINT) AS adc
       |  FROM codes c
       |  JOIN dists qd ON qd.m = c.m AND qd.k = c.code AND qd.vec_id < 10
       |  WHERE qd.vec_id <> c.vec_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, cand_id, adc FROM (
       |  SELECT query_id, cand_id, adc,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc, cand_id) AS rank
       |  FROM adc) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // -- x43: PQ with k-means-TRAINED codebooks (x23 ∘ x38) ----------------

  /** Training-sample bound and Lloyd iteration count for x43. 256
    * vectors is deliberately collect-sized: production PQ trains its
    * codebooks on a bounded sample at one node and broadcasts them
    * (FAISS's `train()` shape) — the DISTRIBUTED Lloyd step exists as
    * x23 for corpus-scale clustering; composing the two is exactly
    * this operator. */
  val PqTrainN = 256L
  val PqTrainIters = 2

  /** Lloyd refinement of the seeded PQ codebooks on the scaled training
    * subvectors. Integer arithmetic end to end so the SQL oracle
    * replays training bit-for-bit: assignment is [[pqEncode]] (nearest
    * entry, ties → lower code), the update is the per-dimension
    * TRUNCATED mean (Long division ≡ SQL trunc toward zero — sums stay
    * ≤ 256·4e6, exact in the oracle's double), and an empty cluster
    * keeps its previous entry. */
  private[graft] def trainPqCodebooks(
      train: Array[Array[Long]]): Array[Array[Array[Long]]] = {
    var cb = pqCodebooks.map(_.map(_.clone()))
    (0 until PqTrainIters).foreach { _ =>
      val sums = Array.ofDim[Long](PqSubspaces, PqK, PqSubDim)
      val counts = Array.ofDim[Long](PqSubspaces, PqK)
      train.foreach { sv =>
        val code = pqEncode(sv, cb)
        var m = 0
        while (m < PqSubspaces) {
          val k = code(m)
          counts(m)(k) += 1
          var j = 0
          while (j < PqSubDim) {
            sums(m)(k)(j) += sv(m * PqSubDim + j); j += 1
          }
          m += 1
        }
      }
      cb = Array.tabulate(PqSubspaces, PqK) { (m, k) =>
        if (counts(m)(k) == 0) cb(m)(k)
        else Array.tabulate(PqSubDim)(j => sums(m)(k)(j) / counts(m)(k))
      }
    }
    cb
  }

  /** x43 — x38's ADC scan with codebooks TRAINED by k-means instead of
    * seeded constants: one bounded collect (`vec_id < PqTrainN`, which
    * also covers the 10 query vectors), `PqTrainIters` Lloyd rounds at
    * the driver, broadcast of the trained books, then the identical
    * codes-only scan with a bounded per-query heap. On the isotropic
    * test embeddings training roughly doubles ADC-only recall@10 over
    * the random-codebook floor (AnnRecallSpec pins both) — the one
    * lever raw PQ has when the data gives LSH/IVF nothing to exploit. */
  val x43AnnPqTrained: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val train = emb.filter(_._1 < PqTrainN).collect().sortBy(_._1)
    val cbT = trainPqCodebooks(train.map(_._2.map(scale1e6)))
    val cb = s.sparkContext.broadcast(cbT)
    val luts = s.sparkContext.broadcast(
      train.takeWhile(_._1 < 10).map { case (qid, qe) =>
        val se = qe.map(scale1e6)
        (qid, Array.tabulate(PqSubspaces, PqK) { (m, k) =>
          pqDist2(se, m * PqSubDim, cbT(m)(k))
        })
      })
    val scored = emb.mapPartitions { it =>
      val qs = luts.value
      val rows = it.flatMap { case (cid, ce) =>
        val code = pqEncode(ce.map(scale1e6), cb.value)
        qs.iterator.collect { case (qid, lut) if qid != cid =>
          var adc = 0L; var m = 0
          while (m < PqSubspaces) { adc += lut(m)(code(m)); m += 1 }
          (qid, cid, adc)
        }
      }
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Long)) => r._1)(
        adcRankOrder)
    }.toDF("query_id", "cand_id", "adc")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle WITH-body: the seeded codebooks as VALUES, `PqTrainIters`
    * Lloyd rounds REPLAYED as unrolled CTE stages over the same
    * training subset (assign by the same (d2, k) tiebreak, update by
    * the same truncated mean, empty clusters COALESCE to the previous
    * entry), then x38's code/ADC chain against the final books.
    * Shared by x43 (direct ADC ranking) and x44 (rescore tail). */
  private lazy val x43CteBody: String = {
    val cbRows = (for {
      m <- 0 until PqSubspaces
      k <- 0 until PqK
    } yield s"($m, $k, [${pqCodebooks(m)(k).mkString("::BIGINT, ")}::BIGINT])")
      .mkString(",\n    ")
    def iterCtes(i: Int): String = {
      val prev = if (i == 1) "cb0" else s"cb${i - 1}"
      s"""t${i}_d AS (
         |  SELECT t.vec_id, t.m, cb.k,
         |    CAST(list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |      i -> (sv[i] - c[i]) * (sv[i] - c[i]))) AS BIGINT) AS d2
         |  FROM train t JOIN $prev cb ON cb.m = t.m),
         |t${i}_a AS (
         |  SELECT vec_id, m, k AS code FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rk
         |    FROM t${i}_d) WHERE rk = 1),
         |t${i}_u AS (
         |  SELECT a.m, a.code AS k, js.j,
         |    CAST(trunc(CAST(SUM(t.sv[js.j]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cj
         |  FROM t${i}_a a
         |  JOIN train t ON t.vec_id = a.vec_id AND t.m = a.m
         |  CROSS JOIN js
         |  GROUP BY a.m, a.code, js.j),
         |cb$i AS (
         |  SELECT p.m, p.k, COALESCE(u.c, p.c) AS c
         |  FROM $prev p LEFT JOIN (
         |    SELECT m, k, list(cj ORDER BY j) AS c FROM t${i}_u
         |    GROUP BY m, k) u
         |    ON u.m = p.m AND u.k = p.k)""".stripMargin
    }
    val trainCtes = (1 to PqTrainIters).map(iterCtes).mkString(",\n")
    val cbFinal = s"cb$PqTrainIters"
    s"""cb0(m, k, c) AS (VALUES
       |    $cbRows),
       |js AS (SELECT unnest(range(1, ${PqSubDim + 1})) AS j),
       |sub AS (
       |  SELECT vec_id, ms.m,
       |    list_transform(range(1, ${PqSubDim + 1}),
       |      i -> CAST(round(CAST(embedding[ms.m * $PqSubDim + i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS m) ms),
       |train AS (SELECT * FROM sub WHERE vec_id < $PqTrainN),
       |$trainCtes,
       |dists AS (
       |  SELECT sub.vec_id, sub.m, cb.k,
       |    CAST(list_sum(list_transform(range(1, ${PqSubDim + 1}),
       |      i -> (sv[i] - c[i]) * (sv[i] - c[i]))) AS BIGINT) AS d2
       |  FROM sub JOIN $cbFinal cb ON cb.m = sub.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rk
       |    FROM dists) WHERE rk = 1),
       |adc AS (
       |  SELECT qd.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(SUM(qd.d2) AS BIGINT) AS adc
       |  FROM codes c
       |  JOIN dists qd ON qd.m = c.m AND qd.k = c.code AND qd.vec_id < 10
       |  WHERE qd.vec_id <> c.vec_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  val x43Sql: String =
    s"""WITH $x43CteBody
       |SELECT query_id, rank, cand_id, adc FROM (
       |  SELECT query_id, cand_id, adc,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc, cand_id) AS rank
       |  FROM adc) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // -- x42: two-stage PQ ANN (ADC shortlist -> exact rescore) ------------

  val RescoreShortlist = 100

  /** Saturation-adaptive Hamming shortlist (VERDICT r12 #4): pick the
    * served shortlist from a per-query frame of (query_id, cand_id,
    * hamming) candidates by the SATURATION at the base cutoff instead
    * of a fixed width.
    *
    * Why: a 64-bit sign code over n vectors saturates as n grows — at
    * 200 k the distance at rank `base` sits inside a TIE CLASS holding
    * hundreds of candidates, and a fixed-width cut keeps an arbitrary
    * (id-ordered) subset of it, dropping true neighbors that are
    * quantization-indistinguishable from kept ones (the r10→r12 recall
    * ladder: 0.67 at 50 k → 0.53 at 200 k with fixed 100). The rule:
    * a candidate within Hamming `hK + 1` of the query — where `hK` is
    * the distance at rank `base` — is statistically indistinguishable
    * from the base cutoff given 1-bit quantization noise, so keep ALL
    * of them, hard-capped at `2 × base` (the ≤2× cost budget). On an
    * UNSATURATED corpus the `hK+1` shell is nearly empty and the width
    * stays ≈ base, so small-corpus cost is unchanged; at saturation
    * the width grows toward the cap exactly when the extra candidates
    * carry signal. RecallProbe 200 000: 0.53 fixed-100 → ≥0.65
    * adaptive at ≤2× width.
    *
    * `hamScored` must hold AT LEAST the top `2 × base` per query (the
    * stage-1 heaps feed it at that width). Deterministic: ties broken
    * by cand_id everywhere, and the cap is applied in the same
    * (hamming, cand_id) order. */
  def adaptiveHammingShortlist(hamScored: DataFrame, base: Int,
      capFactor: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHam = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("cand_id"))
    val perQuery = Window.partitionBy(col("query_id"))
    hamScored
      .withColumn("rk", row_number().over(byHam))
      // long math: base may be "the corpus". capFactor is the serving
      // recall-vs-latency knob (round 15): on a corpus dense enough to
      // saturate the 64-bit codes the hK+1 shell rides this cap, and
      // widening it trades exact-rescore rows for recall — measured
      // ladder in README "ANN retrieval quality" (RecallProbe 200k)
      .where(col("rk") <= capFactor.toLong * base)
      .withColumn("hk",
        max(when(col("rk") <= base, col("hamming"))).over(perQuery))
      .where(col("rk") <= base || col("hamming") <= col("hk") + 1)
      .select(col("query_id"), col("cand_id"))
  }

  /** The oracle-SQL mirror of [[adaptiveHammingShortlist]], as a CTE
    * body: given a CTE `ham(query_id, cand_id, hamming)`, yields
    * `short(query_id, cand_id)` with identical semantics. */
  def adaptiveShortlistSqlCte(base: Int): String =
    s"""ranked AS (
       |  SELECT query_id, cand_id, hamming,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming, cand_id) AS rk
       |  FROM ham),
       |capped AS (
       |  SELECT query_id, cand_id, hamming, rk,
       |    max(CASE WHEN rk <= $base THEN hamming END)
       |      OVER (PARTITION BY query_id) AS hk
       |  FROM ranked WHERE rk <= ${2 * base}),
       |short AS (
       |  SELECT query_id, cand_id FROM capped
       |  WHERE rk <= $base OR hamming <= hk + 1)""".stripMargin

  /** x42 — the two-stage serving shape every production PQ deployment
    * actually runs, as a first-class operator: stage 1 scans the PQ
    * CODES (x38's ADC — 8 table adds per candidate, no float math, 32×
    * less scan I/O) to shortlist `RescoreShortlist` candidates per
    * query; stage 2 fetches ONLY those candidates' raw vectors by id
    * and re-ranks them by exact cosine. Quantization noise then only
    * has to keep true neighbors inside the shortlist, not rank them —
    * the recall audit (AnnRecallSpec / README "ANN retrieval quality")
    * measures 0.07@10 for raw ADC ranking vs 0.48@10 rescoring a
    * 100-candidate shortlist on the isotropic test embeddings. At
    * 100 TB the stage-2 id join touches `10 queries × 100` rows of the
    * vector table — the scan cost stays the codes column, the exact
    * math stays shortlist-sized. */
  val x42AnnPqRescore: QFn = (s, d) => {
    import s.implicits._
    // NO checkpoint: the returned plan is consumed lazily by the
    // caller, so an eager checkpoint here could never be released
    // (ADVICE r6) — and at 100 TB you could not materialize the vector
    // table anyway. The ADC scan and the stage-2 candidate fetch each
    // scan the source; the query collect reads a vec_id<10 pushed-down
    // slice. Scan-twice IS the scale-correct shape.
    val emb = embRows(Tables.embeddings(s, d))
    val cb = s.sparkContext.broadcast(pqCodebooks)
    // one driver collect covers query vectors, norms and ADC LUTs
    val queriesB = s.sparkContext.broadcast(
      embRows(Tables.embeddings(s, d).where(col("vec_id") < 10))
        .collect().sortBy(_._1)
        .map { case (qid, qe) =>
          val se = qe.map(scale1e6)
          (qid, qe, normScaled(qe),
            Array.tabulate(PqSubspaces, PqK) { (m, k) =>
              pqDist2(se, m * PqSubDim, pqCodebooks(m)(k))
            })
        })
    val adcScored = emb.mapPartitions { it =>
      val qs = queriesB.value
      val rows = it.flatMap { case (cid, ce) =>
        val code = pqEncode(ce.map(scale1e6), cb.value)
        qs.iterator.collect { case (qid, _, _, lut) if qid != cid =>
          var adc = 0L; var m = 0
          while (m < PqSubspaces) { adc += lut(m)(code(m)); m += 1 }
          (qid, cid, adc)
        }
      }
      // stage-1 keeps a RescoreShortlist-bounded heap per query: the
      // shortlist window sorts partitions × shortlist rows, not O(corpus)
      BoundedTopK.perQuery(rows, RescoreShortlist,
        (r: (Long, Long, Long)) => r._1)(adcRankOrder)
    }.toDF("query_id", "cand_id", "adc")
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    val shortlist = adcScored.withColumn("adc_rank", row_number().over(wAdc))
      .where(col("adc_rank") <= RescoreShortlist)
      .select(col("query_id"), col("cand_id"))
    val rescored = shortlist
      .join(emb.toDF("cand_id", "cand_e"), "cand_id")
      .select(col("query_id"), col("cand_id"), col("cand_e"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val qs = queriesB.value
          .map { case (qid, qe, qn, _) => (qid, (qe, qn)) }.toMap
        it.map { case (qid, cid, ce) =>
          val (qe, qn) = qs(qid)
          (qid, cid, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(normScaled(ce))))
        }
      }.toDF("query_id", "cand_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: x38's code/ADC CTEs, a rank ≤ RescoreShortlist shortlist,
    * then x3's exact-integer cosine over shortlist members only. */
  val x42Sql: String = {
    val cbRows = (for {
      m <- 0 until PqSubspaces
      k <- 0 until PqK
    } yield s"($m, $k, [${pqCodebooks(m)(k).mkString("::BIGINT, ")}::BIGINT])")
      .mkString(",\n    ")
    s"""WITH cb(m, k, c) AS (VALUES
       |    $cbRows),
       |sub AS (
       |  SELECT vec_id, ms.m,
       |    list_transform(range(1, ${PqSubDim + 1}),
       |      i -> CAST(round(CAST(embedding[ms.m * $PqSubDim + i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS m) ms),
       |dists AS (
       |  SELECT sub.vec_id, sub.m, cb.k,
       |    CAST(list_sum(list_transform(range(1, ${PqSubDim + 1}),
       |      i -> (sv[i] - c[i]) * (sv[i] - c[i]))) AS BIGINT) AS d2
       |  FROM sub JOIN cb ON cb.m = sub.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rk
       |    FROM dists) WHERE rk = 1),
       |adc AS (
       |  SELECT qd.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(SUM(qd.d2) AS BIGINT) AS adc
       |  FROM codes c
       |  JOIN dists qd ON qd.m = c.m AND qd.k = c.code AND qd.vec_id < 10
       |  WHERE qd.vec_id <> c.vec_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc, cand_id) AS rk
       |    FROM adc) WHERE rk <= $RescoreShortlist),
       |e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings),
       |rescored AS (
       |  SELECT sh.query_id, sh.cand_id,
       |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
       |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
       |  FROM short sh
       |  JOIN e q ON q.vec_id = sh.query_id
       |  JOIN e c ON c.vec_id = sh.cand_id)
       |SELECT query_id, rank, cand_id, cosine FROM (
       |  SELECT query_id, cand_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rank
       |  FROM rescored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // -- x44: the full PQ serving stack (trained books + rescore) ----------

  /** x44 — x43's trained codebooks composed with x42's two-stage
    * serving: train on the bounded sample, scan CODES with the trained
    * ADC (bounded per-query heap, shortlist `RescoreShortlist`), fetch
    * only shortlisted vectors by id, re-rank by exact cosine. This is
    * the complete production stack — FAISS `train()` + IndexPQ +
    * refine — as one operator: the trained books raise shortlist
    * QUALITY (ADC recall 0.07 → 0.16), the rescore converts shortlist
    * membership into final ranking, and the recall audit pins the
    * composition above either half alone. Scan cost is unchanged from
    * x42: codes column + KB LUTs; training is one bounded collect. */
  val x44AnnPqServe: QFn = (s, d) => {
    import s.implicits._
    // NO checkpoint (same reasoning as x42): the training collect reads
    // a vec_id<PqTrainN pushed-down slice; the ADC scan and stage-2
    // fetch re-scan the source inside the caller-executed plan
    val emb = embRows(Tables.embeddings(s, d))
    val train = embRows(Tables.embeddings(s, d).where(col("vec_id") < PqTrainN))
      .collect().sortBy(_._1)
    val cbT = trainPqCodebooks(train.map(_._2.map(scale1e6)))
    val cb = s.sparkContext.broadcast(cbT)
    // the training collect covers the query batch (qids < 10 < TrainN)
    val queriesB = s.sparkContext.broadcast(
      train.takeWhile(_._1 < 10).map { case (qid, qe) =>
        val se = qe.map(scale1e6)
        (qid, qe, normScaled(qe),
          Array.tabulate(PqSubspaces, PqK) { (m, k) =>
            pqDist2(se, m * PqSubDim, cbT(m)(k))
          })
      })
    val adcScored = emb.mapPartitions { it =>
      val qs = queriesB.value
      val rows = it.flatMap { case (cid, ce) =>
        val code = pqEncode(ce.map(scale1e6), cb.value)
        qs.iterator.collect { case (qid, _, _, lut) if qid != cid =>
          var adc = 0L; var m = 0
          while (m < PqSubspaces) { adc += lut(m)(code(m)); m += 1 }
          (qid, cid, adc)
        }
      }
      BoundedTopK.perQuery(rows, RescoreShortlist,
        (r: (Long, Long, Long)) => r._1)(adcRankOrder)
    }.toDF("query_id", "cand_id", "adc")
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    val shortlist = adcScored.withColumn("adc_rank", row_number().over(wAdc))
      .where(col("adc_rank") <= RescoreShortlist)
      .select(col("query_id"), col("cand_id"))
    val rescored = shortlist
      .join(emb.toDF("cand_id", "cand_e"), "cand_id")
      .select(col("query_id"), col("cand_id"), col("cand_e"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val qs = queriesB.value
          .map { case (qid, qe, qn, _) => (qid, (qe, qn)) }.toMap
        it.map { case (qid, cid, ce) =>
          val (qe, qn) = qs(qid)
          (qid, cid, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(normScaled(ce))))
        }
      }.toDF("query_id", "cand_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: x43's trained code/ADC CTE body, x42's shortlist +
    * exact-cosine rescore tail. */
  val x44Sql: String =
    s"""WITH $x43CteBody,
       |short AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc, cand_id) AS rk
       |    FROM adc) WHERE rk <= $RescoreShortlist),
       |e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings),
       |rescored AS (
       |  SELECT sh.query_id, sh.cand_id,
       |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
       |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
       |  FROM short sh
       |  JOIN e q ON q.vec_id = sh.query_id
       |  JOIN e c ON c.vec_id = sh.cand_id)
       |SELECT query_id, rank, cand_id, cosine FROM (
       |  SELECT query_id, cand_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rank
       |  FROM rescored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // -- x40: filtered ANN (metadata-constrained vector search) ------------

  /** x40 — FILTERED vector search: each query's top-5 among candidates
    * sharing the query's `label` (the "metadata filter + ANN" shape
    * every production vector store serves — search within a tenant,
    * language, or category). Pre-filtering beats post-filtering: the
    * label predicate applies BEFORE scoring, so recall never silently
    * drops when the filter is selective. At 100 TB the label is a
    * partition/cluster key and the filter prunes the scan itself; here
    * the kernel applies it per candidate against the broadcast query
    * batch. Exact within the filtered set (brute force, like x3 —
    * x14/x15/x38 supply the sublinear variants, all composable with the
    * same pre-filter). */
  val x40AnnFiltered: QFn = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, lab, e) => (id, lab, e.map(_.toDouble)) }
    val queries = s.sparkContext.broadcast(
      emb.filter(_._1 < 10).collect().sortBy(_._1)
        .map { case (id, lab, e) => (id, lab, e, normScaled(e)) })
    val scored = emb.mapPartitions { it =>
      val qs = queries.value
      val rows = it.flatMap { case (cid, clab, ce) =>
        lazy val cn = normScaled(ce)
        qs.iterator.collect {
          case (qid, qlab, qe, qn) if qid != cid && qlab == clab =>
            (qid, cid, clab, dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(cn)))
        }
      }
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Int, Double)) => r._1)(
        Ordering.fromLessThan { (x, y) =>
          x._4 > y._4 || (x._4 == y._4 && x._2 < y._2)
        })
    }.toDF("query_id", "cand_id", "label", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"),
        col("label"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }
  val x40Sql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
      |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label,
      |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
      |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
      |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
      |  FROM e q, e c
      |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id AND q.label = c.label)
      |SELECT query_id, rank, cand_id, label, cosine FROM (
      |  SELECT query_id, cand_id, label, cosine,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, cand_id) AS rank
      |  FROM scored) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // -- x39: IVF-PQ ANN (the two halves composed) -------------------------

  /** x39 — the production billion-vector ANN shape assembled from its
    * two halves: x15's IVF coarse clustering bounds WHICH vectors are
    * scanned (each query probes its `IvfProbes` nearest lists), x38's
    * PQ codes bound WHAT the scan reads per vector (8 codes + LUT adds,
    * no float math). At 100 TB the cluster list is the shuffle/layout
    * key and the codes column is the scan payload — candidate count
    * drops by the probe fraction AND bytes-per-candidate by 32×,
    * multiplicative savings. Deterministic end to end, so the oracle
    * composes the two halves' CTEs verbatim. */
  val x39AnnIvfPq: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    val cb = s.sparkContext.broadcast(pqCodebooks)
    val cents = s.sparkContext.broadcast(ivfCentroids)
    def nearestClusters(e: Array[Double], k: Int): Seq[Int] =
      cents.value.map { case (ci, c) => (ci, dotScaled(e, c)) }
        .sortBy { case (ci, dot) => (-dot, ci) }.take(k).map(_._1).toSeq
    // build side: one pass assigns the coarse list and encodes the codes
    // (the stored representation: (list, id, 8 codes) — no raw vector)
    val listed = emb.map { case (id, e) =>
      (nearestClusters(e, 1).head, id, pqEncode(e.map(scale1e6), cb.value))
    }
    // probe side: queries fan out to their probed lists with their LUT
    // (ONE driver collect covers both the LUTs and the probe clusters)
    val queryProbes = s.sparkContext.broadcast {
      emb.filter(_._1 < 10).collect().sortBy(_._1).flatMap { case (qid, qe) =>
        val se = qe.map(scale1e6)
        val lut = Array.tabulate(PqSubspaces, PqK) { (m, k) =>
          pqDist2(se, m * PqSubDim, pqCodebooks(m)(k))
        }
        nearestClusters(qe, IvfProbes).map(c => (c, qid, lut))
      }
    }
    val scored = listed.mapPartitions { it =>
      val qs = queryProbes.value
      val rows = it.flatMap { case (cluster, cid, code) =>
        qs.iterator
          .filter { case (qc, qid, _) => qc == cluster && qid != cid }
          .map { case (_, qid, lut) =>
            var adc = 0L; var m = 0
            while (m < PqSubspaces) { adc += lut(m)(code(m)); m += 1 }
            (qid, cid, adc)
          }
      }
      // probed-list-bounded already; heap makes it partition-bounded too
      BoundedTopK.perQuery(rows, 5, (r: (Long, Long, Long)) => r._1)(
        adcRankOrder)
    }.toDF("query_id", "cand_id", "adc")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: x15's membership/probe CTEs composed with x38's
    * code/distance CTEs — candidates restricted to probed lists, ranked
    * by the same integer ADC. */
  val x39Sql: String = {
    val clusterDots = ivfCentroids.map { case (ci, c) =>
      val arr = "[" + c.mkString(", ") + "]"
      s"SELECT vec_id, $ci AS cluster, CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT) AS dot FROM embeddings"
    }.mkString("\n  UNION ALL\n  ")
    val cbRows = (for {
      m <- 0 until PqSubspaces
      k <- 0 until PqK
    } yield s"($m, $k, [${pqCodebooks(m)(k).mkString("::BIGINT, ")}::BIGINT])")
      .mkString(",\n    ")
    s"""WITH cd AS (
       |  $clusterDots),
       |ranked AS (
       |  SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) AS rk
       |  FROM cd),
       |member AS (SELECT vec_id, cluster FROM ranked WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cluster FROM ranked
       |  WHERE rk <= $IvfProbes AND vec_id < 10),
       |cb(m, k, c) AS (VALUES
       |    $cbRows),
       |sub AS (
       |  SELECT vec_id, ms.m,
       |    list_transform(range(1, ${PqSubDim + 1}),
       |      i -> CAST(round(CAST(embedding[ms.m * $PqSubDim + i] AS DOUBLE) * 1000000) AS BIGINT)) AS sv
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(0, $PqSubspaces)) AS m) ms),
       |dists AS (
       |  SELECT sub.vec_id, sub.m, cb.k,
       |    CAST(list_sum(list_transform(range(1, ${PqSubDim + 1}),
       |      i -> (sv[i] - c[i]) * (sv[i] - c[i]))) AS BIGINT) AS d2
       |  FROM sub JOIN cb ON cb.m = sub.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rk
       |    FROM dists) WHERE rk = 1),
       |adc AS (
       |  SELECT p.query_id, mem.vec_id AS cand_id,
       |    CAST(SUM(qd.d2) AS BIGINT) AS adc
       |  FROM probes p
       |  JOIN member mem ON mem.cluster = p.cluster
       |  JOIN codes c ON c.vec_id = mem.vec_id
       |  JOIN dists qd ON qd.vec_id = p.query_id
       |    AND qd.m = c.m AND qd.k = c.code
       |  WHERE p.query_id <> mem.vec_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, cand_id, adc FROM (
       |  SELECT query_id, cand_id, adc,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc, cand_id) AS rank
       |  FROM adc) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // -- x24: corpus-wide top-k n-grams (vocab induction) ------------------

  /** x24 — top-k most frequent word bigrams corpus-wide (the counting
    * pass of tokenizer-vocabulary induction). One map-side-combined
    * shuffle on the gram string, then a global top-k that plans as
    * TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows) — no global sort shuffle at any corpus size. Deterministic
    * (count DESC, gram) tiebreak. */
  val VocabTopK = 100
  val x24VocabTopk: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("w"), explode(expr("sequence(0, size(w) - 2)")).as("i"))
      .select(expr("concat(w[i], '_', w[i+1])").as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(VocabTopK)
  }
  val x24Sql =
    s"""SELECT string_split(text, ' ')[i] || '_' || string_split(text, ' ')[i+1] AS gram,
       |  COUNT(*) AS n
       |FROM (SELECT text, unnest(range(1, length(string_split(text, ' ')))) AS i
       |      FROM documents WHERE length(string_split(text, ' ')) >= 2)
       |GROUP BY 1 ORDER BY n DESC, gram LIMIT $VocabTopK""".stripMargin

  // -- x35: sketch top-k (SpaceSaving heavy hitters) ---------------------

  /** Sketch capacity for x35. 4096 ≥ the corpus's distinct-bigram count
    * at every test SF (the generator vocabulary is 31 words → ≤ 961
    * bigrams), so the SpaceSaving summary is provably EXACT here and the
    * key shares x24's oracle; at real-corpus cardinalities the identical
    * plan returns ±n/4096 bounds in constant memory instead of the full
    * vocabulary shuffle x24 pays. */
  val SketchCapacity = 4096

  /** x35 — x24's corpus-wide top-k bigrams computed by the mergeable
    * SpaceSaving aggregate ([[graft.plans.SpaceSavingAgg]], a native
    * `TypedImperativeAggregate`): each task folds its partition into a
    * bounded summary, the exchange moves ONE summary per task (≤
    * `SketchCapacity` entries) instead of every distinct gram, and the
    * reducer merges. The exact/sketch pair (x24/x35) is the same trade
    * the clustering pair (x16/x22) documents: identical answers at test
    * scale, different asymptotics at 100 TB. */
  val x35TopkSketch: QFn = (s, d) => {
    import graft.plans.SketchFunctions
    Tables.documents(s, d)
      .select(split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("w"), explode(expr("sequence(0, size(w) - 2)")).as("i"))
      .select(expr("concat(w[i], '_', w[i+1])").as("gram"))
      .agg(SketchFunctions.spaceSavingTopK(col("gram"), SketchCapacity).as("ss"))
      .select(explode(col("ss")).as("e"))
      .select(col("e.item").as("gram"), col("e.cnt").as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(VocabTopK)
  }

  // -- x30: LSH-prefiltered near-dup pairs (x8's scale path) -------------

  /** x30 — embedding near-dup pairs with an LSH prefilter: candidates
    * are pairs whose hyperplane signatures differ in ≤ 1 bit (vector a
    * in its own bucket joins vector b replicated to its bucket plus the
    * `LshPlanes` hamming-1 flips), exact-integer cosine rescored, same
    * threshold as x8. Each qualifying pair matches on EXACTLY one probe
    * bucket (hamming-0 via b's own bucket, hamming-1 via the single
    * differing flip), so no dedup pass is needed. Output ⊆ x8's exact
    * pairs by construction — ExtSpec pins the recall on the high-cosine
    * planted pairs. The join key is the signature bucket: at 100 TB
    * this shuffles n·(planes+1) rows by bucket instead of x8's n·B
    * block replication with per-task O(block²) scoring — the sublinear
    * recall-for-cost trade every production near-dup pipeline makes. */
  /** x30's bucket-join pair scan over an arbitrary (vec_id, embedding)
    * frame — shared with CorpusSoak's scale-path semantic dedup. */
  private[graft] def x30PairScan(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.plans.SpatialFunctions.dot_scaled
    // fully columnar — the scaled dots (norms, plane signs, pair
    // rescoring) are the native codegen'd dot_scaled expression, so the
    // whole pipeline stays inside whole-stage codegen: no Dataset
    // round-trip, no kernel deserialization
    val planeCols = hyperplanes.map(p => typedLit(p.toSeq))
    val bucketCol = (0 until LshPlanes).map { p =>
      when(dot_scaled(col("e"), planeCols(p)) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("n", dot_scaled(col("e"), col("e")))
      .withColumn("bucket", bucketCol)
    // ids-only through the candidate machinery (r15, guide §2.3/§8:
    // decide with small rows, move the payload once): the 64-double
    // arrays used to ride BOTH bucket-join sides — the probe side
    // explodes to 1+LshPlanes entries per vector, so the exchange
    // multiplied the vector bytes 8× (own + 7 probes at 6 planes).
    // Now the join shuffles (bucket, id) longs only and each
    // side's vector+norm re-attach by id afterwards; the planner picks
    // the attach strategy from size (broadcast-hash under the 10 MB
    // threshold at bench SF, sort-merge at estate scale — exactly
    // x71's "signatures re-attach by id" rule, applied to vectors).
    // Measured paired: 1.96 -> 0.94 s. Per-pair candidate multiplicity
    // is 1 by construction (one bucket collision per pair at Hamming
    // ≤ 1), so no dedup-vs-attach trade exists here, unlike x69.
    val own = e.select(col("bucket"), col("vec_id").as("id_a"))
    val probeBuckets = array(col("bucket") +:
      (0 until LshPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)
    val probes = e.select(explode(probeBuckets).as("bucket"),
      col("vec_id").as("id_b"))
    bucketJoin(s, own, probes, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .join(e.select(col("vec_id").as("id_a"), col("e").as("e_a"),
        col("n").as("n_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("e").as("e_b"),
        col("n").as("n_b")), "id_b")
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        (dot_scaled(col("e_a"), col("e_b"))
          / (sqrt(col("n_a")) * sqrt(col("n_b")))).as("cosine"))
      .where(col("cosine") > 0.4)
  }

  val x30NeardupLsh: QFn = (s, d) =>
    // eager checkpoint BEFORE the presentation sort (r15): the range
    // exchange samples its child to pick partition boundaries, and that
    // sample job re-executes everything above the last shuffle — here
    // the two vector attaches and the dot_scaled scoring, i.e. the
    // expensive half of the key, ran twice. Materializing the scored
    // pairs once lets the sampler read rows instead of recomputing
    // them. Measured paired: sort-no-ckpt 2.69 s, ckpt+sort 1.70 s,
    // unsorted floor 1.29 s.
    x30PairScan(s, Tables.embeddings(s, d))
      .localCheckpoint(true)
      .orderBy(col("vec_a"), col("vec_b"))

  /** DuckDB oracle for x30: x14's literal hyperplane buckets, an
    * explicit 7-bucket unnest on the probe side, exact-integer cosine. */
  val x30Sql: String = {
    def planeDot(p: Int): String = {
      val arr = "[" + hyperplanes(p).mkString(", ") + "]"
      s"CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT)"
    }
    val bucketExpr = (0 until LshPlanes).map { p =>
      s"(CASE WHEN ${planeDot(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString(" | ")
    val probeList = "[bucket" +
      (0 until LshPlanes).map(p => s", xor(bucket, ${1L << p})").mkString + "]"
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s,
       |    $bucketExpr AS bucket
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id, embedding, norm_s, unnest($probeList) AS pb FROM e),
       |scored AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    CAST(list_sum(list_transform(range(1, length(a.embedding) + 1),
       |      i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(a.norm_s) * sqrt(b.norm_s)) AS cosine
       |  FROM e a JOIN probes b ON a.bucket = b.pb AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM scored
       |WHERE cosine > 0.4
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // -- x102: ensemble ANN (union of sublinear shortlists + rescore) -------

  /** x102 — ENSEMBLE ANN serving: the union of three independent
    * sublinear candidate generators — LSH radius-1 multiprobe (x14's
    * buckets), IVF 3-probe lists (x15's), and the binary Hamming
    * top-100 (x92's stage 1) — exactly rescored once. Each generator
    * misses different neighbors (hyperplane locality vs coarse-cluster
    * locality vs sign-bit locality), so the union's recall dominates
    * every arm at the combined candidate budget (AnnRecallSpec pins
    * recall ≥ each arm and the measured operating point) — the
    * multi-retriever union-then-rerank shape production search runs,
    * here for vectors.
    *
    * Scale shape: one membership pass (bucket + cluster per candidate,
    * emitted only into matching queries' sets — bucket/list-bounded),
    * one heap-bounded Hamming pass, a distinct over per-query
    * candidate ids, and a rescore join that moves queries × |union|
    * id-fetches. No stage scans more than the operators it composes. */
  val x102AnnEnsemble: QFn = (s, d) => {
    import s.implicits._
    val emb = embRows(Tables.embeddings(s, d))
    def memberCluster(e: Array[Double]): Int =
      ivfCentroids.map { case (ci, c) => (ci, dotScaled(e, c)) }
        .maxBy { case (ci, dot) => (dot, -ci) }._1
    def probeClusters(e: Array[Double]): Set[Int] =
      ivfCentroids.map { case (ci, c) => (ci, dotScaled(e, c)) }
        .sortBy { case (ci, dot) => (-dot, ci) }
        .take(IvfProbes).map(_._1).toSet
    val queries = s.sparkContext.broadcast(
      emb.filter(_._1 < 10).collect().sortBy(_._1).map { case (id, e) =>
        val b = lshBucketOf(e)
        val probes = (0 until LshPlanes).map(p => b ^ (1L << p)).toSet + b
        val (lo, hi) = graft.VectorIndex.signPack(e)
        (id, e, normScaled(e), probes, probeClusters(e), lo, hi)
      })
    val memberCands = emb.mapPartitions { it =>
      val qs = queries.value
      it.flatMap { case (cid, ce) =>
        val b = lshBucketOf(ce)
        val cl = memberCluster(ce)
        qs.iterator.collect { case (qid, _, _, pb, pc, _, _)
            if qid != cid && (pb.contains(b) || pc.contains(cl)) =>
          (qid, cid)
        }
      }
    }.toDF("query_id", "cand_id")
    val binScored = emb.mapPartitions { it =>
      val qs = queries.value
      val rows = it.flatMap { case (cid, ce) =>
        val (cl, ch) = graft.VectorIndex.signPack(ce)
        qs.iterator.collect { case (qid, _, _, _, _, ql, qh) if qid != cid =>
          (qid, cid, (java.lang.Long.bitCount(ql ^ cl)
            + java.lang.Long.bitCount(qh ^ ch)).toLong)
        }
      }
      graft.operators.BoundedTopK.perQuery(rows, RescoreShortlist,
        (r: (Long, Long, Long)) => r._1)(
        Ordering.fromLessThan { (x, y) =>
          x._3 < y._3 || (x._3 == y._3 && x._2 < y._2)
        })
    }.toDF("query_id", "cand_id", "hamming")
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("cand_id"))
    val binShort = binScored.withColumn("rk", row_number().over(wHam))
      .where(col("rk") <= RescoreShortlist)
      .select(col("query_id"), col("cand_id"))
    val cands = memberCands.unionAll(binShort)
      .dropDuplicates("query_id", "cand_id")
    val fullDf = emb.toDF("vec_id", "ce")
    val rescored = cands.join(fullDf, cands("cand_id") === fullDf("vec_id"))
      .select(col("query_id"), col("cand_id"), col("ce"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val qs = queries.value
          .map { case (qid, qe, qn, _, _, _, _) => qid -> ((qe, qn)) }.toMap
        it.map { case (qid, cid, ce) =>
          val (qe, qn) = qs(qid)
          (qid, cid, dotScaled(qe, ce)
            / (math.sqrt(qn) * math.sqrt(normScaled(ce))))
        }
      }.toDF("query_id", "cand_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }
  lazy val x102Sql: String = {
    def planeDot(p: Int): String = {
      val arr = "[" + hyperplanes(p).mkString(", ") + "]"
      s"CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT)"
    }
    val bucketExpr = (0 until LshPlanes).map { p =>
      s"(CASE WHEN ${planeDot(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString(" | ")
    val probeList = "[bucket" +
      (0 until LshPlanes).map(p => s", xor(bucket, ${1L << p})").mkString + "]"
    val clusterDots = ivfCentroids.map { case (ci, c) =>
      val arr = "[" + c.mkString(", ") + "]"
      s"SELECT vec_id, $ci AS cluster, CAST(list_sum(list_transform(range(1, length(embedding) + 1), " +
        s"i -> CAST(round(CAST(embedding[i] AS DOUBLE) * ($arr)[i] * 1000000) AS BIGINT))) AS BIGINT) AS dot FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s,
       |    $bucketExpr AS bucket,
       |    CAST(list_sum(list_transform(range(1, 33),
       |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
       |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS lo,
       |    CAST(list_sum(list_transform(range(33, 65),
       |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
       |        THEN CAST(1 AS BIGINT) << (i - 33) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS hi
       |  FROM embeddings),
       |lshq AS (
       |  SELECT vec_id AS query_id, unnest($probeList) AS bucket
       |  FROM e WHERE vec_id < 10),
       |lshc AS (
       |  SELECT q.query_id, c.vec_id AS cand_id
       |  FROM e c JOIN lshq q ON c.bucket = q.bucket
       |  WHERE q.query_id <> c.vec_id),
       |cd AS (
       |  $clusterDots),
       |ranked AS (
       |  SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) AS rk
       |  FROM cd),
       |member AS (SELECT vec_id, cluster FROM ranked WHERE rk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cluster FROM ranked
       |  WHERE rk <= $IvfProbes AND vec_id < 10),
       |ivfc AS (
       |  SELECT p.query_id, m.vec_id AS cand_id
       |  FROM probes p JOIN member m ON m.cluster = p.cluster
       |  WHERE p.query_id <> m.vec_id),
       |ham AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
       |      AS BIGINT) AS hamming
       |  FROM e q, e c
       |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |binc AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY hamming, cand_id) AS rk
       |    FROM ham) WHERE rk <= $RescoreShortlist),
       |cands AS (
       |  SELECT DISTINCT query_id, cand_id FROM (
       |    SELECT * FROM lshc
       |    UNION ALL SELECT * FROM ivfc
       |    UNION ALL SELECT * FROM binc)),
       |rescored AS (
       |  SELECT cs.query_id, cs.cand_id,
       |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
       |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
       |  FROM cands cs
       |  JOIN e q ON q.vec_id = cs.query_id
       |  JOIN e c ON c.vec_id = cs.cand_id)
       |SELECT query_id, rank, cand_id, cosine FROM (
       |  SELECT query_id, cand_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rank
       |  FROM rescored) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "x30_neardup_lsh" -> x30NeardupLsh,
    "x1_dedup_exact" -> x1DedupExact,
    "x2_dedup_minhash" -> x2DedupMinhash,
    "x71_cross_corpus_dedup" -> x71CrossCorpusDedup,
    "x74_source_pagerank" -> x74SourcePagerank,
    "x79_containment" -> x79Containment,
    "x80_gram_novelty" -> x80GramNovelty,
    "x58_minhash_calibration" -> x58MinhashCalibration,
    "x6_dedup_simhash" -> x6DedupSimhash,
    "x7_ngram_jaccard" -> x7NgramJaccard,
    "x60_dup_spans" -> x60DupSpans,
    "x61_span_excise" -> x61SpanExcise,
    "x63_dedup_audit" -> x63DedupAudit,
    "x62_kmeans_assign" -> x62KmeansAssign,
    "x16_dup_clusters" -> x16DupClusters,
    "x22_dup_clusters_star" -> x22DupClustersStar,
    "x20_decontaminate" -> x20Decontaminate,
    "x34_decontaminate_bloom" -> x34DecontaminateBloom,
    "x23_kmeans_step" -> x23KmeansStep,
    "x59_kmeans_train" -> x59KmeansTrain,
    "x24_vocab_topk" -> x24VocabTopk,
    "x35_topk_sketch" -> x35TopkSketch,
    "x3_topk_similarity" -> x3TopkSimilarity,
    "x8_embedding_dedup" -> x8EmbeddingDedup,
    "x48_semantic_dedup" -> x48SemanticDedup,
    "x108_semantic_dedup_cells" -> x108SemanticDedupCells,
    "x52_quality_keeper" -> x52QualityKeeper,
    "x14_ann_lsh" -> x14AnnLsh,
    "x15_ann_ivf" -> x15AnnIvf,
    "x106_ivf_drift" -> x106IvfDrift,
    "x38_ann_pq" -> x38AnnPq,
    "x39_ann_ivfpq" -> x39AnnIvfPq,
    "x42_ann_pq_rescore" -> x42AnnPqRescore,
    "x43_ann_pq_trained" -> x43AnnPqTrained,
    "x44_ann_pq_serve" -> x44AnnPqServe,
    "x45_knn_graph" -> x45KnnGraph,
    "x46_ann_sq8" -> x46AnnSq8,
    "x102_ann_ensemble" -> x102AnnEnsemble,
    "x103_mutual_knn" -> x103MutualKnn,
    "x104_knn_label_audit" -> x104KnnLabelAudit,
    "x47_ann_graph_search" -> x47AnnGraphSearch,
    "x40_ann_filtered" -> x40AnnFiltered,
  )

  val oracleSql: Map[String, String] = Map(
    "x30_neardup_lsh" -> x30Sql,
    "x1_dedup_exact" -> x1Sql,
    "x2_dedup_minhash" -> x2Sql,
    "x71_cross_corpus_dedup" -> x71Sql,
    "x74_source_pagerank" -> x74Sql,
    "x79_containment" -> x79Sql,
    "x80_gram_novelty" -> x80Sql,
    "x58_minhash_calibration" -> x58Sql,
    "x6_dedup_simhash" -> x6Sql,
    "x7_ngram_jaccard" -> x7Sql,
    "x60_dup_spans" -> x60Sql,
    "x61_span_excise" -> x61Sql,
    "x63_dedup_audit" -> x63Sql,
    "x62_kmeans_assign" -> x62Sql,
    "x16_dup_clusters" -> x16Sql,
    "x22_dup_clusters_star" -> x16Sql, // identical labeling by design
    "x20_decontaminate" -> x20Sql,
    "x34_decontaminate_bloom" -> x20Sql, // identical result by construction
    "x23_kmeans_step" -> x23Sql,
    "x59_kmeans_train" -> x59Sql,
    "x24_vocab_topk" -> x24Sql,
    "x35_topk_sketch" -> x24Sql, // sketch is exact at this capacity/SF
    "x3_topk_similarity" -> x3Sql,
    "x8_embedding_dedup" -> x8Sql,
    "x48_semantic_dedup" -> x48Sql,
    "x108_semantic_dedup_cells" -> x108Sql,
    "x52_quality_keeper" -> x52Sql,
    "x14_ann_lsh" -> x14Sql,
    "x15_ann_ivf" -> x15Sql,
    "x106_ivf_drift" -> x106Sql,
    "x38_ann_pq" -> x38Sql,
    "x39_ann_ivfpq" -> x39Sql,
    "x42_ann_pq_rescore" -> x42Sql,
    "x43_ann_pq_trained" -> x43Sql,
    "x44_ann_pq_serve" -> x44Sql,
    "x45_knn_graph" -> x45Sql,
    "x46_ann_sq8" -> x46Sql,
    "x102_ann_ensemble" -> x102Sql,
    "x103_mutual_knn" -> x103Sql,
    "x104_knn_label_audit" -> x104Sql,
    "x47_ann_graph_search" -> x47Sql,
    "x40_ann_filtered" -> x40Sql,
  )
}
