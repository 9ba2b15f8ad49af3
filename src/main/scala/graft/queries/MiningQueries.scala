package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.PortableHash.{hex60, duckHex60}

/** Corpus-mining extensions past x68: string-similarity joins, phrase
  * mining, dimensionality reduction, and dedup-driven reweighting —
  * the operators a curation stack reaches for between "dedup" and
  * "train". All arithmetic is the repo-standard portable form
  * (integer counts, md5-derived randomness, `round(ln(...), 6)`) so
  * every key carries an exact DuckDB oracle.
  */
object MiningQueries {

  type QFn = (SparkSession, String) => DataFrame

  // -- x69: edit-distance similarity self-join ---------------------------

  /** x69 — ED≤1 string-similarity self-join over customer names by
    * deletion-neighborhood signatures (the FastSS construction): each
    * name emits itself plus its |name| single-character-deletion
    * variants; any two strings within Levenshtein distance 1 MUST share
    * a signature (substitution at i ⟹ both deletion-at-i variants
    * equal; insertion/deletion ⟹ the shorter string IS a deletion
    * variant of the longer), so the signature equi-join is a COMPLETE
    * candidate generator and the `levenshtein` refine makes the result
    * exact — no all-pairs comparison anywhere.
    *
    * Scale shape: the shuffle is by signature — (len+1) rows per name,
    * linear in the corpus — and signature groups are tiny for natural
    * name data, with the dedup skew guard ([[DedupQueries.bucketSelfJoin]])
    * sharding any boilerplate-hot signature in-plan. The refine is a
    * codegen'd `levenshtein` on candidate pairs only. At 100 TB this is
    * the canonical entity-resolution join: no candidate pair ever forms
    * across signatures, so cluster-wide cost is Σ|group|², not N². */
  val x69FuzzyJoin: QFn = (s, d) => {
    val names = Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // i = 0 keeps the identity signature; i = k deletes character k
    // deleting different characters of a run (e.g. the zero padding in
    // 'Customer#000000042') yields the SAME variant — dedup (id, sig)
    // up front or those duplicates multiply QUADRATICALLY in the join
    // (each bucket pair forms dup_a × dup_b candidate rows)
    // the join/dedup key is xxhash64(variant), not the variant string
    // (r15, guide §2.3 "narrower types"): the signature only decides
    // which names MEET — every surviving pair is re-verified by the
    // exact bounded-levenshtein filter below, and completeness is
    // unchanged (a true ≤1-edit pair shares a variant STRING, whose
    // hash collides with itself), so a stray 64-bit collision can only
    // add a candidate that the exact refine then drops. 8-byte keys
    // instead of ~25-char strings across the dedup + self-join
    // exchanges and the skew-guard window sort.
    val sigs = names
      .select(col("id"), col("name"),
        explode(expr("sequence(0, length(name))")).as("i"))
      .select(col("id"), col("name"),
        xxhash64(when(col("i") === 0, col("name"))
          .otherwise(concat(expr("substring(name, 1, i - 1)"),
            expr("substring(name, i + 1, length(name))")))).as("sig"))
    // NO per-(id, sig) dedup here (r15): deleting either of two equal
    // adjacent characters yields the same variant, so duplicates exist
    // but are rare and only duplicate candidate PAIRS — which the final
    // dropDuplicates collapses anyway. The early dedup paid a full
    // exchange of the variant stream to save a handful of cheap
    // bounded-levenshtein calls; removing it measured 18% faster paired
    // (4.18 -> 3.44 s).
    // NOTE (r15, measured negative result — do not retry): an ids-only
    // candidate join (names re-attached per side by id after a
    // dedup-first pass) was tried and measured 1.8× SLOWER paired
    // (5.04 vs 2.85 s): deletion-variant sigs collide at most len+1
    // times per pair, so the dup factor the early dedup removes is
    // tiny, while the two id join-backs add exchanges the short name
    // strings never cost. The names ride the self-join; joining/
    // deduping on the xxhash64'd variant (not the string) is the part
    // that measured faster and stays.
    val a = sigs.select(col("sig"), col("id").as("id_a"), col("name").as("name_a"))
    val b = sigs.select(col("sig"), col("id").as("id_b"), col("name").as("name_b"))
    // refine with the banded O(k·len) kernel, not the built-in O(len²)
    // full DP — exact for every decision the ≤1 filter makes
    val refined = DedupQueries.bucketSelfJoin(s, a, b, Seq("sig"))
      .where(col("id_a") < col("id_b"))
      .withColumn("edit_dist", graft.plans.SpatialFunctions
        .bounded_levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
      .where(col("edit_dist") <= 1)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
    // pin the pair-dedup width on measurably-small inputs (r16b, the
    // x83 finding): refined pairs are ~65% unique, so the partial
    // aggregate combines little and AQE coalesces the final dedup
    // exchange to a couple of fat tasks under the ~5 M-row stream;
    // estate-scale inputs skip the pin (gate reads relation stats).
    // NOTE (r16b, measured negative result — do not retry): splitting
    // the candidate join into a position-restricted (sig, i) self-join
    // + ident×del join (FastSS's exact match condition, which would cut
    // the ED-2 del_i×del_j waste) probed SLOWER at ×10 — 6.1 vs 3.7 s
    // candidates-only — the second join's exchanges cost more than the
    // ~2/3 candidate volume they remove; the variant-only join stays.
    // ALSO re-probed (r16b): x71's shared-window salt guard WITH the
    // r16b pins — 10.3 vs 9.7 s paired at ×10, still no win now that
    // the refine is cheap; selfAdaptive's per-side windows stay.
    // NOTE: + an eager checkpoint of the shared-window frame: 2.10–2.59 vs 2.20–2.79 s, a wash (sf0.1, 4 vCPUs).
    Tables.pinWidth(Tables.scanUnderfillsCores(names), refined,
        "id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .orderBy(col("id_a"), col("id_b"))
  }
  /** The oracle is the brute-force definition the signature join must
    * reproduce exactly (cross join is fine at oracle scale). */
  val x69Sql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
      |FROM customer a, customer b
      |WHERE a.c_custkey < b.c_custkey
      |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // -- x70: PMI collocation mining ---------------------------------------

  /** Minimum bigram count for a collocation candidate — cuts the output
    * to phrases with statistical support (the word2vec phrase-mining
    * threshold δ). */
  val PmiMinCount = 5

  /** x70 — pointwise-mutual-information collocation mining (the
    * word2vec/Mikolov phrase-detection preprocessing step): count word
    * bigrams and unigrams over the corpus token stream, then score
    * each frequent bigram by
    * `pmi = ln( p(ab) / (p(a)·p(b)) )` with `p(ab) = c_ab/N_bigrams`
    * and `p(w) = c_w/N_tokens`. High-PMI pairs are merged into phrase
    * tokens before tokenizer/embedding training.
    *
    * Scale shape: two map-side-combined counting aggregations (bigram,
    * unigram) — the only shuffles are by gram key, rows bounded by
    * vocab² and vocab. The unigram table is vocab-sized and broadcast
    * back onto the bigram table twice; the corpus-size scalars attach
    * as one-row broadcast cross joins (the declarative alternative to
    * a driver collect). Nothing ever shuffles per-token rows except
    * the two counting exchanges. */
  val x70PmiCollocations: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val uni = toks.select(explode(col("w")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val big = toks.where(size(col("w")) >= 2)
      .select(col("w"), explode(expr("sequence(0, size(w) - 2)")).as("i"))
      .select(expr("w[i]").as("wa"), expr("w[i+1]").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n_pair"))
    val nTok = uni.agg(sum(col("c_w")).as("n_tok"))
    val nBig = big.agg(sum(col("n_pair")).as("n_big"))
    big.where(col("n_pair") >= PmiMinCount)
      .join(broadcast(uni.select(col("w").as("wa"), col("c_w").as("c_a"))), "wa")
      .join(broadcast(uni.select(col("w").as("wb"), col("c_w").as("c_b"))), "wb")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBig))
      .select(col("wa"), col("wb"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("n_tok") * col("n_tok")
          / (col("n_big").cast("double") * col("c_a") * col("c_b"))), 6)
          .as("pmi"))
      .orderBy(col("wa"), col("wb"))
  }
  val x70Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |uni AS (
       |  SELECT u AS w, CAST(COUNT(*) AS BIGINT) AS c_w
       |  FROM (SELECT unnest(w) AS u FROM toks) GROUP BY u),
       |big AS (
       |  SELECT w[i] AS wa, w[i + 1] AS wb, CAST(COUNT(*) AS BIGINT) AS n_pair
       |  FROM (SELECT w, unnest(range(1, length(w))) AS i FROM toks
       |        WHERE length(w) >= 2)
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tok FROM uni),
       |totb AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_big FROM big)
       |SELECT wa, wb, n_pair,
       |  round(ln(CAST(n_pair AS DOUBLE) * n_tok * n_tok
       |    / (CAST(n_big AS DOUBLE) * ca.c_w * cb.c_w)), 6) AS pmi
       |FROM big JOIN uni ca ON ca.w = big.wa
       |JOIN uni cb ON cb.w = big.wb, tot, totb
       |WHERE n_pair >= $PmiMinCount
       |ORDER BY wa, wb""".stripMargin

  // -- x72: Johnson–Lindenstrauss random projection -----------------------

  /** Output dimensionality of the JL projection. */
  val JlDims = 16

  /** Input embedding dimensionality (the embeddings table contract). */
  val EmbDims = 64

  /** The ±1 projection matrix entry for (output dim i, input dim j) —
    * md5-derived so the SAME matrix is constructible in any engine
    * (here: computed once on the driver and baked into the plan as
    * literals; the oracle derives it in SQL from the same md5). */
  private def jlSign(i: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl_${i}_$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0
    else -1.0
  }

  /** The sign matrix, flat row-major (±1 bytes), shipped to executors
    * as ONE codegen reference object by [[graft.plans.JlProjectExpr]]. */
  private lazy val jlSigns: Array[Byte] =
    Array.tabulate(JlDims * EmbDims)(k =>
      jlSign(k / EmbDims, k % EmbDims).toByte)

  /** x72 — Johnson–Lindenstrauss random projection of the embedding
    * column to [[JlDims]] dims with a seeded ±1 (Achlioptas) matrix:
    * the standard cheap dimensionality reduction in front of clustering
    * or LSH when 64–1024-dim embeddings are too wide to shuffle. The
    * matrix entries are md5-derived, so the SAME matrix is
    * constructible in any engine; it rides the plan as one reference
    * object inside the native codegen'd [[graft.plans.JlProjectExpr]]
    * — no matrix table, no join, no UDF, and (unlike the earlier
    * unrolled-literal form) no dims×dims expression tree: the 16×64
    * unroll cost ~3 s of one-time Janino compilation and would be
    * outright un-compilable at 1024-dim embeddings.
    *
    * Scale shape: map-only — zero data shuffle (spec-pinned alongside
    * x27–x29); the one range exchange is the presentation sort. Long
    * form (vec_id, dim, value) costs a 16× posexplode; a training
    * pipeline that wants the wide row keeps the pre-explode array.
    * Each term integer-scales at 1e6 BEFORE summation (the dot_scaled
    * convention) — the sum is a Long, so its value is independent of
    * accumulation order and the oracle matches bit-exactly instead of
    * relying on both engines folding doubles in the same order. */
  val x72JlProjection: QFn = (s, d) => {
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(graft.plans.SpatialFunctions
        .jl_project(col("embedding"), jlSigns, JlDims)))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        (col("col").cast("double") / lit(1000000.0)).as("value"))
      .orderBy(col("vec_id"), col("dim"))
  }
  val x72Sql: String =
    s"""WITH sgn AS (
       |  SELECT i, j,
       |    CASE WHEN CAST('0x' || substr(md5(
       |        'jl_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)),
       |        1, 15) AS BIGINT) % 2 = 0
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sg
       |  FROM range(0, $JlDims) t1(i), range(0, $EmbDims) t2(j)),
       |e AS (
       |  SELECT vec_id, j, CAST(embedding[j + 1] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding, unnest(range(0, $EmbDims)) AS j
       |        FROM embeddings))
       |SELECT vec_id, CAST(i AS BIGINT) AS dim,
       |  CAST(SUM(CAST(round(x * sg * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / 1000000.0 AS value
       |FROM e JOIN sgn USING (j)
       |GROUP BY vec_id, i
       |ORDER BY vec_id, dim""".stripMargin

  // -- x73: soft-dedup reweighting ---------------------------------------

  /** x73 — soft deduplication (down-weighting instead of removal): every
    * document keeps a training weight `1 / |near-dup cluster|` from the
    * x16 clustering, so each duplicate CLUSTER contributes one
    * document's worth of gradient regardless of its copy count — the
    * reweighting alternative to hard removal when near-dups carry
    * complementary content. Singletons (docs in no near-dup pair) weigh
    * 1.0.
    *
    * Scale shape: x16 carries the clustering cost; this adds one
    * broadcast-sized join of per-cluster sizes back onto the corpus
    * id stream (cluster labels are ids-only rows). */
  val x73SoftDedupWeights: QFn = (s, d) => {
    val clusters = DedupQueries.x16DupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("cluster_size"), lit(1L)).cast("double"), 6)
          .as("weight"))
      .orderBy(col("doc_id"))
  }
  val x73Sql: String =
    s"""SELECT d.doc_id,
       |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       |  CAST(COALESCE(c.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  round(CAST(1.0 AS DOUBLE)
       |    / CAST(COALESCE(c.cluster_size, 1) AS DOUBLE), 6) AS weight
       |FROM documents d
       |LEFT JOIN (
       |  ${DedupQueries.x16Sql.replace("\n", "\n  ")}) c
       |  USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // -- x75: per-source dataset card --------------------------------------

  /** x75 — the per-source DATASET CARD / datasheet rollup (Gebru et
    * al.'s "Datasheets for Datasets" quantitative block): for every
    * source, document and token counts, language spread (distinct
    * langs + Shannon entropy of the language mix), and the near-dup
    * exposure (docs participating in any x7 pair, as count and
    * fraction) — the one-row-per-source summary a curation run
    * publishes next to its output corpus.
    *
    * Scale shape: two map-side-combined per-source aggregates over
    * narrow (source, lang, token-count) rows plus x7's pair table
    * collapsed to DISTINCT member ids before the source join — the
    * datasheet never shuffles text, and every join key is
    * source/doc_id. */
  val x75CorpusDatasheet: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    // spread before the per-doc regex token count (r16, guide §2.5);
    // keyed by doc_id — high-cardinality, so the spread is even (the
    // source rollup's partial aggregate stays map-side either way)
    val base = Tables.spreadSmallScan(docs, "doc_id")
      .select(col("source"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
    // NOTE (r15, measured negative result — do not retry): bySrc feeds
    // both the entropy chain and the final join, but checkpointing it
    // measured SLOWER paired (1.76 vs 1.56 s) — the duplicate scan
    // subtrees run as concurrent stages of one action and back-fill
    // idle cores; the eager barrier serializes (see x76's note).
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
    bySrc.join(ent, "source")
      .join(dup, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("lang_entropy"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast("double")
          / col("n_docs").cast("double"), 6).as("dup_frac"))
      .orderBy(col("source"))
  }
  lazy val x75Sql: String =
    s"""WITH ${DedupQueries.x7CteBody},
       |base AS (
       |  SELECT source, lang,
       |    CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS toks
       |  FROM documents),
       |bysrc AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM base GROUP BY source),
       |ent AS (
       |  SELECT lc.source,
       |    round(-SUM((CAST(c AS DOUBLE) / n_docs)
       |      * ln(CAST(c AS DOUBLE) / n_docs)), 6) AS lang_entropy
       |  FROM (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM base GROUP BY 1, 2) lc
       |  JOIN bysrc USING (source) GROUP BY lc.source),
       |dup AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_dup_docs
       |  FROM (SELECT DISTINCT doc_id FROM
       |        (SELECT doc_a AS doc_id FROM pairs
       |         UNION SELECT doc_b FROM pairs)) u
       |  JOIN documents d USING (doc_id) GROUP BY d.source)
       |SELECT b.source, n_docs, n_tokens, n_langs, lang_entropy,
       |  CAST(COALESCE(n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       |  round(CAST(COALESCE(n_dup_docs, 0) AS DOUBLE) / n_docs, 6)
       |    AS dup_frac
       |FROM bysrc b JOIN ent USING (source) LEFT JOIN dup USING (source)
       |ORDER BY source""".stripMargin

  // -- x77: per-source quality-score calibration -------------------------

  /** x77 — per-source quality calibration: x10's raw quality score is
    * NOT comparable across sources (each domain's boilerplate shifts
    * the scale), so production filters calibrate before applying one
    * global threshold. Two standard forms, both emitted: the in-source
    * PERCENTILE (percent_rank over the source stratum — CCNet applies
    * its perplexity cut this way) and the in-source Z-SCORE
    * ((score − source mean)/source stddev).
    *
    * Scale shape: one window + two windowed aggregates, all partitioned
    * by source — one shuffle of narrow (doc_id, score) rows, no global
    * sort anywhere (a GLOBAL percentile would be the classic
    * single-partition window trap; a global view would reuse x37's
    * mergeable histogram instead). */
  val x77QualityQnorm: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val q = TextQueries.x10QualityScore(s, d)
      .select(col("doc_id"), col("quality_score"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val wS = Window.partitionBy(col("source"))
      .orderBy(col("quality_score"), col("doc_id"))
    val wA = Window.partitionBy(col("source"))
    q.join(src, "doc_id")
      .withColumn("pct_in_source", round(percent_rank().over(wS), 6))
      .withColumn("src_mean", avg(col("quality_score")).over(wA))
      .withColumn("src_std", stddev_pop(col("quality_score")).over(wA))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("pct_in_source"),
        round(col("src_mean"), 6).as("src_mean"),
        round(col("src_std"), 6).as("src_std"),
        round(when(col("src_std") > 0,
          (col("quality_score") - col("src_mean")) / col("src_std"))
          .otherwise(lit(0.0)), 6).as("z_score"))
      .orderBy(col("doc_id"))
  }
  lazy val x77Sql: String =
    s"""WITH q AS (${TextQueries.x10Sql}),
       |j AS (
       |  SELECT q.doc_id, d.source, q.quality_score
       |  FROM q JOIN documents d USING (doc_id)),
       |w AS (
       |  SELECT doc_id, source, quality_score,
       |    round(percent_rank() OVER (PARTITION BY source
       |      ORDER BY quality_score, doc_id), 6) AS pct_in_source,
       |    AVG(quality_score) OVER (PARTITION BY source) AS m,
       |    stddev_pop(quality_score) OVER (PARTITION BY source) AS sd
       |  FROM j)
       |SELECT doc_id, source, quality_score, pct_in_source,
       |  round(m, 6) AS src_mean, round(sd, 6) AS src_std,
       |  round(CASE WHEN sd > 0 THEN (quality_score - m) / sd
       |             ELSE 0.0 END, 6) AS z_score
       |FROM w ORDER BY doc_id""".stripMargin

  // -- x78: seeded deterministic corpus shuffle --------------------------

  /** Shard count for the seeded shuffle (the number of output training
    * files a run writes). */
  val ShuffleShards = 8

  /** x78 — seeded DETERMINISTIC corpus shuffle: every training run
    * needs the corpus in a reproducible pseudo-random order,
    * partitioned into a fixed number of shards (the "shuffle then
    * shard" step before sequence packing). Order is the portable hash
    * of the salted doc id — reshuffling is a salt change, and any
    * engine (or the oracle) derives the identical permutation.
    *
    * Scale shape: hash + shard assignment are map-only column math;
    * the one shuffle is the row_number window partitioned by shard —
    * each shard sorts independently (no global sort), and shard count
    * scales with output file targets, not corpus size. */
  /** The seeded shuffle-then-shard recipe itself, over any frame with
    * a doc_id — ONE definition shared by the x78 key and
    * [[graft.CorpusPipeline]]'s publish stage, so the oracle-checked
    * recipe and the pipeline stage cannot silently drift. Adds
    * (shard, shard_pos). */
  def shuffleShardCols(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_h"), col("doc_id"))
    df.withColumn("shuffle_h",
        expr(hex60("concat('shuf:', CAST(doc_id AS STRING))")))
      .withColumn("shard", (col("shuffle_h") % ShuffleShards).cast("long"))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .drop("shuffle_h")
  }

  val x78SeededShuffle: QFn = (s, d) =>
    shuffleShardCols(Tables.documents(s, d).select(col("doc_id")))
      .select(col("doc_id"), col("shard"), col("shard_pos").as("pos"))
      .orderBy(col("doc_id"))
  val x78Sql: String =
    s"""SELECT doc_id, CAST(h % $ShuffleShards AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY h % $ShuffleShards
       |    ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM (SELECT doc_id,
       |  ${duckHex60("'shuf:' || CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // -- x76: DoReMi-style domain reweighting ------------------------------

  /** x76 — DoReMi-shaped domain reweighting (Xie et al. 2023): each
    * source's mixture weight is its token mass boosted by
    * `exp(excess loss)`, where excess = corpus-average bigram-LM
    * log-prob minus the domain average (x53's scorer standing in for
    * the proxy model) — domains the reference model finds HARD get
    * up-weighted, exactly DoReMi's Group-DRO update at one step, then
    * normalized to a distribution. x50 plans a mixture from FIXED
    * target shares; this LEARNS the shares from measured hardness.
    *
    * Scale shape: x53 does the per-doc work (vocab²-bounded shuffles);
    * this adds one ids-only source join, one per-domain aggregate
    * (rows = domains), and two one-row scalar attaches — everything
    * past the scorer is domain-cardinality, not corpus-cardinality. */
  val x76DoremiWeights: QFn = (s, d) => {
    val scores = TextQueries.x53LmScore(s, d)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // NOTE (r15, measured negative result — do not retry): dom is
    // consumed by four plan paths (tot, ex, z, final), each re-running
    // the x53 scoring join, but checkpointing it here measured SLOWER
    // paired (1.75 vs 1.49 s): the duplicated subtrees execute as
    // concurrent stages/broadcast threads of ONE action and back-fill
    // idle cores, while an eager checkpoint serializes an extra job
    // ahead of them. (Contrast x7Scored/x58/spanRuns, where the shared
    // subtree contains the quadratic pair join — there the barrier
    // wins; here the subtree is one scan + broadcast-joined scoring.)
    val dom = scores.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("sum_logp_s")).as("sum_logp_s"))
    val tot = dom.agg(sum(col("sum_logp_s")).as("t_lp"),
      sum(col("n_bigrams")).as("t_nb"))
    // x53's log-probs are integer-scaled by 1e6 — unscale to natural
    // log units BEFORE the exponential (exp of a micro-scaled excess
    // overflows to Inf)
    val ex = dom.crossJoin(broadcast(tot))
      .withColumn("excess",
        (col("t_lp").cast("double") / col("t_nb").cast("double")
          - col("sum_logp_s").cast("double") / col("n_bigrams").cast("double"))
          / lit(1000000.0))
    val z = ex.agg(sum(col("n_bigrams").cast("double") * exp(col("excess")))
      .as("z"))
    ex.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        round(col("sum_logp_s").cast("double")
          / col("n_bigrams").cast("double") / lit(1000000.0), 6)
          .as("avg_logp"),
        round(col("excess"), 6).as("excess"),
        round(col("n_bigrams").cast("double") * exp(col("excess"))
          / col("z"), 6).as("weight"))
      .orderBy(col("source"))
  }
  val x76Sql: String =
    s"""WITH ${TextQueries.x53CteBody},
       |dom AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(s.n_bigrams) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(s.sum_logp_s) AS BIGINT) AS sum_logp_s
       |  FROM lmscore s JOIN documents d USING (doc_id)
       |  GROUP BY d.source),
       |tot AS (SELECT CAST(SUM(sum_logp_s) AS BIGINT) AS t_lp,
       |               CAST(SUM(n_bigrams) AS BIGINT) AS t_nb FROM dom),
       |ex AS (
       |  SELECT dom.*, (CAST(t_lp AS DOUBLE) / t_nb
       |    - CAST(sum_logp_s AS DOUBLE) / n_bigrams) / 1000000.0 AS excess
       |  FROM dom CROSS JOIN tot),
       |z AS (SELECT SUM(n_bigrams * exp(excess)) AS z FROM ex)
       |SELECT source, n_docs, n_bigrams,
       |  round(CAST(sum_logp_s AS DOUBLE) / n_bigrams / 1000000.0, 6)
       |    AS avg_logp,
       |  round(excess, 6) AS excess,
       |  round(n_bigrams * exp(excess) / z, 6) AS weight
       |FROM ex CROSS JOIN z
       |ORDER BY source""".stripMargin

  // -- x81: per-source boilerplate line removal --------------------------

  /** A span is boilerplate within its source when at least this many
    * DISTINCT documents of that source contain it. */
  val BoilerMinDocs = 2

  /** x81 — per-source boilerplate detection (the CCNet/jusText shape):
    * a line that recurs across documents OF THE SAME SOURCE is template
    * chrome (headers, footers, nav), not content — distinct from x26's
    * corpus-wide keep-first line dedup, which would KEEP the first copy
    * of a footer; here every occurrence of a high-DF-within-source line
    * is flagged. Output is the per-doc audit (span count, boilerplate
    * span count, fraction) a curation stage filters or rewrites on.
    * Segmentation is THE shared [[TextQueries.segmentSpans]] recipe.
    *
    * Scale shape: two shuffles, both keyed by (source, line_h) — the
    * DF aggregation (map-side combined, distinct-doc counting collapses
    * per partition first) and the flag join. The boilerplate side of
    * the join has at most one row per key, so a hot span fans out only
    * to its probe-side occurrences (no row explosion; AQE handles
    * probe-side skew). Nothing corpus-wide ever broadcasts. */
  val x81Boilerplate: QFn = (s, d) => {
    val segs = TextQueries.segmentSpans(
        Tables.documents(s, d), carry = Seq("source"))
      .select(col("doc_id"), col("source"), col("line_h"))
    val boiler = segs.groupBy(col("source"), col("line_h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= BoilerMinDocs)
      .select(col("source"), col("line_h"), lit(1L).as("is_boiler"))
    segs.join(boiler, Seq("source", "line_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler_lines"),
        (col("n_boiler_lines").cast("double") / col("n_lines").cast("double"))
          .as("boiler_fraction"))
      .orderBy(col("doc_id"))
  }
  val x81Sql: String = {
    val lw = TextQueries.LineWords
    s"""WITH segs AS (
       |  SELECT doc_id, source,
       |    ${PortableHash.duckHex60(
              s"array_to_string(list_slice(w, seg * $lw + 1, seg * $lw + $lw), ' ')")} AS line_h
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w,
       |          unnest(range(0, (length(string_split(text, ' ')) - 1) // $lw + 1)) AS seg
       |        FROM documents
       |        WHERE length(string_split(text, ' ')) >= 1)),
       |boiler AS (
       |  SELECT source, line_h FROM (
       |    SELECT source, line_h, COUNT(DISTINCT doc_id) AS n_docs
       |    FROM segs GROUP BY source, line_h)
       |  WHERE n_docs >= $BoilerMinDocs)
       |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CASE WHEN b.line_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_boiler_lines,
       |  CAST(SUM(CASE WHEN b.line_h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS boiler_fraction
       |FROM segs s LEFT JOIN boiler b
       |  ON s.source = b.source AND s.line_h = b.line_h
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  // -- x82: retrieval quality evaluation (MRR / precision@k) -------------

  /** Cut-off k for the retrieval metrics. */
  val EvalK = 10

  /** x82 — retrieval EVALUATION: given label-relevance ground truth
    * (a candidate is relevant to a query iff it shares the query's
    * label — the standard proxy qrels on an embedded corpus), run the
    * exact brute-force cosine top-[[EvalK]] per query and score it with
    * the two workhorse IR metrics: reciprocal rank of the first
    * relevant hit (integer-scaled, exact) and precision@k. This is the
    * measurement harness every ANN family (x14/x15/x38…x47) is tuned
    * against, expressed as a first-class operator.
    *
    * Scale shape: identical to x3 — queries broadcast, candidates
    * stream through the primitive dot kernel, a k-bounded per-query
    * heap ([[graft.operators.BoundedTopK]]) caps the selection shuffle
    * at partitions × queries × k rows; the metric rollup then touches
    * queries × k rows only. */
  val x82RetrievalEval: QFn = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, lab, e) => (id, lab, e.map(_.toDouble)) }
    val queries = s.sparkContext.broadcast(
      emb.filter(_._1 < 10).collect().sortBy(_._1)
        .map { case (id, lab, e) => (id, lab, e, DedupQueries.normScaled(e)) })
    val scored = emb.mapPartitions { it =>
      val qs = queries.value
      val rows = it.flatMap { case (cid, clab, ce) =>
        lazy val cn = DedupQueries.normScaled(ce)
        qs.iterator.collect { case (qid, qlab, qe, qn) if qid != cid =>
          (qid, qlab, cid, clab,
            DedupQueries.dotScaled(qe, ce) / (math.sqrt(qn) * math.sqrt(cn)))
        }
      }
      graft.operators.BoundedTopK.perQuery(rows, EvalK,
        (r: (Long, Int, Long, Int, Double)) => r._1)(
        Ordering.fromLessThan { (x, y) =>
          x._5 > y._5 || (x._5 == y._5 && x._3 < y._3)
        })
    }.toDF("query_id", "q_label", "cand_id", "c_label", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= EvalK)
      .groupBy(col("query_id"), col("q_label"))
      .agg(min(when(col("c_label") === col("q_label"), col("rank"))).as("frr"),
        sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_rel_at_k"))
      .select(col("query_id"), col("q_label").cast("long").as("q_label"),
        coalesce(col("frr"), lit(0)).cast("long").as("first_rel_rank"),
        coalesce(expr("1000000 DIV frr"), lit(0L)).cast("long").as("rr_scaled"),
        col("n_rel_at_k"),
        (col("n_rel_at_k").cast("double") / lit(EvalK.toDouble)).as("p_at_k"))
      .orderBy(col("query_id"))
  }
  val x82Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS q_label,
       |    c.vec_id AS cand_id, c.label AS c_label,
       |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
       |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(q.norm_s) * sqrt(c.norm_s)) AS cosine
       |  FROM e q, e c
       |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |top AS (
       |  SELECT query_id, q_label, c_label,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(q_label AS BIGINT) AS q_label,
       |  CAST(COALESCE(MIN(CASE WHEN c_label = q_label THEN rank END), 0)
       |    AS BIGINT) AS first_rel_rank,
       |  CAST(COALESCE(1000000 // MIN(CASE WHEN c_label = q_label THEN rank END), 0)
       |    AS BIGINT) AS rr_scaled,
       |  CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_rel_at_k,
       |  CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST($EvalK AS DOUBLE) AS p_at_k
       |FROM top WHERE rank <= $EvalK
       |GROUP BY query_id, q_label
       |ORDER BY query_id""".stripMargin

  // -- x83: triangle counting on the co-occurrence graph -----------------

  /** Minimum distinct co-occurrences for a co-occurrence edge — the
    * association-mining SUPPORT threshold. One shared order between two
    * random parts is noise; requiring ≥2 keeps genuinely associated
    * pairs and (measured) collapses the sf0.1 graph from 1.2 M edges
    * to 3.6 k. */
  val TriMinSupport = 2

  /** Session-unique suffix for x83's key-bound Observation names. */
  private val x83ObsEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** x83 — triangle count over the part co-occurrence graph (an edge
    * joins two parts appearing together in ≥ [[TriMinSupport]] distinct
    * orders): the classic graph statistic behind clustering-coefficient
    * and community analysis of the near-dup or co-citation graphs a
    * curation stack builds. Counted by DEGREE-ORDERED ORIENTATION (each
    * undirected edge directed from its lower-(degree, id) endpoint),
    * the MapReduce-era standard: every wedge is enumerated at its
    * lowest-degree vertex, so per-vertex wedge work is bounded by
    * out-degree ≤ O(√m) instead of the raw degree — a hub of degree 10⁶
    * contributes √-bounded wedges, not 10¹² — and each triangle is
    * found exactly once (no ÷3, no ÷6).
    *
    * Scale shape: pair generation is per-order local (order groups are
    * small by schema) and the support cut happens IN the pair aggregate
    * — the unsupported 1.2 M-edge noise never becomes graph input; the
    * wedge self-join shuffles oriented edges by source; the closing
    * check is an edge-keyed semi-join. No step is ever quadratic in a
    * vertex's raw degree. */
  val x83TriangleCount: QFn = (s, d) => {
    // Per-order part sets in ONE exchange (r15, guide §2.3/§2.4): the
    // old shape paid a (okey, part) distinct exchange plus a self-join
    // on okey; collect_set dedups inside the group, so one hash(okey)
    // aggregate replaces both, and the sorted array enumerates each
    // unordered pair once (i < j ⇔ u < v) in the same codegen stage.
    // Order groups are small by schema, so slice-per-position is
    // linear-ish per order and never quadratic in a vertex's degree.
    // pin the okey exchange width when the input is small (r16, guide
    // §2.5): AQE's byte-based coalescing prices the exchange by its
    // INPUT bytes and collapsed the partition count under the exploding
    // pair stage above it (the part sets fan out ~8× into pair rows) —
    // measured 14.7 → 7.1 s on the ×10 bench.
    // The explicit-width repartition is reused by the groupBy (same
    // key), so no extra exchange exists below it; large inputs skip
    // the pin and keep their natural parallelism.
    val pairsIn = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
    // one gate decision for every pin in this query (driver-side
    // relation stats, no job): false at estate scale, so both pins
    // below vanish and the r15 plan shape is untouched
    val smallScan = Tables.scanUnderfillsCores(pairsIn)
    val parts = Tables.pinWidth(smallScan, pairsIn, "okey")
      .groupBy(col("okey"))
      .agg(sort_array(collect_set(col("part"))).as("ps"))
    def pairStream(p: org.apache.spark.sql.DataFrame) = p
      .select(col("ps"), posexplode(col("ps")))
      .select(col("col").as("u"),
        explode(expr("slice(ps, pos + 2, size(ps))")).as("v"))
    // pack the pair into ONE long for the support aggregate (r15,
    // guide §2.3 narrower types): (u << 32) | v is injective iff both
    // keys sit in [0, 2^32) — the hash aggregate then keys/compares one
    // long instead of two, measured 19% off the edges stage (probe
    // 2.44 -> 1.99 s); unpacked right after, downstream consumers see
    // the same (u, v) edges.
    //
    // GUARD (r16, VERDICT r15 #1): l_partkey is int64 in the parquet
    // schema, so "fits 32 bits" is a data fact at current SFs, not a
    // type guarantee — at TPC-H-style 100 TB SFs partkey exceeds 2^32
    // and the packed key would silently merge distinct pairs. The key
    // bound is MEASURED, not assumed: an Observation on the per-order
    // part sets (min = first, max = last element of the sorted array)
    // rides the packed aggregate's checkpoint materialization — zero
    // extra jobs below the bound — and if the observed range escapes
    // [0, 2^32) the packed result is discarded and the edge aggregate
    // reruns with the unpacked two-column key (bit-identical support
    // counts, no packing anywhere). TriGuardSpec exercises the fallback
    // with >2^32 keys.
    val obs = org.apache.spark.sql.Observation(
      s"x83_keys_${x83ObsEpoch.incrementAndGet()}")
    // pin the SUPPORT aggregate's width too (r16b, guide §2.5): the
    // pair keys are ~99.7% unique, so the partial aggregate combines
    // nothing and AQE prices the final agg's exchange at its full ~12 M
    //-row payload — then coalesces it to a few fat tasks (measured ×10:
    // edges 8.0 → 2.3 s with the explicit-width uv exchange; the
    // partial/final pair fuses into the stage behind it)
    val packed = Tables.pinWidth(smallScan, pairStream(parts.observe(obs,
        min(element_at(col("ps"), 1)).as("mn"),
        max(element_at(col("ps"), -1)).as("mx")))
      .select((shiftleft(col("u").cast("long"), 32)
        .bitwiseOR(col("v").cast("long"))).as("uv")), "uv")
      .groupBy(col("uv")).agg(count(lit(1)).as("support"))
      .where(col("support") >= TriMinSupport)
      .select(shiftright(col("uv"), 32).as("u"),
        col("uv").bitwiseAND(lit(4294967295L)).as("v"))
      // support >= 2 collapses the graph ~300× (1.2 M candidate pairs →
      // 3.6 k edges at sf0.1); checkpointing here lets every downstream
      // consumer (degrees, orientation, wedge join, closing semi-join,
      // the two count scalars) broadcast-join tiny frames instead of
      // re-running the lineitem aggregation per consumer.
      .localCheckpoint(true)
    val om = obs.get
    val keysFit32 = om("mn") == null ||
      (om("mn").asInstanceOf[Long] >= 0L &&
        om("mx").asInstanceOf[Long] < 4294967296L)
    val edges = if (keysFit32) packed
      else Tables.pinWidth(smallScan, pairStream(parts), "u", "v")
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
        .where(col("support") >= TriMinSupport)
        .select(col("u"), col("v"))
        .localCheckpoint(true)
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    // orient low-(deg, id) -> high-(deg, id); u < v always, so ties in
    // degree orient by id
    val oriented = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv")), col("u"))
        .otherwise(col("v")).as("src"),
      when(col("du") < col("dv") || (col("du") === col("dv")), col("v"))
        .otherwise(col("u")).as("dst"),
      when(col("du") < col("dv") || (col("du") === col("dv")), col("dv"))
        .otherwise(col("du")).as("ddst"))
    val wedges = oriented.as("e1").join(oriented.as("e2"), "src")
      .where(col("e1.ddst") < col("e2.ddst") ||
        (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst")))
      .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
    val tri = wedges.join(oriented.select("src", "dst"), Seq("src", "dst"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }
  val x83Sql: String =
    s"""WITH op AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
      |edges AS (
      |  SELECT u, v FROM (
      |    SELECT a.part AS u, b.part AS v, COUNT(*) AS support
      |    FROM op a JOIN op b USING (okey) WHERE a.part < b.part
      |    GROUP BY a.part, b.part)
      |  WHERE support >= $TriMinSupport)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
      |    (SELECT u AS n FROM edges UNION SELECT v FROM edges)) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
      |  (SELECT CAST(COUNT(*) AS BIGINT)
      |   FROM edges e1
      |   JOIN edges e2 ON e2.u = e1.v
      |   JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin

  // -- x84: integer batch-perceptron quality classifier ------------------

  /** Batch-perceptron training rounds. */
  val PerceptronRounds = 3

  /** x84 — TRAINED quality/language classifier, the fastText-style
    * "reference vs web" discriminator of the LLaMA/CCNet pipelines, as
    * an integer-exact batch perceptron: y = +1 for English documents,
    * features x = (1, n_words, n_chars, n_'e'), and each round applies
    * the batch update w ← w + Σ_{yᵢ(w·xᵢ)≤0} yᵢxᵢ. All arithmetic is
    * Long-exact, so — like the x59 Lloyd loop — the oracle can REPLAY
    * training round by round as unrolled CTEs and hash-match the
    * weights bit-for-bit.
    *
    * Scale shape: each round is ONE map-side-combined aggregation over
    * the corpus producing a single 5-long row (the feature-sum deltas +
    * misclassified count); the weight vector lives on the driver,
    * bounded by rounds × features — the exact shape of distributed
    * linear-model training (parameter broadcast down, gradient sums
    * up). The feature frame is computed once and persisted across
    * rounds. */
  /** The shared feature frame: (source, y, f0..f3) — x84 trains on it,
    * x93 evaluates on it. */
  private def perceptronFeats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("source"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      lit(1L).as("f0"),
      size(split(col("text"), " ")).cast("long").as("f1"),
      length(col("text")).cast("long").as("f2"),
      (length(col("text")) - length(translate(col("text"), "e", "")))
        .cast("long").as("f3"))

  /** Run the batch-perceptron rounds; returns (final weights, per-round
    * audit rows). One bounded 5-long collect per round. */
  private def perceptronTrain(s: SparkSession, d: String)
      : (Array[Long], Seq[(Long, Long, Long, Long)]) = {
    val feats = perceptronFeats(s, d)
    feats.persist()
    try {
      val w = Array(0L, 0L, 0L, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      for (r <- 1 to PerceptronRounds) {
        val margin = col("y") * (lit(w(0)) * col("f0") + lit(w(1)) * col("f1")
          + lit(w(2)) * col("f2") + lit(w(3)) * col("f3"))
        val row = feats.agg(
          sum(when(margin <= 0, col("y") * col("f0")).otherwise(0L)).as("s0"),
          sum(when(margin <= 0, col("y") * col("f1")).otherwise(0L)).as("s1"),
          sum(when(margin <= 0, col("y") * col("f2")).otherwise(0L)).as("s2"),
          sum(when(margin <= 0, col("y") * col("f3")).otherwise(0L)).as("s3"),
          sum(when(margin <= 0, 1L).otherwise(0L)).as("n_mis"))
          .collect()(0)
        val nMis = row.getLong(4)
        for (j <- 0 to 3) w(j) += row.getLong(j)
        for (j <- 0 to 3) out += ((r.toLong, j.toLong, w(j), nMis))
      }
      (w, out.toSeq)
    } finally feats.unpersist()
  }

  val x84PerceptronQuality: QFn = (s, d) => {
    import s.implicits._
    perceptronTrain(s, d)._2.toDF("round", "widx", "weight", "n_mis")
      .orderBy(col("round"), col("widx"))
  }
  /** The shared oracle CTE chain: feats + w0 + the unrolled training
    * rounds (w[[PerceptronRounds]] = final weights). x84 selects the
    * per-round audit from it, x93 the final-weight evaluation. */
  private def perceptronCtes: String = {
    val dot = (p: String) =>
      s"($p.w0 * f0 + $p.w1 * f1 + $p.w2 * f2 + $p.w3 * f3)"
    val rounds = (1 to PerceptronRounds).map { r =>
      val prev = s"w${r - 1}"
      val sums = (0 to 3).map(j =>
        s"""CAST(SUM(CASE WHEN y * ${dot("p")} <= 0 THEN y * f$j ELSE 0 END) AS BIGINT) AS s$j""")
        .mkString(",\n    ")
      s"""d$r AS (
         |  SELECT $sums,
         |    CAST(SUM(CASE WHEN y * ${dot("p")} <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mis
         |  FROM feats CROSS JOIN $prev p),
         |w$r AS (
         |  SELECT p.w0 + d.s0 AS w0, p.w1 + d.s1 AS w1,
         |         p.w2 + d.s2 AS w2, p.w3 + d.s3 AS w3, d.n_mis
         |  FROM $prev p CROSS JOIN d$r d)""".stripMargin
    }.mkString(",\n")
    s"""feats AS (
       |  SELECT source, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
       |              ELSE CAST(-1 AS BIGINT) END AS y,
       |    CAST(1 AS BIGINT) AS f0,
       |    CAST(length(string_split(text, ' ')) AS BIGINT) AS f1,
       |    CAST(length(text) AS BIGINT) AS f2,
       |    CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS f3
       |  FROM documents),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
       |$rounds""".stripMargin
  }

  val x84Sql: String = {
    val finalSel = (1 to PerceptronRounds).flatMap { r =>
      (0 to 3).map(j =>
        s"SELECT CAST($r AS BIGINT) AS round, CAST($j AS BIGINT) AS widx, " +
          s"CAST(w$j AS BIGINT) AS weight, n_mis FROM w$r")
    }.mkString("\nUNION ALL\n")
    s"""WITH $perceptronCtes
       |$finalSel
       |ORDER BY round, widx""".stripMargin
  }

  // -- x93: classifier evaluation (per-source confusion matrix) ----------

  /** x93 — the evaluation report for x84's trained classifier: apply
    * the final-round weights (prediction = sign(w·x), ties to −1) and
    * roll up the confusion matrix PER SOURCE — the per-domain error
    * analysis (which crawl sources the language/quality filter
    * misfires on) every production filter ships next to its weights.
    * Train → evaluate closes the classifier lifecycle the same way
    * x43 → x44 closes PQ's.
    *
    * Scale shape: training is x84's bounded per-round aggregates; the
    * evaluation is ONE map-side-combined per-source aggregate over the
    * feature stream — weights ride the plan as literals, nothing joins.
    * All counts are Longs; the oracle replays training through the
    * same unrolled CTEs and scores with w[[PerceptronRounds]]. */
  val x93PerceptronEval: QFn = (s, d) => {
    val w = perceptronTrain(s, d)._1
    val score = lit(w(0)) * col("f0") + lit(w(1)) * col("f1") +
      lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
    perceptronFeats(s, d)
      .withColumn("pred", when(score > 0, 1L).otherwise(-1L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === -1 && col("pred") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === -1 && col("pred") === -1, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1 && col("pred") === -1, 1L).otherwise(0L)).as("fn"))
      .orderBy(col("source"))
  }
  val x93Sql: String =
    s"""WITH $perceptronCtes,
       |scored AS (
       |  SELECT source, y,
       |    CASE WHEN w.w0 * f0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3 > 0
       |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS pred
       |  FROM feats CROSS JOIN w$PerceptronRounds w)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(SUM(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(SUM(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |  CAST(SUM(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |FROM scored GROUP BY source
       |ORDER BY source""".stripMargin

  // -- x85: column profiler ----------------------------------------------

  /** x85 — one-pass column profiler (the data-quality sweep run before
    * any corpus lands in the warehouse): per numeric column of
    * `lineitem`, row/null/distinct counts and integer-scaled min/max.
    * Monetary columns scale ×100 (exact cents), so every statistic is
    * a BIGINT and hash-comparable across engines.
    *
    * Scale shape: a single aggregation; the multi-column exact
    * COUNT(DISTINCT) expands the input (one replica per profiled
    * column — the exact-answer trade, x5's HLL sketch is the
    * one-replica approximate path), but partial aggregation collapses
    * each replica map-side before the one exchange. Long-form output
    * is a 6-row explode of the single result row. */
  val x85ColumnProfile: QFn = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey").cast("long").as("okey"),
      col("l_partkey").cast("long").as("pkey"),
      col("l_suppkey").cast("long").as("skey"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice") * 100).cast("long").as("eprice"),
      round(col("l_discount") * 100).cast("long").as("disc"))
    val cols = Seq("okey", "pkey", "skey", "qty", "eprice", "disc")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_dist"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"), col("n_rows"),
          col(s"${c}_nulls").as("n_nulls"), col(s"${c}_dist").as("n_distinct"),
          col(s"${c}_min").as("min_s"), col(s"${c}_max").as("max_s"))
      }: _*)).as("r"))
      .select(col("r.col_name"), col("r.n_rows"), col("r.n_nulls"),
        col("r.n_distinct"), col("r.min_s"), col("r.max_s"))
      .orderBy(col("col_name"))
  }
  val x85Sql: String = {
    val defs = Seq(
      "okey" -> "CAST(l_orderkey AS BIGINT)",
      "pkey" -> "CAST(l_partkey AS BIGINT)",
      "skey" -> "CAST(l_suppkey AS BIGINT)",
      "qty" -> "CAST(round(l_quantity) AS BIGINT)",
      "eprice" -> "CAST(round(l_extendedprice * 100) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 100) AS BIGINT)")
    defs.map { case (n, e) =>
      s"""SELECT '$n' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $e IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $e) AS BIGINT) AS n_distinct,
         |  CAST(MIN($e) AS BIGINT) AS min_s, CAST(MAX($e) AS BIGINT) AS max_s
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  // -- x86: winnowing fingerprints (MOSS) --------------------------------

  /** Winnowing gram width (words per k-gram). */
  val WinnowK = 3
  /** Winnowing window: one fingerprint selected per [[WinnowW]]
    * consecutive gram hashes. */
  val WinnowW = 4

  /** x86 — winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
    * the MOSS algorithm): hash every [[WinnowK]]-word gram, slide a
    * [[WinnowW]]-gram window, keep each window's MINIMUM hash. The
    * guarantee x12's "every n-th gram" sampling lacks: any shared run
    * of ≥ w+k-1 words between two documents is CAUGHT (some window
    * inside the run selects the same fingerprint in both), at an
    * expected density of 2/(w+1) — the local-sampling property
    * plagiarism/overlap detection at corpus scale rests on. Output is
    * the distinct (doc, fingerprint) set, the joinable artifact.
    *
    * Scale shape: one hash exchange (the per-doc window sort) + the
    * distinct's exchange over ~n/w selected rows per doc; grams never
    * leave their document, no pair join anywhere — overlap detection
    * downstream is a fingerprint equi-join. Ties inside a window are
    * harmless by construction: the SELECTED VALUE is the min hash, so
    * both engines emit the same fingerprint no matter which position
    * carried it. */
  val x86Winnowing: QFn = (s, d) => {
    // NOTE (r15, measured negative result — do not retry): computing
    // the whole selection per-document with array HOFs (transform over
    // gram hashes + array_min over the sliding window + array_distinct,
    // zero pre-sort exchanges) measured 2.5× SLOWER paired (1.89 vs
    // 0.77 s): higher-order functions are CodegenFallback, so the md5
    // gram hash runs INTERPRETED per element while this window shape
    // keeps it whole-stage-codegen'd; the doc-keyed window exchange it
    // saves is the cheaper side of that trade at any SF (the hash cost
    // scales with the same token count the shuffle does).
    import org.apache.spark.sql.expressions.Window
    // spread before the slice/hash explode; the doc-keyed window below
    // REUSES this explicit exchange (same key, pinned width), so the
    // per-token work never collapses onto one task (r16, guide §2.4/2.5)
    val grams = Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= WinnowK)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(w) - $WinnowK)")).as("pos"), col("w"))
      .select(col("doc_id"), col("pos"),
        expr(s"concat_ws(' ', slice(w, pos + 1, $WinnowK))").as("gram"))
      .withColumn("gram_h", expr(PortableHash.hex60("gram")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(WinnowW - 1), 0)
    grams.withColumn("fp_h", min(col("gram_h")).over(win))
      .where(col("pos") >= WinnowW - 1)
      .select(col("doc_id"), col("fp_h")).distinct()
      .orderBy(col("doc_id"), col("fp_h"))
  }
  val x86Sql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, seg AS pos,
       |    ${PortableHash.duckHex60(
            s"array_to_string(list_slice(w, seg + 1, seg + $WinnowK), ' ')")} AS gram_h
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
       |          unnest(range(0, length(string_split(text, ' ')) - $WinnowK + 1)) AS seg
       |        FROM documents
       |        WHERE length(string_split(text, ' ')) >= $WinnowK)),
       |sel AS (
       |  SELECT doc_id, pos,
       |    MIN(gram_h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS fp_h
       |  FROM grams)
       |SELECT DISTINCT doc_id, fp_h FROM sel
       |WHERE pos >= ${WinnowW - 1}
       |ORDER BY doc_id, fp_h""".stripMargin

  // -- x87: content-defined chunking -------------------------------------

  /** Expected CDC chunk length in words (boundary probability 1/mod). */
  val CdcMod = 8

  /** x87 — content-defined chunking (the rsync/FastCDC boundary rule):
    * a chunk boundary falls AFTER word i whenever the hash of the
    * trailing bigram (wᵢ₋₁, wᵢ) ≡ 0 mod [[CdcMod]]. Because boundaries
    * depend only on LOCAL content, an insertion early in a document
    * shifts every x29-style fixed-offset chunk but re-synchronizes CDC
    * chunks within ~one chunk of the edit — the property that makes
    * chunk-hash dedup across near-identical documents (and incremental
    * storage) work. Output: every chunk with its width, content hash,
    * and corpus-wide copy count (the storage-dedup measure).
    *
    * Scale shape: boundary detection is a per-doc lag + running-sum
    * window (one hash exchange); chunk content re-slices the word
    * array by (start, len) via a doc-keyed join rather than dragging
    * arrays through the window shuffle; the copy count is one
    * chunk-hash-keyed aggregate joined back onto chunk rows. Linear
    * throughout, no pair join. */
  val x87CdcChunks: QFn = (s, d) => x87CdcChunksOn(s, Tables.documents(s, d))

  /** x87's kernel over any (doc_id, text) frame — the spec re-chunks an
    * edited document through it to demonstrate boundary re-sync. */
  def x87CdcChunksOn(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOTE (r15, measured negative result — do not retry): a per-doc
    // HOF rewrite (boundary flags via filter/transform over w, chunk
    // spans sliced in-array, copies via one chunk_h window; zero token
    // shuffles) measured 3.9× SLOWER paired (6.92 vs 1.78 s): HOF
    // lambdas are CodegenFallback, so the per-token md5 boundary hash
    // runs INTERPRETED, and that dominates everything the removed
    // window exchange cost. This windowed shape keeps the hash inside
    // whole-stage codegen.
    // spread before the token explode; the doc-keyed window AND the
    // spans⋈words join both REUSE this explicit exchange (same key,
    // pinned width — r16, guide §2.4/2.5)
    val words = Tables.spreadSmallScan(docs, "doc_id")
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
          expr(PortableHash.hex60("concat(prev, ' ', word)")) % CdcMod === 0,
          1L).otherwise(0L))
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
    chunks.join(copies, "chunk_h")
      .select(col("doc_id"), col("chunk_id"), col("n_words"),
        col("chunk_h"), col("n_copies"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }
  val x87Sql: String =
    s"""WITH words AS (
       |  SELECT doc_id, w FROM
       |    (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE length(w) >= 1),
       |tok AS (
       |  SELECT doc_id, i - 1 AS pos, w[i] AS word
       |  FROM (SELECT doc_id, w, unnest(range(1, length(w) + 1)) AS i
       |        FROM words)),
       |bounded AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(word) OVER (PARTITION BY doc_id ORDER BY pos)
       |        IS NOT NULL
       |      AND ${PortableHash.duckHex60(
            "lag(word) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || word")} % $CdcMod = 0
       |      THEN 1 ELSE 0 END AS b
       |  FROM tok),
       |chunked AS (
       |  SELECT doc_id, pos,
       |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM bounded),
       |spans AS (
       |  SELECT doc_id, chunk_id, MIN(pos) AS start,
       |    CAST(COUNT(*) AS BIGINT) AS n_words
       |  FROM chunked GROUP BY doc_id, chunk_id),
       |chunks AS (
       |  SELECT s.doc_id, CAST(s.chunk_id AS BIGINT) AS chunk_id, s.n_words,
       |    ${PortableHash.duckHex60(
            "array_to_string(list_slice(w.w, s.start + 1, s.start + s.n_words), ' ')")} AS chunk_h
       |  FROM spans s JOIN words w ON s.doc_id = w.doc_id)
       |SELECT doc_id, chunk_id, n_words, chunk_h,
       |  CAST(COUNT(*) OVER (PARTITION BY chunk_h) AS BIGINT) AS n_copies
       |FROM chunks
       |ORDER BY doc_id, chunk_id""".stripMargin

  // -- x88: 1-bit binary-sign ANN ----------------------------------------

  /** x88 — binary sign quantization ANN: each 64-dim embedding packs to
    * 64 BITS (sign per dimension, two 32-bit words so every value stays
    * positive BIGINT arithmetic in both engines), and candidates rank
    * by Hamming distance — popcount of XOR, the cheapest distance in
    * existence. This is the 1-bit endpoint of the quantization ladder
    * (x38/x43 PQ at 0.5 bits/dim → x46 SQ8 at 8 → this at 1): the
    * sign-random-projection estimate of cosine (Charikar 2002), at 8
    * bytes/vector and pure integer distance.
    *
    * Scale shape: code packing is codegen'd column math on the scan
    * (no raw embedding ever shuffles); scoring streams candidates
    * through a per-query k-bounded heap exactly like x3/x46, so the
    * selection shuffle is partitions × queries × k rows. */
  val x88AnnBinary: QFn = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def half(off: Int): Column =
      (0 until 32).map { j =>
        when(element_at(col("embedding"), j + off + 1).cast("double") > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    val codes = Tables.embeddings(s, d)
      .select(col("vec_id"), half(0).as("lo"), half(32).as("hi"))
      .as[(Long, Long, Long)]
    val queries = s.sparkContext.broadcast(
      codes.filter(_._1 < 10).collect().sortBy(_._1))
    val scored = codes.mapPartitions { it =>
      val qs = queries.value
      val rows = it.flatMap { case (cid, clo, chi) =>
        qs.iterator.collect { case (qid, qlo, qhi) if qid != cid =>
          (qid, cid, (java.lang.Long.bitCount(qlo ^ clo)
            + java.lang.Long.bitCount(qhi ^ chi)).toLong)
        }
      }
      graft.operators.BoundedTopK.perQuery(rows, 10,
        (r: (Long, Long, Long)) => r._1)(
        Ordering.fromLessThan { (x, y) =>
          x._3 < y._3 || (x._3 == y._3 && x._2 < y._2)
        })
    }.toDF("query_id", "cand_id", "hamming")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("cand_id"), col("hamming"))
      .orderBy(col("query_id"), col("rank"))
  }
  val x88Sql: String =
    """WITH c AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
      |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END))
      |      AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
      |        THEN CAST(1 AS BIGINT) << (i - 33) ELSE CAST(0 AS BIGINT) END))
      |      AS BIGINT) AS hi
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, cc.vec_id AS cand_id,
      |    CAST(bit_count(xor(q.lo, cc.lo)) + bit_count(xor(q.hi, cc.hi))
      |      AS BIGINT) AS hamming
      |  FROM c q, c cc
      |  WHERE q.vec_id < 10 AND q.vec_id <> cc.vec_id)
      |SELECT query_id, rank, cand_id, hamming FROM (
      |  SELECT query_id, cand_id, hamming,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY hamming, cand_id) AS rank
      |  FROM scored) WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // -- x89: corpus snapshot diff -----------------------------------------

  /** x89 — corpus snapshot DIFF (the data-versioning primitive behind
    * incremental curation: what changed between yesterday's crawl and
    * today's): full-outer join of two snapshots on doc id comparing
    * content fingerprints → added / removed / changed / unchanged per
    * document. The synthetic corpus has one vintage, so the two
    * snapshots derive deterministically from doc_id (x27's fixture
    * pattern — the oracle re-derives the same snapshots): old = ids
    * ≢1 (mod 4), new = ids ≢2 (mod 4) with every id ≡0 (mod 5)
    * re-edited.
    *
    * Scale shape: both sides collapse to (doc_id, fp) on the scan —
    * text never shuffles; one doc_id-keyed full-outer join (the id is
    * unique per side, no explosion); status is pure column math. At
    * 100 TB this is the manifest-diff pattern: narrow hash rows,
    * partition-prunable by id range. */
  val x89DatasetDiff: QFn = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val oldFp = docs.where(pmod(col("doc_id"), lit(4)) =!= 1)
      .select(col("doc_id"), md5(col("text")).as("fp_old"))
    val newFp = docs.where(pmod(col("doc_id"), lit(4)) =!= 2)
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp_new"))
    oldFp.join(newFp, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy(col("doc_id"))
  }
  val x89Sql: String =
    """WITH o AS (
      |  SELECT doc_id, md5(text) AS fp_old FROM documents
      |  WHERE doc_id % 4 <> 1),
      |n AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END)
      |      AS fp_new
      |  FROM documents WHERE doc_id % 4 <> 2)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.fp_old IS NULL THEN 'added'
      |       WHEN n.fp_new IS NULL THEN 'removed'
      |       WHEN o.fp_old <> n.fp_new THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  // -- x90: T5-style span-corruption masks -------------------------------

  /** Corruption rate, percent of tokens masked. */
  val CorruptPct = 15

  /** x90 — seeded span-corruption statistics (the T5/BERT denoising
    * data prep): each word is masked with probability
    * [[CorruptPct]]% by the portable hash of (doc_id, position) — the
    * same everywhere, so the mask is reproducible across engines and
    * restarts — and consecutive masked words form SPANS, each replaced
    * by one sentinel at training time. Output per doc: token count,
    * masked count, span count (= sentinels consumed) and the resulting
    * corruption fraction — the quantities a denoising-objective data
    * builder must budget (sentinel vocabulary, target length).
    *
    * Scale shape: the mask is pure column math on the exploded token
    * stream; span starts are a per-doc lag window (one hash exchange);
    * the rollup is map-side combined. Linear, no joins. */
  val x90SpanCorruption: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"))
      .withColumn("m",
        (expr(PortableHash.hex60(
          "concat(cast(doc_id as string), ':', cast(pos as string))"))
          % 100 < CorruptPct).cast("long"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok.withColumn("prev_m", lag(col("m"), 1, 0L).over(ord))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("m")).as("n_masked"),
        sum(when(col("m") === 1 && col("prev_m") === 0, 1L).otherwise(0L))
          .as("n_spans"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
        (col("n_masked").cast("double") / col("n_tokens").cast("double"))
          .as("corrupt_frac"))
      .orderBy(col("doc_id"))
  }
  val x90Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    CASE WHEN ${PortableHash.duckHex60(
            "CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % 100 < $CorruptPct
       |      THEN 1 ELSE 0 END AS m
       |  FROM (SELECT doc_id, unnest(range(1, length(string_split(text, ' ')) + 1)) AS i
       |        FROM documents)),
       |marked AS (
       |  SELECT doc_id, m,
       |    COALESCE(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS prev_m
       |  FROM tok)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(m) AS BIGINT) AS n_masked,
       |  CAST(SUM(CASE WHEN m = 1 AND prev_m = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_spans,
       |  CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS corrupt_frac
       |FROM marked GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // -- x91: Hilbert-curve layout scan ------------------------------------

  /** x91 — x36's box query through the HILBERT access path:
    * `hilbert_index(user_id, minute)` ([[graft.plans.HilbertIndexExpr]],
    * codegen'd) linearizes the two dimensions and
    * [[graft.plans.HilbertCurve.boxRanges]] decomposes the same box
    * into curve ranges — at the same maxRanges budget the Hilbert
    * cover carries ~½ the fragments of x36's z cover (HilbertSpec
    * measures 1.95×), so a clustered table serves the box with fewer
    * pushed disjuncts and fewer false-positive row groups. The exact
    * box predicate refines, so the result — and the oracle — are
    * identical to x36's. `HilbertLayout.cluster` + `ZPruneRule` give
    * unmodified SQL the same ranges automatically (spec-pinned). */
  val x91HilbertScan: QFn = (s, d) => {
    import graft.plans.{HilbertCurve, SpatialFunctions}
    val tLoMin = CoreQueries.ZTsLo / 60000000L
    val tHiMin = CoreQueries.ZTsHi / 60000000L
    val ranges = HilbertCurve.boxRanges(CoreQueries.ZUserLo,
      CoreQueries.ZUserHi, tLoMin, tHiMin, maxRanges = 16)
    val ev = Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("h", SpatialFunctions.hilbert_index(
        col("user_id"), expr("us div 60000000")))
    val hPrune = ranges.map { case (lo, hi) =>
      col("h") >= lo && col("h") < hi
    }.reduce(_ || _)
    ev.where(hPrune)
      .where(col("user_id").between(CoreQueries.ZUserLo, CoreQueries.ZUserHi) &&
        col("us") >= CoreQueries.ZTsLo && col("us") < CoreQueries.ZTsHi)
      .select(col("event_id"), col("user_id"), col("us"))
      .orderBy(col("event_id"))
  }
  val x91Sql: String =
    s"""SELECT event_id, user_id, epoch_us(ts) AS us FROM events
       |WHERE user_id BETWEEN ${CoreQueries.ZUserLo} AND ${CoreQueries.ZUserHi}
       |  AND epoch_us(ts) >= ${CoreQueries.ZTsLo} AND epoch_us(ts) < ${CoreQueries.ZTsHi}
       |ORDER BY event_id""".stripMargin

  // -- x92: binary shortlist + exact rescore -----------------------------

  /** x92 — the binary ANN SERVING composition (x88 ∘ x42's rescore):
    * Hamming over 8-byte sign codes shortlists
    * [[DedupQueries.RescoreShortlist]] candidates per query, exact
    * cosine re-ranks ONLY the shortlist. The cheapest two-stage stack
    * in the family — no training, no codebooks, scan cost 8 bytes and
    * one popcount per vector — and the recall audit's point that the
    * 1-bit code is a shortlist stage, not a ranker, made operational
    * (VectorIndexSpec measures 0.25 → 0.83 recall@10 from the same
    * composition served off the persisted index).
    *
    * Scale shape: stage 1 is x88's bounded-heap scan at 2× the base
    * shortlist width; stage 2 joins queries × shortlist ids back to
    * the vector table — quantization noise only has to keep neighbors
    * IN the shortlist, never rank them. The served width is
    * SATURATION-ADAPTIVE ([[DedupQueries.adaptiveHammingShortlist]],
    * VERDICT r12 #4): base 100 plus every candidate Hamming-
    * indistinguishable from the base cutoff (≤ hK+1), capped at 200 —
    * on a saturated 200 k corpus that lifts recall 0.53 → ≥0.65 at
    * ≤2× rescore cost, while an unsaturated corpus stays ≈ base. */
  val x92AnnBinRescore: QFn = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def half(off: Int): Column =
      (0 until 32).map { j =>
        when(element_at(col("embedding"), j + off + 1).cast("double") > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    val codes = Tables.embeddings(s, d)
      .select(col("vec_id"), half(0).as("lo"), half(32).as("hi"))
      .as[(Long, Long, Long)]
    val full = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, e.map(_.toDouble)) }
    val queries = s.sparkContext.broadcast(
      full.filter(_._1 < 10).collect().sortBy(_._1)
        .map { case (id, e) => (id, e, DedupQueries.normScaled(e)) })
    val qCodes = s.sparkContext.broadcast(
      codes.filter(_._1 < 10).collect().sortBy(_._1))
    val hamScored = codes.mapPartitions { it =>
      val qs = qCodes.value
      val rows = it.flatMap { case (cid, clo, chi) =>
        qs.iterator.collect { case (qid, qlo, qhi) if qid != cid =>
          (qid, cid, (java.lang.Long.bitCount(qlo ^ clo)
            + java.lang.Long.bitCount(qhi ^ chi)).toLong)
        }
      }
      graft.operators.BoundedTopK.perQuery(rows,
        2 * DedupQueries.RescoreShortlist, (r: (Long, Long, Long)) => r._1)(
        Ordering.fromLessThan { (x, y) =>
          x._3 < y._3 || (x._3 == y._3 && x._2 < y._2)
        })
    }.toDF("query_id", "cand_id", "hamming")
    val short = DedupQueries.adaptiveHammingShortlist(hamScored,
      DedupQueries.RescoreShortlist)
    val fullDf = full.toDF("vec_id", "ce")
    val rescored = short.join(fullDf, short("cand_id") === fullDf("vec_id"))
      .select(col("query_id"), col("cand_id"), col("ce"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val qs = queries.value.map { case (id, e, n) => id -> ((e, n)) }.toMap
        it.map { case (qid, cid, ce) =>
          val (qe, qn) = qs(qid)
          (qid, cid, DedupQueries.dotScaled(qe, ce)
            / (math.sqrt(qn) * math.sqrt(DedupQueries.normScaled(ce))))
        }
      }.toDF("query_id", "cand_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }
  val x92Sql: String =
    s"""WITH c AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
      |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END))
      |      AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
      |        THEN CAST(1 AS BIGINT) << (i - 33) ELSE CAST(0 AS BIGINT) END))
      |      AS BIGINT) AS hi
      |  FROM embeddings),
      |ham AS (
      |  SELECT q.vec_id AS query_id, cc.vec_id AS cand_id,
      |    CAST(bit_count(xor(q.lo, cc.lo)) + bit_count(xor(q.hi, cc.hi))
      |      AS BIGINT) AS hamming
      |  FROM c q, c cc
      |  WHERE q.vec_id < 10 AND q.vec_id <> cc.vec_id),
      |${DedupQueries.adaptiveShortlistSqlCte(DedupQueries.RescoreShortlist)},
      |e AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
      |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
      |  FROM embeddings),
      |rescored AS (
      |  SELECT sh.query_id, sh.cand_id,
      |    CAST(list_sum(list_transform(range(1, length(q.embedding) + 1),
      |      i -> CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(cc.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
      |      / (sqrt(q.norm_s) * sqrt(cc.norm_s)) AS cosine
      |  FROM short sh
      |  JOIN e q ON q.vec_id = sh.query_id
      |  JOIN e cc ON cc.vec_id = sh.cand_id)
      |SELECT query_id, rank, cand_id, cosine FROM (
      |  SELECT query_id, cand_id, cosine,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, cand_id) AS rank
      |  FROM rescored) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // -- x94: semantic decontamination -------------------------------------

  /** Cosine-to-benchmark threshold above which a corpus vector is
    * flagged as contaminated. */
  val SemDecontThreshold = 0.40

  /** x94 — SEMANTIC decontamination (the embedding-space counterpart of
    * x20/x34/x65's n-gram overlap): each corpus embedding is scored by
    * its maximum cosine to the held-out benchmark slice (vec_id < 50)
    * and flagged above [[SemDecontThreshold]] — catching paraphrased /
    * translated / reformatted benchmark leakage that shares no n-gram
    * with the original, the contamination mode the GPT-4-era data
    * reports check for. Output carries the argmax benchmark id so a
    * flag is auditable back to the exact benchmark item.
    *
    * Scale shape: the benchmark side is SMALL by definition —
    * broadcast once, scored in a map-only pass over the corpus scan
    * (running max per row, no heap, no shuffle but the presentation
    * sort); a 10⁹-vector corpus against a 10⁵-item benchmark suite is
    * one GEMM-shaped scan. Contrast x34: there the BENCHMARK grams fit
    * a bloom; here the benchmark VECTORS fit a broadcast. */
  val x94SemanticDecontaminate: QFn = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, e.map(_.toDouble)) }
    val bench = s.sparkContext.broadcast(
      emb.filter(_._1 < 50).collect().sortBy(_._1)
        .map { case (id, e) => (id, e, DedupQueries.normScaled(e)) })
    emb.filter(_._1 >= 50).mapPartitions { it =>
      val bs = bench.value
      it.map { case (cid, ce) =>
        val cn = math.sqrt(DedupQueries.normScaled(ce).toDouble)
        var bestId = -1L
        var bestCos = Double.NegativeInfinity
        bs.foreach { case (bid, be, bn) =>
          val cos = DedupQueries.dotScaled(ce, be) / (cn * math.sqrt(bn))
          if (cos > bestCos) { bestCos = cos; bestId = bid }
        }
        (cid, bestId, bestCos, if (bestCos > SemDecontThreshold) 1L else 0L)
      }
    }.toDF("vec_id", "bench_id", "cosine", "flagged")
      .orderBy(col("vec_id"))
  }
  val x94Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(1, length(embedding) + 1),
       |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS norm_s
       |  FROM embeddings),
       |scored AS (
       |  SELECT c.vec_id, b.vec_id AS bench_id,
       |    CAST(list_sum(list_transform(range(1, length(c.embedding) + 1),
       |      i -> CAST(round(CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)
       |      / (sqrt(c.norm_s) * sqrt(b.norm_s)) AS cosine
       |  FROM e c, e b WHERE c.vec_id >= 50 AND b.vec_id < 50)
       |SELECT vec_id, bench_id, cosine,
       |  CASE WHEN cosine > $SemDecontThreshold THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS flagged
       |FROM (SELECT vec_id, bench_id, cosine,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cosine DESC, bench_id) AS rk
       |      FROM scored) WHERE rk = 1
       |ORDER BY vec_id""".stripMargin

  // -- x95: per-label centroid outlier screen ----------------------------

  /** x95 — embedding OUTLIER screen (the SemDeDup/CCNet-style
    * distance-to-centroid quality filter, and the cheap data-poisoning
    * tripwire): each vector's squared distance to its LABEL's centroid,
    * ranked within the label; the top 5 % per label flag as outliers.
    * All arithmetic is integer-exact: vectors scale at 1e3 and the
    * distance is the n²-scaled form D = Σⱼ(n·xⱼ − Sⱼ)² (n = label
    * count, Sⱼ = label dim-sum) — no division anywhere, so the oracle
    * matches bit-for-bit. The 1e3 scale bounds D ≤ dims·(n·4e3)²:
    * safe in a Long to n ≈ 50 k per label; beyond that a production
    * run divides first and accepts float ranking (documented here, not
    * needed at any test SF).
    *
    * Scale shape: label stats are labels × dims cells (one map-side
    * combined aggregate, driver-bounded broadcast — x43's pattern);
    * the distance pass is map-only; the per-label ranking window
    * shuffles narrow (id, label, D) rows by label. The rank-based cut
    * needs no magic distance threshold. */
  val x95CentroidOutliers: QFn = (s, d) => {
    import s.implicits._
    val sv = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, lab, e) =>
        // half-away-from-zero, the SQL round() rule (math.round is
        // half-up and diverges on negative embedding values)
        (id, lab, e.map { x =>
          val v = x.toDouble * 1000
          (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
        })
      }
    val stats = sv.flatMap { case (_, lab, xs) =>
        xs.zipWithIndex.map { case (x, j) => (lab, j, x, 1L) }
      }.groupByKey { case (lab, j, _, _) => (lab, j) }
      .mapValues { case (_, _, x, _) => (x, 1L) }
      .reduceGroups((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case ((lab, j), (sum, _)) => (lab, j, sum) }
      .collect()
    val counts = sv.groupByKey(_._2).count().collect().toMap
    val sums = stats.groupBy(_._1).map { case (lab, rs) =>
      lab -> rs.sortBy(_._2).map(_._3)
    }
    val bc = s.sparkContext.broadcast((sums, counts))
    val dist = sv.map { case (id, lab, xs) =>
      val (sm, cn) = (bc.value._1(lab), bc.value._2(lab))
      var dd = 0L
      var j = 0
      while (j < xs.length) {
        val t = cn * xs(j) - sm(j)
        dd += t * t
        j += 1
      }
      (id, lab.toLong, dd, cn)
    }.toDF("vec_id", "label", "d2n2", "n_label")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("label"))
      .orderBy(col("d2n2").desc, col("vec_id"))
    dist.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("flagged",
        when(col("rank") <= greatest(lit(1L), expr("n_label DIV 20")), 1L)
          .otherwise(0L))
      .select(col("vec_id"), col("label"), col("d2n2"), col("rank"),
        col("flagged"))
      .orderBy(col("vec_id"))
  }
  val x95Sql: String =
    """WITH sv AS (
      |  SELECT vec_id, label,
      |    list_transform(range(1, length(embedding) + 1),
      |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS xs
      |  FROM embeddings),
      |dims AS (
      |  SELECT label, i, CAST(SUM(xs[i]) AS BIGINT) AS s
      |  FROM sv CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
      |  GROUP BY label, i),
      |cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM sv GROUP BY label),
      |dist AS (
      |  SELECT v.vec_id, CAST(v.label AS BIGINT) AS label,
      |    CAST(SUM((c.n * v.xs[d.i] - d.s) * (c.n * v.xs[d.i] - d.s)) AS BIGINT) AS d2n2,
      |    CAST(MIN(c.n) AS BIGINT) AS n_label
      |  FROM sv v
      |  JOIN dims d ON d.label = v.label
      |  JOIN cnt c ON c.label = v.label
      |  GROUP BY v.vec_id, v.label),
      |ranked AS (
      |  SELECT vec_id, label, d2n2,
      |    CAST(row_number() OVER (PARTITION BY label
      |      ORDER BY d2n2 DESC, vec_id) AS BIGINT) AS rank, n_label
      |  FROM dist)
      |SELECT vec_id, label, d2n2, rank,
      |  CASE WHEN rank <= greatest(CAST(1 AS BIGINT), n_label // 20)
      |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS flagged
      |FROM ranked
      |ORDER BY vec_id""".stripMargin

  // -- x96: Zipf rank-frequency profile ----------------------------------

  /** Points fitted (top-N vocabulary terms). */
  val ZipfTopN = 1000

  /** x96 — Zipf rank–frequency profile: OLS fit of ln(freq) against
    * ln(rank) over the top-[[ZipfTopN]] vocabulary — the corpus-health
    * check (natural language sits near slope −1; slopes far off flag
    * boilerplate floods, spam, or generator loops before any deeper
    * stage runs). Log points are integer-scaled at 1e3 (the x53
    * convention, scale chosen so every OLS moment stays Long-exact —
    * n·Σxy bounds at ~10¹⁴), so both engines sum identical integers
    * and the fit is deterministic to the final rounded division.
    *
    * Scale shape: one vocab-keyed counting shuffle (map-side combined)
    * → TakeOrderedAndProject keeps N rows → the rank window runs over
    * those N rows only (bounded by construction — never the
    * single-partition-window-over-the-corpus trap) → one 5-cell moment
    * aggregate. */
  val x96ZipfProfile: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // spread before the token explode + per-token vocab partial
    // aggregate (one scan task otherwise — r16, guide §2.5)
    val top = Tables.spreadSmallScan(Tables.documents(s, d), "doc_id")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(ZipfTopN)
    val w = Window.orderBy(col("freq").desc, col("w"))
    val pts = top.withColumn("rank", row_number().over(w))
      .select(
        expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT)").as("lx"),
        expr("CAST(round(ln(CAST(freq AS DOUBLE)) * 1000) AS BIGINT)").as("ly"))
    pts.agg(count(lit(1)).as("n"), sum(col("lx")).as("sx"),
        sum(col("ly")).as("sy"),
        sum(expr("lx * lx")).as("sxx"), sum(expr("lx * ly")).as("sxy"))
      .withColumn("slope",
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
      .withColumn("intercept",
        round((col("sy").cast("double")
          - col("slope") * col("sx").cast("double"))
          / (col("n").cast("double") * 1000.0), 6))
      .select(col("n").as("n_terms"), col("slope"), col("intercept"))
  }
  val x96Sql: String =
    s"""WITH vocab AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |topn AS (
       |  SELECT freq, rank FROM (
       |    SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS rank
       |    FROM vocab)
       |  WHERE rank <= $ZipfTopN),
       |pts AS (
       |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS lx,
       |         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000) AS BIGINT) AS ly
       |  FROM topn),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(lx) AS BIGINT) AS sx,
       |    CAST(SUM(ly) AS BIGINT) AS sy, CAST(SUM(lx * lx) AS BIGINT) AS sxx,
       |    CAST(SUM(lx * ly) AS BIGINT) AS sxy
       |  FROM pts)
       |SELECT n AS n_terms,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE)
       |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       |  round((CAST(sy AS DOUBLE)
       |    - round(CAST(n * sxy - sx * sy AS DOUBLE)
       |        / CAST(n * sxx - sx * sx AS DOUBLE), 6) * CAST(sx AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * 1000.0), 6) AS intercept
       |FROM agg""".stripMargin

  // -- x97: embedding drift monitor --------------------------------------

  /** x97 — embedding DRIFT monitor: per label, the squared distance
    * between the centroid of the "old" snapshot half (even vec_ids)
    * and the "new" half (odd vec_ids) — the training-data drift check
    * an MLOps pipeline runs between corpus versions (x89 diffs
    * membership; this detects DISTRIBUTION movement even when ids are
    * stable). Per-dimension means are exact-integer sums divided once
    * (IEEE, identical in both engines), re-scaled to 1e6 ints, and the
    * drift is the Long-exact sum of squared int diffs — deterministic
    * with no float accumulation anywhere.
    *
    * Scale shape: everything collapses to labels × dims cells in ONE
    * map-side-combined aggregate (the half is a column, not a second
    * scan); the drift rollup runs on those cells — corpus-size-
    * independent past the single scan. */
  val x97CentroidDrift: QFn = (s, d) => {
    val cells = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")))
      .select(col("label").cast("long").as("label"),
        (col("vec_id") % 2 === 0).cast("int").as("old_half"),
        col("pos"),
        expr("CAST(round(CAST(col AS DOUBLE) * 1000) AS BIGINT)").as("xs"),
        col("vec_id"))
      .groupBy(col("label"), col("old_half"), col("pos"))
      .agg(sum(col("xs")).as("s"), count(lit(1)).as("n"))
      .withColumn("mean_s",
        expr("CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000) AS BIGINT)"))
    val old = cells.where(col("old_half") === 1)
      .select(col("label"), col("pos"), col("mean_s").as("m_old"),
        col("n").as("n_old"))
    val neu = cells.where(col("old_half") === 0)
      .select(col("label"), col("pos"), col("mean_s").as("m_new"),
        col("n").as("n_new"))
    old.join(neu, Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(min(col("n_old")).as("n_old"), min(col("n_new")).as("n_new"),
        sum((col("m_old") - col("m_new")) * (col("m_old") - col("m_new")))
          .as("drift_s"))
      .orderBy(col("label"))
  }
  val x97Sql: String =
    """WITH cells AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS old_half,
      |    i - 1 AS pos,
      |    CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM embeddings
      |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
      |  GROUP BY 1, 2, 3),
      |means AS (
      |  SELECT label, old_half, pos, n,
      |    CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000) AS BIGINT) AS mean_s
      |  FROM cells)
      |SELECT o.label, CAST(MIN(o.n) AS BIGINT) AS n_old,
      |  CAST(MIN(nw.n) AS BIGINT) AS n_new,
      |  CAST(SUM((o.mean_s - nw.mean_s) * (o.mean_s - nw.mean_s)) AS BIGINT)
      |    AS drift_s
      |FROM means o JOIN means nw
      |  ON o.label = nw.label AND o.pos = nw.pos
      |  AND o.old_half = 1 AND nw.old_half = 0
      |GROUP BY o.label
      |ORDER BY o.label""".stripMargin

  // -- x98: source overlap matrix ----------------------------------------

  /** x98 — source OVERLAP matrix: near-dup pair counts aggregated to
    * the (source, source) level — the mirror/aggregator detection
    * artifact (two crawl sources sharing many near-dup docs are
    * mirrors, scrapers, or syndication partners; the diagonal is a
    * source's internal redundancy). x74 turns these edges into a
    * PageRank prior; this publishes the raw matrix the analyst reads,
    * with the mean Jaccard per cell (integer-scaled mean of rounded
    * per-pair scores) as the strength. Symmetric cells canonicalize as
    * (least, greatest).
    *
    * Scale shape: x7's pair machinery carries the cost; this adds two
    * ids-only source joins and one (src, src)-keyed map-side-combined
    * aggregate — the matrix is sources², tiny by construction. */
  val x98SourceOverlap: QFn = (s, d) => {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    DedupQueries.x7Pairs(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        "doc_b")
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"),
        expr("CAST(round(jaccard * 1000000) AS BIGINT)").as("j_s"))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(SUM(j_s) DIV COUNT(*) AS BIGINT)").as("mean_j_s"))
      .orderBy(col("src_lo"), col("src_hi"))
  }
  val x98Sql: String =
    s"""WITH ${DedupQueries.x7CteBody},
       |cells AS (
       |  SELECT least(da.source, db.source) AS src_lo,
       |    greatest(da.source, db.source) AS src_hi,
       |    CAST(round(p.jaccard * 1000000) AS BIGINT) AS j_s
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b)
       |SELECT src_lo, src_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(j_s) // COUNT(*) AS BIGINT) AS mean_j_s
       |FROM cells GROUP BY src_lo, src_hi
       |ORDER BY src_lo, src_hi""".stripMargin

  // -- x99: length-bias audit --------------------------------------------

  /** x99 — selection-bias AUDIT: Pearson correlation between document
    * length and the short-token (≤3 chars) ratio — the
    * stopword-density proxy quality filters cut on — as a 1e3-scaled
    * integer, over the whole corpus. Quality heuristics that
    * correlate with length silently re-weight the corpus toward long
    * documents when thresholded — the classic curation pitfall this
    * one-row audit catches before a cut is chosen. All five moments
    * accumulate as exact Longs (scales chosen to bound n·Σy² well
    * inside a Long at every SF); the correlation is one rounded
    * division at the end.
    *
    * Scale shape: single scan → one map-side-combined 5-cell moment
    * aggregate; no shuffle carries more than the partial-aggregate
    * cells. */
  val x99LengthBias: QFn = (s, d) => {
    val pts = Tables.documents(s, d)
      .select(col("n_chars").as("x"),
        expr("CAST(size(filter(split(text, ' '), t -> length(t) <= 3)) * 1000 " +
          "DIV size(split(text, ' ')) AS BIGINT)").as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"), sum(expr("x * y")).as("sxy"))
      .select(col("n").as("n_docs"),
        expr("CAST(sx * 1000 DIV n AS BIGINT)").as("mean_len_s"),
        expr("CAST(sy DIV n AS BIGINT)").as("mean_ratio_s"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("corr"))
  }
  val x99Sql: String =
    """WITH pts AS (
      |  SELECT n_chars AS x,
      |    CAST(length(list_filter(string_split(text, ' '),
      |        t -> length(t) <= 3)) * 1000
      |      // length(string_split(text, ' ')) AS BIGINT) AS y
      |  FROM documents),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy, CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM pts)
      |SELECT n AS n_docs,
      |  CAST(sx * 1000 // n AS BIGINT) AS mean_len_s,
      |  CAST(sy // n AS BIGINT) AS mean_ratio_s,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr
      |FROM m""".stripMargin

  // -- x100: dedup method comparison -------------------------------------

  /** x100 — the dedup-method COMPARISON table: pair counts found by
    * each of the four text near-dup detectors over the same corpus —
    * exact content hash (x1's rule, counted as Σ(group−1) merged
    * docs), MinHash-LSH (x2), SimHash (x6) and n-gram Jaccard (x7) —
    * the one-table summary a curation team reads when choosing (and
    * cross-checking) its dedup stack; big disagreements between
    * methods are themselves a data-quality signal.
    *
    * Scale shape: each arm is its oracle-checked operator's own plan
    * (this key adds one count aggregate per arm and a 4-row union);
    * nothing new shuffles. */
  val x100DedupCompare: QFn = (s, d) => {
    def arm(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_pairs"))
        .select(lit(name).as("method"), col("n_pairs"))
    // Overlap the arm CONSTRUCTIONS (guide §2.6: concurrent independent
    // jobs): each detector's builder runs eager localCheckpoint jobs
    // (signatures, kept-gram frames) that otherwise serialize on the
    // driver while the cluster idles between them. The arms are
    // independent reads of the same immutable table, so building them on
    // futures changes scheduling only — each arm's plan, and therefore
    // the result, is identical to the sequential build.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val arms = Seq(
      Future(arm("minhash", DedupQueries.x2DedupMinhash(s, d))),
      Future(arm("ngram", DedupQueries.x7NgramJaccard(s, d))),
      Future(arm("simhash", DedupQueries.x6DedupSimhash(s, d))))
      .map(Await.result(_, Duration.Inf))
    val exact = Tables.documents(s, d)
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("c"))
      .where(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_pairs"))
      .select(lit("exact").as("method"), col("n_pairs"))
    arms.foldLeft(exact)(_.unionAll(_)).orderBy(col("method"))
  }
  lazy val x100Sql: String = {
    def wrap(sql: String) =
      s"(SELECT CAST(COUNT(*) AS BIGINT) FROM ($sql))"
    s"""SELECT 'exact' AS method,
       |  (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
       |    (SELECT COUNT(*) AS c FROM documents GROUP BY md5(text))
       |   WHERE c > 1) AS n_pairs
       |UNION ALL
       |SELECT 'minhash', ${wrap(DedupQueries.x2Sql)}
       |UNION ALL
       |SELECT 'ngram', ${wrap(DedupQueries.x7Sql)}
       |UNION ALL
       |SELECT 'simhash', ${wrap(DedupQueries.x6Sql)}
       |ORDER BY method""".stripMargin
  }

  // -- x101: best-passage extraction -------------------------------------

  /** Passage window width in words. */
  val PassageW = 10

  /** x101 — best-PASSAGE extraction (the snippet/passage-selection step
    * of RAG serving and search result rendering): for each query of
    * the shared [[TextQueries.bm25Queries]] batch, the [[PassageW]]-word
    * window with the most query-term occurrences per document —
    * anchored at a term hit (a maximal fixed-width window can always
    * start at a hit; anchoring makes the argmax well-defined and the
    * snippet readable), earliest anchor on ties — and the top-5
    * documents per query by hit count. x51 ranks DOCUMENTS; this
    * locates the evidence INSIDE them.
    *
    * Scale shape: non-matching tokens die at the broadcast term join
    * (the x55 move — the positional stream never shuffles corpus-wide);
    * the window count is a per-(query, doc) self-join of HIT positions
    * only (term-frequency-bounded, never O(doc length²)); the two
    * ranking windows run over df-bounded rows. */
  val x101PassageExtract: QFn = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qdf = TextQueries.bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "word")
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("word"))
    val hits = tok.join(broadcast(qdf), "word")
      .select(col("query_id"), col("doc_id"), col("pos"))
    val starts = hits.select(col("query_id"), col("doc_id"),
      col("pos").as("start"))
    val win = starts.join(hits, Seq("query_id", "doc_id"))
      .where(col("pos") >= col("start") &&
        col("pos") < col("start") + PassageW)
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("n_hits"))
    val wBest = Window.partitionBy(col("query_id"), col("doc_id"))
      .orderBy(col("n_hits").desc, col("start"))
    val best = win.withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1)
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("n_hits").desc, col("doc_id"))
    best.withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= 5)
      .select(col("query_id").cast("long").as("query_id"), col("rank"),
        col("doc_id"), col("start").as("best_start"), col("n_hits"))
      .orderBy(col("query_id"), col("rank"))
  }
  lazy val x101Sql: String = {
    val qRows = TextQueries.bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qRows),
       |tok AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
       |          unnest(range(1, length(string_split(text, ' ')) + 1)) AS i
       |        FROM documents)),
       |hits AS (
       |  SELECT q.query_id, t.doc_id, t.pos
       |  FROM tok t JOIN q ON t.word = q.term),
       |win AS (
       |  SELECT s.query_id, s.doc_id, s.pos AS start,
       |    CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM hits s JOIN hits m
       |    ON m.query_id = s.query_id AND m.doc_id = s.doc_id
       |    AND m.pos >= s.pos AND m.pos < s.pos + $PassageW
       |  GROUP BY s.query_id, s.doc_id, s.pos),
       |best AS (
       |  SELECT query_id, doc_id, start, n_hits,
       |    row_number() OVER (PARTITION BY query_id, doc_id
       |      ORDER BY n_hits DESC, start) AS rk
       |  FROM win)
       |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
       |  start AS best_start, n_hits
       |FROM (SELECT query_id, doc_id, start, n_hits,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY n_hits DESC, doc_id) AS BIGINT) AS rank
       |      FROM best WHERE rk = 1)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "x69_fuzzy_join" -> x69FuzzyJoin,
    "x76_doremi_weights" -> x76DoremiWeights,
    "x75_corpus_datasheet" -> x75CorpusDatasheet,
    "x77_quality_qnorm" -> x77QualityQnorm,
    "x78_seeded_shuffle" -> x78SeededShuffle,
    "x70_pmi_collocations" -> x70PmiCollocations,
    "x72_jl_projection" -> x72JlProjection,
    "x73_soft_dedup_weights" -> x73SoftDedupWeights,
    "x81_boilerplate" -> x81Boilerplate,
    "x82_retrieval_eval" -> x82RetrievalEval,
    "x83_triangle_count" -> x83TriangleCount,
    "x84_perceptron_quality" -> x84PerceptronQuality,
    "x85_column_profile" -> x85ColumnProfile,
    "x86_winnowing" -> x86Winnowing,
    "x87_cdc_chunks" -> x87CdcChunks,
    "x88_ann_binary" -> x88AnnBinary,
    "x89_dataset_diff" -> x89DatasetDiff,
    "x90_span_corruption" -> x90SpanCorruption,
    "x91_hilbert_scan" -> x91HilbertScan,
    "x92_ann_bin_rescore" -> x92AnnBinRescore,
    "x93_perceptron_eval" -> x93PerceptronEval,
    "x94_semantic_decontaminate" -> x94SemanticDecontaminate,
    "x95_centroid_outliers" -> x95CentroidOutliers,
    "x96_zipf_profile" -> x96ZipfProfile,
    "x97_centroid_drift" -> x97CentroidDrift,
    "x98_source_overlap" -> x98SourceOverlap,
    "x99_length_bias" -> x99LengthBias,
    "x100_dedup_compare" -> x100DedupCompare,
    "x101_passage_extract" -> x101PassageExtract)

  val oracleSql: Map[String, String] = Map(
    "x69_fuzzy_join" -> x69Sql,
    "x76_doremi_weights" -> x76Sql,
    "x75_corpus_datasheet" -> x75Sql,
    "x77_quality_qnorm" -> x77Sql,
    "x78_seeded_shuffle" -> x78Sql,
    "x70_pmi_collocations" -> x70Sql,
    "x72_jl_projection" -> x72Sql,
    "x73_soft_dedup_weights" -> x73Sql,
    "x81_boilerplate" -> x81Sql,
    "x82_retrieval_eval" -> x82Sql,
    "x83_triangle_count" -> x83Sql,
    "x84_perceptron_quality" -> x84Sql,
    "x85_column_profile" -> x85Sql,
    "x86_winnowing" -> x86Sql,
    "x87_cdc_chunks" -> x87Sql,
    "x88_ann_binary" -> x88Sql,
    "x89_dataset_diff" -> x89Sql,
    "x90_span_corruption" -> x90Sql,
    "x91_hilbert_scan" -> x91Sql,
    "x92_ann_bin_rescore" -> x92Sql,
    "x93_perceptron_eval" -> x93Sql,
    "x94_semantic_decontaminate" -> x94Sql,
    "x95_centroid_outliers" -> x95Sql,
    "x96_zipf_profile" -> x96Sql,
    "x97_centroid_drift" -> x97Sql,
    "x98_source_overlap" -> x98Sql,
    "x99_length_bias" -> x99Sql,
    "x100_dedup_compare" -> x100Sql,
    "x101_passage_extract" -> x101Sql)
}
