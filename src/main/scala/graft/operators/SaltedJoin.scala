package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation join: salt the skewed (large) side with a random
  * shard in [0, salts), replicate the small side across all shards, and
  * equi-join on (keys…, shard). Breaks a hot key's single reducer into
  * `salts` parallel ones at the cost of duplicating the build side —
  * the manual fallback when AQE's skew-join split cannot apply (e.g.
  * non-shuffle joins or pathological single-key skew). Total work is
  * unchanged; per-task work (and so straggler time) drops by ~`salts`.
  *
  * Salting is only sound for left-preserving join types: under
  * right_outer/full, an unmatched replicated-side row exists once per
  * shard and would be emitted `salts` times with null padding — both
  * entry points reject those types.
  */
object SaltedJoin {

  private def requireLeftPreserving(joinType: String): Unit = {
    val t = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")(t),
      s"salting replicates the right side — only left-preserving join " +
        s"types are sound, got '$joinType'")
  }

  /** Multi-column key form with a FIXED shard count — each matching pair
    * still joins exactly once: a skewed-side row carries ONE shard, and
    * only the replicated side fans out. */
  def join(skewed: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int, joinType: String): DataFrame = {
    require(salts >= 1)
    requireLeftPreserving(joinType)
    val saltedLeft = skewed.withColumn("__salt",
      (rand(42) * salts).cast("int"))
    val replicatedRight = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(replicatedRight, keys :+ "__salt", joinType)
      .drop("__salt")
  }

  def join(skewed: DataFrame, small: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame =
    join(skewed, small, Seq(key), salts, joinType)

  /** PER-KEY adaptive variant, decided INSIDE the plan — no driver-side
    * measurement job. A map-side-combined count of the skewed side's
    * keys, filtered to the (by-construction few) keys whose count
    * exceeds `threshold`, is LEFT-joined back onto both sides; a hot
    * key then joins on ceil(n/threshold) shards (capped at `maxSalts`)
    * while every other key keeps exactly the plain join's shape
    * (1 shard, replication factor 1).
    *
    * Compared to the fixed-salt form this (a) adds no extra Spark job —
    * the hot-key aggregate is a stage of the query's own DAG (AQE
    * broadcasts it in the common near-empty case; under a shuffle join
    * the fallback attach stays linear in the hot key), and (b) salts
    * each hot key by ITS size rather than replicating the whole small
    * side by the global maximum. At 100 TB the count of over-threshold
    * keys is bounded by totalRows/threshold and the replication ratio
    * by maxSalts on exactly the rows that need it. */
  def adaptive(skewed: DataFrame, replicated: DataFrame, keys: Seq[String],
      threshold: Long, maxSalts: Int = 32,
      joinType: String = "inner",
      pin: (DataFrame, Seq[String]) => DataFrame = (df, _) => df): DataFrame = {
    requireLeftPreserving(joinType)
    val (sLeft, sRight) =
      adaptiveSides(skewed, replicated, keys, threshold, maxSalts)
    val jk = keys :+ "__shard"
    // see selfAdaptive: `pin` may fix the join exchange's width
    pin(sLeft, jk).join(pin(sRight, jk), jk, joinType).drop("__shard")
  }

  /** SELF-join variant of [[adaptive]]: both inputs MUST be projections
    * of the SAME keyed frame (identical per-key cardinality — the
    * caller's contract). Each side then derives the per-key salt count
    * from a window count over ITS OWN rows, which is the same quantity
    * on both sides by precondition — no hot-key aggregate, no broadcast
    * chain, no attach join. The guard costs one `count() OVER
    * (PARTITION BY keys)` per side; a hot key's count concentrates in
    * one window task but stays LINEAR there (sort + count) — the
    * QUADRATIC pair explosion is what gets sharded across reducers.
    * Empirically ~0.5 s of plan overhead at bench scale vs ~3 s for the
    * broadcast-attach form, whose AQE stage chain dominates. */
  def selfAdaptive(a: DataFrame, b: DataFrame, keys: Seq[String],
      threshold: Long, maxSalts: Int = 32,
      pin: (DataFrame, Seq[String]) => DataFrame = (df, _) => df): DataFrame = {
    val (sl, sr) = selfAdaptiveSides(a, b, keys, threshold, maxSalts)
    val jk = keys :+ "__shard"
    // optional pinned-width join exchange (r16): `pin` gets each side
    // and exactly the join keys, so an explicit repartition there
    // replaces the join's own exchange (same partitioning, no extra
    // shuffle) and is exempt from AQE coalescing — which prices the
    // exchange by its INPUT bytes and otherwise collapses the
    // parallelism under candidate joins whose OUTPUT fans out
    // quadratically per bucket. The default keeps the r15 plan.
    pin(sl, jk).join(pin(sr, jk), jk, "inner").drop("__shard")
  }

  /** The two sharded sides of [[selfAdaptive]], `__shard` still
    * attached — split out so specs can assert the hot-key spread. */
  private[graft] def selfAdaptiveSides(a: DataFrame, b: DataFrame,
      keys: Seq[String], threshold: Long,
      maxSalts: Int): (DataFrame, DataFrame) = {
    require(threshold >= 1, s"threshold must be positive, got $threshold")
    require(maxSalts >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val salts = least(lit(maxSalts.toLong),
      floor((count(lit(1)).over(w) + lit(threshold - 1)) / lit(threshold)))
    val sl = a.withColumn("__salts", salts)
      .withColumn("__shard", (rand(42) * col("__salts")).cast("long"))
      .drop("__salts")
    val sr = b.withColumn("__salts", salts)
      .withColumn("__shard", explode(sequence(lit(0L), col("__salts") - 1)))
      .drop("__salts")
    (sl, sr)
  }

  /** The two sharded sides of [[adaptive]], `__shard` still attached —
    * split out so specs can assert the hot-key spread directly. */
  private[graft] def adaptiveSides(skewed: DataFrame, replicated: DataFrame,
      keys: Seq[String], threshold: Long,
      maxSalts: Int): (DataFrame, DataFrame) = {
    require(threshold >= 1, s"threshold must be positive, got $threshold")
    require(maxSalts >= 1)
    val kc = keys.map(col)
    // LAZY localCheckpoint (no job here): both sides reference the same
    // checkpointed RDD, so the hot-key aggregate executes once and its
    // broadcast is reused — without it the self-join dedup re-aliases
    // the subtrees and each side re-runs the aggregate.
    val hot = skewed.groupBy(kc: _*).agg(count(lit(1)).as("__n"))
      .where(col("__n") > threshold)
      .localCheckpoint(false)
    // ceil(n/threshold): n ≤ 2^52 keeps the double division exact enough
    // (and the cap makes any last-ulp slack harmless)
    val salts = least(lit(maxSalts.toLong),
      floor((col("__n") + lit(threshold - 1)) / lit(threshold)))
    val sLeft = skewed.join(hot, keys, "left")
      .withColumn("__shard",
        (rand(42) * coalesce(salts, lit(1L))).cast("long"))
      .drop("__n")
    val sRight = replicated.join(hot, keys, "left")
      .withColumn("__shard",
        explode(sequence(lit(0L), coalesce(salts, lit(1L)) - 1)))
      .drop("__n")
    (sLeft, sRight)
  }
}
