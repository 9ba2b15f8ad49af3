package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access for the driver testdata (TESTDATA.md).
  *
  * Mirrors the reference's notion of named catalogs handed between pipeline
  * stages (`/root/reference/python/lsst/l1dbproto/_executors.py:64-68`), but
  * as lazily-planned Spark scans so Catalyst prunes columns/predicates.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  /** events.parquet's `ts` column has changed physical type across
    * driver data generations: INT64 TIMESTAMP(NANOS) (which Spark's
    * reader rejects by default — read nanos as long, truncate to micros,
    * exactly DuckDB's NANOS coercion) and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ).
    * Normalize BOTH to TimestampType under the session's UTC zone so
    * every downstream plan — and every oracle comparison — sees one
    * schema regardless of the writer's vintage. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // cast(NTZ -> timestamp) interprets the wall-clock in the
        // SESSION zone; every graft session pins UTC, and a non-UTC
        // caller would silently shift every event by its zone offset
        // (the nanos branch has no such dependence) — fail loudly
        // instead of corrupting
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "Tables.events: TIMESTAMP_NTZ data requires " +
            "spark.sql.session.timeZone=UTC (got '" +
            s.conf.get("spark.sql.session.timeZone") + "')")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** True when `df`'s relation is too small for its scan to fill even a
    * quarter of the session's cores with natural input splits — the
    * regime where everything computed ABOVE the bare scan (tokenize →
    * explode → hash chains, orders of magnitude more work than the
    * bytes read) runs as one or two tasks at ANY core count (r16,
    * guide §2.5 input skew: "one huge unsplittable file … repartition
    * immediately after the read"). Size comes from the optimizer's
    * relation statistics (driver-side metadata, no job). */
  private[graft] def scanUnderfillsCores(df: DataFrame): Boolean = {
    val s = df.sparkSession
    val n = s.sparkContext.defaultParallelism.toLong
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        s.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    bytes * 4 < BigInt(n * maxSplit)
  }

  /** Explicit-width hash repartition on `keys` when `small` (the
    * caller's [[scanUnderfillsCores]] reading), else `df` unchanged —
    * the one place that picks the pinned width. A user-specified
    * partition count is exempt from AQE's byte-based coalescing, which
    * prices an exchange by its INPUT bytes and so collapses the
    * parallelism under exploding stages (candidate joins, pair
    * generators) and under near-unique-key final aggregates, whose
    * partial aggregate combines almost nothing (the x83 finding, guide
    * §2.5). The same-key groupBy/window/join above reuses the exchange
    * (guide §2.4). At estate scale the gate is false and the plan is
    * untouched. */
  private[graft] def pinWidth(small: Boolean, df: DataFrame,
      keys: String*): DataFrame =
    if (small)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        keys.map(col): _*)
    else df

  /** Spread a SMALL scan across the cores before heavy per-row work
    * (the measured x83 failure: 64 MB of part sets fan out ~8× into
    * pair rows on 1–2 tasks). Hashing on `key` is deterministic (no
    * round-robin/rand). Large relations (the 100 TB case) keep their
    * natural split parallelism: nothing here tunes FOR the local bench
    * — it only stops tiny inputs from serializing the whole engine onto
    * one core. */
  private[graft] def spreadSmallScan(df: DataFrame, key: String): DataFrame =
    pinWidth(scanUnderfillsCores(df), df, key)
}
