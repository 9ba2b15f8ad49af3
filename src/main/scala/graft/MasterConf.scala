package graft

import org.apache.spark.sql.SparkSession

/** Master selection for the driver mains (VERDICT r12 next #1 — cross
  * the executor serialization boundary).
  *
  * `SPARK_GRAFT_MASTER` overrides each main's default `local[cpus]`
  * master. A `local-cluster[workers,cores,memMB]` value spawns REAL
  * worker JVMs from the `/opt/spark` distribution, so everything the
  * single-JVM `local[*]` mode never serializes — broadcast codebooks,
  * plan-embedded codegen references (x72's JL matrix), the
  * `TypedImperativeAggregate` partial-buffer serialize/merge path,
  * closure-captured kernels, and [[EstateFs]] conf resolution on
  * executors — crosses a process boundary for the first time. Results
  * must be IDENTICAL to local[32]; the round-13 parity run drives the
  * full registry + ApSim through it.
  *
  * local-cluster needs two things the single-JVM modes don't:
  *  - the repo's compiled classes on the EXECUTOR classpath (sbt runs
  *    the driver from `target/scala-2.13/classes`, but worker-spawned
  *    executors only inherit the distribution's jars);
  *  - the JDK-17 `--add-opens` module flags (build.sbt injects them
  *    into the forked DRIVER; executors are launched by the worker and
  *    need them via `spark.executor.extraJavaOptions`).
  */
object MasterConf {

  /** Same module-opens list as build.sbt's driver flags. */
  private val jdk17Opens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** The effective master for a main whose single-JVM default is
    * `defaultMaster`. */
  def master(defaultMaster: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster)

  /** Apply master + any cluster-mode executor config to `b`. */
  def apply(b: SparkSession.Builder, defaultMaster: String): SparkSession.Builder = {
    val m = master(defaultMaster)
    val withMaster = b.master(m)
    if (!m.startsWith("local-cluster")) withMaster
    else {
      val classes =
        new java.io.File("target/scala-2.13/classes").getAbsolutePath
      withMaster
        .config("spark.executor.extraClassPath", classes)
        .config("spark.executor.extraJavaOptions", jdk17Opens)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "2560m"))
    }
  }

  /** The session Bench, BenchTopK and Verify share, so the oracle checks
    * the plans the bench times: master as [[apply]] with `local[cpus]`
    * as the default, one shuffle partition per core, no UI, UTC, and AQE
    * coalescing by bytes. Without `parallelismFirst=false` AQE refuses
    * to coalesce below the core count, so tiny-row keys pay full-width
    * shuffle overhead (VERDICT r2 #5); sub-64MB post-shuffle stages
    * collapse to few partitions, big stages are untouched. */
  def session(cpus: String): SparkSession = {
    val spark = apply(SparkSession.builder(), s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
