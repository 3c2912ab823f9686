package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Tuned for the harness environment (single-JVM local mode standing in
  * for a multi-executor cluster): AQE on so runtime re-planning (skew
  * join, coalesce partitions, broadcast demotion) behaves like it would
  * on a 1000-executor cluster; shuffle partitions sized to the core
  * count instead of the 200 default; UTC session time zone for oracle
  * parity; `file:` on [[ForklessLocalFileSystem]] / [[ForklessLocalFs]]
  * (no `chmod`/`readlink` process per create or rename). Hadoop caches
  * a JVM's first `file:` FileSystem: one made before this keeps Hadoop's.
  *
  * Generated code is compiled once per session, not once per run:
  *  - `spark.sql.codegen.cache.maxEntries` [[CodegenCacheEntries]]. Spark
  *    keys its cache of compiled classes by (class loader, source) and
  *    holds 100, which Guava enforces as 4 LRU segments of 25. One
  *    iteration of the benchmark's corpus build and admission generates
  *    about 125 classes, so at 100 every warm iteration compiled 91 of
  *    them again. The cache is a static conf, sized once per JVM when
  *    the first class is compiled: a JVM that compiled generated code
  *    before this session keeps Spark's 100.
  *  - `spark.sql.artifact.isolation.enabled=false`. With isolation on,
  *    every streaming query runs in a cloned session whose artifacts
  *    get their own executor class loader, so each query start
  *    recompiled its classes under a new cache key, and task threads
  *    queued on the cache's per-key lock behind those compiles. Off, every session shares the
  *    executor's one class loader. Session artifacts (`addArtifact`,
  *    per-session jars) are then shared by all sessions; nothing under
  *    `src/` adds any.
  *  - `spark.buffer.pageSize=2m`. Spark sizes execution pages from
  *    the heap and core count (16 MB for a 2 GB heap on 4 cores), and
  *    G1 allocates each page outside the young generation, so faster
  *    tasks that leave more pages alive between young collections raise
  *    peak RSS. With 2 MB pages and the two settings above, peak RSS
  *    stayed at or below its earlier level on every benchmark workload.
  */
object Session {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Compiled classes the codegen cache holds: several times the
    * largest working set measured (about 125 classes, one corpus build
    * plus admission), so a long-lived session that runs several
    * workloads still compiles each class once. */
  val CodegenCacheEntries = 1000

  def local(appName: String = "graft", cores: Int = cpus,
            warehouseDir: Option[String] = None): SparkSession = {
    val builder0 = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
    val spark = warehouseDir.foldLeft(builder0)(
      (b, dir) => b.config("spark.sql.warehouse.dir", dir))
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // autoBroadcastJoinThreshold stays at Spark's 10MB default: the
      // round-14 64MB raise (motivated by ONE consumer — the x99 ref
      // anti join's 12MB orders side) re-priced every join in the
      // engine and made the semi/anti gates pay a driver-side
      // 1.5M-key hash build (+81%/+158% at sf1, round-14 verdict).
      // The one consumer that wanted it now scopes its own strategy:
      // Expectations.audit hints SHUFFLE_HASH on its reference side.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForklessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForklessLocalFs].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.buffer.pageSize", "2m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerLateRules(spark)
    spark
  }

  /** The extension-injected copy of SemiAntiRightDedup runs in the
    * operator-optimization batches and so never sees the semi/anti
    * joins that SQL EXISTS/NOT EXISTS/IN predicates become in the
    * late RewriteSubquery batch — the "User Provided Optimizers"
    * batch (experimental.extraOptimizations) runs after it and does.
    * Idempotent across both registrations (the rule skips existing
    * aggregates), and across repeat calls on a reused session. */
  private def registerLateRules(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.SemiAntiRightDedup))
      spark.experimental.extraOptimizations ++= Seq(graft.plans.SemiAntiRightDedup)
}
