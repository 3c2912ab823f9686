package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-table access (SURVEY.md §2.1 S4/S13).
  *
  * The reference scans named warehouse tables
  * (`export_svg.py:245,260,291`); here the harness fixtures are one
  * Parquet file per table under a scale-factor directory
  * (TESTDATA.md). Parquet scans give Catalyst predicate pushdown,
  * column pruning, and (for `k=v` layouts) hive partition discovery
  * for free — nothing custom to write.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan one fixture table.
    *
    * `ts` has shipped in three physical shapes across fixture
    * generations, and the load path is the one place that absorbs the
    * drift so every consumer sees session-zone `TimestampType`:
    *
    *  - Parquet TIMESTAMP(NANOS): Spark rejects it unless
    *    `spark.sql.legacy.parquet.nanosAsLong` is on (sessions created
    *    by `Session.local` set it), with which it arrives as a
    *    LONG of nanoseconds → integer-`div` to µs (not `/`, which is
    *    double division and loses precision above 2^53 ns — the same
    *    floor truncation DuckDB applies when reading ns Parquet);
    *  - Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — the current
    *    fixtures — which Spark 4 infers as TIMESTAMP_NTZ → cast to
    *    TimestampType, interpreting the wall clock in the session zone
    *    (UTC in every graft session), matching how the DuckDB oracle
    *    reads the same naive values;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=true): already arrives as
    *    TimestampType, passes through.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cacheFor(spark).plans.computeIfAbsent((dir, name), _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case Some(TimestampNTZType) =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    })

  // Re-resolving a fixture path re-lists files and re-reads footers on
  // every query; the fixtures are immutable, so reuse the resolved
  // plan per (session, dir, table). Plans are tiny; entries must die
  // with the session. A global strong map can't deliver that — a
  // cached DataFrame strongly references its SparkSession, so even
  // weak KEYS are inert (value→key cycle pins the entry). Instead the
  // per-session plan map is owned BY the session: it doubles as a
  // never-matching SparkStrategy appended to the session-scoped
  // `experimental.extraStrategies`, so the strong chain session →
  // sessionState → experimentalMethods → plans → DataFrames → session
  // is a cycle wholly inside the session's object island. (NOT
  // `listenerManager.register`: that escapes to the shared
  // SparkContext's LiveListenerBus via ExecutionListenerBus and pins
  // the session context-wide.) The only global state is a WeakHashMap
  // with WeakReference values — once callers drop a session, the
  // whole island (plans included) is collectable; TablesSpec proves
  // it with a GC loop.
  private final class PlanCache
      extends org.apache.spark.sql.execution.SparkStrategy {
    val plans =
      new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
    override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = Nil
  }

  private val sessionCaches =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.WeakReference[PlanCache]]()

  private def cacheFor(spark: SparkSession): PlanCache =
    sessionCaches.synchronized {
      Option(sessionCaches.get(spark)).flatMap(r => Option(r.get))
        .getOrElse {
          val pc = new PlanCache
          // session-lifetime strong anchor, invisible to planning
          // (apply always returns Nil)
          spark.experimental.extraStrategies =
            spark.experimental.extraStrategies :+ pc
          sessionCaches.put(spark, new java.lang.ref.WeakReference(pc))
          pc
        }
    }

  /** Register every fixture table as a temp view (for `spark.sql`). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
