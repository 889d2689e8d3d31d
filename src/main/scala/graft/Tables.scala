package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish tables (TESTDATA.md).
  *
  * All tables are single parquet files per scale factor. At cluster scale
  * these would be partitioned directories; `spark.read.parquet` handles both
  * transparently, and every query in this engine relies on Catalyst pushing
  * filters/projections into the scan (verified via `.explain` in specs).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Sessions that read the events table must be built with
    * `spark.sql.legacy.parquet.nanosAsLong=true` ([[GraftSession]] sets
    * it at builder time — a per-table `conf.set` here would silently
    * change how every LATER parquet read in the session treats nanos
    * columns, masking schema problems). */
  val nanosConf: (String, String) = ("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** AQE partition-coalescing floor (r16). AQE's coalescing targets
    * `max(min(advisorySize, totalBytes / defaultParallelism),
    * minPartitionSize)`; the stock `minPartitionSize = 1m` means any
    * shuffle under ~`1 MB × cores` collapses BELOW the cluster's
    * parallelism — measured on this build: a 6 MB
    * `repartitionByRange(col)` on `local[32]` lands on 4 partitions,
    * serializing every downstream sort/window on 4 of 32 cores (the
    * r15 32-core outliers: q_chain_recall 14.6→35 s in the driver run,
    * faster at 8 cores than 32). Lowering the floor lets the
    * parallelism-first target (`totalBytes / defaultParallelism`) win
    * at every deployment: partitions keep tracking data size at scale
    * (the advisory size still caps them) and only the
    * tiny-shuffle-on-a-big-cluster corner changes — from "a few fat
    * partitions + idle cores" to "defaultParallelism small ones".
    * Scale-parameterised by defaultParallelism, not tuned to
    * local[32]. 64k, not smaller: the A/B at sf0.1/local[32] read
    * 64k vs 16k as q_chain_recall 12.1 s / 111 s summed-task-CPU /
    * 1104 tasks vs 18.6 s / 144 s / 1318 — MB-scale exchanges (the
    * pathological case) already hit full parallelism at 64k, while a
    * sub-64k floor only shatters trivial shuffles into per-task
    * overhead. */
  val aqeMinPartitionConf: (String, String) =
    ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize events.ts to a session-UTC TIMESTAMP regardless of how the
    * file encodes it — the generator has shipped both layouts across
    * rounds, and the engine must read either without regeneration:
    *
    *  - parquet TIMESTAMP(NANOS): Spark refuses it by default
    *    (PARQUET_TYPE_ILLEGAL); with [[nanosConf]] it reads as a LONG of
    *    ns-epoch. Convert with integer division — `ts div 1000` stays in
    *    long arithmetic (double division would lose precision above 2^53,
    *    i.e. for any ns-epoch value), matching the DuckDB oracle's
    *    CAST(ts AS TIMESTAMP) truncation. IntegralDivide truncates toward
    *    zero, which for a hypothetical pre-1970 (negative) ns epoch would
    *    differ from floor-based ns→µs conversion; the event stream is
    *    post-epoch by construction (TESTDATA.md).
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    *    TIMESTAMP_NTZ. Cast to TIMESTAMP — the session timezone is pinned
    *    to UTC by [[GraftSession]], so the NTZ wall-clock
    *    value maps to the identical instant and every downstream
    *    expression sees the same TimestampType as the nanos path.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => df
    case other => sys.error(s"unexpected events.ts type: $other")
  }

  /** Dimensions whose cardinality is FIXED at every scale factor
    * (region = 5 rows, nation = 25 rows, at sf0.001 or at 100 TB).
    * Only these carry a forced `broadcast()` hint — a hint overrides
    * Spark's size checks, so it is safe exactly when the table cannot
    * outgrow an executor.
    *
    * customer / part / supplier are deliberately NOT here: they scale
    * linearly with SF (customer is ~15 B rows at the 100 TB point), so a
    * forced hint would OOM executors at scale. Joins against them go
    * unhinted through [[dimHint]]: at small SF Catalyst's size estimate
    * still plans a static broadcast (the parquet footprint sits far under
    * `spark.sql.autoBroadcastJoinThreshold`), and at large SF the plan
    * degrades gracefully to a shuffle join — with AQE converting back to
    * broadcast at runtime whenever the *measured* post-filter shuffle
    * size turns out small (witnessed in AqeSkewSpec). Either way the
    * decision is made from sizes, never forced.
    */
  val fixedDims: Set[String] = Set("region", "nation")

  /** Broadcast hint gated on fixed cardinality: `name` is the dimension
    * the frame derives from (the frame itself may be filtered/projected —
    * a filtered slice of an SF-scaling dim still scales with SF, so it is
    * judged by its source table, not its current size). */
  def dimHint(name: String, df: DataFrame): DataFrame =
    if (fixedDims(name)) org.apache.spark.sql.functions.broadcast(df) else df
}
