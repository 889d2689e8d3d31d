package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Pin.PinOps

/** Scale-safe positional-index operators.
  *
  * The reference emulates pandas' global positional index; a naive Spark
  * translation is `Window.orderBy(key)` with no partitioning — a
  * single-partition sort that funnels the whole table through one task.
  * Invisible at sf0.1, fatal at 100 TB.
  *
  * The scale-safe shape is the classic two-pass prefix composition
  * (the same decomposition the reference's legacy distributed layer used
  * for global positions and cumsums — an MPI exscan over per-rank
  * counts, `sdc/distributed_api.py:520-545`; Spark's `zipWithIndex`
  * works the same way):
  *
  *   1. `repartitionByRange` on the order keys — Spark's range
  *      partitioner samples the keys, so partitions are balanced and
  *      ordered BETWEEN partitions — then a sort within each partition,
  *      pinned ([[ranged]]);
  *   2. ranks: a row's partition-local rank is its position in the
  *      pinned, already sorted partition, read in the projection over
  *      the pinned scan. One driver-side collect of the per-partition
  *      row counts (numPartitions numbers) gives each partition's start
  *      rank, applied as an array literal indexed by partition id —
  *      no second shuffle, no window and no join;
  *   3. running ops (sum / max / min / product / lag / fills): compute
  *      the quantity WITHIN each partition (partition-local window),
  *      aggregate one row per partition (total / last value) — a
  *      metadata-sized frame — prefix-compose it with a window over
  *      that tiny frame, and broadcast-join the offsets back.
  *
  * No stage ever sorts or windows more than one partition's rows; the
  * only single-partition window runs over `numPartitions` rows.
  * All offset composition is exact (longs / decimals), so results are
  * bit-identical to the single-partition plan on any partitioning.
  *
  * Order keys must be a total order (unique tuples) for the result to be
  * well-defined — same contract as pandas' positional index.
  */
object GlobalOrder {

  private val PID = "__go_pid"
  private val LOCAL = "__go_local"
  private val OFF = "__go_off"

  /** Range-partition df by `order` and tag each row with its partition id.
    *
    * NOT expressed as a plain `repartitionByRange(...).withColumn(PID,
    * spark_partition_id())`: every caller branches the result (rows on
    * one side, per-partition summaries on the other), and after column
    * pruning the two physical exchanges are no longer identical, so
    * Spark does not reuse one shuffle — each branch re-samples its own
    * range boundaries. Two samplings can disagree on a boundary, and
    * then the per-partition offsets are composed against the wrong
    * partitioning (observed as a 27-row rank shift at sf0.01).
    *
    * An eager [[Pin]] freezes ONE partitioning: the range shuffle runs
    * exactly once, its output blocks are pinned, and every downstream
    * branch scans the same blocks — so `spark_partition_id()`
    * (non-deterministic, never pushed across an exchange) is evaluated
    * in the narrow projection directly over the checkpointed scan and
    * agrees across branches. Unlike the previous `df.rdd.
    * mapPartitionsWithIndex` freeze, no row is decoded to GenericRow and
    * re-encoded — the frame stays in Tungsten format and the projection
    * stays inside whole-stage codegen. (Pin selects localCheckpoint
    * locally, a reliable `checkpoint` on clusters — see [[Pin]] for the
    * fault-tolerance trade.)
    *
    * Scale note: the checkpoint materializes the (projected) input to
    * executor block storage (memory, spilling to disk). That is the
    * price of a frozen partitioning either way — the shuffle files of
    * the range exchange are the same order of bytes — and callers
    * always project before calling, so only order keys + needed values
    * are stored. */
  private def ranged(df: DataFrame, order: Seq[Column], parts: Int): DataFrame =
    sortedPin(df, order, parts).withColumn(PID, spark_partition_id())

  /** [[ranged]] without the partition id: the range exchange, the sort
    * within each partition, and the pin. */
  private def sortedPin(df: DataFrame, order: Seq[Column], parts: Int): DataFrame = {
    // parts <= 0 (every production caller): no explicit partition
    // count, so the range exchange enters AQE as REPARTITION_BY_COL
    // and its partition count is sized at runtime from the measured
    // shuffle bytes instead of a fixed spark.sql.shuffle.partitions
    // constant (r15, guide §2: derive partitioning from input size).
    // CEILING (r16 honesty fix): AQE only COALESCES below
    // spark.sql.shuffle.partitions — it never grows above it, so at
    // deployment that conf (or spark.sql.adaptive.coalescePartitions.
    // initialPartitionNum) remains the upper bound for every ranked
    // exchange and must be sized for the cluster (README deploy
    // notes). FLOOR (r16): coalescing is kept parallelism-first down
    // to tiny shuffles via Tables.aqeMinPartitionConf — the stock 1 MB
    // minPartitionSize collapsed small range shuffles to a handful of
    // partitions, serializing the downstream local sort/window on a
    // few of local[32]'s cores (the r15 driver's 32-core outliers).
    // Correctness is partitioning-agnostic by construction: the offset
    // composition is exact on ANY partition count, and AQE coalescing
    // merges only ADJACENT range partitions, preserving the
    // between-partition order the PID prefix composition needs. An
    // explicit `parts` pins the count exactly as before (spec probes).
    val ordered =
      if (parts > 0) df.repartitionByRange(parts, order: _*)
      else df.repartitionByRange(order: _*)
    ordered.sortWithinPartitions(order: _*).pinned
  }

  /** Per-partition summary → exclusive prefix over the tiny frame. */
  private def exclusivePrefix(perPart: DataFrame, valueCol: String, zero: Column): DataFrame = {
    val w = Window.orderBy(col(PID)).rowsBetween(Window.unboundedPreceding, -1)
    perPart.withColumn(OFF, coalesce(sum(col(valueCol)).over(w), zero))
      .drop(valueCol)
  }

  /** Global 1-based row_number over `order`, as column `name`. */
  def withRowNumber(df: DataFrame, order: Seq[Column], name: String,
                    parts: Int = 0): DataFrame =
    withRowNumberLong(df, order, name, parts)
      .withColumn(name, col(name).cast("int"))

  /** Global 1-based ranks over `order` as long column `name`, and the
    * row count n — the ONE global-rank core that row numbers and the
    * quantile operators build on.
    *
    * A pinned partition is read back in the order it was written, so a
    * row's partition-local rank is its position in the sorted partition:
    * `monotonically_increasing_id()` is (partition id << 33) + position,
    * and both it and `spark_partition_id()` are evaluated in the
    * projection directly over the pinned scan (non-deterministic, so no
    * filter is pushed below it and the evaluation is never deferred), the
    * premise [[ranged]] documents. The partition start ranks come from
    * one driver-side collect of the per-partition counts
    * ([[Pin.partitionCounts]], dense over every partition id, so the
    * ANSI-checked `element_at` never reads out of range). A partition
    * holds fewer than 2^33 rows. */
  private def ranks(df: DataFrame, order: Seq[Column], name: String,
                    parts: Int): (DataFrame, Long) = {
    val pin = sortedPin(df, order, parts)
    val starts = Pin.partitionCounts(pin).scanLeft(0L)(_ + _)
    val local = monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + 1
    val start = element_at(typedLit(starts.init), spark_partition_id() + 1)
    (pin.withColumn(name, local + start), starts.last)
  }

  /** [[withRowNumber]] without the pandas-int32 output cast — the rank
    * stays a long, for internal consumers that must survive >2^31 rows
    * (e.g. [[exactQuantiles]]' bracketing-rank compares). */
  def withRowNumberLong(df: DataFrame, order: Seq[Column], name: String,
                        parts: Int = 0): DataFrame =
    ranks(df, order, name, parts)._1

  /** Global running decimal sum of `value` over `order`, as double
    * column `name` (exact ⇒ identical to a single-pass cumsum). */
  def withRunningSum(df: DataFrame, order: Seq[Column], value: Column,
                     name: String, scale: Int = 2, parts: Int = 0): DataFrame = {
    val dec = DecimalType(30, scale)
    val r = ranged(df, order, parts)
    val wLocal = Window.partitionBy(col(PID)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = r.withColumn(LOCAL, sum(value.cast(dec)).over(wLocal))
    val totals = local.groupBy(col(PID)).agg(sum(value.cast(dec)).as("__tot"))
    val offsets = exclusivePrefix(totals, "__tot", lit(0).cast(dec))
    local.join(broadcast(offsets), PID)
      .withColumn(name, (col(LOCAL) + col(OFF)).cast("double"))
      .drop(PID, LOCAL, OFF)
  }

  /** Global running max of `value` over `order` (pandas cummax), as
    * column `name`. Max composes associatively with no precision caveat:
    * partition-local running max, then each partition takes the max of
    * all PRECEDING partitions' maxima from the broadcast summary
    * (greatest() skips the null offset of the first partition). */
  def withRunningMax(df: DataFrame, order: Seq[Column], value: Column,
                     name: String, parts: Int = 0): DataFrame = {
    val r = ranged(df, order, parts)
    val wLocal = Window.partitionBy(col(PID)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = r.withColumn(LOCAL, max(value).over(wLocal))
    val wPrev = Window.orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col(PID)).agg(max(value).as("__top"))
      .withColumn(OFF, max(col("__top")).over(wPrev))
      .drop("__top")
    local.join(broadcast(offsets), PID)
      .withColumn(name, greatest(col(LOCAL), col(OFF)))
      .drop(PID, LOCAL, OFF)
  }

  /** Global running min of `value` over `order` (pandas cummin) — the
    * exact mirror of [[withRunningMax]] (least() skips the null offset
    * of the first partition, like greatest() does there). */
  def withRunningMin(df: DataFrame, order: Seq[Column], value: Column,
                     name: String, parts: Int = 0): DataFrame = {
    val r = ranged(df, order, parts)
    val wLocal = Window.partitionBy(col(PID)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = r.withColumn(LOCAL, min(value).over(wLocal))
    val wPrev = Window.orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col(PID)).agg(min(value).as("__bot"))
      .withColumn(OFF, min(col("__bot")).over(wPrev))
      .drop("__bot")
    local.join(broadcast(offsets), PID)
      .withColumn(name, least(col(LOCAL), col(OFF)))
      .drop(PID, LOCAL, OFF)
  }

  /** Global running product of `value` over `order` (pandas cumprod):
    * partition-local product window, then each row multiplies by the
    * product of all PRECEDING partitions' totals from the broadcast
    * summary (empty prefix ⇒ null offset ⇒ coalesce to 1).
    *
    * FP caveat, unlike the decimal [[withRunningSum]]: double
    * multiplication is reassociated by the two-pass grouping, so for
    * general doubles the result can differ from the sequential product
    * in the last ulp. Callers that need bit-identity across engines
    * (the oracle-checked q_cumprod) feed sign/power-of-two values,
    * whose products are exact under any grouping. */
  def withRunningProduct(df: DataFrame, order: Seq[Column], value: Column,
                         name: String, parts: Int = 0): DataFrame = {
    val r = ranged(df, order, parts)
    val wLocal = Window.partitionBy(col(PID)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = r.withColumn(LOCAL, product(value).over(wLocal))
    val wPrev = Window.orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col(PID)).agg(product(value).as("__tot"))
      .withColumn(OFF, coalesce(product(col("__tot")).over(wPrev), lit(1.0)))
      .drop("__tot")
    local.join(broadcast(offsets), PID)
      .withColumn(name, col(LOCAL) * col(OFF))
      .drop(PID, LOCAL, OFF)
  }

  /** Exact nearest-rank quantiles (pandas interpolation='higher':
    * the VALUE at rank max(1, ⌈q·n⌉)) as a 1-row frame — the bound of
    * choice when the result feeds comparisons or output columns,
    * because a picked data value is bit-identical across engines at
    * any n, while interpolated quantiles retain last-ulp freedom
    * (measured on DuckDB quantile_cont(0.05) at sf0.1). Same one-pass
    * shape as [[exactQuantiles]]: ranks from the range shuffle, total
    * count from the same per-partition counts (never a second scan),
    * picks as conditional sums — the full ranked frame is never
    * materialized. */
  def nearestRankPicks(df: DataFrame, value: Column,
                       qs: Seq[(String, Double)], parts: Int = 0): DataFrame = {
    val vals = df.select(value.as("__v")).filter(col("__v").isNotNull)
    val (ranked, n) = ranks(vals, Seq(col("__v")), "__rn", parts)
    def k(q: Double) =
      greatest(ceil(lit(n).cast("double") * q).cast("long"), lit(1L))
    val picks = qs.map { case (name, q) =>
      sum(when(col("__rn") === k(q), col("__v"))).as(name)
    }
    ranked.agg(picks.head, picks.tail: _*)
  }

  /** Exact interpolated quantiles (pandas 'linear' / SQL quantile_cont)
    * of one column, sort-based: global rank via the two-pass range
    * composition, then ONE scan picks the two bracketing ranks per
    * quantile and interpolates as lower + (upper − lower) · frac — the
    * op sequence DuckDB's quantile_cont uses, so oracle results match
    * bit-for-bit. (Spark's Percentile interpolates as
    * (higher−pos)·lower + (pos−lower)·higher, which can differ in the
    * last ulp; GlobalOrderSpec's exact compare against percentile() is
    * fixture-specific, not an engine identity.)
    *
    * Spark's exact `percentile` aggregate builds a value→count hashmap
    * per partition and merges them — slow and memory-heavy on
    * near-unique columns (4.8 s vs ~1.5 s at sf0.1 on 600k distinct
    * doubles), and the merged map must fit on one reducer. The
    * sort-based path is the classic distributed exact quantile: nothing
    * ever exceeds a partition's rows, and the rank targets are exact
    * ((n−1)·q for dyadic q; rank compares are long equality).
    *
    * Reference: exact quantiles named a hard part in SURVEY §7;
    * `S.quantile` at `sdc/datatypes/hpat_pandas_series_functions.py:2880`. */
  def exactQuantiles(df: DataFrame, value: Column,
                     qs: Seq[(String, Double)], parts: Int = 0): DataFrame = {
    require(qs.nonEmpty, "exactQuantiles needs at least one quantile")
    val vals = df.select(value.as("__v")).filter(col("__v").isNotNull)
    // The total count comes with the ranks' per-partition counts — a
    // separate vals.agg(count) subtree would re-scan the source.
    val (ranked, n) = ranks(vals, Seq(col("__v")), "__rn", parts)
    def k(q: Double) = (lit(n) - 1).cast("double") * lit(q)
    val picks = qs.flatMap { case (name, q) =>
      Seq(
        sum(when((col("__rn") - 1).cast("long") === floor(k(q)).cast("long"),
          col("__v"))).as(s"__lo_$name"),
        sum(when((col("__rn") - 1).cast("long") === ceil(k(q)).cast("long"),
          col("__v"))).as(s"__hi_$name"))
    }
    val agg = ranked.agg(picks.head, picks.tail: _*)
    agg.select(qs.map { case (name, q) =>
      val frac = k(q) - floor(k(q))
      (col(s"__lo_$name") +
        (col(s"__hi_$name") - col(s"__lo_$name")) * frac).as(name)
    }: _*)
  }

  /** Global lag(value, 1) over `order`, as column `name`: partition-local
    * lag, with each partition's first row patched from the previous
    * partition's last value (carried via the broadcast summary frame). */
  def withLag(df: DataFrame, order: Seq[Column], value: Column,
              name: String, parts: Int = 0): DataFrame = {
    val r = ranged(df, order, parts)
    val wLocal = Window.partitionBy(col(PID)).orderBy(order: _*)
    val local = r
      .withColumn(LOCAL, row_number().over(wLocal))
      .withColumn(name, lag(value, 1).over(wLocal))
    val lasts = local.groupBy(col(PID))
      .agg(max_by(value, col(LOCAL)).as("__last"))
      .select((col(PID) + 1).as(PID), col("__last"))
    local.join(broadcast(lasts), Seq(PID), "left")
      .withColumn(name, when(col(LOCAL) === 1, col("__last")).otherwise(col(name)))
      .drop(PID, LOCAL, "__last")
  }

  /** Global forward-fill (pandas `ffill`): nulls take the last non-null
    * over the total order, as column `name`. Partition-local running
    * `last(ignoreNulls)` over the frozen range partitioning; a row
    * still null after the local pass (an all-null partition prefix) is
    * patched from the nearest PRECEDING partition's last non-null. The
    * carry is a running ignore-nulls window over the numPartitions-row
    * summary frame (runs of entirely-null partitions chain through it),
    * broadcast back on pid — the table itself never funnels through a
    * single-partition window. */
  def withFfill(df: DataFrame, order: Seq[Column], value: Column,
                name: String, parts: Int = 0): DataFrame =
    fillDirected(df, order, value, name, parts, forward = true)

  /** Global backward-fill (pandas `bfill`): the mirror of [[withFfill]]
    * — the same ascending range partitioning with both window
    * directions flipped. Each call pays its own range shuffle; to fill
    * BOTH directions over one shuffle use [[withFills]]. */
  def withBfill(df: DataFrame, order: Seq[Column], value: Column,
                name: String, parts: Int = 0): DataFrame =
    fillDirected(df, order, value, name, parts, forward = false)

  /** ffill AND bfill of one value column over a SINGLE range shuffle:
    * both directed local windows and both carry frames ride the same
    * frozen partitioning (composing withBfill(withFfill(...)) would
    * range-shuffle and checkpoint-materialize the table twice). */
  def withFills(df: DataFrame, order: Seq[Column], value: Column,
                ffName: String, bfName: String, parts: Int = 0): DataFrame = {
    val r = ranged(df, order, parts)
    val wf = Window.partitionBy(col(PID)).orderBy(order: _*)
    val wb = Window.partitionBy(col(PID)).orderBy(order.map(_.desc): _*)
    val local = r
      .withColumn(LOCAL, row_number().over(wf))
      .withColumn("__bl", row_number().over(wb))
      .withColumn(ffName, last(value, ignoreNulls = true)
        .over(wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(bfName, last(value, ignoreNulls = true)
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val lasts = local.groupBy(col(PID)).agg(
      max_by(col(ffName), col(LOCAL)).as("__fl"),
      max_by(col(bfName), col("__bl")).as("__bfirst"))
    val wcF = Window.orderBy(col(PID).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wcB = Window.orderBy(col(PID).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = lasts
      .withColumn("__cf", last(col("__fl"), ignoreNulls = true).over(wcF))
      .withColumn("__cb", last(col("__bfirst"), ignoreNulls = true).over(wcB))
      .select(col(PID), col("__cf"), col("__cb"))
    local.join(broadcast(carry), Seq(PID), "left")
      .withColumn(ffName, coalesce(col(ffName), col("__cf")))
      .withColumn(bfName, coalesce(col(bfName), col("__cb")))
      .drop(PID, LOCAL, "__bl", "__cf", "__cb")
  }

  /** pandas `interpolate(method='linear')` over the total order:
    * interior nulls take the position-weighted blend of the surrounding
    * non-nulls, trailing nulls repeat the last valid value, leading
    * nulls stay null (pandas' default limit_direction='forward', which
    * still interpolates interior gaps from both sides).
    *
    * Built on the one-shuffle fill machinery: the global row number
    * (two-pass, no single-partition window) is attached first, then
    * [[withFills]] carries (value, position) STRUCTS — a null value
    * yields a null struct, so ignore-nulls fills propagate both the
    * neighbor value and its position — and the blend
    * `fv + (bv − fv) · (rn − fp)/(bp − fp)` is a pure projection. */
  def withInterpolate(df: DataFrame, order: Seq[Column], value: Column,
                      name: String, parts: Int = 0): DataFrame = {
    val rn = "__go_rn"
    val carried = when(value.isNotNull,
      struct(value.as("v"), col(rn).as("p")))
    val filled = withFills(
      withRowNumber(df, order, rn, parts).withColumn("__sv", carried),
      order, col("__sv"), "__f", "__b", parts)
    val (fv, fp) = (col("__f.v"), col("__f.p"))
    val (bv, bp) = (col("__b.v"), col("__b.p"))
    val w = (col(rn) - fp).cast("double") / (bp - fp).cast("double")
    filled
      .withColumn(name,
        when(value.isNotNull, value)
          .when(fv.isNotNull && bv.isNotNull, fv + (bv - fv) * w)
          .when(fv.isNotNull, fv))
      .drop(rn, "__sv", "__f", "__b")
  }

  private def fillDirected(df: DataFrame, order: Seq[Column], value: Column,
                           name: String, parts: Int,
                           forward: Boolean): DataFrame = {
    val r = ranged(df, order, parts)
    val ord = if (forward) order else order.map(_.desc)
    val pidOrd = if (forward) col(PID).asc else col(PID).desc
    val wLocal = Window.partitionBy(col(PID)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = r
      .withColumn(LOCAL, row_number().over(
        Window.partitionBy(col(PID)).orderBy(ord: _*)))
      .withColumn(name, last(value, ignoreNulls = true).over(wLocal))
    // per-partition last non-null = the filled value on the final row
    // of the directed local order
    val lasts = local.groupBy(col(PID))
      .agg(max_by(col(name), col(LOCAL)).as("__pl"))
    val wCarry = Window.orderBy(pidOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = lasts
      .withColumn("__carry", last(col("__pl"), ignoreNulls = true).over(wCarry))
      .select(col(PID), col("__carry"))
    local.join(broadcast(carry), Seq(PID), "left")
      .withColumn(name, coalesce(col(name), col("__carry")))
      .drop(PID, LOCAL, "__carry")
  }
}
