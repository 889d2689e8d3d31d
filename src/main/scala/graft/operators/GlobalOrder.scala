package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType}
import graft.functions.RunningScan
import graft.operators.Pin.PinOps

/** Scale-safe positional-index operators.
  *
  * The reference emulates pandas' global positional index; a naive Spark
  * translation is `Window.orderBy(key)` with no partitioning — a
  * single-partition sort that funnels the whole table through one task.
  * Invisible at sf0.1, fatal at 100 TB.
  *
  * The scale-safe shape is the exscan of the reference's legacy
  * distributed layer (an MPI exscan over per-rank summaries,
  * `sdc/distributed_api.py:520-545`; Spark's `zipWithIndex` works the
  * same way):
  *
  *   1. `repartitionByRange` on the order keys (partitions balanced and
  *      ordered BETWEEN each other), a sort within each partition, and a
  *      pin ([[sortedPin]]);
  *   2. one driver-side collect of a summary per pinned partition
  *      ([[Pin.partitionSummaries]]: its row count, or the fold of its
  *      values), composed on the driver into each partition's start rank
  *      or carry, an array literal indexed by `spark_partition_id()`;
  *   3. ranks and running ops alike read one position or scan within the
  *      pinned partition, in the projection directly over the pinned
  *      scan: a rank is the position plus the start, a running op (sum /
  *      max / min / product / lag / fills) the stateful [[RunningScan]]
  *      seeded with the carry. Backward fills scan each partition after a
  *      local descending sort of the same pin, carried from the
  *      partitions after it.
  *
  * No plan holds a window, a second shuffle or a broadcast. All
  * composition is exact (longs / decimals, max / min, last values; the
  * double product keeps its per-partition grouping), so results do not
  * depend on the partitioning. Order keys must be a total order (unique
  * tuples) — same contract as pandas' positional index.
  */
object GlobalOrder {

  /** Range-partition df by `order`, sort within each partition, and pin.
    *
    * The rows and their per-partition summaries are read by separate
    * jobs, and each execution of a range exchange samples its own
    * boundaries: two samplings can disagree on a boundary and compose the
    * starts or carries against the wrong partitioning (observed as a
    * 27-row rank shift at sf0.01). The eager [[Pin]] freezes ONE
    * partitioning that both read, so `spark_partition_id()`
    * (non-deterministic, never pushed across an exchange), evaluated in
    * the narrow projection directly over the pinned scan, agrees with the
    * summaries' partition order. The pin costs the same order of bytes as
    * the range exchange's shuffle files; callers project first, so only
    * order keys and needed values are stored. */
  private def sortedPin(df: DataFrame, order: Seq[Column], parts: Int,
                        positions: Boolean = false): DataFrame = {
    // parts <= 0 (every production caller): AQE sizes the range exchange
    // from the measured shuffle bytes. It only COALESCES below
    // spark.sql.shuffle.partitions, so that conf stays the ceiling and
    // must be sized for the cluster (README deploy notes); the floor is
    // Tables.aqeMinPartitionConf, since the stock 1 MB minimum collapsed
    // small range shuffles onto a few of local[32]'s cores. Coalescing
    // merges only ADJACENT range partitions, so the between-partition
    // order the composition needs holds on any count. An explicit
    // `parts` fixes the count (spec probes).
    val ordered =
      if (parts > 0) df.repartitionByRange(parts, order: _*)
      else df.repartitionByRange(order: _*)
    val sorted = ordered.sortWithinPartitions(order: _*)
    // `positions`: each row's (partition id << 33) + position, evaluated
    // by the task that writes the pinned partition, so it is stored with
    // the row and survives a later local sort ([[withInterpolate]])
    (if (positions) sorted.withColumn(Position, monotonically_increasing_id())
     else sorted).pinned
  }

  private val Position = "__go_pos"

  /** Partition-local position of `pos` (as [[sortedPin]] stores it). */
  private def localPosition(pos: Column): Column = pos.bitwiseAND(lit((1L << 33) - 1))

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
    * premise [[sortedPin]] documents. The partition start ranks come from
    * the per-partition row counts ([[Pin.partitionSummaries]], dense over
    * every partition id, so the ANSI-checked `element_at` never reads out
    * of range). A partition holds fewer than 2^33 rows. */
  private def ranks(df: DataFrame, order: Seq[Column], name: String,
                    parts: Int): (DataFrame, Long) = {
    val pin = sortedPin(df, order, parts)
    val starts = Pin.partitionSummaries(pin)(_.size.toLong).scanLeft(0L)(_ + _)
    val local = localPosition(monotonically_increasing_id()) + 1
    val start = element_at(typedLit(starts.init), spark_partition_id() + 1)
    (pin.withColumn(name, local + start), starts.last)
  }

  /** [[withRowNumber]] without the pandas-int32 output cast — the rank
    * stays a long, for internal consumers that must survive >2^31 rows
    * (e.g. [[exactQuantiles]]' bracketing-rank compares). */
  def withRowNumberLong(df: DataFrame, order: Seq[Column], name: String,
                        parts: Int = 0): DataFrame =
    ranks(df, order, name, parts)._1

  /** One scan of [[running]]: [[RunningScan]] `kind` over `value`, as
    * column `name`; a `backward` scan reads each partition's rows last to
    * first. */
  private case class Scan(kind: String, value: Column, name: String,
                          backward: Boolean = false)

  /** [[scanPinned]] over `df` pinned range-sorted by `order`. */
  private def running(df: DataFrame, order: Seq[Column], parts: Int,
                      scans: Scan*): DataFrame =
    scanPinned(sortedPin(df, order, parts), order, scans)._1

  /** The ONE running-op core: fold each partition of the range-sorted
    * `pin`'s values in scan order, compose each partition's carry from
    * the folds of the partitions before it in scan order, and run the
    * scans seeded with their carries; also returns each partition's row
    * count, from the same collect. A fold of None carries nothing: no
    * non-null value, or no row for `lag`, whose first row so reads the
    * last value of the previous NON-EMPTY partition. */
  private def scanPinned(pin: DataFrame, order: Seq[Column],
                         scans: Seq[Scan]): (DataFrame, Array[Long]) = {
    val values = scans.map(_.value)
    val types = pin.select(values: _*).schema.map(_.dataType).toArray
    val kinds = scans.map(_.kind).toArray
    val backward = scans.map(_.backward).toArray
    val summaries = Pin.partitionSummaries(pin, values: _*) { rows =>
      val steps = kinds.indices.map(i => RunningScan.step(kinds(i), types(i)))
      val folds = Array.fill[Option[Any]](kinds.length)(None)
      var count = 0L
      for (r <- rows) {
        count += 1
        for (i <- kinds.indices) {
          val v = InternalRow.copyValue(r.get(i, types(i)))
          if (v != null || kinds(i) == "lag") folds(i) = Some(
            if (backward(i)) steps(i)(v, folds(i).orNull) else steps(i)(folds(i).orNull, v))
        }
      }
      (folds, count)
    }.unzip
    // each partition's carry, as one Catalyst array literal of the value
    // type (so a struct value carries as it is)
    def carry(i: Int): Column = {
      val step = RunningScan.step(kinds(i), types(i))
      def inScanOrder[A](a: Array[A]) = if (backward(i)) a.reverse else a
      val carries = inScanOrder(inScanOrder(summaries._1.map(_(i)))
        .scanLeft(Option.empty[Any])((c, f) => f.map(step(c.orNull, _)).orElse(c)).init)
      val literal = Literal(new GenericArrayData(carries.map(_.orNull)), ArrayType(types(i)))
      element_at(lit(literal), spark_partition_id() + 1)
    }
    def scanned(frame: DataFrame, which: Seq[Int]) = which.foldLeft(frame)((f, i) =>
      f.withColumn(scans(i).name, graft.functions.running(kinds(i), values(i), carry(i))))
    val (fwd, bwd) = scans.indices.partition(!backward(_))
    val forward = scanned(pin, fwd)
    (if (bwd.isEmpty) forward
     else scanned(forward.sortWithinPartitions(order.map(_.desc): _*), bwd),
     summaries._2)
  }

  /** Global running decimal sum of `value` over `order`, as double
    * column `name` (exact ⇒ identical to a single-pass cumsum). The
    * `decimal(30, scale)` values are summed as `decimal(38, scale)`, the
    * type of Spark's `sum` of them. */
  def withRunningSum(df: DataFrame, order: Seq[Column], value: Column,
                     name: String, scale: Int = 2, parts: Int = 0): DataFrame =
    running(df, order, parts, Scan("sum",
      value.cast(DecimalType(30, scale)).cast(DecimalType(38, scale)), name))
      .withColumn(name, col(name).cast("double"))

  /** Global running max of `value` over `order` (pandas cummax), as
    * column `name`. Max composes exactly: a row before its partition's
    * first non-null value reads the carry, the max of every earlier
    * partition. */
  def withRunningMax(df: DataFrame, order: Seq[Column], value: Column,
                     name: String, parts: Int = 0): DataFrame =
    running(df, order, parts, Scan("max", value, name))

  /** Global running min of `value` over `order` (pandas cummin) — the
    * exact mirror of [[withRunningMax]]. */
  def withRunningMin(df: DataFrame, order: Seq[Column], value: Column,
                     name: String, parts: Int = 0): DataFrame =
    running(df, order, parts, Scan("min", value, name))

  /** Global running product of `value` over `order` (pandas cumprod):
    * each row's partition-local product times the product of all
    * PRECEDING partitions' products, folded from 1.0 in partition order.
    *
    * FP caveat, unlike the decimal [[withRunningSum]]: double
    * multiplication is reassociated by that grouping, so for general
    * doubles the result can differ from the sequential product in the
    * last ulp. Callers that need bit-identity across engines (the
    * oracle-checked q_cumprod) feed sign/power-of-two values, whose
    * products are exact under any grouping. */
  def withRunningProduct(df: DataFrame, order: Seq[Column], value: Column,
                         name: String, parts: Int = 0): DataFrame =
    running(df, order, parts, Scan("product", value.cast("double"), name))

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
    * of one column, sort-based: global rank from the pinned range
    * partitions, then ONE scan picks the two bracketing ranks per
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

  /** Global lag(value, 1) over `order`, as column `name`: each row reads
    * the previous row's value, and each partition's first row the last
    * value of the previous non-empty partition. */
  def withLag(df: DataFrame, order: Seq[Column], value: Column,
              name: String, parts: Int = 0): DataFrame =
    running(df, order, parts, Scan("lag", value, name))

  /** Global forward-fill (pandas `ffill`): nulls take the last non-null
    * over the total order, as column `name`. A row before its
    * partition's first non-null value reads the carry, the last non-null
    * of the nearest preceding partition that has one, so runs of
    * entirely-null partitions chain through it. */
  def withFfill(df: DataFrame, order: Seq[Column], value: Column,
                name: String, parts: Int = 0): DataFrame =
    running(df, order, parts, Scan("fill", value, name))

  /** Global backward-fill (pandas `bfill`): the mirror of [[withFfill]]
    * — the same ascending range partitioning, each partition scanned
    * last row first and carried from the partitions after it. Each call
    * pays its own range shuffle; to fill BOTH directions over one
    * shuffle use [[withFills]]. */
  def withBfill(df: DataFrame, order: Seq[Column], value: Column,
                name: String, parts: Int = 0): DataFrame =
    running(df, order, parts, Scan("fill", value, name, backward = true))

  /** ffill AND bfill of one value column over a SINGLE range shuffle and
    * pin (composing withBfill(withFfill(...)) would range-shuffle and
    * materialize the table twice). */
  def withFills(df: DataFrame, order: Seq[Column], value: Column,
                ffName: String, bfName: String, parts: Int = 0): DataFrame =
    running(df, order, parts,
      Scan("fill", value, ffName), Scan("fill", value, bfName, backward = true))

  /** pandas `interpolate(method='linear')` over the total order:
    * interior nulls take the position-weighted blend of the surrounding
    * non-nulls, trailing nulls repeat the last valid value, leading
    * nulls stay null (pandas' default limit_direction='forward', which
    * still interpolates interior gaps from both sides).
    *
    * Built on the fills over ONE range shuffle and pin, which stores each
    * row's position ([[sortedPin]]): one pass fills both the value and
    * its position `when(value is not null, position)` in both directions
    * — the two share their null rows, so each fill of the position names
    * the row its value fill took. A position's global rank is its
    * partition's start, from the row counts of the fills' own summaries
    * collect, plus its place in the partition, as [[ranks]] computes it;
    * the blend `fv + (bv − fv) · (rn − fp)/(bp − fp)` over those ranks is
    * a pure projection. */
  def withInterpolate(df: DataFrame, order: Seq[Column], value: Column,
                      name: String, parts: Int = 0): DataFrame = {
    val pos = when(value.isNotNull, col(Position))
    val (filled, counts) = scanPinned(sortedPin(df, order, parts, positions = true), order,
      Seq(Scan("fill", value, "__fv"), Scan("fill", pos, "__fp"),
        Scan("fill", value, "__bv", backward = true),
        Scan("fill", pos, "__bp", backward = true)))
    val starts = typedLit(counts.scanLeft(0L)(_ + _).init)
    def rank(p: Column) =
      localPosition(p) + element_at(starts, shiftright(p, 33).cast("int") + 1)
    val (fv, bv) = (col("__fv"), col("__bv"))
    val (rn, fp, bp) = (rank(col(Position)), rank(col("__fp")), rank(col("__bp")))
    val w = (rn - fp).cast("double") / (bp - fp).cast("double")
    filled
      .withColumn(name,
        when(value.isNotNull, value)
          .when(fv.isNotNull && bv.isNotNull, fv + (bv - fv) * w)
          .when(fv.isNotNull, fv))
      .drop(Position, "__fv", "__fp", "__bv", "__bp")
  }
}
