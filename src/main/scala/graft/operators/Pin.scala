package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Frame pinning: materialize a DataFrame eagerly, once, so every
  * downstream branch reads the same blocks — same contents AND the same
  * partition identity. `spark_partition_id()` agrees across branches and
  * with the partition order of [[partitionSummaries]], the driver-side
  * collect of per-partition folds that [[GlobalOrder]]'s starts and
  * carries are composed from. Loop reductions whose result is
  * metadata-sized (a k-means update, a BPE wave's bound) read a pin
  * through [[fold]] instead of a shuffle aggregate.
  *
  * A pin is the engine's one materialization primitive: no operator
  * caches (`persist`/`cache`) a frame. A pinned frame's blocks are
  * released only once nothing references it, never under a running
  * query, and every pinned scan runs through the same scan classes, so
  * a warm pass compiles no in-memory-scan code.
  *
  * Two modes, selected by `spark.graft.reliableCheckpoint`:
  *
  *  - `false` (default — local / single-JVM runs): `localCheckpoint
  *    (eager)`. Tungsten-resident executor blocks, zero extra I/O. The
  *    trade: lineage is truncated onto non-replicated executor blocks,
  *    so on a multi-executor cluster one lost executor fails the job
  *    instead of recomputing — a near-certain event per long job at
  *    thousand-executor scale. Exactly right for local[n], where the
  *    only executor is the driver itself.
  *
  *  - `true` (cluster runs): `checkpoint(eager)` against the reliable
  *    checkpoint directory (`spark.checkpoint.dir` — HDFS / object
  *    store on a real cluster). Survives executor loss: partitions are
  *    re-read from durable storage, never recomputed through lost
  *    lineage. Costs one write + read of the pinned frame — callers
  *    always project/pre-aggregate before pinning, so what is written
  *    is keys + needed values (or a metadata-sized summary), not the
  *    raw table.
  *
  * Both modes materialize the RDD's partitions 1:1, so every plan built
  * on the pin — offsets, rank joins, loop severing — is identical; a
  * spec asserts bit-identical results mode-to-mode.
  */
object Pin {
  val FLAG = "spark.graft.reliableCheckpoint"

  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(FLAG, "false").toBoolean)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** [[apply]] plus one row of exact gate aggregates over the pinned
    * rows, observed by the pin's own job (`Dataset.observe`): the row
    * `agg(gate, more: _*).head` would read in both modes (a sum over no
    * rows reads null), at no extra job. */
  def withGate(df: DataFrame, gate: Column, more: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val pinned = Pin(df.observe(obs, gate, more: _*))
    // the metrics arrive over the listener bus after the pin's action
    (pinned, Await.result(obs.future, Duration.Inf))
  }

  /** One summary per partition of a pinned frame, in partition order and
    * dense (an empty partition gets `f` of no rows): one job of one task
    * per partition and no shuffle. `f` folds the rows [[rows]] reads. */
  def partitionSummaries[T: ClassTag](pinned: DataFrame, values: Column*)(
      f: Iterator[InternalRow] => T): Array[T] =
    rows(pinned, values).mapPartitions(part => Iterator.single(f(part))).collect()

  /** A metadata-sized reduction over a pinned frame: each partition folds
    * the rows [[rows]] reads into its own copy of `zero` with `add`, and
    * the partials `merge` through a depth-2 `treeAggregate`. Up to 5
    * partitions that is one job of one narrow stage, whose partials merge
    * on the driver; from 6 on, the job adds one merge stage of about √n
    * tasks, so the driver holds a bounded number of partials at any
    * partition count. Rows are reused buffers: `add` reads what it needs
    * and keeps no reference. */
  def fold[U: ClassTag](pinned: DataFrame, values: Column*)(zero: U)(
      add: (U, InternalRow) => U, merge: (U, U) => U): U =
    rows(pinned, values).treeAggregate(zero)(add, merge, depth = 2)

  /** The one path a pin is read through: the rows of `values`, projected
    * over the pinned blocks by the planned projection, one task per
    * pinned partition; with no `values` the pinned rows themselves, so a
    * count projects nothing. */
  private def rows(pinned: DataFrame, values: Seq[Column]): RDD[InternalRow] =
    pinned.queryExecution.logical match {
      case scan: LogicalRDD if values.isEmpty => scan.rdd
      case _: LogicalRDD => pinned.select(values: _*).queryExecution.toRdd
      case p => throw new IllegalArgumentException(
        s"a pin read needs a pinned frame, got ${p.nodeName}")
    }

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    /** [[Pin.apply]] as postfix syntax — the drop-in spelling for what
      * used to be `.localCheckpoint(true)`. */
    def pinned: DataFrame = Pin(df)
  }
}
