package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.GlobalOrder

/** SURVEY §2.2 projection / filter / row selection, §2.7 sorts / top-K,
  * §2.8 set ops, §2.10 binary operators.
  *
  * Reference surface: `df[...]` getitem family
  * (`sdc/datatypes/hpat_pandas_dataframe_functions.py:1791-2215`),
  * head/take/isin/astype/drop, `S.sort_values` / `nlargest`
  * (`sdc/datatypes/hpat_pandas_series_functions.py`), `S.append`
  * (`:2104`), arithmetic operators (`sdc/sdc_autogenerated.py`).
  *
  * Scale notes: every filter/projection here is pushed into the parquet
  * scan by Catalyst (PushedFilters in the formatted plan). Sorts are
  * range-partitioned shuffles; top-K (`orderBy.limit`) is executed as
  * TakeOrderedAndProject — no global sort materialization.
  */
object Projection {

  val queries: Map[String, Q] = Map(
    // df[['a','b']] projection + column pruning reaching the scan
    "q_select_project" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // df[bool_series] boolean-mask filter (predicate pushdown to parquet)
    "q_filter_mask" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // df.head(n) over the positional order (emulated via explicit sort)
    "q_head" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .orderBy(col("o_orderkey"))
        .limit(50)
    }),

    // df[slice] / iloc positional range: global row_number via the
    // range-partitioned two-pass prefix (no single-partition window —
    // see operators/GlobalOrder.scala)
    "q_slice_rows" -> ((s, dir) => {
      GlobalOrder.withRowNumber(Tables(s, dir, "orders"),
          Seq(col("o_orderkey")), "rn")
        .filter(col("rn").between(101, 200))
        .select(col("rn"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        .orderBy(col("rn"))
    }),

    // S.isin(values)
    "q_isin" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // df.isin(dict): per-column probe lists → boolean mask frame
    // (`hpat_pandas_dataframe_functions.py:2572-2906` — the dict/ser/df
    // variants all lower to per-column membership projections)
    "q_isin_dict" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          col("c_mktsegment").isin("BUILDING", "MACHINERY").as("seg_in"),
          col("c_nationkey").isin(1, 3, 5).as("nat_in"))
        .orderBy(col("c_custkey"))
    }),

    // df.isin(DataFrame): per-column ALIGNED equality on the index —
    // one left join on the index key, each shared column compared
    // cell-to-cell at the matching label, columns absent from `values`
    // constant-false (`hpat_pandas_dataframe_functions.py:2756-2875`
    // loops rows×values.index; the scale spelling is the index-key
    // join — no row expansion, the index is unique on both sides).
    "q_isin_frame" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val values = c.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey").as("__vk"),
          col("c_mktsegment").as("__vseg"),
          (col("c_nationkey") + pmod(col("c_custkey"), lit(2))).as("__vnat"))
      c.select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
        .join(values, col("c_custkey") === col("__vk"), "left")
        .select(col("c_custkey"),
          coalesce(col("c_mktsegment") === col("__vseg"), lit(false))
            .as("seg_in"),
          coalesce(col("c_nationkey") === col("__vnat"), lit(false))
            .as("nat_in"),
          // acctbal has no counterpart column in `values` → all-false
          lit(false).as("bal_in"))
        .orderBy(col("c_custkey"))
    }),

    // df.isin(Series): the one aligned value at each index label is
    // compared against EVERY column of the frame (pandas: "if values
    // is a Series, that's the index") — same single index-key join,
    // one comparison per output column.
    "q_isin_series" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val ser = c.filter(pmod(col("c_custkey"), lit(4)) === 1)
        .select(col("c_custkey").as("__vk"),
          pmod(col("c_nationkey") * 3 + 1, lit(25)).cast("long").as("__v"))
      c.select(col("c_custkey"), col("c_nationkey"))
        .join(ser, col("c_custkey") === col("__vk"), "left")
        .select(col("c_custkey"),
          coalesce(col("c_nationkey").cast("long") === col("__v"),
            lit(false)).as("nat_in"),
          coalesce(col("c_custkey").cast("long") === col("__v"),
            lit(false)).as("key_in"))
        .orderBy(col("c_custkey"))
    }),

    // S.astype: num→int, num→str
    "q_astype" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty_int"),
          col("l_linenumber").cast("string").as("line_str"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Series arithmetic: + - * / // % ** abs (scalar RHS and column RHS)
    "q_arith_ops" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      li.select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
          (col("l_quantity") + lit(10.0)).as("qty_plus"),
          (col("l_quantity") - col("l_tax")).as("qty_minus_tax"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
          floor(col("l_quantity") / lit(7.0)).cast("double").as("qty_floordiv"),
          pmod(col("l_quantity"), lit(7.0)).as("qty_mod"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"),
          abs(col("l_discount") - lit(0.05)).as("abs_disc"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // comparison operators producing boolean columns
    "q_compare_ops" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") > 25).as("gt25"),
          (col("l_quantity") <= 10).as("le10"),
          (col("l_returnflag") === "R").as("is_r"),
          (col("l_linestatus") =!= "O").as("not_o"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // df['new'] = expr (_set_column) + df.drop(columns) + rename
    "q_set_drop_rename" -> ((s, dir) => {
      Tables(s, dir, "part")
        .withColumn("retail_k", col("p_retailprice") / lit(1000.0))
        .drop("p_type", "p_brand")
        .withColumnRenamed("p_name", "part_name")
        .orderBy(col("p_partkey"))
    }),

    // S.sort_values(ascending=false) with explicit NaN/null-last contract
    "q_sort_values" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc_nulls_last, col("c_custkey"))
        .limit(500)
    }),

    // sort_values(na_position='first'): the fixture has no physical
    // nulls, so derive them (negative balances → unknown) and take the
    // bounded head — nulls must surface BEFORE every non-null value,
    // which only a limit makes observable under the row-sorting hash
    // compare. Still TakeOrderedAndProject, never a global sort.
    "q_sort_nulls_first" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("bal"))
        .orderBy(col("bal").asc_nulls_first, col("c_custkey"))
        .limit(200)
    }),

    // S.nlargest(n): top-K, physically TakeOrderedAndProject (no full sort)
    "q_nlargest" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // S.shift(periods): partition-local lag with the boundary row read
    // from the previous non-empty partition's last value (GlobalOrder.withLag)
    "q_shift" -> ((s, dir) => {
      GlobalOrder.withLag(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), col("o_totalprice"), "prev_price")
        .orderBy(col("o_orderkey"))
    }),

    // S.cumsum — prefix sum: a partition-local decimal running scan
    // seeded with the driver-composed carry of the earlier partitions;
    // exact, so bit-identical to the single-pass result on any partitioning
    "q_cumsum" -> ((s, dir) => {
      GlobalOrder.withRunningSum(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), col("o_totalprice"), "cum_price")
        .orderBy(col("o_orderkey"))
    }),

    // cummax via the same scan-plus-carry composition (max composes
    // exactly, no precision caveat)
    "q_cummax" -> ((s, dir) => {
      GlobalOrder.withRunningMax(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), col("o_totalprice"), "cummax_price")
        .orderBy(col("o_orderkey"))
    }),

    // pct_change = (x - lag(x)) / lag(x), lag via GlobalOrder.withLag
    "q_pct_change" -> ((s, dir) => {
      GlobalOrder.withLag(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), col("o_totalprice"), "prev")
        .select(col("o_orderkey"),
          ((col("o_totalprice") - col("prev")) / col("prev")).as("pct"))
        .orderBy(col("o_orderkey"))
    }),

    // S.ffill()/bfill() — global fills: partition-local fill scans (the
    // backward one after a local descending sort) seeded with
    // driver-composed carries; both fills share one range shuffle. Nulls injected
    // deterministically so prefixes/suffixes and interior runs are all
    // exercised; the reference's fillna(method=) is unsupported there
    // (hpat_pandas_series_functions.py:4041) but pct_change's pad path
    // (:4234) needs exactly this primitive.
    "q_ffill_bfill" -> ((s, dir) => {
      val v = when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null))
        .otherwise(col("o_totalprice"))
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), v.as("v"))
      GlobalOrder.withFills(base, Seq(col("o_orderkey")), col("v"), "ff", "bf")
        .orderBy(col("o_orderkey"))
    }),

    // S.interpolate(method='linear') — interior nulls position-blended
    // between the surrounding valids, trailing nulls repeat the last
    // valid, leading nulls stay null. A null run is injected across a
    // whole residue band so multi-gap interpolation is exercised.
    "q_interpolate" -> ((s, dir) => {
      val v = when(pmod(col("o_orderkey"), lit(7)) < 2, lit(null))
        .otherwise(col("o_totalprice"))
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), v.as("v"))
      GlobalOrder.withInterpolate(
          base, Seq(col("o_orderkey")), col("v"), "vi")
        .select(col("o_orderkey"), col("v"), round(col("vi"), 4).as("vi"))
        .orderBy(col("o_orderkey"))
    }),

    // S.pct_change(fill_method='pad') — the reference's pad path
    // (hpat_pandas_series_functions.py:4234-4330): forward-fill, THEN
    // diff against the previous filled value; a row that was null
    // changes by exactly 0 against its fill source.
    "q_pct_change_pad" -> ((s, dir) => {
      val v = when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null))
        .otherwise(col("o_totalprice"))
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), v.as("v"))
      val filled = GlobalOrder.withFfill(
        base, Seq(col("o_orderkey")), col("v"), "ff")
      GlobalOrder.withLag(filled, Seq(col("o_orderkey")), col("ff"), "prev")
        .select(col("o_orderkey"),
          ((col("ff") - col("prev")) / col("prev")).as("pct"))
        .orderBy(col("o_orderkey"))
    }),

    // S.take(indices): gather by positional index — row_number over the
    // positional order, then a pushed-down isin filter (at scale this is
    // a semi-join of a tiny index list against the range-partitioned rn)
    "q_take" -> ((s, dir) => {
      val idx = (0 until 20).map(i => i * 97 + 3)
      GlobalOrder.withRowNumber(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), "rn")
        .withColumn("pos", col("rn") - 1).drop("rn")
        .filter(col("pos").isin(idx: _*))
        .orderBy(col("pos"))
    }),

    // df.at[label, col] / df.loc[label] / df.iat[pos, col]: scalar label
    // and positional access (`hpat_pandas_dataframe_functions.py:2299-2452`).
    // Label access is a pushed-down key filter; iat is an rn filter.
    "q_at_loc" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val byLabel = o.filter(col("o_orderkey") === 500)
        .select(lit("at_label").as("acc"), col("o_totalprice"))
      val byPos = GlobalOrder.withRowNumber(
          o.select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), "rn")
        .filter(col("rn") - 1 === 42)
        .select(lit("iat_pos").as("acc"), col("o_totalprice"))
      byLabel.unionByName(byPos).orderBy(col("acc"))
    }),

    // S.argsort(kind='mergesort'): positions that would sort the series,
    // stable on ties — the secondary sort key IS the original position,
    // which is exactly the mergesort stability contract
    // (`hpat_pandas_series_functions.py:3735-3852`)
    "q_argsort" -> ((s, dir) => {
      val withPos = GlobalOrder.withRowNumber(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority")),
          Seq(col("o_orderkey")), "rn1")
        .withColumn("pos", col("rn1") - 1).drop("rn1")
      GlobalOrder.withRowNumber(withPos,
          Seq(col("o_orderpriority"), col("pos")), "rn2")
        .withColumn("sort_rank", col("rn2") - 1)
        .select(col("sort_rank"), col("pos").as("argsort"))
        .orderBy(col("sort_rank"))
        .limit(1000)
    }),

    // S.nsmallest(n) (`hpat_pandas_series_functions.py:1086`): bottom-K,
    // TakeOrderedAndProject like nlargest
    "q_nsmallest" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey"))
        .limit(100)
    }),

    // ** (pow) and pandas-sign % / // on negative operands
    // (`sdc/sdc_autogenerated.py:953,1093`): python mod takes the sign of
    // the divisor — r = a − floor(a/b)·b — and floordiv rounds toward −∞.
    // Exponents are kept integral so pow() is exact in both engines.
    "q_pow_mod" -> ((s, dir) => {
      val a = col("l_quantity") - lit(25.0)
      val b = lit(7.0)
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          pow(col("l_quantity"), 3).as("qty_cubed"),
          pow(lit(2.0), col("l_linenumber")).as("two_pow_line"),
          (a - floor(a / b) * b).as("py_mod"),
          floor(a / b).cast("double").as("py_floordiv"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Categorical parity (SURVEY §1): no native Spark type — dictionary-
    // encode to dense int codes via a broadcast dict built from the
    // distinct values (the dict is metadata-sized; the fact table only
    // ever joins against the broadcast, exactly how parquet dictionary
    // encoding behaves at storage level)
    "q_categorical" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val dict = o.select(col("o_orderpriority")).distinct()
        .withColumn("cat_code",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("o_orderpriority"))) - 1)
      o.join(broadcast(dict), Seq("o_orderpriority"))
        .select(col("o_orderkey"), col("cat_code"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // len(df) / df.shape / S.size / S.count (non-null)
    "q_len_shape" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      o.agg(
        count(lit(1)).as("n_rows"),
        lit(o.columns.length).as("n_cols"),
        count(col("o_totalprice")).as("s_count"))
    }),

    // Series attrs values/T/ndim (`hpat_pandas_series_functions
    // .py:1675-1775`): .values materializes the ordered data — emitted
    // with its positional index, the distributed analogue of the numpy
    // array; .T is the identity on a 1-D Series (emitted as an equality
    // witness column); .ndim is the constant 1. Positions come from the
    // two-pass prefix machinery — no single-partition window.
    "q_series_attrs" -> ((s, dir) => {
      val ser = Tables(s, dir, "supplier")
        .select(col("s_acctbal"), col("s_suppkey"))
      GlobalOrder.withRowNumber(ser, Seq(col("s_suppkey")), "rn")
        .select((col("rn") - 1).as("pos"), col("s_acctbal").as("value"),
          col("s_acctbal").as("t_value"), lit(1).as("ndim"))
        .orderBy(col("pos"))
    }),

    // df.reset_index(drop=False) after a filter: re-derive the dense
    // positional index on the filtered frame (two-pass, no global window)
    "q_reset_index" -> ((s, dir) => {
      val filtered = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_acctbal"))
      GlobalOrder.withRowNumber(filtered, Seq(col("c_custkey")), "rn")
        .withColumn("new_index", col("rn") - 1).drop("rn")
        .orderBy(col("new_index"))
    }),

    // intersect / except (SURVEY §2.8: absent in the reference, free in
    // Spark — set semantics, both engines dedup)
    "q_intersect_except" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val rich = c.filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_mktsegment"))
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_mktsegment"))
      rich.intersect(building).withColumn("tag", lit("both"))
        .unionByName(rich.except(building).withColumn("tag", lit("rich_only")))
        .orderBy(col("tag"), col("c_custkey"))
    }),

    // rollup subtotals (SURVEY §2.4 note: no grouping sets in the
    // reference; Spark/DuckDB both have ROLLUP natively)
    "q_rollup" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(30, 2))).cast("double").as("sum_qty"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // S[mask] = value (series setitem, SURVEY §2.2): immutable rewrite
    // via when/otherwise
    "q_setitem_mask" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", lit(0.0))
            .otherwise(col("o_totalprice")).as("price_masked"))
        .orderBy(col("o_orderkey"))
    }),

    // S[a:b] = v — positional SLICE assignment (reference series setitem
    // slice variant, hpat_pandas_series_functions.py:500-833): the
    // scale-safe positional index (GlobalOrder two-pass row_number, no
    // single-partition window) drives a conditional rewrite, same
    // immutable-withColumn shape as the mask variant.
    "q_setitem_slice" -> ((s, dir) => {
      GlobalOrder.withRowNumber(Tables(s, dir, "orders"),
          Seq(col("o_orderkey")), "rn")
        .select(col("rn"), col("o_orderkey"),
          when(col("rn").between(101, 200), lit(-1.0))
            .otherwise(col("o_totalprice")).as("price_set"))
        .orderBy(col("rn"))
    }),

    // Ranking analytics (SURVEY §2.6 note: absent in the reference, free
    // via Window). rank/dense_rank order by the value alone (tie-safe:
    // tied rows share a rank); ntile/row_number need the total order.
    "q_rank_analytics" -> ((s, dir) => {
      val byVal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc)
      val total = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          rank().over(byVal).as("rnk"),
          dense_rank().over(byVal).as("drnk"),
          ntile(4).over(total).as("quartile"),
          row_number().over(total).as("rn"))
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    // df.drop_duplicates(subset, keep='first') — the reference's dedup
    // surface (`sdc/datatypes/hpat_pandas_dataframe_functions.py:1423`;
    // series variant skipped at `sdc/tests/test_series.py:4380`).
    // "first" = lowest positional index; position is o_orderkey (the
    // stable global order). ONE hash aggregate via min/min_by — partial
    // per partition, final merge — no window, no sort, no self-join.
    "q_drop_duplicates" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(min(col("o_orderkey")).as("o_orderkey"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // S.append / pd.concat: unionByName of two disjoint selections
    "q_append_union" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val lo = c.filter(col("c_acctbal") < 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val hi = c.filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_acctbal"))
      lo.unionByName(hi).orderBy(col("c_custkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_select_project" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey""",

    "q_filter_mask" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_head" ->
      """SELECT * FROM orders ORDER BY o_orderkey LIMIT 50""",

    "q_slice_rows" ->
      """SELECT rn, o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         row_number() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn BETWEEN 101 AND 200 ORDER BY rn""".stripMargin,

    "q_setitem_slice" ->
      """SELECT rn, o_orderkey,
        |  CASE WHEN rn BETWEEN 101 AND 200 THEN -1.0
        |       ELSE o_totalprice END AS price_set
        |FROM (SELECT o_orderkey, o_totalprice,
        |        row_number() OVER (ORDER BY o_orderkey) AS rn
        |      FROM orders) t
        |ORDER BY rn""".stripMargin,

    "q_isin" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING','MACHINERY')
        |ORDER BY c_custkey""".stripMargin,

    "q_isin_dict" ->
      """SELECT c_custkey,
        |  c_mktsegment IN ('BUILDING','MACHINERY') AS seg_in,
        |  c_nationkey IN (1, 3, 5) AS nat_in
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_isin_frame" ->
      """WITH v AS (SELECT c_custkey AS vk, c_mktsegment AS vseg,
        |    c_nationkey + c_custkey % 2 AS vnat
        |  FROM customer WHERE c_custkey % 3 = 0)
        |SELECT c.c_custkey,
        |  COALESCE(c.c_mktsegment = v.vseg, FALSE) AS seg_in,
        |  COALESCE(c.c_nationkey = v.vnat, FALSE) AS nat_in,
        |  FALSE AS bal_in
        |FROM customer c LEFT JOIN v ON c.c_custkey = v.vk
        |ORDER BY c.c_custkey""".stripMargin,

    "q_isin_series" ->
      """WITH s AS (SELECT c_custkey AS vk,
        |    CAST((c_nationkey * 3 + 1) % 25 AS BIGINT) AS v
        |  FROM customer WHERE c_custkey % 4 = 1)
        |SELECT c.c_custkey,
        |  COALESCE(CAST(c.c_nationkey AS BIGINT) = s.v, FALSE) AS nat_in,
        |  COALESCE(CAST(c.c_custkey AS BIGINT) = s.v, FALSE) AS key_in
        |FROM customer c LEFT JOIN s ON c.c_custkey = s.vk
        |ORDER BY c.c_custkey""".stripMargin,

    "q_astype" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty_int,
        |  CAST(l_linenumber AS VARCHAR) AS line_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_arith_ops" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS disc_price,
        |  l_quantity + 10.0 AS qty_plus,
        |  l_quantity - l_tax AS qty_minus_tax,
        |  l_extendedprice / l_quantity AS unit_price,
        |  FLOOR(l_quantity / 7.0) AS qty_floordiv,
        |  MOD(l_quantity, 7.0) AS qty_mod,
        |  l_quantity * l_quantity AS qty_sq,
        |  ABS(l_discount - 0.05) AS abs_disc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_compare_ops" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity > 25 AS gt25,
        |  l_quantity <= 10 AS le10,
        |  l_returnflag = 'R' AS is_r,
        |  l_linestatus <> 'O' AS not_o
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_set_drop_rename" ->
      """SELECT p_partkey, p_name AS part_name, p_size, p_retailprice,
        |  p_retailprice / 1000.0 AS retail_k
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_sort_values" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC NULLS LAST, c_custkey LIMIT 500""".stripMargin,

    "q_sort_nulls_first" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
        |FROM customer
        |ORDER BY bal ASC NULLS FIRST, c_custkey LIMIT 200""".stripMargin,

    "q_nlargest" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_shift" ->
      """SELECT o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER (ORDER BY o_orderkey) AS prev_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_cumsum" ->
      """SELECT o_orderkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
        |    OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS cum_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_cummax" ->
      """SELECT o_orderkey, o_totalprice,
        |  MAX(o_totalprice)
        |    OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cummax_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_pct_change" ->
      """SELECT o_orderkey, (o_totalprice - prev) / prev AS pct FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    lag(o_totalprice, 1) OVER (ORDER BY o_orderkey) AS prev
        |  FROM orders) t ORDER BY o_orderkey""".stripMargin,

    "q_ffill_bfill" ->
      """SELECT o_orderkey, v,
        |  LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
        |  FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bf
        |FROM (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS v
        |  FROM orders) t ORDER BY o_orderkey""".stripMargin,

    "q_interpolate" ->
      """WITH t AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 < 2 THEN NULL ELSE o_totalprice END AS v,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders),
        |f AS (SELECT *,
        |  LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
        |  LAST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |    OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
        |  FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bv,
        |  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |    OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bp
        |  FROM t)
        |SELECT o_orderkey, v, ROUND(CASE
        |    WHEN v IS NOT NULL THEN v
        |    WHEN fv IS NOT NULL AND bv IS NOT NULL THEN
        |      fv + (bv - fv) * (CAST(rn - fp AS DOUBLE) / CAST(bp - fp AS DOUBLE))
        |    WHEN fv IS NOT NULL THEN fv END, 4) AS vi
        |FROM f ORDER BY o_orderkey""".stripMargin,

    "q_pct_change_pad" ->
      """WITH f AS (SELECT o_orderkey,
        |    LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
        |  FROM (SELECT o_orderkey,
        |      CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS v
        |    FROM orders) t)
        |SELECT o_orderkey, (ff - prev) / prev AS pct FROM (
        |  SELECT o_orderkey, ff, lag(ff, 1) OVER (ORDER BY o_orderkey) AS prev
        |  FROM f) t2 ORDER BY o_orderkey""".stripMargin,

    "q_take" ->
      """SELECT o_orderkey, o_totalprice, pos FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
        |  FROM orders) t
        |WHERE pos % 97 = 3 AND pos <= 19*97 + 3
        |ORDER BY pos""".stripMargin,

    "q_at_loc" ->
      """SELECT 'at_label' AS acc, o_totalprice FROM orders WHERE o_orderkey = 500
        |UNION ALL
        |SELECT 'iat_pos' AS acc, o_totalprice FROM (
        |  SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
        |  FROM orders) t WHERE pos = 42
        |ORDER BY acc""".stripMargin,

    "q_argsort" ->
      """SELECT row_number() OVER (ORDER BY o_orderpriority, pos) - 1 AS sort_rank,
        |  pos AS argsort
        |FROM (
        |  SELECT o_orderpriority,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
        |  FROM orders) t
        |ORDER BY sort_rank LIMIT 1000""".stripMargin,

    "q_nsmallest" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice ASC, o_orderkey LIMIT 100""".stripMargin,

    "q_pow_mod" ->
      """SELECT l_orderkey, l_linenumber,
        |  pow(l_quantity, 3) AS qty_cubed,
        |  pow(2.0, l_linenumber) AS two_pow_line,
        |  (l_quantity - 25.0) - FLOOR((l_quantity - 25.0) / 7.0) * 7.0 AS py_mod,
        |  FLOOR((l_quantity - 25.0) / 7.0) AS py_floordiv
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_categorical" ->
      """WITH d AS (SELECT o_orderpriority,
        |  CAST(row_number() OVER (ORDER BY o_orderpriority) - 1 AS INT) AS cat_code
        |FROM (SELECT DISTINCT o_orderpriority FROM orders))
        |SELECT o_orderkey, cat_code, o.o_orderpriority
        |FROM orders o JOIN d USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,

    "q_len_shape" ->
      """SELECT COUNT(*) AS n_rows, 6 AS n_cols,
        |  COUNT(o_totalprice) AS s_count FROM orders""".stripMargin,

    "q_series_attrs" ->
      """SELECT CAST(row_number() OVER (ORDER BY s_suppkey) - 1 AS INT) AS pos,
        |  s_acctbal AS value, s_acctbal AS t_value, 1 AS ndim
        |FROM supplier ORDER BY pos""".stripMargin,

    "q_reset_index" ->
      """SELECT c_custkey, c_acctbal,
        |  CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS INT) AS new_index
        |FROM customer WHERE c_acctbal > 5000
        |ORDER BY new_index""".stripMargin,

    "q_intersect_except" ->
      """WITH rich AS (SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_acctbal > 5000),
        |bldg AS (SELECT c_custkey, c_mktsegment FROM customer
        |  WHERE c_mktsegment = 'BUILDING')
        |SELECT *, 'both' AS tag FROM (SELECT * FROM rich INTERSECT SELECT * FROM bldg)
        |UNION ALL
        |SELECT *, 'rich_only' AS tag FROM (SELECT * FROM rich EXCEPT SELECT * FROM bldg)
        |ORDER BY tag, c_custkey""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_setitem_mask" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN 0.0 ELSE o_totalprice END AS price_masked
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_rank_analytics" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  rank() OVER wv AS rnk,
        |  dense_rank() OVER wv AS drnk,
        |  ntile(4) OVER wt AS quartile,
        |  row_number() OVER wt AS rn
        |FROM customer
        |WINDOW wv AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
        |  wt AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, rn""".stripMargin,

    "q_drop_duplicates" ->
      """SELECT MIN(o_orderkey) AS o_orderkey, o_custkey, o_orderstatus,
        |  arg_min(o_totalprice, o_orderkey) AS o_totalprice
        |FROM orders GROUP BY o_custkey, o_orderstatus
        |ORDER BY o_orderkey""".stripMargin,

    "q_append_union" ->
      """SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000
        |ORDER BY c_custkey""".stripMargin
  )
}
