package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.GlobalOrder

/** Parity-plus pandas Series/DataFrame methods beyond the reference's
  * overload set (`sdc/datatypes/hpat_pandas_series_functions.py` stops at
  * cumsum/pct_change; diff, clip, cumprod, cummin, mode, qcut,
  * duplicated, crosstab and the rank `method=` family are everyday pandas
  * that a user switching engines expects). All positional-order ops ride
  * the two-pass [[GlobalOrder]] machinery — no single-partition windows;
  * the value-partitioned windows (duplicated, rank first) shuffle on the
  * value key like any hash aggregate.
  */
object SeriesExtra {

  val queries: Map[String, Q] = Map(

    // S.diff(): x − lag(x) over the positional order, via GlobalOrder's
    // lag (first row of each range partition reads the previous non-empty
    // partition's carried last value). Same-operand subtraction on both
    // engines ⇒ exact compare.
    "q_diff" -> ((s, dir) => {
      GlobalOrder.withLag(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), col("o_totalprice"), "prev")
        .select(col("o_orderkey"),
          (col("o_totalprice") - col("prev")).as("diff"))
        .orderBy(col("o_orderkey"))
    }),

    // S.clip(lower, upper): pure projection, stays in whole-stage
    // codegen. (o_totalprice is non-null; for nullable inputs pandas
    // propagates NaN while Spark/DuckDB least/greatest both skip nulls —
    // a null-gate `when(isNull, null)` would restore pandas semantics.)
    "q_clip" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          greatest(least(col("o_totalprice"), lit(200000.0)), lit(50000.0))
            .as("clipped"))
        .orderBy(col("o_orderkey"))
    }),

    // S.cummin — mirror of q_cummax over the same scan-plus-carry composition.
    "q_cummin" -> ((s, dir) => {
      GlobalOrder.withRunningMin(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")), col("o_totalprice"), "cummin_price")
        .orderBy(col("o_orderkey"))
    }),

    // S.cumprod — running product (local product × carried product). The fixture derives the
    // values from the DENSE global row number (not the sparse orderkey)
    // as a strict {×2, ×0.5, ×−1, ×1} cycle, so every partial product is
    // ±2^k with k ∈ {−1,0,1}: exact in FP under any grouping (the
    // sparse-key mod pattern would random-walk the exponent and overflow
    // at scale), and identical on both engines.
    "q_cumprod" -> ((s, dir) => {
      val base = GlobalOrder.withRowNumberLong(
        Tables(s, dir, "orders").select(col("o_orderkey")),
        Seq(col("o_orderkey")), "rn")
      val v = when(pmod(col("rn") - 1, lit(4)) === 0, lit(2.0))
        .when(pmod(col("rn") - 1, lit(4)) === 1, lit(0.5))
        .when(pmod(col("rn") - 1, lit(4)) === 2, lit(-1.0))
        .otherwise(lit(1.0))
      GlobalOrder.withRunningProduct(
          base.select(col("o_orderkey"), v.as("v")),
          Seq(col("o_orderkey")), col("v"), "cumprod")
        .orderBy(col("o_orderkey"))
    }),

    // S.mode(): all most-frequent values, ascending (pandas returns the
    // full tie set sorted). One hash aggregate for the counts, a 1-row
    // max broadcast back — no window, no sort beyond the tiny result.
    "q_mode" -> ((s, dir) => {
      val counts = Tables(s, dir, "lineitem")
        .groupBy(col("l_quantity").as("v")).agg(count(lit(1)).as("__c"))
      val top = counts.agg(max(col("__c")).as("__m"))
      counts.crossJoin(broadcast(top))
        .filter(col("__c") === col("__m"))
        .select(col("v"))
        .orderBy(col("v"))
    }),

    // pd.qcut(x, 4): equal-frequency bucketing. A naive translation is
    // ntile(4) over an unpartitioned window — single-partition sort.
    // Scale shape: two-pass global row number, then the NTILE spec as a
    // closed-form projection (first n%k buckets take ⌈n/k⌉ rows); n
    // comes from a 1-row aggregate over the checkpointed ranked frame,
    // broadcast into the projection.
    "q_qcut" -> ((s, dir) => {
      val k = 4
      val ranked = GlobalOrder.withRowNumberLong(
        Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")), "rn")
      val n = ranked.agg(max(col("rn")).as("__n"))
      // long `div` throughout — FP division + truncation can misbucket
      // when a quotient rounds up across an integer boundary
      val bucket = expr(
        s"""CASE WHEN rn <= (__n div $k + 1) * (__n % $k)
           |  THEN (rn - 1) div (__n div $k + 1) + 1
           |  ELSE __n % $k
           |    + (rn - 1 - (__n div $k + 1) * (__n % $k)) div (__n div $k) + 1
           |END""".stripMargin)
      ranked.crossJoin(broadcast(n))
        .select(col("o_orderkey"), col("o_totalprice"),
          bucket.cast("long").as("bucket"))
        .orderBy(col("o_orderkey"))
    }),

    // S.duplicated(keep='first'): true for every occurrence after the
    // positionally-first one. Window partitioned BY THE VALUE KEY (a
    // hash shuffle, like the drop_duplicates aggregate) — never a global
    // window.
    "q_duplicated" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          (row_number().over(w) > 1).as("dup"))
        .orderBy(col("o_orderkey"))
    }),

    // pd.crosstab(returnflag, linestatus): count-valued pivot with the
    // category list supplied, so Spark skips the extra distinct pass and
    // plans ONE hash aggregate with conditional counts.
    "q_crosstab" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .count()
        .na.fill(0L, Seq("F", "O"))
        .orderBy(col("l_returnflag"))
    }),

    // S.rank(method=average|min|max|dense|first) on a heavily-tied
    // column. Scale shape: ranks of a VALUE depend only on the counts of
    // smaller values, so aggregate to the distinct-value frame first
    // (hash agg), run the two-pass running sum + row number over that
    // (much smaller) frame, and hash-join the per-value rank bases back.
    // Only method='first' needs a per-row window — partitioned by the
    // value, ordered by position. (The two GlobalOrder passes over the
    // distinct frame each pay a range shuffle of |distinct| rows; a
    // fused variant could share one, not worth it at that size.)
    "q_rank_pandas" -> ((s, dir) => {
      val t = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("v"))
      val counts = t.groupBy(col("v")).agg(count(lit(1)).as("__c"))
      val cum = GlobalOrder.withRunningSum(
          counts, Seq(col("v")), col("__c"), "__cum", scale = 0)
        .withColumn("__cum", col("__cum").cast("long"))
      val dense = GlobalOrder.withRowNumberLong(cum, Seq(col("v")), "__dense")
      val wFirst = Window.partitionBy(col("v"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      val minRank = col("__cum") - col("__c") + 1
      // pct=True divides the average rank by the row count; n arrives as
      // a broadcast 1-row aggregate (never a global window), and the
      // long→double division of identical operands is IEEE-identical
      // cross-engine
      val n = t.agg(count(lit(1)).as("__n"))
      t.join(dense, "v")
        .crossJoin(broadcast(n))
        .select(col("l_orderkey"), col("l_linenumber"), col("v"),
          ((minRank + col("__cum")).cast("double") / 2.0).as("rank_avg"),
          minRank.as("rank_min"),
          col("__cum").as("rank_max"),
          col("__dense").as("rank_dense"),
          (minRank + row_number().over(wFirst) - 1).as("rank_first"),
          (((minRank + col("__cum")).cast("double") / 2.0)
            / col("__n").cast("double")).as("rank_pct"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // pd.factorize(): value → dense code by FIRST-APPEARANCE order.
    // Distributed shape: codes are a property of the distinct-value
    // set, so the heavy pass is one hash aggregate (value → min
    // position); the row_number window then runs over |distinct
    // values| rows only — never the table. Emitting the mapping table
    // (value, code, n) rather than a per-row codes column is the
    // scale-correct deliverable; a per-row column is one broadcast
    // join away.
    "q_factorize" -> ((s, dir) => {
      val firsts = Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(min(col("event_id")).as("__first"), count(lit(1)).as("n"))
      firsts
        .withColumn("code",
          (row_number().over(Window.orderBy(col("__first"))) - 1).cast("int"))
        .select(col("event_type"), col("code"), col("n"))
        .orderBy(col("code"))
    }),

    // S.searchsorted(probes, side='left'/'right'): insertion position =
    // COUNT(v < p) / COUNT(v ≤ p). The probe list is tiny and static,
    // so the scale-correct plan is ONE scan with 2·|probes|
    // conditional sums (map-side partials) — no per-probe pass, no
    // probe×rows explode — then an in-row unpivot of the 1-row
    // aggregate back to (p, pos_left, pos_right) rows.
    "q_searchsorted" -> ((s, dir) => {
      val probes = Seq(1.0, 50.0, 125.0, 250.0, 375.0, 490.0)
      val aggs = probes.zipWithIndex.flatMap { case (p, i) => Seq(
        sum(when(col("value") < p, 1L).otherwise(0L)).as(s"__l$i"),
        sum(when(col("value") <= p, 1L).otherwise(0L)).as(s"__r$i")) }
      Tables(s, dir, "events").agg(aggs.head, aggs.tail: _*)
        .select(explode(array(probes.zipWithIndex.map { case (p, i) =>
          struct(lit(p).as("p"), col(s"__l$i").as("pos_left"),
            col(s"__r$i").as("pos_right")) }: _*)).as("s"))
        .select(col("s.p"), col("s.pos_left"), col("s.pos_right"))
        .orderBy(col("p"))
    }),

    // S.where(cond) / S.mask(cond, other): keep-else-null and
    // replace-where-true — pure projections, whole-stage codegen.
    "q_where_mask" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 150000.0, col("o_totalprice"))
            .as("where_hi"),
          when(col("o_orderstatus") === "F", lit(0.0))
            .otherwise(col("o_totalprice")).as("mask_f"))
        .orderBy(col("o_orderkey"))
    }),

    // pd.to_numeric(errors='coerce'): parseable strings become doubles,
    // everything else null — a pure try_cast projection, whole-stage
    // codegen. The mixed input column is derived from integer-backed
    // strings (integer text and "<int>.5") so its rendering — and the
    // parsed double — is bit-identical across engines; the unparseable
    // branch carries a non-numeric prefix.
    "q_to_numeric" -> ((s, dir) => {
      val raw = when(col("c_custkey") % 3 === 0,
          concat((col("c_custkey") * 10).cast("string"), lit(".5")))
        .when(col("c_custkey") % 3 === 1, col("c_custkey").cast("string"))
        .otherwise(concat(lit("id-"), col("c_custkey").cast("string")))
      Tables(s, dir, "customer")
        .select(col("c_custkey"), raw.as("raw"))
        .withColumn("as_num", expr("try_cast(raw AS DOUBLE)"))
        .orderBy(col("c_custkey"))
    }),

    // IQR outlier audit (the Tukey-fence rule every EDA pass runs):
    // q1/q3 from the exact sort-based quantile machinery (two-pass
    // global rank, nothing exceeds one partition — same engine as
    // q_agg_quantile), broadcast back as a 1-row frame, then ONE
    // conditional-sum aggregate classifies the table. Classification
    // uses the 6-dp-ROUNDED fences: quantile interpolation retains
    // last-ulp freedom across engines (measured on quantile_cont at
    // sf0.1 — the q_winsorize note), and rounding collapses that ulp so
    // both engines compare every price against the identical double;
    // 2-decimal prices sit nowhere near a 1e-6 fence boundary.
    "q_outlier_iqr" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      val q = GlobalOrder.exactQuantiles(li, col("x"),
          Seq(("q1", 0.25), ("q3", 0.75)))
        .withColumn("lo", round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 6))
        .withColumn("hi", round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 6))
      li.crossJoin(broadcast(q))
        .agg(max(col("lo")).as("fence_lo"),
          max(col("hi")).as("fence_hi"),
          sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          sum(when(col("x").between(col("lo"), col("hi")), 1L).otherwise(0L))
            .as("n_in"))
    }),

    // S.clip(lower=q05, upper=q95) — winsorization, the quantile-bound
    // twin of q_clip's constant bounds, with NEAREST-RANK bounds
    // (pandas quantile(interpolation='higher'): the value at rank
    // ⌈q·n⌉). The bounds are actual data values picked by an exact
    // rank — no interpolation arithmetic — so they are bit-identical
    // across engines at ANY n. (The lerp variant inherits quantile
    // implementations' last-ulp freedom — measured: DuckDB's
    // quantile_cont(0.05) differs from the lo+(hi−lo)·frac sequence in
    // the last ulp at sf0.1's n, which a clipped OUTPUT column exposes
    // while q_outlier_iqr's rounded fences do not.) The rank pass runs
    // over ONE double column via the two-pass global row_number; the
    // clip itself is a pure broadcast-join projection in codegen.
    // Weighted median (the survey/index-stats reduction plain median
    // can't express): the smallest quantity whose cumulative
    // extendedprice weight reaches half the total. Weights are
    // EXACT-decimal cumulative sums over the two-pass range shuffle
    // (no single-partition window; the q_pareto_abc prefix machinery),
    // so the 2·cumw ≥ totw pick is an exact decimal compare — no
    // float boundary can move the pick on either engine.
    "q_weighted_median" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("v"),
          col("l_extendedprice").as("wt"))
        // pre-aggregate per distinct value: the prefix pass then runs
        // over ≤50 rows of exact decimal totals, not the corpus
        .groupBy(col("v"))
        .agg(sum(col("wt").cast(org.apache.spark.sql.types
          .DecimalType(30, 2))).as("w"))
      val cum = GlobalOrder.withRunningSum(li, Seq(col("v")), col("w"),
        "cw", scale = 2)
      val tot = cum.agg(max(col("cw")).as("tw"))
      cum.crossJoin(broadcast(tot))
        .filter(col("cw") * 2 >= col("tw"))
        .orderBy(col("v")).limit(1)
        .select(col("v").as("weighted_median"),
          round(col("cw").cast("double"), 2).as("cum_weight"),
          round(col("tw").cast("double"), 2).as("total_weight"))
    }),

    "q_winsorize" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val bounds = GlobalOrder.nearestRankPicks(li, col("l_extendedprice"),
        Seq(("p05", 0.05), ("p95", 0.95)))
      li.crossJoin(broadcast(bounds))
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_extendedprice") < col("p05"), col("p05"))
            .when(col("l_extendedprice") > col("p95"), col("p95"))
            .otherwise(col("l_extendedprice")).as("wins"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_to_numeric" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0
        |         THEN CAST(c_custkey * 10 AS VARCHAR) || '.5'
        |       WHEN c_custkey % 3 = 1 THEN CAST(c_custkey AS VARCHAR)
        |       ELSE 'id-' || CAST(c_custkey AS VARCHAR) END AS raw,
        |  TRY_CAST(CASE WHEN c_custkey % 3 = 0
        |         THEN CAST(c_custkey * 10 AS VARCHAR) || '.5'
        |       WHEN c_custkey % 3 = 1 THEN CAST(c_custkey AS VARCHAR)
        |       ELSE 'id-' || CAST(c_custkey AS VARCHAR) END AS DOUBLE)
        |    AS as_num
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // rounded fences collapse the quantile lerp's last-ulp freedom;
    // classification then compares against the identical double
    "q_outlier_iqr" ->
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
        |                  quantile_cont(l_extendedprice, 0.75) AS q3
        |           FROM lineitem),
        |f AS (SELECT ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo,
        |             ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi FROM q)
        |SELECT lo AS fence_lo, hi AS fence_hi,
        |  CAST(COUNT(*) FILTER (WHERE l_extendedprice < lo) AS BIGINT) AS n_lo,
        |  CAST(COUNT(*) FILTER (WHERE l_extendedprice > hi) AS BIGINT) AS n_hi,
        |  CAST(COUNT(*) FILTER (WHERE l_extendedprice BETWEEN lo AND hi)
        |    AS BIGINT) AS n_in
        |FROM lineitem, f GROUP BY lo, hi""".stripMargin,

    // same per-value decimal weights, same exact cumulative pick
    "q_weighted_median" ->
      """WITH g AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |    SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS w
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT v, SUM(w) OVER (ORDER BY v) AS cw FROM g),
        |t AS (SELECT MAX(cw) AS tw FROM c)
        |SELECT v AS weighted_median,
        |  ROUND(CAST(cw AS DOUBLE), 2) AS cum_weight,
        |  ROUND(CAST(tw AS DOUBLE), 2) AS total_weight
        |FROM c, t WHERE cw * 2 >= tw ORDER BY v LIMIT 1""".stripMargin,

    // nearest-rank bounds: value at rank ⌈q·n⌉ — a data value, no
    // interpolation, so bit-exact at any n (see the Spark-side note)
    "q_winsorize" ->
      """WITH r AS (SELECT l_extendedprice AS v,
        |    ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
        |  FROM lineitem),
        |n AS (SELECT MAX(rn) AS n FROM r),
        |q AS (SELECT
        |    SUM(CASE WHEN rn = GREATEST(
        |      CAST(CEIL(CAST(n AS DOUBLE) * 0.05) AS BIGINT), 1)
        |      THEN v END) AS p05,
        |    SUM(CASE WHEN rn =
        |      CAST(CEIL(CAST(n AS DOUBLE) * 0.95) AS BIGINT)
        |      THEN v END) AS p95
        |  FROM r, n)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_extendedprice < p05 THEN p05
        |       WHEN l_extendedprice > p95 THEN p95
        |       ELSE l_extendedprice END AS wins
        |FROM lineitem, q ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_factorize" ->
      """SELECT event_type,
        |  CAST(ROW_NUMBER() OVER (ORDER BY MIN(event_id)) - 1 AS INT) AS code,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY code""".stripMargin,

    "q_searchsorted" ->
      """SELECT p,
        |  CAST(COUNT(*) FILTER (WHERE value < p) AS BIGINT) AS pos_left,
        |  CAST(COUNT(*) FILTER (WHERE value <= p) AS BIGINT) AS pos_right
        |FROM events CROSS JOIN
        |  (SELECT unnest([1.0, 50.0, 125.0, 250.0, 375.0, 490.0]) AS p) probes
        |GROUP BY p ORDER BY p""".stripMargin,

    "q_where_mask" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 150000.0 THEN o_totalprice END AS where_hi,
        |  CASE WHEN o_orderstatus = 'F' THEN 0.0 ELSE o_totalprice END AS mask_f
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_diff" ->
      """SELECT o_orderkey,
        |  o_totalprice - LAG(o_totalprice) OVER (ORDER BY o_orderkey) AS diff
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_clip" ->
      """SELECT o_orderkey,
        |  GREATEST(LEAST(o_totalprice, 200000.0), 50000.0) AS clipped
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_cummin" ->
      """SELECT o_orderkey, o_totalprice,
        |  MIN(o_totalprice) OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cummin_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_cumprod" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders),
        |v AS (
        |  SELECT o_orderkey,
        |    CASE CAST((rn - 1) % 4 AS INTEGER)
        |      WHEN 0 THEN CAST(2.0 AS DOUBLE)
        |      WHEN 1 THEN CAST(0.5 AS DOUBLE)
        |      WHEN 2 THEN CAST(-1.0 AS DOUBLE)
        |      ELSE CAST(1.0 AS DOUBLE) END AS v
        |  FROM t)
        |SELECT o_orderkey, v,
        |  PRODUCT(v) OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumprod
        |FROM v ORDER BY o_orderkey""".stripMargin,

    "q_mode" ->
      """SELECT l_quantity AS v FROM lineitem GROUP BY 1
        |HAVING COUNT(*) = (
        |  SELECT MAX(c) FROM (
        |    SELECT COUNT(*) AS c FROM lineitem GROUP BY l_quantity))
        |ORDER BY v""".stripMargin,

    "q_qcut" ->
      """SELECT o_orderkey, o_totalprice,
        |  NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_duplicated" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  (ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
        |    ORDER BY o_orderkey) > 1) AS dup
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_crosstab" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q_rank_pandas" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS v,
        |  CAST(2 * RANK() OVER (ORDER BY l_quantity)
        |    + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS DOUBLE)
        |    / CAST(2.0 AS DOUBLE) AS rank_avg,
        |  RANK() OVER (ORDER BY l_quantity) AS rank_min,
        |  RANK() OVER (ORDER BY l_quantity)
        |    + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS rank_max,
        |  DENSE_RANK() OVER (ORDER BY l_quantity) AS rank_dense,
        |  ROW_NUMBER() OVER (ORDER BY l_quantity, l_orderkey, l_linenumber)
        |    AS rank_first,
        |  (CAST(2 * RANK() OVER (ORDER BY l_quantity)
        |    + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS DOUBLE)
        |    / CAST(2.0 AS DOUBLE))
        |    / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE) AS rank_pct
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
