package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Graphs

/** The co-occurrence per-key fan-out cap (Graphs.coOccurrencePairs
  * maxBasket): binding and no-op behavior, and determinism when the
  * cap boundary falls inside a run of duplicate items. The last
  * quadratic-risk family to get the cap treatment — minhash buckets,
  * RangeJoin matches, and fuzzy/ngram blocks already have theirs.
  * Null items and keys are checked against the cap's earlier spelling,
  * a row_number window over the item order, kept here as a reference. */
class GraphCapSpec extends SparkSpecBase {
  import spark.implicits._

  /** The window-capped pairs: each key keeps its first `maxBasket` rows
    * by item order (nulls first), and collect_list then drops the null
    * items. */
  private def windowPairs(df: DataFrame, minCount: Long, maxBasket: Int): DataFrame = {
    val w = Window.partitionBy(col("__k")).orderBy(col("__i"))
    df.select(col("k").as("__k"), col("i").as("__i"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBasket)
      .groupBy(col("__k"))
      .agg(sort_array(collect_list(col("__i"))).as("__items"))
      .select(col("__items"), posexplode(col("__items")))
      .select(col("col").as("a"),
        explode(slice(col("__items"), col("pos") + lit(2), lit(maxBasket))).as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= minCount)
      .select(col("a"), col("b"))
  }

  /** Both spellings give the same pairs, for every cap and count and
    * under several partitionings. */
  private def assertMatchesWindow(rows: Seq[(Option[Long], Option[Long])]): Unit = {
    val df = rows.toDF("k", "i")
    def sorted(p: DataFrame) = p.orderBy("a", "b").as[(Long, Long)].collect().toSeq
    for (maxBasket <- Seq(2, 4, 64); minCount <- Seq(1L, 2L); n <- Seq(1, 3)) {
      val in = df.repartition(n)
      val got = sorted(Graphs.coOccurrencePairs(in, "k", "i", minCount, maxBasket))
      val want = sorted(windowPairs(in, minCount, maxBasket))
      assert(got == want, s"maxBasket=$maxBasket minCount=$minCount partitions=$n")
    }
  }

  test("cap is a no-op when every basket fits") {
    val df = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 30L)).toDF("k", "i")
    val capped = Graphs.coOccurrencePairs(df, "k", "i", minCount = 2L,
      maxBasket = 64).orderBy("a", "b").as[(Long, Long)].collect().toSeq
    val wide = Graphs.coOccurrencePairs(df, "k", "i", minCount = 2L,
      maxBasket = 1000000).orderBy("a", "b").as[(Long, Long)].collect().toSeq
    assert(capped == wide && capped == Seq((10L, 20L)))
  }

  test("binding cap keeps the item-ordered head of the hot basket only") {
    // hot key 1 holds items 1..10; cap 4 keeps {1,2,3,4} — pairs among
    // them only. Key 2 repeats {1,2} so those pairs reach minCount 2.
    val hot = (1L to 10L).map(i => (1L, i))
    val df = (hot ++ Seq((2L, 1L), (2L, 2L), (2L, 3L), (2L, 4L)))
      .toDF("k", "i")
    val got = Graphs.coOccurrencePairs(df, "k", "i", minCount = 2L,
      maxBasket = 4).orderBy("a", "b").as[(Long, Long)].collect().toSeq
    // co-occurrence >= 2 needs a pair in BOTH baskets' kept heads:
    // key 1 keeps 1..4, key 2 keeps all of 1..4
    assert(got == Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
    // without the cap, items 5..10 would pair inside key 1 but never
    // reach minCount — same answer here, so ALSO assert the cap cut the
    // quadratic term: pair weights from key 1 alone must be gone when
    // minCount = 1
    val uncapped1 = Graphs.coOccurrencePairs(df, "k", "i", minCount = 1L,
      maxBasket = 1000000).count()
    val capped1 = Graphs.coOccurrencePairs(df, "k", "i", minCount = 1L,
      maxBasket = 4).count()
    assert(uncapped1 == 45L && capped1 == 6L,
      s"cap must bound the basket-squared term ($uncapped1 vs $capped1)")
  }

  test("cap boundary inside duplicate items is partition-invariant") {
    // key 1: items (5, 5, 5, 9) — cap 2 keeps two of the three 5s,
    // indistinguishable rows, so the kept multiset is {5, 5} under any
    // partitioning; pairs need minCount 1 to show up
    val df = Seq((1L, 5L), (1L, 5L), (1L, 5L), (1L, 9L), (2L, 5L),
      (2L, 9L)).toDF("k", "i")
    for (n <- Seq(1, 3, 7)) {
      val got = Graphs.coOccurrencePairs(df.repartition(n), "k", "i",
          minCount = 1L, maxBasket = 2)
        .orderBy("a", "b").as[(Long, Long)].collect().toSeq
      // key 1 keeps {5, 5} → no a<b pair; key 2 keeps {5, 9} → (5, 9)
      assert(got == Seq((5L, 9L)), s"partitions=$n got $got")
    }
  }

  test("null items count toward the cap, as under the window cap") {
    // key 1: two nulls and five items, more than a cap of 4 — the nulls
    // take two of the four slots, so only items 1 and 2 pair
    val hot = Seq(None, Some(3L), None, Some(1L), Some(5L), Some(2L), Some(4L))
      .map(i => (Some(1L), i))
    val rest = Seq(1L, 2L, 3L, 4L).map(i => (Some(2L), Some(i)))
    assertMatchesWindow(hot ++ rest)
    val got = Graphs.coOccurrencePairs((hot ++ rest).toDF("k", "i"), "k", "i",
      minCount = 2L, maxBasket = 4).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("an all-null basket pairs nothing, as under the window cap") {
    val rows = Seq.fill(3)((Some(1L), Option.empty[Long])) ++
      Seq(1L, 2L, 3L).flatMap(i => Seq((Some(2L), Some(i)), (Some(3L), Some(i))))
    assertMatchesWindow(rows)
  }

  test("a null key is one basket, as under the window cap") {
    val rows = Seq(5L, 6L, 7L, 8L).map(i => (Option.empty[Long], Some(i))) ++
      Seq((None, None), (Some(1L), Some(5L)), (Some(1L), Some(6L)),
        (Some(1L), Some(8L)))
    assertMatchesWindow(rows)
  }
}
