package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, GlobalOrder, Similarity}

/** Property-style invariants (SURVEY §5): the distributed two-pass
  * operators must agree with their single-threaded definitions on
  * arbitrary inputs, and signature operators must respect their
  * similarity contracts. ScalaCheck generators are sampled from fixed
  * seeds (no scalatest bridge in the offline cache), so runs are
  * deterministic. Frames stay small — these pin semantics, not load. */
class PropertySpec extends SparkSpecBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val longLists: Seq[List[Long]] =
    samples(Gen.listOf(Gen.chooseNum(-1000000L, 1000000L)), 6)
      .map(_.distinct).filter(_.nonEmpty)

  private def longsDf(xs: List[Long]) = {
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(Row(_)), 3), schema)
  }

  test("withRowNumber is the rank of the key for arbitrary distinct longs") {
    for (xs <- longLists) {
      val got = GlobalOrder.withRowNumber(longsDf(xs), Seq(col("k")), "rn")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val want = xs.sorted.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
      assert(got == want, s"n=${xs.size}")
    }
  }

  test("withRunningSum equals a sequential prefix sum for arbitrary inputs") {
    for (xs <- longLists) {
      val df = longsDf(xs).withColumn("v", col("k") % 97)
      val got = GlobalOrder
        .withRunningSum(df, Seq(col("k")), col("v"), "cs", scale = 0)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
      var acc = 0L
      val want = xs.sorted.map { k => acc += k % 97; k -> acc.toDouble }.toMap
      assert(got == want, s"n=${xs.size}")
    }
  }

  test("withLag carries the previous value across partition boundaries") {
    for (xs <- longLists) {
      val got = GlobalOrder
        .withLag(longsDf(xs), Seq(col("k")), col("k"), "prev")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      val sorted = xs.sorted
      val want = sorted.zip(None +: sorted.init.map(Some(_))).toMap
      assert(got == want, s"n=${xs.size}")
    }
  }

  test("minhashSig of identical texts is identical; disjoint texts differ") {
    val df = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "entirely different words about completely unrelated subject matter here")
    )).toDF("id", "text")
    val sigs = df.select(col("id"), ShingleReference.minhashSig(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhash Hamming distance: dup < near-dup < unrelated") {
    val df = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "one two three four five six seven eight nine ten")
    )).toDF("doc_id", "text")
    val h = Dedup.simhashDF(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) == 0)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("withRunningMax equals a sequential prefix max for arbitrary inputs") {
    for (xs <- longLists) {
      val df = longsDf(xs).withColumn("v", (col("k") % 97).cast("double"))
      val got = GlobalOrder
        .withRunningMax(df, Seq(col("k")), col("v"), "cm")
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
      var acc = Double.MinValue
      val want = xs.sorted.map { k =>
        acc = math.max(acc, (k % 97).toDouble); k -> acc
      }.toMap
      assert(got == want, s"n=${xs.size}")
    }
  }

  test("salted aggregation equals the direct groupBy for arbitrary inputs") {
    import graft.operators.Skew
    for (xs <- longLists) {
      val df = longsDf(xs)
        .withColumn("key", pmod(col("k"), lit(3)))
        .withColumn("v", (col("k") % 101).cast("double"))
      val got = Skew.saltedSumCount(df, "key", "v", col("k"), buckets = 4)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      val want = xs.groupBy(k => math.floorMod(k, 3L)).map { case (key, ks) =>
        key -> (ks.size.toLong,
          ks.map(k => BigDecimal((k % 101).toDouble)).sum.toDouble)
      }
      assert(got == want, s"n=${xs.size}")
    }
  }

  test("mergeAsof nearest always returns the backward or forward match") {
    import graft.operators.MergeAsof
    import java.sql.Timestamp
    val times = samples(Gen.listOfN(12, Gen.chooseNum(0L, 3600L)), 4)
    for (ts <- times if ts.distinct.size > 4) {
      val (lt, rt) = ts.distinct.splitAt(ts.distinct.size / 2)
      def frame(xs: Seq[Long], vcol: Boolean) = {
        val rows = xs.zipWithIndex.map { case (t, i) =>
          (i.toLong, "k", new Timestamp(t * 1000L), t.toDouble)
        }
        val df = spark.createDataFrame(rows).toDF("id", "key", "t", "v")
        if (vcol) df else df.drop("v")
      }
      val left = frame(lt, vcol = false)
      val right = frame(rt, vcol = true)
      def resOf(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, Seq[String], Seq[String]) => org.apache.spark.sql.DataFrame) =
        f(left, right, "t", Seq("key"), Seq("v"))
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(r.fieldIndex("v"))) None
             else Some(r.getDouble(r.fieldIndex("v"))))).toMap
      val bwd = resOf(MergeAsof.backward(_, _, _, _, _))
      val fwd = resOf(MergeAsof.forward(_, _, _, _, _))
      val near = resOf(MergeAsof.nearest)
      for ((id, v) <- near)
        assert(v == bwd(id) || v == fwd(id),
          s"nearest $v not in {bwd=${bwd(id)}, fwd=${fwd(id)}}")
    }
  }

  test("hyperplaneSig column form and explode form agree on every row") {
    val emb = Tables(spark, sf, "embeddings")
    val colForm = emb.select(col("vec_id"),
      Similarity.hyperplaneSig(col("embedding"), 64, 8).as("sig"))
    val dfForm = Similarity.withHyperplaneSig(emb, "vec_id", "embedding", 64, 8)
      .select(col("id").as("vec_id"), col("sig"))
    assert(colForm.exceptAll(dfForm).isEmpty && dfForm.exceptAll(colForm).isEmpty)
  }
}
