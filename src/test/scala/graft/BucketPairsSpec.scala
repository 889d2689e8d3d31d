package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** The capped bucket pairs behind the banded and blocked near-dup
  * candidates (Dedup.cappedBucketPairs): one aggregate per bucket must
  * give exactly the pairs of the earlier spelling, a window count over
  * the bucket gating a self-join of the members, kept here as the
  * reference. Null keys, null ids, duplicate ids, and buckets of 1, 2,
  * cap and cap + 1 members, under ANSI and several partitionings. */
class BucketPairsSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("band", IntegerType, nullable = true),
    StructField("bh", StringType, nullable = true)))

  private val keys = Seq("band", "bh")

  /** The window-gated self-join: buckets outside [2, cap] members
    * (null ids counted) are dropped, and the members of the rest pair
    * up by an equi-join on the keys, so a null key pairs nothing. */
  private def windowPairs(rows: DataFrame, cap: Int): DataFrame = {
    val k = keys.map(col)
    val members = rows
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(k: _*)))
      .filter(col("__bn").between(2, cap))
      .select(col("id") +: k: _*)
    members.select(k :+ col("id").as("id_a"): _*)
      .join(members.select(k :+ col("id").as("id_b"): _*), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  private def frame(rows: Seq[(Option[Long], Option[Int], Option[String])],
                    slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map {
      case (id, b, h) => Row(id.map(Long.box).orNull, b.map(Int.box).orNull, h.orNull)
    }, slices), schema)

  private val cap = 5

  /** Buckets of every size around the gate, each with its own mix of
    * null and duplicate ids, plus rows with one or both keys null. */
  private lazy val buckets: Seq[(Option[Long], Option[Int], Option[String])] = {
    val rnd = new scala.util.Random(5)
    val sizes = Seq(1, 2, cap, cap + 1, 1, 2, cap - 1, cap, cap + 1, 3, 12)
    sizes.zipWithIndex.flatMap { case (n, b) =>
      val ids = Seq.fill(n)(rnd.nextInt(4) match {
        case 0 => None
        case 1 => Some(rnd.nextInt(6).toLong)
        case _ => Some(rnd.nextInt(60).toLong)
      })
      ids.map(id => (id, Some(b % 3), Some(s"h$b")))
    } ++ Seq(
      (Some(1L), None, Some("h0")), (Some(2L), None, Some("h0")),
      (Some(3L), Some(0), None), (Some(4L), Some(0), None),
      (Some(5L), None, None), (Some(6L), None, None), (None, None, None))
  }

  private def withAnsi[T](body: => T): T = {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try body finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("one aggregate per bucket equals the window-gated self-join, under ANSI") {
    withAnsi {
      for (slices <- Seq(1, 3, 8); c <- Seq(2, cap, 12)) withClue(s"slices=$slices cap=$c: ") {
        val rows = frame(buckets, slices)
        val got = pairs(Dedup.cappedBucketPairs(rows, keys, c))
        assert(got == pairs(windowPairs(rows, c)))
        if (c == cap) assert(got.nonEmpty)
      }
    }
  }

  test("random buckets of every size match the reference, under ANSI") {
    withAnsi {
      val rnd = new scala.util.Random(17)
      val rows = Seq.fill(400) {
        (if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(150).toLong),
          if (rnd.nextInt(30) == 0) None else Some(rnd.nextInt(4)),
          Some(s"h${rnd.nextInt(40)}"))
      }
      for (c <- Seq(2, 8, 20)) withClue(s"cap=$c: ") {
        val df = frame(rows, 4)
        assert(pairs(Dedup.cappedBucketPairs(df, keys, c)) == pairs(windowPairs(df, c)))
      }
    }
  }

  test("degenerate inputs: empty, a single row, all null keys, all null ids") {
    withAnsi {
      val inputs = Seq(
        Nil,
        Seq((Some(1L), Some(0), Some("a"))),
        Seq.tabulate(4)(i => (Some(i.toLong), None, None)),
        Seq.fill(3)((None, Some(0), Some("a"))))
      for (rows <- inputs) {
        val df = frame(rows, 2)
        assert(pairs(Dedup.cappedBucketPairs(df, keys, cap)) == pairs(windowPairs(df, cap)))
        assert(Dedup.cappedBucketPairs(df, keys, cap).count() == 0)
      }
    }
  }
}
