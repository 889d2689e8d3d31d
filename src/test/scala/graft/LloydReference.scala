package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shuffle-aggregate Lloyd update that `Similarity.lloydFold`
  * replaced: the reference [[LloydFoldSpec]] checks the fold against,
  * bit for bit. */
object LloydReference {

  /** One Lloyd update over an assignment frame (cent, e), collected: a
    * (cent, pos) hash-agg whose k·dim rows (n, c = Σe/n) are all that
    * crosses the wire or reaches the driver, rebuilt there into
    * (cent, n, ce) cent-ascending with `ce` in `pos` order. `e` always
    * holds `dim` elements, so every point assigned to a centroid adds one
    * row at every pos, and any row's `n` is that cluster's size. The `c`
    * values stay boxed, as collected, so a null mean stays null. */
  def update(a: DataFrame): Seq[(Int, Long, Seq[Double])] =
    a.select(col("cent"), posexplode(col("e")))
      .groupBy(col("cent"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("col")).as("s"))
      .select(col("cent"), col("pos"), col("n"), (col("s") / col("n")).as("c"))
      .collect().toSeq
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (ct, rows) =>
        val byPos = rows.sortBy(_.getInt(1))
        (ct, byPos.head.getLong(2), byPos.map(_.get(3)).asInstanceOf[Seq[Double]])
      }
}
