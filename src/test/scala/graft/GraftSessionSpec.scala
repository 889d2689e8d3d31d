package graft

import graft.operators.Pin

/** The shared spec session is built by [[GraftSession.build]], so it
  * carries the shape every entry point runs with. Reads that session
  * only: a second `build` with another master would go through
  * `getOrCreate` and rewrite the shared session's confs. */
class GraftSessionSpec extends SparkSpecBase {

  test("the session carries the seven shared confs") {
    assert(spark.sparkContext.master == "local[4, 2]")
    val sql = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      Tables.nanosConf,
      Tables.aqeMinPartitionConf,
      "spark.sql.extensions" -> "graft.GraftExtensions")
    for ((k, v) <- sql) assert(spark.conf.get(k) == v, k)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("GraftExtensions functions resolve from SQL") {
    val r = spark.sql("select graft_dot(array(1d), array(2d))").head()
    assert(r.getDouble(0) == 2.0)
  }

  test("a local master keeps local pins") {
    // PinSpec flips the flag and sets a checkpoint dir on the shared
    // context at run time, then sets the flag back to false; the
    // builder-time checkpoint conf is what GraftSession would have set.
    assert(spark.conf.getOption(Pin.FLAG).forall(_ == "false"))
    assert(spark.sparkContext.getConf.getOption("spark.checkpoint.dir").isEmpty)
  }
}
