package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Pin

/** The one place a SparkSession is built: Bench, Verify, PlanDump,
  * RecallLadder, MultiExecWitness and the test harness all call
  * [[build]], each with its own master and shuffle partition count.
  *
  * Every session gets the same shape, so plans captured by one entry
  * point are the plans the others execute:
  *  - AQE on, with the [[Tables.aqeMinPartitionConf]] coalescing floor;
  *  - session time zone UTC (the oracles compare UTC wall-clock);
  *  - [[Tables.nanosConf]], which must be set before the first parquet
  *    read of the events table;
  *  - [[GraftExtensions]] for the native `graft_*` expressions;
  *  - UI off and log level WARN.
  *
  * Topology rule: under a `local-cluster[...]` master, executors are
  * separate JVMs and `localCheckpoint` blocks die with them, so pins go
  * reliable ([[Pin.FLAG]]) against a checkpoint dir that is deleted at
  * JVM exit. Single-JVM `local[...]` masters keep local pins. */
object GraftSession {

  def build(master: String, shufflePartitions: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .config(Tables.aqeMinPartitionConf._1, Tables.aqeMinPartitionConf._2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster"))
      b.config(Pin.FLAG, "true")
        .config("spark.checkpoint.dir",
          TempDirs.create("graft-session-ckpt").toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
