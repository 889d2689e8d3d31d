package graft

import org.apache.spark.sql.functions._

/** Sink surface (SURVEY §2.1: `tofile`/`to_csv` → `df.write`) plus the
  * scale property that matters on the way back in: a partitioned layout
  * must prune at the scan. */
class SinkSpec extends SparkSpecBase {

  private def tmp(name: String): String =
    TempDirs.create(s"graft_$name").toString

  test("parquet write round-trips exactly") {
    val dir = tmp("pq")
    val out = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    out.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.exceptAll(out).isEmpty && out.exceptAll(back).isEmpty)
  }

  test("csv write with header round-trips under an explicit schema") {
    val dir = tmp("csv")
    val out = Tables(spark, sf, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    out.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(out.schema).csv(dir)
    assert(back.exceptAll(out).isEmpty && out.exceptAll(back).isEmpty)
  }

  test("hive-partitioned write prunes partitions at read time") {
    val dir = tmp("part")
    Tables(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
      "partition filter did not reach the scan:\n" + plan.take(500))
    val want = Tables(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(pruned.count() == want && want > 0)
  }

  test("small-file compaction: many-part dataset rewrites to the " +
    "target file count with content and file-size bounds intact") {
    // The maintenance job every long-lived 100 TB table needs: streams
    // and per-batch writers leave thousands of small files; a compact
    // pass rewrites them into range-clustered files whose count the
    // writer controls (repartitionByRange) and whose row count per
    // file is bounded (maxRecordsPerFile) — both tested here, because
    // both knobs must hold for the NEXT reader's scan parallelism.
    val src = tmp("smallfiles")
    val out = tmp("compacted")
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    li.repartition(64).write.mode("overwrite").parquet(src)
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts(src).length == 64, "fixture should start fragmented")

    val rows = spark.read.parquet(src)
    val n = rows.count()
    // no per-file cap here: range boundaries are sampled, so partition
    // sizes are only approximately equal and a tight cap would re-split
    rows.repartitionByRange(4, col("l_orderkey"))
      .write.mode("overwrite")
      .parquet(out)
    val compacted = parts(out)
    assert(compacted.length == 4,
      s"expected 4 compacted files, got ${compacted.length}")
    val back = spark.read.parquet(out)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)

    // the maxRecordsPerFile bound splits an oversized partition: force
    // everything into one range and cap it
    val capped = tmp("capped")
    rows.repartitionByRange(1, col("l_orderkey"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", (n / 3 + 1).toString)
      .parquet(capped)
    assert(parts(capped).length == 3,
      s"maxRecordsPerFile should split 1 partition into 3 files, got " +
        parts(capped).length)
  }
}
