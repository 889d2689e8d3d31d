package graft

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._

import graft.functions.md5Bucket
import graft.operators.Skew

/** Failure-model witnesses: every retry-idempotence claim in the engine
  * (content-derived salts, md5 coins, attempt-scoped sink commits) is
  * exercised by an INJECTED task failure, not just asserted in a
  * scaladoc. Each test poisons one partition's task to throw on its
  * first attempt (`TaskContext.attemptNumber == 0`); the spec session
  * runs `local[4, 2]` so Spark retries the task once, and the test
  * asserts the final answer is bit-identical to the fault-free run —
  * i.e. a 1000-executor cluster losing tasks mid-job produces the same
  * bytes as a clean run.
  */
class FaultInjectionSpec extends SparkSpecBase {
  import spark.implicits._

  /** Pass-through that, on the FIRST attempt of partition `part`,
    * yields `afterRows` rows and then throws — downstream operators
    * (including sinks) do real work before the fault lands, so the
    * retry must overwrite, not just rerun from nothing. */
  private def poisoned[T: Encoder](ds: Dataset[T], part: Int,
                                   afterRows: Int): Dataset[T] =
    ds.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc.partitionId == part && tc.attemptNumber == 0) {
        new Iterator[T] {
          private var n = 0
          def hasNext: Boolean =
            if (n >= afterRows) {
              // count in the THROW path, not at iterator creation: the
              // 'fault never fired' assertion must fail if the stream
              // drains before reaching afterRows (ADVICE r10)
              FaultInjectionSpec.injected.incrementAndGet()
              throw new RuntimeException("injected fault (attempt 0)")
            } else it.hasNext
          def next(): T = { n += 1; it.next() }
        }
      } else it
    }

  test("salted aggregation is bit-identical after an injected task failure") {
    FaultInjectionSpec.injected.set(0)
    val rows = (1L to 4000L).map(i => (s"k${i % 7}", (i % 100) / 10.0))
    val clean = Skew.saltedSumCount(rows.toDF("k", "v").repartition(4),
        "k", "v", saltFrom = col("v"))
      .orderBy("k").as[(String, Long, Double)].collect().toSeq
    val faulty = Skew.saltedSumCount(
        poisoned(rows.toDS(), part = 1, afterRows = 100).toDF("k", "v"),
        "k", "v", saltFrom = col("v"))
      .orderBy("k").as[(String, Long, Double)].collect().toSeq
    assert(FaultInjectionSpec.injected.get() >= 1, "fault never fired")
    assert(faulty == clean,
      "retry of a salted-agg task must reproduce the exact partials")
  }

  test("md5-coin mixture replication is bit-identical after an injected failure") {
    FaultInjectionSpec.injected.set(0)
    // the fractional-epoch coin: content-derived md5 bucket, never an
    // RNG — a retried task re-derives the SAME keep/repeat decisions
    val w = Seq(("s0", 2.5), ("s1", 0.75), ("s2", 1.25))
      .toDF("source", "wt")
    def mixture(ids: Dataset[Long]) = ids.toDF("doc_id")
      .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(3))))
      .join(broadcast(w), Seq("source"))
      .withColumn("n_rep", floor(col("wt")).cast("long") +
        when(md5Bucket(col("doc_id"), 1000L, salt = "mix:") <
          (col("wt") * 1000 - floor(col("wt")) * 1000).cast("long"), 1L)
          .otherwise(0L))
      .select(col("doc_id"), explode(expr("sequence(1, n_rep)")).as("epoch"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .orderBy("doc_id")
    val ids = spark.range(2000).as[Long]
    val clean = mixture(ids.repartition(4)).as[(Long, Long)].collect().toSeq
    val faulty = mixture(poisoned(ids.repartition(4), part = 2,
      afterRows = 50)).as[(Long, Long)].collect().toSeq
    assert(FaultInjectionSpec.injected.get() >= 1, "fault never fired")
    assert(faulty == clean,
      "retried md5-coin decisions must replay identically")
  }

  test("binary sink commits exactly one visible file per partition " +
    "despite a mid-write task failure") {
    FaultInjectionSpec.injected.set(0)
    val outDir = TempDirs
      .create("graft_faultsink_").toString
    val vals = (1L to 1000L)
    // the fault lands AFTER the sink streamed 200 records of attempt
    // 0's partition into its attempt-scoped temp file — the retry must
    // leave exactly one visible part per partition, containing the
    // full partition, with the orphaned attempt file invisible to the
    // dotfile-ignoring read glob
    graft.queries.Sources.writeBinaryI64(
      poisoned(vals.toDS(), part = 3, afterRows = 200).toDF("v"), outDir)
    assert(FaultInjectionSpec.injected.get() >= 1, "fault never fired")
    val visible = new java.io.File(outDir).listFiles()
      .filter(_.getName.matches("part-\\d{5}\\.i64")).sortBy(_.getName)
    assert(visible.length == 4,
      s"expected one visible part per partition, got " +
        visible.map(_.getName).mkString(", "))
    val decoded = visible.flatMap { f =>
      val bb = java.nio.ByteBuffer.wrap(
          java.nio.file.Files.readAllBytes(f.toPath))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Iterator.continually(bb).takeWhile(_.remaining >= 8)
        .map(_.getLong).toSeq
    }.sorted.toSeq
    assert(decoded == vals.sorted.toSeq,
      "round-tripped multiset must equal the input exactly once each")
  }
}

object FaultInjectionSpec {
  /** Counts injected faults — local mode shares the JVM, so tasks and
    * the suite see the same static. */
  val injected = new java.util.concurrent.atomic.AtomicInteger(0)
}
