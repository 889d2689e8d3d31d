package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** Incremental streaming: the same windowed aggregate fed one file per
  * micro-batch (maxFilesPerTrigger=1) must merge state across batches
  * to the exact batch answer — the property the single-file AvailableNow
  * runs never exercise. */
class StreamsIncrementalSpec extends SparkSpecBase {

  test("windowed agg over 3 micro-batches equals the one-shot batch agg") {
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_stream_inc").toString
    // three files → three micro-batches, split by user bucket so windows
    // overlap across batches and state genuinely merges
    events.withColumn("__b", pmod(col("user_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value"), 3).cast(DecimalType(30, 3)))
          .cast("double").as("sum_value"))
    val q = agg.writeStream.format("memory").queryName("inc_sink")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches, got ${q.recentProgress.length}")

    val streamed = spark.table("inc_sink")
    val direct = SparkEntry.queries("q_events_window")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup over >=3 micro-batches emits exactly the distinct keys") {
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_dedup_inc").toString
    // split by event_id so the same (event_type, user_id) key recurs in
    // several micro-batches — state must suppress the re-arrivals
    events.select(col("event_type"), col("user_id"), col("event_id"))
      .withColumn("__b", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val keys = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select(col("event_type"), col("user_id"))
      .dropDuplicates("event_type", "user_id")
    val q = keys.writeStream.format("memory").queryName("dedup_inc_sink")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches, got ${q.recentProgress.length}")

    val streamed = spark.table("dedup_inc_sink")
    val direct = events.select(col("event_type"), col("user_id")).distinct()
    assert(streamed.count() == direct.count())
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("bounded-state dedup over >=3 micro-batches equals distinct when nothing evicts") {
    import graft.streaming.Streams
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_dedup_wm_inc").toString
    // same key-recurs-across-batches split as the exact-dedup test; the
    // generous delay keeps every key's state alive for the whole replay,
    // so the watermark variant must behave exactly like dropDuplicates
    events.select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
      .withColumn("__b", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = Streams.dedupStreamBoundedCore(src, "10000 hours")
      .writeStream.format("memory").queryName("dedup_wm_inc_sink")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches, got ${q.recentProgress.length}")

    val streamed = spark.table("dedup_wm_inc_sink")
      .select(col("event_type"), col("user_id"))
    val direct = events.select(col("event_type"), col("user_id")).distinct()
    assert(streamed.count() == direct.count())
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("bounded-state dedup re-emits an evicted key; re-distinct collapses it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The documented trade, demonstrated: key A's state is evicted once
    // the watermark passes its timestamp + delay, so A's re-arrival two
    // hours later is emitted AGAIN — at-least-once distinct keys, which
    // is exactly why dedupStreamBounded finishes with a re-distinct.
    def ts(h: Int) = new java.sql.Timestamp(3600L * 1000L * h)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp)]
    val src = mem.toDF().toDF("event_type", "user_id", "ts")
    val q = Streams.dedupStreamBoundedCore(src, "1 second")
      .writeStream.format("memory").queryName("dedup_wm_reemit_sink")
      .outputMode(OutputMode.Append())
      .start()
    // start at 1h, not epoch: an event AT the initial watermark (epoch)
    // is discarded as late before it ever reaches the dedup state
    mem.addData(("click", 1L, ts(1))); q.processAllAvailable()  // A emitted
    mem.addData(("click", 2L, ts(3))); q.processAllAvailable()  // watermark -> ~3h
    mem.addData(("click", 1L, ts(5))); q.processAllAvailable()  // A evicted -> re-emitted
    q.stop()
    val sunk = spark.table("dedup_wm_reemit_sink")
      .select(col("event_type"), col("user_id"))
    assert(sunk.count() == 3, "evicted key must re-emit")
    assert(sunk.distinct().count() == 2, "finishing re-distinct recovers exactness")
  }

  test("stream-static join over >=3 micro-batches equals the batch join") {
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_sjoin_inc").toString
    events.select(col("user_id"), col("event_type"), col("event_id"))
      .withColumn("__b", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val dim = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val schema = spark.read.parquet(dir).schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select(col("user_id"), col("event_type"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sjoin_inc_sink")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches, got ${q.recentProgress.length}")

    val streamed = spark.table("sjoin_inc_sink")
    val direct = events.select(col("user_id"), col("event_type"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("stream-stream join over >=3 micro-batches equals the batch self-join") {
    import graft.streaming.Streams
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_ssjoin_inc").toString
    // event_id split: a purchase and its matching click usually land in
    // DIFFERENT micro-batches, so the two-sided join state must hold and
    // match across batches; the generous watermark keeps the arbitrarily
    // out-of-(event-time)-order replay from dropping rows as late
    events.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("__b", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val joined = Streams.clickAttributionStream(src, "10000 hours")
    val q = joined.writeStream.format("memory").queryName("ssjoin_inc_sink")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >=3 micro-batches, got ${q.recentProgress.length}")

    val streamed = spark.table("ssjoin_inc_sink")
    val e = events.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val direct = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .join(e.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("cts")),
        col("user_id") === col("cu") &&
          col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("sessionization over >=3 micro-batches equals the batch twin") {
    import graft.streaming.Streams
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_sess_inc").toString
    // split each user's events ACROSS files by event_id, so sessions are
    // genuinely fragmented between micro-batches and the merge pass has
    // real stitching to do (a per-user split would leave it trivial)
    events.select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("__b", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[Streams.Event]
    val streamed = Streams.sessionizeEventStream(spark, stream)
    val direct = Streams.sessionizeBatch(events)
      .orderBy(col("user_id"), col("session_id"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("quality monitor over >=3 micro-batches equals the batch counters") {
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_qual_inc").toString
    events.withColumn("__b", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val known = Seq("view", "click", "purchase", "signup", "error")
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("win_start"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 300.0, 1L).otherwise(0L))
          .as("value_over_cap"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("value_nulls"),
        sum(when(!col("event_type").isin(known: _*), 1L).otherwise(0L))
          .as("type_out_of_domain"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
    val q = agg.writeStream.format("memory").queryName("qual_inc_sink")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3)
    val streamed = spark.table("qual_inc_sink")
    val direct = SparkEntry.queries("q_stream_quality")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty &&
      direct.exceptAll(streamed).isEmpty)
  }

  test("contamination ingest gate over >=3 micro-batches equals the batch scan") {
    import graft.operators.Dedup
    import graft.streaming.Streams
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = TempDirs.create("graft_ingest_inc").toString
    docs.withColumn("__b", pmod(col("doc_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val b = graft.functions.md5Bucket(col("doc_id"), 100L)
    val trainH = Dedup.shingleRows(docs.filter(b < 80), "doc_id", "text", 3)
      .select(Dedup.shingleBaseHash(col("shingle")).as("h"))
      .distinct().localCheckpoint(true)
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select(docs.columns.map(col).toIndexedSeq: _*)
    val streamed = Streams.contaminationIngestRun(spark, src, trainH)
    val direct = Dedup.contaminationScan(
        docs.filter(b >= 90), docs.filter(b < 80), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_shingles"), col("n_hit"))
      .withColumn("contamination",
        round(col("n_hit").cast("double") / col("n_shingles"), 6))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty)
  }

  test("restart from checkpoint resumes exactly-once: offsets, dedup " +
    "state, and the file sink all survive the stop") {
    // The guarantee a 100 TB ingest pipeline actually banks on: a
    // stopped stream restarted against the same checkpoint must (a)
    // not re-read consumed input, (b) restore operator state so keys
    // seen before the stop stay deduplicated after it, and (c) leave
    // the transactional file sink duplicate-free end to end.
    val events = Tables(spark, sf, "events")
      .select(col("event_type"), col("user_id"), col("event_id"))
    val live = TempDirs.create("graft_ckpt_src").toString
    val ckpt = TempDirs.create("graft_ckpt_loc").toString
    val out = TempDirs.create("graft_ckpt_out").toString

    def feed(pred: org.apache.spark.sql.Column): Long = {
      val part = events.filter(pred)
      part.coalesce(2).write.mode("append").parquet(live)
      part.count()
    }
    def runOnce(): Long = {
      val schema = events.schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(live)
        .select(col("event_type"), col("user_id"))
        .dropDuplicates("event_type", "user_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    val half = pmod(col("event_id"), lit(4))
    val n1 = feed(half < 2)
    val read1 = runOnce()
    assert(read1 == n1, s"first run read $read1 of $n1 staged rows")

    val n2 = feed(half >= 2)
    val read2 = runOnce()
    // (a) the restart must consume ONLY the newly-arrived files
    assert(read2 == n2,
      s"restart re-read input: consumed $read2, only $n2 rows are new")

    // (b)+(c) state survived: keys first seen before the stop are
    // suppressed after it, so the committed sink equals the batch
    // distinct exactly
    val sunk = spark.read.parquet(out)
    val want = events.select(col("event_type"), col("user_id")).distinct()
    assert(sunk.count() == want.count(),
      s"sink has ${sunk.count()} rows, batch distinct has ${want.count()}")
    assert(sunk.exceptAll(want).isEmpty && want.exceptAll(sunk).isEmpty)
  }

  test("RocksDB state store: dedup stream is bit-identical to the " +
    "default provider and RocksDB demonstrably holds the state") {
    // At 100 TB streaming state outgrows executor heaps; the RocksDB
    // provider spills state to local disk with changelog checkpoints.
    // This witnesses (a) provider swap is config-only for our streaming
    // operators and (b) results are unchanged — the same guarantee the
    // Pin reliable-checkpoint spec gives batch iteration.
    val events = Tables(spark, sf, "events")
    val dir = TempDirs.create("graft_dedup_rocks").toString
    events.select(col("event_type"), col("user_id"), col("event_id"))
      .withColumn("__b", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val schema = spark.read.parquet(dir).schema
      val keys = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .select(col("event_type"), col("user_id"))
        .dropDuplicates("event_type", "user_id")
      val q = keys.writeStream.format("memory").queryName("rocks_sink")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.recentProgress.length >= 3,
        s"expected >=3 micro-batches, got ${q.recentProgress.length}")
      // the provider's own metrics are the witness that RocksDB (not
      // the HDFS-backed default) held the dedup state
      val metrics = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"no rocksdb state metrics reported: ${metrics.distinct.mkString(",")}")

      val streamed = spark.table("rocks_sink")
      val direct = events.select(col("event_type"), col("user_id")).distinct()
      assert(streamed.count() == direct.count())
      assert(streamed.exceptAll(direct).isEmpty &&
        direct.exceptAll(streamed).isEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
