package graft

import org.apache.spark.sql.functions._

import graft.queries.Sources

/** Test-only filesystem: local disk behind a foreign `graftprobe://`
  * scheme, resolvable ONLY through a conf that carries
  * `fs.graftprobe.impl` — the witness that sink tasks use the driver's
  * hadoopConfiguration rather than a bare `new Configuration()`. */
class GraftProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftprobe:///")
  override def checkPath(path: org.apache.hadoop.fs.Path): Unit = ()
}

/** Source paths: CSV option matrix, constructor, binary decode. */
class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  test("read_csv round-trips nation through header+schema") {
    val got = Sources.queries("q_read_csv")(spark, sf)
    assert(got.count() == 25)
    assert(got.schema.map(_.dataType.typeName).toSeq ==
      Seq("integer", "string", "integer"))
  }

  test("read_csv options: sep, usecols, parse_dates, skiprows") {
    val got = Sources.queries("q_read_csv_options")(spark, sf)
    assert(got.columns.toSeq == Seq("o_orderkey", "o_totalprice", "o_orderdate"))
    assert(got.schema("o_orderdate").dataType.typeName == "date")
    // skiprows=100 on dense 0-based keys drops exactly 100 rows
    val total = Tables(spark, sf, "orders").count()
    assert(got.count() == total - 100)
  }

  test("createDataFrame literal joins against a real table") {
    val got = Sources.queries("q_create_dataframe")(spark, sf)
      .select("r_key", "n_nations").as[(Int, Long)].collect().toMap
    assert(got.keySet == Set(0, 1, 2, 3, 4))
    assert(got.values.sum == 25) // 25 nations across 5 regions
  }

  test("json-lines source round-trips nation under the shared schema") {
    val got = Sources.queries("q_read_json")(spark, sf)
    val want = Tables(spark, sf, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    assert(got.count() == 25)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("orc source pushes the filter into the columnar scan") {
    val q = Sources.queries("q_read_orc")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(s_acctbal"),
      "acctbal filter did not push into the ORC scan:\n" + plan.take(600))
    val want = Tables(spark, sf, "supplier")
      .filter(col("s_acctbal") > 0).count()
    assert(q.count() == want && want > 0)
  }

  test("census ETL z-scores have zero mean and unit variance") {
    val z = Sources.queries("q_census_etl")(spark, sf)
      .select("z").as[Double].collect()
    assert(z.nonEmpty)
    val mean = z.sum / z.length
    val varz = z.map(x => (x - mean) * (x - mean)).sum / (z.length - 1)
    assert(math.abs(mean) < 1e-6, s"z mean $mean")
    assert(math.abs(varz - 1.0) < 1e-3, s"z variance $varz")
  }

  test("binary source decodes the int64 file back to the nation keys") {
    val got = Sources.queries("q_binary_source")(spark, sf)
      .as[Long].collect().toSeq
    val want = Tables(spark, sf, "nation")
      .select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").as[Long].collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("binary sink tasks resolve the filesystem through the DRIVER's hadoop conf") {
    // The write tasks must see spark.hadoop.* overrides (object-store
    // credentials, nameservices), not a bare `new Configuration()`. A
    // custom scheme registered ONLY in the driver's hadoopConfiguration
    // is the witness: the write succeeds through it iff the broadcast
    // conf reaches the executors' getFileSystem call.
    val key = "fs.graftprobe.impl"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(key, classOf[GraftProbeFileSystem].getName)
    try {
      val out = TempDirs.create("graft_cfg").toString
      val df = Tables(spark, sf, "nation").select(col("n_nationkey"))
      Sources.writeBinaryI64(df, "graftprobe://" + out)
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".i64"))
      assert(parts.nonEmpty, "no parts written through the probe scheme")
      val n = parts.map(_.length()).sum / 8
      assert(n == 25, s"expected 25 int64 records, got $n")
    } finally conf.unset(key)
  }

  test("xml source round-trips markup-hostile strings and null fields") {
    // The q_read_xml fixture is clean TPC-H text; the escaping contract
    // (&, <, >, quotes) and missing-element→null mapping need hostile
    // rows to be load-bearing.
    val rows = Seq(
      (1L, "a & b <tag> \"q\" 'x'", Some(3.5)),
      (2L, "plain", None),
      (3L, "ends with &amp; literally", Some(-0.0)))
    val df = rows.toDF("id", "s", "v")
    val tmp = TempDirs.create("graft_xml_t").toString
    df.coalesce(1).write.mode("overwrite").format("xml")
      .option("rowTag", "row").save(tmp)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val back = spark.read.format("xml").option("rowTag", "row")
      .schema(sch).load(tmp)
      .collect().map(r => (r.getLong(0),
        r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .sortBy(_._1).toSeq
    assert(back == rows.sortBy(_._1), back.toString)
  }

  test("variant_get: absent path is null, typed mismatch is null via try") {
    val one = spark.sql(
      """SELECT parse_json('{"a": 1, "s": "x"}') AS v""")
    val got = one.select(
      expr("variant_get(v, '$.a', 'bigint')").as("a"),
      expr("variant_get(v, '$.missing', 'bigint')").as("m"),
      expr("try_variant_get(v, '$.s', 'bigint')").as("bad")).head
    assert(got.getLong(0) == 1L)
    assert(got.isNullAt(1), "absent path must extract as null")
    assert(got.isNullAt(2), "uncastable value must be null under try_")
  }
}
