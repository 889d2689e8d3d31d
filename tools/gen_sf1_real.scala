// REAL sf1 generator — fully synthetic, dbgen-shaped, organically skewed.
// Unlike a key-shifted 10x replication of sf0.1 (which preserves
// replica-flat distributions), every table here is generated from
// scratch with hash-deterministic randomness, so sf1 carries:
//   - Zipf-mixture key skew (hot customers / parts / users) that exercises
//     AQE skew handling and the dedup bucket caps organically,
//   - heavy-tail value distributions (exponential event values, lognormal-ish
//     document lengths),
//   - a FRESH text corpus (Zipf vocabulary per language, near-dup clusters
//     with Zipf cluster sizes, exact-dup subset) — not perturbed copies,
//   - Gaussian-mixture embeddings around per-label centroids with a near-dup
//     parent/child subset.
// Schemas match /root/testdata/sf0.1 exactly (TESTDATA.md). Determinism:
// xxhash64-based uniforms only — re-running reproduces byte-identical data.
// Run: /opt/spark/bin/spark-shell --master 'local[32]' -I tools/gen_sf1_real.scala
//
// r11: SPARK_GRAFT_GEN_SCALE (default 1) multiplies every row count AND the
// near-dup template count — SPARK_GRAFT_GEN_SCALE=10 writes an organic sf10
// to /tmp/sf10_real (override via SPARK_GRAFT_GEN_OUT). scale=1 output is
// byte-identical to the pre-r11 generator (same ids → same hash draws).
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.SparkSession

object GenSf1Real {
  def run(spark: SparkSession): Unit = {
    import spark.implicits._

val scale = sys.env.getOrElse("SPARK_GRAFT_GEN_SCALE", "1").toLong
require(scale >= 1, s"SPARK_GRAFT_GEN_SCALE must be >= 1, got $scale")
val out = sys.env.getOrElse("SPARK_GRAFT_GEN_OUT",
  if (scale == 1) "/tmp/sf1_real" else s"/tmp/sf${scale}_real")
// SPARK_GRAFT_GEN_DOCS_ONLY=1 writes only documents.parquet — the recall
// ladder's third-decade corpus needs millions of DOCS (scale=40 -> 2M),
// not the 240M lineitem rows the full fixture would drag along.
val docsOnly = sys.env.get("SPARK_GRAFT_GEN_DOCS_ONLY").contains("1")
spark.conf.set("spark.sql.shuffle.partitions", 32)

// uniform in (0,1] from (id, salt) — 40 bits of hash, never exactly 0
def u(id: Column, salt: Int): Column =
  (pmod(xxhash64(id, lit(salt)), lit(1L << 40)) + 1).cast("double") /
    lit((1L << 40).toDouble)

// Zipf(1) rank in [0, n): floor(n^u) - 1 (inverse-CDF power form)
def zipf(id: Column, salt: Int, n: Long): Column =
  least(floor(pow(lit(n.toDouble), u(id, salt))).cast("long") - 1, lit(n - 1))

// mixture: with prob pZipf a Zipf(1) draw (hot head), else uniform —
// "organic" skew: a hot head on top of a uniform body, like real traffic
def skewKey(id: Column, salt: Int, n: Long, pZipf: Double): Column =
  when(u(id, salt + 7919) < pZipf, zipf(id, salt, n))
    .otherwise(floor(u(id, salt) * n).cast("long"))

def pick(id: Column, salt: Int, vs: Seq[String]): Column =
  element_at(array(vs.map(lit): _*),
    (floor(u(id, salt) * vs.size) + 1).cast("int"))

val N_CUST = 150000L * scale; val N_SUPP = 10000L * scale
val N_PART = 200000L * scale
val N_ORD = 1500000L * scale; val N_EV = 1000000L * scale
val N_USERS = 15000L * scale
val N_DOC = 50000L * scale;   val N_VEC = 20000L * scale

// ---- dimensions -----------------------------------------------------------
if (!docsOnly) {
val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
spark.range(5).select(col("id").cast("int").as("r_regionkey"),
    element_at(array(regions.map(lit): _*), col("id").cast("int") + 1).as("r_name"))
  .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")

val nations = Seq("ALGERIA","ARGENTINA","BRAZIL","CANADA","EGYPT","ETHIOPIA",
  "FRANCE","GERMANY","INDIA","INDONESIA","IRAN","IRAQ","JAPAN","JORDAN",
  "KENYA","MOROCCO","MOZAMBIQUE","PERU","CHINA","ROMANIA","SAUDI ARABIA",
  "VIETNAM","RUSSIA","UNITED KINGDOM","UNITED STATES")
spark.range(25).select(col("id").cast("int").as("n_nationkey"),
    element_at(array(nations.map(lit): _*), col("id").cast("int") + 1).as("n_name"),
    pmod(xxhash64(col("id"), lit(1)), lit(5)).cast("int").as("n_regionkey"))
  .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")

val segments = Seq("AUTOMOBILE","BUILDING","FURNITURE","HOUSEHOLD","MACHINERY")
spark.range(N_CUST).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    pmod(xxhash64(col("id"), lit(2)), lit(25)).cast("int").as("c_nationkey"),
    round(u(col("id"), 3) * 10999.98 - 999.99, 2).as("c_acctbal"),
    pick(col("id"), 4, segments).as("c_mktsegment"))
  .write.mode("overwrite").parquet(s"$out/customer.parquet")

spark.range(N_SUPP).select(
    col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    pmod(xxhash64(col("id"), lit(5)), lit(25)).cast("int").as("s_nationkey"),
    round(u(col("id"), 6) * 10999.98 - 999.99, 2).as("s_acctbal"))
  .write.mode("overwrite").parquet(s"$out/supplier.parquet")

val adjs = Seq("large","hot","blue","dark","small","pale","spicy","smooth",
  "shiny","rusty","fresh","clean","quick","round","flat","light")
val nouns = Seq("ring","bolt","wire","plate","gear","valve","lens","frame",
  "brick","panel","screw","wheel","tube","cable","spring","joint")
val types = Seq("STANDARD","SMALL","MEDIUM","LARGE","ECONOMY","PROMO")
spark.range(N_PART).select(
    col("id").as("p_partkey"),
    concat_ws(" ", pick(col("id"), 7, adjs), pick(col("id"), 8, nouns)).as("p_name"),
    concat(lit("Brand#"),
      (pmod(xxhash64(col("id"), lit(9)), lit(25)) + 1).cast("string")).as("p_brand"),
    pick(col("id"), 10, types).as("p_type"),
    (pmod(xxhash64(col("id"), lit(11)), lit(50)) + 1).cast("int").as("p_size"),
    // dbgen-style dense price band, 1dp — extendedprice derives from this
    round(lit(900.0) + pmod(col("id"), lit(20000)).cast("double") / 10.0, 1)
      .as("p_retailprice"))
  .write.mode("overwrite").parquet(s"$out/part.parquet")

// ---- facts ----------------------------------------------------------------
// orders: o_custkey is a 15% Zipf / 85% uniform mixture — the hottest
// customer holds ~1.5% of all orders (organic skew for joins/groupbys)
val ORDERDATE_DAYS = 2404 // [1995-01-01, 2001-08-01)
val orders = spark.range(N_ORD).select(
    col("id").as("o_orderkey"),
    skewKey(col("id"), 20, N_CUST, 0.15).as("o_custkey"),
    pick(col("id"), 21, Seq("O", "F", "P")).as("o_orderstatus"),
    round(u(col("id"), 22) * 499000.0 + 1000.0, 2).as("o_totalprice"),
    (lit(to_timestamp(lit("1995-01-01"))).cast("long") +
      floor(u(col("id"), 23) * ORDERDATE_DAYS).cast("long") * 86400L)
      .cast("timestamp").as("o_orderdate"),
    pick(col("id"), 24, Seq("1-URGENT","2-HIGH","3-MEDIUM","4-NOT SPECIFIED","5-LOW"))
      .as("o_orderpriority"))
orders.write.mode("overwrite").parquet(s"$out/orders.parquet")

// lineitem: 1..7 lines per order (avg 4, like dbgen); l_partkey carries the
// same Zipf mixture so part-join and basket-support skew is organic
val li = spark.read.parquet(s"$out/orders.parquet")
  .select(col("o_orderkey"), col("o_orderdate"))
  .withColumn("n_lines", (pmod(xxhash64(col("o_orderkey"), lit(30)), lit(7)) + 1).cast("int"))
  .select(col("o_orderkey"), col("o_orderdate"),
    explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
  .withColumn("lid", xxhash64(col("o_orderkey"), col("l_linenumber")))
val lineitem = li.select(
    col("o_orderkey").as("l_orderkey"),
    skewKey(col("lid"), 31, N_PART, 0.15).as("l_partkey"),
    floor(u(col("lid"), 32) * N_SUPP).cast("long").as("l_suppkey"),
    col("l_linenumber"),
    (floor(u(col("lid"), 33) * 50) + 1).cast("double").as("l_quantity"),
    col("lid"), col("o_orderdate"))
  .withColumn("l_extendedprice", round(col("l_quantity") *
    (lit(900.0) + pmod(col("l_partkey"), lit(20000)).cast("double") / 10.0), 2))
  .withColumn("l_discount", round(floor(u(col("lid"), 34) * 11) / 100.0, 2))
  .withColumn("l_tax", round(floor(u(col("lid"), 35) * 9) / 100.0, 2))
  .withColumn("l_returnflag", pick(col("lid"), 36, Seq("A", "N", "R")))
  .withColumn("l_linestatus", pick(col("lid"), 37, Seq("O", "F")))
  .withColumn("l_shipdate", (col("o_orderdate").cast("long") +
    (floor(u(col("lid"), 38) * 95) + 1).cast("long") * 86400L).cast("timestamp"))
  .select("l_orderkey","l_partkey","l_suppkey","l_linenumber","l_quantity",
    "l_extendedprice","l_discount","l_tax","l_returnflag","l_linestatus","l_shipdate")
lineitem.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

// events: 30% Zipf / 70% uniform user mixture over 15k users (hot user ~3%
// of the stream); exponential-tail values; 30-day window like the fixture
val EV_WINDOW_SEC = 30L * 86400 - 60
val events = spark.range(N_EV).select(
    col("id").as("event_id"),
    (lit(to_timestamp(lit("2024-01-01 00:00:00"))).cast("long") +
      floor(u(col("id"), 40) * EV_WINDOW_SEC).cast("long")).cast("timestamp").as("ts"),
    skewKey(col("id"), 41, N_USERS, 0.30).as("user_id"),
    pick(col("id"), 42, Seq("view","click","purchase","signup","error")).as("event_type"),
    round(-log(u(col("id"), 43)) * 50.0, 3).as("value"),
    concat(lit("{\"k\": "),
      pmod(xxhash64(col("id"), lit(44)), lit(100)).cast("string"),
      lit("}")).as("props"))
events.write.mode("overwrite").parquet(s"$out/events.parquet")
}

// ---- documents: fresh corpus ---------------------------------------------
// Per-language vocab: language markers + English stopwords lead the array so
// a Zipf(1) rank draw lands on them often (stopword_ratio / lang-ID behave
// like real text); tails are syllable-composed content words.
val sylA = Seq("ta","re","mo","ka","li","su","ven","dor","pel","nix")
val sylB = Seq("ran","bel","tos","mir","dun","qua","lor","fex","gam","hiz")
def filler(prefix: String): Seq[String] =
  for (a <- sylA; b <- sylB) yield s"$prefix$a$b"
val vocabEnW = Seq("the","and","of","to","is","with","for","that","a","in",
  "it","on","as","was","at","by","be","or","an",
  "data","spark","query","table","batch","column","sort","hash","scan",
  "line","order","group","value","fast","slow","small","large") ++ filler("")
val vocabFrW = Seq("le","la","les","et","de","un","une","est","du","en",
  "pour","avec","dans","sur","par","que","qui","pas") ++ filler("é")
val vocabDeW = Seq("der","die","das","und","ist","ein","eine","mit","von",
  "zu","auf","für","nicht","auch","sich","dem","den") ++ filler("ü")
val vocabZhW = Seq("的","是","了","在","和","有","我","他","这","中","大",
  "来","上","国","个","到","说","们","为","子") ++ filler("中")
val vocabs = Map("en" -> vocabEnW, "fr" -> vocabFrW, "de" -> vocabDeW, "zh" -> vocabZhW)

// Near-dup machinery: 18% of docs are members of one of 2000 templates with
// Zipf cluster sizes (largest clusters ~hundreds of members — organically
// exercises the LSH bucket caps); 1/3 of members are EXACT dups (identical
// seed and no mutation), the rest mutate every ~8th word.
val N_TMPL = 2000L * scale
val ids = spark.range(N_DOC)
val isDup = u(col("id"), 50) < 0.18
val tmpl = zipf(col("id"), 51, N_TMPL) - N_TMPL // negative ids: template seeds
val seedId = when(isDup, tmpl).otherwise(col("id"))
val isExact = isDup && (u(col("id"), 52) < 0.34)
// language mix: en-heavy like a web crawl (explicit thresholds — the
// power-form Zipf gives the LAST rank ~zero mass over tiny domains)
val lu = u(seedId, 53)
val langCol = when(lu < 0.55, lit("en")).when(lu < 0.73, lit("fr"))
  .when(lu < 0.88, lit("de")).otherwise(lit("zh"))
// length: body uniform 8..70 words, ~4% lognormal-ish tail to ~650
val nWords = (lit(8) + floor(u(seedId, 54) * 44) +
  floor(pow(u(seedId, 55), 15) * 600)).cast("int")
// common vocab size: truncate every language to the same Zipf domain
val V = 112L
require(vocabs.values.forall(_.size >= V), "each vocab must cover the Zipf domain")
def vocabArr(vs: Seq[String]): Column = array(vs.take(V.toInt).map(lit): _*)
val vocabBySeed = when(langCol === "en", vocabArr(vocabEnW))
  .when(langCol === "fr", vocabArr(vocabFrW))
  .when(langCol === "de", vocabArr(vocabDeW))
  .otherwise(vocabArr(vocabZhW))
// word at slot i: Zipf rank from (seed, i); mutated slots re-draw from the
// member's own doc_id so near-dups differ in every ~8th slot
val docs = ids.select(col("id"), seedId.as("seed"), isDup.as("dup"),
    isExact.as("exact"), langCol.as("lang"), nWords.as("nw"),
    vocabBySeed.as("vocab"))
  .withColumn("text", array_join(transform(sequence(lit(1), col("nw")), i => {
    val slotSeed = col("seed") * 1000003L + i
    val mutSeed = col("id") * 1000003L + i
    val mutate = !col("exact") && col("dup") &&
      (pmod(xxhash64(col("id"), i, lit(56)), lit(8)) === 0)
    val rank = when(mutate, zipf(mutSeed, 57, V)).otherwise(zipf(slotSeed, 58, V))
    element_at(col("vocab"), (rank + 1).cast("int"))
  }), " "))
  .select(col("id").as("doc_id"), col("text"), col("lang"),
    // source: Zipf over 20 sources (src0 ~28% — organic source imbalance)
    concat(lit("src"), zipf(col("id"), 59, 20).cast("string")).as("source"),
    length(col("text")).cast("long").as("n_chars"))
docs.write.mode("overwrite").parquet(s"$out/documents.parquet")

// ---- embeddings: Gaussian mixture around 10 label centroids --------------
if (!docsOnly) {
// 6% of vectors are near-dup children of a Zipf-chosen parent (same label,
// same base noise, tiny extra jitter) — organic near-dup structure for ANN.
def gauss(id: Column, salt: Int): Column =
  sqrt(-lit(2.0) * log(u(id, salt))) * cos(lit(2.0 * math.Pi) * u(id, salt + 1))
val isChild = u(col("id"), 60) < 0.06
val parent = zipf(col("id"), 61, N_VEC / 4)
val vseed = when(isChild, parent).otherwise(col("id"))
val emb = spark.range(N_VEC).select(col("id"), vseed.as("vs"), isChild.as("child"))
  .select(
    col("id").as("vec_id"),
    transform(sequence(lit(0), lit(63)), d => {
      val label = pmod(xxhash64(col("vs"), lit(62)), lit(10))
      val centroid = (pmod(xxhash64(label, d, lit(63)), lit(2001)).cast("double")
        - 1000.0) / 1000.0
      val base = gauss(col("vs") * 64L + d.cast("long"), 64) * 0.25
      val jitter = when(col("child"),
        gauss(col("id") * 64L + d.cast("long"), 66) * 0.01).otherwise(0.0)
      (centroid + base + jitter).cast("float")
    }).as("embedding"),
    pmod(xxhash64(col("vs"), lit(62)), lit(10)).cast("int").as("label"))
emb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
}

for (t <- if (docsOnly) Seq("documents")
          else Seq("region","nation","customer","supplier","part","orders",
            "lineitem","events","documents","embeddings"))
  println(s"GEN $t ${spark.read.parquet(s"$out/$t.parquet").count()}")
  }
}
GenSf1Real.run(spark)
System.exit(0)
