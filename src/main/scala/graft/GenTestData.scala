package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, LongType, TimestampNTZType}

/** Local scale-probe data generator (build-loop tooling, not library
  * surface): emits the TESTDATA.md schema at an arbitrary scale factor so
  * capacity/skew/broadcast decisions can be probed at SFs the driver does
  * not ship — every cardinality follows the driver tables' observed
  * scaling law (sf0.01 → sf0.1 measured on every table), and every column
  * matches the driver schema in name, type and value shape.
  *
  * Deterministic by construction: every "random" value derives from
  * xxhash64(id, salt) column expressions — no RNG, no partition-order
  * dependence, identical output at any parallelism. Dup structure for the
  * dedup family is built in (≈0.2% exact-dup docs, ≈0.3% near-dup docs at
  * Jaccard ≈ 0.96), embeddings are 10 Gaussian-ish label clusters like the
  * driver's.
  *
  * Usage: `sbt "runMain graft.GenTestData <outDir> <sf> [open]"`.
  * `events.ts` is written as TIMESTAMP_MICROS (Spark cannot emit the
  * driver's TIMESTAMP(NANOS)); [[graft.sources.Tables]] handles both.
  *
  * The optional `open` mode (r12) swaps the documents vocabulary from the
  * driver's 31 words to an OPEN, Zipf(1)-distributed 2^20-word space
  * (rank = floor(exp(u·ln V)) — the standard inverse-CDF spelling, so
  * p(rank r) ∝ 1/r like real text). Purpose: the 31-word corpus is an
  * adversarial worst case for the AllPairs prefix filter — EVERY shingle's
  * df grows ∝ corpus size, so candidates grow ~n² no matter what (the r11
  * verdict's one open scale question). On an open vocabulary a doc's
  * rarest shingles stay rare as the corpus grows, which is the regime real
  * web-scale corpora live in; SURVEY §7 r12 records the shingle and
  * candidate counts measured on `open` corpora. Everything else
  * (dup/near-dup family seeding, doc count, lengths, langs, all other
  * tables) is identical, so the same oracle SQL verifies both corpora.
  */
object GenTestData {

  /** Uniform [0,1) from (column, salt) — deterministic, codegen. */
  private def u(c: Column, salt: Int): Column =
    pmod(xxhash64(c, lit(salt)), lit(1000000000L)).cast("double") / 1e9

  private def pick(c: Column, salt: Int, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*),
      (u(c, salt) * vals.size).cast(IntegerType) + 1)

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args(1).toDouble
    val openVocab = args.length > 2 && args(2) == "open"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, outDir, sf, openVocab)
    spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, sf: Double,
      openVocab: Boolean = false): Unit = {
    import spark.implicits._

    // the driver tables' scaling law (rows at sf1)
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nEmb = math.max(500L, (20000 * sf).toLong) // driver floor at small SF
    val id = col("id")

    // Open mode only changes the documents text; every other table is
    // vocabulary-independent and byte-identical to the closed corpus, so
    // open mode skips them — hardlink/copy them from the closed dir when a
    // full-table run (e.g. the DuckDB oracle harness) needs an open corpus.
    def write(df: DataFrame, name: String, files: Int): Unit =
      if (!openVocab || name == "documents")
        df.coalesce(files).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region", 1)

    write(spark.range(25).select(id.cast(IntegerType).as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"),
      (id % 5).cast(IntegerType).as("n_regionkey")), "nation", 1)

    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (u(id, 1) * 25).cast(IntegerType).as("c_nationkey"),
      round(u(id, 2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), "customer", 1)

    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (u(id, 4) * 25).cast(IntegerType).as("s_nationkey"),
      round(u(id, 5) * 11000 - 1000, 2).as("s_acctbal")), "supplier", 1)

    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 6, Seq("large", "hot", "blue", "green", "dim", "new")),
        pick(id, 7, Seq("ring", "bolt", "case", "plate", "wheel"))).as("p_name"),
      format_string("Brand#%d",
        (u(id, 8) * 25).cast(IntegerType) + 1).as("p_brand"),
      pick(id, 9, Seq("STANDARD", "LARGE", "ECONOMY", "SMALL", "MEDIUM",
        "PROMO")).as("p_type"),
      ((u(id, 10) * 50).cast(IntegerType) + 1).as("p_size"),
      (lit(900.0) + (id % 1000).cast("double") / 10).as("p_retailprice")),
      "part", 1)

    // o_orderdate: 1995-01-01 + U·2400 days (driver span 1995→2001).
    // TIMESTAMP_NTZ like the driver files (they load as TimestampNTZType).
    write(spark.range(nOrders).select(id.as("o_orderkey"),
      pmod(xxhash64(id, lit(11)), lit(nCust)).as("o_custkey"),
      pick(id, 12, Seq("O", "O", "F", "F", "P")).as("o_orderstatus"),
      round(u(id, 13) * 499000 + 1000, 2).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        (u(id, 14) * 2400).cast(IntegerType))
        .cast(TimestampNTZType).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders", math.max(1, (4 * sf).toInt))

    write(spark.range(nLine).select(
      pmod(xxhash64(id, lit(16)), lit(nOrders)).as("l_orderkey"),
      pmod(xxhash64(id, lit(17)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(id, lit(18)), lit(nSupp)).as("l_suppkey"),
      ((u(id, 19) * 7).cast(IntegerType) + 1).as("l_linenumber"),
      (floor(u(id, 20) * 50) + 1).cast("double").as("l_quantity"),
      round(u(id, 21) * 104100 + 900, 2).as("l_extendedprice"),
      (floor(u(id, 22) * 11) / 100).as("l_discount"),
      (floor(u(id, 23) * 9) / 100).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, Seq("F", "O")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1995-01-02")),
        (u(id, 26) * 2500).cast(IntegerType))
        .cast(TimestampNTZType).as("l_shipdate")),
      "lineitem", math.max(1, (16 * sf).toInt))

    // a time-ordered stream over 30 days of Jan 2024 (ts monotone in
    // event_id with sub-step jitter, like the driver's)
    val stepUs = 2592000000000L / math.max(nEvents, 1)
    write(spark.range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs +
        (u(id, 27) * stepUs).cast(LongType)).as("ts"),
      pmod(xxhash64(id, lit(28)), lit(nUsers)).as("user_id"),
      pick(id, 29, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      least(round(-log(lit(1.0) - u(id, 30)) * 50, 2), lit(600.0)).as("value"),
      format_string("{\"k\": %d}",
        (u(id, 31) * 100).cast(IntegerType)).as("props")),
      "events", math.max(1, (8 * sf).toInt))

    // documents: 10-100 words sampled from the driver's 31-word vocab.
    // Dup structure via a TEMPLATE id: ~0.2% of docs reuse the text of
    // doc_id-10 verbatim (exact dups); ~0.3% reuse it with one appended
    // word (near-dups at Jaccard ≈ (n-1)/n on shingles). The template doc
    // must itself be a BASE doc (its own r ≥ 0.005) — otherwise the copy
    // would reproduce what the template WOULD have been, not what it is,
    // and the intended pair never materializes.
    val r = u(id, 32)
    val tplIsBase = u(id - 10, 32) >= 0.005
    val isDup = r < 0.005 && id >= 10 && tplIsBase
    val isNearDup = r >= 0.002 && isDup
    val tid = when(isDup, id - 10).otherwise(id)
    val nWords = ((u(tid, 33) * 91).cast(IntegerType) + 10)
    // word from a 64-bit position hash: closed = uniform over the 31-word
    // driver vocab (hash spellings unchanged from r9 — existing corpora
    // regenerate byte-identically); open = Zipf(1) rank over 2^20 words
    // (inverse CDF: rank = floor(exp(u·ln V)) ∈ [1, V), p(r) ∝ 1/r)
    def word(posHash: Column): Column =
      if (openVocab)
        format_string("w%d", floor(exp(
          (pmod(posHash, lit(1000000000L)).cast("double") / 1e9)
            * log(lit(1048576.0)))).cast(LongType))
      else element_at(array(Vocab.map(lit): _*),
        pmod(posHash, lit(Vocab.size)).cast(IntegerType) + 1)
    val baseText = concat_ws(" ",
      transform(sequence(lit(1), nWords), i => word(xxhash64(tid, i, lit(34)))))
    val text0 = when(isNearDup,
      concat(baseText, lit(" "), word(xxhash64(id, lit(35)))))
      .otherwise(baseText)
    write(spark.range(nDocs).select(id.as("doc_id"), text0.as("text"),
      // en ≈ 41%, the rest ≈ 15% each — the driver's observed mix
      pick(id, 36, Seq("en", "en", "en", "de", "es", "fr", "zh",
        "en", "en", "en", "de", "es", "fr", "zh", "en", "de", "es", "fr",
        "zh", "en")).as("lang"),
      format_string("src%d", (u(id, 37) * 20).cast(IntegerType)).as("source"),
      length(text0).cast(LongType).as("n_chars")),
      "documents", math.max(1, (4 * sf).toInt))

    // embeddings: 10 label clusters; vec = center(label) + noise, float32.
    // Center spread (±0.1) over noise (±0.05) gives intra-cluster cosine
    // similarity well above cross-cluster, like the driver's data.
    val label = pmod(xxhash64(id, lit(38)), lit(10)).cast(IntegerType)
    def unit(c1: Column, c2: Column, salt: Int): Column =
      (pmod(xxhash64(c1, c2, lit(salt)), lit(2001)).cast("double") - 1000) / 1000.0
    val emb = transform(sequence(lit(0), lit(63)), d =>
      (unit(label, d, 39) * 0.1 + unit(id, d, 40) * 0.05).cast(FloatType))
    write(spark.range(nEmb).select(id.as("vec_id"), emb.as("embedding"),
      label.as("label")), "embeddings", 1)
  }
}
