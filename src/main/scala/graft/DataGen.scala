package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for the TESTDATA.md schema at
  * ARBITRARY scale factor — the machinery behind the measured (not
  * argued) 10× scale-up evidence the r13 verdict asked for (task 1).
  *
  * `runMain graft.DataGen <outDir> <sf>` writes the ten tables
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`) with the same schemas, physical types
  * (timestamps as NTZ micros, matching the driver fixtures' parquet
  * footers), key ranges, and value distributions as the driver-generated
  * `/root/testdata/sf*` dirs, scaled by `sf` under the fixtures' own
  * observed rules (lineitem = 6,000,000·sf rows; documents/embeddings
  * floor at 500).
  *
  * This is NOT the driver's generator (its seed-42 stream is unknown) —
  * it is distribution-compatible, which is all the scale measurement
  * needs: correctness at a generated SF is self-consistent (Spark and
  * the DuckDB oracle read the SAME files), and per-key runtimes are
  * comparable across SFs because the shapes (key cardinalities, join
  * fan-outs, skew, text lengths, window densities) scale the way the
  * originals do.
  *
  * Determinism without an RNG: every field is a pure function of
  * (table-tag, row id) through xxhash64 — re-running produces byte-
  * identical values in any partitioning, and generation is
  * embarrassingly parallel (spark.range partitions), which is also the
  * honest 100 TB posture for a datagen.
  */
object DataGen {

  /** Uniform double in [0, 1), a pure function of (tag, id). */
  private def u(tag: String, id: Column): Column =
    pmod(xxhash64(lit(tag), id), lit(1000000000L)).cast("double") / 1e9

  /** Uniform int in [0, n), a pure function of (tag, id). */
  private def ui(tag: String, id: Column, n: Int): Column =
    pmod(xxhash64(lit(tag), id), lit(n.toLong)).cast("int")

  private def pick(tag: String, id: Column, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), ui(tag, id, vals.size) + 1)

  private val DayUs = 86400000000L

  /** Epoch micros of a yyyy-MM-dd date (driver-side, no session tz). */
  private def epochUs(date: String): Long =
    java.time.LocalDate.parse(date).toEpochDay * DayUs

  /** NTZ timestamp from a days-since offset over an epoch date. The
    * UTC-instant -> NTZ cast is micros-preserving because the generator
    * session pins spark.sql.session.timeZone=UTC. */
  private def ntzDate(epoch: String, days: Column): Column =
    timestamp_micros(lit(epochUs(epoch)) + days.cast("long") * DayUs)
      .cast("timestamp_ntz")

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    import spark.implicits._
    require(sf > 0, s"sf must be positive, got $sf")
    def rows(base: Long): Long = math.max(1L, math.round(base * sf))
    val nCust = rows(150000)
    val nSupp = rows(10000)
    val nPart = rows(200000)
    val nOrd = rows(1500000)
    val nLine = rows(6000000)
    val nEv = rows(1000000)
    val nUsers = math.max(1L, math.round(15000 * sf))
    val nDoc = math.max(500L, math.round(50000 * sf))
    val nVec = math.max(500L, math.round(20000 * sf))
    // layout-faithful to the driver fixtures: ONE file named
    // <table>.parquet (the DuckDB oracle and the tools read that path
    // directly). Generation is parallel; only the final encode funnels
    // through one writer task — fine for the local scale bench sizes.
    def write(df: DataFrame, name: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val tmp = s"$outDir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = graft.util.Scratch.parquetFiles(tmp).headOption
        .getOrElse(sys.error(s"no parquet part under $tmp"))
      Files.createDirectories(Paths.get(outDir))
      Files.move(part, Paths.get(outDir, s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      graft.util.Scratch.deleteTree(tmp)
      println(s"[datagen] wrote $name")
    }

    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), "region")

    write(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("c_nat", col("id"), 25).as("c_nationkey"),
      round(lit(-1000.0) + u("c_bal", col("id")) * 11000.0, 2).as("c_acctbal"),
      pick("c_seg", col("id"), segments).as("c_mktsegment")), "customer")

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("s_nat", col("id"), 25).as("s_nationkey"),
      round(lit(-1000.0) + u("s_bal", col("id")) * 11000.0, 2).as("s_acctbal")), "supplier")

    val adjectives = Seq("large", "hot", "blue", "old", "small", "red", "green", "new")
    val nouns = Seq("ring", "bolt", "plate", "screw", "nut", "washer", "cap", "disk")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick("p_adj", col("id"), adjectives), lit(" "),
        pick("p_noun", col("id"), nouns)).as("p_name"),
      concat(lit("Brand#"), (ui("p_brand", col("id"), 25) + 1).cast("string")).as("p_brand"),
      pick("p_type", col("id"), types).as("p_type"),
      (ui("p_size", col("id"), 50) + 1).as("p_size"),
      // the fixtures' exact price ladder: 900.0 + (key mod 1000) / 10
      ((lit(9000L) + col("id") % 1000).cast("double") / 10.0).as("p_retailprice")), "part")

    write(spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(lit("o_cust"), col("id")), lit(nCust)).as("o_custkey"),
      pick("o_stat", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u("o_price", col("id")) * 499000.0, 2).as("o_totalprice"),
      ntzDate("1995-01-01", ui("o_date", col("id"), 2405)).as("o_orderdate"),
      pick("o_prio", col("id"),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), "orders")

    write(spark.range(nLine).select(
      pmod(xxhash64(lit("l_ord"), col("id")), lit(nOrd)).as("l_orderkey"),
      pmod(xxhash64(lit("l_part"), col("id")), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(lit("l_supp"), col("id")), lit(nSupp)).as("l_suppkey"),
      (ui("l_ln", col("id"), 7) + 1).as("l_linenumber"),
      (ui("l_qty", col("id"), 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u("l_ext", col("id")) * 104100.0, 2).as("l_extendedprice"),
      round(ui("l_disc", col("id"), 11).cast("double") / 100.0, 2).as("l_discount"),
      round(ui("l_tax", col("id"), 9).cast("double") / 100.0, 2).as("l_tax"),
      pick("l_rf", col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_ls", col("id"), Seq("F", "O")).as("l_linestatus"),
      ntzDate("1995-01-02", ui("l_ship", col("id"), 2499)).as("l_shipdate")), "lineitem")

    // events: a fixed 30-day window at EVERY sf (density scales, matching
    // the fixtures) — ts strictly increases with event_id (slot + jitter
    // bounded under the slot width), so no global sort or window is needed
    val spanUs = 30L * DayUs
    val slotUs = spanUs / nEv
    write(spark.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(epochUs("2024-01-01")) + col("id") * slotUs +
        (u("e_jit", col("id")) * (slotUs * 0.9)).cast("long")).cast("timestamp_ntz").as("ts"),
      pmod(xxhash64(lit("e_user"), col("id")), lit(nUsers)).as("user_id"),
      pick("e_type", col("id"), Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      // exponential tail with mean 50, the fixtures' observed quantiles
      round(-lit(50.0) * log(lit(1.0) - u("e_val", col("id"))), 2).as("value"),
      concat(lit("{\"k\": "), ui("e_k", col("id"), 100).cast("string"), lit("}"))
        .as("props")), "events")

    // vocab includes every literal term the graded keys probe ('vector'
    // + 'merge' for the inverted-index query, 'the'/'a' for the C4
    // stopword checks) — a corpus without them degenerates those keys
    // to empty-but-matching results
    val vocab = Seq("batch", "part", "spark", "line", "column", "order", "small",
      "sort", "fast", "value", "scan", "vector", "query", "agg", "table", "hash",
      "group", "key", "stream", "filter", "customer", "slow", "so", "join",
      "shuffle", "cache", "disk", "row", "file", "plan", "read", "merge",
      "the", "a")
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    val langs = Seq("de", "es", "fr", "zh")
    // ENGINEERED DUPLICATE STRUCTURE (the driver fixtures have it too —
    // without it every near-dup key returns empty-but-matching): ~5.5%
    // of docs copy a BASE doc's text, a third of those verbatim (exact
    // dups) and the rest with one appended word (shingle Jaccard
    // ~ (n-5)/(n+1) — near-dups above the graded thresholds for longer
    // docs). Base docs are the id%10==0 docs, which are never dups
    // themselves, so dup chains cannot form and every dup pair is a
    // genuine near/exact duplicate by construction.
    write(spark.range(nDoc)
      .withColumn("is_dup",
        col("id") % 10 =!= 0 && u("d_dup", col("id")) < lit(0.055) && col("id") >= 10)
      .withColumn("seed", when(col("is_dup"), col("id") - col("id") % 10)
        .otherwise(col("id")))
      .withColumn("n_words",
        pmod(xxhash64(lit("d_len"), col("seed")), lit(91L)).cast("int") + 10)
      .withColumn("base", expr(
        s"""array_join(transform(sequence(1, n_words),
           | i -> element_at($vocabSql,
           |   cast(pmod(xxhash64('d_word', seed, i), ${vocab.size}) as int) + 1)), ' ')"""
          .stripMargin))
      .select(
        col("id").as("doc_id"),
        when(col("is_dup") && u("d_mut", col("id")) >= 0.35,
          concat(col("base"), lit(" "), pick("d_extra", col("id"), vocab)))
          .otherwise(col("base")).as("text"),
        // ~41% en, the rest split evenly — the fixtures' observed mix
        when(u("d_lang", col("id")) < 0.41, "en")
          .otherwise(pick("d_lang2", col("id"), langs)).as("lang"),
        concat(lit("src"), ui("d_src", col("id"), 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: weak label-centroid structure + dominant per-vector
    // noise (the fixtures are near-clusterless by adjudication), 64 dims
    write(spark.range(nVec)
      .withColumn("label", ui("v_label", col("id"), 10))
      .select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), i -> cast(
                 (pmod(xxhash64('v_cent', label, i), 1000) / 1000.0 - 0.5) * 0.3 +
                 (pmod(xxhash64('v_noise', id, i), 1000) / 1000.0 - 0.5) * 1.0
               as float))""").as("embedding"),
        col("label"))
      .select("vec_id", "embedding", "label"), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: DataGen <outDir> <sf>")
    val spark = GraftSession.local(GraftSession.cpus)
    generate(spark, args(0), args(1).toDouble)
    spark.stop()
  }
}
