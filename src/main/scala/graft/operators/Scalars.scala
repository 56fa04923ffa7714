package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Scalar-function operators (SURVEY.md §2.B "Scalar functions").
  *
  * All built-in `org.apache.spark.sql.functions` — codegen'd, no UDFs —
  * so every query stays inside one WholeStageCodegen span over the scan.
  * Float-producing functions are ROUND(6)-wrapped on both sides; decimal
  * arithmetic is used where an exact product exists (SURVEY.md §5.4).
  */
object Scalars {

  /** concat / upper / lower / trim / lpad / substring / length / replace. */
  val strFuncs: Key = Key.sql("str_funcs") { t =>
    s"""SELECT c_custkey,
       |  c_name || '-' || c_mktsegment AS tagged,
       |  UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
       |  LPAD(CAST(c_custkey AS ${t.string}), 8, '0') AS padded,
       |  SUBSTRING(c_name, 1, 8) AS prefix,
       |  LENGTH(c_name) AS name_len,
       |  REPLACE(c_name, 'Customer', 'Cust') AS short_name,
       |  TRIM('  ' || c_mktsegment || '  ') AS trimmed
       |FROM ${t("customer")} ORDER BY c_custkey""".stripMargin
  }

  /** regexp_extract / regexp_replace / rlike. DuckDB regexp_replace
    * needs the 'g' flag to match Spark's replace-all semantics. */
  def strRegexp(spark: SparkSession, sfDir: String): DataFrame =
    part(spark, sfDir)
      .filter(col("p_type").rlike("^(PROMO|LARGE)"))
      .select(col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("int").as("brand_num"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        col("p_type"))
      .orderBy("p_partkey")

  val strRegexpOracle: String =
    """SELECT p_partkey,
      |  CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS INT) AS brand_num,
      |  regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
      |  p_type
      |FROM part WHERE regexp_matches(p_type, '^(PROMO|LARGE)')
      |ORDER BY p_partkey""".stripMargin

  /** Calendar functions. Spark dayofweek is 1=Sunday; DuckDB is
    * 0=Sunday — normalized to the DuckDB convention here. */
  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    orders(spark, sfDir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mo"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"),
        add_months(col("o_orderdate"), 3).as("plus3mo"),
        last_day(col("o_orderdate")).as("month_end"))
      .orderBy("o_orderkey")

  val dateFuncsOracle: String =
    """SELECT o_orderkey,
      |  YEAR(o_orderdate) AS yr, QUARTER(o_orderdate) AS qtr, MONTH(o_orderdate) AS mo,
      |  DAYOFWEEK(CAST(o_orderdate AS DATE)) AS dow,
      |  DATE_TRUNC('month', o_orderdate) AS month_start,
      |  DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
      |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3mo,
      |  LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** round / abs / ceil / floor / power / sqrt / ln / mod. Exact decimal
    * product for the rounded money term; r6 for irrational outputs. */
  val mathFuncs: Key = Key.sql("math_funcs") { t =>
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(18,4)) AS DOUBLE) AS disc_amount,
       |  ABS(l_quantity - 25) AS qty_dev,
       |  CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
       |  CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
       |  ROUND(POWER(l_quantity, 2), 6) AS qty_sq,
       |  ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,
       |  ROUND(LN(l_extendedprice), 6) AS price_ln,
       |  l_orderkey % 7 AS okey_mod7
       |FROM ${t("lineitem")} ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** least / greatest / coalesce / nullif / CASE combos. */
  val condFuncs: Key = Key.sql("cond_funcs") { t =>
    s"""SELECT o_orderkey,
       |  LEAST(o_totalprice, 250000.0) AS capped,
       |  GREATEST(o_totalprice, 250000.0) AS floored,
       |  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
       |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS bucket
       |FROM ${t("orders")} ORDER BY o_orderkey""".stripMargin
  }

  /** Array / higher-order functions over the embedding vectors — dot
    * products and norms in pure Catalyst (no UDF), explicit double
    * lambda math so both engines accumulate identically. */
  def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        r6(element_at(col("embedding"), 1).cast("double")).as("first_elem"),
        r6(array_max(col("embedding")).cast("double")).as("max_elem"),
        r6(array_min(col("embedding")).cast("double")).as("min_elem"),
        r6(sqrt(expr(
          "aggregate(embedding, cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))")))
          .as("l2_norm"),
        r6(sqrt(expr(
          "aggregate(slice(embedding, 1, 8), cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))")))
          .as("l2_norm_head8"))
      .orderBy("vec_id")

  val arrayFuncsOracle: String =
    """SELECT vec_id,
      |  LEN(embedding) AS dim,
      |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
      |  ROUND(CAST(LIST_MAX(embedding) AS DOUBLE), 6) AS max_elem,
      |  ROUND(CAST(LIST_MIN(embedding) AS DOUBLE), 6) AS min_elem,
      |  ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
      |  ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding[1:8], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm_head8
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** JSON extraction from the events props column + aggregation. */
  def jsonFuncs(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        r6(sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy("event_type")

  val jsonFuncsOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  ROUND(CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
      |        / COUNT(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Generator/UDTF surface: tokenize + explode → top-100 token counts. */
  val strSplitExplode: Key = Key.sql("str_split_explode") { t =>
    s"""SELECT token, COUNT(*) AS cnt
       |FROM (SELECT ${t.unnest.toUpperCase}(${t.split}(text, ' ')) AS token FROM ${t("documents")})
       |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100""".stripMargin
  }

  /** MapType surface: build a map, probe it (element_at/size), and
    * explode it back to rows (row output keeps the oracle engine-
    * agnostic — map render formats differ between engines). */
  val mapFuncs: Key = Key.sql("map_funcs") { t =>
    s"""SELECT o_orderkey, k, v, 2 AS n_keys, o_orderstatus AS status_via_map FROM (
       |  SELECT o_orderkey, o_orderstatus, 'status' AS k, o_orderstatus AS v FROM ${t("orders")}
       |  UNION ALL
       |  SELECT o_orderkey, o_orderstatus, 'priority', o_orderpriority FROM ${t("orders")})
       |ORDER BY o_orderkey, k""".stripMargin
  }

  /** Nested StructType surface: build nested structs, access dotted
    * fields, and serialize a flat struct to JSON text. */
  val structFuncs: Key = Key.sql("struct_funcs") { t =>
    s"""SELECT l_orderkey AS okey, l_linenumber AS line, l_quantity AS qty,
       |  l_extendedprice AS price,
       |  '{"okey":' || l_orderkey || ',"flag":"' || l_returnflag || '"}' AS js
       |FROM ${t("lineitem")} ORDER BY okey, line""".stripMargin
  }

  /** BITWISE SURFACE — AND/OR/XOR, shifts, popcount: the ops flag
    * columns, bitmap encodings, and hash mixing lean on. All exact
    * integer semantics; the only cross-engine syntax split is XOR
    * (Spark `^` vs DuckDB `xor()` — DuckDB's `^` is exponentiation,
    * the classic porting trap, pinned here on purpose). */
  def bitwiseFuncs(spark: SparkSession, sfDir: String): DataFrame =
    part(spark, sfDir)
      .select(col("p_partkey"),
        expr("p_partkey & 255").as("b_and"),
        expr("p_partkey | 4096").as("b_or"),
        expr("p_partkey ^ 1365").as("b_xor"),
        expr("shiftleft(p_partkey, 3)").as("b_shl"),
        expr("shiftright(p_partkey, 2)").as("b_shr"),
        expr("CAST(bit_count(p_partkey) AS INT)").as("b_pop"))
      .orderBy("p_partkey")

  val bitwiseFuncsOracle: String =
    """SELECT p_partkey,
      |  p_partkey & 255 AS b_and,
      |  p_partkey | 4096 AS b_or,
      |  xor(p_partkey, 1365) AS b_xor,
      |  p_partkey << 3 AS b_shl,
      |  p_partkey >> 2 AS b_shr,
      |  CAST(bit_count(p_partkey) AS INT) AS b_pop
      |FROM part ORDER BY p_partkey""".stripMargin

  /** FUZZY MATCHING (edit distance) — the record-linkage primitive the
    * plain string keys don't touch: for each nation name, the nearest
    * OTHER name by Levenshtein distance, tie-broken lexicographically
    * so the winner is total-ordered in both engines (both implement
    * textbook unit-cost Levenshtein — codegen'd in Spark). The
    * all-pairs join is DIMENSION-sized (25×25) and stays so at any
    * fact scale; for fuzzy-matching a fact-sized column the quadratic
    * form is the declared-baseline shape and the production path is
    * blocking first — length buckets, prefix keys, or the
    * `llm_dedup_minhash`/`near_prefix` machinery — then edit distance
    * only within blocks (documented, the `llm_dedup_near` discipline). */
  def strFuzzyMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val n = nation(spark, sfDir).select(col("n_nationkey").as("k"), col("n_name"))
    val pairs = n.as("a").join(broadcast(n.as("b")), col("a.k") =!= col("b.k"))
      .select(col("a.n_name").as("name"), col("b.n_name").as("cand"),
        levenshtein(col("a.n_name"), col("b.n_name")).as("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("name").orderBy("dist", "cand")
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("name"), col("cand").as("best_match"), col("dist").cast("long").as("dist"))
      .orderBy("name")
  }

  val strFuzzyMatchOracle: String =
    """WITH p AS (SELECT a.n_name AS name, b.n_name AS cand,
      |    levenshtein(a.n_name, b.n_name) AS dist
      |  FROM nation a JOIN nation b ON a.n_nationkey <> b.n_nationkey),
      |r AS (SELECT name, cand, dist,
      |    ROW_NUMBER() OVER (PARTITION BY name ORDER BY dist, cand) AS rk FROM p)
      |SELECT name, cand AS best_match, CAST(dist AS BIGINT) AS dist
      |FROM r WHERE rk = 1 ORDER BY name""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("str_fuzzy_match", strFuzzyMatch, strFuzzyMatchOracle),
    Key("scalar_bitwise_funcs", bitwiseFuncs, bitwiseFuncsOracle),
    mapFuncs,
    structFuncs,
    strFuncs,
    Key("str_regexp", strRegexp, strRegexpOracle),
    Key("date_funcs", dateFuncs, dateFuncsOracle),
    mathFuncs,
    condFuncs,
    Key("array_funcs", arrayFuncs, arrayFuncsOracle),
    Key("json_funcs", jsonFuncs, jsonFuncsOracle),
    strSplitExplode)

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
