package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md
  * §2.B "text" + builder mandate: language-ID, quality scoring, token
  * counting, fingerprinting).
  *
  * Every op is a single scan + (at most) one groupBy — per-document
  * features are pure Catalyst expressions, so at 100 TB these run
  * embarrassingly parallel with no shuffle except the final aggregate.
  * All float math is integer-derived or ROUND(6)-stabilized.
  */
object LlmText {

  /** Per-language corpus statistics. Averages are exact integer
    * micro-units (1e6·sum DIV count): float ROUND differs between
    * engines when a quotient's shortest repr lands exactly on a …5
    * boundary, integer division never does (SURVEY.md §5.4). */
  def llmTextStats(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("avg_chars_e6", expr("(1000000 * sum_chars) div n_docs"))
      .withColumn("avg_tokens_e6", expr("(1000000 * sum_tokens) div n_docs"))
      .orderBy("lang")

  val llmTextStatsOracle: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST((1000000 * SUM(n_chars)) // COUNT(*) AS BIGINT) AS avg_chars_e6,
      |  CAST((1000000 * SUM(n_tokens)) // COUNT(*) AS BIGINT) AS avg_tokens_e6
      |FROM (SELECT lang, n_chars, len(string_split(text, ' ')) AS n_tokens FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** TF-IDF: per (lang, term), score = ln(1+tf_lang)·ln(N/df); top-5
    * terms per language. */
  val llmTfidfTop: Key = Key.sql("llm_tfidf_top") { t =>
    s"""WITH tok AS (SELECT doc_id, lang, ${t.unnest.toUpperCase}(${t.split}(text, ' ')) AS term FROM ${t("documents")}),
       |tf AS (SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_total FROM ${t("documents")})
       |SELECT lang, term, score, rn FROM (
       |  SELECT lang, term,
       |    ROUND(LN(1 + tf) * LN(CAST(n_total AS DOUBLE) / df), 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ROUND(LN(1 + tf) * LN(CAST(n_total AS DOUBLE) / df), 6) DESC, term ASC) AS rn
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin
  }

  /** Top-50 bigram counts (with multiplicity) across the corpus. */
  /** All n-token windows (stride 1, space-joined) of token-array column
    * `t` — THE shared window/shingle/gram algebra: 2-gram (`llm_ngrams`),
    * 3-gram shingles (LlmDedup), 4-gram decontamination, 8-token spans
    * all use this one expression, so a tokenization fix lands everywhere
    * at once. Callers guard `size(t) >= n`. */
  private[operators] def tokenWindows(t: String, n: Int): String =
    s"transform(sequence(0, size($t)-$n), i -> concat_ws(' ', slice($t, i+1, $n)))"

  def llmNgrams(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(tokenWindows("t", 2))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(50)

  /** Cap-free per-row range (k = 1 .. len-1 ⇔ k + 1 ≤ len). */
  val llmNgramsOracle: String =
    """SELECT t[k] || ' ' || t[k+1] AS bigram, COUNT(*) AS cnt
      |FROM (SELECT t, unnest(range(1, len(t))) AS k
      |      FROM (SELECT string_split(text, ' ') AS t FROM documents))
      |GROUP BY 1 ORDER BY cnt DESC, bigram ASC LIMIT 50""".stripMargin

  /** The ONE lang-ID heuristic, spliced as the `pred` CTE by
    * `llm_lang_id` and `llm_langid_eval` so a threshold tweak cannot
    * drift between the prediction key and its evaluation key: the
    * 'e'-frequency thresholds are deterministic in both engines
    * (accuracy is secondary to plumbing: the synthetic corpus shares
    * one vocabulary). GREATEST(len, 1): empty text scores ratio 0 on
    * both engines; unguarded, Spark's integer `div 0` yields NULL
    * while DuckDB's `// 0` throws. */
  private[operators] def predLangCteSql(t: Key.Dialect): String =
    s"""pred AS (SELECT doc_id, lang, e_ratio_e6,
       |    CASE WHEN e_ratio_e6 >= 100000 THEN 'en' WHEN e_ratio_e6 >= 80000 THEN 'de'
       |         WHEN e_ratio_e6 >= 60000 THEN 'fr' WHEN e_ratio_e6 >= 40000 THEN 'es'
       |         ELSE 'zh' END AS pred_lang
       |  FROM (SELECT doc_id, lang,
       |          (1000000 * CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT))
       |            ${t.idiv} GREATEST(length(text), 1) AS e_ratio_e6
       |        FROM ${t("documents")}))""".stripMargin

  /** Each document's language by the [[predLangCteSql]] heuristic. */
  val llmLangId: Key = Key.sql("llm_lang_id") { t =>
    s"""WITH ${predLangCteSql(t)}
       |SELECT doc_id, e_ratio_e6, pred_lang, CAST(pred_lang = lang AS INT) AS correct
       |FROM pred ORDER BY doc_id""".stripMargin
  }

  /** CLASSIFIER EVALUATION — per-language precision / recall / F1 of
    * the [[predLangCteSql]] heuristic against the labeled `lang` column,
    * in exact ppm integers. The confusion matrix is one languages²-
    * bounded aggregate; the per-class margins are two tiny re-
    * aggregations of it joined back on the class — at 100 TB the only
    * full-data pass is the confusion count itself (map-side
    * combinable), everything after is dimension-sized. F1 is computed
    * as `(2·p·r) div (p+r)` on the ppm integers — exact, no float
    * harmonic mean. Classes are the labels OBSERVED as actuals, so a
    * class the model never predicts still reports (recall 0), the
    * asymmetry an eval harness must not hide. */
  val llmLangidEval: Key = Key.sql("llm_langid_eval") { t =>
    s"""WITH ${predLangCteSql(t)},
       |conf AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS c FROM pred GROUP BY 1, 2),
       |act AS (SELECT lang AS cls, CAST(SUM(c) AS BIGINT) AS n_actual FROM conf GROUP BY 1),
       |prd AS (SELECT pred_lang AS cls, CAST(SUM(c) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
       |tp AS (SELECT lang AS cls, c AS tp FROM conf WHERE lang = pred_lang),
       |j AS (SELECT act.cls, act.n_actual,
       |    COALESCE(prd.n_pred, 0) AS n_pred, COALESCE(tp.tp, 0) AS tp
       |  FROM act LEFT JOIN prd ON act.cls = prd.cls LEFT JOIN tp ON act.cls = tp.cls),
       |m AS (SELECT cls, n_actual, n_pred, tp,
       |    (1000000 * tp) ${t.idiv} GREATEST(n_pred, 1) AS precision_ppm,
       |    (1000000 * tp) ${t.idiv} GREATEST(n_actual, 1) AS recall_ppm FROM j)
       |SELECT cls, n_actual, n_pred, tp, precision_ppm, recall_ppm,
       |  (2 * precision_ppm * recall_ppm) ${t.idiv} GREATEST(precision_ppm + recall_ppm, 1) AS f1_ppm
       |FROM m ORDER BY cls""".stripMargin
  }

  /** Heuristic quality score from length, stopword ratio, and mean
    * token length (the usual pre-training corpus filters). */
  /** quality = 0.4·min(n_tokens/100,1) + 0.3·(1−stop_ratio)
    *          + 0.3·min(avg_tok_len/8,1), computed entirely in exact
    * integer micro-units — float ROUND on composites like this is what
    * produced the one cross-engine 1-ulp mismatch this round. The ONE
    * definition shared by llm_quality_score and llm_curation (Spark
    * side here, SQL side in [[qualityScoredSql]]). */
  private[operators] def withQualityCols(df: DataFrame): DataFrame =
    df.withColumn("t", split(col("text"), " "))
      .withColumn("n_tokens", size(col("t")).cast("bigint"))
      .withColumn("n_stop", size(expr("filter(t, x -> x = 'the' OR x = 'a')")).cast("bigint"))
      .withColumn("quality_e6",
        least(col("n_tokens"), lit(100L)) * 4000 +
          expr("(300000 * (n_tokens - n_stop)) div n_tokens") +
          least(expr("(300000 * (n_chars - (n_tokens - 1))) div (8 * n_tokens)"), lit(300000L)))

  /** SQL mirror of [[withQualityCols]] over the documents table. */
  private[operators] def qualityScoredSql(t: Key.Dialect): String =
    s"""SELECT doc_id, lang, n_chars, n_tokens, n_stop,
       |  LEAST(n_tokens, 100) * 4000
       |    + (300000 * (n_tokens - n_stop)) ${t.idiv} n_tokens
       |    + LEAST((300000 * (n_chars - (n_tokens - 1))) ${t.idiv} (8 * n_tokens), 300000) AS quality_e6
       |FROM (
       |  SELECT doc_id, lang, n_chars, CAST(len(t) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stop
       |  FROM (SELECT doc_id, lang, n_chars, ${t.split}(text, ' ') AS t FROM ${t("documents")}))""".stripMargin

  def llmQualityScore(spark: SparkSession, sfDir: String): DataFrame =
    withQualityCols(documents(spark, sfDir))
      .withColumn("stop_ratio_e6", expr("(1000000 * n_stop) div n_tokens"))
      .withColumn("avg_tok_len_e6",
        expr("(1000000 * (n_chars - (n_tokens - 1))) div n_tokens"))
      .select("doc_id", "n_tokens", "stop_ratio_e6", "avg_tok_len_e6", "quality_e6")
      .orderBy("doc_id")

  val llmQualityScoreOracle: String =
    s"""SELECT doc_id, n_tokens,
       |  (1000000 * n_stop) // n_tokens AS stop_ratio_e6,
       |  (1000000 * (n_chars - (n_tokens - 1))) // n_tokens AS avg_tok_len_e6,
       |  quality_e6
       |FROM (${qualityScoredSql(Key.duckdb)})
       |ORDER BY doc_id""".stripMargin

  /** REPETITION FILTER (the Gopher corpus-quality rules, Rae et al.
    * 2021 arXiv:2112.11446 Table A1): machine-generated and boilerplate
    * text betrays itself by WITHIN-document repetition, measured here
    * as (a) the duplicate-bigram fraction — 1 − distinct/total token
    * 2-grams — and (b) the top-bigram fraction — occurrences of the
    * most frequent 2-gram over all 2-grams. Both in exact integer ppm
    * (the llm_quality_score recipe: no cross-engine float). Shape: ONE
    * explode + per-(doc, gram) count + per-doc rollup — two shuffles
    * both keyed by doc_id, no joins against the corpus; at 100 TB this
    * is embarrassingly parallel per document. Docs under 2 tokens have
    * no bigrams and score 0 (kept). Thresholds (20% either metric)
    * give the graded keep flag. */
  def llmRepetitionFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(tokenWindows("t", 2))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").cast("bigint").as("n_2grams"),
        count(lit(1)).cast("bigint").as("n_distinct"),
        max("c").cast("bigint").as("top_c"))
    documents(spark, sfDir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_2grams", "n_distinct", "top_c"))
      .withColumn("dup_frac_e6",
        expr("(1000000 * (n_2grams - n_distinct)) div greatest(n_2grams, 1)"))
      .withColumn("top_frac_e6",
        expr("(1000000 * top_c) div greatest(n_2grams, 1)"))
      .select(col("doc_id"), col("n_2grams"), col("dup_frac_e6"), col("top_frac_e6"),
        (col("dup_frac_e6") <= 200000 && col("top_frac_e6") <= 200000)
          .cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val llmRepetitionFilterOracle: String =
    """WITH g AS (
      |  SELECT doc_id, t[k] || ' ' || t[k+1] AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS k
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
      |pc AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
      |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
      |        CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
      |      FROM pc GROUP BY 1),
      |m AS (SELECT doc_id,
      |        COALESCE(n_2grams, 0) AS n_2grams,
      |        (1000000 * (COALESCE(n_2grams, 0) - COALESCE(n_distinct, 0)))
      |          // GREATEST(COALESCE(n_2grams, 0), 1) AS dup_frac_e6,
      |        (1000000 * COALESCE(top_c, 0))
      |          // GREATEST(COALESCE(n_2grams, 0), 1) AS top_frac_e6
      |      FROM documents LEFT JOIN d USING (doc_id))
      |SELECT doc_id, n_2grams, dup_frac_e6, top_frac_e6,
      |  CAST(dup_frac_e6 <= 200000 AND top_frac_e6 <= 200000 AS INT) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** VOCABULARY PRUNING — corpus-level document-frequency filtering,
    * the preprocessing step under tf-idf/BM25 indexing and classical
    * quality pipelines: drop STOPWORDS (tokens in > 50% of documents —
    * exact integer test `df * 2 > n_docs`, no float threshold) and
    * HAPAX legomena (df == 1, the long noise tail that bloats any
    * vocabulary-keyed structure), then recompose each document's
    * surviving tokens IN ORIGINAL ORDER. Scale shape: one
    * (doc, token)-distinct pass + one token-keyed groupBy builds the
    * df table; the pruned vocabulary is vocabulary-sized (not
    * corpus-sized), so the filter join BROADCASTS it against the
    * positional token stream; reassembly is one doc_id-keyed shuffle.
    * The n_docs scalar rides a broadcast 1-row cross join — nothing
    * collects. Every-token-pruned documents surface with kept_text ''
    * (the left join + zero-fill), not silently vanish. */
  def llmVocabPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
    val nDocs = documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val pruned = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 2 > col("n_docs") || col("df") === 1)
      .select("tok")
    val kept = toks.join(broadcast(pruned), Seq("tok"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_after"),
        collect_list(struct(col("pos"), col("tok"))).as("lst"))
      .select(col("doc_id"), col("n_after"),
        expr("array_join(transform(array_sort(lst), x -> x.tok), ' ')")
          .as("kept_text"))
    documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_before"))
      .join(kept, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_after"))
      .withColumn("kept_text", coalesce(col("kept_text"), lit("")))
      .orderBy("doc_id")
  }

  val llmVocabPruneOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, toks[k] AS tok, k AS pos
      |        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS k FROM t)),
      |dfc AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |        FROM tok GROUP BY tok),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |pruned AS (SELECT tok FROM dfc, nd WHERE df * 2 > n_docs OR df = 1),
      |kept AS (SELECT doc_id, pos, tok FROM tok
      |         WHERE tok NOT IN (SELECT tok FROM pruned)),
      |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
      |         STRING_AGG(tok, ' ' ORDER BY pos) AS kept_text
      |       FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, CAST(LEN(string_split(d.text, ' ')) AS INT) AS n_before,
      |  COALESCE(ag.n_after, 0) AS n_after,
      |  COALESCE(ag.kept_text, '') AS kept_text
      |FROM documents d LEFT JOIN ag USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** WINNOWING fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
    * MOSS algorithm): hash every k-gram (k=4 tokens), then from each
    * window of w=5 consecutive k-gram hashes select the minimum,
    * RIGHTMOST on ties — the guarantee-bearing selection rule (any
    * shared run ≥ w+k-1 tokens shares a fingerprint, and selection
    * density is ~2/(w+1) regardless of document length). The hash is
    * md5 hex — string-ordered IDENTICALLY by both engines, so the
    * per-window argmin can't diverge; the (min-hash, rightmost) pick is
    * encoded as MIN over a single sortable string key (hash ‖
    * zero-padded reversed position), a trick both engines evaluate
    * exactly. Shape: one explode to k-grams, then the per-window argmin
    * as a SLIDING-FRAME WINDOW FUNCTION (`min(sel) OVER (PARTITION BY
    * doc ORDER BY pos ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING)`) —
    * posexplode emits every position 0..g-1 contiguously, so the w-row
    * frame IS the w-position window, and the full-window guard is the
    * frame's row count reaching w. One shuffle keyed by doc_id computes
    * every window's selection in a single linear pass; the per-doc
    * rollup reuses that partitioning (same key → no second exchange).
    * The earlier form expressed the same argmin as a w-wide band
    * self-join on position — a second shuffle of every gram plus a
    * bucketed join — which the optimization round replaced (guide
    * §2.4: the window already has the partitioning the join was
    * re-establishing). Everything keys on doc_id, so the whole
    * pipeline is embarrassingly parallel across documents at any
    * corpus size. */
  def llmWinnowing(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 4
    val w = 5
    val grams = documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // CASE, not greatest(...): sequence(1, 0) DESCENDS in Spark —
      // a sub-k-token document must yield zero grams (as the oracle's
      // empty range does), not two bogus ones
      .select(col("doc_id"), expr(
        s"posexplode(CASE WHEN size(toks) >= $k THEN transform(sequence(1, size(toks) - ${k - 1}), i -> array_join(slice(toks, i, $k), ' ')) ELSE array() END)"))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("h"))
    // sortable selection key: min hash first, rightmost position on ties
    // (9999999 - pos descends as pos ascends; 7 digits bound corpus-side
    // gram counts at graded scale)
    val keyed = grams.withColumn("sel",
      concat(col("h"), lit("#"),
        lpad((lit(9999999) - col("pos")).cast("string"), 7, "0")))
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val windows = keyed
      .withColumn("sel", min(col("sel")).over(frame))
      .withColumn("wn", count(lit(1)).over(frame))
      // only FULL windows select (the tail windows shorter than w would
      // over-select near document ends)
      .filter(col("wn") === w)
    windows.select(col("doc_id"), col("sel")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
      .join(grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams")), Seq("doc_id"), "right")
      .na.fill(0L, Seq("n_fps"))
      .select(col("doc_id"), col("n_grams"), col("n_fps"))
      .orderBy("doc_id")
  }

  val llmWinnowingOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, k AS pos,
      |        md5(array_to_string(list_slice(toks, k, k + 3), ' ')) AS h
      |      FROM (SELECT doc_id, toks,
      |              unnest(range(1, GREATEST(len(toks) - 3, 0) + 1)) AS k
      |            FROM t)),
      |keyed AS (SELECT doc_id, pos,
      |    h || '#' || lpad(CAST(9999999 - pos AS VARCHAR), 7, '0') AS sel
      |  FROM g),
      |win AS (SELECT a.doc_id, a.pos AS s, MIN(b.sel) AS sel, COUNT(*) AS wn
      |        FROM keyed a JOIN keyed b ON a.doc_id = b.doc_id
      |          AND b.pos >= a.pos AND b.pos < a.pos + 5
      |        GROUP BY a.doc_id, a.pos),
      |fp AS (SELECT doc_id, CAST(COUNT(DISTINCT sel) AS BIGINT) AS n_fps
      |       FROM win WHERE wn = 5 GROUP BY doc_id),
      |ng AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      |       FROM g GROUP BY doc_id)
      |SELECT ng.doc_id, ng.n_grams, COALESCE(fp.n_fps, 0) AS n_fps
      |FROM ng LEFT JOIN fp USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Whitespace and BPE-ish-regex token counts. */
  def llmTokenCount(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_re_tokens"),
        length(col("text")).as("n_chars_measured"))
      .orderBy("doc_id")

  val llmTokenCountOracle: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
      |  length(text) AS n_chars_measured
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE MERGE TABLE — the scoring pass of one byte-pair-encoding
    * training iteration (Sennrich et al. 2016, arXiv:1508.07909: count
    * all adjacent symbol pairs weighted by word frequency; the argmax
    * is the next merge). This is the step a tokenizer trainer repeats
    * to convergence; grading the full table's top-20 (weight desc, pair
    * asc — fully deterministic) proves the primitive. The 100 TB shape
    * is the reason BPE training scales at all: the first groupBy
    * collapses the corpus to the DISTINCT-WORD frequency table (Zipf:
    * tiny relative to the corpus), and every later iteration works on
    * that table alone — here pairs explode off `sequence(1, len-1)` →
    * `substring(w, i, 2)`, one more keyed shuffle, never a re-scan of
    * the documents. */
  def llmBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val words = documents(spark, sfDir)
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("weight"))
      .orderBy(col("weight").desc, col("pair").asc)
      .limit(20)
  }

  /** Same word-frequency collapse + in-word adjacent pair explode; the
    * windowed-free SUM is cast off DuckDB's HUGEINT. */
  val llmBpeMergesOracle: String =
    """WITH words AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w FROM documents)
      |  WHERE len(w) >= 2 GROUP BY w),
      |pairs AS (
      |  SELECT freq,
      |    unnest(list_transform(range(1, len(w)),
      |      i -> substr(w, CAST(i AS INT), 2))) AS pair
      |  FROM words)
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS weight
      |FROM pairs GROUP BY pair
      |ORDER BY weight DESC, pair ASC LIMIT 20""".stripMargin

  /** Rolling polynomial content fingerprint, h = (31h + ascii) mod 1e9+7,
    * folded per character in both engines — via the native codegen'd
    * `rolling_hash` expression (one loop per string; the HOF fold
    * materialized a per-char array + two interpreted lambdas per char,
    * making this the third-slowest bench key). */
  def llmFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    documents(spark, sfDir)
      .select(col("doc_id"), expr("rolling_hash(text)").as("fingerprint"))
      .orderBy("doc_id")
  }

  val llmFingerprintOracle: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(text) + 1),
      |        i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** End-to-end curation pipeline — the composite the individual
    * operators exist for: exact-dedup (keep min doc_id per content
    * hash) → drop the higher id of every near-dup pair (J ≥ 0.9) →
    * quality gate (integer micro-units ≥ 0.6) → curated corpus.
    * One Catalyst plan; each stage is an independently-verified key.
    * The near-dup stage is the PPJoin prefix filter (lossless at
    * J ≥ 0.9 with divisor 10), not the quadratic inverted-index
    * self-join — identical output by the prefix-filter guarantee, but
    * candidate generation indexes only ⌊n/10⌋+1 shingles per doc, so
    * the composite survives a 100× corpus. */
  def llmCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
    val keep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nearDrops = LlmDedup.nearDupPairsPrefix(LlmDedup.shingles(spark, sfDir), 10)
      .select(col("doc_b").as("doc_id")).distinct()
    withQualityCols(docs)
      .join(keep, Seq("doc_id"), "left_semi")
      .join(nearDrops, Seq("doc_id"), "left_anti")
      .filter(col("quality_e6") >= 600000)
      .select("doc_id", "lang", "n_chars", "quality_e6")
      .orderBy("doc_id")
  }

  val llmCurationOracle: String =
    s"""WITH sh AS (${LlmDedup.shinglesSql}),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |near_drops AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM inter
       |  JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
       |  WHERE ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) >= 0.9),
       |keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |scored AS (${qualityScoredSql(Key.duckdb)})
       |SELECT doc_id, lang, n_chars, quality_e6 FROM scored
       |WHERE doc_id IN (SELECT doc_id FROM keep)
       |  AND doc_id NOT IN (SELECT doc_id FROM near_drops)
       |  AND quality_e6 >= 600000
       |ORDER BY doc_id""".stripMargin

  /** Concat-and-chunk sequence packing — how a training pipeline fills
    * fixed context windows: documents concatenate in doc_id order and
    * split every 512 tokens. Each doc gets its exclusive-prefix-sum
    * start offset; chunk id = offset div 512, and spans counts how many
    * window boundaries the doc crosses.
    *
    * Distributed two-level prefix sum (round-2 fix — the previous global
    * `Window.orderBy` moved the whole corpus into ONE task):
    *   1. shard = doc_id div W — a monotone shard key, so concatenation
    *      order is (shard, doc_id) = plain doc_id order;
    *   2. per-shard exclusive prefix sum — a PARTITIONED window, every
    *      shard is an independent task;
    *   3. shard start offsets = exclusive prefix over the per-shard
    *      totals — computed with a broadcast triangular join over the
    *      tiny totals frame (n_docs/W rows), not a global window;
    *   4. start_tok = shard offset + within-shard prefix, broadcast-
    *      joined back — partition-local, no extra shuffle of the corpus.
    * At 100 TB: pick W so a shard is a few hundred MB; the only global
    * structure is the totals frame (≤ ~1e4 rows at any plausible scale).
    */
  def llmPackChunks(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shardWidth = 128L
    val toks = documents(spark, sfDir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("shard", expr(s"doc_id div $shardWidth"))
    val wLocal = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = toks.withColumn("local_tok",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    val totals = toks.groupBy("shard").agg(sum(col("n_tokens")).as("shard_total"))
    val earlier = totals.select(col("shard").as("b_shard"), col("shard_total").as("b_total"))
    val offsets = totals.join(broadcast(earlier), col("b_shard") < col("shard"), "left")
      .groupBy("shard").agg(coalesce(sum(col("b_total")), lit(0L)).as("shard_offset"))
    local.join(broadcast(offsets), Seq("shard"))
      .withColumn("start_tok", col("shard_offset") + col("local_tok"))
      .select(col("doc_id"), col("n_tokens"),
        col("start_tok"),
        expr("start_tok div 512").as("chunk_id"),
        expr("(start_tok + n_tokens - 1) div 512 - start_tok div 512").as("spans"))
      .orderBy("doc_id")
  }

  val llmPackChunksOracle: String =
    """SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(start_tok AS BIGINT) AS start_tok,
      |  CAST(start_tok // 512 AS BIGINT) AS chunk_id,
      |  CAST((start_tok + n_tokens - 1) // 512 - start_tok // 512 AS BIGINT) AS spans
      |FROM (SELECT doc_id, n_tokens,
      |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
      |      FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Reproducible stratified sampling — the data-mix primitive: keep a
    * deterministic ~25% of each language by thresholding a salted md5 of
    * the doc id (hex-prefix < '4' ⇔ first 4 bits < 4/16). Hash-based
    * sampling shuffles nothing, scales embarrassingly, and re-runs
    * byte-identically — unlike rand()-based sampling. */
  val llmSampleStratified: Key = Key.sql("llm_sample_stratified") { t =>
    s"""SELECT lang, COUNT(*) AS n_sampled,
       |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
       |FROM ${t("documents")}
       |WHERE substr(md5('mix1:' || CAST(doc_id AS ${t.string})), 1, 1) < '4'
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** UNIGRAM LANGUAGE-MODEL quality score (the CCNet move, Wenzek et
    * al. 2020: rank web documents by LM perplexity and keep the
    * head/middle): a unigram model is fit on the corpus itself (term
    * frequency / total tokens) and each document is scored by its mean
    * negative log-likelihood — low = stereotypical in-distribution
    * text, high = rare-token soup. The real pipeline swaps the unigram
    * table for a pretrained KenLM; the dataflow is identical.
    *
    * Scale shape: one token explode + one groupBy builds the model; the
    * scoring join broadcasts it (a vocab is bounded — at 100 TB you cap
    * it at top-V with an OOV bucket, and the join stays broadcast).
    *
    * Determinism: ln() lands on doubles whose last-ulp may differ
    * across libm implementations, so each token's NLL is ROUND(6)ed
    * and cast to DECIMAL(18,6) BEFORE the per-doc sum — decimal
    * addition is exact and associative, so partial-aggregation order
    * cannot move the result (the same trick as the money aggregates).
    *
    * The per-doc MEAN is integer micro-nats via exact floor division
    * (sum·10⁶ div n), not a rounded double: the original
    * ROUND(sum/n, 6) double tail sat on a half-ulp boundary for ~1 in
    * 10⁴ docs, where Spark's HALF_UP-on-the-binary-value and DuckDB's
    * scaled-nearbyint disagree by 1e-6 — invisible at the graded
    * sf0.01 (10k docs, zero hits across four rounds), caught by the
    * r14 sf1 scale rehearsal (50k docs → 5 hits). Exact integers
    * cannot drift at any corpus size.
    */
  val llmLmScore: Key = Key.sql("llm_lm_score") { t =>
    s"""WITH toks AS (SELECT doc_id, ${t.unnest}(${t.split}(text, ' ')) AS tok FROM ${t("documents")}),
       |freqs AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
       |tot AS (SELECT COUNT(*) AS total FROM toks)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(CAST(SUM(CAST(ROUND(-LN(CAST(tf AS DOUBLE) / total), 6) AS DECIMAL(18,6))) * 1000000 AS BIGINT)
       |    ${t.idiv} COUNT(*) AS BIGINT) AS lm_score_unats
       |FROM toks JOIN freqs USING (tok), tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** REPEATED-SPAN detection (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" move, arXiv:2107.06499:
    * exact substring duplication is rampant in web corpora, and the
    * suffix-array pass that finds repeated ~50-token spans is its own
    * dedup step beyond whole-document matching): every 8-token window
    * (stride 1) of every document, grouped; spans appearing in ≥2
    * DISTINCT documents are the cross-document boilerplate a pipeline
    * masks or cuts. Returns the top 50 spans by document reach.
    *
    * Scale shape — the distributed stand-in for a suffix array: one
    * stateless explode (L windows per doc) + ONE shuffle keyed by the
    * span, + TakeOrderedAndProject for the report. At 100 TB the group
    * key would be xxhash64(span) (8 bytes instead of the text) with the
    * span text resolved for the tiny surviving set; the exact-string
    * key here keeps the oracle transparent. 8-token windows only
    * because the synthetic vocabulary is small; real passes use ~50. */
  def llmDedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(tokenWindows("t", 8))).as("span"))
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span").asc)
      .limit(50)

  /** The offset generator mirrors Spark's `sequence(0, size(t)-8)`
    * exactly (per-row list range, no fixed cap), so the oracle holds at
    * any document length. */
  val llmDedupSpansOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |s AS (SELECT doc_id,
      |        array_to_string(tok[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ') AS span
      |      FROM (SELECT doc_id, tok, unnest(range(0, len(tok) - 7)) AS i
      |            FROM t WHERE len(tok) >= 8))
      |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
      |FROM s GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY n_docs DESC, n_occ DESC, span ASC LIMIT 50""".stripMargin

  /** DATASET MIXING (the Pile / DoReMi-style pre-training step: each
    * source contributes at its own target rate, not its natural share):
    * per-source keep-rates are assigned from the source number
    * (10% / 25% / 40% / 55% cycling by src mod 4 — a stand-in for
    * externally-chosen mixture weights), membership is decided by
    * thresholding a salted md5 of the doc id against the rate mapped
    * onto the first 6 hex digits — deterministic, shuffle-free,
    * re-runs byte-identically (the `llm_sample_stratified` primitive,
    * generalized to per-group rates). Returns the per-source audit:
    * corpus share before/after and the achieved rate in exact ppm
    * (integer division — no cross-engine double rounding). */
  def llmDatasetMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
      // digit-less source names: a plain cast('' as int) THROWS under
      // Spark 4's ANSI mode (and DuckDB's CAST errors too) — TRY_CAST +
      // coalesce to 0 on BOTH engines so the key neither crashes nor
      // diverges when a source name carries no digits
      .withColumn("src_num",
        coalesce(
          expr("try_cast(regexp_extract(source, '(\\\\d+)', 1) as int)"),
          lit(0)))
      // membership: hash6 / 16^6 < rate_ppm / 1e6, cross-multiplied to
      // exact integer arithmetic (hash6 < 2^24, so both products fit a
      // long with room to spare)
      .withColumn("rate_ppm",
        (lit(100000) + (col("src_num") % 4) * 150000).cast("long"))
      .withColumn("hash6",
        conv(substring(md5(concat(lit("mix2:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
          .cast("long"))
      .withColumn("kept", (col("hash6") * 1000000L < col("rate_ppm") * 16777216L).cast("int"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
      .withColumn("achieved_ppm", expr("(1000000 * n_kept) div n_total"))
      .orderBy("source")
  }

  val llmDatasetMixOracle: String =
    """SELECT source, COUNT(*) AS n_total,
      |  CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  (1000000 * CAST(SUM(kept) AS BIGINT)) // COUNT(*) AS achieved_ppm
      |FROM (
      |  SELECT source,
      |    CASE WHEN ('0x' || substr(md5('mix2:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT * 1000000
      |           < CAST(100000 + (COALESCE(TRY_CAST(regexp_extract(source, '(\d+)', 1) AS INT), 0) % 4) * 150000 AS BIGINT) * 16777216
      |         THEN 1 ELSE 0 END AS kept
      |  FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  /** INVERTED-INDEX AND-QUERY — exact token search over the corpus as a
    * posting-list intersection (the Lucene/Elasticsearch primitive,
    * re-expressed relationally): postings are (term, doc_id, tf) from
    * one explode + grouped count, and a conjunctive query is an
    * equi-join of the query terms' posting lists on doc_id. At 100 TB
    * the postings table partitions by term — each query term's list is
    * one partition-pruned read — and the intersection joins lists whose
    * size is the term's document frequency, never the corpus; building
    * the index is one shuffle, amortized over every query after.
    * Returns every document containing BOTH probe terms with the
    * per-document term frequencies (the ranking signal a scorer
    * consumes). */
  val llmInvertedIndex: Key = Key.sql("llm_inverted_index") { t =>
    s"""WITH t AS (SELECT doc_id, ${t.unnest}(${t.split}(text, ' ')) AS term FROM ${t("documents")}),
       |p AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY term, doc_id)
       |SELECT a.doc_id AS doc_id, a.tf AS tf_vector, b.tf AS tf_merge
       |FROM p a JOIN p b ON a.doc_id = b.doc_id
       |WHERE a.term = 'vector' AND b.term = 'merge'
       |ORDER BY a.doc_id""".stripMargin
  }

  /** BM25 TOP-K — the ranking layer over llm_inverted_index's posting
    * lists (Lucene's default scorer, the retrieval baseline every dense
    * retriever is measured against): per (doc, query-term),
    * score = IDF(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with the
    * Lucene IDF ln((N−df+0.5)/(df+0.5)+1), k1=1.2, b=0.75; a document
    * matching any probe term scores, per-doc scores sum, top-20 by
    * (score desc, doc_id). All inputs are integers, both engines
    * evaluate the identical double expression tree, and the result is
    * ROUND(…,6) on both sides — the llm_tfidf_top determinism recipe.
    * At 100 TB the per-term legs are df-sized posting reads and the
    * corpus stats (N, avgdl, df) are one metadata-scale aggregate each;
    * nothing scans the corpus per query. */
  def llmBm25Topk(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    // avgdl = total tokens / N — computed from per-doc lengths so the
    // double division is one exact bigint/bigint op on both engines
    val lens = documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val corpus = lens.agg(count(lit(1)).as("n_total"), sum(col("dl")).as("tok_total"))
    val probed = docs.filter(col("term").isin("vector", "merge"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = docs.filter(col("term").isin("vector", "merge"))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val scored = probed.join(df, Seq("term")).crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_total").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("norm",
        lit(1.0) - lit(0.75) + lit(0.75) * col("dl").cast("double") /
          (col("tok_total").cast("double") / col("n_total").cast("double")))
      .withColumn("s",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * col("norm")))
      .groupBy("doc_id").agg(r6(sum(col("s"))).as("score"))
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(20)
  }

  val llmBm25TopkOracle: String =
    """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |              unnest(string_split(text, ' ')) AS term FROM documents),
      |corpus AS (SELECT COUNT(*) AS n_total, SUM(dl) AS tok_total
      |           FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents)),
      |probed AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
      |           WHERE term IN ('vector', 'merge') GROUP BY 1, 2, 3),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
      |       WHERE term IN ('vector', 'merge') GROUP BY 1),
      |scored AS (
      |  SELECT doc_id, ROUND(SUM(
      |    LN(1.0 + (CAST(n_total AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |    * (CAST(tf AS DOUBLE) * 2.2)
      |    / (CAST(tf AS DOUBLE) + 1.2 *
      |       (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
      |         / (CAST(tok_total AS DOUBLE) / CAST(n_total AS DOUBLE))))), 6) AS score
      |  FROM probed JOIN df USING (term) CROSS JOIN corpus
      |  GROUP BY doc_id)
      |SELECT doc_id, score FROM scored
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** Benchmark DECONTAMINATION (the Brown et al. / GPT-3 appendix move:
    * drop training documents sharing an n-gram with the eval set):
    * doc_id % 50 == 0 plays the held-out benchmark, everything else is
    * the training corpus; a training doc is contaminated iff it shares
    * ≥1 distinct 4-gram with any eval doc, and the key returns the
    * SURVIVING corpus metadata — the artifact a pipeline ships.
    *
    * Scale shape: gram extraction is a stateless explode; the eval
    * gram set is distinct-collapsed and typically tiny next to the
    * corpus (benchmarks are), so the semi join broadcasts — at 100 TB
    * this is one scan of the corpus plus one broadcast, never an
    * all-pairs comparison. Real pipelines use 8–13-grams; 4 here only
    * because the synthetic vocabulary is small (rate stays non-trivial). */
  def llmDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
    val grams = docs.withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 4)
      .select(col("doc_id"), explode(array_distinct(expr(tokenWindows("t", 4))))
        .as("g"))
    val evalGrams = grams.filter(col("doc_id") % 50 === 0).select("g").distinct()
    val contaminated = grams.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Docs with < 4 tokens have no grams, cannot be contaminated, and
    * survive — both sides agree by construction. */
  val llmDecontaminateOracle: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, t[k] || ' ' || t[k+1] || ' ' || t[k+2] || ' ' || t[k+3] AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS k
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
      |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
      |bad AS (
      |  SELECT DISTINCT doc_id FROM g
      |  WHERE doc_id % 50 != 0 AND g IN (SELECT g FROM e))
      |SELECT doc_id, lang, source FROM documents
      |WHERE doc_id % 50 != 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin

  /** PII SCRUB — redact emails and phone numbers before training. The
    * synthetic corpus contains no PII, so each doc is first tainted
    * with DETERMINISTIC doc_id-derived contact info (no real data, no
    * randomness), then scrubbed with generic patterns: the graded
    * output proves the patterns catch what they should and touch
    * nothing else. Pure per-row regexp work — stateless, shuffle-free,
    * whole-stage-codegen at any scale. */
  def llmPiiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val tainted = documents(spark, sfDir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    tainted.select(col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\+?\\d{1,2}-\\d{3}-\\d{4}", "<PHONE>").as("text"))
      .orderBy("doc_id")
  }

  val llmPiiScrubOracle: String =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+?\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** CHARACTER-BIGRAM ENTROPY FILTER — the information-theoretic
    * quality gate (low entropy = machine-generated or repetitive junk;
    * the C4/Gopher-family heuristics carry an entropy-style cut):
    * per-doc Shannon entropy over the character-bigram distribution,
    * via the identity H = ln(n) − (Σ c·ln c)/n which needs only one
    * grouped count pass. Docs at or above the 4.0-nat cut survive
    * (the fixture corpus spans ~3.2-4.6 nats, so the cut prunes a real
    * low-entropy tail at every SF instead of passing vacuously).
    * Determinism: the only float reduction is Σ c·ln c (≤ ~600 terms
    * per doc, abs error ~1e-13 against a ~1e0 ROUND-6 grid); the
    * explicit `length >= 2` guard matters because Spark's
    * `sequence(1, 0)` counts DOWN (yielding phantom bigrams) where
    * DuckDB's `range(1, 1)` is empty. Shape at 100 TB: explode →
    * one groupBy(doc, bigram) → one groupBy(doc); all shuffles are
    * keyed by doc_id, so this is per-document parallel with no
    * global state. */
  def llmEntropyFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // Input-parallelism fix (r19, guide §2.5 "one huge unsplittable
    // file → repartition immediately after the read"): at bench scale
    // the documents file is one parquet split, so the bigram explode +
    // per-doc partial count — the key's entire compute — ran as ONE
    // task (stage metrics: a single 2.5 s-CPU stage; the rest of the plan
    // sums <0.7 s). Conditional on the actual scan split count so a
    // corpus that already has ≥cores splits (the 100 TB case) never
    // pays the doc-text shuffle; hashing on doc_id keeps every doc's
    // bigrams in one partition, so the per-doc sums merge identically.
    // The split count comes from the planned file scan, so building the
    // frame (e.g. for a plan-only audit) never converts it to an RDD.
    val par = spark.sparkContext.defaultParallelism
    val src = documents(spark, sfDir)
    val splits = src.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.inputRDD.getNumPartitions
    }.getOrElse(sys.error("documents is not a file scan"))
    val srcPar = if (splits < par) src.repartition(par, col("doc_id")) else src
    val bi = srcPar
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")).as("bg"))
    bi.groupBy("doc_id", "lang", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("sclc"))
      .withColumn("entropy",
        r6(log(col("n_bigrams").cast("double")) -
          col("sclc") / col("n_bigrams").cast("double")))
      .filter(col("entropy") >= 4.0)
      .select("doc_id", "lang", "n_bigrams", "entropy")
      .orderBy("doc_id")
  }

  val llmEntropyFilterOracle: String =
    """WITH bi AS (
      |  SELECT doc_id, lang, substr(text, CAST(i AS INT), 2) AS bg
      |  FROM (SELECT doc_id, lang, text, UNNEST(range(1, len(text))) AS i
      |        FROM documents WHERE len(text) >= 2)),
      |cnt AS (SELECT doc_id, lang, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2, 3),
      |ent AS (SELECT doc_id, lang,
      |    CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |    ROUND(LN(CAST(SUM(c) AS DOUBLE)) -
      |      SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 6) AS entropy
      |  FROM cnt GROUP BY 1, 2)
      |SELECT doc_id, lang, n_bigrams, entropy FROM ent
      |WHERE entropy >= 4.0 ORDER BY doc_id""".stripMargin

  /** TRAINING-SHARD ASSIGNMENT — the last step before data loaders see
    * the corpus: every document lands in one of 16 shards by a salted
    * content-independent hash (first md5 hex nibble of the salted
    * doc_id, mapped via alphabet position — the one hex-to-int idiom
    * both engines share with no hex-cast), so the assignment is
    * deterministic, reshuffle-free to recompute, and uniform (md5
    * nibbles are unbiased; the spec pins max/min shard skew < 2×).
    * Reported per shard: doc count, exact total characters (the
    * token-budget proxy a loader balances by), and the id range. At
    * 100 TB this is the partitioner of the final `partitionBy("shard")`
    * export — one hash evaluation per row, one shuffle, 16 writer
    * groups; the same salt trick as `llm_sample_stratified` means
    * shard membership never changes across runs or engines. */
  def llmShardAssign(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir)
      .withColumn("shard",
        (instr(lit("0123456789abcdef"),
          substring(md5(concat(lit("shard1:"), col("doc_id").cast("string"))), 1, 1)) - 1)
          .cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("shard")

  val llmShardAssignOracle: String =
    """SELECT CAST(strpos('0123456789abcdef',
      |    substr(md5('shard1:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** DATASET REBALANCING — the temperature-sampling / language-
    * equalization step every multilingual corpus goes through: compute
    * a per-language keep RATE that equalizes character mass to the
    * smallest language, then apply it with the salted-hash thresholding
    * the sampling keys already use — so membership is deterministic,
    * rerun-stable, and engine-portable. The rate test is EXACT INTEGER:
    * a doc's 3-nibble md5 bucket b ∈ [0,4096) keeps iff
    * b·mass < min_mass·4096 (cross-multiplied — no ppm rounding, no
    * float near the threshold); the reported keep_ppm is the same
    * ratio in integer parts-per-million. Shape at 100 TB: one groupBy
    * per language for masses (a handful of rows, broadcast back), one
    * hash evaluation per doc, one grouped count of survivors — no
    * shuffle of the corpus beyond the language-keyed aggregates. */
  def llmDatasetRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    def nib(i: Int): String =
      s"(instr('0123456789abcdef', substring(md5(concat('rebal1:', cast(doc_id as string))), $i, 1)) - 1)"
    val d = documents(spark, sfDir)
      .withColumn("bucket",
        expr(s"${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}").cast("long"))
    val mass = d.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("mass"))
    val minMass = mass.agg(min(col("mass")).as("min_mass"))
    val kept = d.join(broadcast(mass), "lang").crossJoin(broadcast(minMass))
      .filter(col("bucket") * col("mass") < col("min_mass") * 4096)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sampled_chars"))
    mass.crossJoin(broadcast(minMass))
      .join(kept, Seq("lang"), "left")
      .na.fill(0L, Seq("n_sampled", "sampled_chars"))
      .select(col("lang"), col("n_docs"), col("mass"),
        expr("(min_mass * 1000000) div mass").as("keep_ppm"),
        col("n_sampled"), col("sampled_chars"))
      .orderBy("lang")
  }

  val llmDatasetRebalanceOracle: String =
    """WITH d AS (SELECT lang, n_chars,
      |    (strpos('0123456789abcdef', substr(md5('rebal1:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256 +
      |    (strpos('0123456789abcdef', substr(md5('rebal1:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16 +
      |    (strpos('0123456789abcdef', substr(md5('rebal1:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) AS bucket
      |  FROM documents),
      |mass AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS mass
      |  FROM d GROUP BY 1),
      |mm AS (SELECT MIN(mass) AS min_mass FROM mass),
      |kept AS (SELECT d.lang, COUNT(*) AS n_sampled,
      |    CAST(SUM(d.n_chars) AS BIGINT) AS sampled_chars
      |  FROM d JOIN mass ON d.lang = mass.lang CROSS JOIN mm
      |  WHERE d.bucket * mass.mass < mm.min_mass * 4096
      |  GROUP BY 1)
      |SELECT mass.lang, mass.n_docs, mass.mass,
      |  (mm.min_mass * 1000000) // mass.mass AS keep_ppm,
      |  COALESCE(kept.n_sampled, 0) AS n_sampled,
      |  COALESCE(kept.sampled_chars, 0) AS sampled_chars
      |FROM mass CROSS JOIN mm LEFT JOIN kept ON mass.lang = kept.lang
      |ORDER BY mass.lang""".stripMargin

  /** N-GRAM NOVELTY — "how much of this document is text the corpus
    * has not seen before it": the fraction of a doc's DISTINCT word
    * bigrams whose global first occurrence (min doc_id) is this doc.
    * The dedup family asks "is this a copy"; novelty asks the ordered
    * complement — early docs score 1.0, later near-copies score near
    * 0 — the freshness metric incremental crawls cut on. Two shuffles
    * at any scale: one gram-keyed (min doc_id per gram — map-side
    * partial min), one doc-keyed rollup; the join back to pairs stays
    * on the gram key, so no corpus-wide state beyond the gram table.
    * Ratio is exact-int-to-double under ROUND 6. */
  def llmNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(tokenWindows("t", 2))).as("g"))
      .distinct()
    val first = pairs.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    pairs.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        r6(col("n_novel").cast("double") / col("n_grams").cast("double")))
      .orderBy("doc_id")
  }

  val llmNgramNoveltyOracle: String =
    """WITH pairs AS (SELECT DISTINCT doc_id, t[k] || ' ' || t[k+1] AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS k
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents WHERE len(string_split(text, ' ')) >= 2))),
      |first AS (SELECT g, MIN(doc_id) AS first_doc FROM pairs GROUP BY 1)
      |SELECT p.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  ROUND(CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE), 6) AS novelty
      |FROM pairs p JOIN first f ON p.g = f.g
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  /** DSIR-STYLE IMPORTANCE WEIGHTS (Xie et al., NeurIPS 2023 "Data
    * Selection for Language Models via Importance Resampling"): score
    * each NON-target document by how target-like its hashed-feature
    * distribution is — here an exact-integer surrogate of the paper's
    * hashed-n-gram log-ratio: per 256-way md5 bucket, ratio_ppm =
    * (target_cnt · raw_total · 10⁶) div (raw_cnt · target_total), and
    * a doc scores the MEAN ratio over its tokens (per-token
    * normalization keeps long docs from winning on length). The top-25
    * non-target docs by (score desc, doc_id) are the resampling front. Shape at 100 TB: the bucket ratio table is 256
    * rows (broadcast); scoring is one corpus-sized explode + a
    * broadcast join + one doc-keyed groupBy — never a doc×doc or
    * doc×vocab shuffle. md5 bucketing (not engine hash()) keeps the
    * feature space cross-engine identical. */
  def llmDsir(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
    val b = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
      .withColumn("bkt", substring(md5(col("term")), 1, 2))
    val tot = b.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"),
      count(lit(1)).as("rt"))
    val tgt = b.filter(col("lang") === "en")
      .groupBy("bkt").agg(count(lit(1)).as("tc"))
    val raw = b.groupBy("bkt").agg(count(lit(1)).as("rc"))
    // tc·rt·1e6 in DECIMAL(38,0): two corpus-sized token counts
    // multiplied in BIGINT overflow at ~1e8 tokens (review finding)
    val ratio = raw.join(tgt, Seq("bkt"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bkt"),
        expr("""CAST((CAST(coalesce(tc, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) * rt * 1000000)
               | div (CAST(rc AS DECIMAL(38,0)) * tt) AS BIGINT)""".stripMargin)
          .as("ratio_ppm"))
    // score only the docs the output can contain: the ratio table is
    // built from the FULL corpus (that is the DSIR distribution), but
    // the ~40% target-language docs are excluded BEFORE the scoring
    // shuffle, not discarded after it
    b.filter(col("lang") =!= "en")
      .join(broadcast(ratio), Seq("bkt"))
      .groupBy("doc_id")
      .agg(sum(col("ratio_ppm")).as("s"), count(lit(1)).as("n"))
      .join(docs.select("doc_id", "source", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"),
        expr("s div n").as("dsir_ppm"))
      .orderBy(col("dsir_ppm").desc, col("doc_id").asc)
      .limit(25)
  }

  val llmDsirOracle: String =
    """WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |b AS (SELECT doc_id, lang, substring(md5(term), 1, 2) AS bkt FROM tok),
      |tot AS (SELECT CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS tt,
      |               CAST(COUNT(*) AS BIGINT) AS rt FROM b),
      |tgt AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS tc FROM b WHERE lang = 'en' GROUP BY 1),
      |raw AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS rc FROM b GROUP BY 1),
      |r AS (SELECT raw.bkt,
      |        CAST((CAST(COALESCE(tc, 0) AS HUGEINT) * rt * 1000000)
      |          // (CAST(rc AS HUGEINT) * tt) AS BIGINT) AS ratio_ppm
      |      FROM raw LEFT JOIN tgt ON raw.bkt = tgt.bkt, tot),
      |ds AS (SELECT b.doc_id, CAST(SUM(ratio_ppm) AS BIGINT) AS s, COUNT(*) AS n
      |       FROM b JOIN r ON b.bkt = r.bkt GROUP BY 1)
      |SELECT d.doc_id, d.source, d.lang, ds.s // ds.n AS dsir_ppm
      |FROM ds JOIN documents d ON ds.doc_id = d.doc_id WHERE d.lang <> 'en'
      |ORDER BY dsir_ppm DESC, d.doc_id LIMIT 25""".stripMargin

  /** COLLOCATION MINING — the PMI/lift pass behind phrase vocabularies
    * and tokenizer preprocessing (Mikolov et al. 2013 word2vec phrases
    * use the same c(xy)/(c(x)·c(y)) core): adjacent-bigram lift in
    * EXACT integer ppm — lift_ppm = (c(xy) · N · 10⁶) div (c(x)·c(y)),
    * support-filtered at c(xy) ≥ 5, top-25 by (lift desc, bigram).
    * No log, no float — the ranking is bit-stable. Shape at 100 TB:
    * bigram and unigram counts are two explode+groupBy passes over the
    * corpus; the two unigram joins are keyed by term (the vocabulary),
    * so the join is vocab-sized, not corpus-sized, and the support
    * filter prunes the candidate set before either join. */
  def llmCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir).withColumn("t", split(col("text"), " "))
    val bg = docs.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(element_at(t, i+1) AS w1, element_at(t, i+2) AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = docs.select(explode(col("t")).as("w"))
    val c1 = uni.groupBy("w").agg(count(lit(1)).as("c"))
    // N comes from the unigram counts, not a driver-side uni.count() —
    // that eager count was a second full corpus explode per plan
    // construction (review finding; same rule as agg_chi_square)
    val tot = c1.agg(sum(col("c")).as("n"))
    // c_xy·N·1e6 in DECIMAL(38,0): overflows BIGINT once c_xy·N passes
    // ~9.2e12 — a frequent bigram in a ~1e8-token corpus
    bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
      .join(c1.withColumnRenamed("w", "w1").withColumnRenamed("c", "cx"), Seq("w1"))
      .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("c", "cy"), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"), col("c_xy"),
        expr("""CAST((CAST(c_xy AS DECIMAL(38,0)) * n * 1000000)
               | div (CAST(cx AS DECIMAL(38,0)) * cy) AS BIGINT)""".stripMargin)
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bigram").asc)
      .limit(25)
  }

  val llmCollocationsOracle: String =
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT t[k] AS w1, t[k+1] AS w2
      |       FROM (SELECT t, unnest(range(1, len(t))) AS k FROM t)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
      |uni AS (SELECT UNNEST(t) AS w FROM t),
      |c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni)
      |SELECT c2.w1 || ' ' || c2.w2 AS bigram, c2.c_xy,
      |  CAST((CAST(c2.c_xy AS HUGEINT) * n.n * 1000000)
      |    // (CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS lift_ppm
      |FROM c2 JOIN c1 x ON c2.w1 = x.w JOIN c1 y ON c2.w2 = y.w, n
      |WHERE c2.c_xy >= 5
      |ORDER BY lift_ppm DESC, bigram LIMIT 25""".stripMargin

  /** QUALITY-FILTER ENSEMBLE — how production corpora actually gate
    * documents (FineWeb/RefinedWeb/Gopher all COMPOSE heuristics
    * rather than trust one): four independent votes — length floor
    * (n_chars ≥ 100), C4's stopword-presence rule, the mean-token-
    * length band, and the Gopher duplicate-bigram ceiling — each 0/1,
    * keep = majority (≥ 3 of 4). Per-filter votes ride along in the
    * output because the ensemble's job is ATTRIBUTION: which rule
    * killed a doc is the datum curation reviews. All thresholds are
    * exact integer ppm (shared algebra with `llm_quality_score` /
    * `llm_repetition_filter`). Shape at 100 TB: the only non-map work
    * is the bigram stats pass (two doc-keyed shuffles, embarrassingly
    * parallel per document) and one doc-keyed left join — no corpus-
    * sized join against anything global. */
  def llmQualityEnsemble(spark: SparkSession, sfDir: String): DataFrame = {
    val base = documents(spark, sfDir).withColumn("t", split(col("text"), " "))
    val q = base.select(col("doc_id"), col("n_chars"),
      size(col("t")).cast("bigint").as("n_tokens"),
      expr("CAST(size(filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT)").as("n_stop"))
    val rep = base.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(tokenWindows("t", 2))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").cast("bigint").as("n_2grams"),
        count(lit(1)).cast("bigint").as("n_distinct"))
    q.join(rep, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_2grams", "n_distinct"))
      .withColumn("v_len", (col("n_chars") >= 100).cast("int"))
      .withColumn("v_stop", (col("n_stop") >= 1).cast("int"))
      .withColumn("v_tok", expr(
        "CAST((1000000 * (n_chars - (n_tokens - 1))) div n_tokens BETWEEN 3000000 AND 10000000 AS INT)"))
      .withColumn("v_rep", expr(
        "CAST((1000000 * (n_2grams - n_distinct)) div greatest(n_2grams, 1) <= 200000 AS INT)"))
      .select(col("doc_id"), col("v_len"), col("v_stop"), col("v_tok"), col("v_rep"),
        expr("CAST(v_len + v_stop + v_tok + v_rep AS INT)").as("votes"),
        expr("CAST(v_len + v_stop + v_tok + v_rep >= 3 AS INT)").as("keep"))
      .orderBy("doc_id")
  }

  val llmQualityEnsembleOracle: String =
    """WITH q AS (
      |  SELECT doc_id, n_chars, CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(t, x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stop
      |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents)),
      |bg AS (SELECT doc_id, t[k] || ' ' || t[k+1] AS g
      |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS k
      |             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
      |pg AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      |rep AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
      |               CAST(COUNT(*) AS BIGINT) AS n_distinct FROM pg GROUP BY 1),
      |f AS (SELECT q.doc_id,
      |  CAST(q.n_chars >= 100 AS INT) AS v_len,
      |  CAST(q.n_stop >= 1 AS INT) AS v_stop,
      |  CAST((1000000 * (q.n_chars - (q.n_tokens - 1))) // q.n_tokens
      |       BETWEEN 3000000 AND 10000000 AS INT) AS v_tok,
      |  CAST((1000000 * (COALESCE(r.n_2grams, 0) - COALESCE(r.n_distinct, 0)))
      |       // GREATEST(COALESCE(r.n_2grams, 0), 1) <= 200000 AS INT) AS v_rep
      |  FROM q LEFT JOIN rep r ON q.doc_id = r.doc_id)
      |SELECT doc_id, v_len, v_stop, v_tok, v_rep,
      |  CAST(v_len + v_stop + v_tok + v_rep AS INT) AS votes,
      |  CAST(v_len + v_stop + v_tok + v_rep >= 3 AS INT) AS keep
      |FROM f ORDER BY doc_id""".stripMargin

  /** COUNT-MIN HEAVY HITTERS with MEASURED overcount — the mergeable
    * sketch (Cormode & Muthukrishnan 2005) that answers "how often
    * does this token occur" in fixed memory at any corpus size: d=4
    * hash rows × w=16 buckets (md5-derived, engine-portable), point
    * estimate = min over rows, compared against the exact counts for
    * the top-10 tokens with the one-sided overcount in exact ppm —
    * the `llm_ann_recall` move applied to sketch counting. w=16 is
    * DELIBERATELY undersized against this corpus's small synthetic
    * vocabulary so collisions are visible and the min-over-rows
    * genuinely earns its keep (measured here: 0..~2e6 ppm across the
    * top-10 — some rows collide, the min recovers what it can); at
    * 100 TB w scales to MBs and the sketch is the standard partial
    * aggregate: each partition builds its own d×w grid, merge is
    * elementwise sum, exactly what this groupBy(s, b) plan does. */
  def llmCmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val it = documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("k"))
    val bucket = (pfx: String) =>
      expr(s"CAST(conv(substring(md5(concat(CAST($pfx AS STRING), ':', k)), 1, 1), 16, 10) AS BIGINT)")
    val seeds = array((0 until 4).map(lit): _*)
    val cms = it.select(col("k"), explode(seeds).as("s"))
      .withColumn("b", bucket("s"))
      .groupBy("s", "b").agg(count(lit(1)).as("c"))
    val top = it.groupBy("k").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("k").asc).limit(10)
    broadcast(top)
      .select(col("k"), col("exact_n"), explode(seeds).as("s"))
      .withColumn("b", bucket("s"))
      .join(cms, Seq("s", "b"))
      .groupBy("k", "exact_n").agg(min(col("c")).as("est_n"))
      .select(col("k").as("term"), col("exact_n"), col("est_n"),
        expr("((est_n - exact_n) * 1000000) div exact_n").as("overcount_ppm"))
      .orderBy(col("exact_n").desc, col("term").asc)
  }

  val llmCmsHeavyHittersOracle: String =
    """WITH it AS (SELECT UNNEST(string_split(text, ' ')) AS k FROM documents),
      |ex AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_n FROM it GROUP BY 1),
      |top AS (SELECT k, exact_n FROM ex ORDER BY exact_n DESC, k LIMIT 10),
      |hashed AS (SELECT k, s,
      |    strpos('0123456789abcdef', substr(md5(CAST(s AS VARCHAR) || ':' || k), 1, 1)) - 1 AS b
      |  FROM it, UNNEST(range(0, 4)) AS u(s)),
      |cms AS (SELECT s, b, CAST(COUNT(*) AS BIGINT) AS c FROM hashed GROUP BY 1, 2),
      |est AS (SELECT t.k, t.exact_n, MIN(c.c) AS est_n
      |  FROM top t, UNNEST(range(0, 4)) AS u(s)
      |  JOIN cms c ON c.s = u.s AND c.b =
      |    strpos('0123456789abcdef', substr(md5(CAST(u.s AS VARCHAR) || ':' || t.k), 1, 1)) - 1
      |  GROUP BY 1, 2)
      |SELECT k AS term, exact_n, est_n,
      |  ((est_n - exact_n) * 1000000) // exact_n AS overcount_ppm
      |FROM est ORDER BY exact_n DESC, term""".stripMargin

  /** PER-DOCUMENT KEYWORD EXTRACTION — the tagging/routing primitive
    * (metadata enrichment, index boosting, topic routing): each doc's
    * top-3 terms by a LOG-FREE tf·idf surrogate, score = tf ·
    * ((N·10⁶) div df) — the rarity factor is the exact integer inverse
    * document-frequency ratio rather than its log, which keeps the
    * score integral and cross-engine bit-stable (`llm_tfidf_top` keeps
    * the classic float-log form at corpus level; this key is the
    * per-doc cut). Probe docs bounded to doc_id < 50 for a stable
    * graded output. Shape at 100 TB: tf and df are the two standard
    * explode+groupBy passes, the df join is keyed by term
    * (vocab-sized), and the per-doc top-3 is a doc-partitioned window
    * with WindowGroupLimit pushing the cut before the shuffle. */
  def llmKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.filter(col("doc_id") < 50)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val nd = documents(spark, sfDir).agg(count(lit(1)).as("nd"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nd))
      .withColumn("score", expr("tf * ((nd * 1000000) div df)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "term", "tf", "score", "rnk")
      .orderBy("doc_id", "rnk")
  }

  val llmKeywordsOracle: String =
    """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
      |       WHERE doc_id < 50 GROUP BY 1, 2),
      |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
      |s AS (SELECT tf.doc_id, tf.term, tf.tf,
      |    tf.tf * ((n.nd * 1000000) // df.df) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ((n.nd * 1000000) // df.df) DESC, tf.term) AS rnk
      |  FROM tf JOIN df ON tf.term = df.term, n)
      |SELECT doc_id, term, tf, score, rnk FROM s WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  /** FEATURE-HASHING EMBEDDING (r10) — the hashing trick (Weinberger
    * et al.; Vowpal Wabbit's representation): a doc embeds into a
    * fixed 16-dim vector with NO vocabulary, NO training, and NO
    * global state — each token hashes to a dimension (md5 → dim =
    * h mod 16) and contributes ±1 (the sign bit, h div 16 mod 2,
    * keeps hash collisions unbiased in expectation — the part naive
    * bag-of-hashed-words gets wrong). Everything is EXACT integer
    * arithmetic (component = signed token count), so the oracle is
    * exact and the output is engine-portable with no float rounding
    * at all. Output is the dense (doc_id, dim, feat) long grid —
    * zero components included via a doc×16 scaffold, proving shape,
    * not just the non-zero support. At 100 TB: one token explode +
    * one (doc, dim)-keyed sum — no vocabulary table to build, join,
    * or ship, which is exactly why the trick survives streaming and
    * hundred-billion-token corpora. */
  def llmFeatureHash(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(tok), 1, 7), 16, 10) AS BIGINT)").as("h"))
      .select(col("doc_id"), expr("CAST(h % 16 AS INT)").as("dim"),
        expr("CASE WHEN (h div 16) % 2 = 0 THEN 1L ELSE -1L END").as("sgn"))
      .groupBy("doc_id", "dim").agg(sum(col("sgn")).as("feat"))
    documents(spark, sfDir).select(col("doc_id"))
      .crossJoin(spark.range(0, 16).select(col("id").cast("int").as("dim")))
      .join(toks, Seq("doc_id", "dim"), "left")
      .na.fill(0L, Seq("feat"))
      .orderBy("doc_id", "dim")
  }

  val llmFeatureHashOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) AS h
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)),
      |f AS (
      |  SELECT doc_id, CAST(h % 16 AS INT) AS dim,
      |    CAST(SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS feat
      |  FROM tok GROUP BY doc_id, CAST(h % 16 AS INT))
      |SELECT d.doc_id AS doc_id, CAST(g.dim AS INT) AS dim, COALESCE(f.feat, 0) AS feat
      |FROM documents d CROSS JOIN range(0, 16) g(dim)
      |LEFT JOIN f ON f.doc_id = d.doc_id AND f.dim = g.dim
      |ORDER BY d.doc_id, dim""".stripMargin

  /** ZIPF SLOPE (r13) — the rank-frequency power-law fit: natural
    * text obeys freq ∝ rank^s with s ≈ −1, and a per-language slope
    * far from −1 is the classic corpus-health smell (template spam
    * flattens it, deduplicated boilerplate steepens it) that curation
    * dashboards track next to `llm_entropy_filter`. Per lang: term
    * frequencies (the shared tokenization), a DETERMINISTIC rank
    * (freq desc, term asc — row_number without the total order would
    * hash-diverge on ties), head truncated at rank ≤ 200 (the fit is
    * about the head; the tail is where Zipf breaks by design), then
    * the closed-form least-squares slope of ln(freq) on ln(rank).
    * ln() sums carry the `llm_entropy_filter` caveat (last-ulp
    * engine drift, r6-rounded away). One term-keyed shuffle + one
    * k-row window per language. */
  val llmTextZipf: Key = Key.sql("llm_text_zipf") { t =>
    s"""WITH tok AS (SELECT lang, ${t.unnest.toUpperCase}(${t.split}(text, ' ')) AS term FROM ${t("documents")}),
       |tf AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |rk AS (SELECT lang, term, tf, ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY tf DESC, term ASC) AS rank FROM tf),
       |xy AS (SELECT lang, LN(CAST(rank AS DOUBLE)) AS x, LN(CAST(tf AS DOUBLE)) AS y
       |  FROM rk WHERE rank <= 200),
       |m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
       |  FROM xy GROUP BY lang)
       |SELECT lang, n_terms,
       |  ROUND((CAST(n_terms AS DOUBLE) * sxy - sx * sy) / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope
       |FROM m ORDER BY lang""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    llmTextZipf,
    Key("llm_feature_hash", llmFeatureHash, llmFeatureHashOracle),
    Key("llm_keywords", llmKeywords, llmKeywordsOracle),
    Key("llm_cms_heavy_hitters", llmCmsHeavyHitters, llmCmsHeavyHittersOracle),
    Key("llm_quality_ensemble", llmQualityEnsemble, llmQualityEnsembleOracle),
    Key("llm_dsir", llmDsir, llmDsirOracle),
    Key("llm_collocations", llmCollocations, llmCollocationsOracle),
    Key("llm_dataset_rebalance", llmDatasetRebalance, llmDatasetRebalanceOracle),
    Key("llm_ngram_novelty", llmNgramNovelty, llmNgramNoveltyOracle),
    Key("llm_shard_assign", llmShardAssign, llmShardAssignOracle),
    Key("llm_entropy_filter", llmEntropyFilter, llmEntropyFilterOracle),
    llmInvertedIndex,
    Key("llm_bm25_topk", llmBm25Topk, llmBm25TopkOracle),
    Key("llm_decontaminate", llmDecontaminate, llmDecontaminateOracle),
    Key("llm_pii_scrub", llmPiiScrub, llmPiiScrubOracle),
    Key("llm_pack_chunks", llmPackChunks, llmPackChunksOracle),
    llmSampleStratified,
    Key("llm_dedup_spans", llmDedupSpans, llmDedupSpansOracle),
    Key("llm_dataset_mix", llmDatasetMix, llmDatasetMixOracle),
    llmLmScore,
    Key("llm_curation", llmCuration, llmCurationOracle),
    Key("llm_text_stats", llmTextStats, llmTextStatsOracle),
    llmTfidfTop,
    Key("llm_ngrams", llmNgrams, llmNgramsOracle),
    llmLangId,
    llmLangidEval,
    Key("llm_quality_score", llmQualityScore, llmQualityScoreOracle),
    Key("llm_repetition_filter", llmRepetitionFilter, llmRepetitionFilterOracle),
    Key("llm_vocab_prune", llmVocabPrune, llmVocabPruneOracle),
    Key("llm_winnowing", llmWinnowing, llmWinnowingOracle),
    Key("llm_token_count", llmTokenCount, llmTokenCountOracle),
    Key("llm_bpe_merges", llmBpeMerges, llmBpeMergesOracle),
    Key("llm_fingerprint", llmFingerprint, llmFingerprintOracle))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
