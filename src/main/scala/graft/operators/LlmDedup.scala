package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §2.B "LLM-data-pipeline operators" + builder mandate).
  *
  * Scale posture — the whole point of this family:
  *  - exact dedup is a hash groupBy: one shuffle on md5(text);
  *  - exact-Jaccard near-dup is quadratic in docs sharing a shingle —
  *    correct at test scale, but the 100 TB path is MinHash-LSH below;
  *  - MinHash-LSH generates candidates with two EQUI-joins on band
  *    hashes (never an OR/theta join), so candidate generation is
  *    O(docs·bands) shuffled by band key, and the expensive exact
  *    verify runs only on candidates;
  *  - SimHash reduces each doc to a 16-bit signature in one groupBy —
  *    pairs within small hamming distance can then be bucket-joined;
  *  - embedding near-dup here is brute-force (the correctness oracle);
  *    the ANN path for scale is `llm_ann_lsh` in LlmVector.
  *
  * Everything is hash-parity-safe: md5 hex strings are identical in
  * Spark and DuckDB, and MIN over hex strings is a valid uniform
  * min-hash, so even the sketches are oracle-checkable.
  */
object LlmDedup {

  /** Distinct 3-gram token shingles per document (of an arbitrary
    * (doc_id, text) frame — minhash shingles only its dedup reps).
    * NOT repartitioned (r19 negative result): the llm_entropy_filter
    * §2.5 input-parallelism fix was tried here too — the dedup keys'
    * cost is their chain of small serial stages (checkpoint rounds),
    * not the explode stage, and the A/B read parity with an extra
    * shuffle added. Kept single-split. */
  private[operators] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(LlmText.tokenWindows("t", 3))))
        .as("sh"))

  private[operators] def shingles(spark: SparkSession, sfDir: String): DataFrame =
    shinglesOf(documents(spark, sfDir))

  /** Per-row list range (`unnest(range(1, len(t) - 1))` ⇔ k + 2 ≤
    * len(t); empty below 3 tokens) — cap-free, mirroring the unbounded
    * Spark side at any document length. */
  private[operators] val shinglesSql: String =
    """SELECT DISTINCT doc_id, t[k] || ' ' || t[k+1] || ' ' || t[k+2] AS sh
      |FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS k
      |      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))""".stripMargin

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs:
    * joins each side's shingle set, counts the intersection, and keeps
    * pairs with ROUND(J, 6) ≥ threshold — the shared tail of every
    * candidate-generation strategy (inverted index, LSH bands, prefix
    * filter). */
  private def verifyCandidates(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    // Lossless length filter (Arasu/Chaudhuri): J ≥ t forces
    // min(na,nb) ≥ t·max(na,nb) because inter ≤ min and the union ≥ max —
    // applied BEFORE the shingle joins so mismatched-size candidate pairs
    // never pay the intersection. The verify gate below keeps
    // r6(jaccard) ≥ t, i.e. true J ≥ t − 5e-7, so the filter uses that
    // slackened bound in exact integer arithmetic:
    //   min·2e7 ≥ max·(t·2e7 − 10), with t·2e6 exact for t ∈ {0.7,0.8,0.9}.
    val tNum = math.round(threshold * 10).toInt
    require(tNum / 10.0 == threshold, s"threshold $threshold must be a multiple of 0.1")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val sized = cand
      .join(n.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .filter(least(col("na"), col("nb")) * lit(20000000L) >=
        greatest(col("na"), col("nb")) * lit(tNum * 2000000L - 10L))
    // Intersection via equi-join on (doc, shingle): output is only the
    // shared shingles (linear in candidates), never the na×nb cross rows.
    sized
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", r6(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Prefix-filtered exact-Jaccard near-dup pairs (PPJoin-style, lossless
    * for J ≥ t = 1 − 1/divisor): under any fixed shingle total order, two
    * docs with J ≥ t must share one of each other's first ⌊n/divisor⌋+1
    * shingles, so only that prefix is indexed for candidate generation.
    * Integer prefix math — see llm_dedup_near_prefix's round-1 FP bug.
    *
    * Rounding-gate bound: verify keeps r6(J) ≥ t (true J ≥ t − 5e-7).
    * The ⌊n/d⌋+1 prefix is still exact for that slack while n < 2·10⁵
    * shingles per doc — frac(t·n) is a multiple of 0.1 when nonzero, and
    * 5e-7·n stays below it — far above the data contract's ~100 tokens;
    * revisit the prefix length before feeding megashingle documents. */
  private[operators] def nearDupPairsPrefix(shLineage: DataFrame, divisor: Int): DataFrame = {
    // Explicit divisor→threshold map: the oracle SQL compares against the
    // same decimal literal, so t must be that literal's double exactly
    // (not a 1−1/d float expression that might round differently).
    val t = divisor match {
      case 5 => 0.8
      case 10 => 0.9
      case d => throw new IllegalArgumentException(s"unsupported prefix divisor $d")
    }
    // The shingle frame feeds four consumers (counts, ranking, and both
    // verify joins); materialize it once instead of re-deriving the
    // explode lineage per consumer — at 100 TB this is a persisted
    // intermediate table, locally it also collapses the codegen'd plan.
    val sh = shLineage.localCheckpoint()
    // The first ⌊n/d⌋+1 shingles under the total order, WITHOUT the
    // former count-join + row_number sort window: shingles are DISTINCT
    // per doc (array_distinct upstream), so rank ≤ k ⇔ membership in
    // the k smallest values — one collect_list groupBy (map-side-
    // complete: a doc's shingles never span partitions) + sort + slice
    // replaces two shuffles and a full sort (r18, guide §2.4).
    val prefix = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("a"))
      .select(col("doc_id"),
        explode(expr(s"slice(a, 1, size(a) div $divisor + 1)")).as("sh"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyCandidates(cand, sh, t)
  }

  /** Exact duplicate groups by content hash; keeps the smallest doc_id
    * as the canonical representative. */
  val llmDedupExact: Key = Key.sql("llm_dedup_exact") { t =>
    s"""SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
       |FROM ${t("documents")} GROUP BY md5(text) ORDER BY text_hash""".stripMargin
  }

  /** BLOOM-PREFILTER DEDUP — the shape that replaces a huge anti-join
    * at 100 TB: instead of shuffling every probe-side key against the
    * reference corpus, the reference keys (here: even doc_ids' 40-char
    * text-prefix fingerprints) fold into a 16,128-bit Bloom filter —
    * 256 words × 63 bits, ~2 KB, BROADCAST to every probe task — and
    * only the keys whose k=3 positions are all set go to the exact
    * verify join. The filter build is a pure `bit_or` partial-merge
    * aggregate (the `agg_bitmap_distinct` machinery pointed at hash
    * positions instead of ids); probe is a broadcast join against the
    * 256-row word table; and the output MEASURES the filter honestly:
    * candidates vs exact-verified vs false positives, with fp_ppm over
    * the true negatives probed. 63-bit words dodge the one shift
    * position DuckDB range-checks (`1<<63`); m is sized so false
    * positives are VISIBLE at bench scale (~5% at sf0.1's key volume)
    * rather than hidden by overprovisioning — the `llm_cms_heavy_hitters`
    * honesty convention. At a real 100 TB run m grows with the build
    * set (still broadcastable at gigabit sizes via torrent broadcast),
    * or shards by key range; the plan shape is unchanged. */
  def llmDedupBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val M = 16128L // 256 words x 63 bits
    // the key column is addressed BY NAME inside the SQL string — a
    // Column parameter here would be silently ignored (review finding)
    def positions(h: String, j: Int) =
      expr(s"CAST(conv(substring(md5(CONCAT('$j', ':', $h)), 1, 7), 16, 10) AS BIGINT) % $M")
    val docs = documents(spark, sfDir)
      .select(col("doc_id"), md5(expr("substring(text, 1, 40)")).as("h"))
    val build = docs.filter(col("doc_id") % 2 === 0).select("h").distinct()
    val bloom = build
      .select(explode(array((1 to 3).map(j => positions("h", j)): _*)).as("pos"))
      .groupBy(expr("pos div 63").as("word"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 63 as int)))").as("bits"))
    val probe = docs.filter(col("doc_id") % 2 === 1)
    val cand = probe
      .select(col("doc_id"), col("h"),
        explode(array((1 to 3).map(j => positions("h", j)): _*)).as("pos"))
      .withColumn("word", expr("pos div 63"))
      .join(broadcast(bloom), Seq("word"), "left")
      .groupBy("doc_id", "h")
      .agg(sum(expr("coalesce(shiftright(bits, cast(pos % 63 as int)) & 1, 0)")).as("nhit"))
      .filter(col("nhit") === 3)
    val verified = cand.join(build, Seq("h"), "left_semi")
    probe.agg(count(lit(1)).as("n_probe"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .select(col("n_probe"), col("n_candidates"), col("n_verified"),
        (col("n_candidates") - col("n_verified")).as("n_false_pos"),
        expr("(1000000 * (n_candidates - n_verified)) div greatest(n_probe - n_verified, 1)")
          .as("fp_ppm"))
  }

  val llmDedupBloomOracle: String =
    """WITH a AS (SELECT DISTINCT md5(substring(text, 1, 40)) AS h
      |  FROM documents WHERE doc_id % 2 = 0),
      |apos AS (SELECT
      |    CAST(CONCAT('0x', substring(md5(CONCAT(j.j, ':', h)), 1, 7)) AS BIGINT) % 16128 AS pos
      |  FROM a, (VALUES ('1'),('2'),('3')) j(j)),
      |bloom AS (SELECT pos // 63 AS word,
      |    BIT_OR(1::BIGINT << CAST(pos % 63 AS INT)) AS bits FROM apos GROUP BY 1),
      |p AS (SELECT doc_id, md5(substring(text, 1, 40)) AS h FROM documents WHERE doc_id % 2 = 1),
      |ppos AS (SELECT doc_id, h,
      |    CAST(CONCAT('0x', substring(md5(CONCAT(j.j, ':', h)), 1, 7)) AS BIGINT) % 16128 AS pos
      |  FROM p, (VALUES ('1'),('2'),('3')) j(j)),
      |hits AS (SELECT doc_id, h,
      |    CAST(SUM(COALESCE((bits >> CAST(pos % 63 AS INT)) & 1, 0)) AS BIGINT) AS nhit
      |  FROM ppos LEFT JOIN bloom ON pos // 63 = bloom.word GROUP BY 1, 2),
      |cand AS (SELECT doc_id, h FROM hits WHERE nhit = 3),
      |ver AS (SELECT doc_id FROM cand WHERE h IN (SELECT h FROM a))
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_probe,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ver) AS n_verified,
      |  (SELECT COUNT(*) FROM cand) - (SELECT COUNT(*) FROM ver) AS n_false_pos,
      |  (1000000 * ((SELECT COUNT(*) FROM cand) - (SELECT COUNT(*) FROM ver)))
      |    // GREATEST((SELECT COUNT(*) FROM p) - (SELECT COUNT(*) FROM ver), 1) AS fp_ppm""".stripMargin

  /** Exact Jaccard near-duplicate pairs (3-gram shingles, J ≥ 0.8) via
    * shingle-inverted-index self-join. Quadratic in per-shingle doc
    * frequency — use llm_dedup_minhash at scale. */
  def llmDedupNear(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // NOTE: on real corpora, prefiltering shingles with document
    // frequency 1 (can't form pairs) shrinks this join's input; measured
    // here it LOSES (~40-word synthetic vocab ⇒ every shingle is shared,
    // the filter is a pure extra pass) — see SCALE.md.
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(n.select(col("doc_id"), col("n_sh").as("na")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(n.select(col("doc_id"), col("n_sh").as("nb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("jaccard", r6(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter"))))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val llmDedupNearOracle: String =
    s"""WITH sh AS ($shinglesSql),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
       |FROM inter
       |JOIN n na ON doc_a = na.doc_id
       |JOIN n nb ON doc_b = nb.doc_id
       |WHERE ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Prefix-filtered exact Jaccard (PPJoin-style, Xiao et al.): for
    * J ≥ t, two docs must share at least one of the first
    * ⌊(1−t)·n⌋+1 shingles under any fixed total order — so only that
    * prefix is indexed for candidate generation, and the exact
    * intersection runs on candidates only. This is the exact-dedup
    * scale path when MinHash's approximation is not acceptable; scoped
    * to doc_id < 2500 (the full corpus at sf≤0.01, half at sf0.1 —
    * the technique demo shouldn't double the bench's quadratic cost on
    * a corpus whose tiny vocabulary defeats prefix selectivity). */
  def llmDedupNearPrefix(spark: SparkSession, sfDir: String): DataFrame =
    // Prefix length = n − ⌈0.8·n⌉ + 1 = ⌊n/5⌋ + 1, computed in EXACT
    // integer arithmetic inside nearDupPairsPrefix: the floating form
    // floor((1−0.8)·n)+1 evaluates (1−0.8) = 0.19999999999999996 and
    // yields a one-short prefix for every n divisible by 5, silently
    // dropping borderline J = t pairs (found in round-1 review).
    nearDupPairsPrefix(shingles(spark, sfDir).filter(col("doc_id") < 2500), 5)
      .orderBy("doc_a", "doc_b")

  /** Same algebra as llmDedupNearOracle restricted to the prefix demo's
    * doc scope — by the prefix-filter guarantee the results coincide. */
  val llmDedupNearPrefixOracle: String =
    s"""WITH sh AS (SELECT * FROM ($shinglesSql) WHERE doc_id < 2500),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
       |FROM inter
       |JOIN n na ON doc_a = na.doc_id
       |JOIN n nb ON doc_b = nb.doc_id
       |WHERE ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash + LSH near-dup: 8 hash seeds → 2 bands of 4; candidates
    * from two equi-joins on band keys; exact Jaccard verified only on
    * candidates (J ≥ 0.7). The min over md5(seed||shingle) hex strings
    * is a uniform minwise hash available identically in both engines. */
  def llmDedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(documents(spark, sfDir))

  /** MinHash-LSH near-dup pairs over any (doc_id, text) frame.
    *
    * Exact-duplicate pre-collapse — the 100 TB guard for boilerplate-heavy
    * corpora: m identical docs would land in the same band bucket and emit
    * m²/2 candidate pairs into the expensive verify. Identical text means
    * identical shingle set, hence identical signature, bands, and Jaccard
    * against anything else — so band + verify once per distinct text and
    * reconstruct member pairs after (intra-group J is exactly 1, and a
    * member pair collides in a band iff its reps do): output is
    * provably identical to banding the full corpus.
    */
  /** The collapse → shingle → band stages of [[minhashPairs]], exposed
    * as a value so the dense-duplicate stress spec (r10) can pin the
    * CANDIDATE COUNT directly: candidates are generated on
    * distinct-text reps only, so m identical docs contribute ONE
    * banding row — never m²/2 pairs into the expensive verify. */
  private[operators] case class MinhashStage(
      groups: DataFrame, sh: DataFrame, cand: DataFrame)

  private[graft] def minhashStage(docsIn: DataFrame): MinhashStage = {
    val docs = docsIn
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 3) // mirror shinglesOf: shingle-less docs can't pair
      .select("doc_id", "text")
    // Only the rep shingles (4 consumers, the wide expensive frame) are
    // materialized; `groups` is a small 2-consumer aggregate whose eager
    // localCheckpoint cost more cold time than recomputing it
    // (round-3 bench: the two checkpoints dominated the key's 8.3 s).
    val groups = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
    val reps = docs.join(groups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    val sh = shinglesOf(reps).localCheckpoint()
    // All 8 salted mins in ONE grouped pass (8 md5 evals per row beats
    // exploding to 8× rows — an 8× smaller shuffle; values identical).
    val sig = sh
      .groupBy("doc_id")
      .agg(min(md5(concat(lit("0:"), col("sh")))).as("m0"),
        (1 to 7).map(i => min(md5(concat(lit(s"$i:"), col("sh")))).as(s"m$i")): _*)
      .withColumn("b0", md5(concat(col("m0"), col("m1"), col("m2"), col("m3"))))
      .withColumn("b1", md5(concat(col("m4"), col("m5"), col("m6"), col("m7"))))
      .select("doc_id", "b0", "b1")
    def bandPairs(band: String): DataFrame =
      sig.as("x").join(sig.as("y"),
          col(s"x.$band") === col(s"y.$band") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = bandPairs("b0").union(bandPairs("b1")).distinct()
    MinhashStage(groups, sh, cand)
  }

  private[operators] def minhashPairs(docsIn: DataFrame): DataFrame = {
    val stage = minhashStage(docsIn)
    val (groups, sh, cand) = (stage.groups, stage.sh, stage.cand)
    val repPairs = verifyCandidates(cand, sh, 0.7)
    // Expand rep-level pairs to member pairs (cross-group), plus all
    // intra-group pairs at J = 1.
    val mA = groups.select(col("rep").as("doc_a"), explode(col("members")).as("a"))
    val mB = groups.select(col("rep").as("doc_b"), explode(col("members")).as("b"))
    val cross = repPairs
      .join(mA, Seq("doc_a")).join(mB, Seq("doc_b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jaccard"))
    val m = groups.select(col("h"), explode(col("members")).as("m"))
    val intra = m.as("x").join(m.as("y"),
        col("x.h") === col("y.h") && col("x.m") < col("y.m"))
      .select(col("x.m").as("doc_a"), col("y.m").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionAll(intra).orderBy("doc_a", "doc_b")
  }

  val llmDedupMinhashOracle: String = {
    val mins = (0 to 7).map(i =>
      s"MIN(CASE WHEN k = $i THEN h END) AS m$i").mkString(",\n|    ")
    s"""WITH sh AS ($shinglesSql),
       |hashes AS (
       |  SELECT doc_id, sh, k, md5(CAST(k AS VARCHAR) || ':' || sh) AS h
       |  FROM sh CROSS JOIN range(0, 8) seeds(k)),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hashes GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, md5(m0 || m1 || m2 || m3) AS b0, md5(m4 || m5 || m6 || m7) AS b1 FROM sig),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y ON x.b0 = y.b0 AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT x.doc_id, y.doc_id
       |  FROM banded x JOIN banded y ON x.b1 = y.b1 AND x.doc_id < y.doc_id),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS inter
       |  FROM cand
       |  JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b AND a.sh = b.sh
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
       |FROM inter JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
       |WHERE ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) >= 0.7
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** MinHash ESTIMATION ACCURACY as a measured, graded curve (the same
    * move as `llm_ann_recall` for IVF): for every LSH band candidate
    * pair among the distinct-text reps, emit the signature-agreement
    * estimate Ĵ = |{i : mᵢ(a) = mᵢ(b)}| / 8 next to the exact shingle
    * Jaccard and the absolute error — turning "MinHash approximates
    * Jaccard" from a property-test boolean into a per-pair number the
    * driver hash-checks. Estimation runs on candidates only (two band
    * equi-joins, never all-pairs), so at 100 TB this is the same
    * O(docs·bands) shuffle shape as the dedup key itself; the exact-J
    * column is the verification pass dedup already pays. Reps only:
    * identical texts have identical signatures, so duplicate pairs
    * measure as Ĵ = J = 1 and would only pad the curve. */
  def llmMinhashJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 3)
      .select("doc_id", "text")
    val reps = docs.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
    val repDocs = docs.join(reps.select("doc_id"), Seq("doc_id"), "left_semi")
    val sh = shinglesOf(repDocs).localCheckpoint() // feeds sig, counts, and both intersection joins
    val sig = sh.groupBy("doc_id")
      .agg(min(md5(concat(lit("0:"), col("sh")))).as("m0"),
        (1 to 7).map(i => min(md5(concat(lit(s"$i:"), col("sh")))).as(s"m$i")): _*)
      // one row of 8 hashes per rep doc, consumed FOUR times below (both
      // band self-join sides + both signature-compare joins): without
      // the checkpoint the 8-way min agg over all shingles re-runs per
      // consumer
      .localCheckpoint()
    val banded = sig
      .withColumn("b0", md5(concat(col("m0"), col("m1"), col("m2"), col("m3"))))
      .withColumn("b1", md5(concat(col("m4"), col("m5"), col("m6"), col("m7"))))
      .select("doc_id", "b0", "b1")
    def bandPairs(band: String): DataFrame =
      banded.as("x").join(banded.as("y"),
          col(s"x.$band") === col(s"y.$band") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = bandPairs("b0").union(bandPairs("b1")).distinct()
    val sigAs = (side: String, alias: String) =>
      sig.select(col("doc_id").as(side) +: (0 to 7).map(i => col(s"m$i").as(s"$alias$i")): _*)
    val est = cand
      .join(sigAs("doc_a", "x"), Seq("doc_a"))
      .join(sigAs("doc_b", "y"), Seq("doc_b"))
      .withColumn("j_est",
        (0 to 7).map(i => (col(s"x$i") === col(s"y$i")).cast("int")).reduce(_ + _) / lit(8.0))
      .select("doc_a", "doc_b", "j_est")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // a band collision means the argmin shingle under that band's hash
    // is SHARED, so every candidate pair has inter >= 1 — the inner
    // intersection join drops nothing (and the oracle joins identically)
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("doc_a", "doc_b"))
      .join(n.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", r6(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter"))))
      .withColumn("abs_err", r6(abs(col("j_est") - col("jaccard"))))
      .select("doc_a", "doc_b", "j_est", "jaccard", "abs_err")
      .orderBy("doc_a", "doc_b")
  }

  val llmMinhashJaccardOracle: String = {
    val mins = (0 to 7).map(i =>
      s"MIN(CASE WHEN k = $i THEN h END) AS m$i").mkString(",\n|    ")
    val agree = (0 to 7).map(i => s"CAST(x.m$i = y.m$i AS INT)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |reps AS (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY md5(text)),
       |sh AS (SELECT * FROM ($shinglesSql) WHERE doc_id IN (SELECT doc_id FROM reps)),
       |hashes AS (
       |  SELECT doc_id, sh, k, md5(CAST(k AS VARCHAR) || ':' || sh) AS h
       |  FROM sh CROSS JOIN range(0, 8) seeds(k)),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hashes GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, md5(m0 || m1 || m2 || m3) AS b0, md5(m4 || m5 || m6 || m7) AS b1 FROM sig),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y ON x.b0 = y.b0 AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT x.doc_id, y.doc_id
       |  FROM banded x JOIN banded y ON x.b1 = y.b1 AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b, ($agree) / 8.0 AS j_est
       |  FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS inter
       |  FROM cand
       |  JOIN sh a ON a.doc_id = doc_a
       |  JOIN sh b ON b.doc_id = doc_b AND a.sh = b.sh
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, e.j_est,
       |  ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) AS jaccard,
       |  ROUND(ABS(e.j_est - ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6)), 6) AS abs_err
       |FROM inter i
       |JOIN est e ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
       |JOIN n na ON i.doc_a = na.doc_id
       |JOIN n nb ON i.doc_b = nb.doc_id
       |ORDER BY i.doc_a, i.doc_b""".stripMargin
  }

  /** Connected components over an undirected pair list via alternating
    * LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — O(log n) rounds regardless
    * of component diameter, vs O(diameter) for label propagation (the
    * round-2 implementation; a 100 TB corpus chained by boilerplate
    * produces long paths).
    *
    * Edges are kept directed child→parent (src > dst). Per round:
    *  - large-star: every node attaches its LARGER neighbors to the min
    *    of its neighborhood (including itself);
    *  - small-star: every node reattaches its parents and itself to its
    *    min parent.
    * Each op is equi-join + groupBy shuffles keyed by node id — the
    * standard CC-on-MapReduce shape. Lineage is cut per round with
    * localCheckpoint; CONVERGENCE is read from a Spark accumulator fed
    * by the same materializing job (an emission flags `changed` iff it
    * rewires its source edge), so no extra comparison/count job runs per
    * round. All-flags-false ⇔ every node's neighborhood min is itself a
    * direct parent ⇔ the graph is a forest of stars = the fixpoint;
    * task retries can only inflate the counter, never fake convergence.
    *
    * Returns (labels (doc_id, cluster_id = component min), rounds run).
    */
  private[operators] def connectedComponents(
      pairs: DataFrame, maxIters: Int = 30): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("graft_cc_rewires")

    // Strips the per-emission change flag into the accumulator while the
    // checkpoint job materializes the round — a narrow final map stage.
    def materialize(df: DataFrame): DataFrame =
      df.as[(Long, Long, Boolean)].mapPartitions { it =>
        it.map { case (s, d, ch) => if (ch) acc.add(1L); (s, d) }
      }.toDF("src", "dst").localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mnv"))
        .select(col("u"), least(col("mnv"), col("u")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("s"), col("m").as("d"), (col("m") =!= col("u")).as("ch"))
        .groupBy("s", "d").agg(max("ch").as("ch"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min("dst").as("mn"), count(lit(1)).as("deg"))
      // u reattaches itself to its min parent (a change unless it was the
      // only parent) and every non-min parent to that min (always new).
      val self = mins.select(col("src").as("s"), col("mn").as("d"),
        (col("deg") > 1).as("ch"))
      val rewire = e.join(mins, "src").filter(col("dst") =!= col("mn"))
        .select(col("dst").as("s"), col("mn").as("d"), lit(true).as("ch"))
      self.unionAll(rewire).groupBy("s", "d").agg(max("ch").as("ch"))
    }

    var e = pairs
      .select(greatest(col("doc_a"), col("doc_b")).cast("long").as("src"),
        least(col("doc_a"), col("doc_b")).cast("long").as("dst"))
      .distinct().localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val before = acc.value
      e = materialize(largeStar(e))
      e = materialize(smallStar(e))
      rounds += 1
      converged = acc.value == before
    }
    // a silent cap would ship wrong cluster ids — fail loudly
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters star rounds")
    val labels = e.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .unionAll(e.select(col("dst"), col("dst")).distinct()
        .toDF("doc_id", "cluster_id"))
    (labels, rounds)
  }

  /** Near-dup CLUSTER resolution — what a curation pipeline actually
    * consumes (pairs alone can't answer "which doc represents this
    * group"): connected components over the J ≥ 0.9 near-dup graph,
    * cluster id = min doc_id in the component. Edges come from the
    * lossless prefix-filtered generator, so the pair set equals exact
    * Jaccard; components resolve via [[connectedComponents]]'
    * large-star/small-star rounds.
    */
  def llmDedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = nearDupPairsPrefix(shingles(spark, sfDir), 10)
      .select("doc_a", "doc_b").localCheckpoint()
    connectedComponents(pairs)._1.orderBy("doc_id")
  }

  /** CLUSTER RESOLUTION — the step after [[llmDedupClusters]] that
    * actually changes the corpus: per near-dup cluster, WHICH document
    * survives (deterministic policy: lowest doc_id — crawl-order-first,
    * the common production choice) and what discarding the rest saves.
    * This is the curation ledger reviewers sign off on before a
    * destructive dedup run: member count, total chars, chars
    * reclaimed. The canonical's own size comes from `min_by(n_chars,
    * doc_id)` on the unique doc_id — deterministic in both engines
    * where a min-by-size policy could tie. Cost on top of clusters:
    * one broadcast-joinable doc-stats join + one cluster-keyed
    * groupBy — the clusters pass (LSH + log-round CC) dominates. */
  def llmDedupCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = llmDedupClusters(spark, sfDir)
    clusters.join(documents(spark, sfDir).select("doc_id", "n_chars"), "doc_id")
      .groupBy("cluster_id")
      .agg(min(col("doc_id")).as("canonical_doc"),
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("chars_total"),
        (sum(col("n_chars")) - expr("min_by(n_chars, doc_id)")).as("chars_saved"))
      .orderBy("cluster_id")
  }

  val llmDedupCanonicalOracle: String =
    s"""WITH RECURSIVE sh AS ($shinglesSql),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
       |  WHERE ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) >= 0.9),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v),
       |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
       |SELECT cluster_id, MIN(cl.doc_id) AS canonical_doc,
       |  COUNT(*) AS n_members,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
       |  CAST(SUM(d.n_chars) - arg_min(d.n_chars, cl.doc_id) AS BIGINT) AS chars_saved
       |FROM cl JOIN documents d ON cl.doc_id = d.doc_id
       |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Transitive closure by recursive CTE — exact reference for the
    * propagation result (UNION-distinct terminates on cyclic graphs). */
  val llmDedupClustersOracle: String =
    s"""WITH RECURSIVE sh AS ($shinglesSql),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
       |  WHERE ROUND(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 6) >= 0.9),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v)
       |SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach
       |GROUP BY v ORDER BY doc_id""".stripMargin

  /** 16-bit SimHash signature per document: per hex position of each
    * token's md5, a weighted ±1 majority vote becomes one signature bit.
    * Docs reduce to one row each — pairs within a hamming radius can
    * then be joined on signature prefixes at scale. */
  val llmDedupSimhash: Key = Key.sql("llm_dedup_simhash") { t =>
    val bits = (1 to 16).map(j =>
      s"CASE WHEN SUM(CASE WHEN substr(md5(token), $j, 1) >= '8' THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END")
      .mkString(" ||\n|    ")
    s"""SELECT doc_id,
       |    $bits AS simhash16,
       |  COUNT(*) AS n_tokens
       |FROM (SELECT doc_id, ${t.unnest.toUpperCase}(${t.split}(text, ' ')) AS token FROM ${t("documents")})
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs (brute force, cos ≥ 0.4) —
    * the exact baseline that `llm_ann_lsh` approximates at scale. */
  def llmDedupEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = LlmVector.normed(spark, sfDir)
    // The threshold goes INTO the join condition AFTER the cheap id
    // predicate: written as a post-join filter, Catalyst pushes it into
    // the BNLJ condition FIRST, evaluating the cosine for all n² ordered
    // pairs instead of short-circuiting half of them on vec_id.
    val cos = LlmVector.cosine("a.embedding", "a.nrm", "b.embedding", "b.nrm")
    // broadcast(full table) is BASELINE-ONLY: this key is the declared
    // exact brute-force oracle for the bucketed paths — at corpus scale
    // the table doesn't fit a broadcast, and the scale path is the ANN
    // family (llm_ann_lsh / llm_ann_ivf / llm_ann_ivf_kmeans).
    e.as("a").join(broadcast(e.as("b")),
        col("a.vec_id") < col("b.vec_id") && cos >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cos.as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  val llmDedupEmbedOracle: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ROUND(${LlmVector.cosineSql("a.embedding", "b.embedding")}, 6) AS cos_sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ROUND(${LlmVector.cosineSql("a.embedding", "b.embedding")}, 6) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  val keys: Seq[Key] = Seq(
    llmDedupExact,
    Key("llm_dedup_bloom", llmDedupBloom, llmDedupBloomOracle),
    Key("llm_dedup_near", llmDedupNear, llmDedupNearOracle),
    Key("llm_dedup_near_prefix", llmDedupNearPrefix, llmDedupNearPrefixOracle),
    Key("llm_dedup_minhash", llmDedupMinhash, llmDedupMinhashOracle),
    Key("llm_minhash_jaccard", llmMinhashJaccard, llmMinhashJaccardOracle),
    Key("llm_dedup_clusters", llmDedupClusters, llmDedupClustersOracle),
    Key("llm_dedup_canonical", llmDedupCanonical, llmDedupCanonicalOracle),
    llmDedupSimhash,
    Key("llm_dedup_embed", llmDedupEmbed, llmDedupEmbedOracle))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
