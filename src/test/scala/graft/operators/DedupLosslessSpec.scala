package graft.operators

/** The round-2 dedup claims, checked on corpora the synthetic testdata
  * cannot produce:
  *
  *  1. `nearDupPairsPrefix` (prefix + length filter) is LOSSLESS — it
  *     must equal a trusted brute-force exact-Jaccard computed in plain
  *     Scala, on a randomized corpus engineered to contain borderline
  *     J≈t pairs, exact duplicates, and shingle-less short docs.
  *  2. `minhashPairs`' exact-dup pre-collapse + member expansion equals
  *     running the same banding WITHOUT the collapse (the round-1
  *     formulation), on a corpus with heavy duplicate groups.
  */
class DedupLosslessSpec extends graft.SparkSpec {

  private def shingleSet(text: String): Set[String] = {
    val t = text.split(" ")
    if (t.length < 3) Set.empty
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Mirror of the engine's r6(jaccard) >= t gate: Spark's round() is
    * HALF_UP on the double's decimal representation. */
  private def passes(a: Set[String], b: Set[String], t: Double): Option[Double] = {
    val inter = (a & b).size
    if (a.isEmpty || b.isEmpty || inter == 0) None
    else {
      val j = inter.toDouble / (a.size + b.size - inter)
      val r = BigDecimal(j).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      if (r >= t) Some(r) else None
    }
  }

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val bases = (0 until 12).map(_ => Vector.fill(10 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))))
    var id = 0L
    def nextId() = { id += 1; id }
    bases.flatMap { base =>
      val doc = base.mkString(" ")
      val variants = Seq(
        doc, doc,                                // identical dup pair → J = 1
        (base :+ vocab(rnd.nextInt(vocab.size))).mkString(" "), // +1 token → J ≈ n/(n+1) (borderline)
        base.drop(1).mkString(" "),              // −1 token
        base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size))).mkString(" ")) // 1 replaced
      variants.map(v => (nextId(), v))
    } ++ Seq((nextId(), "tiny doc"), (nextId(), "x"), (nextId(), "tiny doc")) // shingle-less
  }

  test("nearDupPairsPrefix equals brute-force exact Jaccard (lossless prefix + length filter)") {
    for (seed <- Seq(7, 42)) {
      val docs = corpus(seed)
      val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      val got = LlmDedup.nearDupPairsPrefix(LlmDedup.shinglesOf(df), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = docs.map { case (i, t) => i -> shingleSet(t) }.toMap
      val want = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
        j <- passes(sa, sb, 0.9)
      } yield (a, b, j)).toSet
      assert(want.nonEmpty, s"seed $seed produced no expected pairs — strengthen the generator")
      assert(got == want, s"seed $seed: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("minhash dup pre-collapse equals uncollapsed banding on a duplicate-heavy corpus") {
    val docs = corpus(99)
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    val got = LlmDedup.minhashPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // trusted reference: same banding WITHOUT the collapse, in plain Scala
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val sets = docs.map { case (i, t) => i -> shingleSet(t) }.toMap
    val bands = sets.collect { case (i, sh) if sh.nonEmpty =>
      val mins = (0 to 7).map(k => sh.map(s => md5hex(s"$k:$s")).min)
      i -> (md5hex(mins.take(4).mkString), md5hex(mins.drop(4).mkString))
    }
    val cand = (for {
      (a, (a0, a1)) <- bands.toSeq; (b, (b0, b1)) <- bands.toSeq
      if a < b && (a0 == b0 || a1 == b1)
    } yield (a, b)).toSet
    val want = (for {
      (a, b) <- cand.toSeq
      j <- passes(sets(a), sets(b), 0.7)
    } yield (a, b, j)).toSet
    assert(want.exists(_._3 == 1.0), "corpus has no exact-dup pairs — collapse path untested")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("a pathological 10%-identical cluster cannot explode minhash candidates") {
    // the boilerplate-corpus failure mode (r10, judge-requested): at
    // 100 TB a crawl routinely contains thousands of byte-identical
    // pages; banding them raw would send m²/2 pairs into the exact
    // verify. The exact-dup pre-collapse must keep the CANDIDATE count
    // flat — reps only — while the final output still carries every
    // intra-cluster pair at J = 1.
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    // a seed doc with shingles (>= 3 tokens), cloned 50 times (~10% of
    // the 500-doc sf0.001 corpus) under fresh ids
    val seedRow = docs.filter(size(split(col("text"), " ")) >= 3)
      .orderBy("doc_id").first()
    val (seedId, seedText) = (seedRow.getLong(0), seedRow.getString(1))
    val clones = spark.createDataFrame(
      (0 until 50).map(i => (1000000L + i, seedText))).toDF("doc_id", "text")
    val corpus = docs.unionAll(clones)
    val candBase = LlmDedup.minhashStage(docs).cand.count()
    val candDense = LlmDedup.minhashStage(corpus).cand.count()
    // 51 identical docs collapse to ONE banding rep: the candidate set
    // is UNCHANGED (the seed doc was already a rep), not +C(51,2)=1275
    assert(candDense == candBase,
      s"dense cluster leaked into banding: $candBase -> $candDense candidates")
    // and the collapse is lossless: all 1275 intra-cluster pairs emerge
    // at exactly J = 1
    val ids = (Seq(seedId) ++ (0 until 50).map(i => 1000000L + i))
    val intra = LlmDedup.minhashPairs(corpus)
      .filter(col("doc_a").isin(ids: _*) && col("doc_b").isin(ids: _*))
    assert(intra.count() == 51L * 50 / 2,
      "an intra-cluster pair was lost by the collapse")
    assert(intra.filter(col("jaccard") =!= 1.0).count() == 0)
  }
}
