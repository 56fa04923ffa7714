package perfbench

/** The LLM data path: the curation chain, then the IVF and PQ index
  * builds and the IVFADC top-k search with its recall check, the
  * shuffle-heavy `LlmDedup`/`LlmText`/`LlmVector` code. The program
  * holds trained ANN models for the life of the JVM, so a run does
  * exactly one round: every run pays the index builds, as a user's
  * first job does. The seed sets the chain's key order.
  *
  * DataGen floors `documents` and `embeddings` at 500 rows, so these
  * tables are the same at sf0.001 and sf0.01. At that size the keys are
  * still fixed-cost bound; a data-bound input (sf1 takes minutes) does
  * not fit the run budget. */
object LlmPipeline extends Workload {
  val name = "llm_pipeline"

  val chain: Seq[String] = Seq("llm_curation", "llm_dedup_minhash", "llm_entropy_filter",
    "llm_decontaminate", "llm_pack_chunks")
  /** The keys whose first call trains the IVF coarse quantizer and the
    * PQ codebooks. */
  val builds: Seq[String] = Seq("llm_ann_ivf_kmeans", "llm_ann_pq")
  /** IVFADC top-k over 30 query vectors, served from the built index. */
  val search = "llm_ann_ivfpq"
  val SearchQueries = 30
  val recall = "llm_ann_ivfpq_recall"
  val warmKey = "llm_token_count"

  /** The first search may still train what the builds left; the rate
    * comes from the second. */
  val SearchRepeats = 2

  override val maxRounds = 1

  val scale: Option[String] = Some("sf0.001")

  private val sf = scale.get

  /** Documents fed to the curation chain, counted before the round. */
  private var docs = 0L

  def warmup(ctx: Ctx): Unit = Keys.execute(ctx, warmKey, ctx.dataDir.resolve(sf).toString)

  override def prepare(ctx: Ctx): Unit =
    docs = ctx.spark.read.parquet(ctx.dataDir.resolve(sf).resolve("documents.parquet").toString)
      .count()

  def round(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    val ok = new scala.util.Random(ctx.seed).shuffle(chain).map(k => Keys.timed(ctx, k, sf))
      .forall(identity)
    if (ok) ctx.sample("chain_s", (System.nanoTime() - t0) / 1e9)
    builds.foreach(k => Keys.timed(ctx, k, sf))
    (1 to SearchRepeats).foreach(_ => Keys.timed(ctx, search, sf))
    Keys.timed(ctx, recall, sf)
  }

  private def searchSeconds(ctx: Ctx): Seq[Double] = ctx.opSeconds(search).drop(1)

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    def med(key: String) = Stats.median(ctx.opSeconds(key))
    Map(
      "LlmText.curation.s" -> med("llm_curation"),
      "LlmDedup.minhash.s" -> med("llm_dedup_minhash"),
      "LlmText.entropy_filter.s" -> med("llm_entropy_filter"),
      "LlmText.decontaminate.s" -> med("llm_decontaminate"),
      "LlmText.pack.s" -> med("llm_pack_chunks"),
      "LlmVector.ivf_build.s" -> ctx.opSeconds("llm_ann_ivf_kmeans").head,
      "LlmVector.pq_build.s" -> ctx.opSeconds("llm_ann_pq").head,
      "LlmVector.ivfpq_search.s" -> Stats.median(searchSeconds(ctx)),
      "curate_docs_s" -> docs / Stats.median(ctx.samples("chain_s").toSeq),
      "ann_build_s" -> builds.map(ctx.opSeconds(_).head).sum,
      "ann_search_qps" -> SearchQueries / Stats.median(searchSeconds(ctx)))
  }
}
