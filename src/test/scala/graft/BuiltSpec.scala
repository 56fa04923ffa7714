package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Built

/** The process-level build store's contract: one build per key (also
  * under concurrent first calls), failed builds not cached, and Bench's
  * pass-2 honesty hook — retaining the pre-pass-1 keys makes pass 2
  * repeat pass 1's builds while artifacts an earlier key built stay. */
class BuiltSpec extends AnyFunSuite {

  test("retainOnly drops post-snapshot entries, keeps pre-existing ones") {
    val builds = new AtomicInteger
    Built("spec.warm")(builds.incrementAndGet())
    val snap = Built.keys
    assert(snap("spec.warm"))

    // run 1 adds an entry (a cold key built an index)
    Built("spec.cold")(builds.incrementAndGet())
    Built.retainOnly(snap)
    assert(!Built.keys("spec.cold") && Built.keys("spec.warm"),
      "run-1 additions must be dropped, prior entries kept")

    // run 2 rebuilds what run 1 built and rides what existed before, so
    // the post-rerun state equals the no-rerun state
    assert(Built("spec.cold")(builds.incrementAndGet()) == 3)
    assert(Built("spec.warm")(builds.incrementAndGet()) == 1)
    assert(Built.keys -- snap == Set("spec.cold") && builds.get == 3)
  }

  test("4 concurrent callers of one key run its build exactly once") {
    val builds = new AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val results = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          Built("spec.concurrent") { Thread.sleep(200); builds.incrementAndGet() }
        }
      }))
      start.countDown()
      assert(results.map(_.get()).toSet == Set(1) && builds.get == 1)
    } finally pool.shutdown()
  }

  test("a throwing build is retried on the next call") {
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      Built("spec.flaky") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(!Built.keys("spec.flaky"), "a failed build must not be cached")
    assert(Built("spec.flaky")(builds.incrementAndGet()) == 2)
  }

  test("a dir entry dropped by retainOnly is rebuilt on its next call") {
    val writes = new AtomicInteger
    def write(d: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "n"), s"${writes.incrementAndGet()}")
    }
    def read(d: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(d, "n"))
    val snap = Built.keys
    val d1 = Built.dir("spec.dir")(write)
    assert(Built.dir("spec.dir")(write) == d1 && writes.get == 1)
    Built.retainOnly(snap)
    val d2 = Built.dir("spec.dir")(write)
    assert(writes.get == 2 && read(d2) == "2")
  }
}

/** Bench's two assumptions about built ANN state, on the real keys:
  * nothing built lives in the block manager (so the per-key cleanup may
  * unpersist everything), and `retainOnly` makes pass 2 repeat its
  * builds while a key riding an earlier key's index stays warm. */
class BuiltAnnSpec extends SparkSpec {
  private lazy val golden: Map[String, String] =
    java.nio.file.Files.readString(java.nio.file.Paths.get(GoldenDump.goldenPath))
      .split("\n").filter(_.contains("\": \"")).map { l =>
        val parts = l.split("\": \"")
        parts(0).replaceAll("[\"{},]", "").trim -> parts(1).replaceAll("[\",]", "").trim
      }.toMap

  test("ANN indexes survive Bench's cleanup: searches match goldens, nothing rebuilt") {
    // the IVF index, the kNN graph and the raw and residual PQ indexes
    // (codebook and codes) are all built before the cleanup
    Seq("llm_ann_ivf_kmeans", "llm_knn_graph", "llm_ann_pq", "llm_ann_ivfpq_res")
      .foreach(k => run(k).collect())
    val built = Built.keys
    Bench.cleanup(spark)
    Seq("llm_ann_ivfpq", "llm_ann_beam", "llm_ann_ivfpq_res_recall").foreach { k =>
      assert(GoldenDump.checksum(run(k)) == golden(k), s"$k does not match its golden checksum")
    }
    assert(Built.keys == built, "a search rebuilt an index after the cleanup")
  }

  /** Runs `f` on a fresh sfDir holding the suite's embeddings: a cold
    * key for every ANN index. */
  private def withFreshSf(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("builtspec_sf")
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "embeddings.parquet"),
        dir.resolve("embeddings.parquet"))
      f(dir.toString)
    } finally graft.util.Scratch.deleteTree(dir.toString)
  }

  test("index builds leave no RDD persisted") {
    // a pinned block would make Bench.cleanup run System.gc() inside the
    // next key's timing
    withFreshSf { fresh =>
      Bench.cleanup(spark)
      operators.LlmVector.IvfIndex(spark, fresh)
      operators.LlmVector.PqIndex.raw(spark, fresh)
      operators.LlmVector.PqIndex.residual(spark, fresh)
      // the keys whose label centroids are one kernel pass
      Seq("llm_ann_ivf", "llm_knn_centroid", "llm_centroid_drift")
        .foreach(k => assert(SparkEntry.queries(k)(spark, fresh).count() > 0, k))
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }

  test("retainOnly: a key that built an index rebuilds it, a rider stays warm") {
    // a fresh sfDir holding the same embeddings is a cold index key
    withFreshSf { fresh =>
      def index = operators.LlmVector.IvfIndex(spark, fresh)
      def checksum(key: String) = GoldenDump.checksum(SparkEntry.queries(key)(spark, fresh))

      // run 1 of the key that builds the index, then Bench's restore
      val beforeRun1 = Built.keys
      val r1 = checksum("llm_ann_ivf_kmeans")
      val added = Built.keys -- beforeRun1
      assert(added.exists(_.contains(fresh)), "run 1 built no index for the cold sfDir")
      val index1 = index
      Built.retainOnly(beforeRun1)
      assert(Built.keys == beforeRun1)
      // run 2 repeats run 1's builds
      assert(checksum("llm_ann_ivf_kmeans") == r1)
      assert(Built.keys -- beforeRun1 == added, "run 2 did not repeat run 1's builds")
      val index2 = index
      assert(!(index2 eq index1), "run 2 served run 1's index instead of rebuilding it")

      // a key riding the built index builds nothing and keeps it warm
      val beforeRider = Built.keys
      checksum("llm_ann_ivf_probe2")
      assert(Built.keys == beforeRider, "the rider built something")
      Built.retainOnly(beforeRider)
      assert(index eq index2, "the rider's index went cold")
    }
  }
}
