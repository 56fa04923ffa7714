package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

/** A kill at every storage step of the snapshot workflow. One recorded
  * run of create → createIncremental → export → clone → compact counts
  * the `KvFiles.beforeStep` steps of each operation; then, for every
  * step k, the workflow state before k's operation is copied to fresh
  * roots, the operation is killed exactly at step k, and the spec checks
  * what a reader sees and that a re-run of the killed operation
  * succeeds and leaves no temp name behind. */
class KvCrashSpec extends SparkSpec {

  /** Two files per snapshot: parallelize's positional slices fix which
    * cells land in which file, so the `a` file is byte-identical in both
    * versions (shared by the incremental) and the `b` file changes. */
  private def version(v: String): DataFrame = {
    import spark.implicits._
    val rows = (1L to 4L).map(r => (r, "a", s"a$r")) ++ (1L to 4L).map(r => (r, "b", s"$v$r"))
    spark.sparkContext.parallelize(rows, 2).toDF("rowkey", "qualifier", "value")
  }

  private case class Roots(dir: Path) {
    val src: String = dir.resolve("src").toString
    val dst: String = dir.resolve("dst").toString
    val store: String = dir.resolve("store").toString
  }

  private val ops: Seq[(String, Roots => Unit)] = Seq(
    "create" -> (r => KvSnapshots.create(version("v1"), r.src, "base")),
    "createIncremental" -> (r => KvSnapshots.createIncremental(version("v2"), r.src, "inc", "base")),
    "export" -> (r => { KvSnapshots.export(spark, r.src, r.dst, "inc"); () }),
    "clone" -> (r => KvSnapshots.clone(r.src, "inc", r.store)),
    "compact" -> (r => { KvCompaction.compact(spark, r.store, targetFiles = 1); () }))

  private def withHook[A](hook: String => Unit)(body: => A): A = {
    KvFiles.beforeStep = hook
    try body finally KvFiles.beforeStep = _ => ()
  }

  private def walk(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))

  private def cells(store: String): Seq[Row] =
    spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier", "value").collect().toSeq

  test("a kill at any storage step leaves committed-or-invisible snapshots and a clean re-run") {
    val base = Files.createTempDirectory("kv_crash_sweep")
    val incCells = version("v2").orderBy("rowkey", "qualifier", "value").collect().toSeq
    // record: the state before each operation, and its step count
    val rec = Roots(Files.createDirectories(base.resolve("rec")))
    val counts = ops.indices.map { j =>
      copyTree(rec.dir, base.resolve(s"before$j"))
      val n = new AtomicInteger
      withHook(s => if (s.contains(rec.dir.toString)) n.incrementAndGet())(ops(j)._2(rec))
      n.get
    }
    assert(counts.forall(_ > 0), s"an operation took no storage step: $counts")
    info(s"storage steps per operation: ${ops.map(_._1).zip(counts).mkString(", ")}")

    for (j <- ops.indices; k <- 0 until counts(j)) {
      val (op, run) = ops(j)
      val what = s"$op killed at step $k of ${counts(j)}"
      val r = Roots(base.resolve(s"k$j-$k"))
      copyTree(base.resolve(s"before$j"), r.dir)
      val committedBefore = Seq(r.src, r.dst).map(KvSnapshots.list)
      val seen = new AtomicInteger
      val passed = new java.util.concurrent.ConcurrentLinkedQueue[String]
      intercept[Exception] {
        withHook { s =>
          if (s.contains(r.dir.toString)) {
            if (seen.getAndIncrement() == k) throw new RuntimeException(s"killed before $s")
            passed.add(s)
          }
        }(run(r))
      }
      assert(seen.get > k, s"$what: the kill never fired")

      // a snapshot is listed iff its manifest publish completed, and
      // every listed snapshot verifies
      Seq(r.src, r.dst).zip(committedBefore).foreach { case (root, before) =>
        val published = passed.asScala.collect {
          case s if s.startsWith(s"commit $root/") && s.endsWith("/MANIFEST.json") =>
            Paths.get(s.stripPrefix("commit ")).getParent.getFileName.toString
        }
        assert(KvSnapshots.list(root).toSet == before.toSet ++ published, what)
        KvSnapshots.list(root).foreach(KvSnapshots.verify(spark, root, _))
      }
      // the live store reads exactly its pre- or post-operation cells
      // (compaction is lossless, so both are the incremental's cells)
      if (op == "clone")
        assert(!Files.exists(Paths.get(r.store)) || cells(r.store) == incCells, what)
      if (op == "compact") assert(cells(r.store) == incCells, what)

      run(r)
      val temps = walk(r.dir).filter(p => KvFiles.isTemp(p.getFileName.toString))
      assert(temps.isEmpty, s"$what: the re-run left $temps")
    }
    graft.util.Scratch.deleteTree(base.toString)
  }

  test("a process crash between install's two moves is undone by the next compact or clone") {
    val r = Roots(Files.createTempDirectory("kv_crash_aside"))
    KvSnapshots.create(version("v1"), r.src, "base")
    KvSnapshots.clone(r.src, "base", r.store)
    val expected = cells(r.store)
    // the state a kill between the moves leaves: live moved to its
    // install sibling, nothing at the live path
    def crashAside(live: String): Unit = {
      val p = Paths.get(live)
      Files.move(p, p.resolveSibling(s".tmp-${p.getFileName}.old"))
    }
    crashAside(r.store)
    KvCompaction.compact(spark, r.store, targetFiles = 1)
    assert(cells(r.store) == expected, "compaction must restore the store, then compact it")
    // a clone whose pre-created empty destination was moved aside
    val dest = r.dir.resolve("clone")
    Files.createDirectories(dest)
    crashAside(dest.toString)
    KvSnapshots.clone(r.src, "base", dest.toString)
    assert(cells(dest.toString) == expected)
    val temps = walk(r.dir).filter(p => KvFiles.isTemp(p.getFileName.toString))
    assert(temps.isEmpty, s"recovery left $temps")
    graft.util.Scratch.deleteTree(r.dir.toString)
  }
}
