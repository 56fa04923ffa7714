package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

/** A kill at every storage step of the snapshot and store workflow. One
  * recorded run of create → createIncremental → export → clone →
  * minorCompact → compact → stage → bulkLoad → mergeRegions →
  * applyShipped counts the `KvFiles.beforeStep` steps of each operation
  * and the cells each of its stores reads before and after it; then, for
  * every step k, the workflow state before k's operation is copied to
  * fresh roots, the operation is killed exactly at step k, and the spec
  * checks what a reader sees and that a re-run of the killed operation
  * succeeds, reads what the recorded run read and leaves no temp name
  * behind. */
class KvCrashSpec extends SparkSpec {

  private def frame(rows: Seq[(Long, String, String)], slices: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, slices).toDF("rowkey", "qualifier", "value")
  }

  /** Two files per snapshot: parallelize's positional slices fix which
    * cells land in which file, so the `a` file is byte-identical in both
    * versions (shared by the incremental) and the `b` file changes. */
  private def version(v: String): DataFrame =
    frame((1L to 4L).map(r => (r, "a", s"a$r")) ++ (1L to 4L).map(r => (r, "b", s"$v$r")), 2)

  private case class Roots(dir: Path) {
    private def at(n: String): String = dir.resolve(n).toString
    val src: String = at("src")
    val dst: String = at("dst")
    val store: String = at("store")
    val staging: String = at("staging")
    val region: String = at("region")
    val merged: String = at("merged")
    val repl: String = at("repl")
    val replica: String = at("replica")
  }

  /** An operation, and the stores whose readers it may change. */
  private case class Op(name: String, stores: Roots => Seq[String], run: Roots => Unit)

  private val ops: Seq[Op] = Seq(
    Op("create", _ => Nil, r => KvSnapshots.create(version("v1"), r.src, "base")),
    Op("createIncremental", _ => Nil,
      r => KvSnapshots.createIncremental(version("v2"), r.src, "inc", "base")),
    Op("export", _ => Nil, r => { KvSnapshots.export(spark, r.src, r.dst, "inc"); () }),
    Op("clone", r => Seq(r.store), r => KvSnapshots.clone(r.src, "inc", r.store)),
    Op("minorCompact", r => Seq(r.store),
      r => { KvCompaction.minorCompact(spark, r.store, mergeSmallest = 2); () }),
    Op("compact", r => Seq(r.store),
      r => { KvCompaction.compact(spark, r.store, targetFiles = 1); () }),
    // inputs of the operations below: a region-aligned staged file,
    // the region above the store's keys, and a one-batch WAL queue
    Op("stage", r => Seq(r.staging, r.region), { r =>
      frame((5L to 8L).map(k => (k, "a", s"s$k")), 1)
        .write.format("graft-kv").option("path", r.staging).mode("append").save()
      frame((9L to 12L).map(k => (k, "a", s"g$k")), 1)
        .write.format("graft-kv").option("path", r.region).mode("append").save()
      val wal = frame((1L to 4L).map(k => (k, "a", s"w$k")), 1).selectExpr(
        "rowkey", "qualifier", "rowkey * 2 AS seq",
        "IF(rowkey = 3, 'delete', 'put') AS op", "value")
      KvReplication.ship(spark, wal, r.repl, batches = 1)
      ()
    }),
    Op("bulkLoad", r => Seq(r.store, r.staging),
      r => { KvCompaction.bulkLoad(r.staging, r.store); () }),
    Op("mergeRegions", r => Seq(r.store, r.region, r.merged),
      r => { KvCompaction.mergeRegions(r.store, r.region, r.merged); () }),
    Op("applyShipped", r => Seq(r.replica),
      r => { KvReplication.applyShipped(spark, r.repl, r.replica); () }))

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
    // record: the state before each operation, its step count, and the
    // cells its stores read before and after it
    val rec = Roots(Files.createDirectories(base.resolve("rec")))
    val recorded = ops.indices.map { j =>
      copyTree(rec.dir, base.resolve(s"before$j"))
      val before = ops(j).stores(rec).map(cells)
      val n = new AtomicInteger
      withHook(s => if (s.contains(rec.dir.toString)) n.incrementAndGet())(ops(j).run(rec))
      (n.get, before.zip(ops(j).stores(rec).map(cells)))
    }
    val counts = recorded.map(_._1)
    assert(counts.forall(_ > 0), s"an operation took no storage step: $counts")
    info(s"storage steps per operation: ${ops.map(_.name).zip(counts).mkString(", ")}")

    for (j <- ops.indices; k <- 0 until counts(j)) {
      val Op(op, stores, run) = ops(j)
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
      // every store the operation touches reads exactly its pre- or its
      // post-operation cells: none lost, none duplicated
      stores(r).zip(recorded(j)._2).foreach { case (store, (pre, post)) =>
        val now = cells(store)
        assert(now == pre || now == post, s"$what: $store reads $now")
      }

      run(r)
      val temps = walk(r.dir).filter(p => KvFiles.isTemp(p.getFileName.toString))
      assert(temps.isEmpty, s"$what: the re-run left $temps")
      // the re-run ends where the recorded run did (appending the
      // inputs is not idempotent, so `stage` is left out)
      if (op != "stage") stores(r).zip(recorded(j)._2).foreach { case (store, (_, post)) =>
        assert(cells(store) == post, s"$what: after the re-run $store reads ${cells(store)}")
      }
      if (op == "mergeRegions")
        assert(!Files.exists(Paths.get(r.store)) && !Files.exists(Paths.get(r.region)),
          s"$what: the re-run left a parent region")
    }
    graft.util.Scratch.deleteTree(base.toString)
  }
}
