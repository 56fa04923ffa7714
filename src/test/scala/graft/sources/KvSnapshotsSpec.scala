package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lifecycle invariants of the graft-kv named-snapshot manager that the
  * row-shaped `kv_snapshot_lifecycle` oracle can't express: immutability,
  * manifest-as-commit-mark, tamper detection, and delete semantics.
  */
class KvSnapshotsSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("kv_snapshots_spec").toString

  private def cells =
    graft.operators.Scans.scanKvModel(spark, sf).filter(col("rowkey") <= 5)

  test("create → restore roundtrips the cells exactly") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    val restored = KvSnapshots.restore(spark, root, "s1")
    assert(restored.exceptAll(cells).count() == 0)
    assert(cells.exceptAll(restored).count() == 0)
  }

  test("snapshots are immutable: re-creating a name fails") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    intercept[IllegalArgumentException] { KvSnapshots.create(cells, root, "s1") }
  }

  test("an uncommitted snapshot (no manifest) is invisible and unrestorable") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    Files.delete(Paths.get(root, "s1", "MANIFEST.json")) // simulate a crash mid-create
    assert(KvSnapshots.list(root).isEmpty)
    intercept[IllegalArgumentException] { KvSnapshots.restore(spark, root, "s1") }
  }

  test("restore detects a tampered data file via the manifest checksum") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    val f = KvFormat.dataFiles(Paths.get(root, "s1", "data").toString).head
    Files.write(f, "9\tq\tv\n".getBytes, StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException] { KvSnapshots.restore(spark, root, "s1") }
    assert(e.getMessage.contains("bytes") || e.getMessage.contains("checksum"))
  }

  test("verify fails a data dir whose index disagrees with the manifest, not an unindexed file") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    val data = Paths.get(root, "s1", "data").toString
    val m = KvMeta.files(data).head
    // the index a restore would read names other bytes than the manifest
    KvMeta.commit(data, Seq(m.copy(md5 = "0" * 32)))
    val e = intercept[IllegalArgumentException] { KvSnapshots.verify(spark, root, "s1") }
    assert(e.getMessage.contains("disagrees") && e.getMessage.contains(m.file))
    KvMeta.commit(data, Seq(m))
    KvSnapshots.verify(spark, root, "s1")
    // an unindexed file is not snapshot content: no reader opens it
    Files.writeString(Paths.get(data, "zz-stray.kv"), "1\tq\tv\n")
    KvSnapshots.verify(spark, root, "s1")
  }

  test("create's manifest comes from the write-time commit messages, not a driver re-read") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    val dataDir = Paths.get(root, "s1", "data").toString
    val index = KvMeta.read(dataDir)
    val entries = KvSnapshots.parseManifest(root, "s1")
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val m = index(e.file) // every manifest entry IS a committed-stats entry
      assert((e.bytes, e.md5, e.cells) == (m.bytes, m.md5, m.cells))
      // and the stats are truthful about the file on disk
      assert(Files.size(Paths.get(dataDir, e.file)) == e.bytes)
      assert(KvFiles.md5Hex(Paths.get(dataDir, e.file)) == e.md5)
    }
  }

  test("a snapshot of an empty frame commits and restores as an empty frame") {
    val root = freshRoot()
    KvSnapshots.create(cells.filter(col("rowkey") < 0), root, "empty")
    assert(KvSnapshots.list(root) == Seq("empty"))
    assert(KvSnapshots.parseManifest(root, "empty").isEmpty)
    assert(KvSnapshots.restore(spark, root, "empty").count() == 0)
  }

  test("incremental snapshot hard-links unchanged files and restores both versions") {
    val root = freshRoot()
    // explicit partition count: AQE must not re-coalesce differently per run
    def layout(df: org.apache.spark.sql.DataFrame) =
      df.repartition(8, col("qualifier")).sortWithinPartitions("rowkey", "qualifier")
    KvSnapshots.create(layout(cells), root, "v1")
    val modified = cells.withColumn("value",
      when(col("qualifier") === "acctbal", concat(col("value"), lit("X")))
        .otherwise(col("value")))
    KvSnapshots.createIncremental(layout(modified), root, "v2", "v1")
    val shared = KvSnapshots.sharedFiles(root, "v2")
    assert(shared.nonEmpty, "unchanged qualifier files must be shared with v1")
    assert(shared.size < KvSnapshots.parseManifest(root, "v2").size,
      "the modified acctbal file must NOT be shared")
    // shared entries are hard links to v1's file (no data copy)
    val v1ByContent = KvSnapshots.parseManifest(root, "v1").map(e => e.md5 -> e.file).toMap
    shared.foreach { f =>
      val mine = Paths.get(root, "v2", "data", f)
      val md5 = KvFiles.md5Hex(mine)
      val base = Paths.get(root, "v1", "data", v1ByContent(md5))
      assert(Files.isSameFile(mine, base), s"$f must be a hard link to v1's file")
    }
    // both restores verify green and carry the right values
    val r1 = KvSnapshots.restore(spark, root, "v1")
    val r2 = KvSnapshots.restore(spark, root, "v2")
    assert(r1.exceptAll(cells).count() == 0 && cells.exceptAll(r1).count() == 0)
    assert(r2.exceptAll(modified).count() == 0 && modified.exceptAll(r2).count() == 0)
    // deleting v2 leaves v1 intact (links, not moves)
    KvSnapshots.delete(root, "v2")
    assert(KvSnapshots.restore(spark, root, "v1").count() == cells.count())
  }

  test("incremental against a missing base fails loudly") {
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      KvSnapshots.createIncremental(cells, root, "v2", "nope")
    }
  }

  test("export copies a snapshot to a second root; restore there survives source delete") {
    val src = freshRoot()
    val dest = freshRoot()
    KvSnapshots.create(cells, src, "s1")
    KvSnapshots.export(spark, src, dest, "s1")
    KvSnapshots.delete(src, "s1")
    assert(KvSnapshots.list(src).isEmpty)
    assert(KvSnapshots.list(dest) == Seq("s1"))
    val restored = KvSnapshots.restore(spark, dest, "s1")
    assert(restored.exceptAll(cells).count() == 0)
    assert(cells.exceptAll(restored).count() == 0)
    // the stats sidecar rides along: destination scans keep file pruning
    assert(KvMeta.read(Paths.get(dest, "s1", "data").toString).nonEmpty)
  }

  test("a corrupted copy leaves the export destination uncommitted") {
    val src = freshRoot()
    val dest = freshRoot()
    KvSnapshots.create(cells, src, "s1")
    // corrupt a source file AFTER its manifest was committed: the
    // in-flight digest at the destination must mismatch the manifest,
    // the export must throw, and — the two-phase guarantee — the
    // destination must stay invisible (no manifest) and unrestorable,
    // exactly as if the copy had crashed halfway
    val f = KvFormat.dataFiles(Paths.get(src, "s1", "data").toString).head
    Files.write(f, "9\tq\tv\n".getBytes, StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException] { KvSnapshots.export(spark, src, dest, "s1") }
    assert(e.getMessage.contains("checksum"))
    assert(KvSnapshots.list(dest).isEmpty)
    intercept[IllegalArgumentException] { KvSnapshots.restore(spark, dest, "s1") }
  }

  test("export retries after a crash leftover at the destination") {
    val src = freshRoot()
    val dest = freshRoot()
    KvSnapshots.create(cells, src, "s1")
    // a crashed export leaves an uncommitted (manifest-less) dest dir;
    // a retry must clear it and proceed, not be bricked forever on
    // "already exists" for a snapshot list() can't even see
    Files.createDirectories(Paths.get(dest, "s1", "data"))
    Files.writeString(Paths.get(dest, "s1", "data", "part-junk.kv"), "1\tq\tpartial\n")
    KvSnapshots.export(spark, src, dest, "s1")
    assert(KvSnapshots.list(dest) == Seq("s1"))
    val r = KvSnapshots.restore(spark, dest, "s1") // junk gone: no unmanifested files
    assert(r.exceptAll(cells).count() == 0 && cells.exceptAll(r).count() == 0)
    // a COMMITTED destination snapshot is still immutable
    intercept[IllegalArgumentException] { KvSnapshots.export(spark, src, dest, "s1") }
  }

  test("a re-export after a partial copy skips verified files and copies only the rest") {
    val src = freshRoot()
    val dest = freshRoot()
    def layout(df: org.apache.spark.sql.DataFrame) =
      df.repartition(6, col("qualifier")).sortWithinPartitions("rowkey", "qualifier")
    KvSnapshots.create(layout(cells), src, "s1")
    val full = KvSnapshots.export(spark, src, dest, "s1")
    val nFiles = KvSnapshots.parseManifest(src, "s1").size
    assert(full == KvSnapshots.ExportStats(copied = nFiles, skipped = 0))
    // simulate a crash mid-copy: the manifest never landed and two of
    // the copied files are gone; one survivor is silently corrupted
    Files.delete(Paths.get(dest, "s1", "MANIFEST.json"))
    val destFiles = KvFormat.dataFiles(Paths.get(dest, "s1", "data").toString)
    Files.delete(destFiles(0))
    Files.delete(destFiles(1))
    Files.writeString(destFiles(2), "1\tq\tcorrupt\n")
    val resumed = KvSnapshots.export(spark, src, dest, "s1")
    // 2 missing + 1 corrupt re-copied; every untouched survivor skipped
    assert(resumed == KvSnapshots.ExportStats(copied = 3, skipped = nFiles - 3))
    val r = KvSnapshots.restore(spark, dest, "s1")
    assert(r.exceptAll(cells).count() == 0 && cells.exceptAll(r).count() == 0)
  }

  test("a copy task failing mid-export never exposes partial state; a retry resumes") {
    val src = freshRoot()
    val dest = freshRoot()
    def layout(df: org.apache.spark.sql.DataFrame) =
      df.repartition(6, col("rowkey"), col("qualifier"))
        .sortWithinPartitions("rowkey", "qualifier")
    KvSnapshots.create(layout(cells), src, "s1")
    val entries = KvSnapshots.parseManifest(src, "s1")
    assert(entries.size >= 3, "fixture must span several copy tasks")
    // fail the task copying ONE chosen file — other tasks may have
    // already PUBLISHED theirs, which is exactly the partial state the
    // manifest-as-commit-mark must keep invisible
    val victim = entries.map(_.file).sorted.last
    val victimPath = Paths.get(dest, "s1", "data", victim)
    KvFiles.beforeStep =
      s => if (s == s"write $victimPath") throw new RuntimeException(s"injected copy fault on $victim")
    try intercept[org.apache.spark.SparkException] {
      KvSnapshots.export(spark, src, dest, "s1")
    } finally KvFiles.beforeStep = _ => ()
    // partial output exists on disk, but the dest is uncommitted:
    // invisible to list, unrestorable — never half a snapshot
    assert(KvSnapshots.list(dest).isEmpty,
      "a failed export must not commit the destination manifest")
    intercept[IllegalArgumentException] { KvSnapshots.restore(spark, dest, "s1") }
    // the retry completes, re-copying only what the crash lost
    val resumed = KvSnapshots.export(spark, src, dest, "s1")
    assert(resumed.copied + resumed.skipped == entries.size)
    assert(resumed.copied >= 1, "the faulted file must be re-copied")
    val r = KvSnapshots.restore(spark, dest, "s1")
    assert(r.exceptAll(cells).count() == 0 && cells.exceptAll(r).count() == 0)
  }

  test("--overwrite recopies a tampered-but-same-size dest; --force recopies even verified bytes") {
    val src = freshRoot()
    val dest = freshRoot()
    KvSnapshots.create(cells, src, "s1")
    assert(SnapshotTool.run(spark, Seq("export", "--root", src, "--name", "s1",
      "--dest", dest)) == 0)
    val nFiles = KvSnapshots.parseManifest(src, "s1").size
    // tamper a dest file WITHOUT changing its size: the size probe alone
    // would pass; the digest probe must catch it and recopy under
    // --overwrite (no --force needed — corruption is not "verified")
    val f = KvFormat.dataFiles(Paths.get(dest, "s1", "data").toString).head
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(f, bytes)
    assert(SnapshotTool.run(spark, Seq("export", "--root", src, "--name", "s1",
      "--dest", dest, "--overwrite", "true")) == 0)
    KvSnapshots.verify(spark, dest, "s1") // the flipped bit is gone
    // --force: every file recopied even though every digest now verifies
    // (the distrust-the-destination escape the plain resume path lacks)
    KvSnapshots.uncommit(dest, "s1")
    val forced = KvSnapshots.export(spark, src, dest, "s1", force = true)
    assert(forced == KvSnapshots.ExportStats(copied = nFiles, skipped = 0),
      s"force must recopy all $nFiles files, got $forced")
    val r = KvSnapshots.restore(spark, dest, "s1")
    assert(r.exceptAll(cells).count() == 0 && cells.exceptAll(r).count() == 0)
    // --force alone must also replace a COMMITTED dest: it implies the
    // overwrite uncommit flow (its whole point is a distrusted committed
    // copy), not die on "already exists at export destination"
    assert(SnapshotTool.run(spark, Seq("export", "--root", src, "--name", "s1",
      "--dest", dest, "--force", "true")) == 0)
    KvSnapshots.verify(spark, dest, "s1")
  }

  test("the import CLI verb pulls a foreign snapshot end-to-end, with the export verb's failure matrix") {
    // the symmetric half of the export exit-code matrix (r11): import is
    // export with the roots reversed — FROM a foreign root INTO the
    // local store root — and must fail/refuse with the same codes
    val local = freshRoot() // the store being imported INTO
    val foreign = freshRoot() // another cluster's exported root
    KvSnapshots.create(cells, foreign, "s1")
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    // usage failures exit 2: missing --from, missing --name, bad --mappers
    assert(cli("import", "--root", local, "--name", "s1") == 2)
    assert(cli("import", "--root", local, "--from", foreign) == 2)
    assert(cli("import", "--root", local, "--name", "s1", "--from", foreign,
      "--mappers", "0") == 2)
    // operation failure exits 1: the foreign root has no such snapshot —
    // and the failed import must not commit a local manifest
    assert(cli("import", "--root", local, "--name", "nope", "--from", foreign) == 1)
    assert(KvSnapshots.list(local).isEmpty,
      "a failed import committed a local manifest")
    // happy path: the imported copy restores byte-equal to the source cells
    assert(cli("import", "--root", local, "--name", "s1", "--from", foreign) == 0)
    val r = KvSnapshots.restore(spark, local, "s1")
    assert(r.exceptAll(cells).count() == 0 && cells.exceptAll(r).count() == 0)
    // re-import of a committed local copy without --overwrite refuses (1),
    // exactly like a committed export destination
    assert(cli("import", "--root", local, "--name", "s1", "--from", foreign) == 1)
    // --overwrite re-imports in place; --force recopies even verified bytes
    assert(cli("import", "--root", local, "--name", "s1", "--from", foreign,
      "--overwrite", "true") == 0)
    assert(cli("import", "--root", local, "--name", "s1", "--from", foreign,
      "--force", "true") == 0)
    KvSnapshots.verify(spark, local, "s1")
    // self-import (same canonical root) must refuse — a typo'd --from
    // would otherwise uncommit the very source about to be read
    assert(cli("import", "--root", foreign, "--name", "s1", "--from", foreign,
      "--force", "true") == 1)
    KvSnapshots.verify(spark, foreign, "s1") // the source stayed committed
  }

  test("posix perms are recorded in the manifest and survive export + import") {
    import java.nio.file.attribute.PosixFilePermissions
    val src = freshRoot()
    val dest = freshRoot()
    val back = freshRoot()
    KvSnapshots.create(cells, src, "s1")
    // an operator locks a data file down after create; the export must
    // carry the CURRENT attrs, not recreate writer defaults
    val f = KvFormat.dataFiles(Paths.get(src, "s1", "data").toString).head
    Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwx------"))
    KvSnapshots.export(spark, src, dest, "s1")
    val destF = Paths.get(dest, "s1", "data", f.getFileName.toString)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(destF))
      == "rwx------", "export must preserve source file perms")
    // the dest manifest records them, so a further import (export from
    // dest) restores attrs even after the original source is gone
    val destEntry = KvSnapshots.parseManifest(dest, "s1")
      .find(_.file == f.getFileName.toString).get
    assert(destEntry.perms.contains("rwx------"))
    KvSnapshots.delete(src, "s1")
    KvSnapshots.export(spark, dest, back, "s1")
    val backF = Paths.get(back, "s1", "data", f.getFileName.toString)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(backF))
      == "rwx------", "import must restore recorded perms")
    // restore still verifies content cleanly under the tightened perms
    val r = KvSnapshots.restore(spark, back, "s1")
    assert(r.exceptAll(cells).count() == 0 && cells.exceptAll(r).count() == 0)
  }

  test("exporting an incremental snapshot materializes shared files as full copies") {
    val src = freshRoot()
    val dest = freshRoot()
    def layout(df: org.apache.spark.sql.DataFrame) =
      df.repartition(8, col("qualifier")).sortWithinPartitions("rowkey", "qualifier")
    KvSnapshots.create(layout(cells), src, "v1")
    val modified = cells.withColumn("value",
      when(col("qualifier") === "acctbal", concat(col("value"), lit("X")))
        .otherwise(col("value")))
    KvSnapshots.createIncremental(layout(modified), src, "v2", "v1")
    assert(KvSnapshots.sharedFiles(src, "v2").nonEmpty)
    KvSnapshots.export(spark, src, dest, "v2")
    // destination is self-contained: no shared_from provenance, no links
    assert(KvSnapshots.sharedFiles(dest, "v2").isEmpty)
    KvSnapshots.parseManifest(dest, "v2").foreach { e =>
      assert(!Files.isSameFile(
        Paths.get(dest, "v2", "data", e.file),
        Paths.get(src, "v2", "data", e.file)))
    }
    // restorable at the destination even after BOTH source versions die
    KvSnapshots.delete(src, "v2")
    KvSnapshots.delete(src, "v1")
    val r = KvSnapshots.restore(spark, dest, "v2")
    assert(r.exceptAll(modified).count() == 0 && modified.exceptAll(r).count() == 0)
  }

  test("exporting an empty snapshot commits a restorable empty frame") {
    val src = freshRoot()
    val dest = freshRoot()
    KvSnapshots.create(cells.filter(col("rowkey") < 0), src, "empty")
    KvSnapshots.export(spark, src, dest, "empty")
    assert(KvSnapshots.list(dest) == Seq("empty"))
    assert(KvSnapshots.restore(spark, dest, "empty").count() == 0)
  }

  test("export bin-packing is deterministic, complete, and size-balanced") {
    val files = (1 to 20).map(i => (s"f$i", i * 100L))
    val bins = KvSnapshots.packBins(files, 4)
    assert(bins.keySet == files.map(_._1).toSet)
    assert(bins.values.forall(b => b >= 0 && b < 4))
    val sizes = files.toMap
    val loads = bins.toSeq.groupBy(_._2).map { case (b, fs) => b -> fs.map(f => sizes(f._1)).sum }
    assert(loads.values.max.toDouble / loads.values.min <= 1.5, s"unbalanced: $loads")
    assert(KvSnapshots.packBins(files, 4) == bins, "packing must be deterministic")
    // LPT property: a dominant file gets a bin to itself — small files
    // pile onto the OTHER bins instead of queueing behind the giant
    val skewed = ("giant", 1000000L) +: files
    val sb = KvSnapshots.packBins(skewed, 4)
    assert(skewed.count { case (f, _) => sb(f) == sb("giant") } == 1)
  }

  test("the SnapshotTool CLI drives the full lifecycle end-to-end") {
    val src = freshRoot()
    val dest = freshRoot()
    val cellsDir = freshRoot() + "/cells"
    val outDir = freshRoot() + "/out"
    cells.write.parquet(cellsDir)
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    assert(cli("create", "--root", src, "--name", "s1", "--source", cellsDir) == 0)
    assert(cli("list", "--root", src) == 0)
    assert(cli("export", "--root", src, "--name", "s1", "--dest", dest, "--mappers", "2") == 0)
    assert(cli("delete", "--root", src, "--name", "s1") == 0)
    assert(cli("restore", "--root", dest, "--name", "s1", "--out", outDir) == 0)
    val out = spark.read.parquet(outDir)
    assert(out.exceptAll(cells).count() == 0 && cells.exceptAll(out).count() == 0)
    // error surface: bad usage exits 2, lifecycle violations exit 1
    assert(cli("frobnicate") == 2)
    assert(cli("create", "--root", src) == 2)
    assert(cli("restore", "--root", src, "--name", "s1") == 1) // deleted at source
    assert(cli("delete", "--root", src, "--name", "s1") == 1)
    // NON-IAE failures also exit 1 with a reason, never a stack trace:
    // a corrupt manifest surfaces via sys.error (RuntimeException)
    Files.writeString(Paths.get(dest, "s1", "MANIFEST.json"), """{"n_files": 99}""")
    assert(cli("restore", "--root", dest, "--name", "s1") == 1)
    // and an unreadable --source (AnalysisException) on create
    assert(cli("create", "--root", src, "--name", "s9", "--source", "/nonexistent") == 1)
  }

  test("the import CLI action is export with the roots reversed (round-trip)") {
    val local = freshRoot()
    val remote = freshRoot()
    val cellsDir = freshRoot() + "/cells"
    cells.write.parquet(cellsDir)
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    assert(cli("create", "--root", local, "--name", "s1", "--source", cellsDir) == 0)
    assert(cli("export", "--root", local, "--name", "s1", "--dest", remote) == 0)
    assert(cli("delete", "--root", local, "--name", "s1") == 0)
    // disaster recovery: pull the snapshot back from the remote root
    assert(cli("import", "--root", local, "--name", "s1", "--from", remote, "--mappers", "2") == 0)
    val r = KvSnapshots.restore(spark, local, "s1")
    assert(r.exceptAll(cells).count() == 0 && cells.exceptAll(r).count() == 0)
    assert(cli("import", "--root", local, "--name", "s1", "--from", remote) == 1) // exists
    assert(cli("import", "--root", local, "--name", "s1") == 2) // missing --from
  }

  test("the verify CLI action passes an intact snapshot and fails a tampered one") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    assert(cli("verify", "--root", root, "--name", "s1") == 0)
    assert(cli("verify", "--root", root, "--name", "missing") == 1)
    // same-size tamper: only the distributed checksum pass can catch it
    val f = KvFormat.dataFiles(Paths.get(root, "s1", "data").toString).head
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(f, bytes)
    assert(cli("verify", "--root", root, "--name", "s1") == 1)
  }

  test("the info CLI action summarizes the manifest; --overwrite replaces a committed export") {
    val src = freshRoot()
    val dest = freshRoot()
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    KvSnapshots.create(cells, src, "s1", createdAt = Some(1234L))
    assert(cli("info", "--root", src, "--name", "s1") == 0)
    assert(cli("info", "--root", src, "--name", "missing") == 1)
    // a committed dest refuses a plain re-export (immutability)...
    assert(cli("export", "--root", src, "--name", "s1", "--dest", dest) == 0)
    assert(cli("export", "--root", src, "--name", "s1", "--dest", dest) == 1)
    // ...and --overwrite replaces it: recreate s1 at the source with
    // different content, overwrite-export, dest restores the NEW cells
    KvSnapshots.delete(src, "s1")
    val fewer = cells.filter(col("rowkey") <= 3)
    KvSnapshots.create(fewer, src, "s1")
    assert(cli("export", "--root", src, "--name", "s1", "--dest", dest,
      "--overwrite", "true") == 0)
    val r = KvSnapshots.restore(spark, dest, "s1")
    assert(r.exceptAll(fewer).count() == 0 && fewer.exceptAll(r).count() == 0)
    assert(cli("export", "--root", src, "--name", "s1", "--dest", dest,
      "--overwrite", "maybe") == 2) // bad boolean is a usage error
  }

  test("created_at is injected, survives export, and drives TTL cleanup") {
    val root = freshRoot()
    val dest = freshRoot()
    KvSnapshots.create(cells, root, "old", createdAt = Some(1000L))
    KvSnapshots.create(cells, root, "new", createdAt = Some(2000L))
    KvSnapshots.create(cells, root, "unstamped")
    assert(KvSnapshots.createdAt(root, "old").contains(1000L))
    assert(KvSnapshots.createdAt(root, "unstamped").isEmpty)
    // the stamp is part of the snapshot's identity: export carries it
    KvSnapshots.export(spark, root, dest, "old")
    assert(KvSnapshots.createdAt(dest, "old").contains(1000L))
    // cutoff is injected — expiry is reproducible, no wall clock read.
    // Unstamped snapshots have no age and are never eligible.
    assert(KvSnapshots.cleanup(root, before = 1500L) == Seq("old"))
    assert(KvSnapshots.list(root) == Seq("new", "unstamped"))
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    assert(cli("cleanup", "--root", root, "--before", "3000") == 0)
    assert(KvSnapshots.list(root) == Seq("unstamped"))
    assert(cli("cleanup", "--root", root, "--before", "oops") == 2)
    // a stamped create through the CLI is cleanup-eligible end-to-end
    val cellsDir = freshRoot() + "/cells"
    cells.write.parquet(cellsDir)
    assert(cli("create", "--root", root, "--name", "cli1", "--source", cellsDir,
      "--created-at", "500") == 0)
    assert(cli("cleanup", "--root", root, "--before", "501") == 0)
    assert(KvSnapshots.list(root) == Seq("unstamped"))
  }

  test("a foreign manifest cannot forge the age stamp or traverse out of the data dir") {
    val root = freshRoot()
    // hand-written manifest, as an `import` from an external tool would
    // read: a created_at-looking substring inside a quoted value must
    // NOT parse as the top-level stamp (it would make this unstamped
    // snapshot eligible for TTL cleanup deletion)
    Files.createDirectories(Paths.get(root, "forged", "data"))
    Files.writeString(Paths.get(root, "forged", "MANIFEST.json"),
      """{
        |  "name": "forged \"created_at\": 99,",
        |  "n_files": 0,
        |  "files": []
        |}
        |""".stripMargin)
    assert(KvSnapshots.createdAt(root, "forged") === None)
    assert(KvSnapshots.cleanup(root, before = 100L).isEmpty)
    // an entry whose file name would resolve outside the data dir is
    // rejected as corrupt, not resolved
    Files.createDirectories(Paths.get(root, "traverse", "data"))
    Files.writeString(Paths.get(root, "traverse", "MANIFEST.json"),
      """{
        |  "name": "traverse",
        |  "n_files": 1,
        |  "files": [
        |    {"file": "..", "bytes": 1, "md5": "00000000000000000000000000000000", "cells": 1}
        |  ]
        |}
        |""".stripMargin)
    val e = intercept[IllegalArgumentException] { KvSnapshots.parseManifest(root, "traverse") }
    assert(e.getMessage.contains("illegal file name"))
  }

  test("uncommit + re-export overwrites in place, skipping identical bytes") {
    val root = freshRoot(); val dest = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    assert(KvSnapshots.export(spark, root, dest, "s1").copied > 0)
    // the overwrite path: drop only the manifest — the snapshot becomes
    // invisible but its bytes remain for the digest-skip resume
    KvSnapshots.uncommit(dest, "s1")
    assert(KvSnapshots.list(dest).isEmpty)
    val again = KvSnapshots.export(spark, root, dest, "s1")
    assert(again.copied == 0 && again.skipped > 0,
      s"identical re-export should reuse every byte: $again")
    assert(KvSnapshots.restore(spark, dest, "s1").count() == cells.count())
    intercept[IllegalArgumentException] { KvSnapshots.uncommit(dest, "missing") }
  }

  test("diff classifies added/removed/changed and drops unchanged cells") {
    val root = freshRoot()
    import spark.implicits._
    val v1 = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "a", "z"))
      .toDF("rowkey", "qualifier", "value")
    val v2 = Seq((1L, "a", "x"), (2L, "a", "Y2"), (4L, "b", "new"))
      .toDF("rowkey", "qualifier", "value")
    KvSnapshots.create(v1, root, "v1")
    KvSnapshots.create(v2, root, "v2")
    val d = KvSnapshots.diff(spark, root, "v1", "v2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    assert(d == Set(
      (2L, "a", "changed", "y", "Y2"),
      (3L, "a", "removed", "z", null),
      (4L, "b", "added", null, "new")))
    // diff is direction-sensitive: reversed, added and removed swap
    val rev = KvSnapshots.diff(spark, root, "v2", "v1")
    assert(rev.filter(col("change") === "added").count() == 1)
    assert(rev.filter(col("change") === "removed").count() == 1)
  }

  test("diff raises diagnosably on duplicate cell identities, in the join pass") {
    val root = freshRoot()
    import spark.implicits._
    val dup = Seq((1L, "a", "x"), (1L, "a", "y"), (2L, "a", "z"))
      .toDF("rowkey", "qualifier", "value")
    KvSnapshots.create(dup, root, "dup")
    KvSnapshots.create(dup.filter(col("rowkey") === 2L), root, "clean")
    val e = intercept[Exception] {
      KvSnapshots.diff(spark, root, "dup", "clean").collect()
    }
    // raise_error surfaces wrapped in Spark's job failure — the message
    // must still name the offending snapshot
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("duplicate (rowkey, qualifier)")), e.toString)
  }

  test("read paths reject names create() never validated (hand-placed dirs)") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "ok")
    // a name with a quote or a traversal segment can only arrive via a
    // hand-placed manifest dir; every read entry point must refuse it
    // before the name reaches an error string or a path resolution
    for (bad <- Seq("o'brien", "../escape", "a b", ".", "..")) {
      val e = intercept[IllegalArgumentException] {
        KvSnapshots.parseManifest(root, bad)
      }
      assert(e.getMessage.contains("invalid snapshot name"), e.getMessage)
      intercept[IllegalArgumentException] { KvSnapshots.diff(spark, root, "ok", bad) }
      // validation lives in the path builders, so EVERY entry point
      // refuses — delete would otherwise deleteTree outside the root
      intercept[IllegalArgumentException] { KvSnapshots.delete(root, bad) }
      intercept[IllegalArgumentException] { KvSnapshots.createdAt(root, bad) }
    }
  }

  test("diff refuses a tampered side (verify runs before the join)") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "v1")
    KvSnapshots.create(cells, root, "v2")
    val f = KvFormat.dataFiles(Paths.get(root, "v2", "data").toString).head
    Files.write(f, "9\tq\tv\n".getBytes, StandardOpenOption.APPEND)
    intercept[IllegalArgumentException] { KvSnapshots.diff(spark, root, "v1", "v2") }
  }

  test("bandwidth pacing owes exactly the time the cap implies, never negative") {
    // 10 MiB at 10 MB/s should take 1000 ms: if only 200 ms have
    // passed, the copy owes 800 ms; past-due or uncapped copies owe 0
    assert(KvSnapshots.throttleDelayMs(10L * 1024 * 1024, 200, 10) == 800)
    assert(KvSnapshots.throttleDelayMs(10L * 1024 * 1024, 1500, 10) == 0)
    assert(KvSnapshots.throttleDelayMs(10L * 1024 * 1024, 0, 0) == 0)
    // a paced export still verifies byte-for-byte
    val root = freshRoot()
    KvSnapshots.create(cells, root, "paced")
    val dest = freshRoot()
    val stats = KvSnapshots.export(spark, root, dest, "paced", mappers = 2,
      bandwidthMbps = 1000) // high cap: pacing active, wall time unaffected
    assert(stats.copied > 0)
    KvSnapshots.verify(spark, dest, "paced")
  }

  test("clone hard-links a writable store; divergence leaves the snapshot intact") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "base")
    val store = Files.createTempDirectory("kv_clone_spec").resolve("store").toString
    KvSnapshots.clone(root, "base", store)
    val before = spark.read.format("graft-kv").load(store).count()
    assert(before == cells.count())
    // clone into a non-empty store is refused (stats would blur)
    intercept[IllegalArgumentException] { KvSnapshots.clone(root, "base", store) }
    // diverge the clone; the snapshot must still verify afterwards
    import spark.implicits._
    Seq((999999L, "x", "y")).toDF("rowkey", "qualifier", "value")
      .coalesce(1).write.format("graft-kv").option("path", store).mode("append").save()
    assert(spark.read.format("graft-kv").load(store).count() == before + 1)
    KvSnapshots.verify(spark, root, "base")
    // the CLI drives the same path
    val store2 = Files.createTempDirectory("kv_clone_spec").resolve("store2").toString
    assert(SnapshotTool.run(spark, Seq("clone",
      "--root", root, "--name", "base", "--to", store2)) == 0)
    assert(spark.read.format("graft-kv").load(store2).count() == before)
    // bad bandwidth flag is a usage error
    assert(SnapshotTool.run(spark, Seq("export", "--root", root, "--name", "base",
      "--dest", freshRoot(), "--bandwidth", "-3")) == 2)
  }

  test("clone and create refuse a destination they would have to wipe") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "base")
    // clone into a non-empty dir without data files: refused, file kept
    val dir = Files.createTempDirectory("kv_clone_spec")
    val keep = Files.writeString(dir.resolve("notes.txt"), "keep me")
    intercept[IllegalArgumentException] { KvSnapshots.clone(root, "base", dir.toString) }
    assert(Files.readString(keep) == "keep me")
    // create over a manifest-less dir a create did not leave: refused
    val foreign = Files.writeString(
      Files.createDirectories(Paths.get(root, "other")).resolve("notes.txt"), "keep me")
    intercept[IllegalArgumentException] { KvSnapshots.create(cells, root, "other") }
    assert(Files.readString(foreign) == "keep me")
    // nor an export's resumable partial copy (data but no create mark)
    val partial = Paths.get(root, "partial", "data", "part-0.kv")
    Files.createDirectories(partial.getParent)
    Files.writeString(partial, "1\tq\tv\n")
    intercept[IllegalArgumentException] { KvSnapshots.create(cells, root, "partial") }
    assert(Files.exists(partial))
  }

  test("delete removes the snapshot; deleting a missing name fails loudly") {
    val root = freshRoot()
    KvSnapshots.create(cells, root, "s1")
    KvSnapshots.create(cells, root, "s2")
    KvSnapshots.delete(root, "s1")
    assert(KvSnapshots.list(root) == Seq("s2"))
    intercept[IllegalArgumentException] { KvSnapshots.delete(root, "s1") }
    // s2 unaffected and still restorable after s1's delete
    assert(KvSnapshots.restore(spark, root, "s2").count() == cells.count())
  }

  /** A deterministic 1000-edit WAL over 50 rows × 3 qualifiers with
    * interleaved deletes — enough coordinate churn that last-write-wins
    * is genuinely exercised by every replication test below. */
  private def replWal = spark.range(0, 1000).select(
    (col("id") % 50).as("rowkey"),
    concat(lit("q"), (col("id") % 3).cast("string")).as("qualifier"),
    col("id").as("seq"),
    when(col("id") % 7 === 0, "delete").otherwise("put").as("op"),
    concat(lit("v"), col("id").cast("string")).as("value"))

  private def replExpected = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rowkey", "qualifier").orderBy(col("seq").desc)
    replWal.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "put")
      .select("rowkey", "qualifier", "value")
  }

  /** A step hook that kills `ship` after batch `batch`'s data is
    * published but before its offset commits: batch i's commit is the
    * (i+1)-th publish of the OFFSET ledger. */
  private def killAtOffsetCommit(replRoot: String, batch: Int): String => Unit = {
    var commits = 0
    s => if (s == s"publish ${Paths.get(replRoot, "OFFSET")}") {
      commits += 1
      if (commits == batch + 1)
        throw new RuntimeException(s"injected kill after batch $batch publish")
    }
  }

  test("WAL shipping killed between batch publish and offset commit resumes losslessly") {
    val dest = freshRoot()
    // kill in the NASTIEST window: batch 1's data is already published
    // to the queue, but its offset never committed
    KvFiles.beforeStep = killAtOffsetCommit(dest, batch = 1)
    try intercept[RuntimeException] {
      KvReplication.ship(spark, replWal, dest, batches = 4)
    } finally KvFiles.beforeStep = _ => ()
    // resume: batch 0 committed (skipped); batch 1 was published but
    // uncommitted, so it MUST be re-shipped — nothing lost, nothing
    // double-counted
    val resumed = KvReplication.ship(spark, replWal, dest, batches = 4)
    assert(resumed == KvReplication.ShipStats(shipped = 3, skipped = 1, batches = 4),
      s"resume must re-ship the uncommitted batch: $resumed")
    // a second full run ships nothing
    assert(KvReplication.ship(spark, replWal, dest, batches = 4) ==
      KvReplication.ShipStats(shipped = 0, skipped = 4, batches = 4))
    // resuming with different geometry refuses instead of mis-splitting
    intercept[IllegalArgumentException] {
      KvReplication.ship(spark, replWal, dest, batches = 5)
    }
    // apply converges to exactly the full-log LWW state, and is
    // idempotent (a second apply to a fresh store yields the same state)
    val store1 = freshRoot() + "/store1"
    val store2 = freshRoot() + "/store2"
    KvReplication.applyShipped(spark, dest, store1)
    KvReplication.applyShipped(spark, dest, store2)
    val r1 = spark.read.format("graft-kv").load(store1)
    val r2 = spark.read.format("graft-kv").load(store2)
    assert(r1.exceptAll(replExpected).count() == 0 && replExpected.exceptAll(r1).count() == 0)
    assert(r1.exceptAll(r2).count() == 0 && r2.exceptAll(r1).count() == 0)
    // VerifyReplication: converged on the honest replica...
    val report = KvReplication.verify(replExpected, r1).collect()
    assert(report.nonEmpty && report.forall(_.getAs[Boolean]("converged")))
    // ...and a single tampered cell flips exactly its qualifier's row
    // (1, q1) survives as a put (winner seq 901, 901 % 7 != 0) — a
    // coordinate that EXISTS in the final state, so the tamper lands
    val tampered = r1.withColumn("value",
      when(col("rowkey") === 1 && col("qualifier") === "q1", lit("evil"))
        .otherwise(col("value")))
    val bad = KvReplication.verify(replExpected, tampered).collect()
    assert(bad.count(!_.getAs[Boolean]("converged")) == 1,
      "tampering one cell must break exactly one qualifier's convergence")
  }

  test("apply is idempotent against the SAME store and catches up after new batches commit") {
    val dest = freshRoot()
    // commit only batches 0 and 1: the kill lands after batch 2's
    // publish but before its offset commit (width = 250 → committed
    // prefix covers seq < 500)
    KvFiles.beforeStep = killAtOffsetCommit(dest, batch = 2)
    try intercept[RuntimeException] {
      KvReplication.ship(spark, replWal, dest, batches = 4)
    } finally KvFiles.beforeStep = _ => ()
    val store = freshRoot() + "/store"
    val n1 = KvReplication.applyShipped(spark, dest, store)
    // the r12-advice scenario: re-applying to the SAME store in the
    // continuous steady state must not duplicate a single cell
    val n2 = KvReplication.applyShipped(spark, dest, store)
    assert(n1 == n2, s"steady-state re-apply changed the replica: $n1 -> $n2")
    val partial = spark.read.format("graft-kv").load(store)
    assert(partial.count() == n1)
    assert(partial.groupBy("rowkey", "qualifier").count()
      .agg(max("count")).head().getLong(0) == 1L,
      "no coordinate may hold duplicate cells after a double apply")
    // coordinate (44, q1): its committed-prefix winner is a PUT
    // (seq 394; ids ≡ 94 mod 150, 394 % 7 ≠ 0) ...
    assert(partial.filter(col("rowkey") === 44 && col("qualifier") === "q1").count() == 1)
    // catch up: ship the remaining batches, apply AGAIN to the same store
    KvReplication.ship(spark, replWal, dest, batches = 4)
    KvReplication.applyShipped(spark, dest, store)
    val full = spark.read.format("graft-kv").load(store)
    // ... and the full log's winner is a DELETE (seq 994 = 7·142): the
    // catch-up rebuild genuinely retires a previously applied cell,
    // which append-mode flushing never could
    assert(full.filter(col("rowkey") === 44 && col("qualifier") === "q1").count() == 0,
      "a newly shipped delete must remove the previously applied cell")
    assert(full.exceptAll(replExpected).count() == 0 &&
      replExpected.exceptAll(full).count() == 0,
      "catch-up apply must converge to exactly full-log replay")
    // a third apply stays a no-op
    assert(KvReplication.applyShipped(spark, dest, store) == full.count())
    // a store holding data but no applied ledger is NOT a replica of
    // this queue: refuse loudly instead of clobbering it
    val foreign = freshRoot() + "/foreign"
    replExpected.write.format("graft-kv").option("path", foreign).mode("append").save()
    intercept[IllegalArgumentException] { KvReplication.applyShipped(spark, dest, foreign) }
  }

  test("FIRST apply killed between swap and ledger commit retries cleanly (ADVICE r13)") {
    val dest = freshRoot()
    KvReplication.ship(spark, replWal, dest, batches = 4)
    val store = freshRoot() + "/store"
    // kill in the first-apply window the r13 advice flagged: the rebuilt
    // store's index is already committed, but the applied ledger is not.
    // Without the provisional (-1) ledger committed at adoption time,
    // the retry would see data-files-but-no-ledger and PERMANENTLY
    // refuse a legitimate replica.
    var swapped = false
    KvFiles.beforeStep = s =>
      if (s == s"commit $store/${KvMeta.FILE}") swapped = true
      else if (swapped && s.startsWith(s"publish ${Paths.get(dest, "applied")}"))
        throw new RuntimeException("injected kill after swap, before ledger commit")
    try intercept[RuntimeException] {
      KvReplication.applyShipped(spark, dest, store)
    } finally KvFiles.beforeStep = _ => ()
    assert(Files.exists(Paths.get(store)), "the swap happened before the kill")
    // retry: the provisional ledger marks the store as adopted-but-behind,
    // so the retry rebuilds instead of refusing, and converges exactly
    val n = KvReplication.applyShipped(spark, dest, store)
    val r = spark.read.format("graft-kv").load(store)
    assert(n == replExpected.count())
    assert(r.exceptAll(replExpected).count() == 0 && replExpected.exceptAll(r).count() == 0)
    // and the steady-state no-op still holds after recovery
    assert(KvReplication.applyShipped(spark, dest, store) == n)
  }

  test("apply killed before its index commit keeps the previous replica live") {
    val dest = freshRoot()
    KvFiles.beforeStep = killAtOffsetCommit(dest, batch = 2) // commit batches 0 and 1
    try intercept[RuntimeException] {
      KvReplication.ship(spark, replWal, dest, batches = 4)
    } finally KvFiles.beforeStep = _ => ()
    val store = Paths.get(freshRoot(), "store").toString
    val n1 = KvReplication.applyShipped(spark, dest, store)
    def cells() = spark.read.format("graft-kv").load(store)
      .orderBy("rowkey", "qualifier").collect().toSeq
    val previous = cells()
    assert(previous.size == n1 && n1 > 0)
    KvReplication.ship(spark, replWal, dest, batches = 4)
    // the catch-up rebuild is written and linked into the store; the
    // kill lands before the index that would swap it in is published
    KvFiles.beforeStep = s => if (s == s"publish $store/${KvMeta.FILE}")
      throw new RuntimeException("injected kill before the index commit")
    try intercept[RuntimeException] {
      KvReplication.applyShipped(spark, dest, store)
    } finally KvFiles.beforeStep = _ => ()
    assert(cells() == previous, "the previous replica must stay live")
    val siblings = Files.list(Paths.get(store).getParent)
    try assert(!siblings.iterator().asScala.exists(p => KvFiles.isTemp(p.getFileName.toString)),
      "a killed apply stranded its staging dir")
    finally siblings.close()
    // the retry converges to exactly full-log replay
    assert(KvReplication.applyShipped(spark, dest, store) == replExpected.count())
    val r = spark.read.format("graft-kv").load(store)
    assert(r.exceptAll(replExpected).count() == 0 && replExpected.exceptAll(r).count() == 0)
  }

  test("the replicate CLI verb ships and applies end-to-end, with the exit-code matrix") {
    val walDir = freshRoot() + "/wal"
    replWal.write.parquet(walDir)
    val dest = freshRoot()
    val store = freshRoot() + "/store"
    def cli(args: String*): Int = SnapshotTool.run(spark, args)
    // usage failures exit 2: missing --store, missing --wal, bad --batches
    assert(cli("replicate", "--wal", walDir, "--dest", dest) == 2)
    assert(cli("replicate", "--dest", dest, "--store", store) == 2)
    assert(cli("replicate", "--wal", walDir, "--dest", dest, "--store", store,
      "--batches", "0") == 2)
    // operation failure exits 1: unreadable WAL — and nothing commits
    assert(cli("replicate", "--wal", freshRoot() + "/nope", "--dest", dest,
      "--store", store) == 1)
    assert(!Files.exists(Paths.get(dest, "OFFSET")),
      "a failed replicate must not commit an offset")
    // happy path: the replica store equals the full-log LWW state
    assert(cli("replicate", "--wal", walDir, "--dest", dest, "--store", store) == 0)
    val r = spark.read.format("graft-kv").load(store)
    assert(r.exceptAll(replExpected).count() == 0 && replExpected.exceptAll(r).count() == 0)
    // a re-run against the same queue ships nothing and still exits 0
    // (continuous replication's steady state); applying into a fresh
    // store converges identically
    val store2 = freshRoot() + "/store2"
    assert(cli("replicate", "--wal", walDir, "--dest", dest, "--store", store2) == 0)
    val r2 = spark.read.format("graft-kv").load(store2)
    assert(r2.exceptAll(replExpected).count() == 0 && replExpected.exceptAll(r2).count() == 0)
  }
}
