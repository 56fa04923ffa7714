package graft.sources

import org.apache.spark.sql.SparkSession

/** CLI dispatch over the snapshot lifecycle — the reference utility's
  * user-facing surface (SURVEY.md §2.A R8: a Hadoop `Tool`-style main
  * with action flags; §3.1: parse flags → dispatch on action). A user
  * of the reference drives create/export/restore/delete/list from a
  * command line; this gives the Spark engine the same entry point. The
  * actions and their flags are listed once, in [[actions]].
  *
  * `run` returns a process exit code and is the unit under test; `main`
  * only forwards. Every data-touching action (create's write, export's
  * copy+verify, restore's checksum pass) runs as Spark jobs via
  * [[KvSnapshots]] — the CLI adds dispatch, not execution.
  */
object SnapshotTool {

  private final case class CliError(msg: String) extends RuntimeException(msg)

  def run(spark: SparkSession, args: Seq[String]): Int =
    try {
      val (action, rest) = args match {
        case a +: r => (a, r)
        case _ => throw CliError("missing action")
      }
      if (rest.size % 2 != 0) throw CliError("flags must come in --key value pairs")
      val pairs = rest.grouped(2).map {
        case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
        case other => throw CliError(s"malformed flag pair: ${other.mkString(" ")}")
      }.toSeq
      val allowed = accepted.getOrElse(action, throw CliError(s"unknown action: $action"))
      val given = pairs.map(_._1)
      given.diff(given.distinct).headOption.foreach(k => throw CliError(s"repeated flag --$k"))
      given.find(k => !allowed(k)).foreach(k => throw CliError(s"$action does not take --$k"))
      val flags = pairs.toMap
      def need(k: String): String =
        flags.getOrElse(k, throw CliError(s"$action requires --$k"))
      def longFlag(k: String): Option[Long] = flags.get(k).map { v =>
        v.toLongOption.getOrElse(throw CliError(s"bad --$k: $v"))
      }
      def intFlag(k: String, min: Int): Option[Int] = flags.get(k).map { v =>
        v.toIntOption.filter(_ >= min).getOrElse(throw CliError(s"bad --$k: $v"))
      }
      def boolFlag(k: String): Boolean = flags.get(k).map {
        case "true" => true
        case "false" => false
        case v => throw CliError(s"bad --$k: $v (true|false)")
      }.getOrElse(false)
      action match {
        case "create" =>
          KvSnapshots.create(spark.read.parquet(need("source")), need("root"), need("name"),
            longFlag("created-at"))
          ok(s"created snapshot ${need("name")}")
        case "export" | "import" =>
          // the reference's -mappers N copy-parallelism knob (§2.A R7).
          // import (§2.A R3) IS export with the roots reversed — the
          // copy+verify machinery is direction-agnostic: the snapshot
          // comes FROM --from INTO --root (the local store root).
          val mappers = intFlag("mappers", 1).getOrElse(32)
          // the reference's -bandwidth MB/s cap: each copy task paces
          // itself so the export can't saturate shared links (0 = off)
          val bandwidth = intFlag("bandwidth", 0).getOrElse(0)
          val (src, dst) =
            if (action == "export") (need("root"), need("dest"))
            else (need("from"), need("root"))
          // the reference's -overwrite knob: replace a COMMITTED dest
          // snapshot of the same name instead of refusing. Implemented
          // as UNCOMMIT (drop only the manifest) + re-export: identical
          // bytes are digest-skipped, changed files re-copied, strays
          // cleaned by export itself — and a re-export failure never
          // leaves the dest emptier than before, which a full
          // delete-then-export would (data-loss window).
          val overwrite = boolFlag("overwrite")
          // the reference -overwrite's second half: recopy EVERY file
          // regardless of a matching destination digest (distrust-the-
          // dest escape; plain --overwrite still digest-skips identical
          // bytes, which is the cheap path)
          val force = boolFlag("force")
          // --force implies the overwrite uncommit flow: its whole point
          // is recopying a COMMITTED dest an operator distrusts, so it
          // must not die on "already exists at export destination"
          if ((overwrite || force) && KvSnapshots.list(dst).contains(need("name"))) {
            // uncommit is destructive to the dest's commit mark — prove
            // the SOURCE can actually replace it first (a typo'd --from
            // must not demote the only committed copy), and refuse a
            // self-export (same root), which would uncommit the source
            // it is about to read
            // canonical (symlink-resolved) comparison: normalize alone
            // would let a symlinked root slip past and uncommit the
            // very source about to be read
            require(new java.io.File(src).getCanonicalPath !=
              new java.io.File(dst).getCanonicalPath,
              s"source and destination roots are the same: $src")
            KvSnapshots.parseManifest(src, need("name"))
            KvSnapshots.uncommit(dst, need("name"))
          }
          val stats = KvSnapshots.export(spark, src, dst, need("name"), mappers, bandwidth,
            force = force)
          ok(s"${action}ed snapshot ${need("name")} to $dst " +
            s"(${stats.copied} copied, ${stats.skipped} already verified)")
        case "replicate" =>
          // continuous WAL shipping to a replica store (r12): ship the
          // edit log into --dest's queue in seq-range batches behind
          // the durable offset ledger (resumable — a re-run skips
          // committed batches), then apply the committed queue onto
          // --store with last-write-wins semantics
          val batches = intFlag("batches", 1).getOrElse(4)
          // ALL flags validate before the first side effect: a usage
          // error must never leave a half-shipped queue behind
          val (walDir, replDest, replStore) = (need("wal"), need("dest"), need("store"))
          val st = KvReplication.ship(spark, spark.read.parquet(walDir), replDest, batches)
          val n = KvReplication.applyShipped(spark, replDest, replStore)
          ok(s"replicated: shipped ${st.shipped} batch(es), skipped ${st.skipped} " +
            s"already committed, applied $n cell(s) to $replStore")
        case "info" =>
          // manifest summary without touching data bytes: what the
          // reference's snapshot-description output shows (name, age,
          // file/cell/byte totals, incremental sharing)
          val (root, name) = (need("root"), need("name"))
          val entries = KvSnapshots.parseManifest(root, name)
          println(s"name\t$name")
          KvSnapshots.createdAt(root, name).foreach(t => println(s"created_at\t$t"))
          println(s"n_files\t${entries.size}")
          println(s"n_cells\t${entries.map(_.cells).sum}")
          println(s"bytes\t${entries.map(_.bytes).sum}")
          println(s"shared_files\t${entries.count(_.sharedFrom.isDefined)}")
          0
        case "restore" =>
          val df = KvSnapshots.restore(spark, need("root"), need("name"))
          flags.get("out") match {
            case Some(out) => df.write.mode("overwrite").parquet(out)
            case None => () // verification-only restore: checksums ran
          }
          ok(s"restored snapshot ${need("name")} (${df.count()} cells)")
        case "verify" =>
          // the reference's post-copy check (§2.A R6) as its own action:
          // "is this snapshot intact, right now" without restoring it
          KvSnapshots.verify(spark, need("root"), need("name"))
          ok(s"verified snapshot ${need("name")}")
        case "delete" =>
          KvSnapshots.delete(need("root"), need("name"))
          ok(s"deleted snapshot ${need("name")}")
        case "cleanup" =>
          val before = longFlag("before").getOrElse(throw CliError("cleanup requires --before"))
          val gone = KvSnapshots.cleanup(need("root"), before)
          ok(s"deleted ${gone.size} snapshot(s): ${gone.mkString(", ")}")
        case "clone" =>
          // HBase clone_snapshot: hard-link a snapshot into a new
          // writable store — O(files) metadata, zero data copied
          KvSnapshots.clone(need("root"), need("name"), need("to"))
          ok(s"cloned snapshot ${need("name")} to ${need("to")}")
        case "compact" =>
          // store maintenance (HBase major-compaction analog): rewrite a
          // live store's accumulated small files into --target sorted,
          // rowkey-disjoint files. Operates on a STORE dir, not a
          // snapshot — snapshots stay immutable by definition.
          val target = intFlag("target", 1).getOrElse(4)
          val retain = intFlag("retain-versions", 1)
          val purge = boolFlag("purge-tombstones")
          val stats = KvCompaction.compact(spark, need("store"), target,
            retainVersions = retain, purgeTombstones = purge)
          ok(s"compacted ${need("store")}: ${stats.filesBefore} files -> " +
            s"${stats.filesAfter} (${stats.cells} cells, ${stats.dropped} GC'd)")
        case "merge-regions" =>
          // HBase merge_region: link two ADJACENT region stores into
          // one by one index commit — zero data bytes; parents retired
          val stats = KvCompaction.mergeRegions(need("a"), need("b"), need("dest"))
          ok(s"merged ${need("a")} + ${need("b")} into ${need("dest")} " +
            s"(${stats.filesA}+${stats.filesB} files, ${stats.cells} cells, 0 bytes rewritten)")
        case "bulk-load" =>
          // HBase completebulkload: link region-aligned staged files
          // into a live store — staging drained after the index commit
          val stats = KvCompaction.bulkLoad(need("staging"), need("store"))
          ok(s"bulk-loaded ${stats.filesLoaded} file(s), ${stats.cells} cells " +
            s"into ${need("store")}")
        case "scrub" =>
          // hbck-style live-store integrity pass (KvScrub): exit 0 on a
          // clean store, exit 1 with one line per finding otherwise —
          // scriptable like the reference's verify action
          val findings = KvScrub.scrub(spark, need("store"))
          if (findings.isEmpty) ok("store clean")
          else {
            findings.foreach(f =>
              System.err.println(s"${f.kind}\t${f.file}\texpected=${f.expected}\tactual=${f.actual}"))
            System.err.println(s"[snapshot-tool] ${findings.size} finding(s)")
            1
          }
        case "list" =>
          // stamped snapshots list their created_at so a cleanup cutoff
          // can be chosen from the listing alone. The per-name stamp
          // read is best-effort: a snapshot deleted concurrently (or a
          // corrupt manifest) lists without a stamp — `list` stays the
          // never-fails directory scan it always was
          val root = need("root")
          KvSnapshots.list(root).foreach { n =>
            val stamp = scala.util.Try(KvSnapshots.createdAt(root, n))
              .toOption.flatten.map(t => s"\t$t").getOrElse("")
            println(s"$n$stamp")
          }
          0
      }
    } catch {
      case CliError(m) => usage(m)
      // ANY operation failure — lifecycle violation (IAE), corrupt
      // manifest (sys.error's RuntimeException), unreadable source
      // (AnalysisException), IO — exits 1 with the reason, never a
      // stack trace: this is a CLI, not a library surface
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"error: ${e.getMessage}"); 1
    }

  private def ok(msg: String): Int = { println(msg); 0 }

  /** One usage line per action: its name, then every flag it takes. */
  private val actions = Seq(
    "create  --root R --name N --source <parquet cells dir> [--created-at EPOCH_SEC]",
    "export  --root R --name N --dest <second root> [--mappers N] [--bandwidth MBps] [--overwrite true] [--force true]",
    "import  --root R --name N --from <second root> [--mappers N] [--bandwidth MBps] [--overwrite true] [--force true]",
    "restore --root R --name N [--out <parquet dir>]",
    "verify  --root R --name N",
    "info    --root R --name N",
    "delete  --root R --name N",
    "cleanup --root R --before EPOCH_SEC",
    "clone   --root R --name N --to <new kv store dir>",
    "compact --store <kv store dir> [--target N] [--retain-versions K] [--purge-tombstones true]",
    "merge-regions --a <region store> --b <region store> --dest <merged store>",
    "bulk-load --staging <staged dir> --store <kv store dir>",
    "scrub   --store <kv store dir>",
    "replicate --wal <edit-log parquet dir> --dest <replica queue root> --store <replica kv store dir> [--batches N]",
    "list    --root R")

  /** action → the flags its usage line names; any other flag, or one
    * given twice, is a usage error before the action starts. */
  private val accepted: Map[String, Set[String]] = actions.map { l =>
    l.takeWhile(_ != ' ') -> "--([a-z-]+)".r.findAllMatchIn(l).map(_.group(1)).toSet
  }.toMap

  private def usage(err: String): Int = {
    val names = actions.map(_.takeWhile(_ != ' ')).mkString("|")
    System.err.println((s"error: $err" +: s"usage: SnapshotTool <$names> [--flag value ...]" +:
      actions.map("  " + _)).mkString("\n"))
    2
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val code = run(spark, args.toIndexedSeq)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
