package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

/** Process-scoped scratch hygiene shared by the operators that stage
  * data on local disk (snapshot roots, file-stream staging dirs): one
  * process tag, one scratch root under `java.io.tmpdir` named by it and
  * deleted when the JVM exits, and a recursive delete that also removes
  * partially-written dirs a crashed run left behind. Concurrent
  * bench+verify JVMs therefore never share a scratch path and clean up
  * after themselves instead of accumulating staging data across runs. */
object Scratch {

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** This process's tag: it names the scratch roots and graft-kv data
    * files, so two concurrent JVMs never write the same path. */
  val tag: String = java.util.UUID.randomUUID().toString.take(8)

  private def deletedOnExit(dir: String): String = { sys.addShutdownHook(deleteTree(dir)); dir }

  /** This process's scratch root, deleted when the JVM exits. */
  lazy val root: String =
    deletedOnExit(s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_scratch/$tag")

  /** `<root>/<sfDir as one name>/<name>`: a scratch path per data dir. */
  def forSf(sfDir: String, name: String): String =
    s"$root/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  private lazy val ckptRoot: String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir", "/tmp")
    deletedOnExit(s"$base/graft_ckpt/$tag")
  }
  private val ckptSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A unique streaming-checkpoint dir on tmpfs (r17 verdict task 4).
    *
    * Every micro-batch fsyncs its offset log, commit log, and state
    * deltas into the checkpoint dir; with the default implicit temp
    * checkpoint those land under /tmp — spinning-disk-or-virtio IO that
    * a co-tenant IO burst stretches arbitrarily, which is why the
    * ts_*_stream keys were the most host-sensitive block in the r17
    * driver tail (2–4.2× band while batch keys sat at 1.4×). /dev/shm
    * is tmpfs, so the per-batch fsync chain never leaves RAM. Semantics
    * are unchanged: same micro-batch schedule, same watermark closes —
    * only the durability substrate of a throwaway bench checkpoint
    * moves. On a real cluster a checkpoint belongs on reliable shared
    * storage; these dirs are per-process scratch, cleaned on exit.
    *
    * Uniqueness matters doubly: per PROCESS (the tag — two concurrent
    * JVMs must not delete each other's dirs) and per START (the seq — a
    * bench's min-of-two rerun reusing one checkpoint would resume from
    * committed offsets and replay nothing). */
  def fastCheckpointDir(name: String): String =
    s"$ckptRoot/$name-${ckptSeq.incrementAndGet()}"

  /** The entries of `dir` sorted by path; empty if it is no directory. */
  def children(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    }
  }

  /** The parquet part files of a written dir (no metadata/_SUCCESS). */
  def parquetFiles(dir: String): Seq[Path] =
    children(dir).filter(_.getFileName.toString.endsWith(".parquet"))
}
