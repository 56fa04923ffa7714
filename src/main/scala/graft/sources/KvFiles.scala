package graft.sources

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.{DigestOutputStream, MessageDigest}

import scala.util.control.NonFatal

import graft.util.Scratch

/** The one module that knows how graft-kv mutates storage. Atomic
  * commit, resumable copy and checksum verify all rest on one protocol:
  * write under a temp sibling name, then rename into place — for a small
  * file ([[publish]]), a streamed and digested one ([[Writer]]) or a
  * whole directory ([[install]]); [[adopt]] and [[share]] bring existing
  * files into a store. Every temp name starts with `.tmp-` ([[isTemp]]):
  * scans skip it (data files end in `.kv`, Spark skips dot-names) and
  * sweeps find it. Plain reads stay direct `Files` calls at the call
  * sites, so running the store on another filesystem changes this
  * object only.
  */
object KvFiles {

  /** Called with a step label (`"<verb> <path>"`) before every mutation
    * below: the one crash-injection point. A hook that throws stops the
    * operation exactly at that step. Production value is a no-op; specs
    * swap it in and must restore it in a finally. */
  @volatile private[graft] var beforeStep: String => Unit = _ => ()

  private val TempPrefix = ".tmp-"

  def isTemp(name: String): Boolean = name.startsWith(TempPrefix)

  /** `.tmp-<name>.<suffix>` beside `p`. A fixed suffix is for a target
    * with one writer: its next write reuses (and so reclaims) the name a
    * crash left; a fresh one is for targets that retried or concurrent
    * tasks may write at once. */
  private def temp(p: Path, suffix: String): Path =
    p.resolveSibling(s"$TempPrefix${p.getFileName}.$suffix")

  private def freshTag(): String = java.util.UUID.randomUUID().toString.take(8)

  private def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  /** Replace `p` with `text`: readers see the old file or the new one,
    * never a torn one. Every published file (manifest, stats index,
    * ledgers) has a single writer, so the temp name is fixed. */
  def publish(p: Path, text: String): Unit = {
    beforeStep(s"publish $p")
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = temp(p, "pub")
    try {
      Files.writeString(tmp, text, StandardCharsets.UTF_8)
      beforeStep(s"commit $p")
      move(tmp, p)
    } catch { case NonFatal(e) => Files.deleteIfExists(tmp); throw e }
  }

  /** A file streamed into a temp sibling of `dest` and digested on the
    * way (single pass, constant memory). Write to [[out]]; [[commit]]
    * publishes the file at `dest` and returns its (bytes, md5 hex);
    * [[abort]] drops it. */
  final class Writer(dest: Path) {
    beforeStep(s"write $dest")
    private val tmp = temp(dest, freshTag())
    private val md = MessageDigest.getInstance("MD5")
    private var bytes = 0L
    val out: OutputStream = new DigestOutputStream(Files.newOutputStream(tmp), md) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        super.write(b, off, len); bytes += len
      }
      override def write(b: Int): Unit = { super.write(b); bytes += 1 }
    }

    def commit(): (Long, String) = {
      out.close()
      beforeStep(s"commit $dest")
      move(tmp, dest)
      (bytes, hex(md.digest()))
    }

    def abort(): Unit = { out.close(); Files.deleteIfExists(tmp) }
  }

  /** Streaming MD5 of a file (1 MiB chunks: constant memory regardless
    * of file size; runs on executors for verification jobs). */
  def md5Hex(file: Path): String = {
    val md = MessageDigest.getInstance("MD5")
    val in = Files.newInputStream(file)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    hex(md.digest())
  }

  def md5Hex(bytes: Array[Byte]): String = hex(MessageDigest.getInstance("MD5").digest(bytes))

  private def hex(bytes: Array[Byte]): String = java.util.HexFormat.of().formatHex(bytes)

  /** Undo what a process crash inside [[install]] left at `live`: move
    * the old dir back if the crash came between the two moves, and drop
    * a stale new or old sibling. A caller that reads `live` before it
    * installs (compaction) calls this first. */
  def recover(live: Path): Unit = {
    val old = temp(live, "old")
    if (Files.exists(old) && !Files.exists(live)) { beforeStep(s"restore $live"); move(old, live) }
    Seq(old, temp(live, "new")).foreach(p => Scratch.deleteTree(p.toString))
  }

  /** Replace the directory `live` with one `fill` builds in a temp
    * sibling: move `live` aside, move the new dir in, delete the old
    * one. A failed `fill` leaves `live` untouched; a failed second move
    * puts the old dir back, so `live` is never left missing. Both
    * sibling names are fixed per `live`, so a later install first
    * [[recover]]s what a crashed one left. Returns what `fill` returned. */
  def install[A](live: Path)(fill: Path => A): A = {
    val (next, old) = (temp(live, "new"), temp(live, "old"))
    recover(live)
    Option(live.getParent).foreach(Files.createDirectories(_))
    val result =
      try {
        val r = fill(next)
        if (Files.exists(live)) { beforeStep(s"install-aside $live"); move(live, old) }
        try { beforeStep(s"install-in $live"); move(next, live) }
        catch {
          case NonFatal(e) =>
            // a failed rollback is suppressed onto the original error
            if (Files.exists(old))
              try move(old, live) catch { case NonFatal(rb) => e.addSuppressed(rb) }
            throw e
        }
        r
      } finally Scratch.deleteTree(next.toString) // gone already after a good move
    Scratch.deleteTree(old.toString)
    result
  }

  /** Move each of `files` into `dir` (created if absent) as
    * `<prefix>-<fresh tag>-<i>-<name>`, so an adopted name never
    * collides with a live one. Returns the new names in order. */
  def adopt(files: Seq[Path], dir: Path, prefix: String): Seq[String] = {
    Files.createDirectories(dir)
    val tag = freshTag()
    files.zipWithIndex.map { case (f, i) =>
      val name = s"$prefix-$tag-$i-${f.getFileName}"
      beforeStep(s"adopt ${dir.resolve(name)}")
      move(f, dir.resolve(name))
      name
    }
  }

  /** Make `link` a hard link to the existing file `target`, replacing
    * any file at `link`: shared storage, zero bytes copied. */
  def share(link: Path, target: Path): Unit = {
    beforeStep(s"share $link")
    Files.deleteIfExists(link)
    Files.createLink(link, target)
  }
}
