package graft.sources

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.security.{DigestOutputStream, MessageDigest}

import scala.util.control.NonFatal

/** The one module that knows how graft-kv mutates storage. A store's
  * file set is its committed `.file_meta.tsv` index ([[KvMeta]]), so
  * every mutation is "write files nobody can see, then one [[publish]]
  * of the small file that names them": data files are streamed and
  * digested in place ([[Writer]]) or brought in as links ([[share]]),
  * and only [[publish]] renames. Every temp name starts with `.tmp-`
  * ([[isTemp]]): scans never see it and sweeps find it. Plain reads stay
  * direct `Files` calls at the call sites, so running the store on
  * another filesystem changes this object only.
  */
object KvFiles {

  /** Called with a step label (`"<verb> <path>"`) before every mutation
    * below: the one crash-injection point. A hook that throws stops the
    * operation exactly at that step. Production value is a no-op; specs
    * swap it in and must restore it in a finally. */
  @volatile private[graft] var beforeStep: String => Unit = _ => ()

  private val TempPrefix = ".tmp-"

  def isTemp(name: String): Boolean = name.startsWith(TempPrefix)

  /** `.tmp-<name>.<suffix>` beside `p`: a fixed name per target, so the
    * next write reuses (and so reclaims) the name a crash left. */
  private def temp(p: Path, suffix: String): Path =
    p.resolveSibling(s"$TempPrefix${p.getFileName}.$suffix")

  /** The fixed sibling dir a staged replace of the store `live` writes
    * into before its files are brought into `live`. */
  def staging(live: Path): Path = temp(live, "new")

  /** Replace `p` with `text`: readers see the old file or the new one,
    * never a torn one. Every published file (stats index, manifest,
    * ledgers) has a single writer, so the temp name is fixed. */
  def publish(p: Path, text: String): Unit = {
    beforeStep(s"publish $p")
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = temp(p, "pub")
    try {
      Files.writeString(tmp, text, StandardCharsets.UTF_8)
      beforeStep(s"commit $p")
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    } catch { case NonFatal(e) => Files.deleteIfExists(tmp); throw e }
  }

  /** A file streamed to `dest` and digested on the way (single pass,
    * constant memory), with no temp name: `dest` is invisible until an
    * index or manifest names it. A file already at `dest` is unlinked
    * first, so bytes another store shares through a [[share]] link are
    * never written through. Write to [[out]]; [[commit]] closes it and
    * returns its (bytes, md5 hex); [[abort]] deletes it. */
  final class Writer(dest: Path) {
    beforeStep(s"write $dest")
    Files.deleteIfExists(dest)
    private val md = MessageDigest.getInstance("MD5")
    private var bytes = 0L
    val out: OutputStream = new DigestOutputStream(
        Files.newOutputStream(dest, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), md) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        super.write(b, off, len); bytes += len
      }
      override def write(b: Int): Unit = { super.write(b); bytes += 1 }
    }

    def commit(): (Long, String) = {
      beforeStep(s"commit $dest")
      out.close()
      (bytes, hex(md.digest()))
    }

    def abort(): Unit = { out.close(); Files.deleteIfExists(dest) }
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

  /** Delete the store dir `dir`, whose cells another store's committed
    * index already holds. Its index goes first, so a crash part way
    * leaves a dir that reads nothing, never an index naming lost files. */
  def retire(dir: Path): Unit = {
    beforeStep(s"retire $dir")
    Files.deleteIfExists(dir.resolve(KvMeta.FILE))
    graft.util.Scratch.deleteTree(dir.toString)
  }

  /** Make `link` a hard link to the existing file `target`, replacing
    * any file at `link`: shared storage, zero bytes copied. The one way
    * an existing file enters a store; its source is deleted only after
    * the index that names the link commits. */
  def share(link: Path, target: Path): Unit = {
    beforeStep(s"share $link")
    Files.deleteIfExists(link)
    Files.createLink(link, target)
  }
}
