package graft.util

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The one home of process-level built state: trained ANN models, their
  * parquet-backed rankings and graphs, staged stream and media inputs.
  *
  * `Built(key)(build)` runs `build` once per process per key and hands
  * every later caller the same value. Concurrent first callers wait on
  * that one build (each entry is its own lazy val, so unrelated keys
  * never block each other; builds nest acyclically). A build that
  * throws is not cached: the next call runs it again. There is no put
  * or overwrite, so an entry's value never changes once built.
  *
  * `dir(key)(write)` is the on-disk form: `write` fills a fresh
  * directory under the process scratch root (`Scratch.root`) and
  * the entry's value is that path, read back like any table.
  *
  * `keys` and `retainOnly` are Bench's pass-2 hook: keeping only the keys
  * that existed before a key's first pass makes its second pass repeat
  * every build the first pass did, while artifacts an earlier key built
  * stay. */
object Built {
  private final class Entry(private var build: () => Any) {
    lazy val value: Any = { val v = build(); build = null; v }
  }
  private val entries = new ConcurrentHashMap[String, Entry]()

  def apply[A](key: String)(build: => A): A = {
    val e = entries.computeIfAbsent(key, _ => new Entry(() => build))
    try e.value.asInstanceOf[A]
    catch { case t: Throwable => entries.remove(key, e); throw t }
  }

  def dir(key: String)(write: String => Unit): String = apply(key) {
    // a letter-led, key-derived name: a rebuild after retainOnly replaces
    // the old copy, and Spark never reads a _-led basename as data
    val d = s"${Scratch.root}/built/b${key.replaceAll("[^A-Za-z0-9.=-]", "_")}-${(key.hashCode & 0x7fffffff).toHexString}"
    Scratch.deleteTree(d)
    write(d)
    d
  }

  def keys: Set[String] = entries.keySet.asScala.toSet

  def retainOnly(keep: Set[String]): Unit = entries.keySet.removeIf(k => !keep(k))
}
