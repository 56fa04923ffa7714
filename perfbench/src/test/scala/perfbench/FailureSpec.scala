package perfbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KvSnapshots

class FailureSpec extends AnyFunSuite {

  test("wrong output and errors are failures, never latency samples") {
    val ctx = new Ctx(null, new Tracer("t", enabled = false), 1, Paths.get("."), Paths.get("."),
      smoke = true)
    ctx.op("good", "g")(true)
    ctx.op("wrong", "g")(false)
    ctx.op("error", "g")(sys.error("boom"))
    assert(ctx.ops.map(_.ok) == Seq(true, false, false))
    assert(ctx.failed == 2 && ctx.latencies.size == 1)
    ctx.failLast("checksum mismatch")
    assert(ctx.failed == 2)
    assert(Stats.errorRate(ctx.ops.size, ctx.failed) == 2.0 / 3)
  }

  test("a corrupted snapshot fails its restore instead of timing a fast one") {
    val scratch = Paths.get("target", "failure-spec").toAbsolutePath
    graft.util.Scratch.deleteTree(scratch.toString)
    val spark = Session.build(scratch)
    try {
      val ctx = new Ctx(spark, new Tracer("t", enabled = false), 7, scratch, scratch, smoke = true)
      val sz = SnapshotCycle.Size(rows = 200, buckets = 2, changed = 1, exports = 1, removed = 1)
      val root = scratch.resolve("src").toString
      val want = SnapshotCycle.checksum(SnapshotCycle.cells(spark, 7, sz, Set.empty))
      KvSnapshots.create(SnapshotCycle.cells(spark, 7, sz, Set.empty), root, "s")
      def restore(): Boolean =
        ctx.op("KvSnapshots.restore", "sources") {
          SnapshotCycle.checksum(KvSnapshots.restore(spark, root, "s")) == want
        }
      assert(restore())
      // same size, different bytes: only the checksum can catch it
      val file: Path = Files.list(scratch.resolve("src/s/data")).filter(_.toString.endsWith(".kv"))
        .findFirst().get()
      val ch = Files.newByteChannel(file, StandardOpenOption.WRITE)
      try ch.write(java.nio.ByteBuffer.wrap("9".getBytes)) finally ch.close()
      assert(!restore())
      assert(ctx.ops.map(_.ok) == Seq(true, false))
      assert(ctx.latencies.size == 1 && ctx.failed == 1)
    } finally {
      spark.stop()
      graft.util.Scratch.deleteTree(scratch.toString)
    }
  }
}
