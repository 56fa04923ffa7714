package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM edge cases of the graft-kv connector pieces (the end-to-end
  * path is covered by the `source_kv_connector` oracle key + PlanSpec).
  */
class KvConnectorSpec extends AnyFunSuite {

  /** Write one committed .kv file of (k, "q", "v") cells into `dir`. */
  private def mkFile(dir: String, keys: Seq[Long]): KvFileMeta = {
    val w = new KvDataWriter(dir, keys.head.toInt, keys.head)
    keys.foreach(r => w.write(
      InternalRow(r, UTF8String.fromString("q"), UTF8String.fromString("v"))))
    (w.commit(): @unchecked) match { case KvCommitMessage(Some(m)) => m }
  }

  test("filters with null literals are not accepted for pushdown") {
    assert(!KvFilterEval.supports(EqualTo("rowkey", null)))
    assert(!KvFilterEval.supports(In("rowkey", Array(1L, null))))
    assert(KvFilterEval.supports(In("rowkey", Array[Any](1L, 2L))))
  }

  test("filters with wrong-typed literals fall back to Spark, not CCE on executors") {
    // Filter is a public API: a hand-built EqualTo can carry any literal
    assert(!KvFilterEval.supports(EqualTo("rowkey", "x")))
    assert(!KvFilterEval.supports(LessThan("qualifier", 5)))
    assert(!KvFilterEval.supports(In("rowkey", Array[Any](1L, "2"))))
    assert(!KvFilterEval.supports(And(EqualTo("rowkey", 1L), EqualTo("value", 9))))
    assert(KvFilterEval.supports(EqualTo("rowkey", 1L)))
    assert(KvFilterEval.supports(EqualTo("rowkey", java.lang.Integer.valueOf(1))))
    assert(KvFilterEval.supports(EqualTo("qualifier", "acctbal")))
  }

  test("a corrupt cell line fails naming the file and line, not with a bare NFE") {
    val dir = Files.createTempDirectory("kvspec")
    val f = dir.resolve("part-0-0.kv")
    Files.writeString(f, "1\tq\tv\nnot_a_number\tq\tv\n")
    val r = new KvPartitionReader(f.toString, KvFormat.schema, Array.empty)
    assert(r.next())
    val e = intercept[java.io.IOException] { r.next() }
    assert(e.getMessage.contains(f.toString) && e.getMessage.contains(":2"))
    r.close()
    val g = dir.resolve("part-0-1.kv")
    Files.writeString(g, "1\tonly_two_fields\n")
    val r2 = new KvPartitionReader(g.toString, KvFormat.schema, Array.empty)
    val e2 = intercept[java.io.IOException] { r2.next() }
    assert(e2.getMessage.contains(g.toString) && e2.getMessage.contains(":1"))
    r2.close()
  }

  test("writer commit message carries bytes/md5/cells/rowkey-bounds of the file it wrote") {
    val dir = Files.createTempDirectory("kvspec").toString
    val w = new KvDataWriter(dir, 0, 0L)
    def cell(r: Long) = InternalRow(r, UTF8String.fromString("q"), UTF8String.fromString(s"v$r"))
    Seq(5L, 2L, 9L).foreach(r => w.write(cell(r)))
    val m = (w.commit(): @unchecked) match { case KvCommitMessage(Some(x)) => x }
    val f = Paths.get(dir, m.file)
    assert(Files.size(f) == m.bytes)
    assert(KvFiles.md5Hex(f) == m.md5)
    assert(m.cells == 3 && m.minKey == 2L && m.maxKey == 9L)
    // job commit persists the stats as the index — no data re-read needed
    new KvBatchWrite(dir).commit(Array(KvCommitMessage(Some(m))))
    assert(KvMeta.read(dir) == Map(m.file -> m))
  }

  test("an empty task commits no file (no 0-byte litter from empty partitions)") {
    val dir = Files.createTempDirectory("kvspec").toString
    val w = new KvDataWriter(dir, 4, 2L)
    assert(w.commit() == KvCommitMessage(None))
    assert(KvFormat.dataFiles(dir).isEmpty)
    val left = Files.list(Paths.get(dir))
    try assert(!left.iterator().hasNext) finally left.close()
  }

  test("rowkey-range scan plans only the files whose [min,max] overlap") {
    val dir = Files.createTempDirectory("kvspec").toString
    val metas = Seq(mkFile(dir, 1L to 10L), mkFile(dir, 11L to 20L), mkFile(dir, 21L to 30L))
    new KvBatchWrite(dir).commit(metas.map(m => KvCommitMessage(Some(m))).toArray)
    assert(KvFormat.dataFiles(dir).size == 3)
    def planned(filters: Filter*): Int =
      new KvScan(dir, KvFormat.schema, filters.toArray).planInputPartitions().length
    assert(planned() == 3)
    assert(planned(LessThanOrEqual("rowkey", 10L)) == 1)
    assert(planned(EqualTo("rowkey", 15L)) == 1)
    assert(planned(GreaterThan("rowkey", 20L)) == 1)
    assert(planned(GreaterThanOrEqual("rowkey", 5L), LessThan("rowkey", 15L)) == 2)
    // the range hull of IN(3, 25) keeps the middle file, but its bloom
    // (which holds 11..20 only) proves neither key can be there → 2
    assert(planned(In("rowkey", Array[Any](3L, 25L))) == 2)
    assert(planned(GreaterThan("rowkey", 100L)) == 0)
    // a predicate on another column must not prune anything
    assert(planned(EqualTo("qualifier", "q")) == 3)
  }

  test("rowkey bloom skips range-overlapping files that cannot hold the probed key") {
    val dir = Files.createTempDirectory("kvspec_bloom").toString
    // interleaved stripes: every file's [min,max] covers every probe, so
    // range pruning alone can never skip — only the bloom can
    val metas = Seq(mkFile(dir, Seq(2L, 8L, 14L, 20L)),
      mkFile(dir, Seq(4L, 10L, 16L, 22L)), mkFile(dir, Seq(6L, 12L, 18L, 24L)))
    new KvBatchWrite(dir).commit(metas.map(m => KvCommitMessage(Some(m))).toArray)
    val meta = KvMeta.read(dir)
    assert(meta.values.forall(_.bloomHex.isDefined))
    def planned(filters: Filter*): Int =
      new KvScan(dir, KvFormat.schema, filters.toArray).planInputPartitions().length
    def expect(k: Long): Int = meta.values.count(m =>
      m.minKey <= k && k <= m.maxKey && KvBloom.mightContain(m.bloomHex.get, k))
    // present keys: the plan matches the blooms exactly and the holding
    // file is never skipped (a bloom has no false negatives)
    Seq(2L, 10L, 24L).foreach { k =>
      assert(planned(EqualTo("rowkey", k)) == expect(k) && expect(k) >= 1)
    }
    // absent in-range keys: plan == what the blooms allow, and across a
    // handful of probes the bloom actually skips files (deterministic
    // on the fixed splitmix64 hash — not a probabilistic assertion)
    val absent = Seq(3L, 5L, 7L, 9L, 11L)
    assert(absent.map(k => planned(EqualTo("rowkey", k))) == absent.map(expect))
    assert(absent.map(expect).sum < absent.size * 3, "bloom never skipped a file")
    // non-point predicates never consult the bloom (a range can contain
    // keys the bloom was never asked about): [3, 9] overlaps all three
    // stripes, so all three files plan despite none holding 3, 5, 7, 9
    assert(planned(GreaterThanOrEqual("rowkey", 3L), LessThanOrEqual("rowkey", 9L)) == 3)
    // old-format index lines (no bloom column) never skip: key 7 sits
    // inside all three [min,max] ranges, so without blooms all plan
    KvMeta.commit(dir, meta.values.map(_.copy(bloomHex = None)).toSeq)
    assert(planned(EqualTo("rowkey", 7L)) == 3)
  }

  test("pushed limit stops each partition reader after n surviving cells") {
    val dir = Files.createTempDirectory("kvspec_limit").toString
    val metas = Seq(mkFile(dir, 1L to 100L), mkFile(dir, 101L to 200L))
    new KvBatchWrite(dir).commit(metas.map(m => KvCommitMessage(Some(m))).toArray)
    def drain(scan: KvScan): Long = {
      KvReadStats.reset(dir)
      scan.planInputPartitions().foreach { p =>
        val r = scan.createReaderFactory().createReader(p)
        try while (r.next()) { r.get(); () } finally r.close()
      }
      KvReadStats.forDir(dir).cellsEmitted.get()
    }
    // no limit: the full 200 cells stream out
    assert(drain(new KvScan(dir, KvFormat.schema, Array.empty)) == 200L)
    // limit 5: each of the 2 files stops after 5 cells — 10 emitted, not 200,
    // and the reader stops READING too (≤ 5+1 lines per file, not 100)
    assert(drain(new KvScan(dir, KvFormat.schema, Array.empty, Some(5))) == 10L)
    assert(KvReadStats.forDir(dir).linesRead.get() <= 12L)
    // limit composes with a pushed filter: 5 SURVIVING cells per file
    val filtered = new KvScan(dir, KvFormat.schema,
      Array[Filter](GreaterThan("rowkey", 50L)), Some(5))
    assert(drain(filtered) == 10L)
    // the end-to-end DataFrame path actually pushes the limit
    val spark = graft.TestSpark.spark
    KvReadStats.reset(dir)
    val got = spark.read.format("graft-kv").load(dir).limit(5).collect()
    assert(got.length == 5)
    assert(KvReadStats.forDir(dir).cellsEmitted.get() <= 10L, // ≤ n per file, NOT the full store
      s"limit not pushed: ${KvReadStats.forDir(dir).cellsEmitted.get()} cells emitted")
  }

  test("count/min/max push down to the stats index — zero data bytes read") {
    val dir = Files.createTempDirectory("kvspec_agg").toString
    val metas = Seq(mkFile(dir, 5L to 104L), mkFile(dir, 200L to 299L))
    new KvBatchWrite(dir).commit(metas.map(m => KvCommitMessage(Some(m))).toArray)
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-kv").load(dir)
    KvReadStats.reset(dir)
    val row = df.agg(count(lit(1)).as("n"), min("rowkey").as("mn"), max("rowkey").as("mx"))
      .collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((200L, 5L, 299L)))
    assert(KvReadStats.forDir(dir).cellsEmitted.get() == 0L,
      s"aggregate not answered from stats: ${KvReadStats.forDir(dir).cellsEmitted.get()} cells were read")
    // a filter makes metadata counts unsound → real scan, same answer shape
    KvReadStats.reset(dir)
    val filtered = df.filter(col("rowkey") > 100).agg(count(lit(1))).collect().head.getLong(0)
    assert(filtered == 104L) // 101..104 from file 1 + all 100 of file 2
    assert(KvReadStats.forDir(dir).cellsEmitted.get() > 0L, "filtered count must read data")
    // an unindexed file (hand-placed, or a task that committed after its
    // job aborted) is not part of the store: a scan never opens it, and
    // the count is still answered from the index with zero cells read
    Files.writeString(Paths.get(dir, "extra.kv"), "999\tq\tv\n")
    KvReadStats.reset(dir)
    assert(df.agg(count(lit(1))).collect().head.getLong(0) == 200L)
    assert(KvReadStats.forDir(dir).cellsEmitted.get() == 0L,
      "an unindexed file made the count read data")
    assert(df.filter(col("rowkey") === 999L).count() == 0L, "an unindexed file was read")
  }

  test("group-by-qualifier count pushes down to the stats index — zero data bytes read") {
    val dir = Files.createTempDirectory("kvspec_qagg").toString
    def mk(part: Int, cells: Seq[(Long, String)]): KvFileMeta = {
      val w = new KvDataWriter(dir, part, part.toLong)
      cells.foreach { case (r, q) =>
        w.write(InternalRow(r, UTF8String.fromString(q), UTF8String.fromString("v")))
      }
      (w.commit(): @unchecked) match { case KvCommitMessage(Some(m)) => m }
    }
    // qualifier "c,=x" exercises the breakdown column's own separators
    val m1 = mk(0, Seq((1L, "a"), (2L, "a"), (3L, "b")))
    val m2 = mk(1, Seq((4L, "b"), (5L, "c,=x"), (6L, "a")))
    new KvBatchWrite(dir).commit(Array(KvCommitMessage(Some(m1)), KvCommitMessage(Some(m2))))
    val spark = graft.TestSpark.spark
    val df = spark.read.format("graft-kv").load(dir)
    def grouped() = df.groupBy("qualifier").count().orderBy("qualifier").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    KvReadStats.reset(dir)
    assert(grouped() == Seq(("a", 3L), ("b", 2L), ("c,=x", 1L)))
    assert(KvReadStats.forDir(dir).cellsEmitted.get() == 0L,
      s"grouped count not answered from stats: ${KvReadStats.forDir(dir).cellsEmitted.get()} cells read")
    assert(df.groupBy("qualifier").count().queryExecution.executedPlan.toString
      .contains("group by qualifier"), "plan does not show the grouped stats scan")
    // an old-format index (6 columns, no qualifier breakdown) is
    // refused: same answer via a real scan, never a silent wrong one
    val idx = Paths.get(dir, KvMeta.FILE)
    Files.writeString(idx, Files.readAllLines(idx).stream()
      .map[String](l => l.split("\t", 7).take(6).mkString("\t"))
      .reduce("", (a, b) => if (a.isEmpty) b else a + "\n" + b) + "\n")
    KvReadStats.reset(dir)
    assert(grouped() == Seq(("a", 3L), ("b", 2L), ("c,=x", 1L)))
    assert(KvReadStats.forDir(dir).cellsEmitted.get() > 0L,
      "breakdown-less index must fall back to scanning")
    // the global count path is UNAFFECTED by the missing breakdown
    KvReadStats.reset(dir)
    import org.apache.spark.sql.functions._
    assert(df.agg(count(lit(1))).collect().head.getLong(0) == 6L)
    assert(KvReadStats.forDir(dir).cellsEmitted.get() == 0L)
  }

  test("a file that appears after planning without an index entry is not counted") {
    val dir = Files.createTempDirectory("kvspec_toctou").toString
    val m = mkFile(dir, 1L to 10L)
    new KvBatchWrite(dir).commit(Array(KvCommitMessage(Some(m))))
    val scan = new KvStatsScan(dir, KvAggPlan(byQualifier = false, Seq("count")))
    // the dir grows between planning and execution, but nothing indexed
    // the new file: it is not store content, so the count stays exact
    Files.writeString(Paths.get(dir, "late.kv"), "99\tq\tv\n")
    val Array(p: KvStatsPartition) = scan.planInputPartitions()
    assert(p.rows.map(_.toSeq) sameElements Array(Seq(10L)))
  }

  test("qualifier breakdown encoding roundtrips separator and unicode names") {
    val quals = Map("plain" -> 3L, "c,=x" -> 1L, "sp ace" -> 2L, "%25" -> 4L, "日本" -> 5L)
    assert(KvMeta.decodeQuals(KvMeta.encodeQuals(quals)) == quals)
    assert(KvMeta.decodeQuals("") == Map.empty[String, Long])
    // the EMPTY qualifier name is legal store content (HBase's empty
    // column qualifier); its token is '=N' and must round-trip, alone
    // and mixed with named qualifiers
    assert(KvMeta.decodeQuals(KvMeta.encodeQuals(Map("" -> 7L))) == Map("" -> 7L))
    val mixed = Map("" -> 2L, "q" -> 5L)
    assert(KvMeta.decodeQuals(KvMeta.encodeQuals(mixed)) == mixed)
    // a token with NO '=' at all is still corrupt
    intercept[IllegalArgumentException] { KvMeta.decodeQuals("noequals") }
  }

  test("a store holding an empty-qualifier cell stays readable and appendable") {
    val dir = Files.createTempDirectory("kvspec_emptyq").toString
    val w = new KvDataWriter(dir, 0, 0L)
    w.write(InternalRow(1L, UTF8String.fromString(""), UTF8String.fromString("v1")))
    w.write(InternalRow(2L, UTF8String.fromString("q"), UTF8String.fromString("v2")))
    new KvBatchWrite(dir).commit(Array(w.commit()))
    // the bug: decodeQuals rejected the '=N' token, so EVERY later read
    // of the stats index (appends merge via read; agg planning reads it)
    // threw "corrupt stats index" after one legally-written cell
    val metas = KvMeta.read(dir)
    assert(metas.values.map(_.qualCells).reduce(_ ++ _) == Map("" -> 1L, "q" -> 1L))
    val w2 = new KvDataWriter(dir, 1, 1L)
    w2.write(InternalRow(3L, UTF8String.fromString(""), UTF8String.fromString("v3")))
    new KvBatchWrite(dir).commit(Array(w2.commit()))
    assert(KvMeta.read(dir).values.flatMap(_.qualCells.get("")).sum == 2L)
  }

  test("pushed string comparison follows UTF8 byte order, not UTF-16") {
    // U+1F600 (surrogate pair D83D DE00) vs U+FFFF: UTF-16 compareTo says
    // the emoji sorts BELOW, UTF-8 byte order says ABOVE — the reader
    // must agree with Spark's UTF8String order.
    val emoji = new String(Character.toChars(0x1F600))
    val high = "￿"
    assert(emoji.compareTo(high) < 0, "precondition: UTF-16 order disagrees")
    assert(UTF8String.fromString(emoji).compareTo(UTF8String.fromString(high)) > 0)
    assert(KvFilterEval.eval(GreaterThanOrEqual("value", high), 1L, "q", emoji))
  }

  test("writer rejects nulls and separator bytes instead of corrupting the file") {
    val dir = Files.createTempDirectory("kvspec").toString
    val w = new KvDataWriter(dir, 0, 0L)
    def row(q: String, v: String) =
      InternalRow(1L, UTF8String.fromString(q), UTF8String.fromString(v))
    intercept[IllegalArgumentException] { w.write(row("q\tx", "v")) }
    intercept[IllegalArgumentException] { w.write(row("q", "v\nx")) }
    intercept[IllegalArgumentException] { w.write(InternalRow(1L, null, UTF8String.fromString("v"))) }
    w.abort()
    assert(KvFormat.dataFiles(dir).isEmpty)
  }

  test("job abort deletes files already committed by tasks") {
    val dir = Files.createTempDirectory("kvspec").toString
    val w = new KvDataWriter(dir, 0, 0L)
    w.write(InternalRow(7L, UTF8String.fromString("q"), UTF8String.fromString("v")))
    val msg = w.commit()
    assert(KvFormat.dataFiles(dir).size == 1)
    new KvBatchWrite(dir).abort(Array(msg))
    assert(KvFormat.dataFiles(dir).isEmpty)
  }

  test("aborted task leaves no temp file behind") {
    val dir = Files.createTempDirectory("kvspec").toString
    val w = new KvDataWriter(dir, 3, 9L)
    w.write(InternalRow(7L, UTF8String.fromString("q"), UTF8String.fromString("v")))
    w.abort()
    val left = Files.list(Paths.get(dir))
    try assert(!left.iterator().hasNext) finally left.close()
  }
}
