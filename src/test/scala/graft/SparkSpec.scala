package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (one JVM, forked by sbt):
  * the same `GraftSession` configuration the graded runs use. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Run a registered query on sf0.001. */
  def run(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)
}

class EntrySpec extends SparkSpec {
  /** (file name, text) of every Scala source under `dir`. */
  private def scalaSources(dir: String): List[(String, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
    finally files.close()
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
  test("a SQL key spells the six dialect tokens per engine and reads events with a normalized ts") {
    val key = operators.Key.sql("dialect_probe") { t =>
      s"""SELECT event_id ${t.idiv} 2 AS half, CAST(event_id AS ${t.int128}) AS wide,
         |  CAST(event_id AS ${t.string}) AS id_text,
         |  DATE_DIFF(${t.unit("microsecond")}, ts, ts + INTERVAL 1 SECOND) AS us, ts, w
         |FROM (SELECT event_id, ts, ${t.unnest}(${t.split}('b a', ' ')) AS w FROM ${t("events")})
         |ORDER BY event_id, w LIMIT 1""".stripMargin
    }
    Seq("event_id // 2", "AS HUGEINT)", "AS VARCHAR)", "DATE_DIFF('microsecond', ts,",
      "unnest(string_split('b a', ' '))", "FROM events)").foreach { s =>
      assert(key.oracle.contains(s), s"oracle lacks `$s`:\n${key.oracle}")
    }
    val df = key.run(spark, sf)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val first = graft.sources.Tables.events(spark, sf).orderBy("event_id").limit(1).collect()(0)
    val id = first.getAs[Long]("event_id")
    val Array(row) = df.collect()
    assert(row.getAs[Long]("half") == id / 2)
    assert(row.getAs[java.math.BigDecimal]("wide").longValueExact == id)
    assert(row.getAs[String]("id_text") == id.toString)
    assert(row.getAs[Long]("us") == 1000000L)
    assert(row.getAs[java.sql.Timestamp]("ts") == first.getAs[java.sql.Timestamp]("ts"))
    assert(row.getAs[String]("w") == "a")
  }
  // (the former "every queries key has runnable result" full-surface loop
  // was dropped in r19: GoldenSpec executes every key on the same sf0.001
  // data AND pins its result checksum — a strictly stronger gate — so the
  // loop re-ran all 288 queries for ~10 min of pure redundancy, and the
  // 49-min suite exceeded the verify driver's wall-clock budget in r18)
  test("suite session is the GraftSession configuration") {
    assert(spark.sql("SELECT float_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
      .collect()(0).getDouble(0) == 2.0)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
  test("only GraftSession builds a SparkSession") {
    // one factory keeps every main and spec on one configuration; a
    // second builder call is how per-tool config drift comes back
    val builder = "SparkSession" + ".builder"
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => p.getFileName.toString != "GraftSession.scala" &&
      java.nio.file.Files.readString(p).contains(builder))
    assert(offenders.isEmpty, s"$builder outside GraftSession.scala: ${offenders.mkString(", ")}")
  }
  test("operators keep no process-level memo maps") {
    // built state (indexes, staged inputs) lives only in graft.util.Built,
    // where Bench's rerun hook sees it; a side cache in an operator is
    // state no rerun or cleanup can account for
    val banned = Seq("Trie" + "Map", "Process" + "Memo")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/operators"))
    val offenders = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        banned.filter(text.contains).map(b => s"$p: $b")
      } finally files.close()
    assert(offenders.isEmpty, s"memo maps in operators: ${offenders.mkString(", ")}")
  }
  test("only KvFiles renames, links or digests graft-kv storage") {
    // one module owns the storage protocol: its crash hook sees every
    // step, and a filesystem port changes one file
    val banned = Seq("ATOMIC_MOVE", "createLink", "DigestOutputStream", "MessageDigest", "Files.move")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/sources"))
    val offenders = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .filter(_.getFileName.toString != "KvFiles.scala")
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        banned.filter(text.contains).map(b => s"$p: $b")
      } finally files.close()
    assert(offenders.isEmpty, s"storage mutations outside KvFiles: ${offenders.mkString(", ")}")
  }
  test("a graft-kv store's file set is its committed index: no swap, adopt or listing reader") {
    // every mutation is "write invisible files, then one index commit":
    // no directory swap or rename-adopt exists, only KvFiles.publish
    // renames, and only scrub's orphan class and the staged replace's
    // sweep list a store directory
    val swap = "KvFiles\\.(install|recover|adopt)\\b".r
    val swapUsers = scalaSources("src").filter(f => swap.findFirstIn(f._2).isDefined).map(_._1)
    assert(swapUsers.isEmpty, s"directory swap or adopt used in ${swapUsers.mkString(", ")}")
    val main = scalaSources("src/main")
    val listers = main.flatMap { case (n, text) =>
      text.linesIterator.filter(l => l.contains("dataFiles(") && !l.contains("def dataFiles"))
        .map(_ => n)
    }
    assert(listers.sorted == List("KvCompaction.scala", "KvScrub.scala"),
      s"store directory listed outside scrub and the sweep: ${listers.mkString(", ")}")
    val sweep = main.collectFirst { case ("KvCompaction.scala", t) => t }.get
    val replace = sweep.indexOf("def replaceStaged(")
    assert(replace >= 0 && sweep.indexOf("dataFiles(") > replace &&
      sweep.indexOf("dataFiles(") < sweep.indexOf("\n  }\n", replace),
      "the listing in KvCompaction is not the staged replace's sweep")
    val moves = main.filter(_._2.contains("ATOMIC_MOVE"))
    val kvFiles = main.collectFirst { case ("KvFiles.scala", t) => t }.get
    val publish = kvFiles.indexOf("def publish(")
    assert(moves.map(_._1) == List("KvFiles.scala") &&
      kvFiles.indexOf("ATOMIC_MOVE") == kvFiles.lastIndexOf("ATOMIC_MOVE") &&
      publish >= 0 && kvFiles.indexOf("ATOMIC_MOVE") > publish &&
      kvFiles.indexOf("ATOMIC_MOVE") < kvFiles.indexOf("\n  }\n", publish),
      "an atomic rename outside KvFiles.publish")
  }
  test("no key writes the session catalog; SQL functions come only from GraftExtensions") {
    // temp views and temp functions are session-global: a key that
    // registers one changes what a concurrent key on the same session
    // resolves. SQL keys bind their tables on a child session of their
    // own (Key.bound, the one createTempView: see the homes test), and
    // every session installs GraftExtensions.
    val views = scalaSources("src/main").filter(_._2.contains("createOrReplaceTempView"))
    assert(views.isEmpty, s"temp views registered in ${views.map(_._1).mkString(", ")}")
    val register = "Exprs" + ".register("
    val registers = scalaSources("src").filter(_._2.contains(register))
    assert(registers.isEmpty, s"runtime function registration in ${registers.map(_._1).mkString(", ")}")
  }
  test("streams, session conf, snapshot layout and path SQL each have one home") {
    // one feed opens every stream and one runner starts and releases
    // every query; GraftSession.child derives every child session and
    // writes the only conf written at run time; the SQL key binder
    // registers the only temp views, on its own child session; only
    // KvSnapshots knows the snapshot layout; one frame computes the
    // embedding norms, one key explodes the embedding column (its output
    // format), and one expression holds the int8 scale; no model rides
    // in a plan as a literal; and no SQL text reads a table by path, so
    // every table read goes through the schema memo.
    // A home is a file, or one member of it: the text between the blank
    // lines around its def.
    val homes = Seq(
      ("readStream", "TimeSeries.scala", Some("def openFeed(")),
      ("writeStream", "TimeSeries.scala", Some("def runStream(")),
      ("resetTerminated", "TimeSeries.scala", Some("def runStream(")),
      ("newSession(", "GraftSession.scala", Some("def child(")),
      ("conf.set(", "GraftSession.scala", Some("def child(")),
      ("createTempView", "Key.scala", Some("def bound(")),
      ("MANIFEST.json", "KvSnapshots.scala", None),
      ("float_dot(embedding, embedding)", "LlmVector.scala", Some("def normed(")),
      ("posexplode(col(\"embedding\"))", "LlmVector.scala", Some("def llmEmbedQuantize(")),
      ("/ 127\")", "LlmVector.scala", Some("private val int8Scale")))
    val main = scalaSources("src/main")
    val literals = main.filter(_._2.contains("typedLit(")).map(_._1)
    assert(literals.isEmpty, s"typedLit( in ${literals.mkString(", ")}")
    val pathSql = main.filter(_._2.contains("parquet.`")).map(_._1)
    assert(pathSql.isEmpty, s"SQL text reads parquet by path in ${pathSql.mkString(", ")}")
    def at(text: String, pattern: String): Iterator[Int] =
      Iterator.iterate(text.indexOf(pattern))(i => text.indexOf(pattern, i + 1)).takeWhile(_ >= 0)
    val strays = for {
      (pattern, home, member) <- homes
      (file, text) <- main
      i <- at(text, pattern)
      inHome = file == home && member.forall { m =>
        val d = text.indexOf(m)
        d >= 0 && text.lastIndexOf("\n\n", d) < i && i < text.indexOf("\n\n", d)
      }
      if !inHome
    } yield s"$pattern in $file"
    assert(strays.isEmpty, s"outside their one home: ${strays.distinct.mkString(", ")}")
    homes.foreach { case (pattern, home, _) =>
      assert(main.exists { case (f, t) => f == home && t.contains(pattern) }, s"$pattern gone from $home")
    }
  }
  test("events with INT64 TIMESTAMP(NANOS) ts read as microsecond timestamps on every session") {
    // the original testdata layout of events.parquet: the session factory
    // reads nanos as longs and Tables.events truncates them to µs
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |}""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("nanos_events")
    val nanos = Seq(1700000000123456789L, 1700000001000000999L, 1700003600999999999L)
    val writer = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toUri))
      .withType(schema).build()
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", ns).append("user_id", 7L))
    } finally writer.close()
    Seq(spark, spark.newSession()).foreach { s =>
      val ev = graft.sources.Tables.events(s, dir.toString)
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val micros = ev.orderBy("event_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
      assert(micros.toSeq == nanos.map(_ / 1000), s"ts not truncated to µs: ${micros.mkString(", ")}")
    }
  }
  test("SQL keys run concurrently on two sf dirs each read their own tables") {
    val dirs = Seq(sf, "/root/testdata/sf0.01")
    val keys = Seq("sql_q3_shipping_priority", "filter_exists")
    def sums(dir: String): Seq[String] =
      keys.map(k => GoldenDump.checksum(SparkEntry.queries(k)(spark, dir)))
    val serial = dirs.map(sums)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 20).foreach { round =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = dirs.map(d => pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = { start.await(); sums(d) }
      }))
      start.countDown()
      runs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS)).zip(serial).zip(dirs)
        .foreach { case ((got, want), d) => assert(got == want, s"round $round: $d") }
    } finally pool.shutdownNow()
  }
  test("SQL keys leave no temporary view on the caller's session") {
    val declared = "Key\\.sql\\(\"(\\w+)\"\\)".r
    val names = scalaSources("src/main").flatMap { case (_, t) => declared.findAllMatchIn(t).map(_.group(1)) }
    assert(names.nonEmpty && names.forall(SparkEntry.queries.contains), s"SQL keys: $names")
    names.foreach(n => run(n).queryExecution.toRdd.count())
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(views.isEmpty, s"temporary views left on the suite session: ${views.mkString(", ")}")
  }
  test("every query is oracle-checked and the count matches SURVEY §2.B") {
    // the full-bar invariant since round 3: no rows-only keys — every
    // declared key gets the hash-match oracle gate
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"query keys without an oracle: $unchecked")
    // SURVEY §2.B's "Count: N keys" line must track this number — a new
    // key without a doc update (or vice versa) fails here, on purpose
    assert(SparkEntry.queries.size == 288,
      s"SparkEntry.queries.size == ${SparkEntry.queries.size}; update SURVEY §2.B's count line and this pin together")
  }
}

class AggregationSpec extends SparkSpec {
  test("agg_pricing_summary groups by flag+status with positive sums") {
    val rows = run("agg_pricing_summary").collect()
    assert(rows.length >= 4)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }
}
