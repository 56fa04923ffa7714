package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.{GraftSession, SparkSpec}
import graft.util.{Built, Scratch}

/** `Tables.read`'s schema memo: one inference per path, version and
  * Parquet type mapping. */
class TablesSpec extends SparkSpec {

  private def withDir(tag: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(s"tablesspec_$tag").toString
    try body(s"$dir/t.parquet") finally Scratch.deleteTree(dir)
  }

  test("a table's second read starts no Spark job") {
    withDir("jobs") { path =>
      spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(path)
      Tables.read(spark, path)
      // the jobs this thread starts, by description; listener events
      // arrive in order, so every job between the markers is seen once
      // the second marker is
      val sc = spark.sparkContext
      val tag = s"tablesspec-${System.nanoTime()}"
      val jobs = new ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          Option(js.properties).filter(_.getProperty("tablesspec.tag") == tag)
            .foreach(p => jobs.add(String.valueOf(p.getProperty("spark.job.description"))))
      }
      def marker(name: String): Unit = {
        sc.setJobDescription(name)
        try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      }
      sc.addSparkListener(listener)
      sc.setLocalProperty("tablesspec.tag", tag)
      try {
        marker("a")
        val df = Tables.read(spark, path)
        marker("b")
        val deadline = System.nanoTime() + 30e9.toLong
        while (!jobs.contains("b") && System.nanoTime() < deadline) Thread.sleep(20)
        assert(jobs.asScala.toList == List("a", "b"), s"jobs between the markers: ${jobs.asScala.mkString(", ")}")
        assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
      } finally {
        sc.setLocalProperty("tablesspec.tag", null)
        sc.removeSparkListener(listener)
      }
    }
  }

  test("a table rewritten at its path with an added column is read with its new schema") {
    withDir("rewrite") { path =>
      spark.range(3).toDF("id").write.parquet(path)
      assert(Tables.read(spark, path).schema.fieldNames.toSeq == Seq("id"))
      spark.range(3).selectExpr("id", "id + 100 AS added").write.mode("overwrite").parquet(path)
      val again = Tables.read(spark, path)
      assert(again.schema.fieldNames.toSeq == Seq("id", "added"))
      assert(again.orderBy("id").collect().map(_.getLong(1)).toSeq == Seq(100L, 101L, 102L))
    }
  }

  test("a session that maps Parquet types differently gets its own memo entry") {
    withDir("mapping") { path =>
      // an un-annotated BINARY column in a file with no Spark schema in
      // its footer: binaryAsString decides what type it reads as
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message t { required int64 id; required binary b; }")
      val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
        .withType(schema).build()
      try (0 to 1).foreach { i =>
        writer.write(new SimpleGroupFactory(schema).newGroup().append("id", i.toLong).append("b", i.toString))
      } finally writer.close()
      assert(Tables.read(spark, path).schema("b").dataType == BinaryType)
      val asString = GraftSession.child(spark, "spark.sql.parquet.binaryAsString" -> "true")
      val read = Tables.read(asString, path)
      assert(read.schema("b").dataType == StringType)
      assert(read.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("0", "1"))
      assert(Tables.read(spark, path).schema("b").dataType == BinaryType)
      assert(Built.keys.count(_.startsWith(s"parquet.schema:$path|")) == 2)
    }
  }
}
