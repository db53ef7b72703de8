package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

/** `Tables.read` infers a table's parquet schema once and passes it in on
  * every later read. These cases pin when the kept schema may be served:
  * only for the same files under the same schema confs, on any session.
  */
class TablesSpec extends SparkSpec {

  private def withTempDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-tables")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  /** Writes `df` as ONE parquet file at `dir/name.parquet` (the testdata
    * shape), replacing whatever file is there. */
  private def writeSingleFile(df: DataFrame, dir: Path, name: String): Unit = {
    val staging = dir.resolve(s"$name.staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a warm read of an unchanged table starts no job before an action") {
    val cold = Tables.read(spark, sf, "nation")
    val fanned = Tables.documentsFanned(spark, sf)
    assert(jobsDuring(Tables.read(spark, sf, "nation")) === 0)
    assert(jobsDuring(Tables.documentsFanned(spark, sf)) === 0)
    assert(Tables.read(spark, sf, "nation").schema === cold.schema)
    assert(Tables.documentsFanned(spark, sf).schema === fanned.schema)
    assert(Tables.read(spark, sf, "nation").count() === cold.count())
  }

  test("a table rewritten at the same path reads back with its new schema") {
    withTempDir { dir =>
      val single = dir.resolve("single")
      Files.createDirectories(single)
      writeSingleFile(spark.range(3).toDF("a"), single, "t")
      assert(Tables.read(spark, single.toString, "t").columns.toSeq === Seq("a"))
      writeSingleFile(spark.range(5).select(col("id").cast("string").as("b"), lit(7L).as("c")),
        single, "t")
      val file = Tables.read(spark, single.toString, "t")
      assert(file.columns.toSeq === Seq("b", "c"))
      assert(file.count() === 5)

      // a Spark-written directory rewritten in place
      val path = dir.resolve("t.parquet").toString
      spark.range(3).toDF("a").write.parquet(path)
      assert(Tables.read(spark, dir.toString, "t").columns.toSeq === Seq("a"))
      spark.range(4).select(col("id").as("x"), lit("y").as("y")).write.mode("overwrite").parquet(path)
      val directory = Tables.read(spark, dir.toString, "t")
      assert(directory.columns.toSeq === Seq("x", "y"))
      assert(directory.where(col("y") === "y").count() === 4)
    }
  }

  test("toggling spark.sql.parquet.binaryAsString changes a binary column's type") {
    withTempDir { dir =>
      // written with parquet's own writer: a Spark-written file carries its
      // Spark schema in the footer, which the reader prefers over the conf
      val schema = MessageTypeParser.parseMessageType(
        "message t { required int64 id; required binary payload; }")
      val writer = ExampleParquetWriter.builder(new HPath(dir.resolve("bin.parquet").toString))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("payload", "a"))
      finally writer.close()
      def payloadType = Tables.read(spark, dir.toString, "bin").schema("payload").dataType
      val key = "spark.sql.parquet.binaryAsString"
      try {
        assert(payloadType === BinaryType)
        spark.conf.set(key, "true")
        assert(payloadType === StringType)
        assert(Tables.read(spark, dir.toString, "bin").head().getString(1) === "a")
        spark.conf.set(key, "false")
        assert(payloadType === BinaryType)
      } finally spark.conf.unset(key)
    }
  }

  test("a read inside foreachBatch on a cloned session gets the same schema") {
    val expected = Tables.read(spark, sf, "customer").schema
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, StructType)]()
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[Int]
    val q = mem.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Int], _: Long) =>
        val clone = batch.sparkSession
        seen.add((clone ne s, Tables.read(clone, sf, "customer").schema))
        ()
      }
      .start()
    try { mem.addData(1, 2); q.processAllAvailable() }
    finally q.stop()
    assert(seen.size === 1)
    val (cloned, schema) = seen.peek()
    assert(cloned, "foreachBatch ran on the parent session, not a clone")
    assert(schema === expected)
  }
}
