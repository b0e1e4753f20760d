package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** `Tables.load` reads each table's schema from its parquet footer on the
  * driver: it starts no Spark job, returns exactly the schema Spark's own
  * inference would, sees a rewritten file at once and fails on bad paths
  * as (or more clearly than) `spark.read.parquet`. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** What `Tables.load` built before it read footers: Spark's inference,
    * then the events.ts conversion. */
  private def inferred(dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(Tables.path(dir, name))
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else df
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("zero jobs: loading each sf0.001 table starts no Spark job") {
    Tables.all.foreach { t =>
      val (_, jobs) = jobsDuring(spark)(Tables.load(spark, sf, t).schema)
      assert(jobs == 0, s"Tables.load($t) started $jobs job(s)")
    }
  }

  test("schema parity: every sf0.001 table loads with the inferred schema") {
    Tables.all.foreach { t =>
      assert(Tables.load(spark, sf, t).schema == inferred(sf, t).schema, t)
    }
    // the fixture files carry no Spark row metadata, so events goes through
    // the converter: TIMESTAMP(NANOS) arrives as a long and is converted
    val events = Tables.load(spark, sf, "events")
    assert(events.schema("ts").dataType.typeName == "timestamp")
    assert(sorted(events.limit(5)) == sorted(inferred(sf, "events").limit(5)))
  }

  test("schema parity: a Spark-written multi-file table with row metadata") {
    val dir = tmpDir("tables_multi_")
    val rows = (0 until 40).map(i => (i.toLong, s"n$i", i % 3))
    rows.toDF("id", "name", "g")
      .select($"id", struct($"name", $"g").as("st"),
        array($"g".cast("float"), lit(0.5f)).as("vec"),
        timestamp_seconds($"id" * 3600).as("ts"),
        ($"id" / 7).cast("decimal(12,3)").as("amt"))
      .repartition(3).write.parquet(Tables.path(dir, "t"))
    val files = new java.io.File(Tables.path(dir, "t")).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 3)
    // Spark wrote its schema JSON into the footer: that branch is exercised
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(files.head.toURI), spark.sessionState.newHadoopConf()))
    try assert(footer.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey(ParquetReadSupport.SPARK_METADATA_KEY))
    finally footer.close()

    val got = Tables.load(spark, dir, "t")
    assert(got.schema == inferred(dir, "t").schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "st", "vec", "ts", "amt"))
    assert(sorted(got) == sorted(inferred(dir, "t")))
  }

  test("schema parity: a partitionBy table gets its partition column appended") {
    val dir = tmpDir("tables_part_")
    (0 until 30).map(i => (i.toLong, s"v$i", i % 3, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "v", "k", "s")
      .write.partitionBy("k", "s").parquet(Tables.path(dir, "t"))
    val (got, jobs) = jobsDuring(spark)(Tables.load(spark, dir, "t"))
    assert(jobs == 0)
    assert(got.schema == inferred(dir, "t").schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "k", "s"))
    assert(sorted(got) == sorted(inferred(dir, "t")))
    assert(got.filter($"k" === 1 && $"s" === "b").count() == 5)
  }

  test("schema parity: unparsable row metadata falls back to the parquet schema") {
    val dir = tmpDir("tables_badmeta_")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); optional double x; }")
    val writer = ExampleParquetWriter.builder(new Path(Tables.path(dir, "t")))
      .withType(schema)
      .withExtraMetaData(Map(ParquetReadSupport.SPARK_METADATA_KEY -> "{not json").asJava)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach(i =>
      writer.write(groups.newGroup().append("id", i.toLong).append("name", s"n$i").append("x", i * 0.5)))
    finally writer.close()
    val got = Tables.load(spark, dir, "t")
    assert(got.schema == inferred(dir, "t").schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "name", "x"))
    assert(sorted(got) == sorted(inferred(dir, "t")))
  }

  test("drifted file: a rewritten table is loaded with its new schema and rows") {
    val dir = tmpDir("tables_drift_")
    val p = Tables.path(dir, "t")
    Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "a", "b").coalesce(1).write.parquet(p)
    val before = Tables.load(spark, dir, "t")
    assert(before.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("id" -> "long", "a" -> "integer", "b" -> "string"))
    assert(before.collect().length == 2)

    Seq((3L, "x", "c", 1.5), (4L, "y", "d", 2.5), (5L, "z", "e", 3.5))
      .toDF("id", "a", "b", "c").coalesce(1).write.mode("overwrite").parquet(p)
    val after = Tables.load(spark, dir, "t")
    assert(after.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("id" -> "long", "a" -> "string", "b" -> "string", "c" -> "double"))
    assert(after.schema == inferred(dir, "t").schema)
    assert(sorted(after) == Seq(Row(3L, "x", "c", 1.5), Row(4L, "y", "d", 2.5),
      Row(5L, "z", "e", 3.5)).map(_.toString))
  }

  test("failure paths: a missing path fails as spark.read.parquet does") {
    val dir = tmpDir("tables_missing_")
    val want = intercept[Exception](spark.read.parquet(Tables.path(dir, "nope")))
    val got = intercept[Exception](Tables.load(spark, dir, "nope"))
    assert(got.getClass == want.getClass)
    assert(got.getMessage == want.getMessage)
  }

  test("failure paths: a non-parquet file or an empty directory fails naming the path") {
    val dir = tmpDir("tables_bad_")
    Files.writeString(Paths.get(Tables.path(dir, "text")), "not parquet at all\n")
    val notParquet = intercept[Exception](Tables.load(spark, dir, "text"))
    assert(notParquet.getMessage.contains(Tables.path(dir, "text")), notParquet.getMessage)

    Files.createDirectories(Paths.get(Tables.path(dir, "empty")))
    Files.writeString(Paths.get(Tables.path(dir, "empty"), "_SUCCESS"), "")
    val empty = intercept[Exception](Tables.load(spark, dir, "empty"))
    assert(empty.getMessage.contains(Tables.path(dir, "empty")), empty.getMessage)
  }
}
