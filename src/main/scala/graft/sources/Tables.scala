package graft.sources

import java.io.FileNotFoundException

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's query-layer seam: an external table over files
  * registered in a catalog (reference: Athena DDL at
  * docs/athena-integrity-check.md:26-39). Here the catalog is Spark's own
  * session catalog and the storage format is columnar Parquet, which gives
  * predicate pushdown + column pruning for free — at 100 TB the scan cost
  * is dominated by how few bytes we can get away with reading, so every
  * query below should show PushedFilters / narrow ReadSchema in explain().
  *
  * Loading runs no Spark job. A bare `spark.read` of parquet starts a
  * one-task schema-inference job on every call just to read one footer;
  * [[read]] reads that footer on the driver instead and hands the result
  * to `spark.read.schema(_).parquet(paths: _*)`. The schema is the one
  * Spark's inference returns (its footer logic, which is `private[parquet]`,
  * is mirrored here), read afresh on every read: a rewritten file is seen
  * at once, and there is no schema copy that could drift from the files.
  * Every parquet read in `graft.sources` and `graft.streaming` goes
  * through [[read]].
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, path(dir, name))
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads with
    // spark.sql.legacy.parquet.nanosAsLong=true (set in our sessions) as a
    // raw long. Convert to a proper timestamp here; integer DIV, not /1000.0
    // — epoch-nanos (~1.7e18) exceed double's 2^53 exact-integer range.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else df
  }

  /** A parquet read of `paths` that starts no job: the scan `spark.read`
    * builds, with the schema its inference would return read on the
    * driver ([[footerSchema]]). Partition columns are still discovered
    * from the `k=v` directories, and filters on them still prune. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(footerSchema(spark, paths)).parquet(paths: _*)

  /** The data schema a parquet read of `paths` would infer, read on the
    * driver from the footer of the first data file across all of them.
    * As in Spark's inference with `mergeSchema` off (its default):
    *   - the first data file is the least by full path among the files
    *     Spark lists under every path — names starting `_` (unless they
    *     hold `=`, as partition directories may) or `.`, and `._COPYING_`
    *     files are skipped, subdirectories are recursed into; partition
    *     columns are not in the footer, Spark appends them from the `k=v`
    *     directories; summary files (`_metadata`, which Spark no longer
    *     writes) are not consulted;
    *   - the footer's Spark row metadata (the writer's schema JSON) wins;
    *     without it, or if it does not parse, the parquet schema goes
    *     through Spark's converter under the session's parquet flags (so
    *     `nanosAsLong` still turns TIMESTAMP(NANOS) into a long).
    * A missing path fails as `spark.read` does (`PATH_NOT_FOUND`); no data
    * file and an unreadable footer fail naming the path. */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map { p =>
      val root = new Path(p)
      val fs = root.getFileSystem(conf)
      val qualified = fs.makeQualified(root)
      val first =
        try firstDataFile(fs, fs.getFileStatus(root))
        catch {
          case _: FileNotFoundException => throw new AnalysisException(
            "PATH_NOT_FOUND", Map("path" -> qualified.toString))
        }
      (qualified, first.map(f => (fs.makeQualified(f.getPath), f)))
    }
    val file = roots.flatMap(_._2).minByOption(_._1.toString).map(_._2)
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> s"Parquet at ${roots.map(_._1).mkString(", ")} (no data file)")))
    val meta =
      try ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
      catch {
        case e: RuntimeException => throw new SparkException(
          "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER", Map("path" -> file.getPath.toString), e)
      }
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption)
      .getOrElse {
        val c = spark.sessionState.conf
        // the flags Spark's own schema inference passes; the rest stay default
        new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
          .convert(meta.getSchema)
      }
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Depth-first over name-ordered children, a directory keyed by its name
    * plus `/`: the first file reached is the least full path, the order
    * Spark sorts its listed files in before taking the head. */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else fs.listStatus(st.getPath)
      .filterNot(c => hidden(c.getPath.getName))
      .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
      .iterator.flatMap(firstDataFile(fs, _)).nextOption()

  /** Register every table as a temp view so both the DataFrame and the
    * spark.sql entry points (reference entry point C, SURVEY §3.3) work. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
