package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for landed tables — the operational operator every
  * streaming append sink eventually needs: micro-batches land one-file-per
  * -partition-per-batch (the reference's JSON sink would hit this within
  * hours, spark/app/spark_processing.py:151-162), and scan cost at 100 TB
  * is dominated by file count once files are small (footer reads, task
  * scheduling, no row-group parallelism).
  *
  * Rewrites a parquet directory into ~`targetBytes` files: file count from
  * the ACTUAL input byte size (compressed on-disk size, so the estimate
  * carries the same compression ratio), `repartition(n)` for plain
  * rebinning or `repartitionByRange(n, key)` + in-file sort when a cluster
  * key is given — range-disjoint sorted files give later scans min/max
  * row-group pruning on that key (the poor man's clustering index).
  * Output goes to a NEW directory: compaction of a live table must be
  * swap-on-success (write, verify, atomically re-point), never in-place.
  */
object Compaction {

  /** Returns (inputFiles, outputFiles). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L << 20,
      clusterBy: Option[String] = None): (Int, Int) = {
    require(targetBytes > 0)
    val df = Tables.read(spark, inPath)
    val fs = new Path(inPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = df.inputFiles
    val totalBytes = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val out = clusterBy match {
      case Some(key) => df.repartitionByRange(n, col(key)).sortWithinPartitions(key)
      case None      => df.repartition(n)
    }
    out.write.mode(SaveMode.Overwrite).parquet(outPath)
    (files.length, Tables.read(spark, outPath).inputFiles.length)
  }
}
