package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, lit}

/** Reading a maintainer's generations ([[Generations.readNames]],
  * [[Generations.readLive]]) starts no Spark job: each generation's schema
  * comes from its parquet footer on the driver, and the result equals the
  * per-generation inferred union it replaces — same schema, same rows,
  * same failures, same partition pruning. A serve built over live state
  * is therefore job-free until it runs.
  *
  * Every generation set here stays under 32 generations and 32 partition
  * directories per generation: above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) Spark
  * lists a root's directories with a parallel listing job. That is a
  * listing job, not a schema-inference job, and is not what these laws
  * count.
  */
class GenerationsReadSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def rows(g: Int): DataFrame =
    (0 until 6).map(i => (g * 100L + i, s"v$g-$i", i % 3)).toDF("id", "v", "cell_id")

  private def write(df: DataFrame, path: String, partitioned: Boolean): Unit = {
    val w = df.coalesce(1).write.mode(SaveMode.Overwrite)
    (if (partitioned) w.partitionBy("cell_id") else w).parquet(path)
  }

  /** `n` live generations under a fresh dir: `gen-0` folded into a
    * manifested `gen-compact-1` (`gen-0` stays on disk, excluded by the
    * manifest, as between a fold's commit and its sources' delete), then
    * `gen-1` … `gen-<n-1>`. */
  private def generations(n: Int, partitioned: Boolean): String = {
    val dir = tmpDir("graft_genread_")
    write(rows(0), s"$dir/gen-0", partitioned)
    Generations.replaceManifested(spark, dir, rows(0),
      partitionCols = if (partitioned) Seq("cell_id") else Nil)
    (1 until n).foreach(g => write(rows(g), s"$dir/gen-$g", partitioned))
    val live = Generations.live(spark, dir)
    assert(live.size == n && live.contains("gen-compact-1") && !live.contains("gen-0"))
    assert(Generations.committed(spark, dir, "gen-").contains("gen-0"))
    dir
  }

  /** The per-generation inferred union the reader replaces. */
  private def inferredUnion(dir: String): DataFrame =
    Generations.live(spark, dir).map(n => spark.read.parquet(s"$dir/$n"))
      .reduce(_.unionByName(_))

  private def condition(e: Throwable): String = e match {
    case a: AnalysisException => a.getCondition
    case other => fail(s"expected an AnalysisException, got $other")
  }

  for (partitioned <- Seq(false, true); n <- Seq(1, 4, 12)) {
    val layout = if (partitioned) "partitionBy(cell_id)" else "flat"
    test(s"$layout, $n generations: readLive/readNames build with 0 jobs and equal the inferred union") {
      val dir = generations(n, partitioned)
      val (live, liveJobs) = jobsDuring(spark)(Generations.readLive(spark, dir))
      val (named, namedJobs) = jobsDuring(spark)(
        Generations.readNames(spark, dir, Generations.live(spark, dir)))
      assert(liveJobs == 0, s"readLive over $n generations started $liveJobs job(s)")
      assert(namedJobs == 0, s"readNames over $n generations started $namedJobs job(s)")
      val want = inferredUnion(dir)
      assert(live.schema == want.schema)
      assert(named.schema == want.schema)
      assert(sorted(live) == sorted(want))
      assert(sorted(named) == sorted(want))
      assert(live.count() == 6L * n)
    }
  }

  for (partitioned <- Seq(false, true)) {
    val layout = if (partitioned) "partitionBy(cell_id)" else "flat"

    test(s"$layout: a generation with reordered columns reads as the inferred union does") {
      val dir = generations(4, partitioned)
      write(rows(4).select("v", "id", "cell_id"), s"$dir/gen-4", partitioned)
      val got = Generations.readLive(spark, dir)
      val want = inferredUnion(dir)
      assert(got.schema == want.schema)
      assert(sorted(got) == sorted(want))
      assert(got.count() == 30L)
    }

    test(s"$layout: a generation with an extra column fails as the inferred union does") {
      val dir = generations(4, partitioned)
      write(rows(4).withColumn("extra", lit(1)), s"$dir/gen-4", partitioned)
      val want = intercept[Exception](inferredUnion(dir))
      val got = intercept[Exception](Generations.readLive(spark, dir))
      assert(condition(got) == condition(want), got.getMessage)
    }

    test(s"$layout: a _SUCCESS-only generation fails with UNABLE_TO_INFER_SCHEMA naming it") {
      val dir = generations(4, partitioned)
      Files.createDirectories(Paths.get(s"$dir/gen-4"))
      Files.writeString(Paths.get(s"$dir/gen-4/_SUCCESS"), "")
      val got = intercept[Exception](Generations.readLive(spark, dir))
      assert(condition(got) == "UNABLE_TO_INFER_SCHEMA", got.getMessage)
      assert(got.getMessage.contains(s"$dir/gen-4"), got.getMessage)
    }
  }

  test("no live generation fails with the committed-generations message") {
    val empty = tmpDir("graft_genread_none_")
    val uncommitted = tmpDir("graft_genread_uncommitted_")
    write(rows(0), s"$uncommitted/gen-0", partitioned = false)
    Files.delete(Paths.get(s"$uncommitted/gen-0/_SUCCESS"))
    Seq(empty, uncommitted, s"$empty/missing").foreach { dir =>
      val got = intercept[IllegalArgumentException](Generations.readLive(spark, dir))
      assert(got.getMessage.contains(s"no committed 'gen-' generations under $dir"),
        got.getMessage)
    }
  }

  test("a cell_id filter after readLive prunes partitions in every generation's scan") {
    val dir = generations(4, partitioned = true)
    val got = Generations.readLive(spark, dir).filter(col("cell_id") === 1)
    val scans = got.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 4)
    scans.foreach(s => assert(s.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
      s"scan without a cell_id partition filter:\n$s"))
    assert(sorted(got) == sorted(inferredUnion(dir).filter(col("cell_id") === 1)))
    assert(got.count() == 8L)
  }

  test("serves over 4 generations build with 0 jobs") {
    val root = tmpDir("graft_genread_serves_")
    def state(sub: String, gen: Int => DataFrame): Unit =
      (0 until 4).foreach(g => write(gen(g), s"$root/$sub/rows/gen-$g", partitioned = false))
    state("hist", g => Seq(("2024-01-01", g, 3L), ("2024-01-02", 1, 2L)).toDF("day", "bin", "n"))
    state("kmv", g => Seq(("a", g * 10L), ("b", g * 10L + 1)).toDF("key", "h"))
    state("cap", g => Seq(("s1", g * 2L), ("s2", g * 2L + 1)).toDF("source", "doc_id"))
    (0 until 4).foreach(g => write(
      Seq((g.toLong, g + 1L, 0.5), (g + 1L, g.toLong, 0.5)).toDF("vec_id", "nbr_id", "score"),
      s"$root/knn/edges/gen-$g", partitioned = false))
    val serves = Seq[(String, () => DataFrame)](
      "StreamHist.histogram" -> (() => StreamHist.histogram(spark, s"$root/hist")),
      "StreamKmv.sketch" -> (() => StreamKmv.sketch(spark, s"$root/kmv", k = 4)),
      "StreamCap.kept" -> (() => StreamCap.kept(spark, s"$root/cap", cap = 1)),
      "StreamKnn.graph" -> (() => StreamKnn.graph(spark, s"$root/knn", nn = 1)))
    serves.foreach { case (name, serve) =>
      val (df, jobs) = jobsDuring(spark)(serve())
      assert(jobs == 0, s"$name started $jobs job(s) while building")
      assert(df.count() > 0, name)
    }
  }
}
