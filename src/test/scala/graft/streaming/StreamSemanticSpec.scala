package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, Similarity}

/** Continuous semantic gate: after any sequence of arrival batches —
  * across restarts and compaction cycles — the landed survivor set
  * equals the serial fold of the batch incremental operator over the
  * same arrival order (the gate's defining law: landed data always
  * wins, within-batch smaller id wins).
  */
class StreamSemanticSpec extends SparkTestBase {
  import spark.implicits._

  test("stream survivors equal the serial batch fold, cross-restart and across compaction") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val centroids = Similarity.landedQuantizers(spark, dir)._1
    val base = emb.as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
      .filter(_._2.exists(_ != 0f)) // zero vectors have no cosine — keep them out
    def scaled(rows: Seq[(Long, Array[Float])], off: Long) =
      rows.map { case (id, v) => (id + off, v.map(x => (x * 1.01).toFloat)) }
    def negated(rows: Seq[(Long, Array[Float])], off: Long) =
      rows.map { case (id, v) => (id + off, v.map(x => (-x).toFloat)) }
    // b1: originals; b2: near-copies of b1 (drop) + negated fresh
    // (survive); b3: near-copies of b2's negated SURVIVORS (cross-batch
    // drop against batch-2 landings) + one more fresh negation
    val b1 = base.take(40)
    val b2 = scaled(b1.take(10), 1000L) ++ negated(b1.slice(10, 20), 2000L)
    val b3 = scaled(negated(b1.slice(10, 15), 2000L), 3000L) ++
      negated(b1.slice(20, 25), 4000L)
    val batches = Seq(b1, b2, b3)

    val tmp = Files.createTempDirectory("graft_ssem_").toString
    val (indexDir, outDir, ckpt) = (s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt")
    val input = MemoryStream[(Long, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Float])], spark.sqlContext)
    def runOnce(): Unit =
      StreamSemantic.start(
        input.toDF().toDF("vec_id", "embedding"), indexDir, outDir, ckpt,
        centroids, compactEvery = 2).awaitTermination()
    batches.foreach { b => input.addData(b: _*); runOnce() }

    val got = StreamSemantic.cleanedVectors(spark, outDir)
      .select("vec_id").as[Long].collect().toSet

    // the defining law: serial fold of the batch operator over the same
    // arrival order (corpus grows by each batch's own survivors)
    var corpus = Seq.empty[(Long, Array[Float])]
    batches.foreach { b =>
      val keep = Dedup.incrementalSemanticNew(
        corpus.toDF("vec_id", "embedding"), b.toDF("vec_id", "embedding"),
        centroids).as[Long].collect().toSet
      corpus = corpus ++ b.filter(r => keep(r._1))
    }
    val want = corpus.map(_._1).toSet
    assert(got == want, s"stream ≠ serial fold: extra=${got.diff(want)} missing=${want.diff(got)}")

    // non-vacuity: scaled copies dropped, negated fresh survived, and a
    // CROSS-BATCH drop happened (b3's copies of b2 survivors)
    assert(b2.take(10).forall(r => !got(r._1)), "b2's near-copies must drop")
    assert(b2.drop(10).forall(r => got(r._1)), "b2's negated fresh must survive")
    assert(b3.take(5).forall(r => !got(r._1)),
      "b3's copies of b2 survivors must drop cross-batch")

    // the index accumulated exactly the survivors' assignment rows
    val idx = StreamSemantic.currentIndex(spark, indexDir,
      template = sys.error("index must not be empty"))
    assert(idx.select("vec_id").as[Long].collect().toSet == want)
    // fold at id 1 had one settled source (no-op); run one manual cycle
    // and re-check the probe answer survives compaction
    StreamSemantic.compactIndex(spark, indexDir)
    val afterIdx = StreamSemantic.currentIndex(spark, indexDir,
      template = sys.error("index must not be empty"))
    assert(afterIdx.select("vec_id").as[Long].collect().toSet == want)
  }

  test("driftMonitor equals the batch PSI tail over the gate's accumulated assignments") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val arrivals = emb.filter(col("vec_id") % 3 === 1)
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val tmp = Files.createTempDirectory("graft_ssem_drift_").toString
    val input = MemoryStream[(Long, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Float])],
      spark.sqlContext)
    def runOnce(): Unit =
      StreamSemantic.startFromLanded(
        input.toDF().toDF("vec_id", "embedding"),
        s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt", dir).awaitTermination()
    val halves = arrivals.grouped((arrivals.size + 1) / 2).toSeq
    input.addData(halves(0): _*); runOnce()
    input.addData(halves(1): _*); runOnce()

    val cent = graft.operators.Similarity.landedQuantizers(spark, dir)._1
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    // both slices through the TWO-LEVEL assignment — the gate lands hier
    // cells (round-14 adoption), and the monitor law is "same binning
    // function on both sides"
    val nb = graft.operators.Similarity.ivfAssignHier(emb, cent)
      .groupBy("cell_id").agg(fcount(flit(1)).as("n_base"))
    val survivors = StreamSemantic.cleanedVectors(spark, s"$tmp/out")
      .select("vec_id", "embedding")
    val nc = graft.operators.Similarity.ivfAssignHier(survivors, cent)
      .groupBy("cell_id").agg(fcount(flit(1)).as("n_cur"))
    val want = graft.operators.Similarity
      .psiFromCounts(cent.select("cell_id"), nb, nc)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSet
    val got = StreamSemantic.driftMonitor(spark, s"$tmp/idx", dir)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSet
    assert(got == want, s"monitor ≠ batch tail")
    assert(got.nonEmpty && got.exists(_._3 > 0), "arrivals must have landed")
  }
}
