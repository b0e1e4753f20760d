package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.TextAnalysis

/** Streamed hybrid retrieval: after any sequence of (text, embedding)
  * arrival batches — across restarts and compaction cycles — the fused
  * hybrid answer equals the batch hybridSearch on the union of
  * everything that arrived.
  */
class StreamHybridSpec extends SparkTestBase {
  import spark.implicits._

  test("post-stream hybrid search equals batch hybridSearch on the union corpus") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val embs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val ids = docs.keySet.intersect(embs.keySet).toSeq.sorted
    assert(ids.contains(0L), "probe vector 0 must exist in the fixture")
    val all = ids.map(i => (i, docs(i), embs(i)))
    val q = TextAnalysis.searchQuery
    val batches = (0 to 3).map(i => all.filter(_._1 % 4 == i))
    val tmp = Files.createTempDirectory("graft_shybrid_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[(Long, String, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, String, Array[Float])],
      spark.sqlContext)
    // each runOnce is a fresh AvailableNow query off the shared
    // checkpoint — i.e. every batch boundary here IS a restart
    def runOnce(): Unit =
      StreamHybrid.start(
        input.toDF().toDF("doc_id", "text", "embedding"), state, ckpt,
        compactEvery = 2).awaitTermination()
    def now(): Seq[(Long, Double)] =
      StreamHybrid.search(spark, state, q, queryVecId = 0L)
        .as[(Long, Double)].collect().toSeq
    def want(c: Seq[(Long, String, Array[Float])]): Seq[(Long, Double)] =
      TextAnalysis.hybridSearch(
          c.map(t => (t._1, t._2)).toDF("doc_id", "text"),
          c.map(t => (t._1, t._3)).toDF("vec_id", "embedding"),
          "doc_id", "text", q, queryVecId = 0L)
        .as[(Long, Double)].collect().toSeq

    input.addData(batches(0): _*); runOnce()
    assert(now() == want(batches(0)),
      "mid-stream: hybrid must equal batch fusion on what arrived so far")

    input.addData(batches(1): _*); runOnce()
    input.addData(batches(2): _*); runOnce()
    input.addData(batches(3): _*); runOnce() // hook folds at batch id 3
    assert(now() == want(all),
      "post-stream: hybrid must equal batch fusion on the union corpus")

    // the vector side folded, and the deferred-delete window is open:
    // fold and (some) sources coexist — the exact answer above proves
    // readers resolve manifests (vector rows are not duplication-inert
    // under the dense k-cut)
    val gens = new java.io.File(s"$state/vecs").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens.exists(_.startsWith("gen-compact-")), s"no vec fold in $gens")
    val live = Generations.live(spark, s"$state/vecs").toSet
    assert(gens.diff(live).nonEmpty,
      s"expected manifest-excluded vec sources on disk; gens=$gens live=$live")

    // a manual compaction cycle (sweeps the deferred sources) keeps the law
    StreamHybrid.compactState(spark, state)
    assert(now() == want(all),
      "hybrid must stay exact after a manual compaction cycle")
  }

  test("post-stream searchSteady equals the batch index-backed composer on the union corpus") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val embs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val ids = docs.keySet.intersect(embs.keySet).toSeq.sorted
    assert(ids.contains(0L), "probe vector 0 must exist in the fixture")
    val all = ids.map(i => (i, docs(i), embs(i)))
    val q = TextAnalysis.searchQuery
    // FIXED quantizers shared by every batch and both sides of the law —
    // the landed trained artifacts of the fixture corpus
    val (centDf, book) =
      graft.operators.Similarity.landedQuantizers(spark, dir)
    val batches = (0 to 3).map(i => all.filter(_._1 % 4 == i))
    val tmp = Files.createTempDirectory("graft_shybrid_steady_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[(Long, String, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, String, Array[Float])],
      spark.sqlContext)
    def runOnce(): Unit =
      StreamHybrid.start(
        input.toDF().toDF("doc_id", "text", "embedding"), state, ckpt,
        compactEvery = 2, quantizers = Some((centDf, book)))
        .awaitTermination()
    def now(): Seq[(Long, Double)] =
      StreamHybrid.searchSteady(spark, state, q, queryVecId = 0L,
        centDf, book).as[(Long, Double)].collect().toSeq
    def want(c: Seq[(Long, String, Array[Float])]): Seq[(Long, Double)] = {
      val embDf = c.map(t => (t._1, t._3)).toDF("vec_id", "embedding")
      TextAnalysis.hybridSearchCompressed(
          c.map(t => (t._1, t._2)).toDF("doc_id", "text"), embDf,
          graft.operators.Similarity.IvfPqIndex.build(embDf, centDf, book),
          "doc_id", "text", q, queryVecId = 0L)
        .as[(Long, Double)].collect().toSeq
    }

    input.addData(batches(0): _*); runOnce()
    assert(now() == want(batches(0)),
      "mid-stream: steady hybrid must equal the batch compressed fusion on what arrived")

    input.addData(batches(1): _*); runOnce()
    input.addData(batches(2): _*); runOnce()
    input.addData(batches(3): _*); runOnce() // hook folds at batch id 3
    assert(now() == want(all),
      "post-stream: steady hybrid must equal the batch compressed fusion on the union")

    // the maintained code list landed physically partitioned by cell_id
    // (the serve prune's precondition — StreamIvfPqSpec pins the
    // PartitionFilters on the shared serve path itself)
    val codeGens = new java.io.File(s"$state/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(codeGens.nonEmpty, "no code generations landed")
    assert(codeGens.exists(g =>
      Option(new java.io.File(s"$state/codes/$g").listFiles()).exists(
        _.exists(_.getName.startsWith("cell_id=")))),
      s"code generations must be physically partitioned by cell_id: $codeGens")
    assert(codeGens.exists(_.startsWith("gen-compact-")),
      s"no code fold in $codeGens")

    // a manual compaction cycle (all three sides fold) keeps the law
    StreamHybrid.compactState(spark, state)
    assert(now() == want(all),
      "steady hybrid must stay exact after a manual compaction cycle")
  }
}
