package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Similarity

/** Streaming k-NN graph maintenance: after any sequence of arrival
  * batches — across restarts and compaction cycles — the served graph
  * equals the batch knnGraph on the union of everything that arrived,
  * under the same fixed trained cells.
  */
class StreamKnnSpec extends SparkTestBase {
  import spark.implicits._

  test("post-stream graph equals batch knnGraph on the union corpus, cross-restart") {
    val dir = "/root/testdata/sf0.001"
    val all = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val cents = Similarity.landedQuantizers(spark, dir)._1
    val nn = 4
    val batches = (0 to 3).map(i => all.filter(_._1 % 4 == i))
    val tmp = Files.createTempDirectory("graft_sknn_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[(Long, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Float])],
      spark.sqlContext)
    // each runOnce is a fresh AvailableNow query off the shared
    // checkpoint — every batch boundary here IS a restart
    def runOnce(): Unit =
      StreamKnn.start(input.toDF().toDF("vec_id", "embedding"),
        state, ckpt, cents, nn, compactEvery = 2).awaitTermination()
    def now(): Set[(Long, Long, Double)] =
      StreamKnn.graph(spark, state, nn)
        .as[(Long, Long, Double)].collect().toSet
    def want(c: Seq[(Long, Array[Float])]): Set[(Long, Long, Double)] =
      Similarity.knnGraph(c.toDF("vec_id", "embedding"), cents, nn)
        .as[(Long, Long, Double)].collect().toSet

    input.addData(batches(0): _*); runOnce()
    assert(now() == want(batches(0)),
      "mid-stream: the served graph must equal the batch build on what arrived")

    input.addData(batches(1): _*); runOnce()
    input.addData(batches(2): _*); runOnce()
    input.addData(batches(3): _*); runOnce() // hook folds at batch id 3
    assert(now() == want(all),
      "post-stream: the served graph must equal the batch build on the union")

    // the edge side folded through the absorbing top-nn cut, and the
    // deferred-delete window is open: fold + (some) sources coexist —
    // the exact answer above proves readers resolve manifests (edges
    // are not duplication-inert under the top-nn cut)
    val gens = new java.io.File(s"$state/edges").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens.exists(_.startsWith("gen-compact-")), s"no edge fold in $gens")
    val live = Generations.live(spark, s"$state/edges").toSet
    assert(gens.diff(live).nonEmpty,
      s"expected manifest-excluded edge sources on disk; gens=$gens live=$live")
    // the fold BOUNDS edge state: the compacted generation holds at most
    // nn rows per vector (plus the newest raw tail kept aside)
    val foldRows = Generations.readNames(spark, s"$state/edges",
        live.filter(_.startsWith("gen-compact-")).toSeq, "gen-")
      .groupBy("vec_id").count()
      .agg(org.apache.spark.sql.functions.max("count"))
      .as[Long].collect().head
    assert(foldRows <= nn, s"compacted edges must hold ≤ nn per vector, got $foldRows")

    // a manual compaction cycle (sweeps deferred sources) keeps the law
    StreamKnn.compactState(spark, state, nn)
    assert(now() == want(all),
      "the graph must stay exact after a manual compaction cycle")

    // the composed decision: density pruning served from the maintained
    // graph equals the batch operator on the union, same fixed cells
    val wantPrune = Similarity.densityPrune(
        all.toDF("vec_id", "embedding"), cents, nn, pct = 0.2)
      .as[(Long, Option[Double])].collect().toSet
    assert(StreamKnn.densityPrune(spark, state, nn, pct = 0.2)
      .as[(Long, Option[Double])].collect().toSet == wantPrune,
      "served density prune must equal the batch operator on the union")

    // the second composed decision: centrality served from the
    // maintained graph equals batch PageRank over the batch graph on
    // the union, same fixed cells (PageRank is a pure function of
    // (V, E), so this law is free once the graph law holds)
    import org.apache.spark.sql.functions.col
    val batchEdges = Similarity.knnGraph(
        all.toDF("vec_id", "embedding"), cents, nn)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val wantRank = graft.operators.GraphRank.pageRank(
        all.toDF("vec_id", "embedding").select("vec_id"), batchEdges)
      .as[(Long, Double)].collect().toSet
    assert(StreamKnn.pageRank(spark, state, nn)
      .as[(Long, Double)].collect().toSet == wantRank,
      "served PageRank must equal the batch operator on the union")

    // the graph-analytics monitors served from the maintained graph:
    // LPA communities, the modularity audit, and the capped community
    // draw each equal their batch operator over the batch graph on the
    // union — all pure functions of (V, E), so the laws are free once
    // the graph law holds, and together they retire the per-request
    // world rebuild (k-means + graph + LPA) the round-12 monitors paid
    val verts = all.toDF("vec_id", "embedding").select("vec_id")
    val batchComm = graft.operators.GraphRank.labelPropagation(verts, batchEdges)
    assert(StreamKnn.communities(spark, state, nn)
      .as[(Long, Long)].collect().toSet
      == batchComm.as[(Long, Long)].collect().toSet,
      "served LPA communities must equal the batch operator on the union")
    val wantMod = graft.operators.GraphRank.modularity(batchComm, batchEdges)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(StreamKnn.modularity(spark, state, nn)
      .as[(Long, Long, Long, Long, Double)].collect().toSet == wantMod,
      "served modularity must equal the batch operator on the union")
    val wantSamp = graft.operators.GraphRank.communitySample(batchComm, 5)
      .as[(Long, Long)].collect().toSet
    assert(StreamKnn.communitySample(spark, state, nn, 5)
      .as[(Long, Long)].collect().toSet == wantSamp,
      "served community sample must equal the batch operator on the union")
  }
}
