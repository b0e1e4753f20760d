package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Packing, Similarity, Sketches, TextAnalysis}

/** One-loop unified ingest: a single foreachBatch drives all four
  * hygiene gates and every serve index off one arrival stream. Laws:
  * the admitted set equals the serial batch fold of the gates, each
  * planted duplicate class is caught by its gate, and EVERY family's
  * serve equals its batch operator on the admitted union — across
  * restarts and the single compaction cadence.
  */
class UnifiedIngestSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  type Arrival = (Long, String, Array[Float], String)
  type MArrival = (Long, String, Array[Float], String, Array[Byte])

  test("every family's serve equals its batch operator on the admitted union") {
    val rows = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val embs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val base: Seq[Arrival] = rows.collect {
      case (id, text, src) if embs.contains(id) => (id, text, embs(id), src)
    }
    assert(base.exists(_._1 == 0L), "probe vector 0 must exist")
    val (centroids, book) = Similarity.landedQuantizers(spark, dir)

    // planted duplicate classes, each arriving AFTER its original:
    def tokens(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val a0 = base.head                      // original in batch 0
    val a1 = base(1)
    val exactDup = (a0._1 + 1000000L, a0._2, embs(a1._1), a0._4)
    val nearDup = (a0._1 + 2000000L, a0._2 + " graftdup", embs(a1._1), a0._4)
    val excerpt = (a0._1 + 3000000L,
      tokens(a0._2).take(tokens(a0._2).size / 2 + 1).mkString(" "),
      embs(a1._1), a0._4)
    val semDup = (a0._1 + 4000000L,
      "a fully rewritten paraphrase with no shared tokens whatsoever",
      a0._3, a0._4)                          // identical embedding to a0
    val batches: Seq[Seq[Arrival]] = Seq(
      base.filter(_._1 % 3 == 0),
      base.filter(_._1 % 3 == 1) ++ Seq(exactDup, nearDup),
      base.filter(_._1 % 3 == 2) ++ Seq(excerpt, semDup),
      Seq.empty[Arrival] ++ Seq((a0._1 + 5000000L,
        a1._2, embs(a0._1 + 0L), a1._4)))    // late verbatim dup of a1

    val tmp = Files.createTempDirectory("graft_unified_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[Arrival](
      org.apache.spark.sql.Encoders.product[Arrival], spark.sqlContext)
    // fresh AvailableNow query per batch off the shared checkpoint —
    // every batch boundary IS a restart; compaction hook at ids 1 and 3
    def runOnce(): Unit =
      UnifiedIngest.start(
        input.toDF().toDF("doc_id", "text", "embedding", "source"),
        state, ckpt, centroids, book, compactEvery = 2).awaitTermination()
    batches.foreach { b => input.addData(b: _*); runOnce() }

    // ---- serial batch fold of the same four gates ----
    var fps = Seq.empty[(Long, String)].toDF("doc_id", "text")
      .select(md5(col("text").cast("binary")).as("fp"))
    var nearIdx = Dedup.buildNearDupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
      .localCheckpoint()
    var containIdx = Dedup.containmentIndexRows(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
      .localCheckpoint()
    var semIdx = Seq.empty[(Long, Long, Array[Float])]
      .toDF("vec_id", "cell_id", "embedding").localCheckpoint()
    var admitted = Seq.empty[Arrival]
    var wantLedger = Seq.empty[(Long, String, String)]
    batches.foreach { b =>
      val bdf = b.toDF("doc_id", "text", "embedding", "source")
      val b1 = Dedup.incrementalNew(fps, bdf, "doc_id", "text")
      val b2 = Dedup.incrementalNearNew(nearIdx, b1, "doc_id", "text")
      val b3 = Dedup.incrementalContainmentNew(
        containIdx.select(col("doc_id"), col("sz"),
          explode(col("sh")).as("shingle"))
          .select(col("shingle"), col("doc_id"), col("sz")),
        containIdx, b2, "doc_id", "text")
      val kept = Dedup.incrementalSemanticNewAssigned(
        semIdx.select(col("cell_id"), col("embedding").as("m_emb")),
        b3.select(col("doc_id").as("vec_id"), col("embedding")),
        centroids, tau = 0.999)
      val adm = b3.join(kept.select(col("vec_id").as("doc_id")), Seq("doc_id"))
        .as[Arrival].collect().toSeq.sortBy(_._1)
      admitted ++= adm
      // first-hit gate attribution for every dropped arrival — the
      // rejection-ledger ground truth
      val srcOf = b.map(a => a._1 -> a._4).toMap
      val ids1 = b1.select("doc_id").as[Long].collect().toSet
      val ids2 = b2.select("doc_id").as[Long].collect().toSet
      val ids3 = b3.select("doc_id").as[Long].collect().toSet
      val idsA = adm.map(_._1).toSet
      wantLedger ++=
        (b.map(_._1).toSet -- ids1).toSeq.map(i => (i, srcOf(i), "exact")) ++
        (ids1 -- ids2).toSeq.map(i => (i, srcOf(i), "near")) ++
        (ids2 -- ids3).toSeq.map(i => (i, srcOf(i), "contain")) ++
        (ids3 -- idsA).toSeq.map(i => (i, srcOf(i), "semantic"))
      val admDf = adm.toDF("doc_id", "text", "embedding", "source")
      fps = fps.unionByName(admDf
        .select(md5(col("text").cast("binary")).as("fp"))).localCheckpoint()
      nearIdx = nearIdx.unionByName(
        Dedup.buildNearDupIndex(admDf, "doc_id", "text")).localCheckpoint()
      containIdx = containIdx.unionByName(
        Dedup.containmentIndexRows(admDf, "doc_id", "text")).localCheckpoint()
      semIdx = semIdx.unionByName(
        Similarity.ivfAssign(admDf.select(col("doc_id").as("vec_id"),
          col("embedding")), centroids)
          .select("vec_id", "cell_id", "embedding")).localCheckpoint()
    }

    // admitted set == serial fold; all four planted dup classes dropped
    val got = UnifiedIngest.admittedDocs(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(got == admitted.map(_._1).toSet,
      s"stream admitted ${got.size}, serial fold ${admitted.size}")
    Seq(exactDup._1, nearDup._1, excerpt._1, semDup._1,
        a0._1 + 5000000L).foreach { planted =>
      assert(!got.contains(planted), s"planted dup $planted must be dropped")
    }
    assert(got.contains(a0._1) && got.contains(a1._1))

    // ---- rejection ledger: attribution ≡ serial fold + partition law ----
    val gotLedger = UnifiedIngest.rejectionLedger(spark, state)
      .as[(Long, String, String)].collect().toSet
    assert(gotLedger == wantLedger.toSet,
      s"ledger attribution: got ${gotLedger.size} want ${wantLedger.size}")
    val allIds = batches.flatten.map(_._1).toSet
    assert((gotLedger.map(_._1) ++ got) == allIds &&
      gotLedger.map(_._1).intersect(got).isEmpty,
      "admitted ∪ ledger must partition the arrivals exactly")
    assert(UnifiedIngest.rejectionReport(spark, state)
      .as[(String, String, Long)].collect().toSet ==
      wantLedger.groupBy(l => (l._2, l._3))
        .map { case ((s, g), xs) => (s, g, xs.size.toLong) }.toSet,
      "rejection report ≡ ledger aggregate")
    val probeDrop = wantLedger.head
    assert(UnifiedIngest.whyDropped(spark, state, Seq(probeDrop._1))
      .as[(Long, String, String)].collect().toSeq == Seq(probeDrop),
      "whyDropped point lookup")

    val admDf = admitted.toDF("doc_id", "text", "embedding", "source")
      .localCheckpoint()

    // ---- every family's serve == its batch operator on the union ----
    val q = TextAnalysis.searchQuery
    assert(UnifiedIngest.search(spark, state, q)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Rank(admDf, "doc_id", "text", q, 10)
        .as[(Long, Double)].collect().toSeq, "BM25 serve")

    val phrase = TextAnalysis.searchPhrase
    assert(UnifiedIngest.searchPhrase(spark, state, phrase)
      .select(col("doc_id"), col("n_occ").cast("long"))
      .as[(Long, Long)].collect().toSet ==
      admDf.select(col("doc_id"),
          TextAnalysis.phraseCount(col("text"), phrase).cast("long").as("n_occ"))
        .filter(col("n_occ") > 0).as[(Long, Long)].collect().toSet,
      "phrase serve")

    val queries = admDf.filter(col("doc_id") === 0L)
      .select(col("doc_id").as("query_id"), col("embedding").as("q_emb"))
    assert(UnifiedIngest.searchAnn(spark, state, queries, centroids, book)
      .as[(Long, Long, Double)].collect().toSet ==
      Similarity.searchIvfPqIndex(Similarity.IvfPqIndex.build(
          admDf.select(col("doc_id").as("vec_id"), col("embedding")),
          centroids, book), queries, k = 5, nprobe = 4)
        .as[(Long, Long, Double)].collect().toSet, "ADC serve")

    assert(UnifiedIngest.kmvEstimates(spark, state)
      .collect().map(_.toSeq).toSet ==
      Sketches.kmvEstimates(
          Sketches.kmvSketch(admDf, "source", "doc_id"))
        .collect().map(_.toSeq).toSet, "KMV serve")

    val ps = Seq(0.5, 0.95)
    def histInput(d: DataFrame) = d.select(
      lit(UnifiedIngest.HistDay).cast("timestamp").as("ts"),
      size(TextAnalysis.tokens(col("text"))).cast("double").as("value"))
    assert(UnifiedIngest.histQuantiles(spark, state, ps)
      .collect().map(_.toSeq).toSet ==
      Analytics.histQuantiles(Analytics.dailyValueHistograms(histInput(admDf)),
          UnifiedIngest.HistDay, UnifiedIngest.HistDay, ps)
        .collect().map(_.toSeq).toSet, "histogram quantile serve")

    assert(UnifiedIngest.budgetKept(spark, state, budget = 200L)
      .as[(Long, String, Long)].collect().toSet ==
      TextAnalysis.budgetCapRows(
          TextAnalysis.tokenCountRows(admDf, "doc_id", "text", "source"), 200L)
        .as[(Long, String, Long)].collect().toSet, "budget-cut serve")

    def wantSoft(d: DataFrame): Set[(Long, Long, Double, Double)] =
      Dedup.softDedupWeights(d.select("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long, Double, Double)].collect().toSet
    assert(UnifiedIngest.softWeights(spark, state)
      .as[(Long, Long, Double, Double)].collect().toSet ==
      wantSoft(admDf), "soft-dedup weight serve")

    def wantBlocks(d: DataFrame): Set[(Long, Long, Long, Long, Long)] =
      Packing.tokenBlocks(d, "doc_id", "text")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(UnifiedIngest.tokenBlockManifest(spark, state)
      .as[(Long, Long, Long, Long, Long)].collect().toSet ==
      wantBlocks(admDf),
      "token-block manifest serve ≡ batch layout on the admitted union")

    // one more compaction cycle over every side keeps all laws
    UnifiedIngest.compactAll(spark, state)
    assert(UnifiedIngest.search(spark, state, q)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Rank(admDf, "doc_id", "text", q, 10)
        .as[(Long, Double)].collect().toSeq, "BM25 after compaction")
    assert(UnifiedIngest.kmvEstimates(spark, state)
      .collect().map(_.toSeq).toSet ==
      Sketches.kmvEstimates(Sketches.kmvSketch(admDf, "source", "doc_id"))
        .collect().map(_.toSeq).toSet, "KMV after compaction")

    // deletion reaches the per-doc families in one call
    UnifiedIngest.delete(spark, state, "gdpr-1", Seq(a1._1))
    assert(!UnifiedIngest.admittedDocs(spark, state)
      .select("doc_id").as[Long].collect().toSet.contains(a1._1))
    val remaining = admitted.filterNot(_._1 == a1._1)
      .toDF("doc_id", "text", "embedding", "source")
    assert(UnifiedIngest.search(spark, state, q)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Rank(remaining, "doc_id", "text", q, 10)
        .as[(Long, Double)].collect().toSeq, "BM25 after deletion")
    assert(UnifiedIngest.softWeights(spark, state)
      .as[(Long, Long, Double, Double)].collect().toSet ==
      wantSoft(remaining), "soft-dedup weights after deletion")
    assert(UnifiedIngest.tokenBlockManifest(spark, state)
      .as[(Long, Long, Long, Long, Long)].collect().toSet ==
      wantBlocks(remaining),
      "deletion re-flows the block layout to batch-on-remaining")
    // the one deletion call propagated text-dependent subtraction too:
    // replaying it (the crash-window rule) stays inert
    UnifiedIngest.delete(spark, state, "gdpr-1", Seq(a1._1))
    assert(UnifiedIngest.softWeights(spark, state)
      .as[(Long, Long, Double, Double)].collect().toSet ==
      wantSoft(remaining), "soft-dedup weights after deletion replay")

    // ledger erasure: a DROPPED arrival's audit row is personal data too
    // — one delete call hides it immediately and the fold purges it
    assert(gotLedger.exists(_._1 == exactDup._1), "planted drop is in the ledger")
    UnifiedIngest.delete(spark, state, "gdpr-2", Seq(exactDup._1))
    assert(!UnifiedIngest.rejectionLedger(spark, state)
      .select("doc_id").as[Long].collect().toSet.contains(exactDup._1),
      "deleted dropped arrival must leave the ledger")
    UnifiedIngest.compactAll(spark, state)
    assert(UnifiedIngest.rejectionLedger(spark, state)
      .as[(Long, String, String)].collect().toSet ==
      gotLedger.filterNot(_._1 == exactDup._1),
      "post-fold ledger ≡ ledger − deleted")

    // ---- ANN re-shard at the maintenance cadence ----
    // hysteresis: √N here has not outgrown the fixed 16-cell sizing by
    // minGrowth, so the cadence call must SKIP (no sidecar commits) and
    // the serve is unchanged
    UnifiedIngest.compactAll(spark, state, reshardAnn = Some(book))
    assert(StreamIvfPq.quantSidecarPath(spark, s"$state/codes").isEmpty,
      "cadence re-shard must skip below the growth threshold")
    // the corpus-outgrew-its-sizing path (forced here): serve ≡ batch at
    // the √N sizing over the remaining corpus — the store's fixed-cell
    // history is invisible post-re-shard
    assert(StreamIvfPq.reshard(spark, s"$state/codes",
      UnifiedIngest.liveVectors(spark, state), book, force = true),
      "forced re-shard must run")
    val liveVecRows = remaining
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val scaledCent = Similarity.kmeansCentroids(liveVecRows,
      initEvery = Similarity.scaledInitEvery(remaining.count()))
    assert(UnifiedIngest.searchAnn(spark, state, queries, centroids, book)
      .as[(Long, Long, Double)].collect().toSet ==
      Similarity.searchIvfPqIndex(
          Similarity.IvfPqIndex.build(liveVecRows, scaledCent, book), queries,
          k = 5, nprobe = 4)
        .as[(Long, Long, Double)].collect().toSet,
      "re-sharded ADC serve must equal batch at the √N sizing")
  }

  test("media leg: the payload gate drops perceptual near-copies cross-batch, serves and deletes with the rest") {
    import graft.operators.Multimodal
    val rows = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val embs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val base: Seq[MArrival] = rows.collect {
      case (id, text, src) if embs.contains(id) =>
        (id, text, embs(id), src, text.getBytes("UTF-8"))
    }.take(20)
    val b0 = base.take(10)
    // a PAYLOAD near-copy of a batch-0 asset whose text/embedding are
    // fresh (so every text gate passes — only the media gate can catch
    // it), plus a fully fresh asset as the control
    val spare = rows.collect { case (id, _, _) if embs.contains(id) => id }
      .filterNot(base.map(_._1).toSet).take(2)
    val nearCopy: MArrival = (9000001L,
      "a fresh never seen sentence about perceptual payload copies",
      embs(spare(0)), "planted",
      b0.head._5 ++ " graftdup".getBytes("UTF-8"))
    val fresh: MArrival = (9000002L,
      "another fresh sentence with entirely new payload bytes",
      embs(spare(1)), "planted",
      "totally unrelated payload bytes that hash far away".getBytes("UTF-8"))
    val batches = Seq(b0, base.drop(10) ++ Seq(nearCopy, fresh))

    val (centroids, book) = Similarity.landedQuantizers(spark, dir)
    val tmp = Files.createTempDirectory("graft_unified_media_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[MArrival](
      org.apache.spark.sql.Encoders.product[MArrival], spark.sqlContext)
    def runOnce(): Unit =
      UnifiedIngest.start(
        input.toDF().toDF("doc_id", "text", "embedding", "source", "payload"),
        state, ckpt, centroids, book, compactEvery = 2,
        mediaCol = Some("payload")).awaitTermination()
    batches.foreach { b => input.addData(b: _*); runOnce() }

    val admitted = UnifiedIngest.admittedDocs(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(!admitted.contains(nearCopy._1),
      "the cross-batch payload near-copy must be dropped by the media gate")
    assert(admitted.contains(fresh._1), "the fresh payload must be admitted")

    // the drop is attributed to the media gate in the rejection ledger
    // (its text/embedding were fresh — no earlier gate could have hit)
    assert(UnifiedIngest.whyDropped(spark, state, Seq(nearCopy._1))
      .as[(Long, String, String)].collect().toSeq ==
      Seq((nearCopy._1, "planted", "media")),
      "payload drop must carry gate=media in the ledger")

    // media serve ≡ the batch signature index on the admitted union
    val admDf = UnifiedIngest.admittedDocs(spark, state)
    def sigSet(d: org.apache.spark.sql.DataFrame) =
      Multimodal.buildMediaSigIndex(d, "doc_id", "payload")
        .as[(Long, Array[Long])].collect().map(t => (t._1, t._2.toSeq)).toSet
    assert(UnifiedIngest.mediaSignatures(spark, state)
      .as[(Long, Array[Long])].collect().map(t => (t._1, t._2.toSeq)).toSet ==
      sigSet(admDf),
      "media signature serve must equal the batch index on the admitted union")

    // one deletion reaches the media side: a near-copy of the DELETED
    // asset's payload must be admitted afterwards
    UnifiedIngest.delete(spark, state, "gdpr-m", Seq(b0.head._1))
    val reCopy: MArrival = (9000003L,
      "yet another fresh sentence for the re-arrival probe",
      embs(b0.head._1), "planted",
      b0.head._5 ++ " graftdup".getBytes("UTF-8"))
    input.addData(reCopy); runOnce()
    val admitted2 = UnifiedIngest.admittedDocs(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted2.contains(reCopy._1),
      "a near-copy of a deleted asset's payload must be admitted")
  }

  test("curation serve equals the batch report on the admitted union (arrival contract)") {
    // ID-ORDERED batches — the arrival contract (landed ids precede
    // batch ids) the incremental dup/novelty rules' additivity needs;
    // the main test's %3 interleave deliberately violates it, so the
    // curation law gets its own drive. One batch carries a verbatim
    // re-arrival (dropped by the exact gate — the maintained report
    // counts ADMITTED docs, so the serve ≡ batch law is over the
    // admitted union, where fp-dups are structurally 0).
    val rows = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val embs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val base: Seq[Arrival] = rows.collect {
      case (id, text, src) if embs.contains(id) => (id, text, embs(id), src)
    }.take(30)
    val (centroids, book) = Similarity.landedQuantizers(spark, dir)
    val dup = (base.head._1 + 1000000L, base.head._2,
      base.head._3, base.head._4) // verbatim re-arrival, higher id
    val batches = Seq(base.take(10), base.slice(10, 20),
      base.drop(20) :+ dup)

    val tmp = Files.createTempDirectory("graft_unified_cur_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[Arrival](
      org.apache.spark.sql.Encoders.product[Arrival], spark.sqlContext)
    def runOnce(): Unit =
      UnifiedIngest.start(
        input.toDF().toDF("doc_id", "text", "embedding", "source"),
        state, ckpt, centroids, book, compactEvery = 2).awaitTermination()
    batches.foreach { b => input.addData(b: _*); runOnce() }

    val admitted = UnifiedIngest.admittedDocs(spark, state)
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    assert(!admitted.map(_._1).contains(dup._1), "exact gate drops the dup")
    def want(d: Seq[(Long, String, String)]) =
      TextAnalysis.curationReport(d.toDF("doc_id", "text", "source"))
        .collect().map(_.toSeq).toSet
    assert(UnifiedIngest.curationReport(spark, state)
      .collect().map(_.toSeq).toSet == want(admitted),
      "curation serve must equal the batch report on the admitted union")

    // domain-reweight serve off the maintained LM state: occurrence
    // counts are additive and vocab rows union, so serve ≡ batch is
    // EXACT (no arrival-order term, unlike curation's dup/novelty)
    def wantW(d: Seq[(Long, String, String)]) =
      TextAnalysis.domainReweight(d.toDF("doc_id", "text", "source"),
        "doc_id", "text", "source").collect().map(_.toSeq).toSet
    assert(UnifiedIngest.domainWeights(spark, state)
      .collect().map(_.toSeq).toSet == wantW(admitted),
      "domain-weight serve must equal the batch reweight on the admitted union")

    // another compaction cycle folds the per-source generations; law holds
    UnifiedIngest.compactAll(spark, state)
    assert(UnifiedIngest.curationReport(spark, state)
      .collect().map(_.toSeq).toSet == want(admitted),
      "curation serve must survive compaction")
    assert(UnifiedIngest.domainWeights(spark, state)
      .collect().map(_.toSeq).toSet == wantW(admitted),
      "domain-weight serve must survive compaction (manifested count folds + distinct vocab fold)")

    // deletion: the side is rebuild-only — after the rebuild the serve
    // equals the batch report on (admitted − deleted)
    val del = admitted.map(_._1).take(3)
    UnifiedIngest.delete(spark, state, "gdpr-cur", del)
    UnifiedIngest.compactAll(spark, state, rebuildSketchState = true)
    assert(UnifiedIngest.curationReport(spark, state)
      .collect().map(_.toSeq).toSet ==
      want(admitted.filterNot(r => del.contains(r._1))),
      "post-rebuild curation serve must equal the report on (admitted − deleted)")
    assert(UnifiedIngest.domainWeights(spark, state)
      .collect().map(_.toSeq).toSet ==
      wantW(admitted.filterNot(r => del.contains(r._1))),
      "post-rebuild domain-weight serve must equal the reweight on (admitted − deleted)")
  }
}
