package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Targeted deletion / retention propagation ([[Retention]]): for each
  * index family, post-delete serve ≡ rebuild-from-scratch on
  * (corpus − deleted) — immediately after the tombstone commits (serve-
  * side exclusion), after compaction (physical purge), across restarts
  * (every serve here is a fresh read of disk state), through the
  * crash window a partially-applied delete leaves, and idempotently
  * under requestId replay.
  */
class DeletionSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def fixtureDocs(): Seq[(Long, String)] =
    graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq.sortBy(_._1)

  test("search index: post-delete serves equal a rebuild on the remaining corpus") {
    val all = fixtureDocs()
    // three batches: the fold needs >1 settled source (gen-0, gen-1) next
    // to the protected newest (gen-2)
    val batches = (0 to 2).map(i => all.filter(_._1 % 3 == i))
    val tmp = Files.createTempDirectory("graft_del_search_").toString
    val (indexDir, ckpt) = (s"$tmp/idx", s"$tmp/ckpt")
    val input = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)], spark.sqlContext)
    def runOnce(): Unit =
      StreamSearchIndex.start(input.toDF().toDF("doc_id", "text"),
        indexDir, ckpt).awaitTermination()
    batches.foreach { b => input.addData(b: _*); runOnce() }

    val q = TextAnalysis.searchQuery
    // delete: one id from a folded-eligible batch, one from the NEWEST
    // generation (never folded — must still vanish from serves), one
    // never-landed id (must be a no-op)
    val deleted = Seq(batches(0)(3)._1, batches(2)(5)._1, 999999999L)
    val remaining = all.filterNot(d => deleted.contains(d._1))
    def want(): Seq[(Long, Double)] =
      TextAnalysis.bm25Rank(remaining.toDF("doc_id", "text"),
        "doc_id", "text", q, 10).as[(Long, Double)].collect().toSeq
    def got(): Seq[(Long, Double)] =
      StreamSearchIndex.search(spark, indexDir, q)
        .as[(Long, Double)].collect().toSeq

    // pre-delete sanity: stream serve == batch on the full corpus
    assert(got() == TextAnalysis.bm25Rank(all.toDF("doc_id", "text"),
      "doc_id", "text", q, 10).as[(Long, Double)].collect().toSeq)

    StreamSearchIndex.delete(spark, indexDir, "r1", deleted)
    assert(got() == want(),
      "post-delete BM25 must equal a rebuild on (corpus − deleted)")
    // phrase + proximity serves exclude the deleted docs too
    val phrase = TextAnalysis.searchPhrase
    val wantPhrase = remaining.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.phraseCount(col("text"), phrase).cast("long").as("n_occ"))
      .filter(col("n_occ") > 0).as[(Long, Long)].collect().toSet
    assert(StreamSearchIndex.searchPhrase(spark, indexDir, phrase)
      .select(col("doc_id"), col("n_occ").cast("long"))
      .as[(Long, Long)].collect().toSet == wantPhrase)

    // idempotent replay of the same request changes nothing
    StreamSearchIndex.delete(spark, indexDir, "r1", deleted)
    assert(got() == want(), "requestId replay must be a no-op")

    // CRASH WINDOW: a delete that wrote its stats delta but crashed
    // before the tombstone commit — re-running under the same requestId
    // completes the pair and the law holds (the delta recomputes
    // byte-identically because no fold can have purged the lens rows)
    val extra = Seq(batches(0)(7)._1)
    val lens = spark.read.parquet(
      Generations.live(spark, s"$indexDir/lens").map(g => s"$indexDir/lens/$g"): _*)
    lens.filter(col("doc_id").isin(extra: _*))
      .agg((count(lit(1)) * lit(-1L)).as("n_docs"),
        (coalesce(sum(col("dl")), lit(0L)) * lit(-1L)).as("dl_sum"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexDir/stats/gen-tomb-r2")
    StreamSearchIndex.delete(spark, indexDir, "r2", extra) // the re-run
    val remaining2 = remaining.filterNot(d => extra.contains(d._1))
    assert(StreamSearchIndex.search(spark, indexDir, q)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Rank(remaining2.toDF("doc_id", "text"),
        "doc_id", "text", q, 10).as[(Long, Double)].collect().toSeq,
      "a crashed delete completed by replay must leave the rebuild answer")

    // PHYSICAL PURGE: compaction drops the deleted rows from the folded
    // generations; serves unchanged
    StreamSearchIndex.compactIndex(spark, indexDir)
    val allDeleted = deleted ++ extra
    val foldedPostings = Generations.live(spark, s"$indexDir/postings")
      .map(g => s"$indexDir/postings/$g")
      .filter(_.contains("gen-compact-"))
    assert(foldedPostings.nonEmpty, "expected a postings fold")
    assert(spark.read.parquet(foldedPostings: _*)
      .filter(col("doc_id").isin(allDeleted: _*)).count() == 0,
      "folded postings must not carry deleted docs")
    assert(StreamSearchIndex.search(spark, indexDir, q)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Rank(remaining2.toDF("doc_id", "text"),
        "doc_id", "text", q, 10).as[(Long, Double)].collect().toSeq,
      "the law must survive the physical purge")

    // SPURIOUS replay AFTER the purge: the committed tombstone gates the
    // whole pair (Retention.tombstoneCommitted), so the replay cannot
    // recompute a ZERO delta from the purged lens rows and overwrite the
    // real subtraction — serves unchanged
    StreamSearchIndex.delete(spark, indexDir, "r1", deleted)
    StreamSearchIndex.delete(spark, indexDir, "r2", extra)
    assert(StreamSearchIndex.search(spark, indexDir, q)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Rank(remaining2.toDF("doc_id", "text"),
        "doc_id", "text", q, 10).as[(Long, Double)].collect().toSeq,
      "a spurious replay of a completed delete must be a no-op")
  }

  test("IVF-PQ code list: post-delete search equals batch search on the remaining vectors") {
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val (centroids, book) = Similarity.landedQuantizers(spark, dir)
    val all = emb.as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val batches = (0 to 2).map(i => all.filter(_._1 % 3 == i))
    val tmp = Files.createTempDirectory("graft_del_ivfpq_").toString
    val (indexDir, ckpt) = (s"$tmp/idx", s"$tmp/ckpt")
    val input = MemoryStream[(Long, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Float])], spark.sqlContext)
    def runOnce(): Unit =
      StreamIvfPq.start(input.toDF().toDF("vec_id", "embedding"),
        indexDir, ckpt, centroids, book).awaitTermination()
    batches.foreach { b => input.addData(b: _*); runOnce() }

    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def got(): Set[(Long, Long, Double)] =
      StreamIvfPq.search(spark, indexDir, queries, centroids, book)
        .as[(Long, Long, Double)].collect().toSet
    def want(corpus: Seq[(Long, Array[Float])]): Set[(Long, Long, Double)] =
      Similarity.searchIvfPqIndex(Similarity.IvfPqIndex.build(
          corpus.toDF("vec_id", "embedding"), centroids, book), queries,
        k = 5, nprobe = 4)
        .as[(Long, Long, Double)].collect().toSet

    // delete enough near neighbors of vec 0 that the top-5 must change:
    // the current top-5 answers themselves (one from each arrival batch
    // parity, whichever they are), plus a never-landed id
    val firstAnswer = got().map(_._2).toSeq.sorted
    assert(firstAnswer.nonEmpty)
    val deleted = firstAnswer.take(2) :+ 999999999L
    val remaining = all.filterNot(v => deleted.contains(v._1))
    StreamIvfPq.delete(spark, indexDir, "r1", deleted)
    assert(got() == want(remaining),
      "post-delete ADC search must equal batch search on (corpus − deleted)")
    assert(!got().exists(r => deleted.contains(r._2)),
      "deleted vectors must not be served as neighbors")

    // physical purge at compaction, law unchanged
    StreamIvfPq.compactIndex(spark, indexDir)
    val folded = Generations.live(spark, indexDir).map(g => s"$indexDir/$g")
      .filter(_.contains("gen-compact-"))
    assert(folded.nonEmpty, "expected a code fold")
    assert(spark.read.parquet(folded: _*)
      .filter(col("vec_id").isin(deleted: _*)).count() == 0,
      "folded code list must not carry deleted vectors")
    assert(got() == want(remaining),
      "the law must survive the physical purge")
  }

  test("near-dup gate: deleting a doc admits future near-copies and hides it from the corpus") {
    import graft.TestDocs.doc
    val tmp = Files.createTempDirectory("graft_del_near_").toString
    val (indexDir, outDir, ckpt) = (s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt")
    val input = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)], spark.sqlContext)
    def runOnce(): Unit =
      StreamNearDedup.start(input.toDF().toDF("doc_id", "text"),
        indexDir, outDir, ckpt, "doc_id", "text").awaitTermination()

    input.addData((1L, doc(1)), (2L, doc(2))); runOnce()
    // pre-delete: a near-copy of 1 is dropped
    input.addData((3L, doc(1) + " pad")); runOnce()
    assert(StreamNearDedup.cleanedDocs(spark, outDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))

    StreamNearDedup.delete(spark, indexDir, outDir, "gdpr-1", Seq(1L))
    // the deleted doc vanishes from the corpus read immediately
    assert(StreamNearDedup.cleanedDocs(spark, outDir)
      .select("doc_id").as[Long].collect().toSet == Set(2L))
    // and its signature stops gating: a near-copy of the DELETED content
    // must now be admitted (content the corpus no longer holds)
    input.addData((4L, doc(1) + " pad")); runOnce()
    assert(StreamNearDedup.cleanedDocs(spark, outDir)
      .select("doc_id").as[Long].collect().toSet == Set(2L, 4L),
      "a near-copy of deleted content must be admitted")
    // physical purge keeps the behavior
    StreamNearDedup.compactIndex(spark, indexDir)
    assert(StreamNearDedup.currentIndex(spark, indexDir,
      template = sys.error("index exists"))
      .select("doc_id").as[Long].collect().toSet == Set(2L, 4L))

    // PHYSICAL CORPUS PURGE (Retention.compactCorpus): after the corpus
    // fold + the next cycle's deferred sweep, the deleted doc's TEXT no
    // longer exists anywhere under the corpus root — checked with a RAW
    // read of every batch-* directory on disk, not the serve view the
    // tombstone anti-join already filters
    Retention.compactCorpus(spark, outDir, "doc_id")
    Retention.compactCorpus(spark, outDir, "doc_id") // deferred source sweep
    val batchDirs = Generations.committed(spark, outDir, "batch-")
    val rawIds = spark.read.parquet(batchDirs.map(g => s"$outDir/$g"): _*)
      .select("doc_id").as[Long].collect().toSet
    assert(!rawIds.contains(1L),
      s"deleted text must not exist on disk (raw ids $rawIds)")
    // serve view unchanged across the purge
    assert(StreamNearDedup.cleanedDocs(spark, outDir)
      .select("doc_id").as[Long].collect().toSet == Set(2L, 4L),
      "the corpus serve must survive its own physical purge")
  }

  test("media gate: deleting an asset admits future near-copies") {
    val docs = fixtureDocs()
    def p(i: Int): Array[Byte] = docs(i)._2.getBytes("UTF-8")
    val tmp = Files.createTempDirectory("graft_del_media_").toString
    val (indexDir, outDir, ckpt) = (s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt")
    val input = MemoryStream[(Long, Array[Byte])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Byte])], spark.sqlContext)
    def runOnce(): Unit =
      StreamMedia.start(input.toDF().toDF("media_id", "payload"),
        indexDir, outDir, ckpt, "media_id", "payload").awaitTermination()

    input.addData((1L, p(0)), (2L, p(1))); runOnce()
    input.addData((3L, p(0) ++ " graftdup".getBytes("UTF-8"))); runOnce()
    assert(StreamMedia.admittedMedia(spark, outDir)
      .select("media_id").as[Long].collect().toSet == Set(1L, 2L))

    StreamMedia.delete(spark, indexDir, outDir, "gdpr-1", Seq(1L))
    assert(StreamMedia.admittedMedia(spark, outDir)
      .select("media_id").as[Long].collect().toSet == Set(2L))
    input.addData((4L, p(0) ++ " graftdup".getBytes("UTF-8"))); runOnce()
    assert(StreamMedia.admittedMedia(spark, outDir)
      .select("media_id").as[Long].collect().toSet == Set(2L, 4L),
      "a near-copy of a deleted asset must be admitted")
  }

  test("rebuild-only sketch classes: post-rebuild serves equal from-scratch on (corpus − deleted)") {
    val docs = fixtureDocs().toMap
    val embs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val ids = docs.keySet.intersect(embs.keySet).toSeq.sorted.take(24)
    val all = ids.map(i =>
      (i, docs(i), embs(i), if (i % 2 == 0) "even" else "odd"))
    val (centDf, book) = Similarity.landedQuantizers(spark, dir)
    val tmp = Files.createTempDirectory("graft_del_sketch_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[(Long, String, Array[Float], String)](
      org.apache.spark.sql.Encoders
        .product[(Long, String, Array[Float], String)], spark.sqlContext)
    def runOnce(): Unit =
      UnifiedIngest.start(
        input.toDF().toDF("doc_id", "text", "embedding", "source"),
        state, ckpt, centDf, book).awaitTermination()
    Seq(all.take(12), all.drop(12)).foreach { b =>
      input.addData(b: _*); runOnce()
    }
    val admitted = UnifiedIngest.admittedDocs(spark, state)
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)

    val ps = Seq(0.5, 0.95)
    def histInput(d: org.apache.spark.sql.DataFrame) = d.select(
      lit(UnifiedIngest.HistDay).cast("timestamp").as("ts"),
      size(TextAnalysis.tokens(col("text"))).cast("double").as("value"))
    def wantKmv(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sketches.kmvEstimates(
        graft.operators.Sketches.kmvSketch(d, "source", "doc_id"))
        .collect().map(_.toSeq).toSet
    def wantHist(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Analytics.histQuantiles(
        graft.operators.Analytics.dailyValueHistograms(histInput(d)),
        UnifiedIngest.HistDay, UnifiedIngest.HistDay, ps)
        .collect().map(_.toSeq).toSet
    def gotKmv() = UnifiedIngest.kmvEstimates(spark, state)
      .collect().map(_.toSeq).toSet
    def gotHist() = UnifiedIngest.histQuantiles(spark, state, ps)
      .collect().map(_.toSeq).toSet

    val del = admitted.map(_._1).take(5)
    UnifiedIngest.delete(spark, state, "gdpr-rb", del)
    val fullDf = admitted.toDF("doc_id", "text", "source")
    // the DOCUMENTED LAG: until the rebuild, estimates still carry the
    // deleted docs' contribution (lossy-additive state has nothing to
    // subtract) — that is what rebuildSketches exists to repair
    assert(gotKmv() == wantKmv(fullDf),
      "pre-rebuild KMV still reflects the full corpus (the documented lag)")

    UnifiedIngest.compactAll(spark, state, rebuildSketchState = true)
    val remDf = admitted.filterNot(r => del.contains(r._1))
      .toDF("doc_id", "text", "source")
    assert(gotKmv() == wantKmv(remDf),
      "post-rebuild KMV estimates must equal a from-scratch sketch on (corpus − deleted)")
    assert(gotHist() == wantHist(remDf),
      "post-rebuild quantile serves must equal a from-scratch histogram on (corpus − deleted)")

    // idempotent: a second rebuild with no new deletions re-derives the
    // same state
    UnifiedIngest.rebuildSketches(spark, state)
    assert(gotKmv() == wantKmv(remDf) && gotHist() == wantHist(remDf),
      "rebuild must be idempotent")
  }

  test("hybrid state: one delete reaches the lexical, vector, and code sides") {
    val docs = fixtureDocs().toMap
    val embs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val ids = docs.keySet.intersect(embs.keySet).toSeq.sorted
    val all = ids.map(i => (i, docs(i), embs(i)))
    val q = TextAnalysis.searchQuery
    val (centDf, book) = Similarity.landedQuantizers(spark, dir)
    val tmp = Files.createTempDirectory("graft_del_hybrid_").toString
    val (state, ckpt) = (s"$tmp/state", s"$tmp/ckpt")
    val input = MemoryStream[(Long, String, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, String, Array[Float])],
      spark.sqlContext)
    input.addData(all: _*)
    StreamHybrid.start(input.toDF().toDF("doc_id", "text", "embedding"),
      state, ckpt, quantizers = Some((centDf, book))).awaitTermination()

    // delete two docs that are NOT the probe vector
    val deleted = ids.filter(_ != 0L).take(2)
    val remaining = all.filterNot(t => deleted.contains(t._1))
    StreamHybrid.delete(spark, state, "gdpr-1", deleted)

    val wantExact = TextAnalysis.hybridSearch(
        remaining.map(t => (t._1, t._2)).toDF("doc_id", "text"),
        remaining.map(t => (t._1, t._3)).toDF("vec_id", "embedding"),
        "doc_id", "text", q, queryVecId = 0L)
      .as[(Long, Double)].collect().toSeq
    assert(StreamHybrid.search(spark, state, q, queryVecId = 0L)
      .as[(Long, Double)].collect().toSeq == wantExact,
      "post-delete exact hybrid must equal the batch fusion on (corpus − deleted)")

    val embDf = remaining.map(t => (t._1, t._3)).toDF("vec_id", "embedding")
    val wantSteady = TextAnalysis.hybridSearchCompressed(
        remaining.map(t => (t._1, t._2)).toDF("doc_id", "text"), embDf,
        Similarity.IvfPqIndex.build(embDf, centDf, book),
        "doc_id", "text", q, queryVecId = 0L)
      .as[(Long, Double)].collect().toSeq
    assert(StreamHybrid.searchSteady(spark, state, q, queryVecId = 0L,
        centDf, book).as[(Long, Double)].collect().toSeq == wantSteady,
      "post-delete steady hybrid must equal the compressed fusion on (corpus − deleted)")

    // physical purge across all sides, laws unchanged
    StreamHybrid.compactState(spark, state)
    assert(StreamHybrid.search(spark, state, q, queryVecId = 0L)
      .as[(Long, Double)].collect().toSeq == wantExact)
    assert(StreamHybrid.searchSteady(spark, state, q, queryVecId = 0L,
        centDf, book).as[(Long, Double)].collect().toSeq == wantSteady)
  }
}
