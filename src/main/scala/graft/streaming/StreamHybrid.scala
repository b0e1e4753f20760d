package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{Similarity, TextAnalysis}

/** Continuous HYBRID-retrieval maintenance — the streamed form of the
  * batch [[TextAnalysis.hybridSearch]] (E121), i.e. the index upkeep a
  * RAG stack actually runs: every arriving document carries text AND its
  * embedding, and one maintenance loop keeps BOTH retrieval sides
  * serveable at all times —
  *
  *  - the LEXICAL side delegates to [[StreamSearchIndex.indexBatch]]
  *    (term-bucket-partitioned postings/positions generations, additive
  *    stats sidecar — the E117 discipline, unchanged);
  *  - the DENSE side lands the batch's (vec_id, embedding) rows as a
  *    batch-id-named generation under `stateDir/vecs` (idempotent
  *    Overwrite — a replayed batch rewrites byte-identically).
  *
  * Serving fuses the two sides with the SAME reciprocal-rank fusion the
  * batch operator uses ([[TextAnalysis.rrfFuse]]): BM25 top-`depth` off
  * the pruned streamed postings, exact-cosine top-`depth` over the live
  * landed vectors, ranks re-derived from each branch's answer — so
  * post-stream hybrid search equals the batch `hybridSearch` on the
  * union of everything that arrived (StreamHybridSpec pins the law
  * mid-stream, post-stream, cross-restart, and across compactions).
  *
  * Compaction: the lexical sides fold through
  * [[StreamSearchIndex.compactIndex]]; the vector side folds through the
  * MANIFESTED discipline too ([[Generations.compactManifested]]) —
  * duplicated vector rows are NOT inert under the dense k-cut (the same
  * (query, vec) pair would enter the top-k heap twice), so readers must
  * never observe a fold with its sources.
  *
  * CONTRACT: doc ids are unique across the stream and `vec_id ≡ doc_id`
  * (the retrieval pair every RAG stack maintains); the probe vector must
  * have arrived before a dense-side query names it.
  *
  * Scale shape per batch: both sides' writes are batch-sized; serve cost
  * is the pruned postings of the query terms + the dense scan of the
  * live vectors (the exact branch is the documented cost of exact dense
  * retrieval — swap in the [[StreamIvfPq]] serve for the compressed
  * path) + a fusion join over ≤ 2·depth rows. */
object StreamHybrid {

  /** Start maintaining both retrieval sides of `docs` (a streaming
    * DataFrame carrying `idCol`, `textCol`, `embCol`) under
    * `stateDir/{index,vecs}`. With `quantizers` supplied (fixed landed
    * centroids + PQ codebook — every batch must encode under the SAME
    * quantizers or the codes aren't comparable), each batch ALSO lands
    * its IVF-PQ code rows as a cell-partitioned generation under
    * `stateDir/codes` (the [[StreamIvfPq]] layout), which is what
    * [[searchSteady]] serves its dense leg from. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      embCol: String = "embedding",
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0,
      quantizers: Option[(DataFrame, Similarity.Book)] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        StreamSearchIndex.indexBatch(batch, s"$stateDir/index", id,
          idCol, textCol)
        val vecs = batch
          .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
        vecs.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/vecs/gen-$id")
        quantizers.foreach { case (centroids, book) =>
          // shared per-batch body — resolves a re-shard's sidecar
          // centroids and skips empty batches (the StreamIvfPq rules)
          StreamIvfPq.indexBatch(vecs, s"$stateDir/codes", id,
            centroids, book)
        }
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir)
        ()
      }
      .start()

  /** Fold all sides' accumulated generations — the lexical four via
    * [[StreamSearchIndex.compactIndex]], the vector side by identity
    * under the manifested discipline (see the object Scaladoc for why
    * vectors are not duplication-inert here), and — when the stream
    * maintains one — the code side via [[StreamIvfPq.compactIndex]]
    * (identity fold keeping the `cell_id` partitioning, so pruned
    * serves keep their PartitionFilters across compactions). */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    StreamSearchIndex.compactIndex(spark, s"$stateDir/index")
    Generations.compactManifested(spark, s"$stateDir/vecs",
      Retention.filter(_, stateDir, "vec_id"))
    val codes = new org.apache.hadoop.fs.Path(s"$stateDir/codes")
    if (codes.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(codes))
      StreamIvfPq.compactIndex(spark, s"$stateDir/codes")
  }

  /** Targeted deletion across ALL maintained retrieval sides at once
    * (doc_id ≡ vec_id — the object contract): the lexical index through
    * [[StreamSearchIndex.delete]] (tombstone + negative stats delta),
    * the vector store and the code list through their own tombstones.
    * Every serve — [[search]] and [[searchSteady]], both legs — excludes
    * the ids immediately; the next [[compactState]] purges all sides
    * physically. */
  def delete(spark: SparkSession, stateDir: String, requestId: String,
      ids: Seq[Long]): Unit = {
    StreamSearchIndex.delete(spark, s"$stateDir/index", requestId, ids)
    Retention.tombstone(spark, stateDir, requestId, ids)
    StreamIvfPq.delete(spark, s"$stateDir/codes", requestId, ids)
  }

  /** Live (manifest-resolved) union of the landed vector generations,
    * tombstoned vectors excluded. */
  def liveVectors(spark: SparkSession, stateDir: String): DataFrame =
    Retention.filter(Generations.readLive(spark, s"$stateDir/vecs"), stateDir, "vec_id")

  /** Hybrid top-k over everything the stream has landed so far: BM25
    * from the streamed inverted index ([[StreamSearchIndex.search]] —
    * bucket-pruned, sidecar-fed), exact cosine over the live vectors
    * with the probe looked up BY ID from the landed corpus (the
    * [[TextAnalysis.hybridDocs]] convention), fused by
    * [[TextAnalysis.rrfFuse]]. */
  def search(spark: SparkSession, stateDir: String, query: Seq[String],
      queryVecId: Long, depth: Int = 50, k: Int = 25,
      k0: Int = 60): DataFrame = {
    val lex = StreamSearchIndex.search(spark, s"$stateDir/index", query, depth)
      .select(col("doc_id"), col("score"))
    val emb = liveVectors(spark, stateDir)
    val queries = emb.filter(col("vec_id") === queryVecId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val dense = Similarity.topKCosine(emb, queries, depth)
      .select(col("vec_id").as("doc_id"), col("score"))
    TextAnalysis.rrfFuse(lex, dense, k, k0)
  }

  /** INDEX-BACKED hybrid serve — [[search]] with the dense leg off the
    * MAINTAINED cell-partitioned code generations instead of an exact
    * O(live corpus) cosine scan per query: the probe assignment is
    * collected first so the generation read is pruned to the probed
    * cells' partitions ([[StreamIvfPq.currentIndex]] — the serve reads
    * (nprobe/|cells|) of the code rows), the widened ADC cut re-ranks
    * exactly on the candidates' live vectors fetched BY ID
    * ([[graft.operators.Similarity.refinedSearchIndex]]), and the fused
    * answer equals the batch [[TextAnalysis.hybridSearchCompressed]]
    * over the union of everything that arrived, under the same fixed
    * quantizers (StreamHybridSpec pins the law post-stream,
    * cross-restart, and across compactions). The last corpus-linear
    * per-query serve path in the streamed retrieval family becomes
    * probed-lists + a bounded re-rank. */
  def searchSteady(spark: SparkSession, stateDir: String,
      query: Seq[String], queryVecId: Long, centroids: DataFrame,
      book: Seq[(Int, Int, Array[Double])], depth: Int = 50, k: Int = 25,
      k0: Int = 60, r: Int = 4, nprobe: Int = 4): DataFrame = {
    val lex = StreamSearchIndex.search(spark, s"$stateDir/index", query, depth)
      .select(col("doc_id"), col("score"))
    val emb = liveVectors(spark, stateDir)
    val queries = emb.filter(col("vec_id") === queryVecId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // resolve a re-shard's sidecar centroids (falls back to the caller's
    // fixed quantizers) so probes match the codes' cell assignment
    val cent = StreamIvfPq.currentCentroids(spark, s"$stateDir/codes",
      centroids)
    val probes = Similarity.collectProbes(queries, cent, nprobe)
    val index = StreamIvfPq.currentIndex(spark, s"$stateDir/codes",
      template = throw new IllegalStateException(
        s"no committed code generation under $stateDir/codes"),
      cells = Some(probes.map(_.cellId).distinct.sorted))
    val dense = Similarity.refinedSearchIndex(emb,
        Similarity.IvfPqIndex(index, cent, book), queries, depth, r, nprobe,
        probesPre = Some(probes))
      .select(col("vec_id").as("doc_id"), col("score"))
    TextAnalysis.rrfFuse(lex, dense, k, k0)
  }
}
