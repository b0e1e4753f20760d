package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Continuous SEMANTIC arrival dedup — the third member of the streaming
  * hygiene triple next to [[StreamClean]] (exact fingerprints) and
  * [[StreamNearDedup]] (MinHash near-dups): a paraphrased re-arrival
  * shares no fingerprint and few shingles, but lands next to its
  * original in embedding space, and this gate drops it. Per micro-batch:
  *
  *  1. probe: the batch's vectors assign to the FIXED trained cells
  *     (caller-supplied — typically the corpus dir's landed quantizer
  *     artifact, [[graft.operators.Similarity.landedQuantizers]]:
  *     every batch must share one quantizer or cells aren't comparable)
  *     and verify cosine ≥ τ against same-cell rows of the accumulated
  *     ASSIGNMENT INDEX on disk, plus smaller-id same-cell batch rows
  *     ([[graft.operators.Dedup.incrementalSemanticNewAssigned]]);
  *  2. land the survivors to `outDir/batch-<id>`;
  *  3. append the survivors' (vec_id, cell_id, embedding) assignment
  *     rows — derived from the LANDED bytes, so a replayed batch
  *     re-derives the identical generation — as `indexDir/gen-<id>`;
  *  4. at `compactEvery` cadence, fold index generations
  *     ([[Generations.compactFold]] — the probe's candidate set is
  *     drop-id-distinct'd, so duplicate index rows are semantically
  *     INERT here, the [[StreamNearDedup]] argument, and the simple
  *     fold discipline suffices).
  *
  * Cross-batch state lives in the index table on disk (the
  * [[StreamNearDedup]] contract): batch N+1 probes every committed
  * generation ≤ N, so semantic duplicates are caught across any batch
  * distance with zero executor state growth. The replayed batch's OWN
  * generation is excluded from its probe by name (a crash between step
  * 3 and the checkpoint commit must not make the batch drop itself).
  *
  * Scale shape per batch: one bounded batch×cells broadcast cross, one
  * cell equi-join whose batch side is small by contract (per-batch cost
  * |batch|·|cell|, the SemDedup candidate bound), one anti-join; the
  * corpus embeddings are re-read only as the accumulated index rows.
  */
object StreamSemantic {

  /** Every committed assignment generation, unioned, tombstoned vectors
    * excluded ([[Retention]] — a deleted document's embedding must stop
    * gating future paraphrase arrivals); `template` supplies the (empty)
    * schema before the first generation commits. */
  def currentIndex(spark: SparkSession, indexDir: String,
      template: => DataFrame, exclude: Set[String] = Set.empty): DataFrame = {
    val gens = Generations.committed(spark, indexDir, "gen-").filterNot(exclude)
    if (gens.isEmpty) template
    else Retention.filter(
      Generations.readNames(spark, indexDir, gens, "gen-"),
      indexDir, "vec_id")
  }

  /** Every committed surviving batch, unioned — the continuously-growing
    * semantically-deduplicated corpus. */
  def cleanedVectors(spark: SparkSession, outDir: String): DataFrame =
    Generations.read(spark, outDir, "batch-")

  /** Fold accumulated index generations (duplicate rows are inert to the
    * probe — see the object scaladoc — so the simple fold discipline
    * applies), purging tombstoned vectors' rows ([[Retention]]'s
    * physical-purge half). Run via the hook or while the stream is
    * stopped. */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    Generations.compactFold(spark, indexDir,
      Retention.filter(_, indexDir, "vec_id"))

  /** Start gating `vectors` (a streaming DataFrame carrying `vec_id` and
    * `embedding`) into `outDir`, growing the assignment index at
    * `indexDir`, under the caller's FIXED trained cells. */
  def start(vectors: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, centroids: DataFrame, tau: Double = 0.999,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    // two-level assignment index, built ONCE per stream (the
    // Similarity.hierIndex contract — the O(k·√k) coarse training must
    // not re-run per micro-batch)
    val (coarseLive, grouped) = Similarity.hierIndex(centroids)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val own = s"gen-$id"
        val idx = currentIndex(spark, indexDir,
          template = batch.limit(0).select(col("vec_id"),
            lit(0L).as("cell_id"), col("embedding")),
          exclude = Set(own))
        val survivorIds = Dedup.incrementalSemanticNewWith(
          idx.select(col("cell_id"), col("embedding").as("m_emb")),
          batch, coarseLive, grouped, tau)
        batch.join(survivorIds, Seq("vec_id"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch-$id")
        Similarity.ivfAssignHierWith(
            Tables.read(spark, s"$outDir/batch-$id"), coarseLive, grouped)
          .select(col("vec_id"), col("cell_id"), col("embedding"))
          .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/$own")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactIndex(spark, indexDir)
        ()
      }
      .start()
  }

  /** [[start]] with the cells from the corpus dir's landed
    * trained-quantizer artifact tables. */
  def startFromLanded(vectors: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, corpusDir: String, tau: Double = 0.999,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    start(vectors, indexDir, outDir, checkpoint,
      Similarity.landedQuantizers(vectors.sparkSession, corpusDir)._1,
      tau, trigger, compactEvery)

  /** DRIFT monitor over the maintained gate — the streamed face of
    * [[Similarity.psiDrift]]: is the arriving vector traffic still
    * distributed (over the landed trained cells) like the corpus those
    * quantizers were trained on? The current side needs NO assignment
    * pass — the gate already landed every survivor's cell row; counts
    * read off a `(vec_id, cell_id)` distinct of the live index (distinct
    * because the simple-fold index tolerates transiently duplicated
    * rows — inert to the PROBE, not to counts). The baseline labeling is
    * one bounded corpus×cells cross; a production deployment lands those
    * counts once next to the quantizers and this becomes metadata-only. */
  def driftMonitor(spark: SparkSession, indexDir: String,
      corpusDir: String): DataFrame = {
    val cent = Similarity.landedQuantizers(spark, corpusDir)._1
    val emb = graft.sources.Tables.load(spark, corpusDir, "embeddings")
      .select("vec_id", "embedding")
    // two-level assignment off the LANDED hier index, matching the
    // gate's index rows: both PSI slices must be binned by the SAME
    // assignment function or the monitor reads quantizer disagreement
    // as traffic drift
    val (coarseLive, grouped) = Similarity.loadLandedHierIndex(spark, corpusDir)
    val nb = Similarity.ivfAssignHierWith(emb, coarseLive, grouped)
      .groupBy("cell_id").agg(count(lit(1)).as("n_base"))
    val nc = currentIndex(spark, indexDir,
        template = emb.limit(0).select(col("vec_id"), lit(0L).as("cell_id")))
      .select("vec_id", "cell_id").distinct()
      .groupBy("cell_id").agg(count(lit(1)).as("n_cur"))
    Similarity.psiFromCounts(cent.select("cell_id"), nb, nc)
  }
}
