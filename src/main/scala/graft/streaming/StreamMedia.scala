package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Multimodal
import graft.sources.Tables

/** Continuous PERCEPTUAL media dedup — the streaming face of
  * [[graft.operators.Multimodal.incrementalMediaNew]], completing the
  * per-class gate family ([[StreamClean]] exact, [[StreamNearDedup]]
  * near, [[StreamSemantic]] semantic, [[StreamContain]] containment):
  * re-encoded/trimmed copies of an asset that landed ANY number of
  * batches ago are dropped before they reach decode. Per micro-batch:
  *
  *  1. probe the disk-resident signature index
  *     ([[Multimodal.buildMediaSigIndex]] rows: media_id, 4×16-bit band
  *     array) with the batch's band values, XOR-popcount confirm, and
  *     drop arrivals within τ of anything landed — plus the higher-id
  *     side of within-batch near pairs;
  *  2. land the survivors to `outDir/batch-<id>`;
  *  3. append the survivors' signatures to the index as its own
  *     generation `indexDir/gen-<id>`.
  *
  * Cross-batch state lives in the INDEX ON DISK (32 signature bytes per
  * landed asset — never the payloads), so near-copies are caught across
  * any batch distance with zero executor state growth.
  *
  * Durability: the [[StreamNearDedup]] rules verbatim — idempotent
  * Overwrite of batch-id-named directories (signatures are a pure
  * function of the landed bytes, so a replayed batch rewrites its
  * generation byte-identically), `_SUCCESS`-committed reads, and the
  * replayed batch's OWN generation excluded from its probe BY NAME.
  * Duplicate index rows are inert (the probe's candidate set is
  * `distinct()`ed before the confirm), so compaction is the
  * self-healing [[StreamNearDedup.compactIndex]] fold discipline,
  * shared here via the same newest-generation replay protection.
  *
  * Scale shape per batch: batch signatures are one codegen kernel call
  * per arrival at the scan — payloads never shuffle; the probe is the
  * (band, bv) equi-join against the accumulated index generations; the
  * confirm touches |candidates| signature pairs. Landed payloads are
  * never re-read.
  */
object StreamMedia {

  /** Every committed signature generation, unioned, tombstoned assets
    * excluded ([[Retention]] — a deleted asset's signature must stop
    * gating future arrivals); `template` supplies the (empty) schema
    * before the first generation commits. */
  def currentIndex(spark: SparkSession, indexDir: String,
      template: => DataFrame, exclude: Set[String] = Set.empty): DataFrame = {
    val gens = Generations.committed(spark, indexDir, "gen-").filterNot(exclude)
    if (gens.isEmpty) template
    else Retention.filter(
      Generations.readNames(spark, indexDir, gens, "gen-"),
      indexDir, "media_id")
  }

  /** Every LIVE committed admitted batch, unioned — the continuously-
    * growing deduplicated media corpus, tombstoned assets excluded and
    * corpus folds manifest-resolved ([[Retention.liveBatches]]). `idCol`
    * names the landed id column (the one passed to [[start]]). */
  def admittedMedia(spark: SparkSession, outDir: String,
      idCol: String = "media_id"): DataFrame =
    Retention.liveBatches(spark, outDir, idCol)

  /** Targeted deletion across both maintained roots (the
    * [[StreamNearDedup.delete]] discipline for media): tombstone the
    * landed corpus and the signature index; serve-side exclusion is
    * immediate, [[compactIndex]] purges physically. */
  def delete(spark: SparkSession, indexDir: String, outDir: String,
      requestId: String, ids: Seq[Long]): Unit = {
    Retention.tombstone(spark, indexDir, requestId, ids)
    Retention.tombstone(spark, outDir, requestId, ids)
  }

  /** Fold accumulated signature generations into one — exactly the
    * shared self-healing fold ([[Generations.compactFold]]: newest batch
    * generation kept out per the replay rule, full-row dropDuplicates,
    * epoch numbering, source deletes) composed with the tombstone purge
    * ([[Retention]]'s physical-purge half), as [[StreamSemantic
    * .compactIndex]] does. Duplicate signature rows are probe-inert (the
    * candidate set is `distinct()`ed before the confirm), so the
    * non-manifested discipline applies. */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    Generations.compactFold(spark, indexDir,
      Retention.filter(_, indexDir, "media_id"))

  /** Start gating `media` (a streaming DataFrame carrying `idCol` and
    * `payloadCol`) into `outDir`, growing the signature index at
    * `indexDir`. `compactEvery` (0 = off) runs [[compactIndex]] inside
    * the serial batch loop at that cadence — the safe point, as with
    * [[StreamNearDedup.start]]'s hook. Pre-seed a landed corpus by
    * writing [[Multimodal.buildMediaSigIndex]] output to any
    * `gen-*`-named directory under `indexDir` before starting. */
  def start(media: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, idCol: String, payloadCol: String,
      maxHamming: Int = 3,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val own = s"gen-$id"
        val idx = currentIndex(spark, indexDir,
          template = Multimodal.buildMediaSigIndex(
            batch.limit(0), idCol, payloadCol),
          exclude = Set(own))
        val survivors = Multimodal.incrementalMediaNew(
          idx, batch, idCol, payloadCol, maxHamming)
        survivors.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch-$id")
        // signatures derive from the LANDED bytes, so a replayed batch
        // re-derives the identical generation
        Multimodal.buildMediaSigIndex(
          Tables.read(spark, s"$outDir/batch-$id"), idCol, payloadCol)
          .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/$own")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1) {
          compactIndex(spark, indexDir)
          // landed-corpus purge: deleted assets' payloads stop existing
          // on disk, not just being serve-filtered (Retention's
          // physical-purge half for the corpus root itself)
          Retention.compactCorpus(spark, outDir, idCol)
        }
        ()
      }
      .start()
  }
}
