package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup
import graft.sources.Tables

/** Continuous NEAR-duplicate dedup — the streaming face of
  * [[graft.operators.Dedup.incrementalNearNew]], closing the gap
  * [[StreamClean]] step 2 leaves on an unbounded stream: the exact
  * fingerprint anti-join stops only VERBATIM re-arrivals, so a
  * one-token-perturbed copy of anything already landed (or of an arrival
  * two batches ago) sails through. Per micro-batch:
  *
  *  1. probe the disk-resident signature index
  *     ([[graft.operators.Dedup.buildNearDupIndex]] rows: doc_id, distinct
  *     shingle hashes, MinHash signature) with the batch's band hashes,
  *     exact-Jaccard verify, and drop near-dups of anything landed —
  *     plus the higher-id side of within-batch near-dup pairs;
  *  2. land the survivors to `outDir/batch-<id>`;
  *  3. append the survivors' signatures to the index as its own
  *     generation `indexDir/gen-<id>`.
  *
  * Cross-batch state lives in the INDEX TABLE ON DISK, not in streaming
  * state: batch N+1's arrivals are probed against every committed
  * generation ≤ N, so near-dups are caught across any batch distance with
  * zero executor state growth — the unbounded-horizon answer
  * `dropDuplicatesWithinWatermark` (bounded horizon by design) cannot
  * give, for the near-dup relation it cannot express at all.
  *
  * Durability (same rules as [[StreamUpsert]]): every write is an
  * idempotent `Overwrite` of a batch-id-named directory, so Spark's
  * replay of the last uncommitted batch rewrites both directories
  * byte-identically; reads consider only `_SUCCESS`-committed
  * generations, and the replayed batch's OWN generation is excluded from
  * its probe index (a crash between step 3 and the checkpoint commit
  * must not make the batch drop itself as a duplicate on replay).
  *
  * Scale shape per batch: the probe re-derives band hashes over the
  * accumulated index and pays one index-side (doc_id, band, bh) shuffle
  * — O(|corpus|) per batch, fine at ingest cadences where batches are
  * minutes apart, NOT the batch operator's bucketed exchange-free plan
  * (a union of per-batch generation files carries no bucketing
  * metadata). The steady-state amortization at large corpus sizes is
  * periodic [[compactIndex]] plus landing the compacted index in the
  * probe-aligned bucketed form ([[graft.operators.Dedup.landNearDupIndex]])
  * and draining arrivals through
  * [[graft.operators.Dedup.incrementalNearNewBanded]] between
  * re-landings. The index grows by |survivors| signature rows (a few
  * hundred longs each) per batch; landed text is never re-read.
  * Pre-seed a corpus by writing
  * [[graft.operators.Dedup.buildNearDupIndex]] output to any
  * `gen-*`-named directory under `indexDir` before starting.
  */
object StreamNearDedup {

  /** Every committed signature generation, unioned, tombstoned docs
    * excluded ([[Retention]] — a DELETED document's signature must stop
    * gating future arrivals, or near-copies of content the corpus no
    * longer holds would be silently dropped); `template` supplies the
    * (empty) schema before the first generation commits. */
  def currentIndex(spark: SparkSession, indexDir: String,
      template: => DataFrame, exclude: Set[String] = Set.empty): DataFrame = {
    val gens = Generations.committed(spark, indexDir, "gen-").filterNot(exclude)
    if (gens.isEmpty) template
    else Retention.filter(
      Generations.readNames(spark, indexDir, gens, "gen-"),
      indexDir, "doc_id")
  }

  /** Every LIVE committed cleaned batch, unioned — the continuously-
    * growing deduplicated corpus, tombstoned docs excluded and corpus
    * folds manifest-resolved ([[Retention.liveBatches]]). `idCol` names
    * the landed id column (the one passed to [[start]]). */
  def cleanedDocs(spark: SparkSession, outDir: String,
      idCol: String = "doc_id"): DataFrame =
    Retention.liveBatches(spark, outDir, idCol)

  /** Targeted deletion across both maintained roots: the landed corpus
    * (`outDir` batch generations) and the signature index. Serve-side
    * exclusion is immediate; [[compactIndex]] purges the index rows
    * physically at its next run, and [[Retention.compactCorpus]] (wired
    * into the same hook) purges the landed text itself. */
  def delete(spark: SparkSession, indexDir: String, outDir: String,
      requestId: String, ids: Seq[Long]): Unit = {
    Retention.tombstone(spark, indexDir, requestId, ids)
    Retention.tombstone(spark, outDir, requestId, ids)
  }

  /** Compact the index's accumulated per-batch generations into one —
    * the signature-index instance of the small-file pathology
    * [[graft.sources.Compaction]] exists for (a long-running stream
    * leaves one tiny directory per batch; probe planning then pays
    * per-file open cost on every micro-batch). The shared self-healing
    * fold ([[Generations.compactFold]]): the newest batch generation is
    * never folded, so a replayed batch keeps its own signatures out of
    * its probe index by name; a crash between the fold write and the
    * source deletes leaves duplicated signature rows, which are inert
    * here (the probe's candidate set is `distinct()`ed before
    * verification) and collapse at the next fold. Tombstoned docs drop
    * from the fold — [[Retention]]'s physical-purge half. */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    Generations.compactFold(spark, indexDir, Retention.filter(_, indexDir, "doc_id"))

  /** Start cleaning `docs` (a streaming DataFrame carrying `idCol` and
    * `textCol`) into `outDir`, growing the signature index at `indexDir`.
    *
    * `compactEvery` (0 = off) wires [[compactIndex]] into the batch loop
    * itself: every `compactEvery`-th batch id compacts AFTER the batch's
    * own generation write — the one point in the query's serial
    * foreachBatch lifecycle where no probe read is in flight (the next
    * probe starts only with the next batch), which retires the
    * "maintenance op between triggers" concurrency hazard. The hook keys
    * on the deterministic batch id, so a replayed batch re-runs its
    * compaction too — safe, because [[compactIndex]] is self-healing
    * under interruption and duplicate-row inert. The folded set excludes
    * the newest batch generation by name (the in-flight replay
    * protection), which at hook time is exactly the generation the batch
    * just wrote. */
  def start(docs: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, idCol: String, textCol: String,
      n: Int = 3, k: Int = 128, bands: Int = 32, seed: Long = 42L,
      threshold: Double = 0.7,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val own = s"gen-$id"
        val idx = currentIndex(spark, indexDir,
          template = Dedup.buildNearDupIndex(
            batch.limit(0), idCol, textCol, n, k, seed),
          exclude = Set(own))
        val survivors = Dedup.incrementalNearNew(
          idx, batch, idCol, textCol, n, k, bands, seed, threshold)
        survivors.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch-$id")
        // signatures are derived from the LANDED bytes, so a replayed
        // batch re-derives the identical generation
        Dedup.buildNearDupIndex(
          Tables.read(spark, s"$outDir/batch-$id"), idCol, textCol, n, k, seed)
          .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/$own")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1) {
          compactIndex(spark, indexDir)
          // landed-corpus purge: deleted docs' text stops existing on
          // disk, not just being serve-filtered
          Retention.compactCorpus(spark, outDir, idCol)
        }
        ()
      }
      .start()
  }
}
