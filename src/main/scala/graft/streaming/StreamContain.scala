package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup
import graft.sources.Tables

/** Continuous CONTAINMENT admission — the streaming face of
  * [[graft.operators.Dedup.incrementalContainmentNew]], the asymmetric
  * sibling of [[StreamNearDedup]]: that gate stops near-COPIES; this one
  * stops near-EXCERPTS — an arrival whose shingle set is ≥ τ covered by
  * some already-landed document (or by a fellow arrival), the redundancy
  * the symmetric Jaccard relation cannot see at any threshold (a
  * fragment of a landed page scores Jaccard ≈ |frag|/|page|). SUPERSET
  * arrivals are kept, per the batch operator's admission/compaction
  * split.
  *
  * Per micro-batch, the [[StreamNearDedup]] lifecycle verbatim: probe
  * the accumulated containment-index generations (rows =
  * [[graft.operators.Dedup.containmentIndexRows]]: doc_id, distinct
  * sorted shingle hashes, set size — one row per landed doc; the posting
  * view is exploded AT PROBE TIME, so generations stay doc-sized on
  * disk), land survivors, append the survivors' index rows as the
  * batch's own generation. Cross-batch state is the index on disk —
  * zero executor state growth, unbounded horizon.
  *
  * Durability: identical rules to [[StreamNearDedup]] (idempotent
  * batch-id-named Overwrites; `_SUCCESS`-committed reads; the replayed
  * batch's own generation excluded from its probe BY NAME — a batch must
  * not drop itself as self-contained on replay, and every doc contains
  * itself at exactly 1.0). Compaction reuses
  * [[StreamNearDedup.compactIndex]] — the generation fold is
  * layout-generic (full-row dedup over `gen-*` dirs) and containment
  * index rows are duplication-inert under it for the same reason
  * signature rows are: a duplicated row can only re-propose the same
  * candidate pair into a `distinct()`.
  *
  * Scale shape per batch: the probe explodes the accumulated index into
  * postings and pays one posting-side shuffle — O(|corpus shingles|)
  * per batch. The steady-state amortization is the batch operator's:
  * periodically land the compacted index probe-aligned
  * ([[graft.operators.Dedup.landContainmentIndex]] — shingle-bucketed
  * postings) and drain arrivals through the exchange-free
  * [[graft.operators.Dedup.incrementalContainmentNew]] against the
  * landed tables between re-landings. */
object StreamContain {

  /** Every committed index generation, unioned, tombstoned docs
    * excluded ([[Retention]] — a deleted document's shingle set must
    * stop gating future arrivals as its excerpts). */
  def currentIndex(spark: SparkSession, indexDir: String,
      template: => DataFrame, exclude: Set[String] = Set.empty): DataFrame = {
    val gens = Generations.committed(spark, indexDir, "gen-")
      .filterNot(exclude)
    if (gens.isEmpty) template
    else Retention.filter(
      Generations.readNames(spark, indexDir, gens, "gen-"),
      indexDir, "doc_id")
  }

  /** Every LIVE committed admitted batch, unioned — the continuously-
    * growing excerpt-free corpus, tombstoned docs excluded and corpus
    * folds manifest-resolved ([[Retention.liveBatches]]). */
  def admittedDocs(spark: SparkSession, outDir: String,
      idCol: String = "doc_id"): DataFrame =
    Retention.liveBatches(spark, outDir, idCol)

  /** Targeted deletion across both maintained roots — the
    * [[StreamNearDedup.delete]] discipline (whose tombstone-aware
    * [[StreamNearDedup.compactIndex]] this gate already shares for the
    * physical purge). */
  def delete(spark: SparkSession, indexDir: String, outDir: String,
      requestId: String, ids: Seq[Long]): Unit = {
    Retention.tombstone(spark, indexDir, requestId, ids)
    Retention.tombstone(spark, outDir, requestId, ids)
  }

  /** Start gating `docs` into `outDir`, growing the containment index at
    * `indexDir`. `compactEvery` wires [[StreamNearDedup.compactIndex]]
    * into the serial batch loop (the [[StreamNearDedup.start]] cadence
    * and safety argument apply unchanged). Pre-seed a corpus by writing
    * [[graft.operators.Dedup.containmentIndexRows]] output to any
    * `gen-*` directory under `indexDir` before starting. */
  def start(docs: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val own = s"gen-$id"
        val idx = currentIndex(spark, indexDir,
          template = Dedup.containmentIndexRows(
            batch.limit(0), idCol, textCol, n),
          exclude = Set(own))
        val survivors = Dedup.incrementalContainmentNew(
          idx.select(col("doc_id"), col("sz"),
            explode(col("sh")).as("shingle")),
          idx, batch, idCol, textCol, n, threshold)
        survivors.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch-$id")
        // index rows derive from the LANDED bytes — a replayed batch
        // re-derives the identical generation
        Dedup.containmentIndexRows(
          Tables.read(spark, s"$outDir/batch-$id"), idCol, textCol, n)
          .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/$own")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1) {
          StreamNearDedup.compactIndex(spark, indexDir)
          // landed-corpus purge (Retention's physical-purge half for the
          // corpus root itself)
          Retention.compactCorpus(spark, outDir, idCol)
        }
        ()
      }
      .start()
  }
}
