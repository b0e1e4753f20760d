package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Continuously-maintained n-gram document frequencies — the streamed
  * form of [[Dedup.softDedupWeights]]'s df side: each arriving
  * micro-batch of documents reduces to its own (gh, df) rows (distinct
  * grams per doc, counted within the batch) and lands as a generation.
  * Because a gram's corpus df is the SUM of its per-batch dfs whenever
  * document ids are disjoint across batches (the arrival contract every
  * gate in this family shares — a doc arrives once), the serve-time
  * merge is indifferent to batch boundaries: any interleaving, any
  * compaction state serves exactly the batch df on the union of every
  * arrival, and therefore exactly the batch WEIGHTS for any document
  * set (the spec's law).
  *
  * Summed counts are NOT inert under row duplication (a replayed
  * generation would double its grams' dfs), so folds are MANIFESTED
  * ([[Generations.compactManifested]] — the [[StreamHist]] additive-count
  * discipline, shared), bounding state at one row per live gram.
  *
  * Scale shape per batch: one batch-sized two-phase aggregate over
  * (8-byte gram hash) keys + a write — text never leaves the scan. The
  * weight serve joins the REQUESTED documents' grams (serve-sized, not
  * corpus-sized) against the live df rows. */
object StreamSoftDf {

  /** The live merged (gh, df) relation over committed generations
    * (manifest-resolved; per-gram rows may be split across generations
    * until the next fold — consumers sum, as the serve does). Grams whose
    * summed df reached 0 (every containing doc deleted) are excluded:
    * absent ≡ df 0, exactly the rebuild-on-remaining relation.
    * `exclude` drops named generations — a replayed batch reading
    * "state before me" excludes its OWN generation, the gate families'
    * rule. */
  def dfRows(spark: SparkSession, stateDir: String,
      exclude: Set[String] = Set.empty): DataFrame =
    liveRows(spark, stateDir, exclude).groupBy("gh").agg(sum("df").as("df"))
      .filter(col("df") > 0)

  /** Serve: soft-dedup weights for `docs` against the maintained corpus
    * df state — [[Dedup.softDedupWeights]]'s tail over the live rows. */
  def weights(spark: SparkSession, stateDir: String, docs: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val ex = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(Dedup.shingleHashes(col(textCol), n))).as("gh"))
    Dedup.softWeightsFromDf(ex, dfRows(spark, stateDir))
  }

  private def liveRows(spark: SparkSession, stateDir: String,
      exclude: Set[String] = Set.empty): DataFrame =
    Generations.readNames(spark, s"$stateDir/rows",
      Generations.live(spark, s"$stateDir/rows").filterNot(exclude))

  /** Serve: first-occurrence novelty for an ARRIVING batch against the
    * maintained state ([[graft.operators.Dedup.noveltyScores]]'s
    * incremental form): a gram is novel iff it is absent from the live
    * df relation AND the doc is its first holder within the batch.
    * Under the arrival contract (landed ids precede batch ids) this
    * equals the batch operator on (landed ∪ batch) restricted to the
    * batch rows — the spec's law — because df > 0 ⟺ the gram has an
    * earlier landed holder, and the within-batch min resolves the rest.
    * Presence is all the serve reads; no first-id store is needed.
    *
    * The gram projection feeds the within-batch-min aggregate and the
    * probe join unpinned — deliberately: the recompute is the row-local
    * codegen kernel over the ARRIVAL batch (bounded by the micro-batch
    * contract), not a corpus scan, so a pin would cost more in
    * materialization than the second kernel pass. */
  def noveltyArrivals(spark: SparkSession, stateDir: String, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val ex = batch.select(col(idCol).as("doc_id"),
      explode(array_distinct(Dedup.shingleHashes(col(textCol), n))).as("gh"))
    val batchFirst = ex.groupBy("gh").agg(min("doc_id").as("bfirst"))
    val seen = dfRows(spark, stateDir).select(col("gh"), lit(1).as("seen"))
    ex.join(batchFirst, "gh")
      .join(seen, Seq("gh"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull && col("bfirst") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
  }

  /** One batch's (gh, df) contribution — the per-generation reduction
    * shared by [[start]] and the unified ingest loop. */
  def dfBatchRows(batch: DataFrame, textCol: String = "text",
      n: Int = 3): DataFrame =
    batch.select(explode(array_distinct(
        Dedup.shingleHashes(col(textCol), n))).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("df"))

  /** Fold accumulated generations to one row per gram — manifested, see
    * the object scaladoc. The SUM absorbs [[delete]]'s negative delta
    * generations with no special casing; fully-deleted grams (sum 0)
    * leave the folded state entirely. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Generations.compactManifested(spark, s"$stateDir/rows",
      _.groupBy("gh").agg(sum("df").as("df")).filter(col("df") =!= 0))

  /** Targeted deletion ([[Retention]]'s discipline for this additive
    * store): the df relation retains NO per-document contribution to
    * look up, so — unlike the per-doc index families — deletion takes
    * the deleted documents WITH their text and lands the negative
    * (gh, −df) generation derived from it, absorbed by the SUM fold.
    * Delta-first, tombstone-commit second, the [[StreamSearchIndex
    * .delete]] order, and the SAME replay rule: a crashed delete is
    * replayed under its requestId BEFORE any other maintenance on this
    * root. The delta derives from the caller's rows, so the replay
    * rewrites it byte-identically; a fold slotted INTO the crash window
    * could have absorbed the first delta (its name stays
    * manifest-excluded for one further fold cycle — the manifested
    * discipline's self-heal — but not indefinitely), which is exactly
    * what the replay-before-maintenance rule exists to keep out of the
    * window. A SPURIOUS replay of an already-COMPLETED delete is a
    * structural no-op: the committed tombstone
    * ([[Retention.tombstoneCommitted]]) gates the whole pair, so a
    * since-run fold can never be followed by a re-created delta.
    * Already-tombstoned ids (an earlier request) contribute nothing —
    * double-deletion cannot double-subtract. The id set per request is
    * deletion-sized (the documented bounded-collect class).
    *
    * Serve semantics after deletion: [[weights]] answers for LIVE
    * corpus documents; a deleted doc's now-absent grams drop from the
    * inner join, which is exactly the rebuild-on-remaining answer for
    * the remaining docs. */
  def delete(spark: SparkSession, stateDir: String, requestId: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): Unit = {
    if (Retention.tombstoneCommitted(spark, stateDir, requestId)) return
    val own = s"gen-$requestId"
    val fresh = Retention.deletedIds(spark, stateDir, exclude = Set(own))
      .map(t => docs.join(
        org.apache.spark.sql.functions.broadcast(
          t.select(col("id").as(idCol))), Seq(idCol), "left_anti"))
      .getOrElse(docs)
    fresh.select(explode(array_distinct(
        Dedup.shingleHashes(col(textCol), n))).as("gh"))
      .groupBy("gh").agg((count(lit(1)) * lit(-1L)).as("df"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/rows/gen-tomb-$requestId")
    val ids = docs.select(col(idCol).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    Retention.tombstone(spark, stateDir, requestId, ids)
  }

  /** Start maintaining gram dfs over `docs` (a streaming DataFrame with
    * id and text columns) under `stateDir/rows`. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String,
      textCol: String = "text", n: Int = 3,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        dfBatchRows(batch, textCol, n)
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/rows/gen-$id")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir)
        ()
      }
      .start()
}
