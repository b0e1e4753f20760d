package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.TextAnalysis

/** Continuous PER-SOURCE quota capping — the streamed form of
  * [[TextAnalysis.sourceCap]] (E150), i.e. domain balance enforced AT
  * INGEST instead of as a batch pass: arriving documents' (source,
  * doc_id) rows land as generations, and because the md5-draw cap cut
  * is ABSORBING (top-cap of a union = top-cap of (top-cap ∪ rest) —
  * the [[StreamKnn]] top-nn argument with (md5(id), id) as the order),
  * compaction folds the accumulated rows through the SAME
  * [[TextAnalysis.sourceCap]] cut, bounding state at cap·|sources|
  * rows regardless of history; serve re-cuts the live rows.
  *
  * The kept set is MONOTONE-STABLE in the way the batch operator is:
  * a document admitted at arrival time can later be displaced by a
  * lower-hash arrival of the same source — the cap is a corpus
  * property, not an admission gate — so the serve-time answer always
  * equals the batch [[TextAnalysis.sourceCap]] on the union of every
  * arrival (the spec's law), which is exactly what "domain balance"
  * means under late data.
  *
  * Folds are MANIFESTED ([[Generations.compactManifested]]): a
  * duplicated (source, doc_id) row would occupy two of the source's
  * cap slots and evict a distinct document, so rows are not
  * duplication-inert and readers must never observe a fold with its
  * sources.
  *
  * Scale shape per batch: one batch-sized projection write; the fold
  * and the serve re-cut run [[TextAnalysis.sourceCap]]'s bounded
  * partial heaps — ≤ cap rows per source per partition cross. */
object StreamCap {

  /** Serve: the currently-kept (source, doc_id) set — the absorbing cap
    * re-cut over the live generations. */
  def kept(spark: SparkSession, stateDir: String, cap: Int): DataFrame =
    TextAnalysis.sourceCap(liveRows(spark, stateDir), cap)

  private def liveRows(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readLive(spark, s"$stateDir/rows")

  /** Fold the accumulated rows through the absorbing cap cut
    * (manifested — see the object scaladoc). */
  def compactState(spark: SparkSession, stateDir: String, cap: Int): Unit =
    Generations.compactManifested(spark, s"$stateDir/rows",
      df => TextAnalysis.sourceCap(df, cap).select("source", "doc_id"))

  /** Start capping `docs` (a streaming DataFrame carrying `idCol` and
    * `srcCol`) under `stateDir/rows`. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String,
      cap: Int, idCol: String = "doc_id", srcCol: String = "source",
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        batch.select(col(srcCol).as("source"), col(idCol).as("doc_id"))
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/rows/gen-$id")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir, cap)
        ()
      }
      .start()
}
