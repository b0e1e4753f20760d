package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.TextAnalysis

/** Continuous ABSOLUTE token budgeting — the streamed form of
  * [[TextAnalysis.budgetCapRows]] (per-source token allowances enforced
  * AT INGEST), completing the domain-balance pair with [[StreamCap]]
  * (document counts): arriving documents tokenize ONCE at arrival (the
  * landed state is (doc_id, source, n_tokens) — text never lands and
  * never re-reads), rows land as generations, and because the
  * fixed-budget greedy-prefix cut is ABSORBING
  * (cut(cut(A) ∪ B) = cut(A ∪ B) — a later arrival can only GROW a
  * document's prefix mass in the md5 order, so a cut document stays
  * cut; the FRACTIONAL [[TextAnalysis.budgetMix]] is exactly NOT this,
  * its budget grows with the corpus, which is why the streamed form
  * takes an absolute allowance), compaction folds the accumulated rows
  * through the SAME cut, bounding state at ~budget tokens per source
  * plus one boundary document regardless of history; serve re-cuts the
  * live rows.
  *
  * As with [[StreamCap]], the kept set is a corpus property, not an
  * admission gate: a document inside its source's allowance at arrival
  * time is DISPLACED when a lower-hash arrival pushes its prefix mass
  * over budget — the serve answer always equals the batch cut on the
  * union of every arrival (the spec's law), which is what a token
  * allowance means under late data.
  *
  * Folds are MANIFESTED ([[Generations.compactManifested]]): a
  * duplicated row would double-count its tokens into every later
  * prefix and evict documents that the true corpus keeps — rows are
  * not duplication-inert, so readers must never observe a fold with
  * its sources.
  *
  * Scale shape per batch: one batch-sized scan-side tokenize +
  * projection write; the fold and the serve re-cut run the
  * [[TextAnalysis.budgetMix]] distributed prefix sum — range-bucketed
  * per-source windows, never a whole-source single-task sort. */
object StreamBudget {

  /** Serve: the currently-kept (doc_id, source, n_tokens) set — the
    * absorbing budget re-cut over the live generations. */
  def kept(spark: SparkSession, stateDir: String, budget: Long): DataFrame =
    TextAnalysis.budgetCapRows(liveRows(spark, stateDir), budget)

  private def liveRows(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readLive(spark, s"$stateDir/rows")

  /** Fold the accumulated rows through the absorbing budget cut
    * (manifested — see the object scaladoc). */
  def compactState(spark: SparkSession, stateDir: String, budget: Long): Unit =
    Generations.compactManifested(spark, s"$stateDir/rows",
      df => TextAnalysis.budgetCapRows(df, budget)
        .select("doc_id", "source", "n_tokens"))

  /** Start budgeting `docs` (a streaming DataFrame carrying `idCol`,
    * `textCol`, `srcCol`) under `stateDir/rows`. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String,
      budget: Long, idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source",
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        TextAnalysis.tokenCountRows(batch, idCol, textCol, srcCol)
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/rows/gen-$id")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir, budget)
        ()
      }
      .start()
}
