package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.GraftFunctions
import graft.sources.Tables

/** Continuous DSIR admission gating — the streamed form of
  * [[graft.operators.TextAnalysis.dsirSelect]]'s scoring half, the
  * fourth member of the ingest-hygiene family (StreamClean exact
  * fingerprints + decontamination, StreamSemantic embedding-space
  * dedup, StreamCap/StreamBudget domain balance — now domain MATCH):
  * arriving documents score their importance weight under a FROZEN
  * landed model (the E153 (lane, llr) artifact — the production
  * asymmetry: arrivals never influence the model they are gated by),
  * and rows at or above the weight floor land.
  *
  * Unlike the top-k SELECTION (a corpus property — not streamable
  * without displacement), a weight FLOOR is a pure row-local predicate:
  * admitted docs stay admitted, rejected docs stay rejected, no state
  * at all beyond the landed model — so the gate composes with the
  * stateful gates upstream or downstream at zero cost. The floor is
  * how the paper's selection deploys at ingest (score once, threshold
  * calibrated offline from the batch weight distribution).
  *
  * Scale shape per batch: ONE scan-side projection — the codegen
  * `hash_lane_counts` kernel + a sequential fold against the dims-length
  * llr plan literal (read once from the landed table at stream start) —
  * then the filtered append. Zero shuffles, zero joins, zero state. */
object StreamDsir {

  /** All landed (doc_id, source, weight) admissions. */
  def admitted(spark: SparkSession, outDir: String): DataFrame =
    Tables.read(spark, s"$outDir/rows")

  /** The batch form of the gate, shared by the stream and its spec: score
    * `docs` under `llr` and keep weight ≥ floor. */
  def gate(docs: DataFrame, llr: Array[Double], floor: Double,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    val dims = llr.length
    val llrLit = array(llr.map(lit(_)).toIndexedSeq: _*)
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        round(aggregate(zip_with(
          GraftFunctions.hashLaneCounts(col(textCol), dims), llrLit,
          (c, l) => c.cast("double") * l), lit(0.0), _ + _), 6).as("weight"))
      .filter(col("weight") >= floor)
  }

  /** Start gating `docs` (a streaming DataFrame carrying `idCol`,
    * `textCol`, `srcCol`) under the landed model at `llrTable`,
    * appending admissions to `outDir/rows`. */
  def start(docs: DataFrame, llrTable: String, floor: Double,
      outDir: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    // the dims-row bounded read — once per stream start, not per batch
    val llr = spark.table(llrTable).orderBy("lane")
      .collect().map(_.getDouble(1))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        gate(batch, llr, floor, idCol, textCol, srcCol)
          .write.mode(SaveMode.Append).parquet(s"$outDir/rows")
        ()
      }
      .start()
  }
}
