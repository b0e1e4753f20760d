package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** Continuously-maintained range-quantile histograms — the streamed form
  * of [[Analytics.dailyValueHistograms]], completing the
  * pre-aggregate-once sketch family's streaming story: each arriving
  * micro-batch reduces to its own ≤ days×bins (day, bin, n) rows and
  * lands as a generation, and because fixed-edge bin counts are ADDITIVE
  * (the property the batch family is built on), the serve-time merge —
  * [[Analytics.histQuantiles]]'s per-bin sum — is indifferent to how
  * counts are split across generations: any interleaving, any
  * out-of-order delivery, any compaction state serves exactly the batch
  * answer on the union of every arrival (the spec's law).
  *
  * Compaction folds accumulated generations by re-summing per (day,
  * bin), bounding state at one row per key — days×bins rows total,
  * REGARDLESS of event history (the sketch-family bound; raw events are
  * never retained). Summed counts are NOT inert under row duplication
  * (a replayed generation would double its days), so folds are
  * MANIFESTED ([[Generations.compactManifested]] — the
  * [[StreamAnomaly]] additive-count discipline, shared).
  *
  * Scale shape per batch: one batch-sized two-phase aggregate (≤
  * days×bins rows cross) + a metadata-scale write; serve cost is the
  * batch family's — the live histogram rows, never events. */
object StreamHist {

  /** The live merged histogram: one (day, bin, n) relation over the
    * committed generations (manifest-resolved; per-key rows may still be
    * split across generations until the next fold — consumers sum, as
    * [[Analytics.histQuantiles]] does). */
  def histogram(spark: SparkSession, stateDir: String): DataFrame =
    liveRows(spark, stateDir).groupBy("day", "bin").agg(sum("n").as("n"))

  /** Serve: quantiles over an inclusive day range from the live
    * histogram state alone. */
  def quantiles(spark: SparkSession, stateDir: String, from: String,
      to: String, ps: Seq[Double], width: Double = 25.0): DataFrame =
    Analytics.histQuantiles(liveRows(spark, stateDir), from, to, ps, width)

  private def liveRows(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readLive(spark, s"$stateDir/rows")

  /** Fold accumulated generations to one row per (day, bin) — manifested,
    * see the object scaladoc. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Generations.compactManifested(spark, s"$stateDir/rows",
      _.groupBy("day", "bin").agg(sum("n").as("n")))

  /** Start maintaining histograms over `events` (a streaming DataFrame
    * with `ts` and `value`) under `stateDir/rows`. */
  def start(events: DataFrame, stateDir: String, checkpoint: String,
      width: Double = 25.0, bins: Int = 20,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        Analytics.dailyValueHistograms(batch, width, bins)
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/rows/gen-$id")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir)
        ()
      }
      .start()
}
