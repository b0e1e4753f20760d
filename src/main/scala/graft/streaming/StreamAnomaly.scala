package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Analytics
import graft.sources.Tables

/** Continuously-maintained anomaly baselines — the streaming face of
  * [[graft.operators.Analytics.dailyAnomalies]] (E91), in the repo's
  * disk-state `foreachBatch` house style (the [[StreamNearDedup]] /
  * [[StreamUpsert]] durability rules):
  *
  *  1. each micro-batch lands its PARTIAL per-(type, day) counts as an
  *     idempotent batch-id-named generation `stateDir/gen-<id>` — a
  *     replayed batch overwrites its own generation byte-identically, so
  *     counts are never doubled;
  *  2. the merged daily counts (sum over every LIVE committed generation)
  *     are rescored with the batch operator's OWN window stage
  *     ([[Analytics.anomaliesFromDailyCounts]]) and the full board is
  *     rewritten to `outDir/current` — a continuously-maintained
  *     materialized view of E91's answer.
  *
  * Arrival-order INSENSITIVE by construction: state is additive daily
  * counts, so any interleaving of (late) events converges to the batch
  * counts once drained — and identical counts through the identical
  * scoring stage give the batch answer verbatim (StreamAnomalySpec
  * drives this equivalence). A day's z therefore FIRMS UP as its (and
  * its baseline's) late data lands, rather than freezing at first
  * emission — the Update-mode semantics a monitoring board wants; pair
  * with a watermark-delayed reader for fire-once alerting.
  *
  * Scale shape per batch: the corpus-sized work is the batch's own
  * two-phase daily count (one row per touched (type, day) crosses); the
  * merge + window rescoring runs over types×days aggregate rows — tiny
  * at any event volume. Generations accumulate one small file set per
  * batch; fold them with [[compactState]] at maintenance cadence.
  */
object StreamAnomaly {

  private def fs(spark: SparkSession, stateDir: String): FileSystem =
    new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed generations MINUS any generation a committed fold's
    * manifest lists as already folded ([[Generations.live]]). Counts are
    * additive, so — unlike [[StreamNearDedup]]'s inert duplicate
    * signature rows — reading a fold together with one of its own sources
    * would double every count it covers; EVERY reader (the per-batch
    * board recompute included, not just compaction) must therefore
    * resolve manifests, or the window between a fold's commit and its
    * sources' deletion publishes doubled counts. */
  def liveGens(spark: SparkSession, stateDir: String): Seq[String] =
    Generations.live(spark, stateDir)

  /** Merged (event_type, day, n) over every LIVE committed generation. */
  def mergedCounts(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readNames(spark, stateDir,
      liveGens(spark, stateDir), "gen-")
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n"))

  /** The published board: the generation the `_latest` marker names (or,
    * marker lost, the newest committed `board-*` — the [[StreamUpsert]]
    * recovery rule). Readers racing a micro-batch always see one fully
    * committed board: publication is write-to-own-generation + atomic
    * marker repoint, never a delete-then-write of a shared path. */
  def currentBoard(spark: SparkSession, outDir: String): DataFrame = {
    val gen = Generations.readMarker(spark, outDir).orElse {
      Generations.committed(spark, outDir, "board-")
        .flatMap(g => g.stripPrefix("board-").toLongOption.map((_, g)))
        .maxByOption(_._1).map(_._2)
    }.getOrElse(throw new IllegalStateException(s"no committed board under $outDir"))
    Tables.read(spark, s"$outDir/$gen")
  }

  /** `compactEvery` (0 = off) runs [[compactState]] every
    * `compactEvery`-th batch id INSIDE the serial foreachBatch loop,
    * after the board publish — the point where no merged-counts read is
    * in flight, so the hook also discharges compactState's
    * single-maintenance-job contract (see its scaladoc): hook-driven
    * compactions are strictly serialized with every per-batch reader. */
  def start(events: DataFrame, stateDir: String, outDir: String,
      checkpoint: String, days: Int = 7,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        batch
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/gen-$id")
        // publish the recomputed board as this batch's own generation and
        // atomically repoint the marker (replay rewrites byte-identically
        // and re-points to the same name — idempotent); keep the previous
        // board one generation longer for readers holding the old marker
        val board = s"board-$id"
        Analytics.anomaliesFromDailyCounts(mergedCounts(spark, stateDir), days)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$board")
        Generations.pointMarker(spark, outDir, board)
        val keep = Generations.committed(spark, outDir, "board-")
          .flatMap(g => g.stripPrefix("board-").toLongOption.map((_, g)))
          .sortBy(-_._1).take(2).map(_._2).toSet
        val f = fs(spark, outDir)
        f.listStatus(new Path(outDir))
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("board-") &&
            !keep(s.getPath.getName))
          .foreach(s => f.delete(s.getPath, true))
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir)
        ()
      }
      .start()
  }

  /** Fold accumulated per-batch count generations into one (small-file
    * maintenance): rows are re-summed per (type, day) so the folded
    * generation is one row per key. Summed counts are NOT inert under
    * duplication, so this is a MANIFESTED fold
    * ([[Generations.compactManifested]] — the crash-window rules these
    * spec tests originally pinned now live, shared, on that helper):
    * tmp-build + in-fold manifest + atomic rename, sources deleted only
    * at the NEXT run's leftover sweep, newest raw batch generation never
    * folded. The `compactEvery` hook in [[start]] discharges the
    * single-maintenance-job contract; manual invocations must run one at
    * a time, while the stream is stopped or between triggers. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    Generations.compactManifested(spark, stateDir,
      _.groupBy("event_type", "day").agg(sum(col("n")).as("n")))
}
