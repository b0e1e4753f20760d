package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Sketches

/** Continuously-maintained KMV distinct-count sketches — the streamed
  * form of [[Sketches]]: each arriving micro-batch reduces to its own
  * ≤ k-per-segment bottom-k sketch and lands as a generation, and
  * because bottom-k over distinct hashes is ABSORBING
  * (bottomk(bottomk(A) ∪ bottomk(B)) = bottomk(A ∪ B)) and
  * DUPLICATION-INERT (a replayed element re-derives the same hash and
  * the fold's distinct collapses it), the serve-time
  * [[Sketches.kmvFold]] over live generations equals the batch sketch
  * of the union of every arrival — any interleaving, any restart, any
  * compaction state (the spec's law).
  *
  * Unlike the additive-count families ([[StreamHist]]/[[StreamAnomaly]]),
  * this fold needs NO duplication protection — a fold observed together
  * with its sources still serves the exact answer. Compaction still uses
  * the manifested fold machinery, not for correctness but for the state
  * BOUND: folding through [[Sketches.kmvFold]] caps live state at
  * k·|segments| rows regardless of stream history, and the manifest
  * keeps the bound monotone (sources stop being re-read the moment the
  * fold commits, rather than at the next self-heal).
  *
  * Scale shape per batch: one batch-sized distinct + the bounded
  * TopKPerKey cut, then a metadata-scale write; serve cost is
  * k·|segments| rows — the whole reason a 100 TB stream's distinct
  * counts stay answerable without re-scanning anything. */
object StreamKmv {

  /** The live folded sketch: (key, h), ≤ k rows per segment. The read is
    * MANIFEST-RESOLVED ([[Generations.live]]) even though the
    * bottom-k fold is absorbing under ordinary compaction (a fold read
    * with its sources serves the same answer): the post-deletion REBUILD
    * ([[UnifiedIngest.rebuildSketches]] → [[Generations
    * .replaceManifested]]) swaps in a sketch of the PURGED corpus, and
    * absorbing-ness works against it there — folding the replaced state
    * with its not-yet-swept sources would resurrect exactly the deleted
    * hashes the rebuild removed. */
  def sketch(spark: SparkSession, stateDir: String,
      k: Int = Sketches.DefaultK): DataFrame =
    Sketches.kmvFold(Generations.readLive(spark, s"$stateDir/rows"), k)

  /** Serve: per-segment distinct estimates off live state alone. */
  def estimates(spark: SparkSession, stateDir: String,
      k: Int = Sketches.DefaultK): DataFrame =
    Sketches.kmvEstimates(sketch(spark, stateDir, k), k)

  /** Serve: pairwise union/intersection/Jaccard estimates off live
    * state alone. */
  def setOps(spark: SparkSession, stateDir: String,
      k: Int = Sketches.DefaultK): DataFrame =
    Sketches.kmvSetOps(sketch(spark, stateDir, k), k)

  /** Fold accumulated generations to one ≤ k-per-segment sketch —
    * manifested for the state bound (see the object Scaladoc). */
  def compactState(spark: SparkSession, stateDir: String,
      k: Int = Sketches.DefaultK): Unit =
    Generations.compactManifested(spark, s"$stateDir/rows",
      Sketches.kmvFold(_, k))

  /** Start maintaining sketches over a streaming DataFrame with
    * `event_type` and `user_id` columns, under `stateDir/rows`. */
  def start(events: DataFrame, stateDir: String, checkpoint: String,
      k: Int = Sketches.DefaultK,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        Sketches.kmvSketch(batch, "event_type", "user_id", k)
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/rows/gen-$id")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir, k)
        ()
      }
      .start()
}
