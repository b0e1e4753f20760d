package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Cdc
import graft.sources.Tables

/** Streaming snapshot maintenance — the streaming face of
  * [[graft.operators.Cdc]]: fold a keyed I/U/D change stream into a
  * continuously-current Parquet snapshot via `foreachBatch`.
  *
  * Durability contract (exactly-once effective state):
  *  - each micro-batch writes the NEXT snapshot to its own generation
  *    directory `gen-<batchId>` and then atomically re-points a one-line
  *    `_latest` marker (temp file + rename) — readers never observe a
  *    half-written snapshot (the swap-on-success rule, same as
  *    Compaction's contract);
  *  - on restart Spark replays the last uncommitted batch with the SAME
  *    batch id: if the marker already names `gen-<batchId>` the batch is
  *    skipped (the write+point completed; re-applying would read the
  *    directory being overwritten), otherwise the replay recomputes from
  *    the previous generation — either way the final state is the one
  *    fold of every batch in order;
  *  - generations older than the previous one are pruned after the point.
  *
  * Ordering contract (standard CDC ingestion): within a micro-batch the
  * highest `seqCols` change per key wins (Cdc.applyChangelog); across
  * batches, arrival order wins — a per-key monotone sequence feed is the
  * upstream's contract, as with any log-compacted changelog consumer.
  *
  * Scale shape per batch: one two-phase `max_by` collapse of the batch
  * (small), one left-anti join against the previous snapshot (broadcast
  * of the collapsed change set in the common case), one columnar write.
  * The snapshot never shuffles.
  */
object StreamUpsert extends Logging {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Name of the current committed generation, if any. When the marker is
    * absent but committed (`_SUCCESS`-bearing) generation directories
    * exist — an operator deleted the marker, or a pre-overwrite-rename
    * layout crashed mid-swap — recover the newest committed generation
    * instead of silently cold-starting (which would fold the replayed
    * batch into an EMPTY base and then prune every earlier generation:
    * total snapshot loss). A half-written generation (no `_SUCCESS`) is
    * never recovered; re-folding an already-complete generation is safe
    * because `Cdc.applyChangelog` is idempotent per batch. */
  def latestGen(spark: SparkSession, snapshotDir: String): Option[String] =
    Generations.readMarker(spark, snapshotDir).orElse {
      val committed = Generations.committed(spark, snapshotDir, "gen-")
        .flatMap(g => g.stripPrefix("gen-").toLongOption.map((_, g)))
      committed.maxByOption(_._1).map { case (_, newest) =>
        logWarning(s"$snapshotDir/${Generations.Marker} is missing but " +
          s"committed generations exist; recovering newest ($newest) " +
          "instead of cold-starting")
        newest
      }
    }

  private def pointTo(spark: SparkSession, snapshotDir: String, gen: String): Unit =
    Generations.pointMarker(spark, snapshotDir, gen)

  /** The current committed snapshot (empty, schema-less read error if no
    * generation committed yet — use the overload with a template for
    * cold starts). */
  def currentSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    Tables.read(spark, snapshotDir + "/" +
      latestGen(spark, snapshotDir).getOrElse(
        throw new IllegalStateException(s"no committed snapshot under $snapshotDir")))

  /** Committed snapshot generations (batch ids, ascending) — the
    * TIME-TRAVEL history. Every id in this list is a complete,
    * `_SUCCESS`-committed point-in-time view readable via
    * [[snapshotAsOf]]; how far back it reaches is the `retain` setting
    * of the writer (history depth is a STORAGE trade, each generation is
    * a full snapshot — the snapshot-table layout, unlike the fold-index
    * layout where compaction deliberately absorbs history). */
  def history(spark: SparkSession, snapshotDir: String): Seq[Long] =
    Generations.committed(spark, snapshotDir, "gen-")
      .flatMap(_.stripPrefix("gen-").toLongOption).sorted

  /** TIME-TRAVEL read: the snapshot as of micro-batch `batchId` — the
    * newest committed generation with id ≤ batchId (exactly Delta/
    * Iceberg "VERSION AS OF" semantics over the generation-dir layout).
    * Readers never see a half-written state: only `_SUCCESS`-committed
    * generations qualify. Throws when `batchId` predates the retained
    * history.
    *
    * RETENTION-TAIL RACE: the list-then-read is not atomic — a
    * concurrent writer batch may prune the chosen generation (only the
    * current + previous are guaranteed to survive one batch) between the
    * listing and the parquet schema read. Resolution RETRIES against a
    * fresh listing (the pruned generation has left the committed set, so
    * the retry either finds a newer still-≤-batchId generation or
    * reports the honest predates-history error). A prune can still land
    * between the schema read and job execution — readers of the OLDEST
    * retained generations race the writer by construction; read the
    * current snapshot (always survives ≥ one extra batch) or raise
    * `retain` for audit-grade history. */
  def snapshotAsOf(spark: SparkSession, snapshotDir: String,
      batchId: Long): DataFrame = {
    var last: Throwable = null
    (1 to 3).foreach { _ =>
      val ids = history(spark, snapshotDir)
      val hit = ids.filter(_ <= batchId).lastOption.getOrElse(
        throw new IllegalStateException(
          s"no committed generation ≤ $batchId under $snapshotDir " +
            s"(retained: ${ids.mkString(",")})"))
      try return Tables.read(spark, s"$snapshotDir/gen-$hit")
      catch {
        // schema resolution is eager: a pruned-under-us directory
        // surfaces here; re-list and fall forward
        case e: org.apache.spark.sql.AnalysisException => last = e
      }
    }
    throw last
  }

  /** Start folding `changes` (a streaming DataFrame carrying the key,
    * sequence, op, and payload columns) into `snapshotDir`. The base
    * schema is the change schema minus `seqCols` and `opCol`. */
  /** `outputMode` is the QUERY's declared mode ("append" for plain change
    * feeds; "update" when `changes` contains a stateful operator like
    * flatMapGroupsWithState that mandates it — the foreachBatch fold
    * itself is mode-agnostic: it keys on what each batch CONTAINS).
    * `retain` keeps the newest N committed generations as time-travel
    * history (min 2 — the current + one-extra-for-in-flight-readers
    * floor the original prune rule guaranteed). */
  def start(changes: DataFrame, snapshotDir: String, checkpoint: String,
      keyCols: Seq[String], seqCols: Seq[String], opCol: String,
      trigger: Trigger = Trigger.AvailableNow(),
      outputMode: String = "append", retain: Int = 2): StreamingQuery = {
    changes.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val gen = s"gen-$id"
        if (!latestGen(spark, snapshotDir).contains(gen)) {
          val baseCols = batch.columns.toSeq
            .filterNot(c => seqCols.contains(c) || c == opCol)
          val base = latestGen(spark, snapshotDir) match {
            case Some(g) => Tables.read(spark, s"$snapshotDir/$g")
            case None    => batch.select(baseCols.map(batch(_)): _*).limit(0)
          }
          val prev = latestGen(spark, snapshotDir)
          Cdc.applyChangelog(base, batch, keyCols, seqCols, opCol)
            .write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/$gen")
          pointTo(spark, snapshotDir, gen)
          // prune to the newest `retain` generations (current always
          // kept; previous always survives one extra generation so an
          // in-flight reader of the old marker value still finds its
          // files) — everything older ages out of time-travel history
          val f = fs(spark, snapshotDir)
          val retained = history(spark, snapshotDir)
            .takeRight(math.max(retain, 1)).map(i => s"gen-$i").toSet
          val keep = retained + gen ++ prev
          f.listStatus(new Path(snapshotDir))
            .filter(s => s.isDirectory && !keep(s.getPath.getName))
            .foreach(s => f.delete(s.getPath, true))
        }
        ()
      }
      .start()
  }
}
