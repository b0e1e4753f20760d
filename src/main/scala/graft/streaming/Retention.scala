package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Targeted deletion / retention propagation — the GDPR-class primitive
  * every landed index needs: given a set of doc/vec/media ids, remove
  * their rows from the landed corpus AND every derived serve structure,
  * with the same durability discipline the indexes themselves use.
  *
  * The mechanism is a TOMBSTONE GENERATION per deletion request under
  * `<stateRoot>/tombstones/gen-<requestId>` (one `id` column,
  * `_SUCCESS`-committed, idempotent Overwrite — a crashed delete re-runs
  * under the same requestId and rewrites byte-identically, the
  * micro-batch replay discipline applied to deletions), composed with
  * the two halves every family shares:
  *
  *  - SERVE-SIDE EXCLUSION, immediately: every generation reader
  *    anti-joins the committed tombstone ids (broadcast — the tombstone
  *    set is deletion-request-sized, not corpus-sized), so the instant a
  *    tombstone commits, every serve behaves as if the index had been
  *    rebuilt from scratch on (corpus − deleted);
  *  - PHYSICAL PURGE, at the next compaction: each family's fold
  *    additionally anti-joins the tombstone set, so folded generations
  *    no longer carry the deleted rows at all. The newest raw batch
  *    generation is never folded (the replay rule), so its deleted rows
  *    survive ON DISK until a later fold — which is exactly why the
  *    serve-side exclusion is not optional and tombstones are never
  *    auto-retired: a tombstone is also the deletion AUDIT record, and
  *    retiring it early would resurrect rows still sitting in an
  *    unfolded generation.
  *
  * ADDITIVE SIDECARS (the search index's 1-row (n_docs, dl_sum) stats)
  * cannot be filtered row-wise — deletion subtracts instead: the owning
  * family's delete writes a NEGATIVE delta generation into the sidecar
  * directory ([[StreamSearchIndex.delete]]), which the existing SUM fold
  * absorbs with no special casing. The delta is computed from the live
  * per-doc rows of ids not already tombstoned, so re-deleting an id (or
  * replaying a crashed delete) never double-subtracts.
  *
  * REBUILD-ONLY CLASSES — documented, deliberately NOT deletable in
  * place: lossy-additive summaries retain no per-row contribution to
  * subtract. A KMV/theta sketch ([[StreamKmv]]) evicted hashes above its
  * bottom-k cap — removing a member cannot restore them, so a
  * post-deletion sketch must be rebuilt from the (already purged)
  * corpus; mergeable histograms ([[StreamHist]]) and anomaly boards
  * ([[StreamAnomaly]]) fold per-day counts whose per-doc provenance is
  * gone. For these, the tombstone records intent and the rebuild is the
  * compaction: re-run the maintainer over the purged corpus.
  *
  * SINGLE-MAINTENANCE-JOB CONTRACT: like compaction, deletions run
  * inside the owning stream's serial batch loop or while it is stopped —
  * never concurrently with a fold of the same root.
  *
  * SCOPE: tombstones govern the GENERATION-layout state the streaming
  * maintainers own. The catalog-table steady serves
  * ([[graft.operators.TextAnalysis.searchDocsSteady]],
  * [[graft.operators.Similarity.topKPqIvf]], the banded dedup
  * tables) are a different artifact class: landed once per IMMUTABLE
  * corpus dir (their documented memo-invalidation contract — a corpus
  * changed in place requires dropping the `<prefix>_*` tables, which
  * their `ensure*` wrappers then re-land from the current corpus).
  * Deletion there IS that contract: purge the corpus, drop the tables,
  * and the next serve re-lands against what remains.
  */
object Retention {

  /** Tombstone subdirectory name under a state root. The name does not
    * collide with generation listings: readers list `gen-*` children of
    * their own side directories, never of the root's `tombstones/`. */
  val Dir = "tombstones"

  private def root(stateDir: String) = s"$stateDir/$Dir"

  private def checkId(requestId: String): Unit =
    require(requestId.nonEmpty && requestId.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"requestId must be [A-Za-z0-9._-]+, got '$requestId'")

  /** Commit the tombstone generation for `requestId` — idempotent
    * Overwrite of `<stateDir>/tombstones/gen-<requestId>`; ids are
    * distinct-sorted so a replay rewrites byte-identically. */
  def tombstone(spark: SparkSession, stateDir: String, requestId: String,
      ids: Seq[Long]): Unit = {
    checkId(requestId)
    import spark.implicits._
    ids.distinct.sorted.toDF("id").coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${root(stateDir)}/gen-$requestId")
  }

  /** The committed tombstone id set under `stateDir` (distinct), minus
    * any generation named in `exclude` (a replaying delete excludes its
    * OWN generation when computing what is newly deleted — the
    * own-generation exclusion rule). None when no tombstone has ever
    * committed — the common case, costing one directory listing. */
  def deletedIds(spark: SparkSession, stateDir: String,
      exclude: Set[String] = Set.empty): Option[DataFrame] = {
    val gens = Generations.committed(spark, root(stateDir), "gen-")
      .filterNot(exclude)
    if (gens.isEmpty) None
    else Some(Generations.readNames(spark, root(stateDir), gens, "gen-")
      .select("id").distinct())
  }

  /** Anti-join `df` against the committed tombstones of `stateDir` on
    * `idCol` — identity when none exist. The broadcast side is the
    * tombstone set: deletion-volume-sized, never corpus-sized. */
  def filter(df: DataFrame, stateDir: String, idCol: String): DataFrame =
    deletedIds(df.sparkSession, stateDir) match {
      case Some(t) =>
        df.join(broadcast(t.select(col("id").as(idCol))), Seq(idCol), "left_anti")
      case None => df
    }

  /** True iff the tombstone generation for `requestId` has committed under
    * `stateDir` — the guard the additive-delta delete paths
    * ([[StreamSearchIndex.delete]], [[StreamSoftDf.delete]]) use to make a
    * SPURIOUS replay of an already-completed delete a no-op: once the
    * tombstone (the pair's LAST write) exists, the request's delta was
    * written too, and rewriting it against since-purged live rows would
    * corrupt the subtraction. */
  def tombstoneCommitted(spark: SparkSession, stateDir: String,
      requestId: String): Boolean =
    Generations.committed(spark, root(stateDir), "gen-")
      .contains(s"gen-$requestId")

  /** The LANDED CORPUS of a streaming gate — every live committed
    * `batch-<id>` generation under `corpusDir` (manifest-resolved, so a
    * [[compactCorpus]] fold and its not-yet-swept sources are never both
    * read), tombstoned rows excluded. The one reader every admitted-docs
    * serve shares once the corpus root is compactable. */
  def liveBatches(spark: SparkSession, corpusDir: String, idCol: String,
      prefix: String = "batch-"): DataFrame =
    filter(Generations.readNames(spark, corpusDir,
      Generations.live(spark, corpusDir, prefix), prefix), corpusDir, idCol)

  /** PHYSICAL PURGE of the landed corpus itself — the missing half the
    * serve-side tombstone anti-join only hides: fold accumulated
    * `batch-<id>` generations under `corpusDir` into one
    * `batch-compact-<epoch>` with the tombstoned rows dropped, so deleted
    * documents' raw text/payloads stop existing on disk (the GDPR
    * obligation; index-side folds already purge their derived rows the
    * same way). Landed corpus rows are NOT assumed duplication-inert
    * (serves join and aggregate over them), so the fold is MANIFESTED
    * ([[Generations.compactManifested]]): readers go through
    * [[liveBatches]] and never observe a fold with its sources; the
    * newest batch generation is never folded (replay rule); swept-source
    * deletion is deferred one cycle. Wired into every gate's
    * `compactEvery` hook and [[UnifiedIngest.compactAll]]. */
  def compactCorpus(spark: SparkSession, corpusDir: String, idCol: String,
      prefix: String = "batch-"): Unit =
    Generations.compactManifested(spark, corpusDir,
      df => filter(df, corpusDir, idCol), prefix = prefix)
}
