package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Listing and reading for the batch-id-generation directory layout
  * every streaming maintainer keeps its state in: a sink directory holds
  * one subdirectory per micro-batch, written with idempotent Overwrite so
  * Spark's replay of the last uncommitted batch rewrites it
  * byte-identically; readers consider only `_SUCCESS`-committed
  * generations, so a half-written directory from a crash is invisible
  * until its replay completes it. Generations are read through
  * [[readNames]] / [[readLive]] only, which start no Spark job. */
private[streaming] object Generations {

  def committed(spark: SparkSession, dir: String, prefix: String): Seq[String] = {
    val root = new Path(dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix) &&
        f.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName).toSeq.sorted
  }

  /** Union-read of an explicit generation-name list (callers that filter
    * the committed set first — e.g. manifest exclusion — share this one
    * path-building site); fails fast on an empty list. Each generation
    * dir is read as its OWN root through [[graft.sources.Tables.read]]
    * (footer schema, no inference job) and the scans union by name. A
    * multi-root read would refuse `partitionBy` generations (Spark fails
    * it with `CONFLICTING_DIRECTORY_STRUCTURES`: the non-`k=v` `gen-<id>`
    * segment sits between the shared parent and the partition dirs),
    * while per-root reads recover each generation's schema and partition
    * columns independently; filters on a partition column applied after
    * the union still reach every scan as `PartitionFilters`. */
  def readNames(spark: SparkSession, dir: String, names: Seq[String],
      prefix: String = "gen-"): DataFrame = {
    require(names.nonEmpty, s"no committed '$prefix' generations under $dir")
    names.map(n => Tables.read(spark, s"$dir/$n")).reduce(_.unionByName(_))
  }

  /** Union-read of every [[live]] generation; fails fast when none is. */
  def readLive(spark: SparkSession, dir: String, prefix: String = "gen-"): DataFrame =
    readNames(spark, dir, live(spark, dir, prefix), prefix)

  /** Union-read of every committed generation; fails fast when none has
    * committed yet (callers with a cold-start schema pass a template to
    * their own wrapper instead). */
  def read(spark: SparkSession, dir: String, prefix: String): DataFrame =
    readNames(spark, dir, committed(spark, dir, prefix), prefix)

  /** Fold accumulated `gen-<id>` generations under `dir` into one
    * `gen-compact-<epoch>`: union committed sources (prior compactions +
    * all batch generations EXCEPT the newest — replay protection: an
    * uncommitted trailing batch rewrites its own generation on replay,
    * so its rows must not also live in a fold), full-row dropDuplicates
    * (+ the caller's `fold`, e.g. a tombstone purge — it must be
    * duplication-inert like the rows themselves), write the fold, then
    * delete sources. Interruption between the fold write and the source
    * deletes leaves exact duplicate rows; the next fold's dropDuplicates
    * collapses them, so readers that either full-row-dedup or are
    * duplication-inert self-heal. MUST run inside the serial
    * foreachBatch loop (the `compactEvery` hooks) — the
    * single-maintenance-job contract. */
  def compactFold(spark: SparkSession, dir: String,
      fold: DataFrame => DataFrame = identity): Unit = {
    val gens = committed(spark, dir, "gen-")
      .filterNot(_.startsWith("gen-compact-"))
    val priorCompactions = committed(spark, dir, "gen-compact-")
    val newestBatchGen = gens
      .flatMap(g => g.stripPrefix("gen-").toLongOption.map((_, g)))
      .maxByOption(_._1).map(_._2)
    val sources = priorCompactions ++ gens.filterNot(newestBatchGen.contains)
    if (sources.size > 1) {
      val epoch = priorCompactions
        .flatMap(_.stripPrefix("gen-compact-").toLongOption)
        .maxOption.getOrElse(0L) + 1
      fold(Tables.read(spark, sources.map(g => s"$dir/$g"): _*).dropDuplicates())
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/gen-compact-$epoch")
      val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      sources.foreach(g => f.delete(new Path(dir, g), true))
    }
  }

  /** The fold-source manifest a MANIFESTED compaction writes inside its
    * output generation ([[compactManifested]]): the generation names it
    * folded, one per line. Readers of non-duplication-inert state resolve
    * these to exclude folded sources that are still on disk (deferred
    * delete — see [[compactManifested]]'s crash-window rules). */
  private def manifestOf(f: org.apache.hadoop.fs.FileSystem, dir: String,
      gen: String): Seq[String] = {
    val p = new Path(s"$dir/$gen/_sources.txt")
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    }
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed generations MINUS any generation a committed fold's
    * manifest lists as already folded — the reader-side half of the
    * manifested-compaction discipline. State that is NOT inert under row
    * duplication (additive counts, BM25 statistics, ADC partial sums, CC
    * edges) must list generations through here, or the window between a
    * fold's commit and its sources' physical delete double-counts. */
  def live(spark: SparkSession, dir: String, prefix: String = "gen-"): Seq[String] = {
    val f = fs(spark, dir)
    val all = committed(spark, dir, prefix)
    val folded = all.filter(_.startsWith(s"${prefix}compact-"))
      .flatMap(manifestOf(f, dir, _)).toSet
    all.filterNot(folded)
  }

  /** MANIFESTED fold of accumulated `gen-<id>` generations — the
    * compaction discipline for state that is NOT inert under row
    * duplication, where [[compactFold]]'s heal-by-dropDuplicates cannot
    * apply (summed counts, additive statistics sidecars, partitioned
    * index rows whose readers skip the dedup exchange). `fold` collapses
    * the unioned sources (identity for append-only rows, a re-aggregate
    * for additive state); `partitionCols` optionally lands the fold
    * physically partitioned so pruned readers keep their
    * `PartitionFilters` across compactions.
    *
    * Crash-window rules (shared with — and extracted from — the
    * [[StreamAnomaly]] state compactor, which pins them in its spec):
    *
    *  - the fold is built in a `tmp-`-prefixed directory — invisible to
    *    every reader — with its `_sources.txt` manifest written INSIDE
    *    it, and becomes visible only through one atomic directory rename
    *    (a false return aborts BEFORE anything is deleted). There is no
    *    instant at which a committed fold exists without its manifest;
    *  - a committed fold's sources are NOT deleted in the same run:
    *    deletion happens at the START of the NEXT compaction (the
    *    leftover sweep), long after any reader that listed generations
    *    before this fold's rename has finished with them;
    *  - the newest raw batch generation is never folded (replay rule: an
    *    uncommitted trailing batch rewrites `gen-<id>` under its own name
    *    on restart, and must not ALSO live on inside a fold).
    *
    * SINGLE-MAINTENANCE-JOB CONTRACT: run inside the serial foreachBatch
    * loop (the `compactEvery` hooks) or otherwise one at a time.
    *
    * `prefix` names the generation family — `gen-` for maintainer state,
    * `batch-` for landed corpus generations ([[Retention.compactCorpus]]);
    * folds land as `<prefix>compact-<epoch>`. */
  def compactManifested(spark: SparkSession, dir: String,
      fold: DataFrame => DataFrame,
      partitionCols: Seq[String] = Nil, prefix: String = "gen-",
      decorate: Path => Unit = _ => ()): Unit =
    foldManifested(spark, dir, fold, partitionCols, prefix,
      includeNewest = false, minSources = 2, decorate)

  /** REPLACE the live state under `dir` with `rebuilt` — the compaction
    * of the REBUILD-ONLY deletion classes ([[Retention]]'s KMV/histogram
    * scaladoc): lossy-additive state retains no per-row contribution to
    * subtract, so post-deletion repair re-derives the whole structure
    * from the (purged) landed corpus and swaps it in atomically. The
    * swap is a manifested fold whose manifest lists EVERY live
    * generation — INCLUDING the newest raw batch generation, which
    * ordinary folds must exclude: safe here because `rebuilt` derives
    * from the landed corpus rather than from the folded rows, so a
    * replayed batch rewrites its generation byte-identically and the
    * manifest keeps it excluded (its contribution already lives in the
    * corpus the rebuild read). Readers switch old → rebuilt in the one
    * atomic rename every manifested fold commits through. */
  def replaceManifested(spark: SparkSession, dir: String,
      rebuilt: => DataFrame,
      partitionCols: Seq[String] = Nil, prefix: String = "gen-",
      decorate: Path => Unit = _ => ()): Unit =
    foldManifested(spark, dir, _ => rebuilt, partitionCols, prefix,
      includeNewest = true, minSources = 1, decorate)

  /** `decorate` runs against the STILL-INVISIBLE `tmp-` fold directory
    * after the parquet write and before the manifest + rename — the hook
    * that lets a fold carry an underscore-prefixed SIDECAR (hidden from
    * the generation's own parquet scan, like `_sources.txt`) which
    * publishes atomically WITH the folded rows: [[StreamIvfPq]] stores
    * the quantizer centroids a re-shard retrains this way, because codes
    * and the centroids that assigned their cells are only correct
    * together — two separate commits would open a window where a serve
    * probes new cells against old assignments (or vice versa). */
  private def foldManifested(spark: SparkSession, dir: String,
      fold: DataFrame => DataFrame,
      partitionCols: Seq[String], prefix: String,
      includeNewest: Boolean, minSources: Int,
      decorate: Path => Unit = _ => ()): Unit = {
    val f = fs(spark, dir)
    val compactPrefix = s"${prefix}compact-"
    // sweep invisible tmp leftovers from crashed folds
    val root = new Path(dir)
    if (f.exists(root)) f.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"tmp-$compactPrefix"))
      .foreach(s => f.delete(s.getPath, true))
    val all = committed(spark, dir, prefix)
    val priorAll = all.filter(_.startsWith(compactPrefix))
    val alreadyFolded = priorAll.flatMap(manifestOf(f, dir, _)).toSet
    // crash leftovers — folded (raw OR older compact) but not yet
    // deleted: finish the delete
    all.filter(alreadyFolded).foreach(g => f.delete(new Path(dir, g), true))
    val prior = priorAll.filterNot(alreadyFolded)
    val gens = all.filterNot(g =>
      alreadyFolded(g) || g.startsWith(compactPrefix))
    val newestBatchGen =
      if (includeNewest) None
      else gens
        .flatMap(g => g.stripPrefix(prefix).toLongOption.map((_, g)))
        .maxByOption(_._1).map(_._2)
    val sources = prior ++ gens.filterNot(newestBatchGen.contains)
    if (sources.size >= minSources) {
      val epoch = prior.flatMap(_.stripPrefix(compactPrefix).toLongOption)
        .maxOption.getOrElse(0L) + 1
      val tmp = s"$dir/tmp-$compactPrefix$epoch"
      val w = fold(readNames(spark, dir, sources, prefix))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp)
      decorate(new Path(tmp))
      val out = f.create(new Path(s"$tmp/_sources.txt"), true)
      try out.write(sources.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      require(f.rename(new Path(tmp), new Path(s"$dir/$compactPrefix$epoch")),
        s"compaction rename failed for $tmp — sources left untouched")
      // sources now excluded by every reader via the manifest; their
      // physical delete is the NEXT run's leftover sweep (see scaladoc)
    }
  }

  /** Name of the published-view marker file under a generation dir. */
  val Marker = "_latest"

  /** Atomically (re-)point `dir/_latest` at generation `name`: temp file +
    * overwrite-capable rename, so the marker transitions old→new in one
    * operation and never disappears — readers (and restart recovery)
    * never observe "no committed generation" mid-swap. Shared by
    * [[StreamUpsert]]'s snapshots and [[StreamAnomaly]]'s board. */
  def pointMarker(spark: SparkSession, dir: String, name: String): Unit = {
    val tmp = new Path(dir, s"$Marker.tmp")
    val m = new Path(dir, Marker)
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(tmp, true)
    try out.write(name.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(m.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(m), Options.Rename.OVERWRITE)
  }

  /** The marker's current generation name, if the marker exists and is
    * non-empty. */
  def readMarker(spark: SparkSession, dir: String): Option[String] = {
    val m = new Path(dir, Marker)
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      try {
        val s = scala.io.Source.fromInputStream(in).mkString.trim
        if (s.isEmpty) None else Some(s)
      } finally in.close()
    }
  }
}
