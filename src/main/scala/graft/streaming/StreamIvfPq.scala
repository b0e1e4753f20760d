package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Similarity
import graft.sources.{Landing, Tables}

/** Continuous IVF-PQ index maintenance — the ANN sibling of
  * [[StreamNearDedup]]: arriving vectors are encoded with the LANDED
  * trained quantizers ([[graft.operators.Similarity.landedQuantizers]] —
  * the fixed coarse centroids + PQ codebook every batch must share, or
  * the codes aren't comparable) and appended to a disk-resident
  * inverted code list as batch-id-named generations, each PHYSICALLY
  * PARTITIONED BY `cell_id` — the on-disk inverted-list layout, so a
  * serve-time `cell_id IN (probed cells)` prunes partitions and reads
  * only the probed lists (the round-9 layout kept cell_id as an
  * ordinary column and every query scanned the whole code table).
  * Per micro-batch:
  *
  *  1. encode the batch scan-side into (vec_id, sub, code) rows under
  *     their coarse cell ([[Similarity.IvfPqIndex.build]]);
  *  2. land them as the batch's own generation `indexDir/gen-<id>`,
  *     `partitionBy("cell_id")` (idempotent Overwrite: a replayed batch
  *     rewrites byte-identically because the quantizers are landed
  *     constants);
  *  3. at `compactEvery` cadence, fold accumulated generations into one
  *     ([[compactIndex]]) inside the serial batch loop — the safe point,
  *     as with [[StreamNearDedup.start]]'s hook.
  *
  * Queries serve from the accumulated index at any time via [[search]] —
  * the identical prune + ADC plan as the batch operator, reading ONLY
  * the probed cells' partitions of the landed code rows. ADC partial
  * sums are NOT inert under row duplication, so compaction follows the
  * MANIFESTED discipline ([[Generations.compactManifested]]): readers
  * resolve fold manifests and never observe a fold together with its
  * sources, which is what lets [[search]] skip any candidate dedup
  * exchange (round 9 paid a per-query dropDuplicates instead).
  *
  * Scale shape per batch: encode is scan-side codegen (zero shuffles
  * beyond the bounded centroid argmax); the generation write is
  * batch-sized; search reads (nprobe/|cells|) of the code table via
  * partition pruning (IvfPqLayoutSpec pins `PartitionFilters` on the
  * serve scan). The corpus embeddings are never re-read after their
  * batch lands — the index IS the m-byte codes.
  *
  * RE-SHARD ([[reshard]]): a store built under caller-fixed cells
  * outgrows its sizing as the corpus accumulates (fixed |cells| ⇒
  * probed-list reads ∝ N); the maintenance cadence can retrain the
  * coarse centroids at the √N production sizing over the live vectors
  * and swap codes + centroids atomically (the quantizer rides the fold
  * generation as an underscore-prefixed sidecar — [[QuantSidecar]] —
  * published by the same rename as the re-assigned rows). Every encode
  * and serve resolves [[currentCentroids]], so batches landing after the
  * re-shard encode at the new sizing and serves probe it, with no window
  * where probes and assignments disagree. The PQ codebook never
  * retrains — subspace quantization is coarse-independent.
  */
object StreamIvfPq extends Logging {

  /** Name of the quantizer sidecar directory a re-shard fold carries
    * INSIDE its generation: underscore-prefixed, so the generation's own
    * partition-discovering parquet scan ignores it (the `_sources.txt`
    * convention), and published by the SAME atomic rename as the
    * re-assigned code rows — codes and the centroids that assigned their
    * cells are only correct together, so they must never commit
    * separately. */
  val QuantSidecar = "_quant"

  /** The newest live fold generation carrying a quantizer sidecar, if
    * any — the store's CURRENT coarse centroids after a [[reshard]]
    * (ordinary [[compactIndex]] folds copy the sidecar forward, so the
    * newest-epoch rule survives compaction). Raw `gen-<id>` generations
    * never carry one. */
  def quantSidecarPath(spark: SparkSession, indexDir: String): Option[String] = {
    val f = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Generations.live(spark, indexDir)
      .filter(_.startsWith("gen-compact-"))
      .flatMap(g => g.stripPrefix("gen-compact-").toLongOption.map((_, g)))
      .sortBy(-_._1).map(_._2)
      .find(g => f.exists(
        new org.apache.hadoop.fs.Path(s"$indexDir/$g/$QuantSidecar")))
      .map(g => s"$indexDir/$g/$QuantSidecar")
  }

  /** The store's current coarse centroids: the newest re-shard sidecar
    * when one has committed, else the caller's fixed quantizers. EVERY
    * encode and serve resolves through here, so the whole store switches
    * sizing at the re-shard fold's rename and never mixes assignments
    * from two centroid sets. */
  def currentCentroids(spark: SparkSession, indexDir: String,
      fallback: => DataFrame): DataFrame =
    quantSidecarPath(spark, indexDir) match {
      case Some(p) => Tables.read(spark, p)
      case None => fallback
    }

  /** Encode one batch under the store's CURRENT centroids and land it as
    * generation `gen-<id>` — the per-batch body [[start]] drives, shared
    * with [[StreamHybrid]] / [[graft.streaming.UnifiedIngest]] so every
    * maintainer of this layout re-resolves the quantizer sidecar per
    * batch (a batch landing after a re-shard encodes at the new sizing;
    * a replayed batch across a re-shard boundary re-encodes differently,
    * which is safe because the re-shard manifest lists the old
    * generation — its rows are reader-invisible and its vectors already
    * live in the rebuilt fold). Empty batches skip the write (a zero-row
    * partitionBy write lands no schema-bearing file). */
  def indexBatch(batch: DataFrame, indexDir: String, id: Long,
      centroids: DataFrame, book: Similarity.Book): Unit =
    if (!batch.isEmpty) {
      val cent = currentCentroids(batch.sparkSession, indexDir, centroids)
      Similarity.IvfPqIndex.build(batch, cent, book).codes
        .write.mode(SaveMode.Overwrite).partitionBy("cell_id")
        .parquet(s"$indexDir/gen-$id")
    }

  /** RE-SHARD the store at the production √N sizing
    * ([[Similarity.scaledInitEvery]] — the Jégou balance point the
    * fixed-sizing family can't track as the corpus grows): retrain the
    * coarse centroids at ≈√N cells over the live `vectors`, re-assign
    * every vector's cell (the PQ codes themselves are
    * coarse-independent — `book` is reused verbatim, the production
    * re-shard path retrains nothing per-vector), and swap codes +
    * centroids in ONE atomic rename ([[Generations.replaceManifested]]
    * with the centroids written into the fold's [[QuantSidecar]] before
    * the rename — there is no instant where a serve can probe new cells
    * against old assignments).
    *
    * `minGrowth` is the re-shard hysteresis: skip (returning false)
    * unless the target cell count ≥ `minGrowth` × the current one, so a
    * compaction cadence can call this unconditionally and only pay the
    * retrain when the corpus has actually outgrown its sizing (~4× rows
    * at the default 2.0). `force` bypasses the check (demos, first
    * sizing of a store built under caller-fixed cells).
    *
    * SINGLE-MAINTENANCE-JOB CONTRACT, like every fold here: run inside
    * the serial batch loop. Tombstoned vectors are excluded from the
    * retrain input by the CALLER (pass live purged vectors) and from the
    * rebuilt rows here, so a re-shard is also a physical purge. */
  def reshard(spark: SparkSession, indexDir: String, vectors: DataFrame,
      book: Similarity.Book, fallbackCentroids: => DataFrame = null,
      minGrowth: Double = 2.0, force: Boolean = false): Boolean = {
    val n = vectors.count()
    if (n == 0L) return false
    val target = math.max(2L, math.round(math.sqrt(n.toDouble)))
    if (!force) {
      val current = quantSidecarPath(spark, indexDir) match {
        case Some(p) => Tables.read(spark, p).count()
        case None if fallbackCentroids != null => fallbackCentroids.count()
        case None =>
          // no sidecar, no caller centroids: the live cell count off the
          // store's partition VALUES — a FileSystem listing of the
          // `cell_id=` directory names under each live generation, so
          // this genuinely reads no data (the hysteresis check runs on
          // every unconditional maintenance call; a parquet-scan +
          // distinct exchange here would tax stores that never
          // resharded on every compaction cadence)
          val gens = Generations.live(spark, indexDir)
          if (gens.isEmpty) 0L
          else {
            val conf = spark.sessionState.newHadoopConf()
            gens.flatMap { g =>
              val hp = new org.apache.hadoop.fs.Path(s"$indexDir/$g")
              hp.getFileSystem(conf).listStatus(hp).toSeq.collect {
                case st if st.isDirectory &&
                    st.getPath.getName.startsWith("cell_id=") =>
                  st.getPath.getName
              }
            }.distinct.size.toLong
          }
      }
      if (current > 0L && target < minGrowth * current) return false
    }
    val cent = Similarity
      .kmeansCentroids(vectors, initEvery = Similarity.scaledInitEvery(n))
      .localCheckpoint()
    Generations.replaceManifested(spark, indexDir,
      rebuilt = Retention.filter(
        Similarity.IvfPqIndex.build(vectors, cent, book).codes,
        indexDir, "vec_id"),
      partitionCols = Seq("cell_id"),
      decorate = tmp => cent.write.mode(SaveMode.Overwrite)
        .parquet(s"$tmp/$QuantSidecar"))
    true
  }

  /** Every LIVE committed index generation (manifest-resolved —
    * [[Generations.live]]), unioned with per-root partition recovery
    * ([[Generations.readNames]]) and optionally pruned to `cells` BEFORE
    * the partition column is normalized back to long (partition-value
    * inference types the `cell_id=` directory values as int; the filter
    * runs on the inferred column, so it reaches every generation's scan
    * as `PartitionFilters`, then the cast restores the batch schema).
    * `template` supplies the (empty) schema before the first generation
    * commits. */
  def currentIndex(spark: SparkSession, indexDir: String,
      template: => DataFrame, cells: Option[Seq[Long]] = None): DataFrame = {
    val gens = Generations.live(spark, indexDir)
    if (gens.isEmpty) template
    else {
      val all = Generations.readNames(spark, indexDir, gens)
      val pruned = cells.fold(all)(cs => all.filter(col("cell_id").isin(cs: _*)))
      Retention.filter(
        pruned.select(col("vec_id").cast("long"), col("sub").cast("int"),
          col("code").cast("long"), col("cell_id").cast("long")),
        indexDir, "vec_id")
    }
  }

  /** Targeted deletion: commit the tombstone generation — every
    * [[currentIndex]] read excludes the vectors immediately, and the
    * next [[compactIndex]] purges their code rows physically
    * ([[Retention]]'s two halves; no additive sidecar here, so deletion
    * is the tombstone alone). */
  def delete(spark: SparkSession, indexDir: String, requestId: String,
      vecIds: Seq[Long]): Unit =
    Retention.tombstone(spark, indexDir, requestId, vecIds)

  /** Fold accumulated per-batch code generations into one, keeping the
    * cell-partitioned layout ([[Generations.compactManifested]] with
    * `partitionBy("cell_id")` — identity fold: code rows are append-only
    * and doc-unique, and the manifested discipline guarantees readers
    * never double-read a fold with its sources, so no dedup exchange is
    * paid at fold time either). Tombstoned vectors' rows are dropped
    * from the fold — the physical-purge half of [[delete]]. A committed
    * re-shard's quantizer sidecar is copied forward into the new fold
    * (inside the same atomic rename), so [[currentCentroids]]'s
    * newest-fold rule survives ordinary compaction. */
  def compactIndex(spark: SparkSession, indexDir: String): Unit = {
    val sidecar = quantSidecarPath(spark, indexDir)
      .map(p => Tables.read(spark, p).localCheckpoint())
    Generations.compactManifested(spark, indexDir,
      d => Retention.filter(
        d.select(col("vec_id").cast("long"), col("sub").cast("int"),
          col("code").cast("long"), col("cell_id").cast("long")),
        indexDir, "vec_id"),
      partitionCols = Seq("cell_id"),
      decorate = tmp => sidecar.foreach(
        _.write.mode(SaveMode.Overwrite).parquet(s"$tmp/$QuantSidecar")))
  }

  /** Start encoding `vectors` (a streaming DataFrame carrying `vec_id`
    * and `embedding`) into the inverted code list at `indexDir`, using
    * the caller-supplied FIXED quantizers (landed artifacts — see the
    * corpus-dir convenience overload). */
  def start(vectors: DataFrame, indexDir: String, checkpoint: String,
      centroids: DataFrame, book: Similarity.Book,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        indexBatch(batch, indexDir, id, centroids, book)
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactIndex(spark, indexDir)
        ()
      }
      .start()
  }

  /** [[start]] with the quantizers loaded from (training-and-landing on
    * first use) the corpus dir's landed artifact tables. */
  def startFromLanded(vectors: DataFrame, indexDir: String,
      checkpoint: String, corpusDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    val (centroids, book) =
      Similarity.landedQuantizers(vectors.sparkSession, corpusDir)
    start(vectors, indexDir, checkpoint, centroids, book,
      trigger = trigger, compactEvery = compactEvery)
  }

  /** Top-k ADC search over everything the stream has landed so far —
    * identical answer to the batch [[Similarity.searchIvfPqIndex]] over the
    * union of all arrived vectors (StreamIvfPqSpec pins that law,
    * cross-restart and across compaction cycles). The probe assignment
    * is collected first ([[Similarity.collectProbes]]) so the generation
    * read itself is pruned to the probed cells' partitions. */
  def search(spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: DataFrame, book: Similarity.Book,
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    val cent = currentCentroids(spark, indexDir, centroids)
    val probes = Similarity.collectProbes(queries, cent, nprobe)
    val codes = currentIndex(spark, indexDir,
      template = throw new IllegalStateException(
        s"no committed index generation under $indexDir"),
      cells = Some(probes.map(_.cellId).distinct.sorted))
    Similarity.searchIvfPqIndex(Similarity.IvfPqIndex(codes, cent, book),
      queries, k, nprobe, probesPre = Some(probes))
  }

  /** The re-shard life cycle as a batch-invokable CORRECTNESS entry
    * (`sim_topk_ivfpq_reshard`): build the store the way the stream does
    * — two generations encoded under the caller-FIXED 16-cell quantizers
    * ([[indexBatch]], the exact per-batch body) — then [[reshard]] at
    * the √N production sizing and serve. The serve resolves the
    * re-shard's sidecar centroids, so the answer equals the batch
    * √N-sized landed operator ([[Similarity.topKPqIvf]]) on the same
    * corpus — the entry SHARES that oracle (the landed ≡ direct law):
    * the store's history (built fixed, re-sharded later) is invisible to
    * the served answer, which is the whole point of the re-shard. The
    * store is a landed artifact dir ([[graft.sources.Landing.ensureDir]]):
    * built once per state root, found again by a restarted process. */
  def reshardedDocs(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val (cent16, book) = Similarity.landedQuantizers(spark, dir)
    val store = Landing.ensureDir(spark, Landing.key("ivfpq_reshard", dir)) { p =>
      val s = s"$p/codes"
      indexBatch(emb.filter(col("vec_id") % 2 === 0), s, 0, cent16, book)
      indexBatch(emb.filter(col("vec_id") % 2 === 1), s, 1, cent16, book)
      reshard(spark, s, emb, book, force = true)
    } + "/codes"
    search(spark, store, Similarity.defaultQueries(emb), cent16, book, k)
  }
}
