package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{Analytics, Dedup, Multimodal, Similarity, Sketches, TextAnalysis}
import graft.sources.Tables

/** ONE-LOOP unified ingest — the operational composition the separate
  * Stream* maintainers imply but, individually, never demonstrate: a
  * single `foreachBatch` drives every hygiene gate AND every serve
  * index off ONE arrival stream of (doc_id, text, embedding, source)
  * rows, with one compaction cadence. Per micro-batch, serially:
  *
  *  1. **exact gate** — keep-first within the batch, drop fingerprints
  *     already landed ([[Dedup.incrementalNew]] against the accumulated
  *     fingerprint index);
  *  2. **near gate** — MinHash band probe + Jaccard verify against the
  *     accumulated signature index ([[Dedup.incrementalNearNew]]);
  *  3. **containment gate** — prefix-filtered excerpt probe
  *     ([[Dedup.incrementalContainmentNew]]);
  *  4. **semantic gate** — fixed-cell cosine probe against the
  *     accumulated assignment index
  *     ([[Dedup.incrementalSemanticNewAssigned]], the caller's FIXED
  *     trained cells); plus, when the stream carries a binary payload
  *     column (`mediaCol`), the **perceptual media gate**
  *     ([[Multimodal.incrementalMediaNew]] against the accumulated
  *     signature index — the [[StreamMedia]] lifecycle folded into the
  *     same DAG);
  *  5. the ADMITTED survivors land as `corpus/batch-<id>`, and every
  *     piece of derived state regrows FROM THE LANDED BYTES (so a
  *     replayed batch re-derives byte-identical generations): the four
  *     gate indexes, the term-bucket-partitioned search index
  *     ([[StreamSearchIndex.indexBatch]]), the cell-partitioned IVF-PQ
  *     code list, the vector store, the per-source KMV doc-count
  *     sketch, the token-length histogram, the (doc_id, source,
  *     n_tokens) rows the absorbing budget view re-cuts, and the
  *     additive gram-df store behind soft-dedup weights
  *     ([[StreamSoftDf]]).
  *
  * Every DROPPED arrival leaves a (doc_id, source, gate) row in the
  * REJECTION LEDGER (`ledger/gen-<id>`, first-hit attribution — the
  * audit trail for "why was my document dropped", served by
  * [[rejectionReport]] / [[whyDropped]]): admitted ∪ ledger partitions
  * the arrivals exactly.
  *
  * SELECTION views (cap/budget/DSIR-class) are deliberately SERVE-side,
  * not admission gates: the absorbing-cut law (a kept document can be
  * displaced by a later lower-hash arrival) means the kept set is a
  * property of the accumulated corpus, so [[budgetKept]] re-cuts the
  * live rows — admission-dropping at arrival would violate the
  * post-stream ≡ batch-on-union law the family is built on
  * ([[StreamBudget]]'s scaladoc).
  *
  * The law (UnifiedIngestSpec): after any batch sequence — across
  * restarts and the single compaction cadence — EVERY family's serve
  * equals its batch operator applied to the admitted union: BM25/phrase
  * off the admitted docs, ADC search off the admitted vectors, KMV
  * estimates and histogram quantiles off the admitted rows, the budget
  * cut off the admitted token counts, soft-dedup weights off the
  * admitted grams; and the admitted set itself equals the serial batch
  * fold of the four gates.
  *
  * Durability: the [[StreamNearDedup]] rules for every write —
  * idempotent batch-id-named Overwrites, `_SUCCESS`-committed reads,
  * each gate's probe excluding the batch's OWN generation by name.
  * Deletion: [[delete]] tombstones every per-doc root at once
  * ([[Retention]]); the KMV sketch and histograms are the documented
  * rebuild-only classes.
  *
  * Scale shape per batch: each gate pays its documented probe cost
  * (band/cell/prefix equi-joins against disk state — never all-pairs,
  * never a corpus re-read); the regrow writes are batch-sized; the
  * compaction cadence folds each side under its own discipline (simple
  * fold where rows are duplication-inert, manifested where they are
  * not). The serially-composed gates share one batch-loop — at 1000
  * executors this is one job DAG per micro-batch instead of 10
  * independent streams re-reading the same arrivals. */
object UnifiedIngest {

  /** One fixed histogram day: the unified stream carries no event time,
    * so the token-length histogram accumulates under a single day key
    * (the additive-bin law is unaffected — the spec's serve range covers
    * it). */
  val HistDay = "2024-01-01"

  /** Start the unified loop over `docs` — a streaming DataFrame carrying
    * `doc_id`, `text`, `embedding`, `source` — under `stateDir`, with
    * the caller's FIXED trained quantizers (the [[StreamIvfPq]] /
    * [[StreamSemantic]] comparability contract).
    *
    * `mediaCol` names an OPTIONAL binary payload column: when present, a
    * FIFTH gate — the perceptual media arrival gate
    * ([[Multimodal.incrementalMediaNew]] against the accumulated
    * signature index at `stateDir/media`) — runs after the semantic
    * gate, and the loop additionally regrows the 32-byte-per-asset
    * signature index from the landed bytes (the [[StreamMedia]]
    * lifecycle folded into the one DAG). Absent ⇒ identity: the
    * text-only composition is unchanged. */
  def start(docs: DataFrame, stateDir: String, checkpoint: String,
      centroids: DataFrame, book: Seq[(Int, Int, Array[Double])],
      tau: Double = 0.999,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0,
      mediaCol: Option[String] = None): StreamingQuery = {
    // two-level assignment index, built ONCE per stream (the
    // Similarity.hierIndex contract): the O(k·√k) coarse training is
    // per-centroid-set work — re-deriving it per micro-batch would
    // dominate small batches at production k
    val (coarseLive, grouped) = Similarity.hierIndex(centroids)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val own = s"gen-$id"

        // 1. exact gate — index rows carry (doc_id, fp) so deletion can
        // tombstone by id (a deleted doc's fingerprint must stop
        // blocking verbatim re-arrivals, like every other gate); the
        // probe narrows to the fp column after the tombstone filter
        val fpGens = Generations.committed(spark, s"$stateDir/fps", "gen-")
          .filterNot(_ == own)
        val fps =
          if (fpGens.isEmpty)
            batch.limit(0)
              .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
          else Generations.readNames(spark, s"$stateDir/fps", fpGens, "gen-")
        val b1 = Dedup.incrementalNew(
          Retention.filter(fps, s"$stateDir/fps", "doc_id").select("fp"),
          batch, "doc_id", "text")

        // Each gate's survivor set is BOTH the next gate's input and the
        // rejection ledger's diff operand — localCheckpoint makes the
        // chain single-evaluation (without it, the ledger's anti-joins
        // would re-run every gate probe a second time)
        val b1c = b1.localCheckpoint()

        // 2. near gate
        val nearIdx = StreamNearDedup.currentIndex(spark, s"$stateDir/near",
          template = Dedup.buildNearDupIndex(batch.limit(0), "doc_id", "text"),
          exclude = Set(own))
        val b2 = Dedup.incrementalNearNew(nearIdx, b1c, "doc_id", "text")
          .localCheckpoint()

        // 3. containment gate
        val cIdx = StreamContain.currentIndex(spark, s"$stateDir/contain",
          template = Dedup.containmentIndexRows(batch.limit(0), "doc_id", "text"),
          exclude = Set(own))
        val b3 = Dedup.incrementalContainmentNew(
          cIdx.select(col("doc_id"), col("sz"), explode(col("sh")).as("shingle"))
            .select(col("shingle"), col("doc_id"), col("sz")),
          cIdx, b2, "doc_id", "text")
          .localCheckpoint()

        // 4. semantic gate
        val semIdx = StreamSemantic.currentIndex(spark, s"$stateDir/sem",
          template = batch.limit(0).select(col("doc_id").as("vec_id"),
            lit(0L).as("cell_id"), col("embedding")),
          exclude = Set(own))
        val keptIds = Dedup.incrementalSemanticNewWith(
          semIdx.select(col("cell_id"), col("embedding").as("m_emb")),
          b3.select(col("doc_id").as("vec_id"), col("embedding")),
          coarseLive, grouped, tau)
        val b4 = b3.join(
          keptIds.select(col("vec_id").as("doc_id")), Seq("doc_id"))
          .localCheckpoint()

        // 4b. media gate (only when the stream carries a payload column):
        // drop arrivals whose payload is a perceptual near-copy of
        // anything landed, or of a smaller-id fellow arrival
        val admitted = mediaCol match {
          case None => b4
          case Some(pc) =>
            val mIdx = StreamMedia.currentIndex(spark, s"$stateDir/media",
              template = Multimodal.buildMediaSigIndex(
                batch.limit(0), "doc_id", pc),
              exclude = Set(own))
            Multimodal.incrementalMediaNew(mIdx, b4, "doc_id", pc)
              .localCheckpoint()
        }

        // REJECTION LEDGER — the audit row every dropped arrival leaves
        // behind: (doc_id, source, gate) where gate is the FIRST stage
        // whose probe hit (the serial order makes attribution unique).
        // Derived from the same checkpointed stages the admission chain
        // ran — no probe re-runs — and written under the idempotent
        // batch-id-named Overwrite discipline, so a replayed batch
        // re-derives it byte-identically. An all-admitted batch lands an
        // empty (still readable — non-partitioned) generation.
        val stages = Seq(
          (batch, b1c, "exact"), (b1c, b2, "near"),
          (b2, b3, "contain"), (b3, b4, "semantic")) ++
          (if (mediaCol.isDefined) Seq((b4, admitted, "media")) else Nil)
        stages.map { case (before, after, gate) =>
          before.select(col("doc_id"), col("source"))
            .join(after.select("doc_id"), Seq("doc_id"), "left_anti")
            .withColumn("gate", lit(gate))
        }.reduce(_.unionByName(_))
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/ledger/gen-$id")

        // 5. land, then regrow all derived state from the landed bytes.
        // An all-dropped batch lands its (empty, still readable —
        // non-partitioned) corpus generation but regrows nothing: the
        // partitioned sides' zero-row writes would be unreadable (the
        // indexBatch rule), and empty gate generations add nothing.
        admitted.write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/corpus/batch-$id")
        val landed = Tables.read(spark, s"$stateDir/corpus/batch-$id")
        if (!landed.isEmpty) {
        val vecs = landed.select(col("doc_id").as("vec_id"), col("embedding"))
        landed.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
          .distinct()
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/fps/$own")
        Dedup.buildNearDupIndex(landed, "doc_id", "text")
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/near/$own")
        Dedup.containmentIndexRows(landed, "doc_id", "text")
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/contain/$own")
        Similarity.ivfAssignHierWith(vecs, coarseLive, grouped)
          .select(col("vec_id"), col("cell_id"), col("embedding"))
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/sem/$own")
        StreamSearchIndex.indexBatch(landed, s"$stateDir/search", id)
        // shared per-batch encode — resolves an ANN re-shard's sidecar
        // centroids ([[StreamIvfPq.currentCentroids]]), so batches after
        // a compactAll(reshardAnn) encode at the re-sized cells
        StreamIvfPq.indexBatch(vecs, s"$stateDir/codes", id,
          centroids, book)
        vecs.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/vecs/$own")
        Sketches.kmvSketch(landed, "source", "doc_id")
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/kmv/rows/$own")
        Analytics.dailyValueHistograms(landed.select(
            lit(HistDay).cast("timestamp").as("ts"),
            size(TextAnalysis.tokens(col("text"))).cast("double").as("value")))
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/hist/rows/$own")
        TextAnalysis.tokenCountRows(landed, "doc_id", "text", "source")
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/budget/rows/$own")
        StreamSoftDf.dfBatchRows(landed)
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/softdf/rows/$own")
        // additive per-source curation stats — dup probe against the
        // accumulated fp index, novelty probe against the accumulated
        // gram-df relation, both EXCLUDING this batch's own generation
        // by name (the replay rule: "state before me")
        val dfGens = Generations.live(spark, s"$stateDir/softdf/rows")
          .filterNot(_ == own)
        val seenGrams =
          if (dfGens.isEmpty) landed.limit(0).select(lit(0L).as("gh"))
          else StreamSoftDf.dfRows(spark, s"$stateDir/softdf",
            exclude = Set(own))
        TextAnalysis.curationBatchRows(landed,
            Retention.filter(fps, s"$stateDir/fps", "doc_id").select("fp"),
            seenGrams)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/curation/rows/$own")
        // additive LM state behind the DoReMi-class domain-reweight
        // serve ([[domainWeights]]): per-source bigram counts
        // (model-sized), distinct (source, token) vocabulary rows, and
        // per-source ≥1-bigram doc counts — occurrence counts sum
        // across batches to the union's counts with NO arrival-order
        // term, so the serve ≡ batch law is exact, not contractual
        TextAnalysis.bigramModelRows(landed, "text", "source")
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/lm/model/$own")
        TextAnalysis.lmVocabRows(landed, "text", "source")
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/lm/vocab/$own")
        TextAnalysis.lmDocStats(landed, "text", "source")
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/lm/stats/$own")
        // media signature index generation — derived from the landed
        // bytes (a replayed batch re-derives byte-identically), 32 bytes
        // per asset, payloads never enter the index
        mediaCol.foreach { pc =>
          Multimodal.buildMediaSigIndex(landed, "doc_id", pc)
            .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/media/$own")
        }
        }

        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactAll(spark, stateDir)
        ()
      }
      .start()
  }

  /** ONE compaction cadence for every side, each under its own
    * discipline: simple self-healing folds where rows are
    * duplication-inert (gate indexes, with tombstoned rows purged), and
    * manifested folds where they are not (search sides, codes, vecs,
    * histogram counts, KMV state bound). `budget` additionally folds
    * the budget rows through the absorbing cut — it must be ≥ any
    * budget later served (folding at a SMALLER budget than the serve
    * would discard rows the serve needs; callers serving multiple
    * budgets fold at the largest, or not at all — the default). */
  def compactAll(spark: SparkSession, stateDir: String,
      budget: Option[Long] = None,
      rebuildSketchState: Boolean = false,
      reshardAnn: Option[Seq[(Int, Int, Array[Double])]] = None): Unit = {
    Generations.compactFold(spark, s"$stateDir/fps",
      Retention.filter(_, s"$stateDir/fps", "doc_id"))
    Generations.compactFold(spark, s"$stateDir/ledger",
      Retention.filter(_, s"$stateDir/ledger", "doc_id"))
    StreamNearDedup.compactIndex(spark, s"$stateDir/near")
    StreamNearDedup.compactIndex(spark, s"$stateDir/contain")
    StreamSemantic.compactIndex(spark, s"$stateDir/sem")
    StreamMedia.compactIndex(spark, s"$stateDir/media") // no-op when text-only
    StreamSearchIndex.compactIndex(spark, s"$stateDir/search")
    StreamIvfPq.compactIndex(spark, s"$stateDir/codes")
    Generations.compactManifested(spark, s"$stateDir/vecs",
      Retention.filter(_, stateDir, "vec_id"))
    StreamKmv.compactState(spark, s"$stateDir/kmv")
    StreamHist.compactState(spark, s"$stateDir/hist")
    StreamSoftDf.compactState(spark, s"$stateDir/softdf")
    Generations.compactManifested(spark, s"$stateDir/curation/rows",
      _.groupBy("source").agg(
        sum("n_docs").as("n_docs"), sum("n_dups").as("n_dups"),
        sum("tokens_sum").as("tokens_sum"), sum("n_keep").as("n_keep"),
        sum("g_sum").as("g_sum"), sum("nov_sum").as("nov_sum")))
    // LM state: counts are NOT duplication-inert (manifested additive
    // folds); the distinct vocab rows are, under [[domainWeights]]'s
    // re-distincting read (simple self-healing fold — the ledger class)
    Generations.compactManifested(spark, s"$stateDir/lm/model",
      _.groupBy("source", "l", "r").agg(sum("n").as("n")))
    Generations.compactFold(spark, s"$stateDir/lm/vocab", _.distinct())
    Generations.compactManifested(spark, s"$stateDir/lm/stats",
      _.groupBy("source").agg(sum("n_docs").as("n_docs")))
    // the landed corpus itself: deleted docs' text/embeddings stop
    // existing on disk (Retention's physical-purge half for the root
    // every derived index regrows from)
    Retention.compactCorpus(spark, s"$stateDir/corpus", "doc_id")
    budget.foreach(b =>
      StreamBudget.compactState(spark, s"$stateDir/budget", b))
    if (rebuildSketchState) rebuildSketches(spark, stateDir)
    // ANN re-shard at the maintenance cadence (pass the store's PQ book;
    // the coarse centroids retrain at √N over the live vectors —
    // [[StreamIvfPq.reshard]]'s hysteresis skips until the corpus has
    // outgrown the current sizing ~4×). Scoped to the CODE store: the
    // semantic GATE's cells stay caller-fixed — its admit/drop answers
    // must not drift when the serve index re-shards.
    reshardAnn.foreach { book =>
      StreamIvfPq.reshard(spark, s"$stateDir/codes",
        liveVectors(spark, stateDir), book)
    }
  }

  /** Live (manifest-resolved) landed vectors, tombstoned ids
    * excluded — the re-shard's retrain input. */
  def liveVectors(spark: SparkSession, stateDir: String): DataFrame =
    Retention.filter(Generations.readLive(spark, s"$stateDir/vecs"), stateDir, "vec_id")

  /** POST-DELETION SKETCH REBUILD — the automation for the documented
    * rebuild-only classes ([[Retention]]'s scaladoc): a KMV sketch
    * evicted hashes above its bottom-k cap and the histogram's per-doc
    * provenance is gone, so a deleted document's contribution SURVIVES
    * in their estimates until someone re-derives them — previously a
    * by-hand operator step, now this one call. Both structures are
    * re-derived from the purged admitted corpus (tombstones excluded)
    * and swapped in atomically under the manifested discipline
    * ([[Generations.replaceManifested]] — the manifest lists every live
    * generation, so readers switch old → rebuilt in one rename and a
    * replayed batch's rewritten generation stays excluded).
    *
    * Opt-in step of [[compactAll]] (`rebuildSketchState = true`) rather
    * than always-on: the rebuild costs one corpus text-projection scan,
    * which a deployment schedules with its deletion SLA (e.g. the daily
    * compaction after a GDPR batch) instead of every compaction
    * cadence. Idempotent: with no deletions since the last rebuild it
    * re-derives the same state. */
  def rebuildSketches(spark: SparkSession, stateDir: String): Unit = {
    val docs = admittedDocs(spark, stateDir)
    Generations.replaceManifested(spark, s"$stateDir/kmv/rows",
      Sketches.kmvSketch(docs, "source", "doc_id"))
    Generations.replaceManifested(spark, s"$stateDir/hist/rows",
      Analytics.dailyValueHistograms(docs.select(
        lit(HistDay).cast("timestamp").as("ts"),
        size(TextAnalysis.tokens(col("text"))).cast("double").as("value"))))
    // the per-source curation aggregates are rebuild-only too (per-doc
    // provenance is summed away); re-derive with the batch operator's
    // id-order novelty — ≡ the arrival-order accumulation under the
    // arrival contract the serve law already requires
    Generations.replaceManifested(spark, s"$stateDir/curation/rows",
      TextAnalysis.curationBySource(docs))
    // the LM state is rebuild-only for the same reason: occurrence
    // counts' per-doc provenance is summed away, and the distinct vocab
    // rows can't tell whether a deleted doc was a token's only holder
    Generations.replaceManifested(spark, s"$stateDir/lm/model",
      TextAnalysis.bigramModelRows(docs, "text", "source"))
    Generations.replaceManifested(spark, s"$stateDir/lm/vocab",
      TextAnalysis.lmVocabRows(docs, "text", "source"))
    Generations.replaceManifested(spark, s"$stateDir/lm/stats",
      TextAnalysis.lmDocStats(docs, "text", "source"))
  }

  /** The admitted corpus — every live committed landed batch
    * (manifest-resolved across corpus folds), tombstoned docs
    * excluded. */
  def admittedDocs(spark: SparkSession, stateDir: String): DataFrame =
    Retention.liveBatches(spark, s"$stateDir/corpus", "doc_id")

  /** The rejection ledger — one (doc_id, source, gate) row per DROPPED
    * arrival, gate = the first stage whose probe hit. Committed
    * generations only, tombstones excluded; FULL-ROW `dropDuplicates()`
    * makes rows COUNTING-inert under the simple-fold discipline (a
    * fold's not-yet-swept sources may transiently double-read — inert
    * for the gate probes that discipline was built for, not for an
    * aggregate, so the read dedups). Full-row, not by-id: fold
    * double-reads are byte-identical, which full-row healing exactly
    * covers — while a by-id dedup would pick an ARBITRARY survivor if
    * the same doc_id legitimately re-arrives with a different payload
    * and is dropped at a different gate (or source), making
    * [[rejectionReport]]'s attribution nondeterministic across reads.
    * Two distinct rejection events for one id are two ledger rows by
    * design. */
  def rejectionLedger(spark: SparkSession, stateDir: String): DataFrame = {
    val dirL = s"$stateDir/ledger"
    val gens = Generations.committed(spark, dirL, "gen-")
    val rows =
      if (gens.isEmpty)
        spark.range(0).select(col("id").as("doc_id"),
          lit("").as("source"), lit("").as("gate"))
      else Generations.readNames(spark, dirL, gens, "gen-")
    Retention.filter(rows, dirL, "doc_id").dropDuplicates()
  }

  /** Serve: drops by (source, gate) — the operational "where is my
    * data going" dashboard next to [[curationReport]]'s quality rates;
    * a |sources|·|gates|-row aggregate over id/source/gate rows (text
    * and payloads never entered the ledger). */
  def rejectionReport(spark: SparkSession, stateDir: String): DataFrame =
    rejectionLedger(spark, stateDir)
      .groupBy("source", "gate").agg(count(lit(1)).as("n_dropped"))

  /** Serve: point lookup — WHY was this arrival dropped (empty ⇒ it
    * was admitted, or never arrived). The deletion-request-sized id set
    * broadcasts, like every tombstone probe. */
  def whyDropped(spark: SparkSession, stateDir: String,
      ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    rejectionLedger(spark, stateDir)
      .join(broadcast(ids.distinct.toDF("doc_id")), Seq("doc_id"))
  }

  /** Serve: BM25 off the maintained bucket-pruned search index. */
  def search(spark: SparkSession, stateDir: String, query: Seq[String],
      k: Int = 10): DataFrame =
    StreamSearchIndex.search(spark, s"$stateDir/search", query, k)

  /** Serve: exact-phrase counts off the maintained positional index. */
  def searchPhrase(spark: SparkSession, stateDir: String,
      phrase: Seq[String]): DataFrame =
    StreamSearchIndex.searchPhrase(spark, s"$stateDir/search", phrase)

  /** Serve: ADC top-k off the maintained cell-partitioned code list. */
  def searchAnn(spark: SparkSession, stateDir: String, queries: DataFrame,
      centroids: DataFrame, book: Seq[(Int, Int, Array[Double])],
      k: Int = 5, nprobe: Int = 4): DataFrame =
    StreamIvfPq.search(spark, s"$stateDir/codes", queries, centroids, book,
      k, nprobe)

  /** Serve: per-source distinct-doc estimates off the maintained KMV
    * sketch (rebuild-only under deletion — [[Retention]]). */
  def kmvEstimates(spark: SparkSession, stateDir: String): DataFrame =
    StreamKmv.estimates(spark, s"$stateDir/kmv")

  /** Serve: token-length quantiles off the maintained histogram
    * (rebuild-only under deletion). */
  def histQuantiles(spark: SparkSession, stateDir: String,
      ps: Seq[Double]): DataFrame =
    StreamHist.quantiles(spark, s"$stateDir/hist", HistDay, HistDay, ps)

  /** Serve: the absorbing per-source token-budget cut over everything
    * admitted so far. */
  def budgetKept(spark: SparkSession, stateDir: String,
      budget: Long): DataFrame =
    StreamBudget.kept(spark, s"$stateDir/budget", budget)

  /** Serve: the concat-and-chunk training-block manifest
    * ([[graft.operators.Packing.tokenBlocksFromCounts]]) off the
    * MAINTAINED per-doc token counts the loop already lands for the
    * budget family — re-blocking the admitted corpus at ANY context
    * length is a metadata job here (16 bytes/doc), text is never
    * re-read. Tombstoned docs drop out via the stateDir-level root
    * (the vecs tombstones — same doc ids), so a deletion re-flows the
    * layout exactly as the batch operator on the remaining corpus. */
  def tokenBlockManifest(spark: SparkSession, stateDir: String,
      blockSize: Int = 128): DataFrame = {
    val counts = Retention.filter(
      Generations.readLive(spark, s"$stateDir/budget/rows"), stateDir, "doc_id")
    graft.operators.Packing.tokenBlocksFromCounts(
      counts.select(col("doc_id"), col("n_tokens").as("n")), blockSize)
  }

  /** Serve: the accumulated media signature index — the probe side of
    * the perceptual gate (32 bytes per admitted asset), tombstoned
    * assets excluded. Fails fast when the loop never ran with a media
    * column. */
  def mediaSignatures(spark: SparkSession, stateDir: String): DataFrame =
    StreamMedia.currentIndex(spark, s"$stateDir/media",
      template = throw new IllegalStateException(
        s"no committed media generation under $stateDir/media"))

  /** Serve: the per-source curation report off the MAINTAINED additive
    * stats — the round-11 observation retired: the direct report rescans
    * the corpus per invocation (one text-projection pass, linear), while
    * this serve folds |sources|-row generations and never touches text.
    * Equals [[graft.operators.TextAnalysis.curationReport]] on the
    * admitted union under the arrival contract (the serve ≡ batch law,
    * UnifiedIngestSpec). After deletions, serve the rebuilt state
    * ([[rebuildSketches]] — this side is rebuild-only, like KMV). */
  def curationReport(spark: SparkSession, stateDir: String): DataFrame =
    TextAnalysis.curationReportTail(
      Generations.readLive(spark, s"$stateDir/curation/rows")
        .groupBy("source").agg(
          sum("n_docs").as("n_docs"), sum("n_dups").as("n_dups"),
          sum("tokens_sum").as("tokens_sum"), sum("n_keep").as("n_keep"),
          sum("g_sum").as("g_sum"), sum("nov_sum").as("nov_sum")))

  /** Serve: DoReMi-class domain mixing weights off the MAINTAINED LM
    * state ([[graft.operators.TextAnalysis.domainReweightFromModel]]
    * over the folded `lm/` generations) — a model-sized fold, no corpus
    * read, so η re-sweeps per training run are free. Equals the batch
    * [[graft.operators.TextAnalysis.domainReweight]] on the admitted
    * union EXACTLY (occurrence counts are additive, distinct vocab rows
    * union — no arrival-order term; UnifiedIngestSpec pins it).
    * Rebuild-only under deletion (the KMV/curation class — repair is
    * [[rebuildSketches]]). */
  def domainWeights(spark: SparkSession, stateDir: String,
      eta: Double = 1.0): DataFrame = {
    def live(sub: String): DataFrame = Generations.readLive(spark, s"$stateDir/lm/$sub")
    TextAnalysis.domainReweightFromModel(
      live("model").groupBy("source", "l", "r").agg(sum("n").as("n")),
      live("vocab"),
      live("stats").groupBy("source").agg(sum("n_docs").as("n_docs")), eta)
  }

  /** Serve: soft-dedup sampling weights for the admitted corpus off the
    * maintained gram-df state ([[StreamSoftDf]]). */
  def softWeights(spark: SparkSession, stateDir: String): DataFrame =
    StreamSoftDf.weights(spark, s"$stateDir/softdf",
      admittedDocs(spark, stateDir), "doc_id", "text")

  /** Targeted deletion across every per-doc root at once (vec_id ≡
    * doc_id): the corpus, all four gate indexes, the search index (with
    * its stats delta), codes, and vectors. The KMV and histogram sides
    * are the documented rebuild-only classes — their repair is
    * [[rebuildSketches]] (run it, or `compactAll(rebuildSketchState =
    * true)`, after the deletion batch; until then their estimates still
    * include the deleted docs' contribution, the documented lag). */
  def delete(spark: SparkSession, stateDir: String, requestId: String,
      ids: Seq[Long]): Unit = {
    // soft-df FIRST: its negative delta needs the deleted docs' TEXT,
    // which only the not-yet-purged corpus generations hold (a corpus
    // fold after the tombstone below would purge them; ahead of it, no
    // fold can — the crashed-delete-replays-first rule keeps the window
    // closed, mirroring the search-index stats argument). The id set is
    // deletion-request-sized — broadcast, like every tombstone probe.
    val delDocs = {
      import spark.implicits._
      // live batches (manifest-resolved — a corpus fold and its
      // not-yet-swept sources must not double the gram counts), WITHOUT
      // this request's not-yet-committed tombstone; earlier requests'
      // tombstoned ids are already excluded, matching StreamSoftDf's
      // own fresh-ids rule
      Retention.liveBatches(spark, s"$stateDir/corpus", "doc_id")
        .join(broadcast(ids.distinct.toDF("doc_id")), Seq("doc_id"))
        .select("doc_id", "text")
    }
    StreamSoftDf.delete(spark, s"$stateDir/softdf", requestId, delDocs)
    Retention.tombstone(spark, s"$stateDir/corpus", requestId, ids)
    Retention.tombstone(spark, s"$stateDir/fps", requestId, ids)
    // the rejection ledger holds (id, source) rows for DROPPED arrivals
    // — personal data with the same erasure duty as landed docs
    Retention.tombstone(spark, s"$stateDir/ledger", requestId, ids)
    Retention.tombstone(spark, s"$stateDir/near", requestId, ids)
    Retention.tombstone(spark, s"$stateDir/contain", requestId, ids)
    Retention.tombstone(spark, s"$stateDir/sem", requestId, ids)
    // media signatures (media_id ≡ doc_id); harmless intent record when
    // the loop runs text-only
    Retention.tombstone(spark, s"$stateDir/media", requestId, ids)
    StreamSearchIndex.delete(spark, s"$stateDir/search", requestId, ids)
    StreamIvfPq.delete(spark, s"$stateDir/codes", requestId, ids)
    Retention.tombstone(spark, stateDir, requestId, ids) // vecs
  }
}
