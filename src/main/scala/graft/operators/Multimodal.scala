package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Landing, Tables}

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus the operators a training-data pipeline runs over
  * them — codec probe (decode), frame sampling, feature extraction.
  *
  * The container has no image/audio codecs, so the decode step is a
  * DETERMINISTIC STUB (all "decoded" properties derive from payload bytes
  * by fixed arithmetic — see [[FakeCodec]]); everything Spark-side is real:
  * the binary schema, the per-row projection shape, the `mapPartitions`
  * batch seam a real codec would plug into, and the explode shape of frame
  * sampling. Swapping [[FakeCodec.probe]] for a JNI/libav call changes no
  * plan shape.
  *
  * Scale design (100 TB of media):
  *  - payloads never shuffle: probe/feature-extract are scan-side
  *    projections; only the (media_id, metadata/feature) result moves;
  *  - frame sampling explodes ids BEFORE touching bytes, so the sampled
  *    slice — not the whole payload — is what a downstream stage consumes;
  *  - the real-codec seam is `mapPartitions` over an iterator: one codec
  *    init per partition, streaming batches, no per-row JNI setup.
  */
object Multimodal {

  /** The media table: payload = opaque UTF-8 bytes of `documents.text`
    * standing in for encoded media (the container ships no codecs or
    * media fixtures); media_type assigned round-robin so every modality
    * path runs. Metadata travels as a typed struct next to the bytes. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          length(col("text")).cast("long").as("n_bytes"),
          col("source").as("source")).as("meta"))

  /** The deterministic fake codec: every "decoded" property is fixed
    * arithmetic on the byte count. A real implementation would parse the
    * container header (JPEG SOF / WAV fmt / MP4 moov) — the stub keeps the
    * exact output contract so downstream operators and the oracle are
    * real while the codec is not. */
  object FakeCodec {
    case class Probed(
        media_id: Long, media_type: String, n_bytes: Long,
        width: Option[Long], height: Option[Long],
        sample_rate: Option[Long], duration_ms: Option[Long],
        n_frames: Option[Long])

    def probe(mediaId: Long, mediaType: String, payload: Array[Byte]): Probed = {
      val n = payload.length.toLong
      val (w, h) = (64L + (n * 7) % 1856, 64L + (n * 13) % 1016)
      mediaType match {
        case "image" => Probed(mediaId, mediaType, n, Some(w), Some(h), None, None, None)
        case "audio" => Probed(mediaId, mediaType, n, None, None, Some(16000L), Some(n * 20), None)
        case _       => Probed(mediaId, mediaType, n, Some(w), Some(h), None, Some(n * 40), Some(n % 240 + 1))
      }
    }
  }

  /** Codec probe, expression form: the same arithmetic as [[FakeCodec]]
    * but as codegen'd column projections — the fast path while the codec
    * is a stub. One row per media item, payload never leaves the scan. */
  def probe(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(spark, dir)
    val n = col("meta.n_bytes")
    val w = lit(64L) + pmod(n * 7, lit(1856L))
    val h = lit(64L) + pmod(n * 13, lit(1016L))
    val img = col("media_type") === "image"
    val aud = col("media_type") === "audio"
    val vid = col("media_type") === "video"
    m.select(
      col("media_id"), col("media_type"), n.as("n_bytes"),
      when(img || vid, w).as("width"),
      when(img || vid, h).as("height"),
      when(aud, lit(16000L)).as("sample_rate"),
      when(aud, n * 20).when(vid, n * 40).as("duration_ms"),
      when(vid, pmod(n, lit(240L)) + 1).as("n_frames"))
  }

  /** Codec probe, batch-seam form: `mapPartitions` over (id, type, bytes)
    * tuples — the shape a real decoder uses (codec initialized once per
    * partition, rows streamed through it). Produces the same rows as
    * [[probe]]; MultimodalSpec asserts equality, which pins the seam's
    * contract for a future real codec. */
  def probeViaCodecSeam(spark: SparkSession, dir: String): Dataset[FakeCodec.Probed] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("media_id"), col("media_type"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // real codec: init native decoder here, once per partition
        rows.map { case (id, tpe, bytes) => FakeCodec.probe(id, tpe, bytes) }
      }
  }

  /** Frame sampling over video payloads: explode every `every`-th frame id
    * from the probed frame count, then slice a fixed-width byte window per
    * sampled frame (stub for "decode frame f"). Explode-then-slice means
    * the per-frame output is ~16 bytes, not a payload copy per frame.
    * The frame count derives from the payload itself, so this is ONE scan
    * with an inline probe — joining the separate [[probe]] output back
    * would scan the media table twice for no information gain. */
  def frameSample(spark: SparkSession, dir: String, every: Int = 5): DataFrame =
    mediaTable(spark, dir)
      .filter(col("media_type") === "video")
      .select(
        col("media_id"),
        explode(sequence(lit(0L), pmod(col("meta.n_bytes"), lit(240L)), lit(every.toLong)))
          .as("frame_id"),
        col("payload"))
      .select(
        col("media_id"), col("frame_id"),
        length(col("payload").substr((col("frame_id") * 16 + 1).cast("int"), lit(16)))
          .as("n_frame_bytes"))

  /** Resize (aspect-preserving fit into `tw`×`th`) over the visual
    * modalities: the metadata transform is real — integer-exact
    * aspect-fit arithmetic (floor(h·tw/w) etc., so engines agree
    * bit-for-bit) — and the pixel step is the usual deterministic stub: a
    * byte slice of the payload standing in for the resampled buffer, sized
    * by the output geometry. A real implementation swaps the slice for a
    * resampling kernel over decoded pixels; schema, filter, projection
    * shape, and the payload-stays-in-scan property are what this pins.
    * Wider-than-target inputs clamp width to `tw`; taller ones clamp
    * height to `th`; output never upscales (scale capped at 1). */
  def resize(spark: SparkSession, dir: String, tw: Int = 224, th: Int = 224): DataFrame = {
    val m = mediaTable(spark, dir).filter(col("media_type").isin("image", "video"))
    val n = col("meta.n_bytes")
    val w = lit(64L) + pmod(n * 7, lit(1856L))
    val h = lit(64L) + pmod(n * 13, lit(1016L))
    // aspect-fit, integer-exact: products < 2^53 so floor(double) is exact
    val wide = w * th >= h * tw
    val fitW = when(wide, least(lit(tw.toLong), w))
      .otherwise(least(floor(w * th / h).cast("long"), w))
    val fitH = when(wide, least(floor(h * tw / w).cast("long"), h))
      .otherwise(least(lit(th.toLong), h))
    m.select(
      col("media_id"), col("media_type"),
      w.as("width"), h.as("height"),
      fitW.as("out_width"), fitH.as("out_height"),
      length(col("payload").substr(lit(1), (pmod(fitW * fitH, lit(256L)) + 1).cast("int")))
        .as("n_thumb_bytes"))
  }

  /** Per-lane affine coefficients for the feature stub, derived from the
    * SplitMix64 stream and reduced into the fingerprint field Z/1e9+7 —
    * plan literals on the Spark side AND SQL literals in the oracle, so
    * the stub is reproducible engine-independently. a_j is nonzero;
    * fp·a_j + b_j < 2^61, so the arithmetic never wraps in either engine. */
  def laneCoeffs(dim: Int): Seq[(Long, Long)] = {
    val M = graft.functions.TextKernels.Mod
    (0 until dim).map { j =>
      (Math.floorMod(graft.functions.HashKernels.splitmix64(2L * j), M - 1) + 1,
        Math.floorMod(graft.functions.HashKernels.splitmix64(2L * j + 1), M))
    }
  }

  /** Feature extraction stub: a dim-wide deterministic pseudo-embedding
    * per payload — the payload's polynomial fingerprint pushed through
    * `dim` affine lane maps in Z/1e9+7, scaled into [0, 1). Real systems
    * run a vision/audio encoder here; the Spark shape (binary in,
    * array<float> out, scan-side projection) is what matters. Built on the
    * fingerprint domain rather than xxhash64 precisely so the DuckDB
    * oracle can recompute it exactly (same list_reduce fold as
    * txt_fingerprint + the same literal coefficients). */
  def features(spark: SparkSession, dir: String, dim: Int = 16): DataFrame = {
    val M = graft.functions.TextKernels.Mod
    val fp = graft.functions.GraftFunctions.docFingerprint(decode(col("payload"), "UTF-8"))
    val lanes = laneCoeffs(dim).map { case (a, b) =>
      ((pmod(fp * a + b, lit(M)) % 1000000L).cast("double") / 1000000.0d).cast("float")
    }
    mediaTable(spark, dir)
      .select(col("media_id"), array(lanes: _*).as("feature"))
  }

  /** INTERLEAVED multimodal sample assembly — the step that turns a
    * (documents, media) pair into the ordered text-and-image sequences
    * interleaved-pretraining corpora ship (the public MMC4 / OBELICS
    * format: media items spliced between text chunks, each item carrying
    * its modality and its context cost — text in tokens, media in
    * patches — so the trainer's packing stage can budget sequences
    * without touching payloads).
    *
    * Per document: non-overlapping `chunk`-token text chunks occupy the
    * odd sequence slots in order; the document's media item splices into
    * the even slot chosen by the deterministic `doc_id mod (n_chunks+1)`
    * draw (this corpus has no native alignment marks — a real crawl
    * supplies the media's document OFFSET here, same plan); media cost is
    * the stub codec's patch count (64 + n_bytes mod 192 — a ViT-style
    * resolution-dependent patch budget, derived from metadata only).
    *
    * Scale shape: both sides are row-local projections off their scans
    * (the text explode runs over a cheap int sequence — the
    * dedup_paragraphs InferFiltersFromGenerate lesson); the only shuffle
    * is the per-doc assembly fold (collect_list of (pos, item) structs,
    * array_sort — per-doc bounded by construction), and payload bytes
    * appear NOWHERE in the plan: the manifest is metadata end to end. */
  def interleavedSamples(spark: SparkSession, dir: String,
      chunk: Int = 16): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n"))
      .withColumn("n_chunks",
        ceil(col("n").cast("double") / chunk).cast("long"))
    val txt = base.filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        posexplode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("doc_id"), (col("col") * 2 + 1).as("pos"),
        lit("txt").as("kind"),
        least(lit(chunk.toLong), col("n") - col("col") * chunk).as("cost"))
    val med = mediaTable(spark, dir)
      .select(col("media_id").as("doc_id"), col("media_type"),
        col("meta.n_bytes").as("nb"))
      .join(base.select(col("doc_id"), col("n_chunks")), "doc_id")
      .select(col("doc_id"),
        (pmod(col("doc_id"), col("n_chunks") + 1) * 2).as("pos"),
        col("media_type").as("kind"),
        (lit(64L) + pmod(col("nb"), lit(192L))).as("cost"))
    txt.unionByName(med)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_items"),
        sum(when(col("kind") === "txt", col("cost")).otherwise(0L))
          .as("text_tokens"),
        sum(when(col("kind") =!= "txt", col("cost")).otherwise(0L))
          .as("patch_cost"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"),
            concat(col("kind"), lit(":"), col("cost")).as("item")))),
          s => s.getField("item")), "|").as("manifest"))
  }

  /** MULTIMODAL sequence packing — [[interleavedSamples]] composed with
    * the text pipeline's first-fit packer ([[Packing.firstFitPack]],
    * unchanged): each sample's context cost is its token mass PLUS its
    * patch budget (the unified-context accounting a multimodal trainer
    * bills — an image displaces exactly its patch count of tokens), and
    * whole samples pack into fixed `budget` bins per shard. Media
    * payloads still appear nowhere; the packer sees only costs. */
  def packedSamples(spark: SparkSession, dir: String,
      budget: Int = 640, shards: Int = 8): DataFrame =
    Packing.firstFitPack(
      interleavedSamples(spark, dir)
        .select(col("doc_id"), lit(0).as("chunk_id"),
          (col("text_tokens") + col("patch_cost")).as("n_chunk_tokens")),
      budget, shards).toDF()
      .select(col("shard"), col("doc_id"), col("n_tokens").as("cost"),
        col("pack_id"), col("pack_pos"))
  /** PERCEPTUAL near-duplicate detection over opaque media payloads —
    * the media sibling of the text near-dup family: a real pipeline
    * dedups re-encoded/trimmed copies of the same asset before decode
    * (the public perceptual-hash line: pHash/blockhash; here the
    * decode-free byte-level form, since the container ships no codecs).
    * The signature is the codegen `phash_bands` kernel: a 256-bucket
    * hashed byte-BIGRAM histogram sign-projected to 64 bits by a seeded
    * ±1 matrix — stable under small payload edits (an appended tail
    * moves a handful of histogram counts, so only low-|projection| bits
    * flip; the raw block-average spelling was rejected — measured: a
    * 9-byte append flipped enough block bits to miss every planted
    * pair), discriminative across unrelated payloads, and all-integer
    * (no float drift; the oracle embeds the SAME sign matrix as SQL
    * literals and replays every bit).
    *
    * Candidates are banded-LSH on the 4 × 16-bit band values (the
    * dedup_simhash pigeonhole: hamming ≤ 3 over 64 bits forces ≥ 1
    * exact band, so τ = 3 candidate generation is COMPLETE, not
    * best-effort); the verify is the exact per-band XOR popcount.
    *
    * Scale shape: signatures are one kernel call per row at the scan —
    * payloads NEVER shuffle; the band join is a key equi-join on
    * (band, value) carrying (id, band, value) rows; the hamming confirm
    * re-joins the 4-long signature by id. AQE skew-split is the degrade
    * for a hot band value (byte-level signatures of same-language text
    * cluster — measured ~31 k candidates over 15 M possible pairs at
    * the 5.5 k-doc gate). */
  def phashNearDupPairs(media: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = media
      .filter(length(col(payloadCol)) >= 2) // no bigrams → no signature
      .select(col(idCol).as("media_id"),
        graft.functions.GraftFunctions.phashBands(col(payloadCol)).as("bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = sigs.select(col("media_id"),
      posexplode(col("bands")).as(Seq("band", "bv")))
    val cand = exploded.select(col("media_id").as("media_a"),
        col("band"), col("bv"))
      .join(exploded.select(col("media_id").as("media_b"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("media_a") < col("media_b"))
      .select("media_a", "media_b").distinct()
    val out = cand
      .join(sigs.select(col("media_id").as("media_a"),
        col("bands").as("ba")), Seq("media_a"))
      .join(sigs.select(col("media_id").as("media_b"),
        col("bands").as("bb")), Seq("media_b"))
      .select(col("media_a"), col("media_b"),
        aggregate(zip_with(col("ba"), col("bb"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select("media_a", "media_b", "hamming")
    if (sys.props.get("graft.dedup.lazyPlans").contains("true")) out
    else {
      val reliable = out.sparkSession.sparkContext.getCheckpointDir.isDefined
      val fin = if (reliable) out.checkpoint() else out.localCheckpoint()
      sigs.unpersist()
      fin
    }
  }

  /** Perceptual signature index of a landed media corpus — the artifact
    * the incremental/streamed media gates probe, maintained at land time
    * exactly like the text near-dup signature index
    * ([[graft.operators.Dedup.buildNearDupIndex]]): one
    * (media_id, 4×16-bit band array) row per payload with a bigram pair
    * (32 bytes of signature — payloads themselves never enter the
    * index). */
  def buildMediaSigIndex(media: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    media.filter(length(col(payloadCol)) >= 2)
      .select(col(idCol).as("media_id"),
        graft.functions.GraftFunctions.phashBands(col(payloadCol)).as("bands"))

  /** The (media_id, band, bv) banded key form of a signature index —
    * the probe join's key table (the [[Dedup.bandHashTable]] shape for
    * media). */
  def mediaBandTable(idx: DataFrame): DataFrame =
    idx.select(col("media_id"),
      posexplode(col("bands")).as(Seq("band", "bv")))

  /** Incremental PERCEPTUAL arrival gate — the media sibling of
    * [[graft.operators.Dedup.incrementalNearNew]], closing the one gap
    * in the per-class gate family: every other dedup class (exact,
    * near, semantic, containment) already gates arrivals against landed
    * state; media near-dups only had the batch pair scan
    * ([[phashNearDupPairs]]). Given the landed corpus's signature index
    * ([[buildMediaSigIndex]], maintained at land time) and an arrival
    * batch, returns the batch rows that are neither (a) within
    * `maxHamming` of any landed signature nor (b) the higher-id side of
    * a verified within-batch near pair (the keep-smallest policy of the
    * text gates). Payloads too short for a bigram have no signature and
    * always survive — the [[phashNearDupPairs]] contract.
    *
    * Scale shape: batch signatures are one codegen kernel call per
    * arrival row at the scan — payloads never shuffle; the probe is an
    * equi-join on (band, bv) against the index's banded form (banded
    * candidate generation is pigeonhole-COMPLETE at τ = 3 over 64 bits
    * — PhashSpec); the XOR-popcount confirm re-joins the two 4-long
    * signatures by id for |candidates| ≪ |corpus| pairs. The corpus
    * payloads are never re-read. */
  def incrementalMediaNew(corpusIndex: DataFrame, batch: DataFrame,
      idCol: String, payloadCol: String, maxHamming: Int = 3): DataFrame = {
    // verbatim re-sends (same id AND same payload) collapse to one
    // logical asset — the incrementalNearNewBanded contract
    val b = batch.dropDuplicates(idCol, payloadCol)
    val bIdx = buildMediaSigIndex(b, idCol, payloadCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = mediaBandTable(bIdx)
    def verified(cand: DataFrame, left: DataFrame, right: DataFrame): DataFrame =
      cand
        .join(left.select(col("media_id").as("id_a"), col("bands").as("ba")), "id_a")
        .join(right.select(col("media_id").as("id_b"), col("bands").as("bb")), "id_b")
        .filter(aggregate(zip_with(col("ba"), col("bb"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x) <= maxHamming)
    // (a) batch vs corpus: band probe of the landed index (directional —
    // the landed side always wins)
    val corpusCand = bBands.as("a")
      .join(mediaBandTable(corpusIndex).as("c"), Seq("band", "bv"))
      .select(col("a.media_id").as("id_a"), col("c.media_id").as("id_b"))
      .distinct()
    val corpusDrops = verified(corpusCand, bIdx, corpusIndex)
      .select(col("id_a").as("__drop"))
    // (b) within-batch: band self-join, keep-smallest drops the id_b side
    val batchCand = bBands.as("a").join(bBands.as("b"), Seq("band", "bv"))
      .filter(col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    val batchDrops = verified(batchCand, bIdx, bIdx)
      .select(col("id_b").as("__drop"))
    val survivors = b.join(
      corpusDrops.union(batchDrops).distinct()
        .select(col("__drop").as(idCol)),
      Seq(idCol), "left_anti")
    if (sys.props.get("graft.dedup.lazyPlans").contains("true")) survivors
    else {
      val reliable =
        survivors.sparkSession.sparkContext.getCheckpointDir.isDefined
      val fin = if (reliable) survivors.checkpoint()
                else survivors.localCheckpoint()
      bIdx.unpersist()
      fin
    }
  }

  /** [[incrementalMediaNew]] against a PRE-BANDED landed index — the
    * probe form [[landMediaSigIndex]]'s layout serves: the (band, bv)
    * key table arrives already bucketed on the probe join's keys, so
    * the index side plans NO Exchange at any arrival cadence, and only
    * candidate ids' 4-long signatures are fetched for the confirm
    * (the [[Dedup.incrementalNearNewBanded]] discipline for media). */
  def incrementalMediaNewBanded(corpusBands: DataFrame, corpusSigs: DataFrame,
      batch: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3): DataFrame = {
    val b = batch.dropDuplicates(idCol, payloadCol)
    val bIdx = buildMediaSigIndex(b, idCol, payloadCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = mediaBandTable(bIdx)
    def verified(cand: DataFrame, left: DataFrame, right: DataFrame): DataFrame =
      cand
        .join(left.select(col("media_id").as("id_a"), col("bands").as("ba")), "id_a")
        .join(right.select(col("media_id").as("id_b"), col("bands").as("bb")), "id_b")
        .filter(aggregate(zip_with(col("ba"), col("bb"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x) <= maxHamming)
    val corpusCand = bBands.as("a")
      .join(corpusBands.as("c"), Seq("band", "bv"))
      .select(col("a.media_id").as("id_a"), col("c.media_id").as("id_b"))
      .distinct()
    val corpusDrops = verified(corpusCand, bIdx, corpusSigs)
      .select(col("id_a").as("__drop"))
    val batchCand = bBands.as("a").join(bBands.as("b"), Seq("band", "bv"))
      .filter(col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    val batchDrops = verified(batchCand, bIdx, bIdx)
      .select(col("id_b").as("__drop"))
    val survivors = b.join(
      corpusDrops.union(batchDrops).distinct()
        .select(col("__drop").as(idCol)),
      Seq(idCol), "left_anti")
    if (sys.props.get("graft.dedup.lazyPlans").contains("true")) survivors
    else {
      val reliable =
        survivors.sparkSession.sparkContext.getCheckpointDir.isDefined
      val fin = if (reliable) survivors.checkpoint()
                else survivors.localCheckpoint()
      bIdx.unpersist()
      fin
    }
  }

  /** Land a media signature index in its probe-aligned physical form
    * (the [[Dedup.landNearDupIndex]] rule for media): the banded key
    * table `<prefix>_bands` bucketed and sorted on the probe join's
    * (band, bv), the confirm lookup `<prefix>_sigs` bucketed on
    * media_id. Pays each shuffle ONCE at land time; every later arrival
    * batch probes the index already hash-distributed on its join keys. */
  def landMediaSigIndex(index: DataFrame, prefix: String, path: String,
      buckets: Int = 16): Unit = {
    graft.sources.Layout.writeBucketed(
      mediaBandTable(index), s"${prefix}_bands",
      Seq("band", "bv"), Seq("band", "bv"), buckets, s"$path/bands")
    graft.sources.Layout.writeBucketed(
      index.select("media_id", "bands"), s"${prefix}_sigs",
      Seq("media_id"), Seq("media_id"), buckets, s"$path/sigs")
  }

  /** Catalog table-name prefix for a corpus dir's landed media
    * signature index. */
  def mediaSteadyPrefix(dir: String): String = Landing.key("mediadup_steady", dir)

  /** The planted arrival batch both incremental-media instantiations
    * probe with (see [[incrementalMediaArrivals]]). */
  private def mediaArrivalFixture(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    def media(d: DataFrame): DataFrame =
      d.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
    val corpus = media(docs.filter(col("doc_id") % 4 =!= 1))
    // batch from the fixed sf0.1 id window only (Dedup's round-16
    // fixture fix): |batch| stays constant across SF while the landed
    // signature index grows with the corpus
    val bdocs = docs.filter(col("doc_id") < Dedup.FixedBatchDocIdBound)
    val batch = media(bdocs.filter(col("doc_id") % 4 === 1))
      .unionByName(media(
        bdocs.filter(col("doc_id") % 4 =!= 1 && col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" graftdup")).as("text"))))
      .unionByName(media(
        bdocs.filter(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" graftdup")).as("text"))))
    (corpus, batch)
  }

  /** CORRECTNESS instantiation (`mm_incr_near_dup`, mirroring the text
    * gate's arrival shape in perceptual space): landed corpus = media
    * with media_id % 4 ≠ 1; batch = the % 4 = 1 assets ∪ 9-byte-tail
    * re-encodes of every 10th corpus asset (shifted ids — the
    * corpus-near drop path) ∪ tail re-encodes of the % 8 = 1 batch
    * assets (higher ids — the within-batch drop path). The oracle
    * replays signatures, probe, and confirm bit-for-bit over the same
    * planted relations. */
  def incrementalMediaArrivals(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, batch) = mediaArrivalFixture(spark, dir)
    val index = buildMediaSigIndex(corpus, "media_id", "payload")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = incrementalMediaNew(index, batch, "media_id", "payload")
      .select(col("media_id"), length(col("payload")).cast("long").as("n_bytes"))
    if (!sys.props.get("graft.dedup.lazyPlans").contains("true")) index.unpersist()
    out
  }

  /** STEADY-STATE form of [[incrementalMediaArrivals]] — the signature
    * index landed ONCE per (catalog, dir) in its probe-aligned bucketed
    * layout; every later call probes through
    * [[incrementalMediaNewBanded]] with no corpus re-signing and no
    * index-side Exchange. Same batch, same survivors, same oracle; only
    * the timed plan changes (the incrementalNearArrivalsSteady
    * discipline). */
  def incrementalMediaArrivalsSteady(spark: SparkSession, dir: String): DataFrame = {
    val prefix = mediaSteadyPrefix(dir)
    Landing.ensureLanded(spark, prefix,
      Seq(s"${prefix}_bands", s"${prefix}_sigs")) { path =>
      val (corpus, _) = mediaArrivalFixture(spark, dir)
      val index = buildMediaSigIndex(corpus, "media_id", "payload")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      landMediaSigIndex(index, prefix, path)
      index.unpersist()
    }
    val (_, batch) = mediaArrivalFixture(spark, dir)
    incrementalMediaNewBanded(
      spark.table(s"${prefix}_bands"), spark.table(s"${prefix}_sigs"),
      batch, "media_id", "payload")
      .select(col("media_id"), length(col("payload")).cast("long").as("n_bytes"))
  }

  /** The planted near-dup media corpus: the [[mediaTable]] payloads plus
    * a re-encoded copy of every 10th asset with a 9-byte tail (the
    * Dedup.plantedNearDocs edit, applied at the byte level). */
  def plantedNearMedia(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" graftdup")).as("text")))
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
  }

  /** CORRECTNESS instantiation: perceptual pairs over the planted media
    * corpus at the pigeonhole-complete τ = 3. */
  def nearDupMedia(spark: SparkSession, dir: String): DataFrame =
    phashNearDupPairs(plantedNearMedia(spark, dir), "media_id", "payload")
}
