package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.{Landing, Tables}
import org.apache.spark.internal.Logging

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash group-by), and near-duplicate via MinHash banded LSH and
  * SimHash bit-sampling. The reference has no dedup surface of its own —
  * these extend its query layer per the BASELINE north star; the exact
  * variant mirrors the duplicate-detection HAVING query the reference
  * does publish (docs/athena-integrity-check.md:60).
  *
  * Scale design (100 TB):
  *  - exact keep-first is a two-phase `min_by` hash aggregate — partial
  *    map-side combine means one row per key crosses the shuffle, unlike a
  *    `row_number` window which shuffles and sorts EVERY row;
  *  - signatures (shingle-hash, minhash, simhash) are stateless per-row
  *    projections — scan-side, codegen'd, embarrassingly parallel;
  *  - candidate generation is a self-equi-join on (band, band-hash) bucket
  *    keys — never an all-pairs cartesian; only same-bucket rows meet.
  *    Hot buckets (boilerplate shingles) are the skew risk; AQE skew-join
  *    splits them at runtime;
  *  - verification joins only the candidate pairs back to their shingle
  *    sets — |candidates| ≪ |pairs|, the whole point of LSH.
  */
object Dedup extends Logging {

  /** Keep-first-by-time exact dedup: one event per user_id, earliest
    * (ts, event_id) wins. `min_by` over a struct gives lexicographic
    * ordering on the tie-break chain and partial aggregation. */
  def exactKeepFirst(spark: SparkSession, dir: String): DataFrame =
    exactKeepFirst(Tables.load(spark, dir, "events"))

  def exactKeepFirst(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(min_by(
        struct(col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("first"))
      .select(
        col("first.event_id").as("event_id"),
        col("user_id"),
        col("first.event_type").as("event_type"),
        col("first.value").as("value"))

  /** Exact content dedup over documents: group by MD5 of the text, keep
    * the minimum doc_id per group. Hashing first means the shuffle moves
    * a 16-byte digest + id, not the document body — at 100 TB the text
    * column never crosses the network. Planted duplicate copies
    * (doc_id % 7, shifted id space) make the result non-vacuous on the
    * synthetic corpus, which has no natural exact dups at any SF. */
  def exactByContent(spark: SparkSession, dir: String): DataFrame =
    plantedExactDocs(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental arrival dedup — the steady-state form of exact content
    * dedup once a corpus is landed: given the corpus's content-fingerprint
    * index (one MD5 per landed document, maintained at land time) and a
    * new arrival batch, return the batch rows that are genuinely new —
    * keep-first-by-id within the batch, then drop everything whose
    * fingerprint already exists in the corpus. The full-corpus re-dedup
    * ([[exactByContent]]) never runs again; each day pays only for its
    * arrivals.
    *
    * Scale shape: the batch collapses by fingerprint with one two-phase
    * `min_by` aggregate (16-byte digest + row, batch-sized); the corpus
    * side contributes only its digest column. On a fingerprint-bucketed
    * index ([[graft.sources.Layout]]) the left-anti join is exchange-free
    * on the corpus side; a [[BloomJoin]]-style sketch of the (small)
    * batch's digests can pre-prune the index scan further. The corpus
    * text never moves — it isn't even read. */
  def incrementalNew(corpusFps: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(corpusFps.columns.length == 1,
      s"corpusFps must be exactly the fingerprint column, got " +
        s"[${corpusFps.columns.mkString(", ")}] — passing a wider index " +
        "would silently anti-join on the wrong column")
    val cols = batch.columns.toSeq
    val firsts = batch
      .withColumn("__fp", md5(col(textCol).cast("binary")))
      .groupBy(col("__fp"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(col("__fp") +: cols.map(c => col(s"__r.`$c`").as(c)): _*)
    firsts
      .join(corpusFps.select(col(corpusFps.columns.head).as("__fp")),
        Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** CORRECTNESS instantiation: corpus = docs with doc_id % 4 ≠ 1 (its
    * index = distinct text MD5s); batch = the % 4 = 1 docs ∪ re-arriving
    * verbatim copies of every 10th corpus doc (shifted ids — the
    * corpus-dup drop path) ∪ second copies of the % 8 = 1 batch docs
    * (higher ids — the within-batch keep-first path). Survivors are
    * exactly the original % 4 = 1 rows. */
  def incrementalArrivals(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 4 =!= 1)
    val corpusFps = corpus
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
    val batch = docs.filter(col("doc_id") % 4 === 1)
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    incrementalNew(corpusFps, batch, "doc_id", "text")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
  }

  /** Near-duplicate signature index of a landed corpus — the artifact
    * [[incrementalNearNew]] probes, maintained at land time exactly like
    * the exact-dedup fingerprint index ([[incrementalNew]]'s `corpusFps`).
    * One row per landed document: (doc_id, distinct shingle hashes, k-row
    * MinHash signature) — a few hundred longs per doc, no text. In
    * production this lands as its own bucketed table (bucket by a band
    * hash via [[graft.sources.Layout]]) and is appended per arrival batch;
    * the corpus body is never re-read. */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 128, seed: Long = 42L): DataFrame =
    corpus.select(
      col(idCol).as("doc_id"),
      array_distinct(shingleHashes(col(textCol), n)).as("sh"))
      .withColumn("sig", GraftFunctions.minhashSig(col("sh"), k, seed))

  /** Incremental NEAR-duplicate arrival dedup — the steady-state form of
    * [[minhashLshPairs]] + [[dropNearDuplicates]] once a corpus is landed,
    * closing the gap [[incrementalNew]] leaves: that operator only stops
    * VERBATIM re-arrivals; a trivially perturbed copy (one token appended)
    * sails through the exact-fingerprint anti-join. Given the corpus's
    * near-dup signature index ([[buildNearDupIndex]], maintained at land
    * time) and an arrival batch, returns the batch rows that are neither
    * (a) near-duplicates of any landed document nor (b) the higher-id side
    * of a verified within-batch near-dup pair (the same greedy
    * keep-smallest policy as [[dropNearDuplicates]], applied regardless of
    * the smaller side's own fate — deterministic and single-pass). The
    * full-corpus re-dedup never runs again; each batch pays
    * O(|batch| · bands) index probes.
    *
    * Scale shape: batch signatures are scan-side codegen projections of
    * the (small by contract) batch; the probe is an equi-join on
    * (band, band-hash) against the index's banded form — on a band-hash-
    * bucketed index the corpus side is exchange-free, and only candidate
    * index rows' shingle arrays are ever fetched for verification
    * (|candidates| ≪ |corpus|). The corpus text is never read. Exact
    * Jaccard verification removes all bucket-collision false positives,
    * so output quality equals the batch-vs-corpus LSH recall w.h.p. —
    * the same 1-(1-t^r)^b argument as [[minhashLshPairs]]. */
  def incrementalNearNew(corpusIndex: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 128,
      bands: Int = 32, seed: Long = 42L, threshold: Double = 0.7): DataFrame =
    incrementalNearNewBanded(
      bandHashTable(corpusIndex, k, bands),
      corpusIndex.select("doc_id", "sh"),
      batch, idCol, textCol, n, k, bands, seed, threshold)

  /** The (doc_id, band, bh) banded form of a signature index — the probe
    * join's key table. Landed bucketed on (band, bh)
    * ([[landNearDupIndex]]), the probe's index side needs no Exchange. */
  def bandHashTable(idx: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    idx.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r))))))
      .toDF("doc_id", "band", "bh")
  }

  /** Land a signature index in its probe-aligned physical form: the
    * banded key table `<prefix>_bands` bucketed (and sorted) on the probe
    * join's keys (band, bh), and the verification lookup `<prefix>_sh`
    * bucketed on doc_id. Pays each shuffle ONCE at land time; every
    * subsequent arrival batch's probe then reads the index already
    * hash-distributed on its join keys — no index-side Exchange at any
    * batch cadence (NearDupIndexLayoutSpec pins the plan). */
  def landNearDupIndex(index: DataFrame, prefix: String, path: String,
      k: Int = 128, bands: Int = 32, buckets: Int = 32): Unit = {
    graft.sources.Layout.writeBucketed(
      bandHashTable(index, k, bands), s"${prefix}_bands",
      Seq("band", "bh"), Seq("band", "bh"), buckets, s"$path/bands")
    graft.sources.Layout.writeBucketed(
      index.select("doc_id", "sh"), s"${prefix}_sh",
      Seq("doc_id"), Seq("doc_id"), buckets, s"$path/sh")
  }

  /** [[incrementalNearNew]] against a pre-banded index — the landed form
    * ([[landNearDupIndex]]) probes without re-deriving band hashes, and a
    * (band, bh)-bucketed `corpusBands` joins with no index-side shuffle. */
  def incrementalNearNewBanded(corpusBands: DataFrame, corpusSh: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, n: Int = 3,
      k: Int = 128, bands: Int = 32, seed: Long = 42L,
      threshold: Double = 0.7): DataFrame = {
    // verified-pair filter over candidate (id_a, id_b): exact Jaccard on
    // the two sides' distinct shingle sets (union-free identity)
    def verified(cand: DataFrame, left: DataFrame, right: DataFrame): DataFrame =
      cand
        .join(left.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
          size(col("sh")).as("sz_a")), "id_a")
        .join(right.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
          size(col("sh")).as("sz_b")), "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
        .filter(col("inter") / (col("sz_a") + col("sz_b") - col("inter")) >= threshold)

    // CONTRACT: idCol uniquely identifies a batch row. Verbatim re-sends
    // (same id AND same text) are collapsed here before anything else —
    // they are one logical document, and the within-batch pair join keys
    // on strictly increasing ids, so without this collapse two same-id
    // rows could never form a pair and BOTH would survive the left-anti.
    // Distinct texts under one reused id (or distinct payload columns
    // under one (id, text)) remain the producer's bug: this operator has
    // no basis for picking which row the id means.
    val b = batch.dropDuplicates(idCol, textCol)
    // the batch index feeds its own band table plus both verify lookups —
    // persist it (batch-sized) so the batch text is shingled exactly once
    val bIdx = buildNearDupIndex(b, idCol, textCol, n, k, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = bandHashTable(bIdx, k, bands)

    // (a) batch vs corpus: band probe of the landed index
    val corpusCand = bBands.as("a").join(corpusBands.as("c"), Seq("band", "bh"))
      .select(col("a.doc_id").as("id_a"), col("c.doc_id").as("id_b"))
      .distinct()
    val corpusDrops = verified(corpusCand, bIdx, corpusSh)
      .select(col("id_a").as("__drop"))

    // (b) within-batch: the same band self-join as minhashLshPairs,
    // over the batch only; keep-smallest drops the id_b side
    val batchCand = bBands.as("a").join(bBands.as("b"), Seq("band", "bh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val batchDrops = verified(batchCand, bIdx, bIdx)
      .select(col("id_b").as("__drop"))

    val survivors = b.join(
      corpusDrops.union(batchDrops).distinct()
        .select(col("__drop").as(idCol)),
      Seq(idCol), "left_anti")
    materializeAndRelease(survivors, bIdx)
  }

  /** CORRECTNESS instantiation (mirrors [[incrementalArrivals]]' shape in
    * NEAR space): corpus = docs with doc_id % 4 ≠ 1, its index built from
    * scratch; batch = the % 4 = 1 docs ∪ one-token-perturbed copies of
    * every 10th corpus doc (shifted ids — the corpus-near drop path that
    * exact incremental dedup misses by construction) ∪ perturbed copies
    * of the % 8 = 1 batch docs (higher ids — the within-batch drop path).
    * Survivors are exactly the original % 4 = 1 rows. */
  /** FIXED-BATCH id windows for the incremental-gate fixtures (round-16
    * fixture fix): the arrival batch derives only from ids below these
    * bounds — the FULL sf0.1 id space (doc_id 0..4999 / vec_id 0..1999,
    * which is also exactly replica 0 of every ScaleUp corpus; replica i
    * ids are shifted by i·10⁷, far above). So at sf ≤ 0.1 the bound
    * never binds (every entry's answer is unchanged) and at sf1/sf10
    * the batch IS the sf0.1 batch while the probed index keeps growing
    * with the corpus — the entry finally measures the steady gates'
    * headline number, per-arrival cost at FIXED |batch| against a
    * growing index, instead of conflating it with corpus growth (the
    * r11–r15 fixture defect). The oracle replays the same bound. */
  val FixedBatchDocIdBound = 5000L
  val FixedBatchVecIdBound = 2000L

  /** The arrival batch both incr-near instantiations probe with: the
    * % 4 = 1 docs ∪ near-copies of every 10th corpus doc (corpus-near
    * drop path) ∪ near-copies of the % 8 = 1 batch docs (within-batch
    * drop path) — all drawn from the [[FixedBatchDocIdBound]] window. */
  private def nearArrivalBatch(docsAll: DataFrame): DataFrame = {
    val docs = docsAll.filter(col("doc_id") < FixedBatchDocIdBound)
    val corpus = docs.filter(col("doc_id") % 4 =!= 1)
    docs.filter(col("doc_id") % 4 === 1)
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
  }

  def incrementalNearArrivals(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 4 =!= 1)
    // In production the index is a LANDED table (one cheap columnar scan
    // per consuming branch); this instantiation builds it from scratch, so
    // persist it or the corpus is shingled once per consuming branch (the
    // band probe + the verify lookup). Safe to drop right after:
    // incrementalNearNew checkpoints its result before returning.
    val index = buildNearDupIndex(corpus, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = incrementalNearNew(index, nearArrivalBatch(docs), "doc_id", "text")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    if (!sys.props.get("graft.dedup.lazyPlans").contains("true")) index.unpersist()
    out
  }

  /** STEADY-STATE form of [[incrementalNearArrivals]] — the production
    * cadence the rebuild entry cannot time: the corpus signature index is
    * landed ONCE per (catalog, dir) in its probe-aligned bucketed layout
    * ([[landNearDupIndex]]; shuffle paid at land time) and every
    * subsequent call probes it through [[incrementalNearNewBanded]], so
    * the timed plan is a bucketed columnar probe + verify — no corpus
    * re-shingling, no re-banding, no index-side Exchange. Same batch,
    * same survivors, same oracle as `dedup_incr_near`; only the plan the
    * bench tripwire watches changes. The first call (Bench's unmeasured
    * warm-up pass, Verify's only pass) pays the land. */
  /** Catalog table-name prefix for [[incrementalNearArrivalsSteady]]'s
    * landed index. Public so the layout spec pins the same naming
    * scheme. */
  def steadyIndexPrefix(dir: String): String = Landing.key("neardup_steady", dir)

  def incrementalNearArrivalsSteady(spark: SparkSession, dir: String): DataFrame = {
    val prefix = steadyIndexPrefix(dir)
    Landing.ensureLanded(spark, prefix,
      Seq(s"${prefix}_bands", s"${prefix}_sh")) { path =>
      val corpus = Tables.load(spark, dir, "documents")
        .select("doc_id", "text").filter(col("doc_id") % 4 =!= 1)
      val index = buildNearDupIndex(corpus, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      landNearDupIndex(index, prefix, path)
      index.unpersist()
    }
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    incrementalNearNewBanded(
      spark.table(s"${prefix}_bands"), spark.table(s"${prefix}_sh"),
      nearArrivalBatch(docs), "doc_id", "text")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
  }

  /** documents ∪ verbatim copies of every 7th doc (shifted id space) — the
    * planted EXACT-duplicate corpus behind [[exactByContent]], and the one
    * corpus where SimHash ground truth is SQL-expressible: identical text
    * ⇒ identical shingle set ⇒ identical fingerprint ⇒ Hamming 0, so
    * `simhashPairs(…, maxHamming = 0)` must return exactly the
    * text-equality pairs (the `dedup_simhash_exact` CORRECTNESS entry). */
  def plantedExactDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }

  /** Pre-hashed n-gram shingles of a text column: tokenize ([a-z0-9]+ runs
    * after lowercasing), hash each token, hash each n-token window. Texts
    * shorter than n tokens yield one shingle (the whole token sequence) so
    * no document hashes to the empty set.
    *
    * Delegates to the codegen'd single-pass `shingle_hashes` kernel:
    * higher-order-function formulations (transform + lambda over the token
    * array) re-evaluate outer expressions per window in interpreted mode —
    * measured 7-26× slower at sf0.1 — whereas the kernel is
    * O(bytes + tokens·n) with no per-window allocation. The shingle SET is
    * isomorphic to the word-string n-gram set (collisions aside), so
    * Jaccard values — and the DuckDB oracle's exact word-3-gram ground
    * truth — are unchanged. */
  def shingleHashes(text: Column, n: Int): Column =
    GraftFunctions.shingleHashes(text, n)

  /** MinHash banded-LSH near-duplicate pairs with exact-Jaccard
    * verification (SURVEY §7.3 pipeline, composing the codegen'd
    * `minhash_sig` signature from round 2):
    *
    *   shingle → distinct-hash set → k-MinHash signature → split into
    *   `bands` bands of k/bands rows → bucket-join on (band, band-hash)
    *   → candidate pairs → exact Jaccard over the shingle sets → filter
    *   ≥ threshold.
    *
    * The only shuffles are the bucket self-join and the two candidate
    * lookups; there is no cartesian anywhere in the plan. With k=128,
    * bands=32 (r=4) the S-curve crosses ~0.42, so pairs at the 0.7
    * verification threshold are recalled with probability
    * 1-(1-0.7^4)^32 ≈ 1-4.5e-5 — and verification removes all false
    * positives, so the output equals ground truth w.h.p. */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 128, bands: Int = 32,
      seed: Long = 42L, threshold: Double = 0.7): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands

    // The shingle table feeds four DAG branches (both sides of the band
    // self-join via sig, both candidate-verification lookups); without
    // persistence each branch re-scans the text and re-shingles — 8 scans
    // of the corpus in the physical plan. Persisting (doc_id, shingles) —
    // a few hundred longs per doc, far smaller than the text — makes the
    // text scan happen exactly once at any scale.
    val sh = docs.select(
      col(idCol).as("doc_id"),
      array_distinct(shingleHashes(col(textCol), n)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = sh.withColumn("sig", GraftFunctions.minhashSig(col("sh"), k, seed))

    val banded = sig.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r))))))
      .toDF("doc_id", "band", "bh")

    val cand = banded.as("a")
      .join(banded.as("b"), Seq("band", "bh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val sets = sh.withColumn("sz", size(col("sh")))
    val pairs = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "doc_b")
      // union-free Jaccard (|A∪B| = |A|+|B|−|A∩B| on distinct sets)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    materializeAndRelease(pairs, sh)
  }

  /** Run the (small — verified pairs, not corpus) result eagerly, then
    * drop the persisted corpus-sized intermediate. Leaving the
    * intermediate persisted leaks cached blocks for the life of the
    * session (round-3 ADVICE: repeated "Asked to cache already cached
    * data" in the bench log); checkpointing the result first means the
    * unpersist can't trigger a recompute of the 4-branch DAG the cache
    * exists for.
    *
    * Durability: when the session has a reliable checkpoint dir
    * (`sparkContext.setCheckpointDir` — the cluster deployment's job),
    * the result is checkpointed THERE, surviving executor loss; otherwise
    * `localCheckpoint` (executor-block storage, ContextCleaner-managed,
    * fine for local/test sessions where executor loss means the JVM died
    * anyway). A cluster caller that sets no checkpoint dir trades executor
    * loss for a full query retry — set the dir for 1000-executor runs. */
  private def materializeAndRelease(result: DataFrame, cached: DataFrame): DataFrame =
    // Plan-audit escape hatch: -Dgraft.dedup.lazyPlans=true returns the
    // un-checkpointed pipeline so PlanAudit can print the real join DAG
    // (the checkpointed form audits as one `Scan ExistingRDD`). Lazy mode
    // deliberately keeps the persist alive — audit-only, not for jobs.
    if (sys.props.get("graft.dedup.lazyPlans").contains("true")) result
    else {
      val reliable = result.sparkSession.sparkContext.getCheckpointDir.isDefined
      val out = if (reliable) result.checkpoint() else result.localCheckpoint()
      cached.unpersist()
      out
    }

  /** EXACT n-gram Jaccard similarity join — the non-approximate sibling of
    * [[minhashLshPairs]]: every pair with shingle-set Jaccard ≥ threshold,
    * guaranteed (LSH recalls them w.h.p.; this recalls them, period),
    * still with no cartesian anywhere in the plan.
    *
    * Candidate generation is PREFIX FILTERING (the public PPJoin family,
    * Xiao et al., WWW'08): sort each document's shingle set in a global
    * canonical order (numeric hash order here) and index only its first
    * `|S| - ceil(t·|S|) + 1` shingles. Two sets with Jaccard ≥ t must
    * share ≥ ceil(t/(1+t)·(|A|+|B|)) elements, which forces their prefixes
    * to intersect — so the posting-list self-join on prefix shingles loses
    * no qualifying pair, while indexing only ~(1-t) of each set. A length
    * filter (t·|A| ≤ |B| ≤ |A|/t, necessary for Jaccard ≥ t) prunes
    * candidates before the verify join.
    *
    * Scale shape: the shuffle key is a shingle hash; hot boilerplate
    * shingles are exactly the skew AQE's skew-join split absorbs, and the
    * prefix cut removes the most frequent shingles from the index with
    * probability (1-t) per set. Verification joins only |candidates| rows
    * back to their shingle sets — same as the LSH path. */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(
      col(idCol).as("doc_id"),
      array_sort(array_distinct(shingleHashes(col(textCol), n))).as("sh"))
      .withColumn("sz", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Canonical order for the prefix = ASCENDING document frequency (the
    // PPJoin refinement): any fixed total order preserves the lossless
    // guarantee, and df-ascending puts each document's RAREST shingles in
    // its prefix — posting lists stay short and same-shingle candidates
    // scarce. Measured on the sf0.1 planted corpus: 209k candidate pairs
    // under hash order → 120k under df order (~1.7× — modest there, since
    // the synthetic shingles are near-unique with max df 26; on real
    // corpora with boilerplate shingles, df in the millions, this is the
    // difference between a working join and an exploding one). Costs one
    // small aggregate (df per shingle) + one window rank by doc.
    val occ = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("shingle"))
    val freq = occ.groupBy("shingle").agg(count(lit(1)).as("df"))
    // prefix length: |S| - ceil(t·|S|) + 1 (≥ 1 since t ≤ 1)
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    val posting = occ.join(freq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id"), col("sz"), col("shingle"))

    val cand = posting.as("a")
      .join(posting.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          // length filter: Jaccard ≥ t requires t·|A| ≤ |B| ≤ |A|/t
          col("b.sz") >= ceil(lit(threshold) * col("a.sz")) &&
          col("b.sz") * lit(threshold) <= col("a.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val pairs = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "doc_b")
      // |A∪B| = |A|+|B|−|A∩B| on distinct sets: one array traversal per
      // pair instead of intersect + union (union also allocates the
      // merged array — the larger intermediate)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    materializeAndRelease(pairs, sh)
  }

  /** Exact set-CONTAINMENT near-dup pairs — the excerpt/superset detector
    * symmetric Jaccard misses BY CONSTRUCTION: a 100-token excerpt inside
    * a 10 000-token page has Jaccard ≈ 0.01 but containment 1.0, and
    * training corpora are full of exactly that shape (quoted articles,
    * syndicated fragments, pages that embed whole smaller documents). The
    * predicate is the asymmetric C(A→B) = |Sh(A) ∩ Sh(B)| / |Sh(A)| ≥ τ
    * ("A is near-contained in B"), so qualifying pairs are DIRECTED and
    * both directions of a mutual pair are emitted.
    *
    * Candidate generation is the containment form of the prefix filter
    * (the set-containment-join family — PRETTI/PIEJoin line): only the
    * PROBE side prefixes. If C(A→B) ≥ τ then |A \ B| ≤ |A| − ⌈τ·|A|⌉, so
    * under ANY fixed total order A's first |A| − ⌈τ·|A|⌉ + 1 shingles
    * must intersect B's FULL set — the container side cannot prune and
    * indexes every shingle (the inverted-index side, the [[jaccardPairs]]
    * posting join shape), while the probe side keeps only its df-rarest
    * prefix (losslessness holds for any order; df-ascending keeps hot
    * boilerplate shingles OUT of prefixes so posting-list fan-out stays
    * bounded). The one admissible size gate is |B| ≥ ⌈τ·|A|⌉ (the
    * intersection can't exceed |B|); there is NO upper bound on |B| —
    * that asymmetry is the whole point. Verification is the exact ratio
    * over the two shingle sets (an integer÷integer double, bit-identical
    * cross-engine), so output = ground truth by construction, not w.h.p.
    *
    * Scale shape: identical to [[jaccardPairs]] — the shuffles are the
    * posting join on `shingle` and the two verification lookups; nothing
    * is ever all-pairs, document text never leaves the scan. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(
      col(idCol).as("doc_id"),
      array_sort(array_distinct(shingleHashes(col(textCol), n))).as("sh"))
      .withColumn("sz", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val occ = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("shingle"))
    val freq = occ.groupBy("shingle").agg(count(lit(1)).as("df"))
    // probe prefix: |A| - ceil(t·|A|) + 1 (≥ 1 since t ≤ 1), df-ascending
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    val probe = occ.join(freq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id").as("id_a"), col("sz").as("sz_a"), col("shingle"))

    val cand = probe
      .join(occ.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("shingle")), "shingle")
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") >= ceil(lit(threshold) * col("sz_a")))
      .select("id_a", "id_b").distinct()

    val pairs = cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("den_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / col("den_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("containment"))
    materializeAndRelease(pairs, sh)
  }

  /** CORRECTNESS instantiation for `dedup_containment`: documents ∪
    * EXCERPTS — the first ⌊tokens/2⌋ tokens (min 1) of every 10th doc,
    * re-joined with single spaces under shifted ids. An excerpt's shingle
    * set is a subset of its source's (every 3-token window of a token
    * prefix is a window of the full sequence), so each planted pair
    * scores containment 1.0 into its source while its symmetric Jaccard
    * sits near 0.5 — below every Jaccard gate in the suite. The oracle
    * replays the same excerpt construction and the ALL-PAIRS directed
    * ratio in SQL. */
  def plantedContainedDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(toks, lit(1),
            greatest(floor(size(toks) / 2).cast("int"), lit(1))), " ")
            .as("text")))
  }

  def containedDocs(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(plantedContainedDocs(spark, dir), "doc_id", "text")

  /** First ⌊tokens/2⌋ tokens (min 1) re-joined with single spaces — the
    * shared excerpt constructor for the containment fixtures (tokens
    * re-joined with spaces re-tokenize to themselves, so the excerpt's
    * shingle set is exactly a subset of its source's). */
  private def halfTokenText(textCol: Column): Column = {
    val toks = TextAnalysis.tokens(textCol)
    array_join(slice(toks, lit(1),
      greatest(floor(size(toks) / 2).cast("int"), lit(1))), " ")
  }

  /** Per-document containment-index rows for a landed corpus:
    * (doc_id, distinct sorted shingle hashes, set size). The landed form
    * ([[landContainmentIndex]]) derives the posting side from this. */
  def containmentIndexRows(corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    corpus.select(col(idCol).as("doc_id"),
        array_sort(array_distinct(shingleHashes(col(textCol), n))).as("sh"))
      .withColumn("sz", size(col("sh")))

  /** Land the containment index: the FULL posting table `<prefix>_post`
    * bucketed (and sorted) on the probe join's key `shingle` — the
    * container side of the asymmetric prefix filter cannot prune, so
    * unlike the near-dup band index it must index every shingle — plus
    * the verification lookup `<prefix>_sh` bucketed on `doc_id`. */
  def landContainmentIndex(index: DataFrame, prefix: String, path: String,
      buckets: Int = 32): Unit = {
    graft.sources.Layout.writeBucketed(
      index.select(col("doc_id"), col("sz"), explode(col("sh")).as("shingle")),
      s"${prefix}_post", Seq("shingle"), Seq("shingle"), buckets,
      s"$path/post")
    graft.sources.Layout.writeBucketed(
      index, s"${prefix}_sh", Seq("doc_id"), Seq("doc_id"), buckets,
      s"$path/sh")
  }

  /** Arrival-time CONTAINMENT gate — [[incrementalNearNew]]'s asymmetric
    * sibling: drop arriving documents that are (near-)EXCERPTS of the
    * landed corpus or of a fellow arrival, the redundancy class the
    * symmetric Jaccard gate is blind to (a quoted fragment of a landed
    * page sails through Jaccard ≈ |frag|/|page|). A SUPERSET arrival —
    * one that CONTAINS a landed doc — is deliberately kept: it carries
    * new content; demoting the landed subset is compaction's decision,
    * not admission's.
    *
    * Candidates use the [[containmentPairs]] prefix filter with the
    * probe prefix in HASH order (the sorted set's smallest hashes):
    * losslessness holds for ANY fixed order, and hash order needs no
    * df fetch from the index — the probe never reads corpus statistics,
    * only the posting buckets its prefix hashes route to. Within-batch
    * mutual containments (exact dups) keep the smallest id (the
    * [[incrementalNearNewBanded]] rule); one-way within-batch
    * containments drop the contained side regardless of id.
    *
    * @param corpusPost full posting table (shingle, doc_id, sz) — at
    *   steady state the landed `<prefix>_post` bucketed on shingle, so
    *   the probe join is index-side-shuffle-free
    * @param corpusSh   verification lookup (doc_id, sh, sz) */
  def incrementalContainmentNew(corpusPost: DataFrame, corpusSh: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    // CONTRACT (as incrementalNearNewBanded): idCol uniquely identifies a
    // batch row; verbatim re-sends collapse here
    val b = batch.dropDuplicates(idCol, textCol)
    val bIdx = containmentIndexRows(b, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    // sh is sorted ascending, so the hash-order prefix is a plain slice
    val pref = bIdx.select(col("doc_id").as("id_a"), col("sz").as("sz_a"),
      explode(slice(col("sh"), lit(1), prefLen)).as("shingle"))

    // (a) batch vs corpus: excerpt-of-landed drops
    val cCand = pref
      .join(corpusPost.select(col("shingle"), col("doc_id").as("id_b"),
        col("sz").as("sz_b")), "shingle")
      .filter(col("sz_b") >= ceil(lit(threshold) * col("sz_a")))
      .select("id_a", "id_b").distinct()
    val cDrops = cCand
      .join(bIdx.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("den_a")), "id_a")
      .join(corpusSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        / col("den_a") >= threshold)
      .select(col("id_a").as("__drop"))

    // (b) within-batch: one-way containment drops the contained side;
    // mutual (exact-dup) ties keep the smallest id
    val bOcc = bIdx.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
      explode(col("sh")).as("shingle"))
    val bCand = pref.join(bOcc, "shingle")
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") >= ceil(lit(threshold) * col("sz_a")))
      .select("id_a", "id_b").distinct()
    val bDrops = bCand
      .join(bIdx.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("den_a")), "id_a")
      .join(bIdx.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("den_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("inter") / col("den_a") >= threshold &&
        (col("inter") / col("den_b") < threshold ||
          col("id_b") < col("id_a")))
      .select(col("id_a").as("__drop"))

    val survivors = b.join(
      cDrops.union(bDrops).distinct().select(col("__drop").as(idCol)),
      Seq(idCol), "left_anti")
    materializeAndRelease(survivors, bIdx)
  }

  /** The arrival batch both containment-gate instantiations probe with:
    * the % 4 = 1 docs ∪ half-token excerpts of the % 10 = 0 corpus docs
    * (excerpt-of-landed drop path — the case the near-dup gate misses by
    * construction) ∪ half-token excerpts of the % 8 = 1 batch docs
    * (within-batch drop path) — all drawn from the
    * [[FixedBatchDocIdBound]] window (fixed |batch| across SF). */
  private def containArrivalBatch(docsAll: DataFrame): DataFrame = {
    val docs = docsAll.filter(col("doc_id") < FixedBatchDocIdBound)
    val corpus = docs.filter(col("doc_id") % 4 =!= 1)
    docs.filter(col("doc_id") % 4 === 1)
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          halfTokenText(col("text")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          halfTokenText(col("text")).as("text")))
  }

  /** CORRECTNESS instantiation (`dedup_incr_contain`): corpus = % 4 ≠ 1
    * docs, its index built from scratch; batch = [[containArrivalBatch]].
    * Survivors are the % 4 = 1 rows minus any natural containments. */
  def incrementalContainArrivals(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val idx = containmentIndexRows(
      docs.filter(col("doc_id") % 4 =!= 1), "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = incrementalContainmentNew(
      idx.select(col("doc_id"), col("sz"), explode(col("sh")).as("shingle")),
      idx, containArrivalBatch(docs), "doc_id", "text")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    idx.unpersist()
    out
  }

  /** Catalog table-name prefix for the landed containment index. */
  def steadyContainPrefix(dir: String): String = Landing.key("contain_steady", dir)

  /** STEADY-STATE [[incrementalContainArrivals]]: probes the LANDED
    * shingle-bucketed posting table — no corpus re-shingling, and the
    * posting join shuffles only the batch prefix (the index side is
    * bucket-aligned on `shingle`). Same answer, same oracle. */
  def incrementalContainArrivalsSteady(spark: SparkSession, dir: String): DataFrame = {
    val prefix = steadyContainPrefix(dir)
    Landing.ensureLanded(spark, prefix,
      Seq(s"${prefix}_post", s"${prefix}_sh")) { path =>
      val corpus = Tables.load(spark, dir, "documents")
        .select("doc_id", "text").filter(col("doc_id") % 4 =!= 1)
      val index = containmentIndexRows(corpus, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      landContainmentIndex(index, prefix, path)
      index.unpersist()
    }
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    incrementalContainmentNew(
      spark.table(s"${prefix}_post"), spark.table(s"${prefix}_sh"),
      containArrivalBatch(docs), "doc_id", "text")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
  }

  /** SimHash near-duplicate pairs: 64-bit fingerprint per document, split
    * into 4 16-bit bands (pigeonhole: any pair within Hamming distance 3
    * shares at least one exact band), bucket-join on (band, band-bits),
    * verify with `bit_count(xor) <= maxHamming`. Same
    * bucket-join-never-cartesian shape as MinHash LSH; the fingerprint is
    * one long per doc so the banded table is 4 rows × 16 bytes per doc. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole only guarantees recall for distance <= 3")
    val fp = docs.select(
      col(idCol).as("doc_id"),
      GraftFunctions.simhash64(shingleHashes(col(textCol), n)).as("fp"))

    // persisted for the same reason as the MinHash shingle table: the
    // banded fingerprints feed both sides of the self-join
    val banded = fp.select(
      col("doc_id"), col("fp"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF("doc_id", "fp", "band", "bits")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val pairs = banded.as("a")
      .join(banded.as("b"), Seq("band", "bits"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    materializeAndRelease(pairs, banded)
  }

  /** Embedding-cosine near-duplicate pairs: bucket vectors by
    * random-hyperplane sign bands (Charikar SimHash for vectors — reusing
    * [[Similarity.hyperplaneBands]]), join same-bucket pairs, verify with
    * the codegen'd cosine kernel, keep pairs ≥ threshold. Same
    * bucket-join-never-cartesian shape as the text LSH: near-identical
    * vectors agree on every sign bit, so they collide in all bands;
    * unrelated vectors (cosine ~N(0, 1/dim)) clear a 0.999 threshold with
    * probability ~0 and are filtered at verification anyway. */
  def embedCosinePairs(emb: DataFrame, threshold: Double = 0.999): DataFrame = {
    // 2 bands × 16 sign bits (65536 buckets/band), much finer than the ANN
    // search's 4-bit bands: at a 0.999 threshold candidates agree on
    // essentially every sign bit, and per-bucket occupancy — which the
    // self-join is quadratic in — must shrink as the corpus grows.
    val banded = Similarity.hyperplaneBands(emb, planes = 32, bitsPerBand = 16)
      .select(col("vec_id"), col("band"), col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = banded.as("a")
      .join(banded.as("b"), Seq("band", "bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val pairs = cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("e_a")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("e_b")), "vec_b")
      .withColumn("score", GraftFunctions.cosineSim(col("e_a"), col("e_b")))
      // !isnan guard: Spark compares NaN GREATER than any double, so a
      // zero-norm junk vector pair would otherwise pass the threshold
      .filter(!isnan(col("score")) && col("score") >= threshold)
      // reported score rounded to 6 dp: DuckDB's inner-product accumulation
      // differs from the kernel's sequential loop by 1-2 ULP, which is
      // irrelevant semantically but would perturb hash-compare row order
      .select(col("vec_a"), col("vec_b"), round(col("score"), 6).as("score"))
    materializeAndRelease(pairs, banded)
  }

  /** embeddings ∪ scaled copies (×1.01, re-rounded to float) of every 20th
    * vector in a shifted id space — the planted near-duplicate corpus for
    * [[embedCosinePairs]]' CORRECTNESS entry, mirrored exactly in the
    * oracle SQL. Positive scaling preserves every hyperplane sign bit, so
    * planted pairs collide in all bands; the float re-rounding makes them
    * "near" (cosine < 1) rather than bitwise equal. */
  def plantedNearVectors(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    emb.unionByName(
      emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 500000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.01d)).cast("float")).as("embedding")))
  }

  /** SemDedup-style cluster-scoped semantic dedup (the public
    * train-a-quantizer-then-dedup-within-cells method): train k-means on
    * the corpus ([[Similarity.kmeansCentroids]] — deterministic Lloyd's),
    * assign every vector to its cell, verify cosine ≥ `tau` ONLY within
    * cells, and keep the smallest id of every similar pair.
    *
    * This is the third point in the embedding-dedup design space: exact
    * all-pairs is quadratic, [[embedCosinePairs]]' sign-LSH bounds
    * candidates by hash-bucket occupancy, and SemDedup bounds them by
    * TRAINED cell occupancy — cells track the data's actual density, so
    * the quadratic term is |cell|², with the published recall trade that
    * a cross-cell near-pair is never examined.
    *
    * Scale shape: training is the documented bounded-shuffle Lloyd's; the
    * assignment is one bounded corpus×constant broadcast cross; the
    * within-cell self-join is an equi-join on cell_id (a hot cell is an
    * AQE skew-split candidate, and |cell| is capped in practice by
    * training k proportional to corpus size); the drop set applies as one
    * anti-join. The corpus assignment is persisted across its two
    * self-join sides, not recomputed. */
  def semanticDedup(emb: DataFrame, tau: Double = 0.999): DataFrame =
    semanticDedupWith(emb, Similarity.kmeansCentroidsAuto(emb), tau)

  /** [[semanticDedup]] with caller-supplied cells — the train/serve seam
    * the STEADY instantiations use: production SemDedup trains its
    * quantizer once per corpus snapshot and every dedup pass serves from
    * the landed cells (assignment + within-cell verify only, no Lloyd's
    * in the plan). */
  def semanticDedupWith(emb: DataFrame, centroids: DataFrame,
      tau: Double): DataFrame = {
    val (coarseLive, grouped) = Similarity.hierIndex(centroids)
    semanticDedupWithIndex(emb, coarseLive, grouped, tau)
  }

  /** [[semanticDedupWith]] against a PREBUILT (or landed —
    * [[graft.operators.Similarity.ensureHierIndex]]) two-level
    * assignment index — the steady serves' form, coarse training
    * amortized to the land. */
  def semanticDedupWithIndex(emb: DataFrame, coarseLive: DataFrame,
      grouped: DataFrame, tau: Double): DataFrame = {
    // two-level assignment (round-14 adoption): SemDedup sizes k ≈ N/29,
    // so the flat N·k argmax is O(N²/29) — the measured super-linear
    // term; the two-level form is O(N·√k) within the documented recall
    // trade (a vector mis-grouped at the coarse level lands in a
    // neighbouring cell, whose near-pairs SemDedup never examined anyway)
    val asg = Similarity.ivfAssignHierWith(emb, coarseLive, grouped)
      .select(col("vec_id"), col("cell_id"))
    val withCell = emb.select(col("vec_id"), col("embedding"))
      .join(asg, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drops = withCell
      .select(col("cell_id"), col("vec_id").as("vec_a"), col("embedding").as("e_a"))
      .join(withCell.select(col("cell_id"), col("vec_id").as("vec_b"),
        col("embedding").as("e_b")), Seq("cell_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("score", GraftFunctions.cosineSim(col("e_a"), col("e_b")))
      // !isnan: Spark orders NaN above every double, so a zero-norm junk
      // vector pair would otherwise pass the threshold (same guard and
      // rationale as [[embedCosinePairs]])
      .filter(!isnan(col("score")) && col("score") >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
    materializeAndRelease(
      emb.join(drops, Seq("vec_id"), "left_anti").select("vec_id"), withCell)
  }

  /** CORRECTNESS instantiation: SemDedup survivors of the planted
    * near-duplicate corpus ([[plantedNearVectors]] — scaled copies share
    * their original's cell because positive scaling preserves cosine, so
    * every planted copy must drop). */
  def semanticDedupPlanted(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(plantedNearVectors(spark, dir))

  /** Catalog table name for a LANDED SemDedup quantizer (trained cells of
    * one corpus instantiation), keyed by (variant, dir). */
  def semanticCellsTable(dir: String, variant: String): String =
    Landing.key(s"semdedup_$variant", s"$variant|$dir")

  /** The steady SemDedup serve over `emb`: the trained k-means cells land
    * once as the `variant` cell table (the
    * [[graft.operators.Similarity.landedQuantizers]] pattern — trained
    * only on a fresh catalog), and its hier index lands NEXT TO them
    * (keyed by the same table name) — the serve reads both, trains
    * neither. */
  private def semanticDedupSteady(spark: SparkSession, dir: String,
      variant: String, emb: DataFrame, tau: Double): DataFrame = {
    val table = semanticCellsTable(dir, variant)
    Landing.ensureLanded(spark, table, Seq(table)) { path =>
      Landing.saveTable(Similarity.kmeansCentroidsAuto(emb), table, s"$path/cells")
    }
    val (coarseLive, grouped) =
      Similarity.ensureHierIndex(spark, table, spark.table(table))
    semanticDedupWithIndex(emb, coarseLive, grouped, tau)
  }

  /** STEADY-STATE [[semanticDedupPlanted]]: the trained k-means cells
    * come from the LANDED artifact table — the timed plan is what a
    * production SemDedup pass actually pays per corpus snapshot
    * (assignment cross + within-cell verify + anti-join), training
    * amortized to the first call. Same cells (the trainer is
    * deterministic), same answer, same oracle as the retrain entry. */
  def semanticDedupPlantedSteady(spark: SparkSession, dir: String): DataFrame =
    semanticDedupSteady(spark, dir, "emb", plantedNearVectors(spark, dir), 0.999)

  /** SemDedup over a RAW TEXT corpus — the composition
    * [[TextAnalysis.hashedDocVectors]] (E130) exists for: the corpus
    * embeds itself by the hashing trick (no trained model anywhere in
    * the pipeline), and [[semanticDedup]]'s train-then-dedup-within-cells
    * recurrence runs unchanged over the hashed vectors. Zero-token docs
    * are excluded up front: their zero vector has no cosine (NaN on both
    * engines, with DIFFERENT comparison semantics — DuckDB ranks NaN
    * above every double, Spark guards with isnan — so the only
    * cross-engine-safe contract is to keep them out of the vector
    * space). Returns surviving doc_ids as `vec_id`. */
  def semanticDedupText(spark: SparkSession, dir: String,
      tau: Double = 0.99): DataFrame =
    semanticDedup(hashedCorpusVectors(spark, dir), tau)

  /** The self-embedded corpus [[semanticDedupText]] runs over — hashed
    * doc vectors, zero-token docs excluded, materialized once (the
    * bpeCore/kmeans trainer device: the Lloyd's loop and both self-join
    * sides would otherwise re-run the interpreted HOF hashing chain over
    * the text per pass). */
  private def hashedCorpusVectors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .filter(size(graft.operators.TextAnalysis.tokens(col("text"))) > 0)
    graft.operators.TextAnalysis
      .hashedDocVectors(docs, "doc_id", "text")
      .select(col("doc_id").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint()
  }

  /** STEADY-STATE [[semanticDedupText]]: landed trained cells, serve
    * cost = self-embedding scan + assignment + within-cell verify (the
    * hashing is part of the serve path by design — the corpus embeds
    * itself; only the TRAINING is amortizable). Same answer, same
    * oracle as the retrain entry. */
  def semanticDedupTextSteady(spark: SparkSession, dir: String,
      tau: Double = 0.99): DataFrame =
    semanticDedupSteady(spark, dir, "text", hashedCorpusVectors(spark, dir), tau)

  /** Incremental SEMANTIC arrival dedup — the E77/E78 incremental
    * pattern applied to SemDedup, closing the gap the exact and MinHash
    * incremental forms leave for embedding-space near-duplicates: a
    * paraphrased re-arrival shares no fingerprint and few shingles, but
    * lands next to its original in embedding space. Given the corpus,
    * the TRAINED cells (landed artifacts in the steady form — training
    * never reruns per batch), and an arrival batch: assign the batch to
    * the corpus's cells, verify cosine ≥ `tau` against same-cell CORPUS
    * members (landed data always wins — the keep-first policy of
    * [[incrementalNew]]) and against smaller-id same-cell BATCH members
    * (the within-batch greedy rule), and return the surviving arrivals.
    * Corpus–corpus pairs are never examined — that dedup happened when
    * the corpus landed ([[semanticDedup]]).
    *
    * Scale shape: both assignments are the TWO-LEVEL O(rows·√k) argmax
    * ([[Similarity.ivfAssignHier]] — k ∝ N under SemDedup sizing, so the
    * flat cross was the measured super-linear term; the coarse level
    * trains once per centroid set via [[Similarity.hierIndex]]); the
    * verify joins are equi-joins on cell_id whose
    * BATCH side is small by contract, so the per-batch cost is
    * |batch|·|cell| — and with the corpus assignment landed bucketed by
    * cell_id the probe side needs no exchange (the
    * [[landNearDupIndex]] discipline; the cells themselves are already
    * landed by [[graft.operators.Similarity.landedQuantizers]]). */
  def incrementalSemanticNew(corpus: DataFrame, batch: DataFrame,
      centroids: DataFrame, tau: Double = 0.999): DataFrame = {
    // one hierIndex for BOTH assignment passes (corpus + batch): the
    // O(k·√k) coarse training is per-centroid-set work, paid once
    val (coarseLive, grouped) = Similarity.hierIndex(centroids)
    incrementalSemanticNewWith(
      Similarity.ivfAssignHierWith(corpus, coarseLive, grouped)
        .select(col("cell_id"), col("embedding").as("m_emb")),
      batch, coarseLive, grouped, tau)
  }

  /** [[incrementalSemanticNew]] against a PRE-ASSIGNED corpus side
    * (cell_id, m_emb rows — an already-landed assignment index): the
    * seam the streaming maintainer ([[graft.streaming.StreamSemantic]])
    * probes, where the corpus assignment accumulated at land time and
    * must not be recomputed per batch. Builds a fresh [[Similarity.hierIndex]]
    * per call; a caller probing MANY batches against one centroid set
    * (the streaming maintainers) should build the index once and use
    * [[incrementalSemanticNewWith]]. */
  def incrementalSemanticNewAssigned(cAsg: DataFrame, batch: DataFrame,
      centroids: DataFrame, tau: Double = 0.999): DataFrame = {
    val (coarseLive, grouped) = Similarity.hierIndex(centroids)
    incrementalSemanticNewWith(cAsg, batch, coarseLive, grouped, tau)
  }

  /** The per-batch half: two-level batch assignment against a PREBUILT
    * [[Similarity.hierIndex]] pair + the two cell-scoped verifies. */
  def incrementalSemanticNewWith(cAsg: DataFrame, batch: DataFrame,
      coarseLive: DataFrame, grouped: DataFrame,
      tau: Double = 0.999): DataFrame = {
    val bAsg = Similarity.ivfAssignHierWith(batch, coarseLive, grouped)
      .select(col("vec_id"), col("cell_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vsCorpus = bAsg.join(cAsg, Seq("cell_id"))
      .withColumn("score", GraftFunctions.cosineSim(col("embedding"), col("m_emb")))
      .filter(!isnan(col("score")) && col("score") >= tau)
      .select("vec_id")
    val within = bAsg
      .select(col("cell_id"), col("vec_id").as("vec_a"), col("embedding").as("e_a"))
      .join(bAsg.select(col("cell_id"), col("vec_id").as("vec_b"),
        col("embedding").as("e_b")), Seq("cell_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("score", GraftFunctions.cosineSim(col("e_a"), col("e_b")))
      .filter(!isnan(col("score")) && col("score") >= tau)
      .select(col("vec_b").as("vec_id"))
    val drops = vsCorpus.unionByName(within).distinct()
    materializeAndRelease(
      batch.join(drops, Seq("vec_id"), "left_anti").select("vec_id"), bAsg)
  }

  /** The CORRECTNESS arrival batch: scaled near-copies of every 20th
    * corpus vector (must drop — same cell as their original, cosine 1 up
    * to the float re-round) plus NEGATED copies of every 30th-offset-7
    * vector (must survive — negation flips cosine to −1 against the
    * original, and a ≥0.999 match to anything else would require a
    * ≤−0.999 pair in the corpus). Drawn from the
    * [[FixedBatchVecIdBound]] window (fixed |batch| across SF — the
    * round-16 fixture fix). Mirrored exactly in the oracle SQL. */
  def incrementalSemanticBatch(embAll: DataFrame): DataFrame = {
    val emb = embAll.filter(col("vec_id") < FixedBatchVecIdBound)
    emb.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 500000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.01d)).cast("float")).as("embedding"))
      .unionByName(emb.filter(col("vec_id") % 30 === 7)
        .select((col("vec_id") + 600000L).as("vec_id"),
          transform(col("embedding"), x => (-x).cast("float")).as("embedding")))
  }

  /** CORRECTNESS instantiation (retrain-in-plan form): cells trained on
    * the CORPUS only — arrivals never influence the quantizer, exactly
    * the production asymmetry. */
  def incrementalSemanticArrivals(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    incrementalSemanticNew(emb, incrementalSemanticBatch(emb),
      Similarity.kmeansCentroidsAuto(emb))
  }

  /** STEADY-STATE [[incrementalSemanticArrivals]]: the cells come from
    * the corpus dir's LANDED trained-quantizer table
    * ([[graft.operators.Similarity.landedQuantizers]] — the same
    * k-means artifact the ANN serve path reads), so the timed plan is
    * pure serve: two assignment crosses + the cell-scoped verifies.
    * Same cells, same answer, same oracle as the retrain entry. */
  def incrementalSemanticArrivalsSteady(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val (coarseLive, grouped) = Similarity.loadLandedHierIndex(spark, dir)
    incrementalSemanticNewWith(
      Similarity.ivfAssignHierWith(emb, coarseLive, grouped)
        .select(col("cell_id"), col("embedding").as("m_emb")),
      incrementalSemanticBatch(emb), coarseLive, grouped)
  }

  /** RECORD linkage by deletion-neighborhood blocking — the structured
    * (typo'd-key) sibling of the text near-dup family, using the
    * published symmetric-delete device (SymSpell): every 1-deletion
    * variant of a name is a blocking key, and any two names within
    * edit distance 1 PROVABLY share one (substitution at i → both drop
    * i; insertion/deletion → the longer drops the extra), so the
    * candidate generator is a bucketed EQUI-join on the variant — no
    * all-pairs, no per-pair distance until the bounded verify. The
    * exact `levenshtein` confirm then removes the false candidates the
    * blocking over-generates (distance-2 names can share a variant).
    *
    * Scale shape: the variant explode is |name| per row (bounded by key
    * length, not corpus size); the join shuffles (variant, id) — ids
    * only: the candidate distinct runs on the 16-byte id pair, NOT on
    * the name strings (carrying both names of every |name|-way-exploded
    * collision through the shuffle is the width trap the round-9 form
    * paid), and the surviving candidates fetch their names back through
    * two narrow equi-joins against the input before the one exact
    * `levenshtein` confirm (computed once, filtered as a column).
    * Returns (id_a, id_b, dist ≤ 1), id_a < id_b. */
  def deletionLinkPairs(records: DataFrame, idCol: String,
      nameCol: String): DataFrame = {
    val c = records.select(col(idCol).cast("long").as("id"),
      col(nameCol).as("name"))
    val v = deletionVariants(c)
    val cand = v.select(col("variant"), col("id").as("id_a"))
      .join(v.select(col("variant"), col("id").as("id_b")), Seq("variant"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    confirmLinkPairs(cand, c)
  }

  /** The symmetric-delete blocking index of (id, name) rows: one
    * (variant, id) row per 1-deletion variant — the name ITSELF plus
    * every single-character deletion (j = 0 is the name): a substitution
    * pair shares a deletion variant, but an insertion/deletion pair
    * shares the SHORTER NAME — which is no deletion of itself, so a
    * deletions-only index would miss it. Split out of
    * [[deletionLinkPairs]] so the streaming maintainer
    * ([[graft.streaming.StreamLink]]) can append per-batch generations
    * of exactly these rows and probe them incrementally. */
  def deletionVariants(c: DataFrame): DataFrame =
    c.select(col("id"),
      explode(transform(sequence(lit(0), length(col("name"))),
        j => when(j === 0, col("name"))
          .otherwise(concat(col("name").substr(lit(1), j - 1),
            col("name").substr(j + 1, length(col("name"))))))).as("variant"))

  /** The exact verify half of [[deletionLinkPairs]]: fetch both names of
    * each candidate (id_a, id_b) through two narrow equi-joins against
    * the (id, name) relation and keep pairs within edit distance 1 —
    * levenshtein computed once, filtered as a column. */
  def confirmLinkPairs(cand: DataFrame, c: DataFrame): DataFrame =
    cand
      .join(c.select(col("id").as("id_a"), col("name").as("na")), Seq("id_a"))
      .join(c.select(col("id").as("id_b"), col("name").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("na"), col("nb")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .select("id_a", "id_b", "dist")

  /** CORRECTNESS instantiation: distance-≤1 customer-name pairs (the
    * digit-padded synthetic names make single-digit neighbors natural
    * typo pairs — non-vacuous without planting). */
  def recordLinkCustomers(spark: SparkSession, dir: String): DataFrame =
    deletionLinkPairs(Tables.load(spark, dir, "customer"), "c_custkey", "c_name")

  /** ENTITY RESOLUTION — the policy close of [[deletionLinkPairs]]
    * (the record-linkage literature's survivorship step): linked pairs
    * → exact transitive clusters ([[connectedComponents]] — a typo
    * chain a~b~c is one entity even when a≁c directly) → ONE canonical
    * record per cluster by the survivorship rule `score` (here: the
    * richest record wins, ties to the smallest id — the
    * [[keepBestPerCluster]] max_by device). Unlinked records are their
    * own singleton entity. Returns (idCol, component, n_members) —
    * canonical records only. */
  def resolveEntities(records: DataFrame, idCol: String, nameCol: String,
      score: Column): DataFrame = {
    val pairs = deletionLinkPairs(records, idCol, nameCol)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    keepBestPerCluster(records, pairs, idCol, score)
  }

  /** CORRECTNESS instantiation: canonical customers under the
    * highest-acctbal survivorship rule. The fuzzy key is BLOCKED on the
    * reliable structured attributes (mktsegment, nationkey) by
    * prepending them — the standard linkage discipline (fuzzy-match
    * only the unreliable field): names are unique, so any cross-block
    * pair is ≥ 2 edits apart and can never link, while the digit-padded
    * names inside a block still produce natural typo pairs. (Unblocked,
    * the digit-neighbor graph is fully connected — 1 500 customers
    * collapse into ONE entity, the classic over-linking failure this
    * instantiation demonstrates avoiding.) */
  def resolveCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .withColumn("blocked_name", concat_ws("|", col("c_mktsegment"),
        col("c_nationkey").cast("string"), col("c_name")))
    resolveEntities(c, "c_custkey", "blocked_name", col("c_acctbal"))
      .select(col("c_custkey"), col("component"), col("n_members"))
  }

  /** Near-duplicate REMOVAL (the policy layer over [[minhashLshPairs]]):
    * keep the lower doc_id of every verified pair, drop the other side —
    * the standard greedy cluster-canonicalization (a chain a~b~c keeps a;
    * b and c are each dropped through their pair with a smaller id).
    * One anti-join against the distinct drop set — no iteration. The
    * exact alternative for transitive chains (A~B~C where A≁C) is
    * [[connectedComponents]] + keep-one-per-component; this greedy form
    * trades that recall for a single pass. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7): DataFrame = {
    val drops = minhashLshPairs(docs, idCol, textCol, threshold = threshold)
      .select(col("doc_b").as(idCol)).distinct()
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster dedup — the policy [[dropNearDuplicates]]'
    * keep-smallest-id cannot express: keep the BEST document of every
    * near-dup cluster (the public pipelines' usual choice is the longest
    * or highest-quality copy, not the lowest id). Exact over transitive
    * chains: pairs → [[connectedComponents]] → one `max_by` per
    * component under (score, then smallest id) — docs in no pair are
    * their own singleton component and keep themselves.
    *
    * Scale shape: the star rounds are the cost ceiling (see
    * [[connectedComponents]]); the selection itself is one two-phase
    * aggregate moving one row per component, and the docs→component label
    * join is an equi-join on the id. Returns (idCol, component,
    * n_members) — survivors only. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
      score: Column): DataFrame = {
    val cc = connectedComponents(pairs).withColumnRenamed("node", idCol)
    val labeled = docs.join(cc, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
    labeled.groupBy("__comp")
      .agg(
        // lexicographic max of (score, -id): highest score, ties to the
        // smallest id (ids are nonnegative, so the negation cannot wrap)
        max_by(col(idCol), struct(score, -col(idCol))).as("keep_id"),
        count(lit(1)).as("n_members"))
      .select(col("keep_id").as(idCol), col("__comp").as("component"),
        col("n_members"))
  }

  /** CORRECTNESS instantiation: keep the LONGEST text of every near-dup
    * cluster of the planted corpus — the planted copies are one token
    * longer than their originals, so the kept side differs from
    * keep-smallest-id by construction (the copy wins its cluster). */
  def keepLongestDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedNearDocs(spark, dir)
    val pairs = minhashLshPairs(docs, "doc_id", "text")
    keepBestPerCluster(docs, pairs, "doc_id", length(col("text")))
  }

  /** Distributed connected components over a near-duplicate pair list —
    * the transitive-closure step that turns pairwise similarity output
    * (A~B, B~C) into dedup CLUSTERS ({A,B,C} → one kept representative),
    * which pairwise keep-smallest cannot do exactly.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public).
    * Each round rewires every node toward the minimum id it can see:
    *
    *   large-star: for each node u, every STRICTLY LARGER neighbor v is
    *     re-pointed at m = min(Γ(u) ∪ {u});
    *   small-star: on the now large→small directed edges, u and all its
    *     (smaller) neighbors re-point at the minimum neighbor.
    *
    * The edge multiset converges to min-rooted stars in O(log²n) rounds
    * (in practice a handful: similarity clusters are near-cliques with
    * tiny diameter). Returns (node, component) where component is the
    * minimum id in the node's component; only nodes that appear in
    * `pairs` are returned (everything else is its own singleton).
    *
    * Scale shape (100 TB): each round is two key-aligned shuffles
    * (groupBy(u) min + join on u — the join reuses the aggregate's
    * hash partitioning). Large-star is exactly the step that splits
    * high-degree hubs, so the skewed key a giant dup-cluster creates
    * loses its edges to its minimum over the first rounds instead of
    * accumulating them on one reducer. Per-round `localCheckpoint`
    * (reliable `checkpoint` when the session has a checkpoint dir)
    * truncates the iterative lineage — without it the plan doubles per
    * round. Convergence is detected from a (count, hash-xor) signature:
    * two 1-row driver reads per round, not a data collect. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    def pin(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // (count, xor-of-hashes): order-independent, overflow-free under ANSI
    // (a sum of 64-bit hashes overflows); edges are distinct so the xor is
    // a proper set signature. r18 (the r17 verdict ask): the signature is
    // FOLDED INTO THE PIN JOB as an observed metric (CollectMetrics
    // accumulates task-side during the checkpoint materialization —
    // Dataset.checkpoint is a listener-visible action), so each round
    // runs ONE job instead of pin + a follow-up 1-row signature read.
    def pinSig(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val pinned = pin(e.observe(obs,
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("x")))
      val row = obs.get
      (pinned, (row("n").asInstanceOf[Long], row("x").asInstanceOf[Long]))
    }
    // canonical big→small directed edges (the small-star invariant)
    var (edges, s) = pinSig(pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct())
    var done = false
    var it = 0
    while (!done && it < maxIter) {
      // large-star over the symmetrized neighbor lists
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star over the large→small edges
      val mins2 = ls.groupBy("u").agg(min(col("v")).as("m"))
      val (next, s2) = pinSig(ls.join(mins2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .distinct())
      done = s2 == s
      s = s2
      edges = next
      it += 1
    }
    if (!done)
      logWarning(s"connectedComponents hit maxIter=$maxIter without signature " +
        "convergence; component labels may be only partially converged " +
        "(nodes can carry a non-minimal component id)")
    // converged: every edge points a node at its component minimum
    edges.select(col("u").as("node"), col("v").as("component"))
      .union(edges.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }

  /** Duplicated w-token spans across the corpus — the exact
    * substring-level dedup signal (after the public training-data dedup
    * literature: hash every w-token window, flag windows that occur more
    * than once corpus-wide), complementing the whole-document operators
    * above. Returns (doc_id, pos, df): token-start position of each
    * window whose corpus-wide occurrence count is ≥ minDf. Downstream
    * policy (cut the span, drop the doc, down-weight) stays with the
    * caller.
    *
    * Scale shape: window hashing is the single-pass codegen
    * `shingle_hashes` kernel + a row-local posexplode (no shuffle); the
    * occurrence count is a two-phase agg on the 8-byte window hash — one
    * row per DISTINCT window crosses the shuffle; membership is an
    * equi-join on the hash (broadcast-chosen when duplication is rare —
    * the common case — and an AQE shuffle join otherwise). The text
    * never crosses the network. Texts shorter than w tokens contribute
    * one whole-sequence window (the kernel's short-input rule), so
    * whole-doc exact duplicates of short docs still surface. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 50, minDf: Long = 2L): DataFrame = {
    val win = docs.select(col(idCol).as("doc_id"),
      posexplode(shingleHashes(col(textCol), w)))
      .toDF("doc_id", "pos", "wh")
    val dup = win.groupBy("wh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    win.join(dup, "wh")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("df"))
  }

  /** Maximal duplicated token RANGES per document — the ExactSubstr
    * remove-range semantics (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — public): merge
    * [[duplicateSpans]]' flagged w-token windows into maximal contiguous
    * coverage intervals, so downstream policy reasons about each
    * duplicated REGION once instead of its O(len) overlapping windows.
    * Two flagged windows at positions p < q share a range iff their
    * coverage overlaps or touches (q ≤ p + w) — the classic
    * gaps-and-islands fold. Returns (doc_id, span_start, span_end,
    * span_tokens, n_windows), end EXCLUSIVE in token positions.
    * Short-doc note: texts under w tokens contribute one whole-sequence
    * window at pos 0 (the kernel's short-input rule), so their range
    * reads [0, w) — already "the whole doc"; callers clamping to the
    * true token count do so against their own lengths.
    *
    * Scale shape: [[duplicateSpans]]' plan plus per-DOC windows only
    * (lag + running sum partitioned BY doc_id — bounded by tokens per
    * document, never corpus-wide) and one two-phase aggregate per
    * island. */
  def duplicateSpanRanges(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 50, minDf: Long = 2L): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    duplicateSpans(docs, idCol, textCol, w, minDf)
      .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") > col("__prev") + w, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + w).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_windows"))
  }

  /** ExactSubstr SCRUB — the cleaned corpus: every maximal duplicated
    * range ([[duplicateSpanRanges]]) is CUT from every document carrying
    * it and the surviving tokens reassemble in order. All-occurrences
    * removal is the policy of the RELEASED ExactSubstr tooling (the
    * deduplicate-text-datasets implementation accompanying Lee et al.
    * 2021), which drops every copy of a duplicated region; the paper's
    * prose describes the keep-one variant (remove from all but one
    * occurrence). This operator implements the released tooling's
    * semantics — unlike keep-first paragraph dedup, a region duplicated
    * across k docs disappears from all k. Returns
    * (doc_id, clean_text, n_removed) over the NORMALIZED token stream
    * (the [[dedupParagraphs]] reassembly convention — the oracle replays
    * the tokenizer). Documents with no flagged range pass through as
    * their token join with n_removed = 0.
    *
    * Scale shape: two scan-side passes over the text (the window
    * flagging and the token projection — Generate chains, no text ever
    * shuffles), the per-doc island fold above, a per-doc range-list
    * aggregate (≤ a few rows per doc), one equi-join of that bounded
    * list back onto the token projection, and a ROW-LOCAL
    * filter-by-position (higher-order `filter`/`exists` — codegen'd, no
    * explode of the token stream). */
  def scrubSpanRanges(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 50, minDf: Long = 2L): DataFrame = {
    val ranges = duplicateSpanRanges(docs, idCol, textCol, w, minDf)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__rs"))
    val toks = docs.select(col(idCol).as("doc_id"),
      graft.operators.TextAnalysis.tokens(coalesce(col(textCol), lit("")))
        .as("__toks"))
    // exists() is order-independent, so collect_list's nondeterministic
    // range order cannot change the kept set
    val kept = when(col("__rs").isNull, col("__toks"))
      .otherwise(filter(col("__toks"), (_, i) =>
        !exists(col("__rs"), r =>
          i >= r.getField("span_start") && i < r.getField("span_end"))))
    toks.join(ranges, Seq("doc_id"), "left")
      .withColumn("__kept", kept)
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("clean_text"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** Cross-document PARAGRAPH-level dedup with reassembly — the CCNet
    * dedup step (the public Common Crawl recipe: hash every paragraph,
    * drop all but the corpus-wide FIRST occurrence of each, and keep the
    * document with its surviving paragraphs stitched back together).
    * Unlike [[duplicateSpans]] (overlapping windows, flag-only) and
    * [[graft.operators.TextAnalysis.dedupWithinDoc]] (within one doc),
    * this REMOVES duplicated units across the whole corpus and returns
    * the cleaned text. The synthetic corpus has no newline structure, so
    * the "paragraph" unit is the same non-overlapping `window`-token
    * block dedupWithinDoc uses — real pipelines split on blank lines and
    * plug the same plan in.
    *
    * Keep-first is GLOBAL: one occurrence of each distinct block
    * survives corpus-wide — the minimal (doc_id, idx) — so a
    * within-document repeat dedups exactly like a cross-document one
    * (CCNet's rule). Scale shape: blocks build row-local (the
    * dedupWithinDoc projection); only (8-byte block hash, doc_id, idx)
    * ever crosses the network — the winner pick is a two-phase
    * `min(struct)` aggregate on the hash, kept indices fold to one
    * int-list row per doc, and reassembly is row-local from each doc's
    * OWN token array (the text itself never shuffles; hash equality
    * stands in for block equality, the dedup_minhash_lsh w.h.p.
    * argument — the oracle checks string space). */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 3): DataFrame = {
    // No materialized block ARRAY anywhere: the explode runs over a cheap
    // int sequence and each block string is sliced from the doc's own
    // token array AFTER the Generate — so InferFiltersFromGenerate's
    // pre-explode guard re-evaluates only `sequence(0, n_segs-1)`, not
    // the whole tokenize/slice chain (the spanCorrupt re-inlining
    // lesson; the ss-array spelling measured 3.76 s vs 0.73 at sf0.1).
    val base = docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_segs",
        ceil(col("n").cast("double") / window).cast("long"))
    def blk(idx: Column): Column =
      array_join(slice(col("toks"), (idx * window + 1).cast("int"),
        lit(window)), " ")
    val occ = base
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0L), col("n_segs") - 1)))
      .select(col("doc_id"), col("col").as("idx"),
        xxhash64(blk(col("col"))).as("bh"))
    val winners = occ.groupBy("bh")
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"))
    val keptIdx = winners.groupBy("doc_id")
      .agg(sort_array(collect_list(col("idx"))).as("kept"))
    base.join(keptIdx, Seq("doc_id"), "left")
      .withColumn("kept",
        coalesce(col("kept"), array().cast("array<long>")))
      .select(col("doc_id"),
        array_join(transform(col("kept"), i => blk(i)), " ")
          .as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"),
        col("n_segs"))
      .select(col("doc_id"), col("clean_text"), col("n_kept"),
        (col("n_segs") - col("n_kept")).as("n_dropped"))
  }

  /** CORRECTNESS instantiation: 3-token blocks — 1 756 of the sf0.01
    * corpus's 9 216 aligned blocks are corpus-wide repeats, so the cut
    * binds broadly without hollowing documents out (window 2 would drop
    * 93% of all blocks on this 40-word vocabulary). */
  def paragraphDedupDocs(spark: SparkSession, dir: String): DataFrame =
    dedupParagraphs(Tables.load(spark, dir, "documents"), "doc_id", "text")

  /** Benchmark decontamination — the n-gram-overlap scan every public
    * training-data pipeline runs before training (remove documents that
    * contain evaluation-set text, so benchmark scores measure
    * generalization, not memorization): flag each corpus document that
    * shares at least one word `n`-gram with any document of `evalSet`,
    * with the count of distinct shared grams.
    *
    * Scale shape (100 TB corpus, bounded eval set): gram identity is the
    * single-pass codegen `shingle_hashes` kernel — no per-gram string is
    * ever built (the string-transform spelling measured 3.6 s vs ~1 s at
    * sf0.1). Eval grams reduce to DISTINCT 8-byte keys — a small set by
    * contract (eval suites are fixed) that AQE broadcasts; corpus grams
    * are a row-local per-doc-distinct explode, and only (doc_id, 8-byte
    * hash) ever leaves the scan — the text body never crosses the
    * network. The hit count is a two-phase aggregate, one row per
    * CONTAMINATED doc. Hash equality stands in for gram equality (64-bit
    * collisions are negligible; the oracle checks the string-space ground
    * truth, same w.h.p. argument as dedup_minhash_lsh). */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val evalGrams = evalSet
      .select(explode(array_distinct(shingleHashes(col(textCol), n))).as("gh"))
      .distinct()
    corpus
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingleHashes(col(textCol), n))).as("gh"))
      .join(evalGrams, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[decontaminate]] for the eval-set size regime where the gram set
    * CANNOT broadcast (contamination blocklists union every public
    * benchmark plus web-overlap grams — billions of keys at production
    * scale): the grams join degrades to a shuffle join, and what crosses
    * the exchange is the full corpus-gram explosion — roughly the token
    * count of 100 TB of text. A bloom filter over the eval grams (one
    * bounded sketch, numBits/8 bytes regardless of eval rows — the
    * [[BloomJoin]] device, storing the already-64-bit shingle hashes
    * directly) probes scan-side and drops ~every gram of every CLEAN
    * document before the shuffle, so the exchange carries only
    * (contaminated + false-positive) grams. False positives are removed
    * by the exact join that follows; false negatives cannot occur — the
    * result is ROW-IDENTICAL to [[decontaminate]] for any bloom sizing. */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8,
      expectedItems: Long = 4000000L, numBits: Long = 33554432L): DataFrame = {
    val evalGrams = evalSet
      .select(explode(array_distinct(shingleHashes(col(textCol), n))).as("gh"))
      .distinct()
    val bf = BloomJoin.buildBloomLongs(evalGrams, "gh", expectedItems, numBits)
    corpus
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingleHashes(col(textCol), n))).as("gh"))
      .filter(BloomJoin.mightContainLong(bf, col("gh")))
      .join(evalGrams, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** FRACTIONAL contamination scoring — the monitor form of
    * [[decontaminate]] (the published n-gram-overlap decontamination
    * recipe reports and thresholds a PER-DOCUMENT overlap fraction, not
    * a boolean): for every document, the share of its distinct w-token
    * windows that appear in the eval-set window set, plus the keep
    * verdict at `tau`. A document a benchmark QUOTES (high fraction)
    * and a document that merely shares one idiom (one window in
    * hundreds) are different curation decisions — the boolean operator
    * can't tell them apart.
    *
    * Scale shape: ONE corpus scan — the shingle-hash kernel runs once
    * per document, `n_grams` is a row-local `size` over the same gram
    * array the explosion consumes, and hit counting is a LEFT join of
    * the exploded grams against the eval-gram set summed per
    * (doc_id, n_grams) group (zero-hit and zero-gram documents survive
    * via explode_outer + the null-miss sum, so no second totals pass is
    * needed). The join strategy is deliberately LEFT TO AQE — the
    * [[decontaminate]] rule: eval suites are bounded by contract and
    * broadcast at runtime size, but the set is unbounded by CODE, so a
    * forced hint would OOM on a blocklist-sized eval side where the
    * optimizer-chosen join degrades gracefully (and
    * [[decontaminateBloom]] is the scale path). The keep flag compares
    * the exact unrounded ratio
    * (integer/integer — bit-identical cross-engine); the reported
    * fraction is 6-dp display rounding. */
  def contamFraction(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8, tau: Double = 0.05): DataFrame = {
    val evalGrams = evalSet
      .select(explode(array_distinct(shingleHashes(col(textCol), n))).as("gh"))
      .distinct()
    val grams = corpus.select(col(idCol).as("doc_id"),
      array_distinct(shingleHashes(col(textCol), n)).as("grams"))
    val counted = grams
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode_outer(col("grams")).as("gh"))
      .join(evalGrams.withColumn("hit", lit(1L)), Seq("gh"), "left_outer")
      .groupBy("doc_id", "n_grams")
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
    val ratio = col("n_hits").cast("double") / col("n_grams").cast("double")
    counted.select(col("doc_id"), col("n_grams"), col("n_hits"),
      round(ratio, 6).as("frac"),
      (ratio <= lit(tau)).as("keep"))
  }

  /** CORRECTNESS instantiation over the planted fixture (same corpus
    * and eval split as `txt_decontam`). */
  def contamFracDocs(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, evalSet) = decontamFixture(spark, dir)
    contamFraction(corpus, evalSet, "doc_id", "text")
  }

  /** SURGICAL decontamination — the curation action the flag/fraction
    * scans ([[decontaminate]]/[[contamFraction]]) stop short of: instead
    * of dropping a document that QUOTES a benchmark, remove just the
    * quoted windows and keep the rest. For every corpus document, every
    * token covered by any w-token window appearing in the eval set is
    * cut, and the survivors are stitched back in order (tokenizer-
    * canonical text, the [[dedupParagraphs]] reassembly convention).
    * Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY doc —
    * clean docs pass through with n_removed = 0.
    *
    * Scale shape: eval windows reduce to DISTINCT 8-byte hashes; the
    * match-probe join strategy is deliberately LEFT TO AQE (the
    * [[contamFraction]] rule: eval suites are bounded by CONTRACT and
    * broadcast at runtime size, but the set is unbounded by CODE — a
    * forced hint OOMs the driver on a blocklist-sized eval side where
    * the optimizer-chosen join degrades gracefully to a shuffled
    * equi-join, and [[decontaminateBloom]] is the scale path for that
    * regime). The corpus side is one pinned (tokens, positional window
    * hashes) projection feeding the match probe and the row-local
    * rewrite — only (doc_id, pos) pairs of MATCHING windows aggregate
    * (contaminated docs only), and the rewrite filters each doc's own
    * token array against its bounded match-position list. Text never
    * shuffles. Hash-for-gram
    * equality is the usual w.h.p. argument; the oracle checks string
    * space. Short docs (< w tokens) carry the kernel's single
    * whole-text window — a match covers every token, i.e. a sub-window
    * verbatim eval doc is scrubbed entirely. */
  def decontaminateScrub(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, w: Int = 8): DataFrame = {
    val evalGrams = evalSet
      .select(explode(array_distinct(shingleHashes(col(textCol), w))).as("wh"))
      .distinct()
    val base = corpus.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"),
      shingleHashes(col(textCol), w).as("whs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val matches = base
      .select(col("doc_id"), posexplode(col("whs")))
      .toDF("doc_id", "pos", "wh")
      .join(evalGrams, "wh")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("ps"))
    val kept = filter(col("toks"), (t, i) =>
      !exists(col("ps2"), p => i >= p && i <= p + lit(w - 1)))
    val out = base.join(matches, Seq("doc_id"), "left_outer")
      .withColumn("ps2",
        coalesce(col("ps"), typedlit(Array.empty[Int])))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(kept)).as("n_removed"),
        array_join(kept, " ").as("clean_text"))
    materializeAndRelease(out, base)
  }

  /** CORRECTNESS instantiation over the planted fixture: the
    * contaminated docs (eval text appended) come back with exactly the
    * appended windows cut. */
  def decontamScrubDocs(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, evalSet) = decontamFixture(spark, dir)
    decontaminateScrub(corpus, evalSet, "doc_id", "text")
  }

  /** The planted decontamination fixture: eval set = every 37th document;
    * corpus = the rest, where docs with doc_id % 5 = 1 are contaminated
    * by construction (one of the first 14 eval texts appended, selected
    * by doc_id % 14 — the id spacing makes (doc_id % 14)·37 a valid eval
    * id at every scale factor). The synthetic corpus has no natural
    * 8-gram overlap, so without planting the scan would be vacuously
    * green. */
  private def decontamFixture(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") % 37 === 0)
    val base = docs.filter(col("doc_id") % 37 =!= 0)
    val planted = base.filter(col("doc_id") % 5 === 1)
      .join(evalSet.select((col("doc_id") / 37).cast("long").as("ei"),
        col("text").as("etext")), pmod(col("doc_id"), lit(14)) === col("ei"))
      .select(col("doc_id"), concat(col("text"), lit(" "), col("etext")).as("text"))
    (base.filter(col("doc_id") % 5 =!= 1).unionByName(planted), evalSet)
  }

  /** CORRECTNESS instantiation over the planted fixture. */
  def decontamDocs(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, evalSet) = decontamFixture(spark, dir)
    decontaminate(corpus, evalSet, "doc_id", "text", n = 8)
  }

  /** CORRECTNESS instantiation of the bloom-gated path — same fixture,
    * same oracle as `txt_decontam` (the bloom is exact by construction).
    * The sketch is sized to the fixture's gram count (~10⁶ at sf0.1) —
    * the sketch literal rides the probe plan into codegen, so an
    * oversized default (4 MiB) costs more in plan compile than it saves
    * in pruning at test scale. */
  def decontamDocsBloom(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, evalSet) = decontamFixture(spark, dir)
    decontaminateBloom(corpus, evalSet, "doc_id", "text", n = 8,
      expectedItems = 1000000L, numBits = 4194304L)
  }

  /** documents ∪ perturbed copies of every 10th doc (one appended token,
    * shifted id space) — the planted near-duplicate corpus used by the
    * near-dup CORRECTNESS entries, mirrored exactly in the oracle SQL.
    * The synthetic corpus has no natural near-dups, so without planting
    * the pipelines would be vacuously green (round-2 feedback). */
  def plantedNearDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
  }

  // --------------------------------------------------------------------
  // Soft deduplication — frequency-weighted reweighting instead of
  // removal (the SoftDeDup recipe, He et al., ACL 2024: common text is
  // DOWN-WEIGHTED in the sampling distribution rather than dropped, so
  // borderline near-dups contribute fractionally instead of riding a
  // hard keep/drop cliff).
  // --------------------------------------------------------------------

  /** Per-document sampling weight from n-gram commonness: a document's
    * `commonness` is the mean corpus document-frequency of its DISTINCT
    * word n-grams, and its weight is the reciprocal — a unique document
    * (every gram df=1) weighs 1.0, a verbatim duplicate pair weighs ~0.5
    * each, N copies ~1/N each, so duplicated content contributes ~once in
    * expectation no matter how many times it was crawled.
    *
    * Scale shape (the property hard dedup lacks): NO pair enumeration at
    * all — cost is two aggregates over the exploded (doc_id, 8-byte gram
    * hash) projection, both map-side combinable, keys are longs, the text
    * body never crosses the network. The gram projection is computed once
    * (persisted; it feeds the df aggregate and the probe side), and the
    * df join's build side arrives already hash-partitioned on `gh` from
    * its own aggregate — the probe-side exchange is the plan's only
    * data-sized shuffle. Commonness divides the EXACT integer df sum by
    * the gram count (bit-identical cross-engine; 6-dp rounding is
    * display only). */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      array_distinct(shingleHashes(col(textCol), n)).as("grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = grams.select(col("doc_id"), explode(col("grams")).as("gh"))
    val out = softWeightsFromDf(ex, ex.groupBy("gh").agg(count(lit(1)).as("df")))
    materializeAndRelease(out, grams)
  }

  /** The weight tail shared by the batch, landed, and streamed forms:
    * join each document's exploded grams to a (gh, df) relation and
    * reduce to (doc_id, n_grams, commonness, weight). */
  private[graft] def softWeightsFromDf(ex: DataFrame, dfreq: DataFrame): DataFrame = {
    val c = sum("df").cast("double") / count(lit(1))
    ex.join(dfreq, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), c.as("c"))
      .select(col("doc_id"), col("n_grams"),
        round(col("c"), 6).as("commonness"),
        round(lit(1.0) / col("c"), 6).as("weight"))
  }

  /** CORRECTNESS instantiation over the planted near-dup corpus (the one
    * fixture where weights are non-trivial: every planted copy shares all
    * but ~n grams with its original, so both land near weight 0.5 while
    * unique docs stay at 1.0). */
  def softDedupDocs(spark: SparkSession, dir: String): DataFrame =
    softDedupWeights(plantedNearDocs(spark, dir), "doc_id", "text")

  /** Land the corpus gram→df relation as a catalog table bucketed on
    * `gh`, so steady-state weight serves pay the corpus-wide df aggregate
    * ONCE: every later serve joins its documents' grams against the
    * landed side with no index-side Exchange (the [[landNearDupIndex]]
    * probe-alignment discipline applied to the df relation). */
  def landGramDfIndex(corpus: DataFrame, idCol: String, textCol: String,
      prefix: String, path: String, n: Int = 3, buckets: Int = 32): Unit =
    graft.sources.Layout.writeBucketed(
      corpus.select(explode(array_distinct(
          shingleHashes(col(textCol), n))).as("gh"))
        .groupBy("gh").agg(count(lit(1)).as("df")),
      s"${prefix}_df", Seq("gh"), Seq("gh"), buckets, s"$path/df")

  /** [[softDedupDocs]] served off the landed df table — same corpus, same
    * answer (shared oracle); the corpus-wide aggregate happens at land
    * time only. Lands on first call per corpus dir (the memoized-training
    * house contract: an in-place corpus change requires dropping the
    * `<prefix>_*` tables). */
  def softDedupDocsSteady(spark: SparkSession, dir: String): DataFrame = {
    val prefix = Landing.key("softdf_steady", dir)
    Landing.ensureLanded(spark, prefix, Seq(s"${prefix}_df")) { path =>
      landGramDfIndex(plantedNearDocs(spark, dir), "doc_id", "text",
        prefix, path)
    }
    val ex = plantedNearDocs(spark, dir).select(col("doc_id"),
      explode(array_distinct(shingleHashes(col("text"), 3))).as("gh"))
    softWeightsFromDf(ex, spark.table(s"${prefix}_df"))
  }

  /** First-occurrence novelty scoring — the arrival-order companion of
    * [[softDedupWeights]]: for each document, the fraction of its
    * distinct word n-grams that no EARLIER document (smaller `idCol` —
    * the corpus's arrival/crawl order) contains. A fresh document scores
    * 1.0, a verbatim re-crawl 0.0 (only its own grams, all seen), a
    * template page with a new body sits in between — the per-document
    * "how much of this have we already got" signal the data-pruning
    * literature cuts on, where df-based weights can't distinguish the
    * FIRST copy from the last.
    *
    * Scale shape: identical to the soft-dedup plan with `min(doc_id)`
    * in place of `count` — two map-side-combinable aggregates over the
    * (doc_id, 8-byte gram hash) explosion, no pair enumeration, text
    * never shuffles. Novelty compares the exact integer counts
    * (bit-identical cross-engine; 6-dp rounding is display only). */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      array_distinct(shingleHashes(col(textCol), n)).as("grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = grams.select(col("doc_id"), explode(col("grams")).as("gh"))
    val firstSeen = ex.groupBy("gh").agg(min("doc_id").as("first_id"))
    val out = ex.join(firstSeen, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
    materializeAndRelease(out, grams)
  }

  /** CORRECTNESS instantiation over the planted near-dup corpus: every
    * planted copy arrives AFTER its original (shifted id space), so the
    * copies score near 0 (only the appended-token windows are new) while
    * their originals keep the score the copy would otherwise steal —
    * exactly the asymmetry df-weights can't express. */
  def noveltyDocs(spark: SparkSession, dir: String): DataFrame =
    noveltyScores(plantedNearDocs(spark, dir), "doc_id", "text")

  // --------------------------------------------------------------------
  // Near-duplicate decontamination — the MinHash-LSH sibling of
  // [[decontaminate]]: eval contamination that was paraphrased, trimmed,
  // or lightly edited shares most-but-not-all n-grams, so the exact-gram
  // scan under-reports it; the published web-corpus recipes therefore
  // ALSO run a near-dup pass of the training corpus against the eval
  // suites.
  // --------------------------------------------------------------------

  /** Every (corpus doc, eval doc) pair with word-n-gram Jaccard ≥
    * `threshold`, found by the [[minhashLshPairs]] machinery restricted
    * to CROSS-side candidates: both sides shingle → sign → band, the
    * band table equi-join pairs corpus with eval only, and exact Jaccard
    * over the two shingle sets verifies (no false positives; recall is
    * the S-curve's w.h.p. guarantee, same as the self-join form).
    *
    * Scale shape: the eval side is bounded by contract (eval suites are
    * fixed), so AQE broadcasts its banded table at runtime size and the
    * corpus-side cost is one scan + band explosion — (doc_id, band,
    * 8-byte hash) rows, never text. The hints are deliberately omitted
    * (the [[contamFraction]] rule): the eval set is unbounded by CODE,
    * and a forced broadcast would OOM on a blocklist-sized suite where
    * the optimizer-chosen join degrades gracefully. Candidate
    * verification joins |candidates| rows back to the two shingle-set
    * lookups, exactly the [[minhashLshPairs]] shape. */
  def nearDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, evalIdCol: String,
      n: Int = 3, k: Int = 128, bands: Int = 32,
      seed: Long = 42L, threshold: Double = 0.7): DataFrame = {
    def shingled(d: DataFrame, id: String, out: String): DataFrame =
      d.select(col(id).as(out),
        array_distinct(shingleHashes(col(textCol), n)).as("sh"))
    def banded(sh: DataFrame, id: String): DataFrame =
      bandHashTable(
        sh.withColumnRenamed(id, "doc_id")
          .withColumn("sig", GraftFunctions.minhashSig(col("sh"), k, seed)),
        k, bands).withColumnRenamed("doc_id", id)
    val cSh = shingled(corpus, idCol, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eSh = shingled(evalSet, evalIdCol, "eval_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = banded(cSh, "doc_id")
      .join(banded(eSh, "eval_id"), Seq("band", "bh"))
      .select("doc_id", "eval_id").distinct()
    val pairs = cand
      .join(cSh.select(col("doc_id"), col("sh").as("sh_c"),
        size(col("sh")).as("sz_c")), "doc_id")
      .join(eSh.select(col("eval_id"), col("sh").as("sh_e"),
        size(col("sh")).as("sz_e")), "eval_id")
      .withColumn("inter",
        size(array_intersect(col("sh_c"), col("sh_e"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("sz_c") + col("sz_e") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("eval_id"), round(col("jaccard"), 6).as("jaccard"))
    // materialize BEFORE releasing either cache (the eval side feeds two
    // branches too — banding and verification)
    val out = materializeAndRelease(pairs, cSh)
    eSh.unpersist()
    out
  }

  /** The planted near-contamination fixture: eval set = every 37th
    * document's text with one appended token (a LIGHT EDIT of training
    * text — exactly what the exact-gram scan misses), corpus = the
    * planted near-dup corpus. Ground truth is the exact cross-side
    * Jaccard (SQL-expressible; the LSH path recalls it w.h.p., the
    * [[minhashLshPairs]] argument). */
  def nearDecontamDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("eval_id"),
        concat(col("text"), lit(" evalvariant")).as("text"))
    nearDecontaminate(plantedNearDocs(spark, dir), evalSet,
      "doc_id", "text", "eval_id")
  }
}
