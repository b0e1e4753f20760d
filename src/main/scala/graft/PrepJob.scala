package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Packing, Relational, TextAnalysis}
import graft.sources.Tables

/** The end-to-end training-data preparation pipeline — the composition the
  * individual operators exist for, runnable as one job:
  *
  *   documents → quality filter (keep) → exact dedup (fingerprint,
  *   keep-smallest-id) → near-dup removal (banded LSH, keep-smallest-id)
  *   → Parquet partitioned by lang.
  *
  * Every stage is one of the independently oracle-checked operators; this
  * main only composes them. Scale shape: two scans of the corpus text
  * (quality+fingerprint fused scan-side; LSH over the already-shrunk
  * survivor set), shuffles only on 8-byte keys (fingerprint, band
  * buckets), output partitioned so downstream reads prune by language.
  */
object PrepJob {

  /** The pipeline as a DataFrame (no side effects — tests and callers
    * compose further). */
  def prepare(spark: SparkSession, dir: String): DataFrame = {
    val keepIds = TextAnalysis.qualityFilter(spark, dir)
      .filter(col("keep")).select("doc_id")
    val docs = Tables.load(spark, dir, "documents")
      .join(keepIds, Seq("doc_id"), "left_semi")

    // exact dedup: one row per content hash, smallest doc_id wins — min_by
    // keeps the whole row through a two-phase aggregate. The key is the
    // 128-bit MD5 of the text, NOT the 30-bit polynomial doc_fingerprint:
    // mod-1e9+7 keyspace collides distinct documents from ~45k docs up
    // (birthday bound), and min_by would silently drop one — data loss at
    // corpus scale. The digest is 16 bytes, so the shuffle still never
    // moves the text body.
    val cols = docs.columns
    val exact = docs
      .withColumn("_md5", md5(col("text").cast("binary")))
      .groupBy("_md5")
      .agg(min_by(struct(cols.toIndexedSeq.map(col): _*), col("doc_id")).as("r"))
      .select(cols.toIndexedSeq.map(c => col(s"r.$c")): _*)

    Dedup.dropNearDuplicates(exact, "doc_id", "text")
  }

  /** The full training-data shape: [[prepare]]'s surviving documents →
    * overlapping token-window chunks → first-fit packs of `budget` tokens.
    * Output is the training manifest: one row per chunk with its text and
    * its (pack_id, pack_pos) slot. The pack assignment (integer columns
    * only) joins back to the chunk text on (doc_id, chunk_id) — an
    * equi-join both sides of which are co-keyed, so at scale this is one
    * ordinary shuffle, and the heavy text column never rides through the
    * packing sort. */
  def prepareChunksPacked(spark: SparkSession, dir: String,
      chunk: Int = 32, stride: Int = 24,
      budget: Int = 256, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.col
    // chunks feeds BOTH the packing input and the manifest join: without a
    // materialization the whole prepare→chunk pipeline (corpus scan,
    // quality semi-join, md5 dedup shuffle, LSH anti-join, posexplode)
    // executes twice.
    val chunks = pin(TextAnalysis.chunkDocsOf(prepare(spark, dir), chunk, stride))
    val packed = Packing.firstFitPack(chunks, budget, shards).toDF()
    packed
      .join(chunks.select("doc_id", "chunk_id", "chunk_text"), Seq("doc_id", "chunk_id"))
      .select(col("pack_id"), col("pack_pos"), col("doc_id"), col("chunk_id"),
        col("n_tokens"), col("chunk_text"))
  }

  /** [[prepare]] with a final α-temperature language rebalance
    * ([[TextAnalysis.temperatureMix]]): over-represented languages are
    * deterministically thinned AFTER dedup/quality (rates computed on the
    * clean corpus, so junk and duplicates don't inflate a language's
    * share). One extra L-row broadcast + scan-side filter. */
  def prepareMixed(spark: SparkSession, dir: String, alpha: Double = 0.5): DataFrame = {
    val base = pin(prepare(spark, dir))
    val kept = TextAnalysis.temperatureMix(base, "lang", "doc_id", alpha)
      .select("doc_id")
    base.join(kept, Seq("doc_id"), "left_semi")
  }

  /** Materialize a pipeline stage that feeds MORE THAN ONE downstream
    * branch: without it Spark re-executes the whole dedup+quality
    * pipeline once per branch (the self-join shapes below reference
    * `prepare` twice). Same durability policy as prepareChunksPacked. */
  private def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** [[prepare]] plus the corpus-hygiene passes a production pipeline
    * runs before anything lands: benchmark decontamination (drop every
    * document sharing an 8-gram with `evalSet` —
    * [[Dedup.decontaminate]]) and in-line PII redaction
    * ([[TextAnalysis.redactPii]] — a scan-side rewrite of the text
    * column, no extra pass). The decontamination adds one left-anti join
    * against the (small) contaminated-id set; everything else rides the
    * scans [[prepare]] already does. */
  def prepareClean(spark: SparkSession, dir: String, evalSet: DataFrame,
      n: Int = 8): DataFrame = {
    val base = pin(prepare(spark, dir))
    val contaminated = Dedup.decontaminate(base, evalSet, "doc_id", "text", n)
      .select("doc_id")
    base.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("text", TextAnalysis.redactPii(col("text")))
  }

  /** [[prepareClean]] followed by the OPTIONAL domain-balance pair and
    * the α-temperature language rebalance — the document set every
    * training artifact downstream is built from. The balance stages run
    * in the published RefinedWeb order (document cap first, then the
    * token allowance, then the language mix — each cut sees only what
    * the previous admitted) and default OFF (`sourceCap`/`tokenBudget`
    * = 0) so the established prep laws are unchanged unless a caller
    * asks for balance. Public so tests (and callers that want
    * documents, not shards) can hold the exact intermediate
    * [[trainingShards]] consumes. */
  def cleanMixed(spark: SparkSession, dir: String, evalSet: DataFrame,
      alpha: Double = 0.5, n: Int = 8,
      sourceCap: Int = 0, tokenBudget: Long = 0L): DataFrame = {
    val base = pin(prepareClean(spark, dir, evalSet, n))
    val capped =
      if (sourceCap > 0)
        base.join(TextAnalysis.sourceCap(base, sourceCap).select("doc_id"),
          Seq("doc_id"), "left_semi")
      else base
    val budgeted =
      if (tokenBudget > 0)
        capped.join(
          TextAnalysis.budgetCap(capped, "doc_id", "text", "source",
            tokenBudget).select("doc_id"),
          Seq("doc_id"), "left_semi")
      else capped
    val kept = TextAnalysis.temperatureMix(budgeted, "lang", "doc_id", alpha)
      .select("doc_id")
    budgeted.join(kept, Seq("doc_id"), "left_semi")
  }

  /** THE end-to-end "make training shards" artifact — the composition the
    * whole operator library exists for, as one job:
    *
    *   quality → exact dedup → near-dup removal → decontamination → PII
    *   redaction ([[prepareClean]]) → α-temperature language mix →
    *   token-window chunking → first-fit sequence packing → deterministic
    *   epoch shuffle of the PACKS → round-robin shard assignment.
    *
    * Output: one row per packed chunk with its epoch-order coordinates —
    * `(shard, pos, pack_id, pack_pos, doc_id, chunk_id, n_tokens,
    * chunk_text)`. `pos` is the pack's exact global position in the
    * epoch-`seed` order (a pure function of (seed, pack_id) — reruns and
    * other engines reproduce it); `shard = pos mod outShards`, so shards
    * are balanced to ±1 pack BY CONSTRUCTION, and a loader reading shard
    * files in `pos` order interleaves the epoch sequence round-robin
    * across `outShards` parallel readers.
    *
    * Scale shape: every stage is one of the independently oracle-checked
    * operators; the only additions are the pack-id shuffle join that
    * attaches `pos` (equi-join on an 8-byte key — AQE broadcasts it while
    * the pack table is small, degrades to a shuffle join at 100 TB) and
    * the round-robin projection. The chunk text rides through exactly two
    * narrow joins (manifest + order), never through the packing sort or
    * the shuffle-rank window. */
  def trainingShards(spark: SparkSession, dir: String, evalSet: DataFrame,
      alpha: Double = 0.5, chunk: Int = 32, stride: Int = 24,
      budget: Int = 256, packShards: Int = 8,
      epochSeed: String = "epoch0", outShards: Int = 8): DataFrame = {
    require(outShards > 0, "outShards must be positive")
    val mixed = cleanMixed(spark, dir, evalSet, alpha)
    val chunks = pin(TextAnalysis.chunkDocsOf(mixed, chunk, stride))
    val packed = Packing.firstFitPack(chunks, budget, packShards).toDF()
    // manifest feeds BOTH the epoch-order build (pack_id distinct) and the
    // final join — pin it so the packing mapPartitions runs once.
    val manifest = pin(packed
      .join(chunks.select("doc_id", "chunk_id", "chunk_text"),
        Seq("doc_id", "chunk_id")))
    val order = Relational.deterministicShuffle(
      manifest.select("pack_id").distinct(), "pack_id", epochSeed)
    manifest.join(order, Seq("pack_id"))
      .select(
        pmod(col("pos"), lit(outShards)).cast("int").as("shard"),
        col("pos"), col("pack_id"), col("pack_pos"),
        col("doc_id"), col("chunk_id"), col("n_tokens"), col("chunk_text"))
  }

  /** Land [[trainingShards]] partitioned by shard, each shard's rows
    * sorted by (pos, pack_pos) so a sequential read of a shard file IS
    * the epoch order. Returns the landed row count. */
  def runFull(spark: SparkSession, dir: String, evalSet: DataFrame,
      outPath: String, alpha: Double = 0.5,
      chunk: Int = 32, stride: Int = 24, budget: Int = 256,
      packShards: Int = 8, epochSeed: String = "epoch0",
      outShards: Int = 8): Long = {
    trainingShards(spark, dir, evalSet, alpha, chunk, stride, budget,
        packShards, epochSeed, outShards)
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "pos", "pack_pos")
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)
    Tables.read(spark, outPath).count()
  }

  /** MULTIMODAL training shards — the [[trainingShards]] tail over the
    * interleaved-sample manifests: [[graft.operators.Multimodal
    * .packedSamples]]' unified token+patch packs, epoch-ordered by the
    * same deterministic shuffle of PACK ids, round-robin sharded, landed
    * with each shard's rows in epoch order (a loader reading shard files
    * sequentially replays the epoch round-robin across readers — the
    * runFull contract, unchanged). Payload bytes appear nowhere: the
    * landed manifest carries sample coordinates and costs; the trainer
    * fetches media by id at consumption time. */
  def multimodalShards(spark: SparkSession, dir: String,
      epochSeed: String = "epoch0", outShards: Int = 8): DataFrame = {
    require(outShards > 0, "outShards must be positive")
    val packed = pin(graft.operators.Multimodal.packedSamples(spark, dir))
    val order = Relational.deterministicShuffle(
      packed.select("pack_id").distinct(), "pack_id", epochSeed)
    packed.join(order, Seq("pack_id"))
      .select(
        pmod(col("pos"), lit(outShards)).cast("int").as("shard"),
        col("pos"), col("pack_id"), col("pack_pos"),
        col("doc_id"), col("cost"))
  }

  /** Land [[multimodalShards]] partitioned by shard, rows in epoch
    * order. Returns the landed row count. */
  def runMultimodal(spark: SparkSession, dir: String, outPath: String,
      epochSeed: String = "epoch0", outShards: Int = 8): Long = {
    multimodalShards(spark, dir, epochSeed, outShards)
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "pos", "pack_pos")
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)
    Tables.read(spark, outPath).count()
  }

  /** Run the pipeline and land it partitioned by language. Returns the
    * number of surviving documents. */
  def run(spark: SparkSession, dir: String, outPath: String): Long = {
    val out = prepare(spark, dir)
    out.write.mode("overwrite").partitionBy("lang").parquet(outPath)
    Tables.read(spark, outPath).count()
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("GRAFT_PREP_OUT", "/tmp/graft_prep")
    val spark = Sessions.local("graft-prep")
    try println(s"prepared ${run(spark, dir, out)} documents → $out")
    finally spark.stop()
  }
}
