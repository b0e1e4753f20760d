package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Landing

/** Sequence packing — greedy first-fit of chunk token counts into
  * fixed-budget bins, the step between [[TextAnalysis.chunkDocs]] and a
  * trainer that wants ~budget-token examples with minimal padding.
  *
  * First-fit is inherently sequential (each decision depends on the
  * running fill), so there is no window-function closed form — this is the
  * one operator family where `mapPartitions` is the right tool (the
  * custom-operator ladder's last rung, used for genuinely per-partition
  * imperative logic). The scale story is the secondary-sort pattern:
  * one shuffle routes each shard to a partition, an in-partition
  * (spillable) sort orders it, and a single streaming pass assigns packs —
  * state is three integers, never the shard's rows. Shards are
  * hash(doc_id) so they stay balanced at any corpus size; packing is
  * deterministic per shard regardless of parallelism.
  */
object Packing {

  case class Chunk(shard: Int, doc_id: Long, chunk_id: Int, n_tokens: Int)
  case class Packed(shard: Int, doc_id: Long, chunk_id: Int, n_tokens: Int,
      pack_id: Long, pack_pos: Int)

  /** Pack `chunks` (doc_id, chunk_id, n_chunk_tokens) into bins of at most
    * `budget` tokens, first-fit in (doc_id, chunk_id) order within
    * `shards` hash shards. A single chunk larger than the budget gets its
    * own (overflowing) bin rather than being dropped. pack_id is unique
    * across shards (shard in the high 32 bits). */
  def firstFitPack(chunks: DataFrame, budget: Int, shards: Int = 32): Dataset[Packed] = {
    require(budget > 0 && shards > 0)
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      .select(
        pmod(col("doc_id"), lit(shards)).cast("int").as("shard"),
        col("doc_id"),
        col("chunk_id").cast("int").as("chunk_id"),
        col("n_chunk_tokens").cast("int").as("n_tokens"))
      .as[Chunk]
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id", "chunk_id")
      .mapPartitions { it =>
        // a partition holds whole shards (hash-routed), sorted by shard
        // first — reset the running state at every shard boundary
        var curShard = -1
        var seq = 0L; var fill = 0; var pos = 0
        it.map { c =>
          if (c.shard != curShard) {
            curShard = c.shard; seq = 0L; fill = 0; pos = 0
          } else if (fill + c.n_tokens > budget && fill > 0) {
            seq += 1; fill = 0; pos = 0
          }
          fill += c.n_tokens
          val out = Packed(c.shard, c.doc_id, c.chunk_id, c.n_tokens,
            (c.shard.toLong << 32) | seq, pos)
          pos += 1
          out
        }
      }
  }

  /** The testdata entry: chunk `documents` (32-token windows, stride 24)
    * and pack into 256-token bins over 8 shards. */
  def packedChunks(spark: SparkSession, dir: String,
      budget: Int = 256, shards: Int = 8): DataFrame = {
    import spark.implicits._
    firstFitPack(TextAnalysis.chunkDocs(spark, dir), budget, shards)
      .toDF()
  }

  /** Length-bucketed batch assembly — the STATIC-SHAPE batching recipe
    * ([[firstFitPack]]'s complement: packing CONCATENATES variable docs
    * into one sequence; bucketed batching keeps docs separate and groups
    * same-padded-length docs so a batch is one rectangular tensor).
    * This is the published pad-to-multiple + bucket-by-length sampler
    * every seq2seq/encoder trainer ships (fairseq's batch_by_size /
    * the XLA fixed-shape requirement): pad each doc's token count up to
    * the next multiple of `pad` (the bucket), fill batches of
    * ⌊budget / bucket⌋ rows (min 1 — an over-budget outlier still trains,
    * alone), and report per-batch padding waste — the metric the recipe
    * exists to minimize.
    *
    * Batch composition within a bucket is deterministic but otherwise
    * arbitrary (every member pads to the same length, so ANY fixed order
    * yields identical waste); the fixed order is (salt, doc_id). The
    * per-bucket sequential index is NOT a global per-bucket window — at
    * corpus scale a `PARTITION BY bucket` window funnels each bucket
    * through one task (the handful of length classes would be ~100
    * partitions for 100 TB of rows). Instead the epoch-shuffle offset
    * pattern ([[Relational]]'s bucketed reshuffle): rank within
    * (bucket, salt) slices — `salts`× the parallelism — then lift to the
    * bucket-global rank by adding the salt-ascending running offset, a
    * bounded |buckets|·salts-row aggregate that re-enters the plan
    * broadcast. The oracle replays the identical order as a plain
    * per-bucket window (fine at oracle scale).
    *
    * Output: one row per assembled batch — (bucket_len, batch_id,
    * n_rows, sum_tokens, padded_tokens, pad_frac), all-integer except
    * the exact-ratio fraction. */
  def lengthBucketBatches(docs: DataFrame, idCol: String, textCol: String,
      pad: Int = 16, budget: Int = 512, salts: Int = 32): DataFrame = {
    require(pad > 0 && budget > 0 && salts > 0)
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.select(
      col(idCol).as("doc_id"),
      greatest(size(TextAnalysis.tokens(coalesce(col(textCol), lit("")))),
        lit(1)).cast("long").as("n_tok"))
      .withColumn("bucket_len",
        (floor((col("n_tok") + lit(pad - 1)) / lit(pad)) * lit(pad)).cast("long"))
      .withColumn("salt", pmod(col("doc_id"), lit(salts.toLong)))
    // rank within the (bucket, salt) slice; slice counts are the bounded
    // collect (≤ |buckets|·salts rows) that lifts it to the bucket rank
    val ranked = keyed.withColumn("rn", row_number().over(
      Window.partitionBy(col("bucket_len"), col("salt"))
        .orderBy(col("doc_id"))))
    val offsets = {
      val w = Window.partitionBy(col("bucket_len")).orderBy(col("salt"))
      keyed.groupBy("bucket_len", "salt").agg(count(lit(1)).as("cnt"))
        .withColumn("off",
          coalesce(sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("bucket_len", "salt", "off")
    }
    val rowsPer = greatest(floor(lit(budget) / col("bucket_len")), lit(1.0))
    ranked
      .join(broadcast(offsets), Seq("bucket_len", "salt"))
      .withColumn("grank", col("off") + col("rn") - 1)
      .withColumn("batch_id", floor(col("grank") / rowsPer).cast("long"))
      .groupBy(col("bucket_len"), col("batch_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_tok")).as("sum_tokens"))
      .withColumn("padded_tokens", col("bucket_len") * col("n_rows"))
      .withColumn("pad_frac",
        (col("padded_tokens") - col("sum_tokens")).cast("double")
          / col("padded_tokens"))
  }

  /** CORRECTNESS instantiation for `txt_batch_buckets`: the documents
    * table, pad-to-16, 512-token batch budget. */
  def bucketBatchesDocs(spark: SparkSession, dir: String): DataFrame =
    lengthBucketBatches(
      graft.sources.Tables.load(spark, dir, "documents"), "doc_id", "text")

  /** CONCAT-AND-CHUNK token-block assembly — the canonical decoder-LM
    * pretraining layout ([[firstFitPack]]'s other complement: first-fit
    * keeps chunks whole and pads the remainder; concat-and-chunk pads
    * NOTHING — documents are concatenated into one global token stream,
    * each followed by `sepTokens` separator slots (the EOS convention),
    * and the stream is cut at fixed `blockSize` boundaries, SPLITTING
    * documents across blocks, so every training block is exactly full).
    * This is the GPT-2/3 data recipe (Brown et al., NeurIPS'20 §2.1:
    * "documents are packed into sequences of 2048 tokens, delimited by a
    * special end-of-text token") and what every Megatron/LLaMA-class
    * loader consumes.
    *
    * The output is the block MANIFEST, not materialized token arrays:
    * one row per (block, document) overlap — (block_id, doc_id, doc_off,
    * block_off, len) — which is simultaneously the loader's gather list
    * and the loss-mask spec (document boundaries within each block).
    * Separator slots are the implicit gaps between consecutive spans.
    *
    * Scale shape: tokenization is a row-local projection (text is read
    * once and NEVER shuffles — only (doc_id, n_tokens) longs move); each
    * document's global start offset is a DISTRIBUTED prefix sum in
    * doc_id order — the id range buckets into `buckets` slices off a
    * 1-row (min, max) aggregate (the broadcast-literal class), bucket
    * offsets take a ≤`buckets`-row window, and each slice running-sums
    * only its own rows (the [[TextAnalysis.budgetMix]] device, keyed by
    * id range instead of hash order because HERE the order is the
    * contract: block contents must be reproducible across runs, engines,
    * and partitionings). The span fan-out is a row-local sequence
    * explode (a doc of n tokens overlaps ⌈n/blockSize⌉+1 blocks at
    * most), so output rows ∝ docs + blocks and no stage is ever
    * corpus-quadratic or single-task. */
  def tokenBlocks(docs: DataFrame, idCol: String, textCol: String,
      blockSize: Int = 128, sepTokens: Int = 1, buckets: Int = 256): DataFrame =
    tokenBlocksFromCounts(docs.select(
      col(idCol).cast("long").as("doc_id"),
      size(TextAnalysis.tokens(coalesce(col(textCol), lit(""))))
        .cast("long").as("n")), blockSize, sepTokens, buckets)

  /** [[tokenBlocks]] over PRE-TOKENIZED (doc_id, n) counts — the entry
    * the steady serve uses: the manifest is a pure function of the count
    * table, so a maintainer that lands token counts as documents arrive
    * (16 bytes/doc — [[graft.streaming.UnifiedIngest]] already does, for
    * the budget family) can re-derive the layout at ANY blockSize
    * without ever re-reading text. At 100 TB that is the difference
    * between re-blocking for a new context length being a metadata job
    * and being a full-corpus scan. */
  def tokenBlocksFromCounts(counts: DataFrame,
      blockSize: Int = 128, sepTokens: Int = 1, buckets: Int = 256): DataFrame = {
    require(blockSize > 0 && sepTokens >= 0 && buckets > 0)
    import org.apache.spark.sql.expressions.Window
    // global prefix sum of (n + sep) in doc_id order, range-bucketed:
    // bucket = the id's position in [min, max] scaled to `buckets` slices
    val stats = counts.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    // integer `div` throughout: `/` on longs is DOUBLE division in Spark
    // SQL, inexact past 2^53 — a 100 TB corpus's token stream is ~10^13,
    // close enough that the layout must not ride float rounding.
    // Divide-by-width rather than multiply-then-divide: the textbook
    // ((id−lo)·buckets) div span overflows long once the id span passes
    // ~2^55 (sparse snowflake-style 64-bit ids), flipping buckets
    // negative. Any monotonic-in-doc_id bucketing yields the SAME final
    // offsets (the two-phase prefix sum telescopes), so only the slice
    // balance — not the answer — rides the formula.
    val based = counts.crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr(s"(doc_id - lo) div (((hi - lo) div ${buckets}L) + 1)"))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = based.groupBy("bucket")
      .agg(sum(col("n") + lit(sepTokens.toLong)).as("bt"))
      .select(col("bucket"),
        coalesce(sum(col("bt")).over(wOff), lit(0L)).as("off"))
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val started = based
      .join(broadcast(offsets), "bucket")
      .withColumn("start", col("off") +
        coalesce(sum(col("n") + lit(sepTokens.toLong)).over(wIn), lit(0L)))
    // row-local span fan-out: the blocks [start, start+n-1] overlaps
    val b = lit(blockSize.toLong)
    started.filter(col("n") >= 1L)
      .withColumn("block_id", explode(sequence(
        expr(s"start div ${blockSize}L"),
        expr(s"(start + n - 1) div ${blockSize}L"))))
      .withColumn("s", greatest(col("start"), col("block_id") * b))
      .withColumn("e", least(col("start") + col("n") - 1,
        col("block_id") * b + b - 1))
      .select(
        col("block_id"),
        col("doc_id"),
        (col("s") - col("start")).as("doc_off"),
        (col("s") - col("block_id") * b).as("block_off"),
        (col("e") - col("s") + 1).as("len"))
  }

  /** CORRECTNESS instantiation for `txt_token_blocks`: the documents
    * table concatenated in doc_id order, 1 EOS slot per document,
    * 128-token blocks. */
  def tokenBlocksDocs(spark: SparkSession, dir: String): DataFrame =
    tokenBlocks(
      graft.sources.Tables.load(spark, dir, "documents"), "doc_id", "text")

  /** STEADY form for `txt_token_blocks_steady`: the manifest served off
    * LANDED per-doc token counts (two id-split generations — the shape a
    * maintainer accumulates as batches arrive), tokenizing nothing at
    * serve time. Shares the batch oracle — landed ≡ direct is the law:
    * the layout is a pure function of the count table, so where the
    * counts came from (one scan or fifty batches) is invisible. */
  def tokenBlocksSteadyDocs(spark: SparkSession, dir: String): DataFrame =
    tokenBlocksFromCounts(
      Landing.ensureHalves(spark, Landing.key("blocks_steady", dir)) { i =>
        graft.sources.Tables.load(spark, dir, "documents")
          .select(col("doc_id").cast("long").as("doc_id"),
            size(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
              .cast("long").as("n"))
          .filter(col("doc_id") % 2 === i)
      })

  /** CURRICULUM-ORDERED training blocks — [[tokenBlocks]] cut along
    * [[TextAnalysis.curriculumOrder]]'s (phase, seq) stream instead of
    * doc_id order: the composition a curriculum pretraining run actually
    * consumes (Bengio et al.'s schedule prescribes the ORDER the trainer
    * reads tokens in, and the trainer reads blocks — so the phase
    * ordering has to survive the concat-and-chunk cut; blocking first
    * and ordering after would interleave phases inside blocks).
    *
    * Composition, not re-derivation: (phase, seq) lifts to one
    * orderable key — gid = phase·(max seq+1) + seq, the phase width off
    * a 1-row aggregate — and [[tokenBlocksFromCounts]] runs verbatim on
    * (gid, n); the real doc_id and phase join back by gid (model-sized,
    * id-only). Every scale property is inherited: the ordering's
    * bucketed rank windows, the layout's bucketed prefix sum, row-local
    * span fan-out, text read once per side and never shuffled. */
  def curriculumBlocks(docs: DataFrame, idCol: String, textCol: String,
      blockSize: Int = 128, sepTokens: Int = 1, nPhases: Int = 3,
      seed: String = "curriculum0"): DataFrame =
    curriculumBlocksOf(
      TextAnalysis.curriculumOrder(docs, idCol, textCol, nPhases, seed),
      docs.select(
        col(idCol).cast("long").as("doc_id"),
        size(TextAnalysis.tokens(coalesce(col(textCol), lit(""))))
          .cast("long").as("n")),
      blockSize, sepTokens)

  /** [[curriculumBlocks]] over MAINTAINED per-doc metadata — (doc_id,
    * n, q_score) rows, 24 bytes/doc: the ordering re-derives from the
    * landed scores ([[TextAnalysis.curriculumOrderFromScores]]) and the
    * layout from the landed counts, so re-running the ENTIRE
    * curriculum+layout pipeline — new phase count, new context length,
    * new seed — never touches text. At 100 TB this turns "re-order the
    * corpus for the next training run" from a corpus scan into a
    * metadata job. */
  def curriculumBlocksFromState(state: DataFrame,
      blockSize: Int = 128, sepTokens: Int = 1, nPhases: Int = 3,
      seed: String = "curriculum0"): DataFrame =
    curriculumBlocksOf(
      TextAnalysis.curriculumOrderFromScores(
        state.select(col("doc_id"), col("q_score")), nPhases, seed),
      state.select(col("doc_id"), col("n")),
      blockSize, sepTokens)

  private def curriculumBlocksOf(ord: DataFrame, counts: DataFrame,
      blockSize: Int, sepTokens: Int): DataFrame = {
    val span = ord.agg((max(col("seq")) + 1L).as("pw"))
    val keyed = ord.join(counts, "doc_id").crossJoin(broadcast(span))
      .select(col("doc_id"), col("phase"),
        (col("phase") * col("pw") + col("seq")).as("gid"), col("n"))
    tokenBlocksFromCounts(
        keyed.select(col("gid").as("doc_id"), col("n")),
        blockSize, sepTokens)
      .select(col("block_id"), col("doc_id").as("gid"), col("doc_off"),
        col("block_off"), col("len"))
      .join(keyed.select(col("gid"), col("doc_id"), col("phase")), "gid")
      .select(col("block_id"), col("doc_id"), col("phase"),
        col("doc_off"), col("block_off"), col("len"))
  }

  /** CORRECTNESS instantiation for `txt_curriculum_blocks`: the 3-phase
    * curriculum stream over documents, 128-token blocks, 1 EOS slot. */
  def curriculumBlocksDocs(spark: SparkSession, dir: String): DataFrame =
    curriculumBlocks(
      graft.sources.Tables.load(spark, dir, "documents"), "doc_id", "text")

  /** STEADY form for `txt_curriculum_blocks_steady`: the curriculum
    * layout served off LANDED (doc_id, n, q_score) metadata — two
    * id-split generations, the shape a maintainer accumulates. Shares
    * the batch oracle: ordering AND layout are pure functions of the
    * 24-byte/doc state, so where it came from is invisible — which is
    * the law, and the 100 TB point: re-ordering the corpus for the next
    * training run (new phases, new context length, new seed) is a
    * metadata job, not a corpus scan. */
  def curriculumBlocksSteadyDocs(spark: SparkSession, dir: String): DataFrame =
    curriculumBlocksFromState(
      Landing.ensureHalves(spark, Landing.key("cur_blocks_steady", dir)) { i =>
        TextAnalysis.curriculumStateRows(
          graft.sources.Tables.load(spark, dir, "documents"), "doc_id", "text")
          .filter(col("doc_id") % 2 === i)
      })
}
