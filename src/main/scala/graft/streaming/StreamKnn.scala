package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.GraftFunctions
import graft.operators.Similarity
import graft.sources.Tables

/** Continuous k-NN GRAPH maintenance — the streamed form of the batch
  * [[Similarity.knnGraph]] (E144), i.e. the incremental build behind an
  * always-current neighbor graph (graph-based dedup/diversity filters
  * consume it; NN-Descent-class systems maintain exactly this state):
  * a new vector can both GAIN neighbors and ENTER old vectors' neighbor
  * lists, so per micro-batch the maintainer emits every new same-cell
  * DIRECTED pair once and lets the absorbing top-nn fold do the rest.
  * Per micro-batch:
  *
  *  1. assign the batch to the FIXED trained cells (caller-supplied —
  *     the [[StreamSemantic]] quantizer contract: every batch must share
  *     one quantizer or cells aren't comparable) and land the
  *     (vec_id, cell_id, embedding) rows as `asgDir/gen-<id>`;
  *  2. score the batch against the ACCUMULATED live assignment index
  *     (manifest-resolved, excluding the batch's own generation — the
  *     replay rule) on cell equality, emitting BOTH directed edges per
  *     cross pair in one row-local explode, plus the batch's own
  *     within-batch directed pairs; NaN scores (zero-norm junk) are
  *     gated here, so junk neither sources nor receives edges;
  *  3. land the new edges as `edgesDir/gen-<id>` (idempotent Overwrite —
  *     assignment and scoring are deterministic);
  *  4. at `compactEvery` cadence, fold both sides under the MANIFESTED
  *     discipline ([[Generations.compactManifested]]): neither side is
  *     duplication-inert (a duplicated member row would duplicate
  *     candidate edges; a duplicated edge would occupy two top-nn
  *     slots), so readers must never observe a fold with its sources.
  *     The edge fold is [[Similarity.knnCut]] itself — top-nn is
  *     ABSORBING, so compaction bounds edge state at nn·|corpus| rows
  *     regardless of history.
  *
  * Coverage argument (the spec's law): every same-cell unordered pair
  * {a, b} is scored exactly once — in the batch where the LATER of the
  * two arrived (earlier member read from the index; same-batch pairs
  * from the within-batch join) — and both its directed edges land, so
  * the live edge multiset is precisely the batch operator's candidate
  * set and the serve-time [[graph]] re-cut equals
  * [[Similarity.knnGraph]] on the union of all arrivals.
  *
  * Scale shape per batch: one bounded batch×cells broadcast cross, one
  * cell equi-join whose batch side is small by contract, row-local edge
  * explode, batch-sized generation writes; the corpus is never
  * re-scored against itself.
  */
object StreamKnn {

  /** Serve: the current k-NN graph — the absorbing top-nn re-cut over
    * the live (manifest-resolved) edge generations. */
  def graph(spark: SparkSession, stateDir: String, nn: Int): DataFrame =
    Similarity.knnCut(liveEdges(spark, stateDir), nn)

  private def liveEdges(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readLive(spark, s"$stateDir/edges")

  /** Density-based pruning served FROM THE MAINTAINED GRAPH — the E148
    * decision without a batch graph build: density = mean edge score of
    * the served top-nn graph, cutoff = the exact (1−pct) percentile
    * (the [[graft.operators.Similarity.densityPrune]] contract —
    * NULL-density (edgeless) vectors keep, ties keep), corpus = every
    * arrived vector (the live assignment index). Equals the batch
    * operator on the union of all arrivals under the same fixed cells
    * (StreamKnnSpec pins it) because the served graph equals the batch
    * graph — the composition is free once the graph law holds. */
  def densityPrune(spark: SparkSession, stateDir: String, nn: Int,
      pct: Double): DataFrame = {
    val dens = graph(spark, stateDir, nn)
      .groupBy("vec_id")
      .agg(round(avg(col("score")), 6).as("density"))
    val cutoff = dens.agg(
      round(percentile(col("density"), lit(1.0 - pct)), 6).as("cutoff"))
    Generations.readLive(spark, s"$stateDir/asg")
      .select("vec_id").distinct()
      .join(dens, Seq("vec_id"), "left_outer")
      .crossJoin(broadcast(cutoff))
      .filter(col("density").isNull || col("density") <= col("cutoff"))
      .select(col("vec_id"), col("density"))
  }

  /** PageRank served FROM THE MAINTAINED GRAPH — centrality scoring
    * with no batch graph build: edges = the served absorbing top-nn
    * re-cut, vertices = every arrived vector (the live assignment
    * index, so edgeless vectors participate as dangling mass exactly
    * as in the batch operator). Equals
    * [[graft.operators.GraphRank.pageRank]] over the batch graph on
    * the union of all arrivals under the same fixed cells
    * (StreamKnnSpec pins it) — the composition is free once the graph
    * law holds, because PageRank is a pure function of (V, E). */
  def pageRank(spark: SparkSession, stateDir: String, nn: Int,
      iters: Int = 5, damping: Double = 0.85): DataFrame =
    graft.operators.GraphRank.pageRank(liveVertices(spark, stateDir),
      graph(spark, stateDir, nn)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      iters, damping)

  /** Every arrived vector (the live assignment index) — the vertex set
    * each graph-analytics serve runs over. */
  private def liveVertices(spark: SparkSession, stateDir: String): DataFrame =
    Generations.readLive(spark, s"$stateDir/asg").select("vec_id").distinct()

  /** Community discovery served FROM THE MAINTAINED GRAPH — the
    * [[graft.operators.GraphRank.labelPropagation]] tail over the served
    * top-nn re-cut, with every arrived vector a vertex. Equals the batch
    * LPA over the batch graph on the union of all arrivals under the
    * same fixed cells (StreamKnnSpec pins it) — the [[pageRank]]
    * argument: LPA is a pure function of (V, E) and the graph law makes
    * E identical. */
  def communities(spark: SparkSession, stateDir: String, nn: Int,
      iters: Int = 5): DataFrame =
    graft.operators.GraphRank.labelPropagation(liveVertices(spark, stateDir),
      graph(spark, stateDir, nn)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")), iters)

  /** Per-community modularity contributions served FROM THE MAINTAINED
    * GRAPH — the partition-quality monitor with no batch graph build:
    * [[communities]]' discovered partition scored by
    * [[graft.operators.GraphRank.modularity]] over the same served
    * edges. The graph is pinned once (it feeds the LPA rounds AND both
    * modularity passes — the batch entry's convention). */
  def modularity(spark: SparkSession, stateDir: String, nn: Int,
      iters: Int = 5): DataFrame = {
    val g0 = graph(spark, stateDir, nn)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val g = if (spark.sparkContext.getCheckpointDir.isDefined) g0.checkpoint()
            else g0.localCheckpoint()
    graft.operators.GraphRank.modularity(
      graft.operators.GraphRank.labelPropagation(
        liveVertices(spark, stateDir), g, iters), g)
  }

  /** The capped community draw served FROM THE MAINTAINED GRAPH —
    * [[graft.operators.GraphRank.communitySample]] over [[communities]]'
    * partition. */
  def communitySample(spark: SparkSession, stateDir: String, nn: Int,
      k: Int = 5, iters: Int = 5): DataFrame =
    graft.operators.GraphRank.communitySample(
      communities(spark, stateDir, nn, iters), k)

  /** Fold both state sides (manifested — see the object scaladoc): the
    * assignment index by identity, the edges through the absorbing
    * top-nn cut. Run via the hook or while the stream is stopped. */
  def compactState(spark: SparkSession, stateDir: String, nn: Int): Unit = {
    Generations.compactManifested(spark, s"$stateDir/asg", identity)
    Generations.compactManifested(spark, s"$stateDir/edges",
      Similarity.knnCut(_, nn))
  }

  /** Start maintaining the k-NN graph of `vectors` (a streaming
    * DataFrame carrying `vec_id` and `embedding`) under
    * `stateDir/{asg,edges}`, with `nn` neighbors per vector under the
    * caller's FIXED trained cells. */
  def start(vectors: DataFrame, stateDir: String, checkpoint: String,
      centroids: DataFrame, nn: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery = {
    // two-level assignment index, built ONCE per stream (the
    // Similarity.hierIndex contract — coarse training is
    // per-centroid-set work, not per-batch work)
    val (coarseLive, grouped) = Similarity.hierIndex(centroids)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val own = s"gen-$id"
        Similarity.ivfAssignHierWith(
            batch.select("vec_id", "embedding"), coarseLive, grouped)
          .select(col("vec_id"), col("cell_id"), col("embedding"))
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/asg/$own")
        // re-read the landed bytes so a replayed batch derives the
        // identical edge generation from identical inputs
        val batchAsg = Tables.read(spark, s"$stateDir/asg/$own")
        val old = Generations.live(spark, s"$stateDir/asg").filterNot(_ == own) match {
          case Seq() => batchAsg.limit(0)
          case gens => Generations.readNames(spark, s"$stateDir/asg", gens)
        }
        val cross = batchAsg
          .select(col("cell_id"), col("vec_id").as("n_id"),
            col("embedding").as("n_emb"))
          .join(old.select(col("cell_id"), col("vec_id").as("o_id"),
            col("embedding").as("o_emb")), Seq("cell_id"))
          .select(col("n_id"), col("o_id"),
            GraftFunctions.cosineSim(col("n_emb"), col("o_emb")).as("score"))
          .filter(!isnan(col("score")))
          // both directed edges of the pair, one row-local explode
          .select(explode(array(
            struct(col("n_id").as("vec_id"), col("o_id").as("nbr_id"),
              col("score")),
            struct(col("o_id").as("vec_id"), col("n_id").as("nbr_id"),
              col("score")))).as("e"))
          .select("e.*")
        val within = batchAsg
          .select(col("cell_id"), col("vec_id").as("vec_id"),
            col("embedding").as("s_emb"))
          .join(batchAsg.select(col("cell_id"),
            col("vec_id").as("nbr_id"), col("embedding")), Seq("cell_id"))
          .filter(col("vec_id") =!= col("nbr_id"))
          .select(col("vec_id"), col("nbr_id"),
            GraftFunctions.cosineSim(col("s_emb"), col("embedding")).as("score"))
          .filter(!isnan(col("score")))
        cross.unionByName(within)
          .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/edges/$own")
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          compactState(spark, stateDir, nn)
        ()
      }
      .start()
  }

  /** [[start]] with the cells from the corpus dir's landed
    * trained-quantizer artifact tables (the [[StreamSemantic]] seam). */
  def startFromLanded(vectors: DataFrame, stateDir: String,
      checkpoint: String, corpusDir: String, nn: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    start(vectors, stateDir, checkpoint,
      Similarity.landedQuantizers(vectors.sparkSession, corpusDir)._1,
      nn, trigger, compactEvery)
}
