package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Landing, Tables}

/** KMV (bottom-k / theta) distinct-count sketches — the mergeable
  * cardinality summary an analytics engine serves COUNT(DISTINCT …) and
  * set-overlap questions from when the raw data is 100 TB (the public
  * K-Minimum-Values line: Bar-Yossef et al. 2002; the theta-sketch set
  * algebra of Dasgupta et al. 2016). The whole design point at scale:
  * the sketch state is k rows per segment — METADATA-sized, independent
  * of corpus size — and union/intersection estimates come from sketch
  * algebra alone, never from re-scanning events.
  *
  * Semantics (pinned by the SQL replay — the sketch is deterministic,
  * so the oracle reproduces it exactly, not just its expectation):
  *  - element hash h = first 15 hex chars of md5(element-as-string)
  *    parsed base-16 (60 bits — inside BIGINT on both engines; the P7
  *    Scaladoc's 64-bit `conv` trap starts at 16 chars); null elements
  *    contribute nothing;
  *  - sketch(segment) = the k SMALLEST DISTINCT h values;
  *  - θ(segment) = k-th smallest h normalized by 2⁶⁰ when the segment
  *    kept k hashes, else 1.0 (the exact-regime flag);
  *  - D̂ = n_kept if n_kept < k (exact below k — the sketch IS the
  *    distinct set), else (k−1)/θ;
  *  - pairwise (a < b): θ_ab = min(θ_a, θ_b); the union/intersection
  *    samples are the sketch members below θ_ab present in either/both
  *    sketches; estimates |S|/θ_ab; Jaccard = |S∩|/|S∪| (exact integer
  *    ratio of the two sample counts).
  *
  * All arithmetic is integer hashes + single double divisions — the
  * engines agree bit-for-bit; the 6-dp rounding is display convention,
  * not drift absorption.
  *
  * Scale shape: the only corpus-sized work is one DISTINCT on
  * (segment, h) — a two-phase aggregate whose map side dedups before
  * the exchange — followed by the bounded [[graft.plans.TopKPerKey]]
  * k-cut (partial per-partition heaps, ≤ k rows per segment per
  * partition cross the wire). Everything pairwise runs on k·|segments|
  * rows. Bottom-k over distinct hashes is DUPLICATION-INERT (re-adding
  * an element re-derives the same h) and ABSORBING
  * (bottomk(bottomk(A) ∪ B) = bottomk(A ∪ B)) — which is exactly what
  * makes the sketch landable and streamable (generation folds need no
  * replay; see [[graft.streaming.StreamKmv]]).
  */
object Sketches {

  /** 2⁶⁰ as a double — exact (both the long and its double image). */
  private val Scale: Double = 1152921504606846976L.toDouble

  val DefaultK = 64

  /** Bottom-k distinct-hash sketch per segment: (key, h), ≤ k rows per
    * key, h ascending-unique within a key. */
  def kmvSketch(rows: DataFrame, keyCol: String, elemCol: String,
      k: Int = DefaultK): DataFrame = {
    val hashed = rows
      .filter(col(elemCol).isNotNull)
      .select(col(keyCol).as("key"),
        conv(substring(md5(col(elemCol).cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct()
    graft.plans.TopKPerKey(hashed, Seq("key"), Seq(col("h").asc), k)
  }

  /** Fold already-hashed sketch rows (key, h) back into a bottom-k
    * sketch — the absorbing law (bottomk(bottomk(A) ∪ bottomk(B)) =
    * bottomk(A ∪ B)) is what makes per-batch sketch generations
    * mergeable without replaying their elements; this is the compaction
    * and serve fold [[graft.streaming.StreamKmv]] runs over landed
    * generations. */
  def kmvFold(parts: DataFrame, k: Int = DefaultK): DataFrame =
    graft.plans.TopKPerKey(parts.select(col("key"), col("h")).distinct(),
      Seq("key"), Seq(col("h").asc), k)

  /** Per-segment distinct estimate off a sketch: (key, n_kept,
    * est_distinct). */
  def kmvEstimates(sk: DataFrame, k: Int = DefaultK): DataFrame =
    sk.groupBy("key")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      .select(col("key"), col("n_kept"),
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (col("hk").cast("double") / lit(Scale))), 6).as("est_distinct"))

  /** Pairwise set-operation estimates off one sketch table: for every
    * segment pair a < b, (type_a, type_b, est_union, est_inter,
    * est_jaccard). The pair enumeration is a bounded dims-side cross
    * (|segments|² rows of two strings and a long). */
  def kmvSetOps(sk0: DataFrame, k: Int = DefaultK): DataFrame = {
    // the sketch feeds three consumers (θ, the a-side, the b-side) —
    // pin it so a corpus-derived sketch's distinct+cut runs ONCE, not
    // once per reference (the knnGraph assignment discipline). The
    // pinned relation is k·|segments| rows, so one eager
    // materialization job is the whole cost; the audit's lazy mode
    // keeps the DAG.
    val sk =
      if (sys.props.get("graft.dedup.lazyPlans").contains("true")) sk0
      else if (sk0.sparkSession.sparkContext.getCheckpointDir.isDefined)
        sk0.checkpoint()
      else sk0.localCheckpoint()
    val th = sk.groupBy("key")
      .agg(count(lit(1)).as("nk"), max(col("h")).as("hk"))
      .select(col("key"),
        when(col("nk") < k, lit(1152921504606846976L))
          .otherwise(col("hk")).as("th"))
    val pairs = th.select(col("key").as("ka"), col("th").as("tha"))
      .join(broadcast(th.select(col("key").as("kb"), col("th").as("thb"))),
        col("ka") < col("kb"))
      .select(col("ka"), col("kb"), least(col("tha"), col("thb")).as("thab"))
    val a = pairs.join(sk.withColumnRenamed("key", "ka"), Seq("ka"))
      .filter(col("h") < col("thab"))
      .select(col("ka"), col("kb"), col("thab"), col("h"))
    val b = pairs.join(sk.withColumnRenamed("key", "kb"), Seq("kb"))
      .filter(col("h") < col("thab"))
      .select(col("ka"), col("kb"), col("thab"), col("h"))
    val unionCnt = a.unionByName(b).distinct()
      .groupBy("ka", "kb", "thab").agg(count(lit(1)).as("nu"))
    val interCnt = a.select("ka", "kb", "h")
      .join(b.select("ka", "kb", "h"), Seq("ka", "kb", "h"))
      .groupBy("ka", "kb").agg(count(lit(1)).as("ni"))
    unionCnt.join(interCnt, Seq("ka", "kb"), "left_outer")
      .select(col("ka").as("type_a"), col("kb").as("type_b"),
        round(col("nu").cast("double") /
          (col("thab").cast("double") / lit(Scale)), 6).as("est_union"),
        round(coalesce(col("ni"), lit(0L)).cast("double") /
          (col("thab").cast("double") / lit(Scale)), 6).as("est_inter"),
        round(coalesce(col("ni"), lit(0L)).cast("double") /
          col("nu").cast("double"), 6).as("est_jaccard"))
  }

  /** CORRECTNESS instantiation: distinct-user estimates per event type. */
  def kmvDistinctEvents(spark: SparkSession, dir: String,
      k: Int = DefaultK): DataFrame =
    kmvEstimates(eventSketch(spark, dir, k), k)
      .withColumnRenamed("key", "event_type")

  /** CORRECTNESS instantiation: pairwise audience-overlap estimates. */
  def kmvSetOpsEvents(spark: SparkSession, dir: String,
      k: Int = DefaultK): DataFrame =
    kmvSetOps(eventSketch(spark, dir, k), k)

  private def eventSketch(spark: SparkSession, dir: String, k: Int): DataFrame =
    kmvSketch(Tables.load(spark, dir, "events"), "event_type", "user_id", k)

  // ── Landed serve (the steady split) ──────────────────────────────

  /** The event sketch LANDED as a parquet catalog table on first use —
    * k·|segments| rows, the durable metadata-scale artifact every later
    * distinct / overlap question is served from. */
  private def landedKmv(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val prefix = Landing.key("kmv_steady", dir)
    Landing.ensureLanded(spark, prefix, Seq(s"${prefix}_kmv")) { path =>
      Landing.saveTable(eventSketch(spark, dir, k), s"${prefix}_kmv", s"$path/kmv")
    }
    spark.table(s"${prefix}_kmv")
  }

  /** STEADY-STATE [[kmvDistinctEvents]]: estimates off the LANDED sketch
    * — events never read; the timed cost is the k·|segments|-row serve.
    * Same answer, same oracle. */
  def kmvDistinctSteady(spark: SparkSession, dir: String,
      k: Int = DefaultK): DataFrame =
    kmvEstimates(landedKmv(spark, dir, k), k)
      .withColumnRenamed("key", "event_type")

  /** STEADY-STATE [[kmvSetOpsEvents]]: pairwise estimates off the LANDED
    * sketch. Same answer, same oracle. */
  def kmvSetOpsSteady(spark: SparkSession, dir: String,
      k: Int = DefaultK): DataFrame =
    kmvSetOps(landedKmv(spark, dir, k), k)
}
