package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round, UnsafeArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.functions.{GraftFunctions, VectorKernels}
import graft.sources.{Landing, Tables}

/** Similarity search over the `embeddings` table (vec_id, embedding
  * array<float>, label): brute-force top-k cosine as the exact baseline,
  * and a random-hyperplane-LSH bucketed variant as the approximate scale
  * path. Extends the reference per the BASELINE north star (the reference
  * itself has no vector surface).
  *
  * Scale design (100 TB of vectors):
  *  - the QUERY set is small by contract (a handful of probe vectors) —
  *    it is explicitly broadcast; the corpus side streams through the
  *    scan and is never shuffled for scoring;
  *  - scoring is the codegen'd `cosine_sim` kernel — no UDF boxing, runs
  *    inside the scan stage;
  *  - brute force scores |Q|·N pairs; the LSH variant only scores pairs
  *    that collide in ≥1 hyperplane-sign bucket, trading recall for a
  *    corpus-scan-sized (not |Q|·N) candidate set.
  */
object Similarity {

  /** How long a failed `main` in [[overlapJobs]] waits for its cancelled
    * side chain before rethrowing anyway. */
  private val SideCancelWaitMs = 10000L

  /** Overlap two INDEPENDENT driver-side job chains (guide §2.6): `side`
    * runs on a dedicated daemon thread under its own job group, with the
    * caller's local properties copied at thread start and its job
    * description set explicitly (a shared ForkJoinPool inherits local
    * properties nondeterministically — the r17 advisory: bench:<name>
    * attribution went missing on the overlapped trainer's jobs); `main`
    * runs on the calling thread. FIFO scheduling back-fills each chain's
    * stage tails with the other's tasks; results are the same two
    * computations, unchanged. A side failure is rethrown. If `main`
    * fails, the side's job group is cancelled and awaited for at most
    * [[SideCancelWaitMs]] — so a failure does not leave a still-submitting
    * orphan chain behind, and a side chain hung outside Spark cannot mask
    * the failure — then `main`'s exception is rethrown, carrying the side's
    * failure (if any) as suppressed. */
  private[graft] def overlapJobs[A, B](spark: SparkSession)(side: => A)(
      main: => B): (A, B) = {
    import java.util.concurrent.{CompletableFuture, ExecutionException, TimeUnit, TimeoutException}
    val sc = spark.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    val group = s"graft-overlap-${java.util.UUID.randomUUID()}"
    val sideResult = new CompletableFuture[A]()
    val t = new Thread(() => {
      sc.setJobGroup(group, desc)
      try sideResult.complete(side)
      catch { case e: Throwable => sideResult.completeExceptionally(e) }
    }, "graft-overlap-side")
    t.setDaemon(true)
    t.start()
    val b = try main catch {
      case e: Throwable =>
        sc.cancelJobGroup(group)
        try sideResult.get(SideCancelWaitMs, TimeUnit.MILLISECONDS)
        catch {
          case se: ExecutionException => e.addSuppressed(se.getCause)
          case _: TimeoutException => ()
          case _: InterruptedException => Thread.currentThread().interrupt()
        }
        throw e
    }
    try (sideResult.get(), b)
    catch { case se: ExecutionException => throw se.getCause }
  }

  /** The default probe ids — a FIXED literal set, because the operator
    * family's contract is "query set small by contract, explicitly
    * broadcast". A fraction-of-the-corpus probe set (e.g. every 100th
    * vector) would broadcast 1% of a 100 TB corpus; a fixed id list stays
    * the same handful of vectors at any SF. (The ids are the sf0.01
    * instantiation of the old every-100th rule, so correctness hashes are
    * unchanged.) */
  val defaultProbeIds: Seq[Long] = Seq(0L, 100L, 200L, 300L, 400L)

  /** Probe set: the `ids` vectors (default [[defaultProbeIds]]), as
    * (query_id, q_emb) — bounded regardless of corpus size. */
  def defaultQueries(emb: DataFrame, ids: Seq[Long] = defaultProbeIds): DataFrame =
    emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  def topKCosine(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    topKCosine(emb, defaultQueries(emb), k)
  }

  /** Exact top-k: broadcast the query vectors, score every (query, corpus)
    * pair with cosine, keep k best per query. The k-cut is the native
    * `topk_by` partial-merge aggregate ([[graft.functions.TopKByScore]]):
    * each partition forwards at most k pairs per query, so the shuffle
    * carries |Q|·k·partitions rows instead of the |Q|·N a rank window
    * would sort — scoring stays a full corpus scan (that is what "exact"
    * costs; the LSH/IVF paths below are the sub-scan answers). NaN scores
    * (zero-norm junk vectors) are skipped inside the aggregate. */
  def topKCosine(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding")).as("score"))
    topKCut(scored, k)
  }

  /** HARD-negative mining — the contrastive-training complement of the
    * md5-uniform RANDOM negatives ([[Contrastive]], E55): the published
    * dense-retrieval recipe (DPR class) wants the most-similar
    * NON-duplicates as negatives — similar enough to be informative,
    * but anything above `dupCeil` is a probable duplicate/positive and
    * would poison the loss as a false negative. One band filter over
    * the same scored pairs as [[topKCosine]], then the same
    * pre-exchange `topk_by` cut; NaN (zero-norm junk) is excluded by
    * the explicit band test, so the band — not the aggregate — is the
    * documented NaN gate here. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int,
      dupCeil: Double): DataFrame = {
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding")).as("score"))
      .filter(!isnan(col("score")) && col("score") < dupCeil)
    topKCut(scored, k)
  }

  /** CORRECTNESS instantiation: 5 hard negatives per default probe,
    * duplicate ceiling 0.95. */
  def hardNegativeDocs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    hardNegatives(emb, defaultQueries(emb), k = 5, dupCeil = 0.95)
  }

  /** The shared k-cut: topk_by aggregate → explode back to rows. */
  private def topKCut(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(GraftFunctions.topKBy(col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"), col("t.score").as("score"))

  /** The deterministic hyperplane set: seeded gaussians, computed as plan
    * literals (planes × dim doubles — a few KiB of constants, not data).
    * Public so the correctness oracle can embed the SAME planes as SQL
    * literals and reproduce the signature bit-for-bit. */
  def planeVectors(planes: Int = 16, dim: Int = 64): Seq[Array[Double]] = {
    val rng = new scala.util.Random(0x5eed)
    Seq.fill(planes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Random-hyperplane signature: `planes` sign bits of dot products with
    * seeded deterministic hyperplanes, packed into band buckets of
    * `bitsPerBand` bits. Cosine-similar vectors agree on most sign bits,
    * so near neighbors collide in some band w.h.p. (SimHash for vectors —
    * Charikar's rounding scheme). Hyperplane components come from
    * [[planeVectors]]' fixed seed, so the signature is reproducible
    * cluster-wide (and oracle-side) without shipping a matrix. */
  def hyperplaneBands(emb: DataFrame,
      planes: Int = 16, bitsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    require(planes % bitsPerBand == 0, "bitsPerBand must divide planes")
    val planeVecs = planeVectors(planes, dim)
    val sigBits = planeVecs.zipWithIndex.map { case (v, p) =>
      val dot = aggregate(
        zip_with(col("embedding"), typedlit(v.toSeq), (x, c) => x * c),
        lit(0.0d), (acc, t) => acc + t)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    val sig = sigBits.reduce(_.bitwiseOR(_))
    val nBands = planes / bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    emb.select(col("*"), sig.as("hsig"))
      .select(
        col("*"),
        posexplode(array((0 until nBands).map(b =>
          shiftright(col("hsig"), b * bitsPerBand).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Collect a bounded centroid frame to driver arrays for the scan-side
    * argmax ([[graft.functions.NearestCellId]]). Same byte budget as the
    * `broadcast(centroids)` it replaces — a broadcast relation is
    * collected to the driver before shipping — paid at the SAME sites
    * (every argmax side here is bounded by the r15 sizing contract:
    * ≤ [[FlatTrainerMaxSeeds]] trainer frontiers, √N IVF cell sets, ⌈√k⌉
    * coarse levels). Sorted by id so the expression fingerprint — and
    * the argmax scan order — is deterministic. */
  private def collectCellArrays(cents: DataFrame, idCol: String,
      embCol: String): (Array[Long], Array[Array[Float]]) = {
    // null centroid embeddings are dropped (r17 advisory): in the
    // crossJoin+max_by form a null cosine never won the argmax, so
    // skipping the row is value-identical — and getSeq would NPE on it
    val rows = cents.select(col(idCol).cast("long"), col(embCol))
      .filter(col(embCol).isNotNull).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Rebuild a (cell_id, c_emb) centroid frame from driver arrays as a
    * LOCAL relation — the zero-job leaf the driver-side flat trainer
    * returns: every downstream [[collectCellArrays]] of it is a direct
    * read (LocalTableScan collect launches no job), and a broadcast of it
    * builds straight from the local rows. Bounded by the same contract
    * as the collect that produced the arrays. */
  private def centArraysToDf(spark: SparkSession, ids: Array[Long],
      vecs: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    ids.zip(vecs).map { case (id, v) => (id, v) }.toSeq
      .toDF("cell_id", "c_emb")
  }

  /** The scan-side assignment shared by [[ivfAssign]] /
    * [[ivfAssignHierWith]] / the flat trainer: one [[collectCellArrays]]
    * job, then a single projection — no join, no exchange, no
    * per-candidate row blow-up. An empty centroid set keeps the old
    * crossJoin semantics (empty result). CONTRACT (r17 advisory): input
    * keys must be unique per row — the old crossJoin+max_by emitted one
    * row per DISTINCT key, this form one row per INPUT row; every caller
    * assigns tables keyed by a unique vec_id/cell_id, and a future
    * duplicate-key caller would change cardinality here. */
  private def assignScan(emb: DataFrame, cents: DataFrame,
      centIdCol: String, centEmbCol: String, embCol: String,
      outIdCol: String, outCols: Seq[String]): DataFrame = {
    val (ids, vecs) = collectCellArrays(cents, centIdCol, centEmbCol)
    assignScanArrays(emb, ids, vecs, embCol, outIdCol, outCols)
  }

  /** [[assignScan]] when the centroid arrays are ALREADY on the driver
    * (the flat trainer's frontier, [[hierIndex]]'s locally-trained coarse
    * level) — zero jobs, one projection. */
  private def assignScanArrays(emb: DataFrame, ids: Array[Long],
      vecs: Array[Array[Float]], embCol: String,
      outIdCol: String, outCols: Seq[String]): DataFrame = {
    val base =
      if (ids.isEmpty) emb.filter(lit(false))
        .withColumn(outIdCol, lit(null).cast("long"))
      else emb.withColumn(outIdCol,
        GraftFunctions.nearestCell(col(embCol), ids, vecs))
    base.select(outCols.map(col): _*)
  }

  /** IVF (inverted-file) coarse quantization: assign every vector to its
    * nearest centroid's cell. Real IVF trains centroids with k-means; here
    * the centroid set is a deterministic corpus subset (every 37th vector)
    * so the index is reproducible and oracle-checkable — the quantize/
    * probe/search plan shape is identical either way.
    *
    * Round 17: the argmax is evaluated SCAN-SIDE ([[assignScan]] — the
    * centroid set rides the plan as a codegen reference object, the same
    * collected bytes the previous `broadcast` shipped). The old spelling
    * — broadcast nested-loop to |corpus|·|centroids| rows, then a
    * `max_by` two-phase aggregate — shuffled one row PER CORPUS VECTOR,
    * embedding payload included, purely to re-group candidate rows the
    * scan had just fanned out; at 100 TB that is a full corpus shuffle
    * per assignment (guide §2.4 "remove shuffles outright"). Scores,
    * tie-breaks (cosine DESC, cell ASC) and NaN ordering are
    * bit-identical to the aggregate form ([[graft.functions.VectorKernels.nearestCell]]);
    * cost is the same |corpus|·|centroids| scan-side scores, now with no
    * exchange behind them. */
  def ivfAssign(emb: DataFrame, centroids: DataFrame): DataFrame =
    assignScan(emb, centroids, "cell_id", "c_emb", "embedding",
      "cell_id", Seq("vec_id", "cell_id", "embedding"))

  /** TWO-LEVEL (hierarchical) cell assignment — the O(N·√k) form of
    * [[ivfAssign]] for the k ∝ N regime (SemDedup-class sizing trains
    * k ≈ N/29 cells so cell SIZE stays constant; the flat argmax then
    * scores every vector against every centroid and the assignment term
    * is O(N²/29) — the structural super-linear row the round-13 sf1
    * full-registry run surfaced on `sim_kmeans_assign_steady` /
    * `dedup_semantic_text_steady`, BASELINE.md round-13 table).
    *
    * Construction (the classic coarse-quantizer trick, applied to the
    * assignment itself): TRAIN a coarse level over the k centroids —
    * Lloyd's on the centroid set itself, init every ⌈√k⌉-th centroid in
    * dense cell_id-rank order (k rows: the training is trivial and must
    * be trained, not subsampled — a blind 1-in-√k seed pick leaves
    * stage 1 with no signal for any vector whose centroid wasn't
    * picked, measured 0.50 agreement on clusterable data vs ~1.0
    * trained); group every centroid under its nearest coarse centroid
    * (k·√k scores, paid once per centroid set); then each vector scores
    * the √k coarse centroids, picks one group, and scores only that
    * group's ~√k members — 2·√k scores per vector instead of k. Total
    * O(N·√k) = O(N^1.5/√29) when k ∝ N, vs the flat form's O(N²/29).
    *
    * APPROXIMATE by design: a vector whose true nearest centroid was
    * grouped under a different coarse seed lands in a neighbouring cell
    * — the published IVF recall trade, acceptable for cell-scoped dedup
    * and labeling (the cross-cell near-pair was already invisible to
    * SemDedup). Exactness law: with `stride = Some(1)` every centroid
    * is its own coarse seed and the result ≡ [[ivfAssign]]
    * (SimilaritySpec pins it). Both argmaxes keep the (score DESC, id
    * ASC) tie-break so the assignment is deterministic and the oracle
    * replays every stage.
    *
    * Scale shape: the coarse side broadcast is ⌈√k⌉ rows (√N-class, the
    * same budget as the √N-cell ANN family); the per-group stage is an
    * EQUI-join on g_id against the k-row grouped centroid table with NO
    * forced strategy hint — k ∝ N in this operator's target regime, so
    * a forced broadcast would ship a corpus-proportional embedding
    * table (the decontaminateScrub lesson); AQE picks broadcast while
    * the table is small and degrades to a shuffled equi-join when it
    * isn't. The dense re-key ordering centroids is the range-bucketed
    * distributed rank ([[Relational.denseRankByKey]]) — the table is
    * k rows but k ∝ N, so no single task ever sorts it.
    *
    * COMPLETENESS: stage 1 argmaxes over only the coarse centroids
    * that own ≥1 member after the final regroup (`hierIndex`'s
    * semi-join) — the regroup re-derives memberships against the
    * re-centered coarse set, so a coarse centroid can end up empty, and
    * a vector routed to an empty group would vanish through the inner
    * member join. With the live-set filter every vector lands in a
    * non-empty group and gets a cell (spec-pinned). */
  def ivfAssignHier(emb: DataFrame, centroids: DataFrame,
      stride: Option[Long] = None): DataFrame = {
    val (coarseLive, grouped) = hierIndex(centroids, stride)
    ivfAssignHierWith(emb, coarseLive, grouped)
  }

  /** The per-CENTROID-SET half of [[ivfAssignHier]] — train the coarse
    * level, group every centroid under its nearest coarse centroid, and
    * drop emptied coarse centroids: returns (`coarseLive` — the ⌈√k⌉-row
    * (g_id, g_emb) stage-1 argmax set, restricted to groups with ≥1
    * member; `grouped` — the k-row (g_id, cell_id, c_emb) member table).
    * Split out so callers that assign SEVERAL vector sets against one
    * centroid set (the incremental gates: corpus + batch; the streaming
    * maintainers: every micro-batch) pay the O(k·√k) coarse training
    * ONCE — at production k a per-batch retrain would dominate small
    * batches. At most [[FlatTrainerMaxSeeds]] centroids (the bound
    * [[kmeansCentroidsAuto]] dispatches on, so every flat-trained set) the
    * whole training runs on the driver ([[hierIndexLocal]]) and both
    * outputs are local relations: no job, and free to read. Above it the
    * training is distributed and both outputs are localCheckpoint'd (the
    * kmeansCentroids discipline) so multi-consumer plans read
    * materialized leaves. `localMaxRows` is a parameter only so the
    * driver ≡ distributed law is spec-testable; callers take the default.
    * BYTE BOUND, stated honestly: "k-row" is NOT constant — under
    * SemDedup sizing k ≈ N/29, so `grouped` pins ≈ k·(dim·4 + ~16) B of
    * embedding rows to executor local disk (64-lane floats ≈ 272 B/row
    * → ~9 GB per 10⁹ corpus vectors, spread across executors) and
    * `coarseLive` ⌈√k⌉·dim·4 B. The centroid table inherently EXISTS at
    * that size — the checkpoint adds one materialized copy, not a new
    * asymptote — and the production spelling is the LANDED form
    * ([[ensureHierIndex]]), where both tables live as parquet and no
    * call pins local disk. */
  def hierIndex(centroids: DataFrame, stride: Option[Long] = None,
      localMaxRows: Long = FlatTrainerMaxSeeds): (DataFrame, DataFrame) = {
    // one bounded read answers "k <= localMaxRows?" (kmeansCentroidsAuto's
    // dispatch device) and, when it does, IS the centroid set; a local
    // relation (the flat trainer's output) answers it with no job
    val lim = math.min(localMaxRows + 1L, Int.MaxValue.toLong).toInt
    val head = centroids.select("cell_id", "c_emb").limit(lim).collect()
    val local = head.length <= localMaxRows
    val k = if (local) head.length.toLong else centroids.count()
    val s = stride.getOrElse(
      math.max(1L, math.ceil(math.sqrt(k.toDouble)).toLong))
    // stride 1: the coarse level IS the centroid set (the degeneracy
    // law SimilaritySpec pins); otherwise train it — Lloyd's over the
    // k centroid rows under DENSE rank ids, so the init stride always
    // seeds (raw cell_ids are sparse and a blind modulus can miss).
    // The dense rank is the DISTRIBUTED range-bucketed device
    // ([[Relational.denseRankByKey]] — bit-identical to
    // `row_number() OVER (ORDER BY cell_id) − 1`, which the oracle still
    // spells), NOT a global window: k ∝ N in this operator's target
    // regime (SemDedup sizing, k ≈ N/29), and an unpartitioned window
    // would sort a corpus-proportional embedding table through ONE task
    // — the same unbounded-single-task class the E75 shuffle device
    // exists to avoid.
    if (s <= 1) {
      val coarse =
        centroids.select(col("cell_id").as("g_id"), col("c_emb").as("g_emb"))
      // regroup via the scan-side argmax (r17): same scores and (gs DESC,
      // g_id ASC) tie-break as the old crossJoin + max_by aggregate, with
      // the k-row exchange it paid removed — see ivfAssign's scaladoc
      val grouped = assignScan(centroids, coarse, "g_id", "g_emb", "c_emb",
          "g_id", Seq("cell_id", "g_id", "c_emb"))
        .localCheckpoint()
      // completeness (see ivfAssignHier's scaladoc): a coarse centroid
      // the regroup emptied must not be a stage-1 target
      val coarseLive = coarse
        .join(grouped.select("g_id").distinct(), Seq("g_id"), "left_semi")
        .localCheckpoint()
      (coarseLive, grouped)
    } else if (local) hierIndexLocal(centroids, head, s)
    else {
      // the coarse training is the driver-frontier flat recurrence (r18):
      // its ⌈√k⌉-row result comes back as arrays — same values as the
      // distributed spelling (bit-identical recenter arithmetic), with
      // the per-iteration frontier checkpoint jobs gone — so the regroup
      // assigns scan-side with zero collect jobs and coarseLive is a
      // LOCAL relation (stage-1 argmax consumers collect it for free)
      val coarseDf = kmeansCentroids(
        Relational.denseRankByKey(centroids, "cell_id", "vec_id")
          .select(col("vec_id"), col("c_emb").as("embedding")),
        initEvery = s.toInt)
      val (gids, gvecs) = collectCellArrays(coarseDf, "cell_id", "c_emb")
      val grouped = assignScanArrays(centroids, gids, gvecs, "c_emb",
          "g_id", Seq("cell_id", "g_id", "c_emb"))
        .localCheckpoint()
      // completeness: same live-group cut as the semi-join it replaces —
      // the distinct g_id set is ⌈√k⌉-bounded, the same collect class as
      // the coarse set itself
      val live = grouped.select("g_id").distinct()
        .collect().map(_.getLong(0)).toSet
      (liveCoarse(centroids.sparkSession, gids, gvecs, live), grouped)
    }
  }

  /** The stage-1 argmax set: the coarse centroids that own ≥1 member, as
    * a local (g_id, g_emb) relation. */
  private def liveCoarse(spark: SparkSession, gids: Array[Long],
      gvecs: Array[Array[Float]], live: Set[Long]): DataFrame = {
    val keep = gids.indices.filter(i => live(gids(i)))
    centArraysToDf(spark, keep.map(gids(_)).toArray, keep.map(gvecs(_)).toArray)
      .select(col("cell_id").as("g_id"), col("c_emb").as("g_emb"))
  }

  /** [[hierIndex]]'s trained branch on the DRIVER, for the collected
    * `rows` (cell_id, c_emb) of a centroid set of at most
    * [[FlatTrainerMaxSeeds]] rows — the flat trainer's frontier class, so
    * the rows are already driver-sized. Step for step the distributed
    * branch: dense rank = position in cell_id order; seeds = every
    * `s`-th rank with an embedding; Lloyd's by [[kmeansIterLocal]]; the
    * regroup is the same [[VectorKernels.nearestCell]] argmax over the
    * coarse arrays (a null c_emb keeps a null g_id); the live cut keeps
    * the coarse ids that own ≥1 member. `grouped` keeps the centroid
    * set's own cell_id and c_emb columns. Runs no job. */
  private def hierIndexLocal(centroids: DataFrame, rows: Array[Row],
      s: Long): (DataFrame, DataFrame) = {
    require(!rows.exists(_.isNullAt(0)),
      "hierIndex: the centroid set carries null cell_id keys (contract: non-null)")
    val ranked = rows.sortBy(_.getAs[Number](0).longValue)
    val vecs = ranked.map(r =>
      if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
    val embs = vecs.map(v =>
      if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v))
    val seeds = vecs.indices.filter(i => i % s == 0 && vecs(i) != null)
    val (gids, gvecs) = kmeansIterLocal(embs,
      seeds.map(_.toLong).toArray, seeds.map(vecs(_)).toArray, iters = 3)
    val gOf: Array[java.lang.Long] = embs.map(e =>
      if (e == null) null
      else java.lang.Long.valueOf(VectorKernels.nearestCell(e, gids, gvecs)))
    val spark = centroids.sparkSession
    val (cellF, embF) = (centroids.schema("cell_id"), centroids.schema("c_emb"))
    val grouped = spark.createDataFrame(
      (if (gids.isEmpty) Seq.empty[Row]
       else ranked.indices.map(i => Row(ranked(i).get(0), gOf(i), ranked(i).get(1))))
        .asJava,
      StructType(Seq(cellF, StructField("g_id", LongType, embF.nullable), embF)))
    val live = gOf.iterator.filter(_ != null).map(_.longValue).toSet
    (liveCoarse(spark, gids, gvecs, live), grouped)
  }

  /** Land-or-load the two-level assignment index for a LANDED centroid
    * family: `<prefix>_hlive` (the ⌈√k⌉-row live coarse set) +
    * `<prefix>_hgrouped` (the k-row member table), both pure
    * deterministic functions of the centroid set — so landing changes
    * no answer (the landed ≡ trained law) and the STEADY serves read
    * two small tables instead of re-running the O(k·√k) coarse
    * training per call (at sf0.1 that training is ~6 job floors per
    * serve — the crossover's whole left side; at production k it is
    * real work). First call on a fresh catalog trains + lands; every
    * later call reads. */
  def ensureHierIndex(spark: SparkSession, prefix: String,
      centroids: => DataFrame): (DataFrame, DataFrame) = {
    Landing.ensureLanded(spark, s"${prefix}_hidx",
      Seq(s"${prefix}_hlive", s"${prefix}_hgrouped")) { path =>
      val (cl, g) = hierIndex(centroids)
      Landing.saveTable(cl, s"${prefix}_hlive", s"$path/hlive")
      Landing.saveTable(g, s"${prefix}_hgrouped", s"$path/hgrouped")
    }
    (spark.table(s"${prefix}_hlive"), spark.table(s"${prefix}_hgrouped"))
  }

  /** The landed hier index of the corpus dir's trained quantizers —
    * the pair every per-dir steady serve assigns with. */
  def loadLandedHierIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    ensureHierIndex(spark, quantizerPrefix(dir), landedQuantizers(spark, dir)._1)

  /** The per-VECTOR-SET half of [[ivfAssignHier]]: the two-stage argmax
    * of `emb` against a prebuilt [[hierIndex]] pair. */
  def ivfAssignHierWith(emb: DataFrame, coarseLive: DataFrame,
      grouped: DataFrame): DataFrame = {
    // stage 1 via the scan-side argmax (r17): the ⌈√k⌉ coarse set is the
    // bounded side, so the group pick needs no exchange at all — the old
    // crossJoin + max_by shuffled one embedding-carrying row per vector
    // before the member join (see ivfAssign's scaladoc)
    val v1 = assignScan(emb, coarseLive, "g_id", "g_emb", "embedding",
      "g_id", Seq("vec_id", "g_id", "embedding"))
    // stage 2 (r18): fold each coarse group's ~√k member centroids into
    // ONE array row (a ⌈√k⌉-row regroup of the k-row member table), join
    // every vector to its single group row, and evaluate the member
    // argmax SCAN-SIDE ([[graft.functions.NearestCellIn]] — same cosine
    // loop, same (cs DESC, cell ASC) total order, same null ordering as
    // the max_by it replaces, order-independent so collect_list order
    // cannot show through). The old spelling fanned every vector out to
    // its ~√k member candidates and re-grouped them with a struct-ordered
    // max_by — a SortAggregate pair around an Exchange carrying one
    // embedding-payload row PER CORPUS VECTOR per assignment (guide §2.4:
    // at 100 TB, a full corpus shuffle). Now the only corpus-side
    // operator after the join is a projection; the join itself is the
    // same no-hint g_id equi-join (AQE broadcasts the member side while
    // it is small, degrades to a shuffled join when k ∝ N says it must).
    val gm = grouped.groupBy("g_id")
      .agg(collect_list(struct(col("cell_id"), col("c_emb"))).as("members"))
    v1.join(gm, Seq("g_id"))
      .select(col("vec_id"),
        GraftFunctions.nearestCellIn(col("embedding"), col("members"))
          .as("cell_id"),
        col("embedding"))
  }

  /** CORRECTNESS/bench instantiation of [[ivfAssignHier]]: two-level
    * assignment of the embeddings corpus under the LANDED trained
    * centroids AND the LANDED hier index ([[loadLandedHierIndex]] —
    * both trainings amortized to the land; the timed plan is the
    * production labeling pass at the O(N·√k) cost, no Lloyd's
    * anywhere). Landed ≡ trained (deterministic trainers), so the
    * oracle replays the kmeans CTE block, the coarse training, and the
    * same two argmax stages. */
  def kmeansAssignmentsHier(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val (coarseLive, grouped) = loadLandedHierIndex(spark, dir)
    ivfAssignHierWith(emb, coarseLive, grouped)
      .select("vec_id", "cell_id")
  }

  /** Deterministic stand-in for trained centroids: every 37th vector. */
  def defaultCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))

  /** Lloyd's k-means over the corpus — the TRAINED-centroid path real IVF
    * uses (vs [[defaultCentroids]]' fixed subset). Deterministic end to
    * end: seeded init (every `initEvery`-th vector), cosine assignment
    * with the same (score DESC, cell ASC) tie-break as [[ivfAssign]], and
    * per-lane means rounded to 6 dp before the float cast — so different
    * partial-aggregation orders (and the DuckDB oracle's sequential sums,
    * which differ at ~1e-13) collapse to identical centroids.
    *
    * Scale shape per iteration: assignment is the same bounded
    * corpus×constant broadcast cross as [[ivfAssign]] + a `max_by`
    * two-phase argmax (one row per vector crosses); the re-centering is a
    * row-local posexplode of lanes + a two-phase avg on (cell, lane) —
    * k·dim rows cross the shuffle, never vectors. The k-row centroid
    * frontier is localCheckpoint'd so the plan stays one-iteration-deep.
    * Cells that lose all members drop out (standard Lloyd degeneracy;
    * callers needing fixed k re-seed — at corpus scale with k ≪ n this
    * does not occur).
    *
    * SIZING CONTRACT (round 15): this exact flat form is for BOUNDED-k
    * sizing only — the √N family ([[scaledInitEvery]]), [[hierIndex]]'s
    * internal ⌈√k⌉-seed coarse level, and the streaming √N maintainer —
    * where the per-iteration `broadcast(cent)` side is bounded by
    * construction. Under k ∝ N sizing (the initEvery=29 SemDedup
    * default) the broadcast ships a corpus-proportional embedding table
    * and the cross is O(N²/29): every such call site trains with
    * [[kmeansCentroidsHier]] instead; the default stride survives here
    * for the `sim_kmeans` entry, which pins this recurrence against its
    * oracle. */
  def kmeansCentroids(emb: DataFrame, initEvery: Int = 29, iters: Int = 3): DataFrame =
    kmeansIterFlat(emb, seedInit(emb, initEvery), iters)

  /** The shared seeded init: every `initEvery`-th vector as a centroid. */
  private def seedInit(emb: DataFrame, initEvery: Int): DataFrame =
    emb.filter(col("vec_id") % initEvery === 0)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))

  private def kmeansIterFlat(emb: DataFrame, init: DataFrame,
      iters: Int): DataFrame = {
    val (ids, vecs) = collectCellArrays(init, "cell_id", "c_emb")
    val (oids, ovecs) = kmeansIterFlatArrays(emb, ids, vecs, iters)
    centArraysToDf(emb.sparkSession, oids, ovecs)
  }

  /** The flat Lloyd's recurrence with the k-row frontier held ON THE
    * DRIVER between iterations (r18; bounded by the same sizing contract
    * as the scan-side argmax it feeds — ≤ [[FlatTrainerMaxSeeds]] rows
    * at every dispatched call site). Each iteration is ONE job: the
    * corpus scan assigns scan-side ([[assignScanArrays]] — frontier rides
    * as codegen literals) and the per-(cell, lane) means come back as a
    * k·dim-row collect (the same bounded byte budget the old frontier
    * localCheckpoint + next-iteration collect moved TWICE through block
    * storage — r17 paid 2 jobs per iteration plus a final re-collect in
    * the first consumer). Arithmetic is bit-identical to [[recenter]]:
    * the 6-dp round happens in the aggregate, the float cast on the
    * driver is the same double→float narrowing. */
  private def kmeansIterFlatArrays(emb: DataFrame, init: Array[Long],
      initVecs: Array[Array[Float]], iters: Int): (Array[Long], Array[Array[Float]]) = {
    var ids = init
    var vecs = initVecs
    for (_ <- 1 to iters) {
      if (ids.nonEmpty) {
        val laneMeans = assignScanArrays(emb, ids, vecs, "embedding",
            "cell_id", Seq("cell_id", "embedding"))
          .select(col("cell_id"), posexplode(col("embedding")))
          .toDF("cell_id", "lane", "v")
          .groupBy("cell_id", "lane")
          .agg(round(avg(col("v").cast("double")), 6).as("m"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val byCell = laneMeans.groupBy(_._1).toArray.sortBy(_._1)
        ids = byCell.map(_._1)
        vecs = byCell.map(_._2.sortBy(_._2).map(_._3.toFloat))
      }
    }
    (ids, vecs)
  }

  /** [[kmeansIterFlatArrays]] with the corpus ON THE DRIVER too (the
    * rows [[hierIndexLocal]] trains over): the same
    * [[VectorKernels.nearestCell]] assignment, the same per-(cell, lane)
    * mean over the members that carry the lane, passed through Spark's
    * own `round(_, 6)` before the same double→float narrowing; cells
    * left with no lane drop out, as in the aggregate. Null rows are not
    * members. */
  private def kmeansIterLocal(embs: Array[UnsafeArrayData], init: Array[Long],
      initVecs: Array[Array[Float]], iters: Int): (Array[Long], Array[Array[Float]]) = {
    val round6 = Round(BoundReference(0, DoubleType, nullable = true), Literal(6))
    val rows = embs.filter(_ != null)
    var ids = init
    var vecs = initVecs
    for (_ <- 1 to iters) {
      if (ids.nonEmpty) {
        val next = rows.groupBy(VectorKernels.nearestCell(_, ids, vecs))
          .toArray.sortBy(_._1).flatMap { case (cell, members) =>
            val dim = members.map(_.numElements).max
            Option.when(dim > 0)(cell -> Array.tabulate(dim) { lane =>
              val vs = members.filter(e => lane < e.numElements && !e.isNullAt(lane))
                .map(_.getFloat(lane).toDouble)
              round6.eval(InternalRow(vs.sum / vs.length))
                .asInstanceOf[Double].toFloat
            })
          }
        ids = next.map(_._1)
        vecs = next.map(_._2)
      }
    }
    (ids, vecs)
  }

  /** Lloyd's re-centering step, shared by both trainers: per-(cell, lane)
    * means over the assigned rows (row-local posexplode + a two-phase
    * avg — k·dim rows cross the shuffle, never vectors), 6-dp rounded
    * before the float cast so partial-aggregation orders and the
    * oracle's sequential sums collapse to identical centroids. The k-row
    * frontier is localCheckpoint'd so the plan stays one-iteration-deep. */
  private def recenter(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell_id"), posexplode(col("embedding")))
      .toDF("cell_id", "lane", "v")
      .groupBy("cell_id", "lane")
      .agg(round(avg(col("v").cast("double")), 6).as("m"))
      .groupBy("cell_id")
      .agg(transform(array_sort(collect_list(struct(col("lane"), col("m")))),
        x => x.getField("m").cast("float")).as("c_emb"))
      .localCheckpoint()

  /** Lloyd's k-means with the TWO-LEVEL argmax inside the training loop
    * — the trainer that stays runnable when k ∝ N (SemDedup sizing,
    * k ≈ N/29). [[kmeansCentroids]]' per-iteration assignment is an N×k
    * broadcast cross: at that sizing the broadcast side is a
    * corpus-proportional embedding table (OOM before the compute
    * starts) and the compute is O(iters·N²/29). Here each iteration
    * instead (1) trains a ⌈√k⌉-seed coarse level over the CURRENT
    * centroid frontier ([[hierIndex]] — O(k·√k), the round-14 device),
    * and (2) assigns the corpus through the two-stage argmax
    * ([[ivfAssignHierWith]] — O(N·√k) + a per-group equi-join), then
    * re-centers exactly like the flat trainer. Per-iteration cost drops
    * from N·k to ≈ (N + k)·√k; no forced broadcast of any k∝N side
    * anywhere in the loop.
    *
    * APPROXIMATE exactly like serve-time two-level assignment — a vector
    * whose true nearest centroid was grouped under a different coarse
    * seed re-centers a neighbouring cell instead (the published
    * hierarchical/coarse-pruned k-means trade; the trainer is still a
    * strict descent on the pruned objective). Deterministic end to end:
    * the same seeded init, the same (score DESC, id ASC) tie-breaks in
    * BOTH argmax stages and inside the coarse training, the same 6-dp
    * re-center rounding — so the DuckDB oracle replays the full pruned
    * recurrence stage for stage. The FLAT trainer remains the correct
    * choice (and the spelling in use) for bounded-k sizing: the IVF √N
    * family, [[hierIndex]]'s own ⌈√k⌉-seed coarse level, and the
    * streaming √N maintainer — there the broadcast side is √N-class by
    * construction. */
  def kmeansCentroidsHier(emb: DataFrame, initEvery: Int = 29,
      iters: Int = 3): DataFrame =
    // k-row frontier checkpointed: hierIndex reads + scans it 5×
    kmeansIterHier(emb, seedInit(emb, initEvery).localCheckpoint(), iters)

  private def kmeansIterHier(emb: DataFrame, init: DataFrame,
      iters: Int): DataFrame = {
    var cent = init
    for (_ <- 1 to iters) {
      val (coarseLive, grouped) = hierIndex(cent)
      cent = recenter(ivfAssignHierWith(emb, coarseLive, grouped))
    }
    cent
  }

  /** Dispatch boundary between the exact flat trainer and the two-level
    * pruned trainer. Round 16 re-bracketed the crossover with same-window
    * flat/hier pairs on BOTH trainer corpora (each point is trainer-only
    * wall-clock, two interleaved passes per point):
    * d=64 planted vectors — k=724: flat 7.6–9.8 s vs hier 8.3–11.4 s
    * (flat narrowly); k=1 086: 8.9–12.7 vs 8.7–10.9 (parity); k=1 448:
    * 13.9–18.7 vs 10.5–14.5 (hier); k=2 172: 27.2–32.6 vs 13.9–19.6
    * (hier ~2×); d=8 hashed text vectors — k=1 724: 23.6–26.6 vs
    * 12.2–13.8 (hier 2×). The round-15 pin (4 096, from a one-window
    * "flat 5.06 s at k≈2 070" read) did NOT reproduce under the
    * interleaved brackets — that read was window luck, and it cost the
    * sf1 text entry a 31 s flat train where hier does it in ~12. The
    * crossover sits at ≈1 000 seeds on both corpora, so round 16 pinned
    * 1 024: below it flat's win was ≤ ~1.1×; above it hier's win grew
    * with k (17.5× by k ≈ 20.7 k — the r15 sf10 asymptote, unchanged).
    *
    * Round 18 RE-BRACKETED after the driver-frontier flat recurrence and
    * the scan-side assignment cheapened flat iterations (the r17 verdict
    * ask): same interleaved flat/hier pairs, two passes per point —
    * d=64 planted vectors: k=724 flat 1.8–3.2 vs hier 5.4–7.3 (flat
    * 2–3×); k=1 448: 3.1–5.0 vs 6.1–10.0 (flat ~2×); k=2 172: 4.2–6.0
    * vs 10.7–13.1 (flat ~2.4×); k=4 344: 10.8–13.7 vs 9.5–13.1
    * (PARITY); k=8 689: 36.6–40.5 vs 12.9–16.8 (hier 2.4–2.8×);
    * d=8 hashed text: k=1 724 flat 1.6–5.0 vs hier 12.0–13.8; k=3 448:
    * 2.2–3.7 vs 4.7–9.1; k=5 173: 2.9–4.3 vs 6.2–8.3 (all flat ~2×+ —
    * the d=8 crossover sits higher because flat's per-seed row cost is
    * 8× smaller). The d=64 parity point bounds the shared pin: 4 096.
    * Below it flat wins ≥2× on both corpora; above it the d=64 corpus
    * inverts by k≈8.7 k (text in (4 096, ~5 k] pays hier's ~2× as the
    * price of one shared constant protecting the d=64 worst case). The
    * driver-side frontier this implies is ≤ 4 096·dim floats — ~1 MB at
    * d=64, the same bounded-collect class as before. */
  val FlatTrainerMaxSeeds: Long = 4096L

  /** Size-dispatched Lloyd's — the trainer every k∝N (SemDedup-sized)
    * call site uses. The seed count k = |{vec_id % initEvery = 0}| is a
    * deterministic function of the corpus, so the dispatch predicate is
    * replayable: the DuckDB oracle computes the SAME count and selects
    * the matching recurrence, keeping every adopting entry hash-green
    * at any scale factor. At or below [[FlatTrainerMaxSeeds]] seeds the
    * EXACT flat recurrence ([[kmeansCentroids]]) is both cheaper (no
    * per-iteration coarse training — ~25 job floors at sf0.1) and
    * exact; above it the two-level pruned recurrence
    * ([[kmeansCentroidsHier]]) is the only one that stays runnable
    * (flat is O(iters·N·k) with a k∝N broadcast side). The dispatch and
    * the flat path's seed fetch are ONE bounded read of the seed frame,
    * `limit(flatMaxSeeds + 1).collect()`: at or below the bound the
    * collected rows ARE the full seed set and the flat recurrence starts
    * from driver arrays with no pin and no further job. Only the hier
    * dispatch pins the frame (one eager localCheckpoint) for its
    * distributed iterations; there the bounded read and the pin each
    * scan the corpus, but `CollectLimit` stops once it holds
    * flatMaxSeeds + 1 rows. `flatMaxSeeds` is parameterized only so the
    * dispatch-boundary law is spec-testable; production callers take
    * the pinned default. */
  def kmeansCentroidsAuto(emb: DataFrame, initEvery: Int = 29,
      iters: Int = 3, flatMaxSeeds: Long = FlatTrainerMaxSeeds): DataFrame = {
    val seeds = seedInit(emb, initEvery)
    val lim = math.min(flatMaxSeeds + 1L, Int.MaxValue.toLong).toInt
    val head = seeds.select(col("cell_id").cast("long"), col("c_emb"))
      .limit(lim).collect()
    if (head.length <= flatMaxSeeds) {
      val rows = head.filter(_.get(1) != null)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      val (oids, ovecs) =
        kmeansIterFlatArrays(emb, rows.map(_._1), rows.map(_._2), iters)
      centArraysToDf(emb.sparkSession, oids, ovecs)
    } else kmeansIterHier(emb, seeds.localCheckpoint(), iters)
  }

  def topKCosineIvf(spark: SparkSession, dir: String, k: Int = 5, nprobe: Int = 4): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    topKCosineIvf(emb, defaultQueries(emb), k, nprobe)
  }

  /** IVF search: probe the `nprobe` cells nearest each query, score only
    * vectors assigned to probed cells, keep k best. At 100 TB the win is
    * that the scored candidate set is (nprobe/|cells|) of the corpus per
    * query instead of all of it; the probe table is tiny (|Q|·nprobe) and
    * broadcasts into the cell equi-join. Missing a neighbor whose cell
    * wasn't probed is the documented approximation — recall rises with
    * nprobe, hitting exact search at nprobe = |cells|. */
  def topKCosineIvf(emb: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val centroids = defaultCentroids(emb)
    val assigned = ivfAssign(emb, centroids)
    val wProbe = Window.partitionBy("query_id").orderBy(col("cs").desc, col("cell_id").asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cs"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select("query_id", "q_emb", "cell_id")
    val scored = assigned.join(broadcast(probes), "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding")).as("score"))
    topKCut(scored, k)
  }

  /** Approximate top-k: bucket corpus and queries by hyperplane bands,
    * score only same-bucket pairs, keep k best per query. The join is a
    * bucket equi-join on (band, bucket) — candidate count ∝ collisions,
    * not |Q|·N. Recall vs [[topKCosine]] is property-tested in
    * SimilaritySpec; missing a neighbor that collides in no band is the
    * documented approximation. */
  def topKCosineLsh(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    topKCosineLsh(emb, col("vec_id").isin(defaultProbeIds: _*), k)
  }

  /** A PQ codebook: (subspace, cell, centroid lanes) rows. */
  type Book = Seq[(Int, Int, Array[Double])]

  /** Product-quantization codebook: `m` subspaces × `kc` centroids of
    * `subDim` lanes each, deterministic from a splitmix64 seed (plan
    * literals, like [[planeVectors]] — public so the oracle embeds the
    * SAME values). A production index trains these per-subspace with
    * [[kmeansCentroids]] over vector slices; the seeded codebook keeps
    * the whole encode/score plan oracle-checkable, and the plan shape is
    * identical either way. */
  def pqCodebook(m: Int = 8, kc: Int = 16, subDim: Int = 8,
      seed: Long = 0xC0DEB00CL): Book =
    for (s <- 0 until m; c <- 0 until kc) yield (s, c, Array.tabulate(subDim) { l =>
      val h = graft.functions.HashKernels.splitmix64(
        seed ^ (s * 1000003L + c * 1009L + l))
      (h >>> 11) * (2.0 / (1L << 53)) - 1.0
    })

  /** The literal-dot building block: e·c with `c` a plan literal,
    * evaluated as a left-fold so the summation order is the same
    * sequential order the DuckDB oracle's `list_inner_product` uses. */
  private def litDot(e: org.apache.spark.sql.Column, c: Array[Double]) =
    aggregate(zip_with(e, typedlit(c.toSeq), (x, cc) => x * cc),
      lit(0.0d), (acc, t) => acc + t)

  /** PQ encode, entirely SCAN-SIDE: per subspace, the code is the argmin
    * over the book's literal centroids of ‖e_s − c‖² — computed as the
    * monotone-equivalent ‖c‖² − 2·e_s·c (the ‖e_s‖² term is common to
    * the argmin) and picked with `array_min` over (dist, cell) structs,
    * so the tie-break (smaller cell) is part of the expression. A 100 TB
    * corpus encodes in one pass with NO shuffle, emitting m small ints
    * (the m·log₂kc-bit code) per vector — the 32× compression that lets
    * the index live in memory. `book` defaults to the seeded
    * [[pqCodebook]]; pass [[pqCodebookTrained]]'s output for the trained
    * index (cells Lloyd's dropped are simply absent from the argmin). */
  def pqEncode(emb: DataFrame, m: Int = 8, kc: Int = 16, subDim: Int = 8): DataFrame =
    pqEncodeWithBook(emb, m, subDim, pqCodebook(m, kc, subDim))

  /** The per-sub (cell-id, centroid) arrays of a codebook, cell-sorted —
    * the reference-object payload of the kernel encode below. */
  private def bookArrays(m: Int,
      book: Book): (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val bySub = book.groupBy(_._1)
    val ids = Array.tabulate(m)(s =>
      bySub.getOrElse(s, Seq.empty).map(_._2.toLong).sorted.toArray)
    val cents = Array.tabulate(m)(s =>
      bySub.getOrElse(s, Seq.empty).sortBy(_._2).map(_._3).toArray)
    (ids, cents)
  }

  def pqEncodeWithBook(emb: DataFrame, m: Int, subDim: Int,
      book: Book): DataFrame = {
    // r18: the per-sub argmin is ONE kernel call with the codebook as a
    // codegen reference object ([[graft.functions.PqEncodeCodes]] — same
    // fold order, ‖c‖² precomputed by the same Scala sum, same
    // (d ASC, cell ASC) order and null degeneracy as the literal tree).
    // The r9–r17 spelling planned m·kc candidate structs each wrapping a
    // zip_with-fold dot — a ~10⁵-char expression tree that every
    // materialization of every PQ entry re-planned and re-codegen'd
    // (guide §4: the job shape was right, the per-task code was not).
    val (ids, cents) = bookArrays(m, book)
    val codes = GraftFunctions.pqCodes(col("embedding"), subDim, ids, cents)
    emb.select(col("vec_id") +: (0 until m).map(s =>
      element_at(codes, s + 1).as(s"code_$s")): _*)
  }

  /** Train the PQ codebook with per-subspace Lloyd's — the
    * [[kmeansCentroids]] recipe specialized to the ADC metric: assignment
    * is the argmin of ‖c‖² − 2·e_s·c (exactly what [[pqEncode]] will
    * evaluate, tie on smaller cell), re-centering rounds each lane mean
    * to 6 dp (the same cross-engine drift absorber as `sim_kmeans`), and
    * init is deterministic (cell c of every subspace starts at vector
    * `c·initStep`'s subvector). All m subspaces train in ONE job per
    * iteration: the corpus explodes row-locally to (vec_id, sub,
    * subvector), assignment is scan-side against the current book as
    * plan literals, and only the (sub, cell, lane, mean) table — m·kc·
    * subDim rows — crosses the shuffle and lands on the driver (the same
    * bounded-collect legitimacy class as the centroid literals). Cells
    * that lose all members drop out (standard Lloyd degeneracy). */
  def pqCodebookTrained(emb: DataFrame, m: Int = 8, kc: Int = 16,
      subDim: Int = 8, initStep: Int = 31, iters: Int = 2): Book = {
    val subCols = array((0 until m).map(s =>
      slice(col("embedding"), s * subDim + 1, subDim)): _*)
    // every Lloyd iteration folds the full subvector table; persist it so
    // the corpus is scanned and exploded once, not once per iteration
    // (row count = corpus × m, payload = the same floats as the source —
    // the standard iterative-trainer cache, MEMORY_AND_DISK so an
    // over-memory corpus spills instead of re-scanning)
    val subs = emb.select(col("vec_id"), posexplode(subCols))
      .toDF("vec_id", "sub", "sv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var book: Map[(Int, Int), Array[Double]] =
      emb.filter(col("vec_id").isin((0 until kc).map(_.toLong * initStep): _*))
        .select(col("vec_id"), posexplode(subCols))
        .toDF("vec_id", "sub", "sv")
        .collect().map { r =>
          // element-type-tolerant: the corpus embeds as float, the
          // residual table ([[residuals]]) as double — both train here
          ((r.getInt(1), (r.getLong(0) / initStep).toInt) ->
            r.getSeq[Number](2).map(_.doubleValue).toArray)
        }.toMap
    for (_ <- 1 to iters) {
      // r18: the per-row assignment is the same kernel argmin as the
      // encode ([[graft.functions.PqAssignCell]] — book as a reference
      // object), replacing the per-iteration m·kc literal candidate tree
      // the trainer re-planned and re-codegen'd every Lloyd step
      val (bids, bcents) = bookArrays(m,
        book.toSeq.map { case ((s, c), arr) => (s, c, arr) })
      val cell = GraftFunctions.pqCell(col("sub"), col("sv"), bids, bcents)
        .cast("int")
      book = subs.withColumn("cell", cell)
        .select(col("sub"), col("cell"), posexplode(col("sv")))
        .toDF("sub", "cell", "lane", "v")
        .groupBy("sub", "cell", "lane")
        .agg(round(avg(col("v").cast("double")), 6).as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }
    }
    subs.unpersist()
    book.toSeq.map { case ((s, c), arr) => (s, c, arr) }.sortBy(t => (t._1, t._2))
  }

  def topKPq(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    topKPq(emb, defaultQueries(emb), k, m = 8, kc = 16, subDim = 8)
  }

  /** The TRAINED-codebook PQ/ADC entry: [[pqCodebookTrained]] over the
    * corpus, then the identical encode/LUT/score plan as [[topKPq]]. */
  def topKPqTrained(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    topKPqWithBook(emb, defaultQueries(emb), k, pqCodebookTrained(emb))
  }

  /** STEADY-STATE form of [[topKPqTrained]] — the production serve path
    * the rebuild entry cannot time: the codebook is the corpus dir's
    * LANDED `<prefix>_codebook` ([[landedQuantizers]] — the same
    * [[pqCodebookTrained]] call over the same embeddings, so the same
    * book), memoized with the steady IVF-PQ quantizers, and every call
    * scores with it through [[topKPqWithBook]], so the timed plan is
    * encode + broadcast-LUT + partial-merge ADC only — no Lloyd's
    * iterations, no table read. Same answer, same oracle as
    * `sim_topk_pq_trained`; the first call on a fresh root (Bench's
    * unmeasured warm-up, Verify's only pass) pays the training. */
  def topKPqSteady(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    topKPqWithBook(emb, defaultQueries(emb), k, steadyQuantizers(spark, dir)._2)
  }

  /** PQ/ADC search (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — public): approximate inner product
    * score(q, v) = Σ_s q_s · c_{s, code_s(v)} — the corpus side is only
    * its m-byte codes; per query the m×kc look-up table of subspace dots
    * is tiny and broadcasts. Scale shape: encode is scan-side
    * ([[pqEncode]]); scoring explodes each vector's m codes row-locally,
    * joins the broadcast LUT, and partial-merge-sums to one score per
    * (query, vector) — the per-pair cost is m LUT adds instead of dim
    * multiplies, which is the whole point of ADC at 100 TB. Scores are
    * rounded to 6 dp BEFORE the k-cut (an 8-term double sum's order
    * differs across engines; the rounding makes the ranking cross-engine
    * exact), ties broken by vec_id inside `topk_by`. */
  def topKPq(emb: DataFrame, queries: DataFrame, k: Int,
      m: Int, kc: Int, subDim: Int): DataFrame =
    topKPqWithBook(emb, queries, k, pqCodebook(m, kc, subDim))

  /** (m, subDim) of a codebook: its subspace count and sub-vector width. */
  private def bookShape(b: Book): (Int, Int) = (b.map(_._1).max + 1, b.head._3.length)

  /** Per-query ADC look-up table: the subspace dots of `queries` against
    * every book centroid as one nested-array literal expression of
    * (code, w) structs (the cell id carried explicitly so a trained book
    * with dropped cells stays addressable), exploded row-locally to
    * (query_id, sub, code, w) — |Q|·m·kc tiny rows, always broadcast by
    * callers. Shared by [[topKPqWithBook]] and [[searchIvfPqIndex]]. */
  private def pqLutRows(queries: DataFrame, b: Book): DataFrame = {
    val (m, subDim) = bookShape(b)
    val bySub = b.groupBy(_._1).map { case (s, rows) =>
      s -> rows.map(r => (r._2, r._3)).sortBy(_._1)
    }
    val perSub = array((0 until m).map { s =>
      val sub = slice(col("q_emb"), s * subDim + 1, subDim)
      array(bySub(s).map { case (c, cv) =>
        struct(lit(c.toLong).as("cell"), litDot(sub, cv).as("w"))
      }: _*)
    }: _*)
    queries.select(col("query_id"), posexplode(perSub))
      .toDF("query_id", "sub", "ws")
      .select(col("query_id"), col("sub"), explode(col("ws")).as("cw"))
      .select(col("query_id"), col("sub"),
        col("cw.cell").as("code"), col("cw.w").as("w"))
  }

  /** PQ-encode `emb` scan-side and explode each vector's m codes
    * row-locally to (vec_id, sub, code) — the corpus side of every ADC
    * score. */
  private def codeRows(emb: DataFrame, b: Book): DataFrame = {
    val (m, subDim) = bookShape(b)
    pqEncodeWithBook(emb, m, subDim, b)
      .select(col("vec_id"), posexplode(
        array((0 until m).map(s => col(s"code_$s")): _*)))
      .toDF("vec_id", "sub", "code")
  }

  def topKPqWithBook(emb: DataFrame, queries: DataFrame, k: Int,
      b: Book): DataFrame = {
    val scored = codeRows(emb, b)
      .join(broadcast(pqLutRows(queries, b)), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum(col("w")), 6).as("score"))
    topKCut(scored, k)
  }

  // --------------------------------------------------------------------
  // IVF-PQ — the two quantizers composed the way production ANN systems
  // ship them (Jégou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011; the FAISS IVFPQ layout — public): the coarse IVF
  // quantizer prunes the corpus to the `nprobe` cells nearest each query,
  // and PQ/ADC scores ONLY the surviving candidates on their m-byte codes.
  // Every registry variant is one [[IvfPqSpec]] value over ONE path:
  // [[ensureIvfPq]] yields the index (inverted code list + the coarse
  // centroids + the PQ book that built it), [[searchIvfPqIndex]] prunes
  // and ADC-scores it, and [[refinedSearchIndex]] re-ranks a widened ADC
  // cut on the exact embeddings.
  // --------------------------------------------------------------------

  /** Where an IVF-PQ index's quantizers come from. */
  sealed trait QuantSource
  /** Plan literals: every 37th vector as a cell ([[defaultCentroids]])
    * and the seeded [[pqCodebook]]. */
  case object Seeded extends QuantSource
  /** Trained per call: k-means cells ([[kmeansCentroidsAuto]]) and a
    * per-subspace Lloyd's book ([[pqCodebookTrained]]). */
  case object Trained extends QuantSource
  /** Trained once and LANDED as catalog tables with the cell-bucketed
    * code list; every later call (and a restarted process on the same
    * catalog) reads them. */
  case object Landed extends QuantSource

  /** One IVF-PQ variant: where the quantizers come from, the coarse
    * sizing, and what PQ encodes.
    *
    * `scaled` sizes the coarse quantizer at ≈√N cells ([[scaledInitEvery]])
    * instead of the k∝N trainer: the textbook balance point (Jégou et al.
    * §V) holds both per-query terms at O(√N) — probed-list reads
    * ∝ N/|cells| and centroid scoring ∝ |cells| — and the landed code list
    * grows its bucket fan-out with the cell count. The PQ book is shared
    * with the fixed sizing (subspace quantization is coarse-independent).
    *
    * `residual` encodes r = e − c(cell(e)) instead of the raw vector
    * (Jégou et al. §IV.B; the FAISS IVFPQ default): residuals concentrate
    * near the origin once the coarse quantizer has soaked up the
    * between-cell variance, so the same book budget cuts quantization
    * error (spec-measured). The score becomes q·c_probed + Σ_s LUT.
    *
    * The values in use are the registry's variants: √N sizing exists as
    * the landed raw family, and the seeded book encodes raw vectors. */
  final case class IvfPqSpec(source: QuantSource, scaled: Boolean = false,
      residual: Boolean = false) {
    require(!scaled || (source == Landed && !residual),
      "√N sizing exists as the landed raw family only")
    require(!residual || source != Seeded,
      "the seeded codebook encodes raw vectors only")
  }

  /** One probed (query, cell) pair; `qc` is the raw q·c dot a residual
    * score adds (0 for a raw collect). */
  final case class Probe(queryId: Long, cellId: Long, qc: Double)

  /** An inverted-list IVF-PQ index: `codes` holds one (vec_id, sub, code,
    * cell_id) row per vector per subspace — in memory, a landed
    * cell-bucketed table, or a streaming maintainer's cell-partitioned
    * generations — next to the coarse `centroids` (cell_id, c_emb) and the
    * PQ `book` that built it; `residual` codes encode e − c(cell). */
  final case class IvfPqIndex(codes: DataFrame, centroids: DataFrame,
      book: Book, residual: Boolean = false)

  object IvfPqIndex {
    /** Build the index over `emb` in memory — the "index build paid once"
      * half a production system lands, and what the streaming maintainers
      * ([[graft.streaming.StreamIvfPq]]) append per batch: coarse
      * assignment (or the residual table) + scan-side PQ encode. */
    def build(emb: DataFrame, centroids: DataFrame, book: Book,
        residual: Boolean = false): IvfPqIndex = IvfPqIndex(
      ivfPqIndexRows(
        if (residual) residuals(emb, centroids) else ivfAssign(emb, centroids),
        book),
      centroids, book, residual)
  }

  /** The √N sizing, as the trainer's init stride: every `round(√N)`-th
    * vector seeds a cell, giving ≈ √N seeds (and, on this corpus, ≈ √N
    * trained cells — Lloyd's drops only emptied cells). Deterministic
    * from the corpus count and reproduced verbatim by the oracle's
    * `round(sqrt(count(*)))` scalar subquery — Java's half-up round and
    * DuckDB's half-away agree on positives. */
  def scaledInitEvery(n: Long): Int =
    math.max(2L, math.round(math.sqrt(n.toDouble))).toInt

  /** Coarse-cell RESIDUALS — r = e − c(cell(e)), computed in DOUBLE so
    * the subtraction is bit-identical cross-engine: (vec_id, cell_id,
    * embedding), the shape of [[ivfAssign]]'s rows, so every PQ
    * trainer/encoder consumes it unchanged. */
  def residuals(emb: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssign(emb, centroids)
      .join(broadcast(centroids), "cell_id")
      .select(col("vec_id"), col("cell_id"),
        zip_with(col("embedding"), col("c_emb"),
          (x, c) => x.cast("double") - c.cast("double")).as("embedding"))

  /** The inverted-list rows of an index: `assigned` rows (vec_id, cell_id,
    * embedding — [[ivfAssign]]'s, or [[residuals]]' for a residual index)
    * PQ-encoded scan-side, each vector's m code rows carrying its coarse
    * cell — the inverted-list layout. */
  private def ivfPqIndexRows(assigned: DataFrame, b: Book): DataFrame =
    codeRows(assigned.select("vec_id", "embedding"), b)
      .join(assigned.select("vec_id", "cell_id"), "vec_id")

  /** The probed cells of each query (cosine DESC, cell ASC — the first
    * `nprobe`), COLLECTED: |Q|·nprobe pairs, the same
    * bounded-collect class as the centroid/codebook literals (the query
    * set is small by contract). Collecting them is what lets
    * [[searchIvfPqIndex]] prune the code-table SCAN with a literal
    * `cell_id IN (…)` (bucket/partition pruning on a landed layout).
    * `withDot` carries each probed cell's raw q·c dot — the additive term
    * of the residual ADC decomposition q·v ≈ q·c + Σ_s q_s·r̂_s — as a
    * sequential left fold, the oracle's `list_inner_product` order. */
  def collectProbes(queries: DataFrame, centroids: DataFrame, nprobe: Int,
      withDot: Boolean = false): Seq[Probe] = {
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("cs").desc, col("cell_id").asc)
    val qc = if (!withDot) Nil else Seq(aggregate(zip_with(col("q_emb"),
      col("c_emb"), (x, c) => x.cast("double") * c.cast("double")),
      lit(0.0d), (a, t) => a + t).as("qc"))
    queries.crossJoin(broadcast(centroids))
      .select(Seq(col("query_id"), col("cell_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cs")) ++ qc: _*)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(Seq(col("query_id").cast("long"), col("cell_id").cast("long")) ++
        qc.map(_ => col("qc")): _*)
      .collect()
      .map(r => Probe(r.getLong(0), r.getLong(1), if (withDot) r.getDouble(2) else 0.0))
      .toSeq.sortBy(p => (p.queryId, p.cellId))
  }

  /** The serve: prune + ADC-score an inverted-list index. The probe
    * assignment is COLLECTED ([[collectProbes]]) so the candidate prune is
    * a literal `cell_id IN (probed cells)` AT THE SCAN — on a cell-bucketed
    * or cell-partitioned layout the query physically reads only
    * (nprobe/|cells|) of the code table (IvfPqLayoutSpec pins the pruned
    * plans) — then the broadcast probe join re-associates query ids. The
    * per-query LUT is |Q|·m·kc tiny rows, broadcast; the only data-scale
    * exchange is the (query_id, vec_id, partial-sum) aggregation. A
    * residual index adds the probed cell's q·c to the LUT sum. Scores are
    * 6-dp rounded before the k-cut (the shared ADC drift rule). No
    * candidate dedup: index layouts follow the manifested compaction
    * discipline ([[graft.streaming.Generations]]), so readers never
    * observe a fold together with its sources. */
  def searchIvfPqIndex(index: IvfPqIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4, probesPre: Option[Seq[Probe]] = None): DataFrame = {
    val probes = probesPre.getOrElse(
      collectProbes(queries, index.centroids, nprobe, index.residual))
    val cells = probes.map(_.cellId).distinct.sorted
    val spark = index.codes.sparkSession
    import spark.implicits._
    val probeDf =
      if (index.residual) probes.map(p => (p.queryId, p.cellId, p.qc))
        .toDF("query_id", "cell_id", "qc")
      else probes.map(p => (p.queryId, p.cellId)).toDF("query_id", "cell_id")
    val lutRows = pqLutRows(queries, index.book).withColumnRenamed("cell", "code")
    val adc = sum(col("w"))
    val scored = index.codes.filter(col("cell_id").isin(cells: _*))
      .join(broadcast(probeDf), Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutRows), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(round(if (index.residual) max(col("qc")) + adc else adc, 6).as("score"))
    topKCut(scored, k)
  }

  /** TWO-STAGE refined serve — candidate generation → exact re-rank
    * (Jégou et al. §V.C's reranking with source coding; public): ADC
    * distances are approximations, so stage 1 widens the pruned ADC cut
    * to r·k candidates per query and stage 2 re-scores JUST those on
    * their exact embeddings, returning the top k by true cosine (r·k
    * spanning the probed cells is IVF-exact). Stage 1's |Q|·r·k result is
    * COLLECTED (the probe-set bounded class) so the vector fetch is a
    * literal `vec_id IN (…)` AT THE SCAN — full vectors are touched for
    * |Q|·r·k rows only, never a second corpus pass. NaN (zero-norm junk
    * that slipped through the compressed stage) is skipped inside the
    * aggregate — the [[topKCosine]] contract. */
  def refinedSearchIndex(emb: DataFrame, index: IvfPqIndex,
      queries: DataFrame, k: Int, r: Int, nprobe: Int = 4,
      probesPre: Option[Seq[Probe]] = None): DataFrame = {
    val cand = searchIvfPqIndex(index, queries, k * r, nprobe, probesPre)
      .select(col("query_id").cast("long"), col("vec_id").cast("long"))
      .collect().map(rw => (rw.getLong(0), rw.getLong(1))).toSeq.sorted
    val spark = emb.sparkSession
    import spark.implicits._
    val scored = emb.filter(col("vec_id").isin(cand.map(_._2).distinct.sorted: _*))
      .join(broadcast(cand.toDF("query_id", "vec_id")), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding")).as("score"))
    topKCut(scored, k)
  }

  /** Catalog table-name prefix of a corpus dir's LANDED IVF-PQ artifacts
    * (`scaled`: the √N-sized family's). */
  def quantizerPrefix(dir: String, scaled: Boolean = false): String =
    Landing.key(if (scaled) "ivfpq_quant_scaled" else "ivfpq_quant", dir)

  /** A landed (sub, cell, cv) codebook table, collected to plan literals
    * (m·kc rows — the bounded-collect class the trainers already use). */
  private def readBook(spark: SparkSession, table: String): Book =
    spark.table(table).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .toSeq.sortBy(t => (t._1, t._2))

  private def saveBook(spark: SparkSession, book: Book, table: String,
      path: String): Unit = {
    import spark.implicits._
    Landing.saveTable(book.toDF("sub", "cell", "cv"), table, path)
  }

  /** Land-or-load the TRAINED quantizers of a corpus dir and return them:
    * the coarse centroid table (it joins as a broadcast side — no collect
    * needed; √N-sized when `scaled`) and the PQ codebook collected to plan
    * literals. `<prefix>_centroids` (k-means cells) and `<prefix>_codebook`
    * (per-subspace Lloyd's book) land as ONE artifact — both or neither, so
    * a land that failed between the writes cannot wedge later serves; the
    * √N centroids land beside them under the scaled prefix. Both are
    * bounded-size; a restarted process RELOADS instead of retraining. */
  def landedQuantizers(spark: SparkSession, dir: String,
      scaled: Boolean = false): (DataFrame, Book) = {
    lazy val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val p = quantizerPrefix(dir)
    Landing.ensureLanded(spark, s"${p}_quant",
      Seq(s"${p}_centroids", s"${p}_codebook")) { path =>
      Landing.saveTable(kmeansCentroidsAuto(emb), s"${p}_centroids", s"$path/centroids")
      saveBook(spark, pqCodebookTrained(emb), s"${p}_codebook", s"$path/codebook")
    }
    val ps = quantizerPrefix(dir, scaled)
    if (scaled) Landing.ensureLanded(spark, s"${ps}_quant",
      Seq(s"${ps}_centroids")) { path =>
      Landing.saveTable(kmeansCentroids(emb, initEvery = scaledInitEvery(emb.count())),
        s"${ps}_centroids", s"$path/centroids")
    }
    (spark.table(s"${ps}_centroids"), readBook(spark, s"${p}_codebook"))
  }

  /** The landed index of a [[Landed]] spec: [[landedQuantizers]], then the
    * inverted code list as a parquet catalog table BUCKETED BY `cell_id` —
    * each coarse cell's code rows live in a known bucket, so a serve-time
    * `cell_id IN (probed cells)` prunes buckets and reads ONLY the probed
    * inverted lists. Per-bucket sort (cell_id, vec_id, sub) keeps each
    * vector's m code rows adjacent. Fan-out: 16 for the fixed sizing; for
    * √N sizing one bucket per cell up to 256 — at production cell counts
    * cap it at table-size/128–256 MiB ([[graft.sources.Layout]]'s rule) and
    * let consecutive cells share a bucket, so per-query reads stay ∝ √N
    * without the small-file pathology. A residual spec lands its
    * residual-trained book with its codes as one artifact (`_res`); its
    * centroids are the fixed family's. First call on a fresh catalog pays
    * one encode + bucketed write; every later call reads the tables. */
  private def landedIndex(spark: SparkSession, dir: String, emb: DataFrame,
      scaled: Boolean, residual: Boolean): IvfPqIndex = {
    val (cents, rawBook) = landedQuantizers(spark, dir, scaled)
    val p = quantizerPrefix(dir, scaled)
    val codes = if (residual) "res_codes" else "codes"
    val resBook = s"${p}_res_codebook"
    Landing.ensureLanded(spark,
      if (residual) s"${p}_res" else s"${p}_codes",
      (if (residual) Seq(resBook) else Nil) :+ s"${p}_$codes") { path =>
      val assigned =
        if (residual) residuals(emb, cents)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else ivfAssign(emb, cents)
      val book =
        if (residual) pqCodebookTrained(assigned.select("vec_id", "embedding"))
        else rawBook
      if (residual) saveBook(spark, book, resBook, s"$path/res_codebook")
      graft.sources.Layout.writeBucketed(ivfPqIndexRows(assigned, book),
        s"${p}_$codes", Seq("cell_id"), Seq("cell_id", "vec_id", "sub"),
        if (scaled) math.min(cents.count(), 256L).toInt else 16,
        s"$path/$codes")
      assigned.unpersist()
    }
    IvfPqIndex(spark.table(s"${p}_$codes"), cents,
      if (residual) readBook(spark, resBook) else rawBook, residual)
  }

  /** The one land/load path: the index of `spec` over the corpus dir's
    * embeddings `emb` — built in memory from seeded or freshly trained
    * quantizers, or landed-or-loaded ([[landedIndex]]) — plus the probes
    * of `queries` when training collected them on the way.
    *
    * The trained paths keep their job overlap ([[overlapJobs]], guide
    * §2.6). Raw: the coarse k-means and the codebook trainer are
    * INDEPENDENT chains of small-result barriers whose tails leave
    * executor slots idle, so the book trains on a second local thread
    * while the main thread trains the cells and collects the probes.
    * Residual: the book trains on the residual table, which feeds TWO
    * consumers (book trainer and encode), so it is pinned ONCE
    * (localCheckpoint; byte bound corpus × (dim doubles + ids),
    * executor-local — the materialization a landed build writes as
    * parquet anyway), and the book training overlaps the probe-dot
    * collect. Results are the same computations either way. */
  def ensureIvfPq(spark: SparkSession, dir: String, spec: IvfPqSpec,
      emb: DataFrame, queries: DataFrame): (IvfPqIndex, Option[Seq[Probe]]) =
    spec match {
      case IvfPqSpec(Seeded, _, _) =>
        (IvfPqIndex.build(emb, defaultCentroids(emb), pqCodebook()), None)
      case IvfPqSpec(Trained, _, false) =>
        val (book, (cents, probes)) = overlapJobs(spark)(pqCodebookTrained(emb)) {
          val cents = kmeansCentroidsAuto(emb)
          (cents, collectProbes(queries, cents, nprobe = 4))
        }
        (IvfPqIndex.build(emb, cents, book), Some(probes))
      case IvfPqSpec(Trained, _, true) =>
        val cents = kmeansCentroidsAuto(emb)
        val resid = residuals(emb, cents).localCheckpoint()
        val (book, probes) = overlapJobs(spark)(
          pqCodebookTrained(resid.select("vec_id", "embedding")))(
          collectProbes(queries, cents, nprobe = 4, withDot = true))
        (IvfPqIndex(ivfPqIndexRows(resid, book), cents, book, residual = true),
          Some(probes))
      case IvfPqSpec(Landed, scaled, residual) =>
        (landedIndex(spark, dir, emb, scaled, residual), None)
    }

  /** CORRECTNESS/bench entry of every IVF-PQ registry variant: the top-k
    * of the `queryIds` probe vectors under `spec` — the plain ADC cut, or
    * with `refine = Some(r)` the exact re-rank of an r·k ADC cut
    * ([[refinedSearchIndex]]). Landed specs pay training + land on the
    * first call on a fresh catalog (Bench's unmeasured warm-up, Verify's
    * only pass) and serve-only after; every spec gives the answer of its
    * trained or seeded rebuild (training and encode are deterministic). */
  def topKPqIvf(spark: SparkSession, dir: String, spec: IvfPqSpec, k: Int = 5,
      refine: Option[Int] = None,
      queryIds: Seq[Long] = defaultProbeIds): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    ivfPqTopK(spark, dir, spec, emb, defaultQueries(emb, queryIds), k, refine)
  }

  private def ivfPqTopK(spark: SparkSession, dir: String, spec: IvfPqSpec,
      emb: DataFrame, queries: DataFrame, k: Int,
      refine: Option[Int]): DataFrame = {
    val (index, probes) = ensureIvfPq(spark, dir, spec, emb, queries)
    refine match {
      case Some(r) => refinedSearchIndex(emb, index, queries, k, r, probesPre = probes)
      case None => searchIvfPqIndex(index, queries, k, probesPre = probes)
    }
  }

  /** ANN quality evaluation — recall@k of the [[topKPqIvf]] search against
    * the exact cosine ground truth, per probe query: the operational
    * metric every ANN deployment monitors before trusting a compressed
    * serve, and tunes nprobe/codebook sizing/r against (refined recall can
    * only rise vs the unrefined cut — the wide-cut dominance argument,
    * spec-pinned). Every probe query reports, even at zero overlap.
    *
    * The exact leg (one corpus-linear scan — what ground truth costs; a
    * deployment runs it on a sampled probe set, the |Q|-bounded shape
    * here) and the ANN leg's eager probe/candidate collects are
    * independent chains: overlap them ([[overlapJobs]], guide §2.6). The
    * exact leg pins its ≤ k·|Q|-row cut so the overlap count reads a
    * materialized leaf; the count runs over driver-scale rows. */
  def annRecall(spark: SparkSession, dir: String, spec: IvfPqSpec, k: Int = 5,
      refine: Option[Int] = None,
      queryIds: Seq[Long] = defaultProbeIds): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val queries = defaultQueries(emb, queryIds)
    val (exact, ann) = overlapJobs(spark)(
      topKCosine(emb, queries, k).select("query_id", "vec_id").localCheckpoint())(
      ivfPqTopK(spark, dir, spec, emb, queries, k, refine).select("query_id", "vec_id"))
    val overlap = ann.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    ann.select("query_id").distinct()
      .join(overlap, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall"))
  }

  /** STEADY-STATE trained IVF-PQ: both landed quantizers
    * ([[landedQuantizers]]), memoized per corpus dir so repeat calls
    * within a process skip even the tiny table reads; the timed passes
    * measure assignment + encode + prune + ADC in memory. Same answer,
    * same oracle as the trained rebuild. Memo invalidation contract:
    * artifacts are keyed by corpus dir and assumed immutable-per-dir (the
    * testdata layout); a corpus rewritten in place needs its `<prefix>_*`
    * tables dropped to retrain. */
  private val trainedIvfPq =
    collection.concurrent.TrieMap[String, (Seq[(Long, Array[Float])], Book)]()
  private def steadyQuantizers(spark: SparkSession,
      dir: String): (Seq[(Long, Array[Float])], Book) =
    trainedIvfPq.getOrElseUpdate(dir, {
      import spark.implicits._
      val (centDf, b) = landedQuantizers(spark, dir)
      (centDf.as[(Long, Array[Float])].collect().toSeq, b)
    })
  def topKPqIvfSteady(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val (cents, book) = steadyQuantizers(spark, dir)
    import spark.implicits._
    val centDf = cents.toDF("cell_id", "c_emb")
      .select(col("cell_id"), col("c_emb").cast("array<float>").as("c_emb"))
    searchIvfPqIndex(IvfPqIndex.build(emb, centDf, book), defaultQueries(emb), k)
  }

  /** Corpus cluster assignments under the TRAINED k-means centroids —
    * the labeling a user actually consumes after [[kmeansCentroids]]
    * (cluster-then-sample, cluster-balanced training mixes, per-cluster
    * dedup all start here). The assignment stage is the TWO-LEVEL form
    * ([[ivfAssignHier]], round-14 adoption): with SemDedup sizing
    * (k ≈ N/29) the flat argmax is O(N²/29) — the one super-linear term
    * the sf1 registry run measured (3.2–3.9× wall for 10× rows); the
    * two-level argmax is O(N·√k) within the documented IVF recall
    * trade. The exact flat form stays available as
    * [[kmeansAssignmentsFlat]] (the crossover comparator). */
  def kmeansAssignments(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    ivfAssignHier(emb, kmeansCentroidsAuto(emb)).select("vec_id", "cell_id")
  }

  /** STEADY-STATE form of [[kmeansAssignments]] — two-level assignment
    * under the LANDED trained centroids ([[landedQuantizers]]), no Lloyd's
    * over the corpus in the plan: the timed cost is the O(N·√k)
    * production labeling pass (training is a separate, amortized land;
    * the coarse level trains over the k centroid ROWS per call — o(N·√k),
    * landable alongside the quantizers if a deployment wants it). Same
    * centroids (the trainers are deterministic), same answer, same
    * oracle as the retrain entry — and the same plan as
    * [[kmeansAssignmentsHier]], which this adoption made the default. */
  def kmeansAssignmentsSteady(spark: SparkSession, dir: String): DataFrame =
    kmeansAssignmentsHier(spark, dir)

  /** FLAT exact assignment under the LANDED centroids — r13's
    * `sim_kmeans_assign_steady` plan, kept as a named entry after the
    * hier adoption: (a) the exactness baseline the two-level recall
    * trade is measured against, (b) the flat-vs-hier crossover
    * comparator (BASELINE.md series — flat wins below ~100 k vectors
    * where the whole N·k cross is smaller than the coarse-training job
    * floor), (c) the right call when k is FIXED rather than ∝ N. The
    * O(N·k) cross is this entry's documented cost. */
  def kmeansAssignmentsFlat(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    ivfAssign(emb, landedQuantizers(spark, dir)._1).select("vec_id", "cell_id")
  }

  /** EMBEDDING-DISTRIBUTION drift — the Population Stability Index over
    * trained cells, the published model-monitoring recipe (PSI:
    * Σ (p_ref − p_cur)·ln(p_ref/p_cur) over a fixed binning; < 0.1 is
    * conventionally stable, > 0.25 actionable) applied where a vector
    * pipeline needs it: is TODAY'S embedding traffic still distributed
    * like the corpus the quantizers/indexes were trained on? The
    * "binning" is the coarse quantizer itself — cells trained on the
    * REFERENCE side only (the production asymmetry: the monitored slice
    * never influences its own yardstick), both slices assigned under the
    * identical argmax, counts add-one smoothed over the full cell list
    * so an emptied cell contributes signal instead of a log blowup.
    *
    * Scale shape: two bounded corpus×constant broadcast crosses +
    * two-phase counts (one row per cell crosses), a cell-list join, and
    * a 1-row totals broadcast — the monitor costs two labeling passes,
    * nothing more. Deterministic 6-dp at every stage (p's rounded
    * BEFORE the contribution — the llr discipline). */
  def psiDrift(emb: DataFrame, initEvery: Int = 29,
      iters: Int = 3): DataFrame = {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cur = emb.filter(col("vec_id") % 2 =!= 0)
    psiDriftOver(base, cur, kmeansCentroidsAuto(base, initEvery, iters))
  }

  /** The PSI tail over ANY (reference, current, centroids) triple —
    * reusable by the streamed monitor against landed quantizers. Both
    * slices bin through the TWO-LEVEL assignment (round-14 adoption —
    * one [[hierIndex]] for both passes: the binning function must be
    * the SAME on both sides, and it must be the one the gates/indexes
    * actually assign with, or the monitor reads quantizer disagreement
    * as traffic drift). */
  def psiDriftOver(base: DataFrame, cur: DataFrame,
      centroids: DataFrame): DataFrame = {
    val (coarseLive, grouped) = hierIndex(centroids)
    psiFromCounts(centroids.select("cell_id"),
      ivfAssignHierWith(base, coarseLive, grouped)
        .groupBy("cell_id").agg(count(lit(1)).as("n_base")),
      ivfAssignHierWith(cur, coarseLive, grouped)
        .groupBy("cell_id").agg(count(lit(1)).as("n_cur")))
  }

  /** The smoothing + contribution tail over already-aggregated per-cell
    * counts — what a monitor with LANDED baseline counts (or a streamed
    * arrival index) actually runs. */
  def psiFromCounts(cells: DataFrame, nBase: DataFrame,
      nCur: DataFrame): DataFrame = {
    val joined = cells
      .join(nBase, Seq("cell_id"), "left")
      .join(nCur, Seq("cell_id"), "left")
      .na.fill(0L, Seq("n_base", "n_cur"))
    val tot = joined.agg(sum("n_base").as("tb"), sum("n_cur").as("tc"),
      count(lit(1)).as("k"))
    joined.crossJoin(broadcast(tot))
      .select(col("cell_id"), col("n_base"), col("n_cur"),
        round((col("n_base") + lit(1.0)) / (col("tb") + col("k")), 6)
          .as("p_base"),
        round((col("n_cur") + lit(1.0)) / (col("tc") + col("k")), 6)
          .as("p_cur"))
      .select(col("cell_id"), col("n_base"), col("n_cur"),
        col("p_base"), col("p_cur"),
        round((col("p_base") - col("p_cur")) *
          log(col("p_base") / col("p_cur")), 6).as("contrib"))
  }

  /** CORRECTNESS instantiation: even vec_ids are the reference slice,
    * odd the monitored slice. */
  def psiDriftEmbeddings(spark: SparkSession, dir: String): DataFrame =
    psiDrift(Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding"))

  /** Cluster-balanced sampling: at most `k` vectors per trained k-means
    * cell, picked by a DETERMINISTIC pseudo-random order (md5 of the id —
    * reproducible across runs, engines, and partitionings, the same
    * device as the hash samplers) — the diversity cap a training mix
    * applies so no dense cluster dominates the sample. The per-cell cut
    * runs through TopKPerKey's bounded partial heaps BEFORE the exchange;
    * at most k rows per cell cross. */
  def clusterSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    clusterSampleFrom(kmeansAssignments(spark, dir), k)

  /** STEADY-STATE [[clusterSample]]: the same per-cell capped draw over
    * [[kmeansAssignmentsSteady]]'s landed-centroid labeling. */
  def clusterSampleSteady(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    clusterSampleFrom(kmeansAssignmentsSteady(spark, dir), k)

  private def clusterSampleFrom(asg: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey(
      asg.withColumn("h", md5(col("vec_id").cast("string"))),
      Seq("cell_id"), Seq(col("h").asc, col("vec_id").asc), k)
      .select("cell_id", "vec_id")

  /** k-NN GRAPH construction — every vector's `nn` nearest same-cell
    * neighbors by true cosine, the foundational batch primitive under
    * graph-based dedup/diversity filtering and NN-Descent-class index
    * builds (Dong et al., WWW 2011 — public): all-pairs is quadratic, so
    * candidates are blocked by the trained coarse cells (the SemDedup
    * blocking — two vectors compete only if k-means agrees they live in
    * the same region) and each cell runs its pairwise scoring
    * independently. Missing a cross-cell true neighbor is the documented
    * approximation, exactly IVF's nprobe=1 recall trade.
    *
    * Scale shape: the cell self-join is a key equi-join (never
    * all-pairs); per-cell cost is |cell|² — bounded by the trainer's
    * cell balance, with AQE skew-split as the degrade for a hot cell —
    * and the `topk_by` k-cut forwards at most nn rows per vector per
    * partition, so the post-join exchange carries the graph edges, not
    * the candidate pairs. Zero-norm vectors emit no edges (NaN skipped
    * in the aggregate) and rank in none (NaN never compares ahead) —
    * symmetric with the oracle's NOT isnan gate. */
  def knnGraph(emb: DataFrame, centroids: DataFrame, nn: Int): DataFrame = {
    val (coarseLive, grouped) = hierIndex(centroids)
    knnGraphWith(emb, coarseLive, grouped, nn)
  }

  /** [[knnGraph]] against a PREBUILT (or landed — [[ensureHierIndex]])
    * two-level assignment index: the steady serves' form, where the
    * coarse training is amortized to the land. */
  def knnGraphWith(emb: DataFrame, coarseLive: DataFrame,
      grouped: DataFrame, nn: Int): DataFrame = {
    // persist the assignment so the corpus is scored against the
    // centroids ONCE, not once per self-join side (the semanticDedupWith
    // discipline — at scale the assignment scan is the dominant term);
    // the assignment itself is the TWO-LEVEL argmax (round-14 adoption:
    // k ∝ N here, so the flat N·k cross is the measured super-linear
    // term — see ivfAssignHier's scaladoc for the recall trade)
    val asg = ivfAssignHierWith(emb, coarseLive, grouped)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = asg
      .select(col("vec_id").as("query_id"), col("cell_id"),
        col("embedding").as("q_emb"))
      .join(asg.select(col("vec_id"), col("cell_id"), col("embedding")),
        Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding")).as("score"))
    val graph = topKCut(scored, nn)
      .select(col("query_id").as("vec_id"), col("vec_id").as("nbr_id"),
        col("score"))
    // audit escape hatch (the Dedup.materializeAndRelease contract): lazy
    // mode returns the un-checkpointed DAG for PlanAudit, keeping the
    // persist alive; jobs materialize and release the cached assignment
    if (sys.props.get("graft.dedup.lazyPlans").contains("true")) graph
    else {
      val reliable =
        graph.sparkSession.sparkContext.getCheckpointDir.isDefined
      val out = if (reliable) graph.checkpoint() else graph.localCheckpoint()
      asg.unpersist()
      out
    }
  }

  /** Per-vector top-nn cut over (vec_id, nbr_id, score) edge rows — the
    * [[knnGraph]] tail as a standalone fold, shared with the streamed
    * maintainer ([[graft.streaming.StreamKnn]])'s serve and compaction:
    * top-nn is ABSORBING (top-nn(top-nn(A) ∪ B) = top-nn(A ∪ B), ties
    * (score DESC, nbr ASC) inside `topk_by`), which is what makes edge
    * generations foldable without replaying old pairs. */
  def knnCut(edges: DataFrame, nn: Int): DataFrame =
    topKCut(edges.select(col("vec_id").as("query_id"),
      col("nbr_id").as("vec_id"), col("score")), nn)
      .select(col("query_id").as("vec_id"), col("vec_id").as("nbr_id"),
        col("score"))

  /** CORRECTNESS instantiation: 4 neighbors per vector under the TRAINED
    * k-means cells (size-dispatch-trained — same centroids and oracle CTEs
    * as `sim_kmeans_assign`). */
  def knnGraphDocs(spark: SparkSession, dir: String, nn: Int = 4): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    knnGraph(emb, kmeansCentroidsAuto(emb), nn)
  }

  /** STEADY-STATE [[knnGraphDocs]]: cells AND the two-level assignment
    * index from the LANDED artifacts ([[landedQuantizers]] +
    * [[loadLandedHierIndex]]) — no Lloyd's anywhere in the plan; the
    * timed cost is the two-stage assignment + the blocked pairwise
    * scoring + k-cut, the recurring production build. Same answer, same
    * oracle as the retrain entry. */
  def knnGraphSteady(spark: SparkSession, dir: String, nn: Int = 4): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val (coarseLive, grouped) = loadLandedHierIndex(spark, dir)
    knnGraphWith(emb, coarseLive, grouped, nn)
  }

  /** DENSITY-BASED pruning — the data-curation decision the k-NN graph
    * exists to feed (the D4 / SSL-prototypicality line, Tirumala et al.
    * 2023; Sorscher et al. 2022 — public): vectors in the DENSEST
    * embedding regions are the most mutually redundant, so score each
    * vector by density = mean cosine of its nn nearest same-cell
    * neighbors ([[knnGraph]]) and drop the densest `pct` of the scored
    * corpus. Unlike SemDedup's pairwise τ-threshold (drop verbatim-class
    * twins), density pruning thins whole over-represented NEIGHBORHOODS
    * — the two compose: dedup first, then prune density.
    *
    * Contract details pinned by spec + oracle: the cutoff is the exact
    * (1−pct) percentile of the density distribution (Spark `percentile`
    * ≡ DuckDB `quantile_cont`, 6-dp rounded — the calibrated-quality
    * convention); ties at the cutoff KEEP; vectors with NO graph edges
    * (zero-norm junk, singleton cells) carry NULL density and KEEP —
    * nothing is redundant about an isolated point.
    *
    * Scale shape: the graph build dominates (E144's blocked equi-join);
    * density is a two-phase avg over graph edges (≤ nn rows per vector),
    * the cutoff is a 1-row aggregate broadcast back, and the keep filter
    * is scan-side. */
  def densityPrune(emb: DataFrame, centroids: DataFrame, nn: Int,
      pct: Double): DataFrame =
    densityPruneFrom(emb, knnGraph(emb, centroids, nn), pct)

  /** The density tail over ANY k-NN graph — shared by the retrain
    * entry, the landed-index steady serve, and the streamed graph. */
  def densityPruneFrom(emb: DataFrame, graph: DataFrame,
      pct: Double): DataFrame = {
    val dens = graph
      .groupBy("vec_id")
      .agg(round(avg(col("score")), 6).as("density"))
    val cutoff = dens.agg(
      round(percentile(col("density"), lit(1.0 - pct)), 6).as("cutoff"))
    emb.select("vec_id")
      .join(dens, Seq("vec_id"), "left_outer")
      .crossJoin(broadcast(cutoff))
      .filter(col("density").isNull || col("density") <= col("cutoff"))
      .select(col("vec_id"), col("density"))
  }

  /** CORRECTNESS instantiation: drop the densest quintile under the
    * TRAINED cells (same centroids and graph as `sim_knn_graph`). */
  def densityPruneDocs(spark: SparkSession, dir: String, nn: Int = 4,
      pct: Double = 0.2): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    densityPrune(emb, kmeansCentroidsAuto(emb), nn, pct)
  }

  /** STEADY-STATE [[densityPruneDocs]]: landed centroids AND landed
    * hier index — no Lloyd's anywhere in the plan. Same answer, same
    * oracle. */
  def densityPruneSteady(spark: SparkSession, dir: String, nn: Int = 4,
      pct: Double = 0.2): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val (coarseLive, grouped) = loadLandedHierIndex(spark, dir)
    densityPruneFrom(emb, knnGraphWith(emb, coarseLive, grouped, nn), pct)
  }

  /** Symmetric int8 embedding quantization: per-vector scale =
    * max|x|/127, q_i = round(x_i/scale) ∈ [−127, 127] — the 4× storage
    * and bandwidth cut (float32 → int8 + one scale) embedding stores
    * ship at 100 TB, dequantizing to x ≈ q·scale with error ≤ scale/2
    * per lane. Zero vectors keep scale 0 and all-zero codes (guarded
    * division). Pure scan-side projection, zero shuffles; |x| is taken
    * in DOUBLE on both engines so the scale (and therefore every code)
    * is bit-identical cross-engine. Output exploded row-locally to
    * (vec_id, lane, q, scale) scalar rows for the driver's comparator. */
  def int8Quantize(emb: DataFrame): DataFrame = {
    val absd = transform(col("embedding"), x => abs(x.cast("double")))
    emb.select(col("vec_id"),
        (array_max(absd) / lit(127.0d)).as("scale"), col("embedding"))
      .select(col("vec_id"), col("scale"), posexplode(col("embedding")))
      .toDF("vec_id", "scale", "lane", "x")
      .select(col("vec_id"), col("lane").cast("long").as("lane"),
        when(col("scale") === 0.0d, lit(0L))
          .otherwise(round(col("x").cast("double") / col("scale"), 0).cast("long"))
          .as("q"),
        round(col("scale"), 9).as("scale"))
  }

  def int8Embeddings(spark: SparkSession, dir: String): DataFrame =
    int8Quantize(Tables.load(spark, dir, "embeddings").select("vec_id", "embedding"))

  /** Seeded ±1 projection matrix (outDim × inDim) for [[rpProject]] —
    * a deterministic java.util.Random sign stream (the LCG is specified
    * behavior, identical on every JVM), so the SAME literal matrix lands
    * in the Spark plan and in the generated oracle SQL. */
  def rpSigns(outDim: Int, inDim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(outDim, inDim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Random-projection dimensionality reduction (the Johnson–Lindenstrauss
    * sign projection, Achlioptas JCSS'03 — public): out_i = e·s_i / √dim
    * with the seeded sign matrix baked in as plan literals. A pure
    * scan-side codegen projection — ZERO shuffles, ZERO joins at any
    * corpus size — which is exactly what a 100 TB pipeline runs to cut
    * embedding width before LSH/IVF indexing or brute-force scoring.
    * Output exploded row-locally to (vec_id, lane, v) scalar rows, 6-dp
    * rounded; litDot's left-fold matches the oracle's sequential
    * list_inner_product order. */
  def rpProject(emb: DataFrame, outDim: Int = 16, dim: Int = 64): DataFrame = {
    val signs = rpSigns(outDim, dim)
    val scale = math.sqrt(dim.toDouble)
    emb.select(col("vec_id"), posexplode(array(
      signs.toSeq.map(row =>
        round(litDot(col("embedding"), row) / lit(scale), 6)): _*)))
      .toDF("vec_id", "lane", "v")
      .select(col("vec_id"), col("lane").cast("long").as("lane"), col("v"))
  }

  def rpReduce(spark: SparkSession, dir: String): DataFrame =
    rpProject(Tables.load(spark, dir, "embeddings").select("vec_id", "embedding"))

  // --------------------------------------------------------------------
  // Embedding whitening (ZCA) — decorrelate the embedding space before
  // cosine indexing/dedup. Anisotropic encoder output (a few dominant
  // directions carrying most of the variance) makes cosine similarity
  // saturate — everything looks alike along the dominant axes — and
  // whitening the representation measurably improves retrieval/semantic
  // similarity (Su et al., "Whitening Sentence Representations for
  // Better Semantics and Faster Retrieval", arXiv:2103.15316 — public).
  // ZCA (W = U Λ^{-1/2} Uᵀ) rather than PCA so the whitened space stays
  // maximally close to the original orientation.
  //
  // Scale split (100 TB): the corpus-sized work is ONE moment pass —
  // mean vector + Gram matrix as d + d(d+1)/2 exact integer sums,
  // map-side combinable (the shuffle moves ~2 k groups per partition,
  // never rows); the eigensolve is d×d on the driver (d = 64 → trivial,
  // bounded by construction, never data-sized); the transform is a
  // row-local affine map against a broadcast d² literal matrix — a pure
  // scan-side projection with zero shuffles, the rpProject shape.
  //
  // Float discipline (the E203 micro-nat lesson applied to second
  // moments): each lane is 6-dp-rounded and lifted to integer MICROS
  // (×1e6, exact in a long), so every moment sum is an exact integer
  // sum — order-free, partitioning-free, engine-free — accumulated as
  // decimal(38,0) (micro² products are ≤1e12 each; 1e10 rows still fit
  // 38 digits with room). The one IEEE divide (+6-dp round) happens
  // AFTER the exact sum, so Spark's partial-agg order and DuckDB's
  // sequential order land on identical doubles.
  // --------------------------------------------------------------------

  /** Integer-lifted per-lane micros: round(x,6)·1e6 as long. */
  private def microLanes(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(e, x => round(round(x.cast("double"), 6) * 1e6).cast("long"))

  /** The exact integer moment sums of an embedding column, one relation:
    * (l, m, s) with 0 ≤ l ≤ m < dim → s = Σ micro_l·micro_m;
    * (l, -1, s) → s = Σ micro_l; (-1, -1, n) → the row count.
    *
    * ONE corpus scan, ONE partial-merge aggregate buffer, NO row fan-out
    * (r18): [[graft.functions.MomentSums]] folds each row's d lanes into
    * a per-partition buffer of all d(d+1)/2 + d + 1 exact 128-bit sums —
    * the exchange carries one ~50 KB buffer per partition and the output
    * explodes row-locally from the single merged buffer. The r15–r17
    * spelling generated d(d+1)/2 ≈ 2 145 scalar rows PER VECTOR (the
    * posexplode + tail-slice chain — ~42 M generated rows at sf0.1,
    * ~420 M at sf1) purely to re-group them by (l, m) in a two-phase
    * aggregate; the generation was row-local (the scale SHAPE was
    * right), but it was the registry's largest per-task constant
    * (guide §1.2 step 2). Sums are exact integers computed in full
    * 128-bit (the same overflow headroom as the old decimal(38,0)
    * arithmetic — see MomentSums), so they are order-free and the
    * relation is bit-identical to the fan-out form's. */
  def embedMomentSums(emb: DataFrame): DataFrame =
    emb.select(microLanes(col("embedding")).as("mi"))
      .agg(GraftFunctions.momentSums(col("mi")).as("ms"))
      .select(explode(col("ms")).as("r"))
      .select(col("r.l").as("l"), col("r.m").as("m"), col("r.s").as("s"))

  /** CORRECTNESS/bench entry (`sim_whiten_moments`): the moment pass over
    * the embeddings corpus, reported in x-units — v = s/n/1e12 for pair
    * rows, s/n/1e6 for first-moment rows, n itself for the count row —
    * 6-dp rounded after the exact integer sum (see the block comment).
    * This is the entire corpus-sized cost of whitening; the oracle
    * replays the lift, the row-local pair fan-out, and the exact sums. */
  def whitenMomentsDocs(spark: SparkSession, dir: String): DataFrame = {
    val sums = embedMomentSums(
      Tables.load(spark, dir, "embeddings").select("vec_id", "embedding"))
      .localCheckpoint() // bounded (d(d+1)/2 + d + 1 rows); read twice below
    val nRow = sums.filter(col("l") === -1 && col("m") === -1)
      .select(col("s").cast("double").as("__n"))
    sums.crossJoin(broadcast(nRow)) // 1-row side — bounded by construction
      .select(col("l"), col("m"),
        round(
          when(col("l") === -1, col("s").cast("double"))
            .when(col("m") === -1,
              col("s").cast("double") / col("__n") / 1e6)
            .otherwise(col("s").cast("double") / col("__n") / 1e12),
          6).as("v"))
  }

  /** Cyclic Jacobi eigensolver for a symmetric d×d matrix (driver-side;
    * d is a model constant, never data-sized). Returns (eigenvalues,
    * eigenvector columns U) with A = U diag(λ) Uᵀ. Deterministic: fixed
    * sweep order, fixed convergence threshold. */
  def jacobiEigen(a0: Array[Array[Double]], sweeps: Int = 50,
      tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val u = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > tol) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > tol) {
          // symmetric Schur rotation (Golub & Van Loan, Alg. 8.4.1):
          // the (c, s) that exactly zeroes a(p)(q) under Jᵀ A J
          val tau = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t =
            if (tau >= 0) 1.0 / (tau + math.sqrt(1.0 + tau * tau))
            else 1.0 / (tau - math.sqrt(1.0 + tau * tau))
          val c = 1.0 / math.sqrt(1.0 + t * t); val s = t * c
          val app = a(p)(p); val aqq = a(q)(q); val apq = a(p)(q)
          for (i <- 0 until d) if (i != p && i != q) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq; a(p)(i) = a(i)(p)
            a(i)(q) = s * aip + c * aiq; a(q)(i) = a(i)(q)
          }
          a(p)(p) = c * c * app - 2.0 * s * c * apq + s * s * aqq
          a(q)(q) = s * s * app + 2.0 * s * c * apq + c * c * aqq
          a(p)(q) = 0.0; a(q)(p) = 0.0
          for (i <- 0 until d) {
            val uip = u(i)(p); val uiq = u(i)(q)
            u(i)(p) = c * uip - s * uiq
            u(i)(q) = s * uip + c * uiq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), u)
  }

  /** ZCA-whiten an embedding column: one exact moment pass (collected —
    * d(d+1)/2 + d + 1 bounded rows, never data-sized), the d×d Jacobi
    * eigensolve, then the row-local affine transform white_j =
    * Σ_l W[j][l]·x_l − (Wμ)_j with W = U diag(1/√(max(λ,0)+eps)) Uᵀ
    * baked in as plan literals (the rpProject discipline — zero
    * shuffles, zero joins at any corpus size). `eps` floors degenerate
    * (zero-variance) directions so constant lanes whiten to 0 instead
    * of NaN. Output (vec_id, lane, v), 6-dp rounded. */
  def whitenEmbeddings(emb: DataFrame, eps: Double = 1e-6): DataFrame = {
    val (w, shift) = whitener(emb, eps)
    whitenWith(emb, w, shift)
  }

  /** Steady whiten serve: transform under the LANDED corpus WHITENER
    * (the d-row (j, shift, w) relation — W's rows plus the −Wμ shift) —
    * the timed plan is the pure scan-side projection, no moment pass.
    * The whitener is a pure deterministic function of the exact integer
    * moments, so landing changes no answer (landed ≡ direct,
    * spec-pinned) — the same per-corpus-snapshot artifact class as the
    * landed centroids and the hier index. d rows with d-lane arrays:
    * metadata-scale. */
  def whitenEmbeddingsSteady(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val table = s"${quantizerPrefix(dir)}_whiten"
    Landing.ensureLanded(spark, table, Seq(table)) { path =>
      val (w, shift) = whitener(emb)
      import spark.implicits._
      Landing.saveTable(w.zipWithIndex.map { case (row, j) => (j.toLong, shift(j), row.toSeq) }
        .toSeq.toDF("j", "shift", "w"), table, s"$path/whiten")
    }
    val rows = spark.table(table).orderBy("j").collect() // d rows — bounded
    whitenWith(emb, rows.map(_.getSeq[Double](2).toArray), rows.map(_.getDouble(1)))
  }

  /** The row-local transform half: white_j = Σ_l W[j][l]·x_l − shift_j
    * with the matrix baked in as plan literals (zero shuffles/joins).
    * Lanes go through the SAME 6-dp round the moment pass lifted — the
    * whitener's μ/C describe the rounded values, and transforming raw
    * floats instead would amplify the raw-vs-rounded gap by 1/√eps
    * along near-null directions (a constant lane would read ~1e-5, not
    * the exact 0 the degenerate-lane law pins). */
  def whitenWith(emb: DataFrame, w: Array[Array[Double]],
      shift: Array[Double]): DataFrame = {
    val r6 = transform(col("embedding"), x => round(x.cast("double"), 6))
    emb.select(col("vec_id"), posexplode(array(
      w.indices.map(j =>
        round(litDot(r6, w(j)) - lit(shift(j)), 6)): _*)))
      .toDF("vec_id", "lane", "v")
      .select(col("vec_id"), col("lane").cast("long").as("lane"), col("v"))
  }

  /** The moment-collect + eigensolve half: (W, shift = Wμ). */
  def whitener(emb: DataFrame,
      eps: Double = 1e-6): (Array[Array[Double]], Array[Double]) = {
    val rows = embedMomentSums(emb).collect()
    var n = 0.0
    val firsts = scala.collection.mutable.Map.empty[Int, BigDecimal]
    val seconds = scala.collection.mutable.Map.empty[(Int, Int), BigDecimal]
    rows.foreach { r =>
      val l = r.getLong(0).toInt; val m = r.getLong(1).toInt
      val s = BigDecimal(r.getDecimal(2))
      if (l == -1 && m == -1) n = s.toDouble
      else if (m == -1) firsts(l) = s
      else seconds((l, m)) = s
    }
    val d = firsts.size
    require(d > 0 && n > 0, "whitening needs a nonempty corpus")
    val mu = Array.tabulate(d)(l => firsts(l).toDouble / n / 1e6)
    val cov = Array.tabulate(d, d) { (l, m) =>
      val s = seconds(if (l <= m) (l, m) else (m, l))
      s.toDouble / n / 1e12 - mu(l) * mu(m)
    }
    val (lam, u) = jacobiEigen(cov)
    val w = Array.tabulate(d, d) { (j, l) =>
      var acc = 0.0
      var i = 0
      while (i < d) {
        acc += u(j)(i) * u(l)(i) / math.sqrt(math.max(lam(i), 0.0) + eps)
        i += 1
      }
      acc
    }
    val shift = Array.tabulate(d)(j =>
      (0 until d).map(l => w(j)(l) * mu(l)).sum)
    (w, shift)
  }

  def topKCosineLsh(emb: DataFrame, isQuery: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val banded = hyperplaneBands(emb)
    val qBanded = banded.filter(isQuery)
      .select(col("band"), col("bucket"),
        col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // Score BEFORE deduplicating band collisions: a (query, vector) pair
    // that collides in several bands scores identically each time, so the
    // dedup is a (query_id, vec_id) max — and the operator's only big
    // exchange then carries 24-byte (query_id, vec_id, score) rows instead
    // of two full embedding vectors (~40× narrower at dim 64).
    val scored = banded.join(qBanded, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding")).as("score"))
      .groupBy("query_id", "vec_id")
      .agg(max(col("score")).as("score"))
    topKCut(scored, k)
  }

  /** MULTI-PROBE LSH search (Lv et al., VLDB 2007 — public): a near
    * neighbor that disagrees with the query on ONE sign bit of a band
    * misses that band's bucket, so each query additionally probes every
    * bucket at Hamming distance 1 — recall rises the way it would with
    * more hash tables, but from the SAME index (the published
    * memory/recall trade; the distance-1 ring is the dominant
    * perturbation term in the success-probability expansion, probed
    * here exhaustively since a band is only `bitsPerBand` bits wide).
    *
    * Scale shape: identical to [[topKCosineLsh]] — the corpus side is
    * banded once and never re-hashed; only the QUERY side fans out
    * (1 + bitsPerBand)× before the bucket equi-join, and the query set
    * is bounded by contract. Candidate count grows with the probed
    * buckets' occupancy, the dial's documented cost. Same
    * score-then-max-dedup discipline: the big exchange carries 24-byte
    * scored pairs, never vectors. The candidate set is a SUPERSET of
    * the single-probe search's (self bucket = the XOR-0 probe), so
    * recall at k never drops (spec-pinned). */
  def topKCosineLshMp(emb: DataFrame, isQuery: org.apache.spark.sql.Column,
      k: Int, bitsPerBand: Int = 4): DataFrame = {
    val banded = hyperplaneBands(emb)
    val qProbes = banded.filter(isQuery)
      .select(col("band"), col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        explode(array((lit(0L) +: (0 until bitsPerBand).map(i => lit(1L << i)))
          .map(m => col("bucket").bitwiseXOR(m)): _*)).as("bucket"))
    val scored = banded.join(qProbes, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("embedding")).as("score"))
      .groupBy("query_id", "vec_id")
      .agg(max(col("score")).as("score"))
    topKCut(scored, k)
  }

  /** CORRECTNESS instantiation: the [[defaultProbeIds]] queries under
    * the same seeded hyperplanes as `sim_topk_ann`, distance-1 probing.
    * (No default k here — Scala forbids defaults on two overloads.) */
  def topKCosineLshMp(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    topKCosineLshMp(emb, col("vec_id").isin(defaultProbeIds: _*), k)
  }

}
