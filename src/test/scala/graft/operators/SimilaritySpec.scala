package graft.operators

import graft.SparkTestBase
import graft.operators.Similarity.{IvfPqSpec, Landed, Seeded, Trained}
import org.apache.spark.sql.functions._

/** Similarity search: brute-force top-k against an in-test Scala oracle,
  * and the LSH variant's contract (subset of true scores, twin recall).
  */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val rng = new scala.util.Random(11)
  private val corpus: Seq[(Long, Array[Float])] =
    (0 until 60).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    dot / math.sqrt(na * nb)
  }

  test("topKCosine matches a driver-side exact oracle") {
    val emb = corpus.toDF("vec_id", "embedding")
    val queries = Seq((0L, corpus(0)._2), (7L, corpus(7)._2)).toDF("query_id", "q_emb")
    val got = Similarity.topKCosine(emb, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val want = Seq(0L, 7L).flatMap { q =>
      corpus.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(corpus(q.toInt)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5)
        .map { case (id, _) => (q, id) }
    }.toSet
    assert(got == want)
  }

  test("ivfAssign: scan-side argmax ≡ the crossJoin+max_by aggregate, NaN and tie edges included") {
    // r17 replaced the assignment's broadcast-cross + per-vector max_by
    // shuffle with the scan-side NearestCellId expression; this law pins
    // the two formulations equal on the edges where they could diverge:
    // a zero-norm vector (every cosine NaN — Spark's double order ranks
    // NaN greatest and equal to itself, so the tie-break to the SMALLER
    // cell id decides) and duplicated centroid vectors (exact score tie).
    val base = corpus ++ Seq(
      (900L, Array.fill(32)(0f)),            // zero-norm → all-NaN scores
      (901L, corpus(3)._2.clone()))          // exact twin of a centroid
    val emb = base.toDF("vec_id", "embedding")
    // duplicate centroid vectors under two distinct ids → score ties
    val cents = Seq((3L, corpus(3)._2), (17L, corpus(17)._2),
      (23L, corpus(3)._2), (40L, corpus(40)._2))
      .toDF("cell_id", "c_emb")
    val got = Similarity.ivfAssign(emb, cents)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toSet
    val want = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        graft.functions.GraftFunctions.cosineSim(col("embedding"), col("c_emb")).as("cs"))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("cs"), -col("cell_id"))).as("cell_id"))
      .as[(Long, Long)].collect().toSet
    assert(got == want)
    // the zero-norm row must tie-break to the smallest cell id, and the
    // centroid twin must land on the smaller of the two duplicate ids
    assert(got.contains((900L, 3L)) && got.contains((901L, 3L)))
  }

  test("hardNegatives bands out probable duplicates, keeps the best of the rest") {
    // plant a near-twin of query 0: it would top the plain cosine cut
    // but sits above the dup ceiling, so mining must skip it
    val twin = (2000L, corpus(0)._2.map(x => (x * 1.001f)))
    val junk = (998L, Array.fill(32)(0f))
    val emb = (corpus :+ twin :+ junk).toDF("vec_id", "embedding")
    val queries = Seq((0L, corpus(0)._2)).toDF("query_id", "q_emb")
    val got = Similarity.hardNegatives(emb, queries, k = 5, dupCeil = 0.95)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 5)
    assert(!got.exists(_._2 == 2000L), "near-twin is a false negative, banded out")
    assert(!got.exists(_._2 == 998L), "NaN junk never ranks")
    assert(got.forall(r => r._3 < 0.95))
    // and it is exactly the plain top-k minus the banded rows
    val want = (corpus.drop(1) :+ twin)
      .map { case (id, v) => (id, cosine(corpus(0)._2, v)) }
      .filter(_._2 < 0.95)
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
    assert(got.map(_._2).toSet == want)
  }

  test("zero-norm junk vectors never rank (NaN cosine is filtered, not sorted first)") {
    val junk = (998L, Array.fill(32)(0f)) // zero norm → cosine NaN
    val emb = (corpus :+ junk).toDF("vec_id", "embedding")
    val queries = Seq((0L, corpus(0)._2)).toDF("query_id", "q_emb")
    val got = Similarity.topKCosine(emb, queries, k = 5)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 5)
    assert(!got.exists(_._2 == 998L), "zero-norm vector must not appear in top-k")
    assert(got.forall(r => !r._3.isNaN))
  }

  test("topKCosineIvf recalls a planted twin (same cell) and returns true scores") {
    val twin = (999L, corpus(0)._2.map(x => (x * 1.01).toFloat))
    val emb = (corpus :+ twin).toDF("vec_id", "embedding")
    val queries = Seq((0L, corpus(0)._2)).toDF("query_id", "q_emb")
    val ivf = Similarity.topKCosineIvf(emb, queries, k = 3, nprobe = 2)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(ivf.nonEmpty && ivf.head._2 == 999L, s"twin not top-1: ${ivf.toSeq}")
    ivf.foreach { case (q, v, s) =>
      val truth = cosine(corpus(q.toInt)._2,
        (if (v == 999L) twin._2 else corpus(v.toInt)._2))
      assert(math.abs(s - truth) < 1e-12, s"score mismatch for ($q,$v)")
    }
    // raising nprobe to the full cell count makes IVF exact
    val cells = Similarity.defaultCentroids(emb).count().toInt
    val exact = Similarity.topKCosine(emb, queries, k = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val full = Similarity.topKCosineIvf(emb, queries, k = 3, nprobe = cells)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "nprobe = |cells| must equal exact search")
  }

  test("topKCosineLsh returns true scores and recalls an exact twin as top-1") {
    // plant a near-identical twin of vector 0 so the nearest neighbor is
    // unambiguous; LSH must find it (identical sign bits → all bands collide)
    val twin = (999L, corpus(0)._2.map(x => (x * 1.01).toFloat))
    val emb = (corpus :+ twin).toDF("vec_id", "embedding")
    val ann = Similarity.topKCosineLsh(emb, col("vec_id") === 0L, k = 3)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(ann.nonEmpty && ann.head._2 == 999L, s"twin not top-1: ${ann.toSeq}")
    // every returned score is the true cosine of that pair
    ann.foreach { case (q, v, s) =>
      val truth = cosine(corpus(q.toInt)._2,
        (if (v == 999L) twin._2 else corpus(v.toInt)._2))
      assert(math.abs(s - truth) < 1e-12, s"score mismatch for ($q,$v)")
    }
  }

  test("PQ: encode is the argmin of subspace distances; ADC score is the LUT sum") {
    val m = 4; val kc = 8; val subDim = 8
    val book = Similarity.pqCodebook(m, kc, subDim)
    val emb = corpus.toDF("vec_id", "embedding")
    // driver-side reference encode: argmin over true L2^2, ties to smaller cell
    def refCodes(v: Array[Float]): Seq[Int] = (0 until m).map { s =>
      val slice = v.slice(s * subDim, (s + 1) * subDim)
      (0 until kc).minBy { c =>
        val cb = book(s * kc + c)._3
        val d = slice.zip(cb).map { case (x, cc) => (x - cc) * (x - cc) }.sum
        (d, c)
      }
    }
    val got = Similarity.pqEncode(emb, m, kc, subDim)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5).map(_.toInt)).toMap
    corpus.foreach { case (id, v) =>
      assert(got(id) == refCodes(v), s"vec $id codes")
    }

    // ADC law: the reported score equals the sum of subspace LUT dots of
    // the encoded cells (recomputed driver-side), rounded to 6 dp
    val queries = Similarity.defaultQueries(emb)
    val topk = Similarity.topKPq(emb, queries, 3, m, kc, subDim)
      .as[(Long, Long, Double)].collect()
    assert(topk.nonEmpty)
    val vecs = corpus.toMap
    topk.foreach { case (q, v, score) =>
      val qv = vecs(q)
      val want = (0 until m).map { s =>
        val cb = book(s * kc + got(v)(s))._3
        qv.slice(s * subDim, (s + 1) * subDim).zip(cb)
          .map { case (x, c) => x.toDouble * c }.sum
      }.sum
      assert(math.abs(score - want) < 2e-6, s"($q,$v): $score vs $want")
      assert(q != v, "self-pair leaked")
    }

    // deterministic under repartitioning
    val again = Similarity.topKPq(emb.repartition(7), queries, 3, m, kc, subDim)
      .as[(Long, Long, Double)].collect().toSet
    assert(again == topk.toSet)
  }

  test("clusterSample: ≤ k per cell, a subset of the assignment, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val sample = Similarity.clusterSample(spark, dir, k = 3)
      .as[(Long, Long)].collect().toSeq
    val perCell = sample.groupBy(_._1)
    assert(perCell.values.forall(_.size <= 3))
    val assign = Similarity.kmeansAssignments(spark, dir)
      .as[(Long, Long)].collect().map { case (v, c) => (c, v) }.toSet
    assert(sample.toSet.subsetOf(assign), "sampled rows must keep their true cell")
    // cells with ≥ 3 members are sampled to exactly 3 (cap binds)
    val sizes = assign.groupBy(_._1).view.mapValues(_.size).toMap
    perCell.foreach { case (cell, rows) =>
      assert(rows.size == math.min(3, sizes(cell)))
    }
    assert(Similarity.clusterSample(spark, dir, k = 3)
      .as[(Long, Long)].collect().toSet == sample.toSet, "md5 order ⇒ reproducible")
  }

  test("topKPqIvfSteady (saved quantizers) equals topKPqIvfTrained (per-run retrain)") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val want = rows(Similarity.topKPqIvf(spark, dir, IvfPqSpec(Trained)))
    assert(rows(Similarity.topKPqIvfSteady(spark, dir)) == want)
    assert(rows(Similarity.topKPqIvfSteady(spark, dir)) == want) // memoized call
  }

  test("landed quantizers: landed ≡ memoized ≡ trained, artifacts durable in the catalog") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val want = rows(Similarity.topKPqIvf(spark, dir, IvfPqSpec(Trained)))
    // landed serve path — first call lands on a fresh catalog, later
    // calls (and a restarted process on the same catalog) read the tables
    assert(rows(Similarity.topKPqIvf(spark, dir, IvfPqSpec(Landed))) == want)
    assert(rows(Similarity.topKPqIvfSteady(spark, dir)) == want)
    // both artifact tables exist as durable catalog parquet tables
    val prefix = Similarity.quantizerPrefix(dir)
    assert(spark.catalog.tableExists(s"${prefix}_centroids"))
    assert(spark.catalog.tableExists(s"${prefix}_codebook"))
    // the landed book round-trips bit-exactly vs a fresh training
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val landedBook = Similarity.landedQuantizers(spark, dir)._2
    val freshBook = Similarity.pqCodebookTrained(emb)
    assert(landedBook.map(t => (t._1, t._2, t._3.toSeq)) ==
      freshBook.map(t => (t._1, t._2, t._3.toSeq)))
    // landed centroids ≡ a fresh kmeansCentroidsAuto run (round 16: the
    // k∝N landed family trains through the size dispatch — flat at this
    // fixture's seed count, hier above the pinned crossover)
    val landedCents = Similarity.landedQuantizers(spark, dir)._1
      .as[(Long, Array[Float])].collect().map(t => (t._1, t._2.toSeq)).toSet
    val freshCents = Similarity.kmeansCentroidsAuto(emb)
      .as[(Long, Array[Float])].collect().map(t => (t._1, t._2.toSeq)).toSet
    assert(landedCents == freshCents)
  }

  test("kmeansAssignmentsSteady / clusterSampleSteady equal their retrain siblings") {
    val dir = "/root/testdata/sf0.001"
    val wantAssign = Similarity.kmeansAssignments(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(Similarity.kmeansAssignmentsSteady(spark, dir)
      .as[(Long, Long)].collect().toSet == wantAssign)
    val wantSample = Similarity.clusterSample(spark, dir, k = 3)
      .as[(Long, Long)].collect().toSet
    assert(Similarity.clusterSampleSteady(spark, dir, k = 3)
      .as[(Long, Long)].collect().toSet == wantSample)
  }

  test("topKPqIvfTrained: k per query, scores from the trained book's ADC range") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Trained))
      .as[(Long, Long, Double)].collect().toSeq
    val perQuery = rows.groupBy(_._1)
    assert(perQuery.keySet == Similarity.defaultProbeIds.toSet)
    perQuery.values.foreach { vs =>
      assert(vs.size == 5)
      assert(vs.map(_._3).forall(s => !s.isNaN && !s.isInfinite))
      // results come back rank-ordered within each query by (score desc, id)
      assert(vs.map(v => (-v._3, v._2)) == vs.map(v => (-v._3, v._2)).sorted)
    }
  }

  test("multi-probe LSH: true scores, candidate superset of single-probe, recall never drops") {
    val twin = (999L, corpus(0)._2.map(x => (x * 1.01).toFloat))
    val emb = (corpus :+ twin).toDF("vec_id", "embedding")
    val isQ = col("vec_id") === 0L
    // with k spanning the corpus, each search returns exactly its
    // candidate set — multi-probe's must contain single-probe's
    val mpAll = Similarity.topKCosineLshMp(emb, isQ, k = 61)
      .as[(Long, Long, Double)].collect()
    val spAll = Similarity.topKCosineLsh(emb, isQ, k = 61)
      .as[(Long, Long, Double)].collect()
    assert(spAll.map(_._2).toSet.subsetOf(mpAll.map(_._2).toSet),
      "Hamming-1 probing must only add candidates (xor-0 keeps the self bucket)")
    // every score is the true cosine of its pair
    mpAll.foreach { case (q, v, s) =>
      val truth = cosine(corpus(q.toInt)._2,
        (if (v == 999L) twin._2 else corpus(v.toInt)._2))
      assert(math.abs(s - truth) < 1e-12, s"score mismatch for ($q,$v)")
    }
    // recall vs exact at k never drops vs single-probe (true-score
    // rank over a candidate superset)
    val exact = Similarity.topKCosine(emb,
        Seq((0L, corpus(0)._2)).toDF("query_id", "q_emb"), k = 5)
      .as[(Long, Long, Double)].collect().map(_._2).toSet
    def recall(rows: Seq[(Long, Long, Double)]): Int =
      rows.sortBy(t => (-t._3, t._2)).take(5).map(_._2).toSet.intersect(exact).size
    assert(recall(mpAll.toSeq) >= recall(spAll.toSeq))
  }

  test("topKPqIvfRefined: true-cosine scores, exact rank within the wide ADC cut") {
    val emb = corpus.toDF("vec_id", "embedding")
    val queries = Seq((0L, corpus(0)._2)).toDF("query_id", "q_emb")
    val cents = Similarity.defaultCentroids(emb)
    val book = Similarity.pqCodebook(4, 8, 8)
    val index = Similarity.IvfPqIndex.build(emb, cents, book)
    val refined = Similarity.refinedSearchIndex(emb, index, queries, k = 3,
        r = 4, nprobe = 2)
      .as[(Long, Long, Double)].collect()
    assert(refined.length == 3)
    // every returned score is the true cosine, not the ADC approximation
    refined.foreach { case (q, v, s) =>
      assert(math.abs(s - cosine(corpus(q.toInt)._2, corpus(v.toInt)._2)) < 1e-12)
    }
    // and the ids are exactly the exact-cosine rank of the stage-1 cut
    val cand = Similarity.searchIvfPqIndex(index, queries, 12, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    val want = corpus.filter(c => cand.contains(c._1))
      .map { case (id, v) => (id, cosine(corpus(0)._2, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
    assert(refined.sortBy(t => (-t._3, t._2)).map(_._2).toSeq == want)
  }

  test("wide refine equals IVF true-score search (r spanning the probed cells)") {
    val emb = corpus.toDF("vec_id", "embedding")
    val queries = Seq((0L, corpus(0)._2)).toDF("query_id", "q_emb")
    val cents = Similarity.defaultCentroids(emb)
    val book = Similarity.pqCodebook(4, 8, 8)
    // k·r ≥ corpus: stage 1 keeps every probed-cell candidate, so the
    // re-rank IS the true-cosine IVF search over the same probes
    val wide = Similarity.refinedSearchIndex(emb,
        Similarity.IvfPqIndex.build(emb, cents, book), queries, k = 3,
        r = 30, nprobe = 2)
      .as[(Long, Long, Double)].collect().toSet
    val ivf = Similarity.topKCosineIvf(emb, queries, k = 3, nprobe = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(wide == ivf)
  }

  test("refined recall at k dominates the unrefined ADC cut (real corpus)") {
    val dir = "/root/testdata/sf0.001"
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.topKCosine(spark, dir)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      val got = df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (got & exact).size.toDouble / exact.size
    }
    val plain = recall(Similarity.topKPqIvf(spark, dir, IvfPqSpec(Seeded)))
    val refined = recall(Similarity.topKPqIvf(spark, dir, IvfPqSpec(Seeded),
      refine = Some(4)))
    assert(refined >= plain,
      s"refine must not lose recall: $refined < $plain")
  }

  test("topKPqIvfRefinedLanded equals the trained refine recomputed") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val index = Similarity.IvfPqIndex.build(emb,
      Similarity.kmeansCentroidsAuto(emb), Similarity.pqCodebookTrained(emb))
    val want = Similarity.refinedSearchIndex(emb, index,
        Similarity.defaultQueries(emb), k = 5, r = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(Similarity.topKPqIvf(spark, dir, IvfPqSpec(Landed), refine = Some(4))
      .as[(Long, Long, Double)].collect().toSet == want)
  }

  test("knnGraph: nn nearest same-cell neighbors, true scores, junk emits no edges") {
    val junk = (998L, Array.fill(32)(0f))
    val all = corpus :+ junk
    val emb = all.toDF("vec_id", "embedding")
    val cents = Similarity.defaultCentroids(emb)
    val got = Similarity.knnGraph(emb, cents, nn = 3)
      .as[(Long, Long, Double)].collect()
    // driver-side oracle: argmax-cell assignment (ties → smaller cell),
    // within-cell top-3 by (cosine desc, id), NaN pairs dropped
    val centSeq = Seq(corpus(0), corpus(37))
    val asg = corpus.map { case (id, v) =>
      id -> centSeq.map { case (cid, cv) => (cid, cosine(v, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.head._1
    }.toMap
    val want = corpus.flatMap { case (id, v) =>
      corpus.filter(o => o._1 != id && asg(o._1) == asg(id))
        .map(o => (o._1, cosine(v, o._2)))
        .sortBy { case (nid, s) => (-s, nid) }.take(3)
        .map { case (nid, _) => (id, nid) }
    }.toSet
    assert(got.map(t => (t._1, t._2)).toSet == want)
    got.foreach { case (id, nid, s) =>
      assert(math.abs(s - cosine(corpus(id.toInt)._2, corpus(nid.toInt)._2)) < 1e-12)
    }
    assert(!got.exists(t => t._1 == 998L || t._2 == 998L),
      "zero-norm vector neither sources nor receives edges")
  }

  test("residual IVF-PQ: trained-on-residual ADC approximates the true dot better than raw ADC") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val truth = emb.as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; for (i <- a.indices) s += a(i).toDouble * b(i); s
    }
    val cents = Similarity.kmeansCentroids(emb)
    val queries = Similarity.defaultQueries(emb)
    val nCells = cents.count().toInt
    // probe EVERY cell so both searches score the whole corpus and the
    // comparison is over the same (query, vector) pairs
    def errOf(df: org.apache.spark.sql.DataFrame): Double = {
      val rows = df.as[(Long, Long, Double)].collect()
      assert(rows.nonEmpty)
      rows.map { case (q, v, s) =>
        math.abs(s - dot(truth(q), truth(v))) }.sum / rows.length
    }
    val k = truth.size
    val resid = Similarity.residuals(emb, cents)
    val bookRes = Similarity.pqCodebookTrained(resid.select("vec_id", "embedding"))
    val resErr = errOf(Similarity.searchIvfPqIndex(
      Similarity.IvfPqIndex.build(emb, cents, bookRes, residual = true),
      queries, k, nCells))
    val bookRaw = Similarity.pqCodebookTrained(emb)
    val rawErr = errOf(Similarity.searchIvfPqIndex(
      Similarity.IvfPqIndex.build(emb, cents, bookRaw), queries, k, nCells))
    assert(resErr < rawErr,
      s"residual encoding must cut ADC error: residual $resErr vs raw $rawErr")
  }

  test("topKPqIvfResLanded equals the residual retrain, serves bucket-pruned") {
    val dir = "/root/testdata/sf0.001"
    val want = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Trained, residual = true))
      .as[(Long, Long, Double)].collect().toSet
    val served = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Landed, residual = true))
    assert(served.as[(Long, Long, Double)].collect().toSet == want)
    // the landed residual code table serves through a bucket-pruned scan
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val sel = raw"SelectedBucketsCount: (\d+) out of (\d+)".r
    val m = sel.findFirstMatchIn(plan)
    assert(m.isDefined, s"res_codes serve must be bucket-pruned:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      "probed cells must select a strict subset of buckets")
  }

  test("densityPrune: densest neighborhood drops, isolated and sparse vectors keep") {
    // plant a tight clump of near-copies of vector 0: its members' mean
    // neighbor cosine ≈ 1, the densest region by construction
    val clump = (0 until 6).map(i =>
      (3000L + i, corpus(0)._2.map(x => x * (1.0f + 0.001f * i))))
    val junk = (998L, Array.fill(32)(0f))
    val all = corpus ++ clump :+ junk
    val emb = all.toDF("vec_id", "embedding")
    val cents = Similarity.defaultCentroids(emb)
    val kept = Similarity.densityPrune(emb, cents, nn = 3, pct = 0.1)
      .as[(Long, Option[Double])].collect()
    val keptIds = kept.map(_._1).toSet
    // the clump dominates the densest decile — most of it must drop
    assert(clump.map(_._1).count(id => !keptIds.contains(id)) >= 5,
      s"planted clump must be pruned, kept: ${keptIds.intersect(clump.map(_._1).toSet)}")
    // the zero-norm junk vector has no edges → NULL density → keeps
    assert(keptIds.contains(998L), "edgeless junk keeps (NULL density)")
    assert(kept.find(_._1 == 998L).get._2.isEmpty)
    // drop count matches the percentile contract: ≤ pct of the SCORED
    // vectors (ties at the cutoff keep)
    val scored = all.size - 1 // junk is unscored
    assert(all.size - kept.length <= math.ceil(scored * 0.1) + 1)
  }

  test("densityPruneSteady (landed centroids) equals the retrain build") {
    val dir = "/root/testdata/sf0.001"
    val want = Similarity.densityPruneDocs(spark, dir)
      .as[(Long, Option[Double])].collect().toSet
    assert(Similarity.densityPruneSteady(spark, dir)
      .as[(Long, Option[Double])].collect().toSet == want)
  }

  test("knnGraphSteady (landed centroids) equals the retrain build") {
    val dir = "/root/testdata/sf0.001"
    val want = Similarity.knnGraphDocs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(Similarity.knnGraphSteady(spark, dir)
      .as[(Long, Long, Double)].collect().toSet == want)
  }

  test("int8Quantize: codes bounded, dequantization error ≤ scale/2, zero vector safe") {
    val emb = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),  // zero vector: scale 0, codes 0
      (3L, Array(-2.0f, 1.0f, 0.5f, -0.25f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.int8Quantize(emb)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val src = Map(
      1L -> Array(1.0, -0.5, 0.25, 0.0),
      2L -> Array(0.0, 0.0, 0.0, 0.0),
      3L -> Array(-2.0, 1.0, 0.5, -0.25))
    out.foreach { case (id, lane, q, scale) =>
      assert(math.abs(q) <= 127, s"code out of int8 range: $q")
      val x = src(id)(lane.toInt)
      // scale in the OUTPUT is 9-dp rounded; a half-way code (error
      // exactly scale/2) can exceed the bound by |q|·5e-10 — allow it
      assert(math.abs(x - q * scale) <= scale / 2 + 127 * 5e-10,
        s"dequant error for vec $id lane $lane: x=$x q=$q scale=$scale")
    }
    assert(out.filter(_._1 == 2L).forall(r => r._3 == 0L && r._4 == 0.0))
    // the max-|x| lane always hits ±127 exactly (scale definition)
    assert(out.find(r => r._1 == 3L && r._2 == 0L).get._3 == -127L)
  }

  test("topKPqIvf equals a driver-side IVF-prune + ADC-score recompute") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val m = 8; val kc = 16; val subDim = 8; val nprobe = 4; val k = 5
    val book = Similarity.pqCodebook(m, kc, subDim)
      .map { case (s, c, v) => (s, c) -> v }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = emb.filter(_._1 % 37 == 0)
    def argmaxCells(v: Array[Float], n: Int): Seq[Long] = cents
      .map { case (cid, ce) => (cid, cos(v, ce)) }
      .sortBy { case (cid, cs) => (-cs, cid) }.take(n).map(_._1).toSeq
    val assign = emb.map { case (id, v) => id -> argmaxCells(v, 1).head }.toMap
    def code(v: Array[Float], s: Int): Int = (0 until kc).minBy { c =>
      val cv = book((s, c))
      val d = cv.map(x => x * x).sum -
        2.0 * cv.indices.map(j => v(s * subDim + j).toDouble * cv(j)).sum
      (d, c)
    }
    val want = (for {
      (qid, qv) <- emb.filter(t => Similarity.defaultProbeIds.contains(t._1))
      probed = argmaxCells(qv, nprobe).toSet
      scored = emb.filter { case (vid, _) =>
        vid != qid && probed.contains(assign(vid)) }
        .map { case (vid, vv) =>
          val s = (0 until m).map { sb =>
            val cv = book((sb, code(vv, sb)))
            cv.indices.map(j => qv(sb * subDim + j).toDouble * cv(j)).sum
          }.sum
          (vid, r6(s))
        }
      top <- scored.sortBy { case (vid, sc) => (-sc, vid) }.take(k)
    } yield (qid, top._1, top._2)).toSet
    val got = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Seeded))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("rpProject: every lane is e·s/√dim under the seeded sign matrix, deterministically") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 5L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = emb.toDF("vec_id", "embedding")
    val signs = Similarity.rpSigns(16, 64)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (id, v) <- emb; (row, lane) <- signs.zipWithIndex
    } yield {
      // same left-fold order as litDot / list_inner_product
      var acc = 0.0
      var j = 0
      while (j < 64) { acc += v(j).toDouble * row(j); j += 1 }
      (id, lane.toLong, r6(acc / 8.0))
    }).toSet
    val got = Similarity.rpProject(df).as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    // seeded matrix ⇒ bit-identical across invocations
    assert(Similarity.rpProject(df).as[(Long, Long, Double)].collect().toSet == got)
  }

  test("topKPqSteady (saved book) equals topKPqTrained (per-run retrain)") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val want = rows(Similarity.topKPqTrained(spark, dir))
    assert(rows(Similarity.topKPqSteady(spark, dir)) == want)
    // second call serves from the memoized book — same answer
    assert(rows(Similarity.topKPqSteady(spark, dir)) == want)
  }

  test("trained PQ codebook beats the seeded one on clustered data") {
    val m = 4; val kc = 8; val subDim = 8; val k = 3
    // 4 tight clusters: Lloyd's puts each subspace's centroids on the
    // cluster structure a data-blind seeded codebook cannot see (kc = 8
    // gives two centroids per cluster, so there is intra-cluster
    // resolution to rank with). initStep = 7 → init ids 0, 7, …, 49
    // cover every cluster (mod 4) twice.
    val jit = new scala.util.Random(17)
    val centers = Array.fill(4)(Array.fill(32)(jit.nextGaussian().toFloat))
    val cl: Seq[(Long, Array[Float])] = (0 until 56).map { i =>
      val v = centers(i % 4).map(_ + jit.nextGaussian().toFloat * 0.15f)
      (i.toLong, v)
    }
    val emb = cl.toDF("vec_id", "embedding")
    val qIds = Seq(1L, 2L, 3L)
    val queries = cl.filter(t => qIds.contains(t._1)).toDF("query_id", "q_emb")
    val seededBook = Similarity.pqCodebook(m, kc, subDim)
    val trainedBook = Similarity.pqCodebookTrained(emb, m, kc, subDim,
      initStep = 7, iters = 2)

    // ADC distortion — the trained objective itself: mean |q·v − adc(q,v)|
    // over all (query, corpus) pairs, with encode/LUT replayed driver-side
    def adc(book: Seq[(Int, Int, Array[Double])], q: Array[Float], v: Array[Float]): Double =
      (0 until m).map { s =>
        val vs = v.slice(s * subDim, (s + 1) * subDim)
        val qs = q.slice(s * subDim, (s + 1) * subDim)
        val cells = book.filter(_._1 == s)
        val (_, _, cb) = cells.minBy { case (_, c, arr) =>
          (arr.map(x => x * x).sum - 2 * vs.zip(arr).map { case (x, cc) => x * cc }.sum, c)
        }
        qs.zip(cb).map { case (x, cc) => x.toDouble * cc }.sum
      }.sum
    def distortion(book: Seq[(Int, Int, Array[Double])]): Double = {
      val pairs = for (q <- qIds; (id, v) <- cl if id != q) yield {
        val qv = cl(q.toInt)._2
        math.abs(qv.zip(v).map { case (x, y) => x.toDouble * y }.sum - adc(book, qv, v))
      }
      pairs.sum / pairs.size
    }
    val dSeeded = distortion(seededBook)
    val dTrained = distortion(trainedBook)
    assert(dTrained < dSeeded / 2,
      s"trained distortion $dTrained not well below seeded $dSeeded")

    // recall@k vs exact inner-product top-k, via the actual operator
    def exactTop(q: Long): Set[Long] = {
      val qv = cl(q.toInt)._2
      cl.filter(_._1 != q)
        .map { case (id, v) => (id, v.zip(qv).map { case (x, y) => x.toDouble * y }.sum) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
    }
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val byQ = df.select("query_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      qIds.map { q =>
        byQ.getOrElse(q, Array.empty).map(_._2).toSet
          .intersect(exactTop(q)).size.toDouble / k
      }.sum / qIds.size
    }
    val seeded = recall(Similarity.topKPq(emb, queries, k, m, kc, subDim))
    val trained = recall(Similarity.topKPqWithBook(emb, queries, k, trainedBook))
    assert(trained >= seeded, s"trained recall $trained < seeded $seeded")
  }

  test("kmeansCentroids recovers the per-cluster means on separable clusters") {
    // 3 tight clusters on orthogonal axes; ids arranged so the seeded
    // init (vec_id % 29 == 0 → ids 0, 29, 58) lands one seed per cluster
    val jitter = new scala.util.Random(3)
    def cluster(baseId: Long, axis: Int, n: Int): Seq[(Long, Array[Float])] =
      (0 until n).map { i =>
        val v = Array.fill(4)(jitter.nextGaussian().toFloat * 0.05f)
        v(axis) = 1.0f + jitter.nextGaussian().toFloat * 0.05f
        (baseId + i, v)
      }
    val a = cluster(0L, 0, 10); val b = cluster(29L, 1, 10); val c = cluster(58L, 2, 10)
    val emb = (a ++ b ++ c).toDF("vec_id", "embedding")
    val cent = Similarity.kmeansCentroids(emb)
      .as[(Long, Array[Float])].collect().toMap
    assert(cent.keySet == Set(0L, 29L, 58L), s"cells: ${cent.keySet}")
    for ((cellId, cl) <- Seq((0L, a), (29L, b), (58L, c)); lane <- 0 until 4) {
      val mean = cl.map(_._2(lane).toDouble).sum / cl.size
      assert(math.abs(cent(cellId)(lane) - mean) < 1e-5,
        s"cell $cellId lane $lane: ${cent(cellId)(lane)} vs $mean")
    }
  }

  test("annRecall counts the per-query overlap of IVF-PQ against exact cosine") {
    val dir = "/root/testdata/sf0.001"
    val got = Similarity.annRecall(spark, dir, IvfPqSpec(Seeded))
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, r) => q -> ((n, r)) }.toMap
    // every probe query reports, even at zero overlap
    assert(got.keySet == Similarity.defaultProbeIds.toSet)
    // ground truth: recompute the overlap from the two search operators
    val ann = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Seeded), 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val exact = Similarity.topKCosine(spark, dir, 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    got.foreach { case (q, (n, r)) =>
      val want = (ann & exact).count(_._1 == q)
      assert(n == want, s"query $q: overlap $n vs $want")
      assert(math.abs(r - n / 5.0) < 1e-9 && r >= 0.0 && r <= 1.0)
    }
  }

  test("psiDrift: a mirrored slice scores exactly zero; a shifted mix scores high") {
    def vec(kind: Int, j: Int): Array[Float] = {
      // two well-separated directions with small deterministic jitter
      val v = Array.fill(4)(0.01f * ((j % 7) + 1))
      v(kind) = 1f
      v
    }
    // even ids (reference): 30 of direction 0, 30 of direction 1;
    // odd ids mirror the even vectors exactly -> per-cell counts equal
    val mirrored = (0 until 60).flatMap { i =>
      val v = vec(i % 2, i)
      Seq((2L * i, v), (2L * i + 1, v))
    }.toDF("vec_id", "embedding")
    val calm = Similarity.psiDrift(mirrored, initEvery = 29)
      .select("contrib").as[Double].collect()
    assert(calm.nonEmpty && calm.forall(_ == 0.0),
      s"mirrored slices must score exactly zero, got ${calm.toSeq}")

    // the monitored slice collapses onto direction 0: drift must flag
    val shifted = ((0 until 60).map(i => (2L * i, vec(i % 2, i))) ++
      (0 until 60).map(i => (2L * i + 1, vec(0, i))))
      .toDF("vec_id", "embedding")
    val psi = Similarity.psiDrift(shifted, initEvery = 29)
      .agg(sum("contrib")).as[Double].head()
    assert(psi > 0.25, s"collapsed mix must cross the actionable PSI, got $psi")
  }

  test("ivfAssignHier: stride 1 degenerates to the exact flat assignment") {
    // with every centroid its own coarse seed, stage 1 IS the flat
    // argmax and stage 2 re-confirms it within a singleton-or-better
    // group — the law that pins the two-level construction to ivfAssign
    val emb = corpus.toDF("vec_id", "embedding")
    val cent = Similarity.defaultCentroids(emb)
    val flat = Similarity.ivfAssign(emb, cent)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    val hier = Similarity.ivfAssignHier(emb, cent, stride = Some(1L))
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    assert(hier == flat)
  }

  test("hierIndex: the distributed dense re-key ≡ the global row_number re-key") {
    // round-15 rank-device law: the coarse-training prep ranks the
    // centroid table with [[Relational.denseRankByKey]] (range-bucketed,
    // no single-partition sort — k ∝ N in the target regime); it must
    // hand the inner trainer EXACTLY the ids the oracle's
    // `row_number() OVER (ORDER BY cell_id) − 1` spells, or the seed set
    // (vec_id % ⌈√k⌉ = 0) diverges and every adopting oracle breaks
    val emb = corpus.toDF("vec_id", "embedding")
    val cent = Similarity.kmeansCentroids(emb).localCheckpoint()
    val got = Relational.denseRankByKey(cent, "cell_id", "vec_id")
      .select("cell_id", "vec_id").as[(Long, Long)].collect().toMap
    val want = cent
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cell_id"))))
      .select(col("cell_id"), (col("rn") - 1).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, "distributed rank must be bit-identical to the global window")
  }

  test("kmeansCentroidsAuto: flat at/below the dispatch boundary, hier above") {
    // round-16 dispatch law: the trainer is chosen by the deterministic
    // seed count |{vec_id % initEvery = 0}| against the pinned
    // crossover, and each branch is BIT-IDENTICAL to the trainer it
    // names — so the DuckDB oracle's replay of the same count+predicate
    // (kmeansAutoCteBlock's kdis scalar) selects the same recurrence
    // at every scale factor
    val emb = corpus.toDF("vec_id", "embedding")
    val seeds = emb.filter(col("vec_id") % 29 === 0).count()
    def lanes(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cell_id"), posexplode(col("c_emb")))
      .toDF("cell_id", "lane", "v")
      .as[(Long, Int, Float)].collect().toSet
    val flat = lanes(Similarity.kmeansCentroids(emb))
    assert(lanes(Similarity.kmeansCentroidsAuto(emb, flatMaxSeeds = seeds)) == flat,
      "seeds <= boundary must run the exact flat recurrence")
    val hier = lanes(Similarity.kmeansCentroidsHier(emb))
    assert(lanes(Similarity.kmeansCentroidsAuto(emb, flatMaxSeeds = seeds - 1)) == hier,
      "seeds > boundary must run the two-level pruned recurrence")
    // the production default is the measured crossover pin (round-18
    // interleaved brackets on both trainer corpora: d=64 parity at
    // k≈4.3k, inversion by k≈8.7k); the oracle generator interpolates
    // the same constant — move both together
    assert(Similarity.FlatTrainerMaxSeeds == 4096L)
  }

  test("kmeansCentroidsAuto's flat dispatch is one bounded read: the plain flat trainer's jobs") {
    // the dispatch's bounded read also fetches the flat path's seeds, so
    // the flat dispatch starts exactly the jobs of kmeansCentroids (its
    // one seed collect + the same Lloyd's rounds); pinning the seed frame
    // before that read cost one job more
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val (auto, autoJobs) = jobsDuring(spark)(Similarity.kmeansCentroidsAuto(emb).collect())
    val (flat, flatJobs) = jobsDuring(spark)(Similarity.kmeansCentroids(emb).collect())
    assert(auto.toSeq == flat.toSeq, "sf0.001 dispatches to the flat recurrence")
    assert(autoJobs == flatJobs, s"flat dispatch started $autoJobs jobs, kmeansCentroids $flatJobs")
  }

  test("ensureHierIndex: the landed index equals a fresh hierIndex computation") {
    // the landed ≡ trained law for the round-14 index artifact: landing
    // through parquet and reloading must change neither the live coarse
    // set nor the centroid→group membership, so every steady serve off
    // the landed tables answers exactly like the in-plan form
    val emb = corpus.toDF("vec_id", "embedding")
    val cent = Similarity.kmeansCentroids(emb)
    val (cl0, g0) = Similarity.hierIndex(cent)
    val prefix = s"hieridx_spec_${System.nanoTime()}"
    val (cl1, g1) = Similarity.ensureHierIndex(spark, prefix, cent)
    // second call must READ, not retrain — same rows again
    val (cl2, g2) = Similarity.ensureHierIndex(spark, prefix,
      sys.error("must not retrain when the tables exist"))
    def liveSet(df: org.apache.spark.sql.DataFrame) =
      df.select("g_id").as[Long].collect().toSet
    def membership(df: org.apache.spark.sql.DataFrame) =
      df.select("cell_id", "g_id").as[(Long, Long)].collect().toMap
    assert(liveSet(cl1) == liveSet(cl0) && liveSet(cl2) == liveSet(cl0))
    assert(membership(g1) == membership(g0) && membership(g2) == membership(g0))
  }

  test("ivfAssignHier: no forced hint on the k-proportional grouped join") {
    // the grouped member table is k rows and k ∝ N in the operator's
    // target regime — a forced broadcast there is the decontaminateScrub
    // OOM class (round-13 advisory); AQE picks that join's strategy.
    // Since r17 stage 1 is the scan-side argmax (no join at all), so the
    // plan must carry ZERO forced hints — and zero broadcast joins on
    // any k-proportional side.
    val emb = corpus.toDF("vec_id", "embedding")
    val cent = Similarity.defaultCentroids(emb)
    val plan = Similarity.ivfAssignHier(emb, cent)
      .queryExecution.analyzed.toString
    val hints = "ResolvedHint".r.findAllIn(plan).size
    assert(hints == 0,
      s"expected no forced hints (stage 1 is scan-side since r17), got $hints:\n$plan")
  }

  test("ivfAssignHier: deterministic, complete, and exact-tracking on clusterable data") {
    // The operator's use case is a CLUSTERABLE corpus (SemDedup/IVF
    // train cells because density exists) — on such data a vector and
    // its true centroid see the same coarse-seed landscape, so the
    // vector follows its centroid into the same group and the
    // two-level argmax recovers the exact one. (On an isotropic
    // no-structure corpus coarse pruning degrades by construction —
    // the implementation's stage-for-stage correctness is pinned
    // hash-exact by the sim_kmeans_assign_hier oracle, and the
    // degenerate stride-1 law above is corpus-free.)
    val clustered = (0 until 232).map { i =>
      val v = Array.fill(16)(0f)
      v(i % 8) = 1f                       // 8 well-separated directions
      v(8 + (i % 7)) = 0.02f * ((i % 5) + 1) // deterministic jitter lanes
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    // 232 rows -> init seeds 0,29,...,203, whose ids mod 8 cover all 8
    // directions: Lloyd's converges to one true centroid per cluster
    val cent = Similarity.kmeansCentroids(clustered)
    val a = Similarity.ivfAssignHier(clustered, cent)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    val b = Similarity.ivfAssignHier(clustered, cent)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    assert(a == b, "two-level assignment must be deterministic")
    val exact = Similarity.ivfAssign(clustered, cent)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    assert(a.keySet == exact.keySet, "every vector must receive a cell")
    val agree = a.count { case (v, c) => exact(v) == c }.toDouble / a.size
    assert(agree >= 0.95,
      s"two-level must track exact on clusterable data: agreement $agree")
  }

  // ── embedding whitening (E209) ───────────────────────────────────────

  test("embedMomentSums: exact integer moments on a hand corpus") {
    val tiny = Seq(
      (1L, Array(0.5f, -0.25f, 0.0f)),
      (2L, Array(0.1f, 0.75f, -1.0f)),
      (3L, Array(-0.2f, 0.5f, 0.25f))
    ).toDF("vec_id", "embedding")
    val micros = Seq(
      Array(500000L, -250000L, 0L),
      Array(100000L, 750000L, -1000000L),
      Array(-200000L, 500000L, 250000L))
    val got = Similarity.embedMomentSums(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> BigInt(r.getDecimal(2).toBigInteger))
      .toMap
    assert(got((-1L, -1L)) == BigInt(3))
    for (l <- 0 until 3) {
      assert(got((l.toLong, -1L)) == BigInt(micros.map(_(l)).sum),
        s"first moment lane $l")
      for (m <- l until 3)
        assert(got((l.toLong, m.toLong)) ==
          BigInt(micros.map(v => v(l) * v(m)).sum), s"second moment ($l,$m)")
    }
    // exactly d(d+1)/2 + d + 1 rows — the tail-slice fan-out emits no l > m
    assert(got.size == 6 + 3 + 1)
  }

  test("whitenEmbeddings: whitened covariance is I (degenerate lane floored to 0), mean 0") {
    val rnd = new scala.util.Random(7)
    val n = 500
    val rows = (0 until n).map { i =>
      val g1 = rnd.nextGaussian(); val g2 = rnd.nextGaussian()
      val g3 = rnd.nextGaussian(); val g4 = rnd.nextGaussian()
      val g5 = rnd.nextGaussian()
      // correlated but FULL-RANK (5 factors → 5 data lanes) + one
      // CONSTANT (zero-variance) lane at index 3: exactly one null
      // direction, the constant lane's
      (i.toLong,
        Array(g1, 0.5 * g1 + g2, g3, 0.7, g1 + g3 + g4, g2 - g3 + 0.3 * g5)
          .map(_.toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val white = Similarity.whitenEmbeddings(emb)
      .as[(Long, Long, Double)].collect()
    val byVec = white.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toArray).toMap
    assert(byVec.size == n && byVec.values.forall(_.length == 6))
    val d = 6
    val mean = Array.tabulate(d)(j => byVec.values.map(_(j)).sum / n)
    mean.foreach(m => assert(math.abs(m) < 1e-4, s"whitened mean $m != 0"))
    // degenerate-lane law: the constant lane whitens to (an eps-quantum
    // of) exactly 0 per ROW — the transform rounds lanes with the same
    // 6-dp lift the moment pass used, so x₃ − μ₃ is exactly 0, not the
    // raw-float residual amplified 1/√eps
    byVec.values.foreach(v => assert(math.abs(v(3)) <= 1e-6,
      s"constant lane must whiten to 0, got ${v(3)}"))
    for (i <- 0 until d; j <- i until d) {
      val c = byVec.values.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
      // empirical whitening ⇒ cov(Wx) = U diag(λ/(λ+ε)) Uᵀ: identity on
      // every direction with real variance, EXACTLY 0 on the constant
      // lane (its null direction has no data component)
      val want = if (i == j && i != 3) 1.0 else 0.0
      assert(math.abs(c - want) < 5e-3, s"whitened cov($i,$j)=$c want $want")
    }
  }

  test("whitenEmbeddings: deterministic and partitioning-invariant (exact integer moments)") {
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val a = Similarity.whitenEmbeddings(emb).as[(Long, Long, Double)].collect().toSet
    val b = Similarity.whitenEmbeddings(emb.repartition(13))
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b, "partitioning changed the whitening")
    assert(a.forall { case (_, _, v) => !v.isNaN && !v.isInfinite },
      "NaN/Inf leaked through the eps floor")
  }

  test("whitenEmbeddingsSteady: the landed whitener equals the direct computation") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val direct = Similarity.whitenEmbeddings(emb)
      .as[(Long, Long, Double)].collect().toSet
    val first = Similarity.whitenEmbeddingsSteady(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    // second call serves off the landed table (no moment pass)
    val second = Similarity.whitenEmbeddingsSteady(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(first == direct, "landing changed the whitening")
    assert(second == direct, "the landed read changed the whitening")
  }

  test("embedMomentSums: 128-bit exactness beyond the 64-bit product range") {
    // two lanes at |x| ≈ 4000 lift to micro ≈ ±4e9, whose PRODUCT
    // (1.6e19) overflows a signed long — the r15 formulation survived it
    // by summing in decimal(38,0); the r18 single-buffer aggregate must
    // survive it in its 128-bit limbs. Ground truth is BigInt arithmetic
    // over the exact micro lift.
    val vals = Seq(
      Array(4000f, -4000f),
      Array(4000f, 4000f),
      Array(-3999.5f, 0.5f))
    val micros = vals.map(_.map(x =>
      BigInt(math.round(BigDecimal(x.toDouble).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6))))
    val tiny = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.embedMomentSums(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> BigInt(r.getDecimal(2).toBigInteger))
      .toMap
    assert(got((-1L, -1L)) == BigInt(3))
    for (l <- 0 until 2) {
      assert(got((l.toLong, -1L)) == micros.map(_(l)).sum, s"first moment $l")
      for (m <- l until 2)
        assert(got((l.toLong, m.toLong)) == micros.map(v => v(l) * v(m)).sum,
          s"second moment ($l,$m): got ${got((l.toLong, m.toLong))} " +
            s"want ${micros.map(v => v(l) * v(m)).sum}")
    }
  }

  test("ivfAssignHierWith: member-array argmax ≡ the join+max_by aggregate (ties, NaN)") {
    // r18 moved the stage-2 per-vector argmax scan-side (NearestCellIn
    // over a row-carried member array); this law pins it equal to the
    // r14–r17 join + max_by(cell, struct(cs, -cell)) spelling over the
    // SAME hier index, on the edges where they could diverge: a
    // zero-norm vector (all-NaN member scores — NaN-greatest, tie to the
    // smaller cell id) and duplicated member vectors (exact score ties).
    val base = corpus ++ Seq(
      (900L, Array.fill(32)(0f)),            // zero-norm → all-NaN scores
      (901L, corpus(3)._2.clone()))          // exact twin of a centroid
    val emb = base.toDF("vec_id", "embedding")
    // duplicated centroid vectors under distinct ids → same coarse group,
    // exact stage-2 ties
    val cents = (Seq((3L, corpus(3)._2), (17L, corpus(17)._2),
      (23L, corpus(3)._2), (40L, corpus(40)._2), (41L, corpus(41)._2),
      (55L, corpus(55)._2)) ++
      (0 until 12).map(i => ((60 + i).toLong, corpus(i * 4)._2)))
      .toDF("cell_id", "c_emb")
    val (coarseLive, grouped) = Similarity.hierIndex(cents)
    val got = Similarity.ivfAssignHierWith(emb, coarseLive, grouped)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toSet
    val v1 = emb.crossJoin(broadcast(coarseLive))
      .select(col("vec_id"), col("embedding"), col("g_id"),
        graft.functions.GraftFunctions.cosineSim(col("embedding"), col("g_emb")).as("gs"))
      .groupBy("vec_id")
      .agg(max_by(col("g_id"), struct(col("gs"), -col("g_id"))).as("g_id"),
        first(col("embedding")).as("embedding"))
    val want = v1.join(grouped, Seq("g_id"))
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        graft.functions.GraftFunctions.cosineSim(col("embedding"), col("c_emb")).as("cs"))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("cs"), -col("cell_id"))).as("cell_id"))
      .as[(Long, Long)].collect().toSet
    assert(got == want,
      s"member-array argmax diverged: extra=${got -- want} missing=${want -- got}")
  }

  test("jacobiEigen: reconstructs a symmetric matrix") {
    val a = Array(
      Array(4.0, 1.0, 0.5),
      Array(1.0, 3.0, -0.25),
      Array(0.5, -0.25, 2.0))
    val (lam, u) = Similarity.jacobiEigen(a)
    for (i <- 0 until 3; j <- 0 until 3) {
      val rec = (0 until 3).map(k => u(i)(k) * lam(k) * u(j)(k)).sum
      assert(math.abs(rec - a(i)(j)) < 1e-9, s"A($i,$j) reconstruction")
      val orth = (0 until 3).map(k => u(k)(i) * u(k)(j)).sum
      assert(math.abs(orth - (if (i == j) 1.0 else 0.0)) < 1e-9, "U orthonormal")
    }
  }

  test("overlapJobs: a failing main is rethrown while the side chain hangs") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val release = new java.util.concurrent.CountDownLatch(1)
    val boom = new IllegalStateException("main failed")
    try {
      // bounded so a regression fails instead of hanging the suite
      val e = failAfter(60.seconds) {
        intercept[IllegalStateException] {
          Similarity.overlapJobs(spark)(release.await())(throw boom)
        }
      }
      assert(e eq boom)
    } finally release.countDown()
  }

  test("overlapJobs: main's exception carries the side's failure as suppressed") {
    val mainFailed = new java.util.concurrent.CountDownLatch(1)
    val sideErr = new RuntimeException("side failed")
    val e = intercept[IllegalStateException] {
      Similarity.overlapJobs(spark) {
        mainFailed.await(); throw sideErr
      } {
        mainFailed.countDown(); throw new IllegalStateException("main failed")
      }
    }
    assert(e.getMessage == "main failed")
    assert(e.getSuppressed.toSeq == Seq(sideErr))
    // a side failure after a successful main is rethrown as is
    val s = intercept[RuntimeException](
      Similarity.overlapJobs(spark)(throw sideErr)(1))
    assert(s eq sideErr)
  }
}
