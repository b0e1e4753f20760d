package graft.operators

import graft.SparkTestBase
import graft.operators.Similarity.{IvfPqSpec, Landed, Seeded, Trained}

/** Physical inverted-list layout contract for the landed IVF-PQ code
  * table: the serve scan is bucket-PRUNED to the probed cells (reads
  * (nprobe/|cells|) of the code table — the point of IVF at 100 TB),
  * and the landed serve answer equals the retrain path's.
  */
class IvfPqLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("landed serve equals the trained rebuild, off the landed catalog tables") {
    val want = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Trained))
      .as[(Long, Long, Double)].collect().toSet
    val got = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Landed))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    val prefix = Similarity.quantizerPrefix(dir)
    assert(Seq("_centroids", "_codebook", "_codes")
      .forall(t => spark.catalog.tableExists(s"$prefix$t")))
  }

  test("the landed serve scan bucket-prunes to the probed cells") {
    val served = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Landed))
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val m = raw"SelectedBucketsCount: (\d+) out of (\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"expected a bucket-pruned code-table scan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"probed cells must select a strict subset of buckets: ${m.get.matched}")
  }

  // ── √N-sized family (round 12): the production sizing demonstrated ──

  test("scaled sizing: ≈√N trained cells, bucket fan-out grown to match") {
    val n = graft.sources.Tables.load(spark, dir, "embeddings").count()
    val stride = Similarity.scaledInitEvery(n)
    assert(stride == math.round(math.sqrt(n.toDouble)).toInt,
      s"stride must be round(√N), got $stride for n=$n")
    val (centDf, _) = Similarity.landedQuantizers(spark, dir, scaled = true)
    val cells = centDf.count()
    // seeds = ceil(N/stride) ≈ √N; Lloyd's drops only emptied cells, so
    // the trained count stays within a few of the seed count
    val seeds = (0L until n).count(_ % stride == 0)
    assert(cells <= seeds && cells >= seeds / 2,
      s"trained cells $cells should track the ≈√N seed count $seeds")
    // the landed fan-out is one bucket per cell at test scale (capped at
    // maxBuckets for production cell counts), vs the fixed family's 16:
    // probed reads scale with N/cells = √N instead of N/16
    val served = Similarity.topKPqIvf(spark, dir, IvfPqSpec(Landed, scaled = true))
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val m = raw"SelectedBucketsCount: (\d+) out of (\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"expected a bucket-pruned scaled code scan:\n$plan")
    assert(m.get.group(2).toInt == math.min(cells, 256L).toInt,
      s"scaled fan-out must track the cell count: ${m.get.matched}, cells=$cells")
    // |Q|=5 probes at nprobe=4 touch ≤20 distinct cells; with one cell
    // per bucket the scan selects exactly the probed cells' buckets — a
    // strict subset that stays ≤|Q|·nprobe as the corpus (and with it
    // the bucket count) grows
    assert(m.get.group(1).toInt <= 20 &&
      m.get.group(1).toInt < m.get.group(2).toInt,
      s"probed buckets must be ≤|Q|·nprobe and a strict subset: ${m.get.matched}")
  }

  test("scaled landed serves equal a from-scratch rebuild at the scaled sizing") {
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val stride = Similarity.scaledInitEvery(emb.count())
    val cents = Similarity.kmeansCentroids(emb, initEvery = stride)
    val book = Similarity.landedQuantizers(spark, dir)._2
    val index = Similarity.IvfPqIndex.build(emb, cents, book)
    val want = Similarity.searchIvfPqIndex(index, Similarity.defaultQueries(emb),
        k = 5, nprobe = 4)
      .as[(Long, Long, Double)].collect().toSet
    val scaled = IvfPqSpec(Landed, scaled = true)
    assert(Similarity.topKPqIvf(spark, dir, scaled)
      .as[(Long, Long, Double)].collect().toSet == want,
      "scaled landed ADC serve must equal the retrain answer")
    val wantRef = Similarity.refinedSearchIndex(emb, index,
        Similarity.defaultQueries(emb), k = 5, r = 4, nprobe = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(Similarity.topKPqIvf(spark, dir, scaled, refine = Some(4))
      .as[(Long, Long, Double)].collect().toSet == wantRef,
      "scaled refined serve must equal the retrain refine answer")
  }

  // ── catalog naming: a catalog landed under these names keeps serving ──

  test("every spec value lands and reads the pinned catalog tables and Landing artifacts") {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val fixed = s"ivfpq_quant_$md5"
    val scaled = s"ivfpq_quant_scaled_$md5"
    val quant = Seq(s"${fixed}_quant" ->
      Seq(s"${fixed}_centroids", s"${fixed}_codebook"))
    // spec → (Landing artifact → catalog tables) it ensures, in order
    val table: Seq[(IvfPqSpec, Seq[(String, Seq[String])])] = Seq(
      IvfPqSpec(Seeded) -> Nil,
      IvfPqSpec(Trained) -> Nil,
      IvfPqSpec(Trained, residual = true) -> Nil,
      IvfPqSpec(Landed) -> (quant :+
        s"${fixed}_codes" -> Seq(s"${fixed}_codes")),
      IvfPqSpec(Landed, scaled = true) -> (quant ++ Seq(
        s"${scaled}_quant" -> Seq(s"${scaled}_centroids"),
        s"${scaled}_codes" -> Seq(s"${scaled}_codes"))),
      IvfPqSpec(Landed, residual = true) -> (quant :+
        s"${fixed}_res" -> Seq(s"${fixed}_res_codebook", s"${fixed}_res_codes")))
    assert(Similarity.quantizerPrefix(dir) == fixed)
    assert(Similarity.quantizerPrefix(dir, scaled = true) == scaled)
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val root = graft.sources.Landing.stateRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    table.foreach { case (spec, artifacts) =>
      val (index, _) = Similarity.ensureIvfPq(spark, dir, spec, emb,
        Similarity.defaultQueries(emb))
      artifacts.foreach { case (artifact, tables) =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(root, artifact)),
          s"$spec: Landing artifact $artifact")
        tables.foreach(t => assert(spark.catalog.tableExists(t), s"$spec: table $t"))
      }
      // a landed spec serves its codes straight off the last named table
      artifacts.lastOption.foreach { case (_, tables) =>
        assert(index.codes.inputFiles.nonEmpty &&
          index.codes.inputFiles.toSet ==
            spark.table(tables.last).inputFiles.toSet, s"$spec codes table")
      }
    }
  }
}
