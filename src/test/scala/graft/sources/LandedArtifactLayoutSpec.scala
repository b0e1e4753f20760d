package graft.sources

import graft.SparkTestBase
import graft.operators._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.TableIdentifier

/** On-disk naming contract of every landed-artifact family: each steady
  * entry lands (or finds) its artifact at the literal
  * `<state root>/<kind>_<hex of the first 8 MD5 bytes>` dir and registers
  * the literal catalog tables under it. A root landed by an earlier run
  * keeps serving only while these names stay byte-identical, so the
  * digest is computed here, independently of the code under test.
  */
class LandedArtifactLayoutSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  private val h = md5(dir)
  private val q = s"ivfpq_quant_$h"

  // family → (steady entry, Landing artifact → its catalog tables)
  private val tableArtifacts: Seq[(String, () => Any, Seq[(String, Seq[String])])] = {
    def own(a: String, suffixes: String*) = a -> suffixes.map(a + _)
    def hier(p: String) = s"${p}_hidx" -> Seq(s"${p}_hlive", s"${p}_hgrouped")
    val emb = s"semdedup_emb_${md5(s"emb|$dir")}"
    val txt = s"semdedup_text_${md5(s"text|$dir")}"
    Seq(
      ("hist_steady", () => Analytics.histQuantilesSteady(spark, dir),
        Seq(own(s"hist_steady_$h", "_hist"))),
      ("lm_state", () => TextAnalysis.domainReweightSteadyDocs(spark, dir),
        Seq(own(s"lm_state_$h", "_model", "_vocab", "_stats", "_excess"))),
      ("search_steady", () => TextAnalysis.searchDocsSteady(spark, dir),
        Seq(own(s"search_steady_$h", "_postings", "_positions", "_stats"))),
      ("dsir_steady", () => TextAnalysis.dsirDocsSteady(spark, dir),
        Seq(own(s"dsir_steady_$h", "_llr"))),
      ("curation_steady", () => TextAnalysis.curationReportSteadyDocs(spark, dir),
        Seq(own(s"curation_steady_$h", "_src_stats"))),
      ("neardup_steady", () => Dedup.incrementalNearArrivalsSteady(spark, dir),
        Seq(own(s"neardup_steady_$h", "_bands", "_sh"))),
      ("contain_steady", () => Dedup.incrementalContainArrivalsSteady(spark, dir),
        Seq(own(s"contain_steady_$h", "_post", "_sh"))),
      ("semdedup_emb", () => Dedup.semanticDedupPlantedSteady(spark, dir),
        Seq(own(emb, ""), hier(emb))),
      ("semdedup_text", () => Dedup.semanticDedupTextSteady(spark, dir),
        Seq(own(txt, ""), hier(txt))),
      ("softdf_steady", () => Dedup.softDedupDocsSteady(spark, dir),
        Seq(own(s"softdf_steady_$h", "_df"))),
      ("kmv_steady", () => Sketches.kmvDistinctSteady(spark, dir),
        Seq(own(s"kmv_steady_$h", "_kmv"))),
      ("graph_comm", () => GraphRank.modularitySteadyDocs(spark, dir),
        Seq(own(s"graph_comm_$h", "_labels", "_edges"))),
      ("prefcc", () => Contrastive.docPreferencePairsSteady(spark, dir),
        Seq(own(s"prefcc_$h", ""))),
      ("mediadup_steady", () => Multimodal.incrementalMediaArrivalsSteady(spark, dir),
        Seq(own(s"mediadup_steady_$h", "_bands", "_sigs"))),
      // (its `_quant` centroids/codebook artifact: IvfPqLayoutSpec)
      ("ivfpq_quant_hidx", () => Similarity.loadLandedHierIndex(spark, dir),
        Seq(hier(q))),
      ("ivfpq_quant_whiten", () => Similarity.whitenEmbeddingsSteady(spark, dir),
        Seq(own(s"${q}_whiten", ""))))
  }

  // family → (steady entry, plain parquet dir artifact with two halves)
  private val dirArtifacts: Seq[(String, () => Any, String)] = Seq(
    ("colloc_steady", () => TextAnalysis.collocationsSteadyDocs(spark, dir),
      s"colloc_steady_$h"),
    ("blocks_steady", () => Packing.tokenBlocksSteadyDocs(spark, dir),
      s"blocks_steady_$h"),
    ("cur_blocks_steady", () => Packing.curriculumBlocksSteadyDocs(spark, dir),
      s"cur_blocks_steady_$h"))

  private lazy val root = Landing.stateRoot(spark)
  private lazy val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def artifactDir(a: String): Path = fs.makeQualified(new Path(root, a))

  tableArtifacts.foreach { case (family, entry, artifacts) =>
    test(s"$family lands its pinned artifact dirs and catalog tables") {
      // start from a catalog without the family's tables: a suite that
      // registered one outside Landing would otherwise short-circuit the
      // ensure (dropping an external table keeps its files)
      artifacts.flatMap(_._2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      entry()
      artifacts.foreach { case (artifact, tables) =>
        val d = artifactDir(artifact)
        assert(fs.isDirectory(d), s"$family: Landing artifact $d")
        tables.foreach { t =>
          assert(spark.catalog.tableExists(t), s"$family: table $t")
          val loc = fs.makeQualified(new Path(spark.sessionState.catalog
            .getTableMetadata(TableIdentifier(t)).location))
          assert(loc.toString.startsWith(d.toString + "/"),
            s"$family: table $t lives at $loc, not under $d")
        }
      }
    }
  }

  dirArtifacts.foreach { case (family, entry, artifact) =>
    test(s"$family lands its pinned two-half parquet dir") {
      entry()
      val d = artifactDir(artifact)
      Seq("gen-0", "gen-1").foreach(g =>
        assert(fs.isDirectory(new Path(d, g)), s"$family: half $g under $d"))
    }
  }

  test("a warm ensureHalves call reads both landed halves with 0 jobs") {
    val artifact = s"halves_law_${java.util.UUID.randomUUID().toString.take(8)}"
    val cold = Landing.ensureHalves(spark, artifact)(i =>
      spark.range(i * 10L, i * 10L + 5).toDF("id"))
    val (warm, jobs) = jobsDuring(spark)(
      Landing.ensureHalves(spark, artifact)(_ => fail("a warm call must not rebuild")))
    assert(jobs == 0, s"warm ensureHalves started $jobs job(s)")
    assert(warm.schema == cold.schema)
    assert(warm.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L) ++ (10L until 15L))
  }

  test("Landing.key digests the UTF-8 bytes of a non-ASCII dir") {
    val nonAscii = "/données/корпус"
    assert(md5(nonAscii) == "e1cf6351514b5dd1")
    assert(Landing.key("kmv_steady", nonAscii) == "kmv_steady_e1cf6351514b5dd1")
    assert(Landing.key("semdedup_emb", s"emb|$dir") ==
      s"semdedup_emb_${md5(s"emb|$dir")}")
  }
}
