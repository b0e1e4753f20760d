package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test}

/** [[Similarity.hierIndex]]'s two trainers of the coarse level: at most
  * [[Similarity.FlatTrainerMaxSeeds]] centroids train on the driver, more
  * train distributed. Both must return the same live coarse set and the
  * same centroid→group membership, bit for bit, so the dispatch changes no
  * answer; and the driver path must start no Spark job.
  */
class HierIndexSpec extends SparkTestBase {

  private def bits(r: Row, i: Int): Seq[Int] =
    if (r.isNullAt(i)) null
    else r.getSeq[Float](i).map(java.lang.Float.floatToIntBits)

  private def rowsOf(pair: (DataFrame, DataFrame)) = {
    val (coarseLive, grouped) = pair
    (coarseLive.schema, grouped.schema,
      coarseLive.select("g_id", "g_emb").collect()
        .map(r => (r.getLong(0), bits(r, 1))).toSet,
      grouped.select("cell_id", "g_id", "c_emb").collect()
        .map(r => (r.get(0), r.get(1), bits(r, 2))).toSet)
  }

  /** The driver and the distributed trainer on one centroid set. */
  private def assertSameIndex(cent: DataFrame, stride: Option[Long] = None): Unit = {
    val local = rowsOf(Similarity.hierIndex(cent, stride))
    val distributed = rowsOf(Similarity.hierIndex(cent, stride, localMaxRows = 0L))
    assert(local == distributed, s"stride $stride: driver and distributed indexes differ")
  }

  private def trained(sf: String): DataFrame = Similarity.kmeansCentroidsAuto(
    Tables.load(spark, s"/root/testdata/$sf", "embeddings").select("vec_id", "embedding"))

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"hierIndex at $sf: the driver path equals the distributed path and starts no job") {
      val cent = trained(sf)
      val k = cent.count()
      assert(k > 1 && k <= Similarity.FlatTrainerMaxSeeds, s"$sf trains $k centroids")
      assertSameIndex(cent)
      val (_, jobs) = jobsDuring(spark) {
        val (coarseLive, grouped) = Similarity.hierIndex(cent)
        (coarseLive.collect(), grouped.collect())
      }
      assert(jobs == 0, s"the driver-side coarse training started $jobs jobs")
    }
  }

  test("hierIndex: driver ≡ distributed on generated centroid sets") {
    // small-integer lanes give exact score ties and zero vectors (NaN
    // cosines); sparse, signed cell ids exercise the dense re-key
    val lane = Gen.oneOf(Gen.choose(-2, 2).map(_.toFloat), Gen.choose(-1f, 1f))
    val sets = for {
      k <- Gen.choose(2, 40)
      dim <- Gen.choose(1, 6)
      ids <- Gen.containerOfN[Set, Long](k, Gen.choose(-5000L, 5000L))
      vecs <- Gen.listOfN(ids.size, Gen.listOfN(dim, lane))
      stride <- Gen.oneOf(None, Some(2L), Some(3L))
    } yield (ids.toSeq.zip(vecs.map(_.toArray)), stride)
    val prop = Prop.forAll(sets) { case (rows, stride) =>
      import spark.implicits._
      assertSameIndex(rows.toDF("cell_id", "c_emb"), stride)
      true
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
