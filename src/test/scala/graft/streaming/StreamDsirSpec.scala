package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.operators.TextAnalysis
import graft.sources.Landing
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.TableIdentifier

/** Streaming DSIR admission gate: a stateless row-local weight floor
  * under a frozen landed model — the admitted set equals the batch gate
  * on the union of all arrivals, across restarts, and the floor binds
  * in both directions.
  */
class StreamDsirSpec extends SparkTestBase {
  import spark.implicits._

  test("admitted set equals the batch gate on the union, cross-restart") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    // the E153 landed model for this corpus — the artifact the steady
    // serve lands under the state root (idempotent per session)
    val model = TextAnalysis.dsirModelTable(spark, dir)
    val artifact = new Path(Landing.stateRoot(spark), TextAnalysis.dsirPrefix(dir))
    val fs = artifact.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loc = fs.makeQualified(new Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(model)).location))
    assert(loc.toString.startsWith(fs.makeQualified(artifact).toString + "/"),
      s"model table $model lives at $loc, outside its Landing artifact")
    val llr = spark.table(model).orderBy("lane")
      .collect().map(_.getDouble(1))
    // a floor that BINDS both ways: the median weight of the corpus
    val weights = StreamDsir.gate(docs, llr, Double.NegativeInfinity)
      .select("weight").as[Double].collect().sorted
    val floor = weights(weights.length / 2)
    val all = docs.select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)

    val tmp = Files.createTempDirectory("graft_sdsir_").toString
    val input = MemoryStream[(Long, String, String)](
      org.apache.spark.sql.Encoders.product[(Long, String, String)],
      spark.sqlContext)
    def runOnce(): Unit =
      StreamDsir.start(input.toDF().toDF("doc_id", "text", "source"),
        model, floor, s"$tmp/out", s"$tmp/ckpt")
        .awaitTermination()
    val batches = all.grouped((all.size + 2) / 3).toSeq
    input.addData(batches(0): _*); runOnce() // restart boundary per batch
    input.addData(batches(1): _*); runOnce()
    input.addData(batches(2): _*); runOnce()

    val got = StreamDsir.admitted(spark, s"$tmp/out")
      .as[(Long, String, Double)].collect().toSet
    val want = StreamDsir.gate(
        all.toDF("doc_id", "text", "source"), llr, floor)
      .as[(Long, String, Double)].collect().toSet
    assert(got == want, "admissions must equal the batch gate on the union")
    assert(got.nonEmpty && got.size < all.size, "the floor must bind both ways")
    // the gate's weights are the operator's weights: every admitted raw
    // doc carries exactly its dsirSelect weight under the same model
    val opWeights = TextAnalysis.dsirSelect(docs, "doc_id", "text",
        col("lang") === "en", dims = 64, k = all.size)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    got.filter(r => opWeights.contains(r._1)).foreach { case (id, _, w) =>
      assert(w == opWeights(id), s"doc $id: gate weight $w != operator ${opWeights(id)}")
    }
  }
}
