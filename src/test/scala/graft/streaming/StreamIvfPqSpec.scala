package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.operators.Similarity

/** Streaming IVF-PQ index maintenance: after any sequence of arrival
  * batches — across restarts and hook-driven compaction cycles — search
  * over the landed code list equals the batch searchIvfPqIndex on the union
  * of everything that arrived.
  */
class StreamIvfPqSpec extends SparkTestBase {
  import spark.implicits._

  test("post-stream search equals batch IVF-PQ on the union corpus, cross-restart") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    // fixed quantizers: the corpus dir's landed artifacts (trained+landed
    // on first use; every batch and the batch-side oracle share them)
    val (centroids, book) = Similarity.landedQuantizers(spark, dir)
    val all = emb.as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    // four arrival batches, each in its own restarted query, compaction
    // hooked every 2nd batch id (a fold needs >1 settled source, so the
    // first fold actually happens at batch id 3 over gen-0..2)
    val batches = (0 to 3).map(i => all.filter(_._1 % 4 == i))
    val tmp = Files.createTempDirectory("graft_sivfpq_").toString
    val (indexDir, ckpt) = (s"$tmp/idx", s"$tmp/ckpt")
    val input = MemoryStream[(Long, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Float])], spark.sqlContext)
    def runOnce(): Unit = {
      val q = StreamIvfPq.start(
        input.toDF().toDF("vec_id", "embedding"), indexDir, ckpt,
        centroids, book, compactEvery = 2)
      q.awaitTermination()
    }
    def queries(ofCorpus: Seq[Long]) =
      emb.filter(col("vec_id").isin(ofCorpus: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def searchNow(qIds: Seq[Long]): Set[(Long, Long, Double)] =
      StreamIvfPq.search(spark, indexDir, queries(qIds), centroids, book)
        .as[(Long, Long, Double)].collect().toSet
    def batchWant(corpus: Seq[(Long, Array[Float])], qIds: Seq[Long]): Set[(Long, Long, Double)] =
      Similarity.searchIvfPqIndex(Similarity.IvfPqIndex.build(
          corpus.toDF("vec_id", "embedding"), centroids, book),
        queries(qIds), k = 5, nprobe = 4)
        .as[(Long, Long, Double)].collect().toSet

    val probeIds = Similarity.defaultProbeIds

    input.addData(batches(0): _*); runOnce()
    assert(searchNow(probeIds) == batchWant(batches(0), probeIds),
      "mid-stream: search must equal batch IVF-PQ on what arrived so far")

    input.addData(batches(1): _*); runOnce()
    input.addData(batches(2): _*); runOnce()
    input.addData(batches(3): _*); runOnce() // hook folds gen-0..2 at id 3
    // ≥1 hook compaction actually ran
    val gens = new java.io.File(indexDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens.exists(_.startsWith("gen-compact-")), s"no fold in $gens")
    assert(searchNow(probeIds) == batchWant(all, probeIds),
      "post-stream: search must equal batch IVF-PQ on the union corpus")

    // CRASH/DEFERRED WINDOW: the manifested fold defers source deletes to
    // the NEXT compaction, so right now the fold AND (some of) its sources
    // coexist on disk — exactly the state a crashed post-fold delete
    // leaves. ADC sums are not duplication-inert; readers must resolve
    // manifests (Generations.live) rather than dedup per query.
    val live = Generations.live(spark, indexDir).toSet
    assert(gens.diff(live).nonEmpty,
      s"expected manifest-excluded sources still on disk; gens=$gens live=$live")
    // index rows (live, manifest-resolved) are the full inverted list:
    // m rows per vector, exactly once
    val rows = StreamIvfPq.currentIndex(spark, indexDir,
      template = sys.error("gens exist")).count()
    assert(rows == all.size * 8L, s"got $rows")

    // generations land partitioned by cell_id and the serve scan prunes:
    // the probed cells appear as PartitionFilters on the generation read
    assert(gens.exists(g => new java.io.File(s"$indexDir/$g").listFiles() != null &&
      new java.io.File(s"$indexDir/$g").listFiles().exists(_.getName.startsWith("cell_id="))),
      "generation dirs must be physically partitioned by cell_id")
    val served = StreamIvfPq.search(spark, indexDir, queries(probeIds), centroids, book)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(raw"PartitionFilters: \[[^\]]*cell_id".r.findFirstIn(plan).isDefined,
      s"serve scan must carry a cell_id partition filter:\n$plan")

    // a crashed fold's tmp dir is invisible to readers and swept by the
    // next compaction
    val tmpFold = new java.io.File(s"$indexDir/tmp-gen-compact-99")
    tmpFold.mkdirs()
    assert(searchNow(probeIds) == batchWant(all, probeIds),
      "an uncommitted tmp fold must be invisible to search")
    StreamIvfPq.compactIndex(spark, indexDir)
    assert(!tmpFold.exists(), "next compaction must sweep crashed tmp folds")
    assert(searchNow(probeIds) == batchWant(all, probeIds),
      "search must be exact after a manual compaction cycle")
  }

  test("re-shard: serve ≡ batch at the √N sizing, post-re-shard batches encode at it, sidecar survives compaction, hysteresis skips") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val (cent16, book) = Similarity.landedQuantizers(spark, dir)
    val all = emb.as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val batches = (0 to 3).map(i => all.filter(_._1 % 4 == i))
    val tmp = Files.createTempDirectory("graft_sivfpq_rs_").toString
    val (indexDir, ckpt) = (s"$tmp/idx", s"$tmp/ckpt")
    val input = MemoryStream[(Long, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Float])], spark.sqlContext)
    def runOnce(): Unit = {
      val q = StreamIvfPq.start(
        input.toDF().toDF("vec_id", "embedding"), indexDir, ckpt,
        cent16, book)
      q.awaitTermination()
    }
    def queries(qIds: Seq[Long]) =
      emb.filter(col("vec_id").isin(qIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def searchNow(qIds: Seq[Long]): Set[(Long, Long, Double)] =
      StreamIvfPq.search(spark, indexDir, queries(qIds), cent16, book)
        .as[(Long, Long, Double)].collect().toSet
    // the batch operator UNDER THE STORE'S CURRENT QUANTIZERS: centroids
    // retrained at √N over exactly the vectors the re-shard saw
    def scaledWant(trainOn: Seq[(Long, Array[Float])],
        corpus: Seq[(Long, Array[Float])], qIds: Seq[Long]): Set[(Long, Long, Double)] = {
      val cent = Similarity.kmeansCentroids(trainOn.toDF("vec_id", "embedding"),
        initEvery = Similarity.scaledInitEvery(trainOn.size.toLong))
      Similarity.searchIvfPqIndex(Similarity.IvfPqIndex.build(
          corpus.toDF("vec_id", "embedding"), cent, book),
        queries(qIds), k = 5, nprobe = 4)
        .as[(Long, Long, Double)].collect().toSet
    }
    val probeIds = Similarity.defaultProbeIds

    // two batches land under the caller-FIXED 16-cell sizing
    input.addData(batches(0): _*); runOnce()
    input.addData(batches(1): _*); runOnce()
    val arrived01 = (batches(0) ++ batches(1)).sortBy(_._1)
    assert(StreamIvfPq.reshard(spark, indexDir,
      arrived01.toDF("vec_id", "embedding"), book, force = true),
      "forced re-shard must run")
    assert(searchNow(probeIds) == scaledWant(arrived01, arrived01, probeIds),
      "post-re-shard serve must equal the batch operator at the √N sizing")
    // the store's fixed-cell history must be gone from the serve plan:
    // cell count now tracks the √N trainer, not 16
    val sidecar = StreamIvfPq.quantSidecarPath(spark, indexDir)
    assert(sidecar.isDefined, "re-shard must commit a quantizer sidecar")
    val nCells = spark.read.parquet(sidecar.get).count()
    assert(nCells != cent16.count(),
      s"re-sharded cell count $nCells must differ from the fixed sizing")

    // batches arriving AFTER the re-shard encode under the sidecar
    // centroids — serve ≡ batch at the store's current quantizers on the
    // full union
    input.addData(batches(2): _*); runOnce()
    input.addData(batches(3): _*); runOnce()
    assert(searchNow(probeIds) == scaledWant(arrived01, all, probeIds),
      "post-re-shard arrivals must encode at the re-sharded sizing")

    // ordinary compaction now folds the re-shard fold with gen-2 (gen-3
    // stays aside as the newest raw generation) and must carry the
    // sidecar forward into the new fold
    StreamIvfPq.compactIndex(spark, indexDir)
    val foldGens = Generations.live(spark, indexDir)
      .filter(_.startsWith("gen-compact-"))
    assert(foldGens.exists(_.stripPrefix("gen-compact-").toLong > 1L),
      s"expected a post-re-shard fold; live folds: $foldGens")
    StreamIvfPq.compactIndex(spark, indexDir) // second run sweeps sources
    assert(StreamIvfPq.quantSidecarPath(spark, indexDir).isDefined,
      "compaction must carry the quantizer sidecar forward")
    assert(searchNow(probeIds) == scaledWant(arrived01, all, probeIds),
      "serve must be unchanged across compactions of a re-sharded store")

    // hysteresis: the corpus has not outgrown the √N sizing, so an
    // unforced re-shard is a no-op
    assert(!StreamIvfPq.reshard(spark, indexDir,
      all.toDF("vec_id", "embedding"), book),
      "re-shard must skip while target < minGrowth × current cells")

    // the serve scan still prunes to the probed cells' partitions
    val served = StreamIvfPq.search(spark, indexDir, queries(probeIds),
      cent16, book)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(raw"PartitionFilters: \[[^\]]*cell_id".r.findFirstIn(plan).isDefined,
      s"re-sharded serve scan must keep its cell_id partition filter:\n$plan")

    // targeted deletion reaches the re-sharded store: serve ≡ batch on
    // (union − deleted) under the store's current quantizers
    // delete ids that are CURRENTLY served (non-vacuous: the answer must
    // actually change)
    val delIds = searchNow(probeIds).map(_._2)
      .filterNot(probeIds.contains).take(2).toSeq
    assert(delIds.nonEmpty, "need served ids to delete")
    StreamIvfPq.delete(spark, indexDir, "req-rs-1", delIds)
    val remaining = all.filterNot(v => delIds.contains(v._1))
    assert(searchNow(probeIds) == scaledWant(arrived01, remaining, probeIds),
      "post-delete serve must equal batch on the remaining corpus")

    // the batch-invokable demo equals the batch √N operator directly
    // (the law the sim_topk_ivfpq_reshard CORRECTNESS entry rides)
    val demo = StreamIvfPq.reshardedDocs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    val want = Similarity.topKPqIvf(spark, dir,
        Similarity.IvfPqSpec(Similarity.Landed, scaled = true))
      .as[(Long, Long, Double)].collect().toSet
    assert(demo == want,
      "reshardedDocs must equal the batch √N-sized landed serve")

    // CRASH WINDOW: a re-shard that died after writing its tmp- fold but
    // before the rename leaves only an INVISIBLE directory — the store
    // serves the old (committed) sizing unchanged, and the next
    // maintenance sweeps the leftover and completes. Simulated by
    // planting a stale tmp- fold (with a sidecar, the worst case: a
    // crashed re-shard's half-written quantizers must never be read).
    val preCrash = searchNow(probeIds)
    val f = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(s"$indexDir/tmp-gen-compact-99")
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$stale/${StreamIvfPq.QuantSidecar}"))
    assert(searchNow(probeIds) == preCrash,
      "a crashed re-shard's tmp fold must be invisible to the serve")
    assert(StreamIvfPq.reshard(spark, indexDir,
      remaining.toDF("vec_id", "embedding"), book, force = true),
      "the retry re-shard must complete past the stale tmp fold")
    assert(!f.exists(stale), "maintenance must sweep the crashed tmp fold")
    assert(searchNow(probeIds) ==
      scaledWant(remaining, remaining, probeIds),
      "post-retry serve must equal the batch operator at the retrained sizing")
  }

  test("the re-shard demo store is one landed artifact under the state root, built once") {
    val dir = "/root/testdata/sf0.001"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val root = graft.sources.Landing.stateRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new org.apache.hadoop.fs.Path(root, s"ivfpq_reshard_$md5/codes")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def leaked: Set[String] =
      Option(tmp.list()).toSet.flatten.filter(_.startsWith("graft_reshard_"))
    val leakedBefore = leaked
    def rows() = StreamIvfPq.reshardedDocs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    val first = rows()
    assert(fs.isDirectory(store), s"the store must live at $store")
    assert(StreamIvfPq.quantSidecarPath(spark, store.toString).isDefined,
      "the landed store must carry its re-shard's quantizer sidecar")
    // a warm call costs what loading the quantizers plus one serve off
    // the landed store costs; a rebuild adds two encodes, the re-shard's
    // k-means and its fold
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val ((cent16, book), quantJobs) =
      jobsDuring(spark)(Similarity.landedQuantizers(spark, dir))
    val (_, serveJobs) = jobsDuring(spark)(StreamIvfPq.search(spark,
      store.toString, Similarity.defaultQueries(emb), cent16, book).collect())
    val (second, warmJobs) = jobsDuring(spark)(rows())
    assert(second == first, "the warm call must serve the same answer")
    assert(warmJobs <= quantJobs + serveJobs,
      s"the warm call started $warmJobs jobs, more than the quantizer load " +
        s"($quantJobs) plus a serve ($serveJobs): it rebuilt the store")
    assert(leaked == leakedBefore,
      s"no graft_reshard_* temp dir may appear: ${leaked -- leakedBefore}")
  }
}
