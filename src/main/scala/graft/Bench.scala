package graft

import java.nio.file.{Files, Paths}

/** Benchmark main — times SparkEntry.benchQueries on SPARK_GRAFT_SF_DIR.
  *
  * Measurement fixes from round-1 feedback (VERDICT.md "What's wrong"):
  *  - results are written to the `noop` datasource, not `.count()`ed —
  *    a count lets Catalyst's EliminateSorts delete ORDER BYs and prune
  *    projections, so the timed plan wasn't the query's plan;
  *  - one unmeasured warm-up pass absorbs JVM/codegen/parquet-footer
  *    startup that round 1 charged entirely to whichever query ran first;
  *  - the JSON line is also written to SPARK_GRAFT_BENCH_OUT
  *    (default /tmp/bench.json) so the driver parses a file instead of
  *    regex-scraping sbt's interleaved stdout;
  *  - a failing query records null and lands in "errors" instead of
  *    silently contributing a near-zero time;
  *  - a fixed calibration probe (range-sum, constant work) is timed
  *    before every measured pass and reported per query ("probe"), so
  *    box contention during the run is attributable: a query whose probe
  *    median is far above the run's probe floor was measured in a
  *    contended window, and its time says nothing about the plan
  *    (BENCH_r03/r04 recorded 37 s / 134 s for q_json_props that way —
  *    the same query re-times at ~0.5-1 s on a quiet box, r5).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    // Optional filter (comma-separated names) for targeted measurement
    // while iterating on one operator; default runs the full sets.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    def keep(qs: Seq[String]): Seq[String] = only match {
      case Some(sel) => qs.filter(sel); case None => qs
    }
    // Per-run landed-state root: the gate must measure its own land every
    // round (warm-up pass pays it, timed serves read it), never inherit a
    // prior round's artifacts. Library callers get Landing's durable
    // default instead; here stale roots from earlier runs are swept.
    Sessions.pinPerRunStateDir("bench")
    val spark = Sessions.local("graft-bench")
    val names = keep(SparkEntry.benchQueries)

    def runOnce(name: String): Option[String] =
      try {
        // label the query's jobs (guide §1.5) so event-log / UI time is
        // attributable per operator; cleared after so probe jobs stay
        // unlabeled
        spark.sparkContext.setJobDescription(s"bench:$name")
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally spark.sparkContext.setJobDescription(null)

    val extNames = keep(SparkEntry.benchExtQueries)
    (names ++ extNames).foreach(runOnce) // warm-up pass, unmeasured

    val errors = collection.mutable.ListBuffer[String]()
    // Constant-work calibration probe: same job every time, so its time
    // varies only with box conditions. Shape chosen to exercise scheduling
    // + a codegen'd agg like the real queries, not to be representative.
    def probeOnce(): Double = {
      import org.apache.spark.sql.functions.{col, sum}
      val t0 = System.nanoTime()
      spark.range(1L << 22).agg(sum(col("id")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    probeOnce() // warm the probe's own plan once, unmeasured
    val probes = collection.mutable.LinkedHashMap[String, Double]()
    // Median of 3 timed passes per query: the container's CPU allocation is
    // bursty enough that any single pass can read several× high; a median
    // discards one arbitrary stall per query (matches how the DuckDB
    // baseline in BASELINE.md is measured).
    def timeAll(qs: Seq[String]): Seq[(String, Option[Double], Double)] = qs.map { name =>
      val pts = collection.mutable.ListBuffer[Double]()
      val times = (1 to 3).flatMap { _ =>
        pts += probeOnce()
        val t0 = System.nanoTime()
        val err = runOnce(name)
        err.foreach(errors += _)
        if (err.isEmpty) Some((System.nanoTime() - t0) / 1e9) else None
      }
      (name,
        if (times.size == 3) Some(times.sorted.apply(1)) else None,
        pts.sorted.apply(pts.size / 2))
    }
    // Contention-robust committed rows (round-16 verdict): the whole-run
    // "n_contended ≤ K" criterion is box-unachievable — contention bursts
    // hit SOME rows in EVERY window, just different ones. Instead, with
    // SPARK_GRAFT_BENCH_WINDOWS=W (default 1: the driver's per-round
    // single-pass behavior, unchanged), the full timed pass runs W times
    // and each query keeps its measurement from the window where ITS OWN
    // probe read lowest — a per-row best-of-windows with the selecting
    // probe attached, so every committed row self-certifies the
    // conditions it was measured under and cross-round diffs need no
    // whole-window caveat.
    val windows = sys.env.get("SPARK_GRAFT_BENCH_WINDOWS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    val runs = (1 to windows).map(_ => (timeAll(names), timeAll(extNames)))
    def merge(per: Seq[Seq[(String, Option[Double], Double)]]) =
      per.head.indices.map { i =>
        // quietest window for THIS query; probe ties break to lower time
        per.map(_(i)).minBy { case (_, t, p) =>
          (p, t.getOrElse(Double.MaxValue)) }
      }
    val resultsM = merge(runs.map(_._1))
    val extResultsM = merge(runs.map(_._2))
    (resultsM ++ extResultsM).foreach { case (n, _, p) => probes(n) = p }
    val results = resultsM.map(r => (r._1, r._2))
    val extResults = extResultsM.map(r => (r._1, r._2))

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Locale.ROOT: the default-locale f"" interpolator renders a decimal
    // COMMA under e.g. de_DE, which is malformed JSON.
    def fnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

    // Streaming throughput: one Trigger.AvailableNow drive of
    // StreamClean.clean (decontaminate → corpus-known anti-join →
    // in-watermark dedup → PII redact) over the sf documents, landed as
    // parquet — the only performance signal for the streaming half
    // (correctness suites don't time it). rows/s is input-rows / wall.
    def streamBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.{col, md5, timestamp_seconds}
        val tmp = Files.createTempDirectory("graft_stream_bench_").toString
        val docsPath = s"$sfDir/documents.parquet"
        val static = spark.read.parquet(docsPath)
        val rowsIn = static.count()
        // bounded-by-contract suite/index stand-ins: a literal eval doc and
        // a 1%-of-corpus fingerprint index (realistic anti-join cost)
        val evalSet = {
          import spark.implicits._
          Seq("graft eval suite sentinel eight gram window text").toDF("text")
        }
        val corpusFps = static.filter(col("doc_id") % 100 === 0)
          .select(md5(col("text").cast("binary")).as("fp"))
        // the file source wants a DIRECTORY of plain files: expose the
        // table through symlinks in the bench's temp dir (no copy).
        // Driver testdata is a single parquet FILE; ScaleUp output is a
        // Spark-written DIRECTORY of part files (which the stream source
        // would not traverse through one nested symlink) — link each
        // part file flat in either case.
        Files.createDirectory(Paths.get(s"$tmp/in"))
        val docsSrc = Paths.get(docsPath)
        if (Files.isDirectory(docsSrc)) {
          val st = Files.list(docsSrc)
          try {
            val it = st.filter(p => p.toString.endsWith(".parquet")).iterator()
            var i = 0
            while (it.hasNext) {
              Files.createSymbolicLink(
                Paths.get(s"$tmp/in/part$i.parquet"), it.next()); i += 1
            }
          } finally st.close()
        } else
          Files.createSymbolicLink(
            Paths.get(s"$tmp/in/documents.parquet"), docsSrc)
        val stream = spark.readStream.schema(static.schema).parquet(s"$tmp/in")
          .withColumn("ts", timestamp_seconds(col("doc_id")))
        val cleaned = graft.streaming.StreamClean.clean(
          stream, evalSet, corpusFps, "doc_id", "text", "ts",
          watermark = "1 hour")
        val t0 = System.nanoTime()
        graft.streaming.StreamSink.drainAvailable(
          cleaned, s"$tmp/out", s"$tmp/ckpt")
        val wall = (System.nanoTime() - t0) / 1e9
        val rowsOut = spark.read.parquet(s"$tmp/out").count()
        Some(s"""{"op":"stream_clean_docs","rows_in":$rowsIn,""" +
          s""""rows_out":$rowsOut,"wall_sec":${fnum(wall)},""" +
          s""""rows_per_sec":${fnum(rowsIn / wall)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Streaming near-dedup throughput: the number a user tuning
    // compaction cadence needs — per-batch wall as the cross-batch
    // signature index grows, plus the steady per-batch wall of one more
    // arrival batch against the fully-grown COMPACTED index (the
    // production cadence: compaction runs between batches, arrivals probe
    // one folded generation instead of many).
    def streamNearBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.{col, concat, lit}
        val tmp = Files.createTempDirectory("graft_stream_near_").toString
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val rowsIn = docs.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        // three arrival files → three micro-batches (maxFilesPerTrigger=1)
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 3).foreach { i =>
          docs.filter(col("doc_id") % 3 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        // compaction runs VIA THE IN-LOOP HOOK (compactEvery=2: after
        // batch ids 1 and 3) — the production cadence, serialized with
        // the probes by construction
        def drive(): Double = {
          val stream = spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
          val t0 = System.nanoTime()
          graft.streaming.StreamNearDedup.start(
            stream, s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt",
            "doc_id", "text", compactEvery = 2).awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val wallGrow = drive() // 3 batches, index grows 0 → full corpus
        // steady batches: near-copies of every 20th doc — the all-drop
        // path. Two of them, separated by a hook compaction cycle (after
        // batch id 3), so flat wall across the pair certifies per-batch
        // cost independent of compaction-cycle count.
        def steadyBatch(i: Int, offset: Long): Long = {
          docs.filter(col("doc_id") % 20 === 0)
            .select((col("doc_id") + offset).as("doc_id"),
              concat(col("text"), lit(" graftdup")).as("text"))
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          val part = stagedFile(s"$tmp/stage$i")
          val n = spark.read.parquet(part.toString).count()
          Files.move(part, Paths.get(s"$tmp/in/f$i.parquet"))
          n
        }
        val steadyRows = steadyBatch(3, 9000000L)
        val wallSteady = drive()  // batch id 3; hook compacts after it
        steadyBatch(4, 9500000L)
        val wallSteady2 = drive() // batch id 4 vs the re-compacted index
        // all generations (compaction keeps the newest batch gen aside)
        val indexRows = spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$tmp/idx").count()
        // manifest-resolved corpus count (the hook also folds the landed
        // corpus now; a raw recursive count would double-read a fold with
        // its not-yet-swept sources)
        val rowsOut = graft.streaming.StreamNearDedup
          .cleanedDocs(spark, s"$tmp/out").count()
        Some(s"""{"op":"stream_near_dedup","rows_in":$rowsIn,""" +
          s""""batches":3,"grow_wall_sec":${fnum(wallGrow)},""" +
          s""""grow_rows_per_sec":${fnum(rowsIn / wallGrow)},""" +
          s""""steady_batch_rows":$steadyRows,""" +
          s""""steady_batch_wall_sec":${fnum(wallSteady)},""" +
          s""""steady2_batch_wall_sec":${fnum(wallSteady2)},""" +
          s""""index_rows":$indexRows,"rows_out":$rowsOut}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_near: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Streamed containment admission: grow the excerpt-free corpus over
    // three micro-batches (hook compaction after id 1), then time one
    // steady all-drop batch of half-token excerpts of every 20th landed
    // doc against the fully-grown compacted index.
    def streamContainBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.{array_join, col, floor => ffloor, greatest, lit, size => fsize, slice}
        val tmp = Files.createTempDirectory("graft_stream_contain_").toString
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val rowsIn = docs.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 3).foreach { i =>
          docs.filter(col("doc_id") % 3 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        def drive(): Double = {
          val stream = spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
          val t0 = System.nanoTime()
          graft.streaming.StreamContain.start(
            stream, s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt",
            "doc_id", "text", compactEvery = 2).awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val wallGrow = drive()
        val toks = graft.operators.TextAnalysis.tokens(col("text"))
        docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 9000000L).as("doc_id"),
            array_join(slice(toks, lit(1),
              greatest(ffloor(fsize(toks) / 2).cast("int"), lit(1))), " ")
              .as("text"))
          .coalesce(1).write.parquet(s"$tmp/stage3")
        val part = stagedFile(s"$tmp/stage3")
        val steadyRows = spark.read.parquet(part.toString).count()
        Files.move(part, Paths.get(s"$tmp/in/f3.parquet"))
        val wallSteady = drive()
        // manifest-resolved (the hook folds the landed corpus too)
        val rowsOut = graft.streaming.StreamContain
          .admittedDocs(spark, s"$tmp/out").count()
        Some(s"""{"op":"stream_contain","rows_in":$rowsIn,"batches":3,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""grow_rows_per_sec":${fnum(rowsIn / wallGrow)},""" +
          s""""steady_batch_rows":$steadyRows,""" +
          s""""steady_batch_wall_sec":${fnum(wallSteady)},""" +
          s""""rows_out":$rowsOut}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_contain: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Streamed search-index maintenance + serve: drive the corpus in as
    // three micro-batches (hook compaction after id 1), then time the
    // SERVE paths over the accumulated generations — BM25 and phrase,
    // median of 3. The round-10 claim under test: serve cost is
    // pruned-postings + stats-sidecar, NOT a corpus rescan, so these
    // medians sit in the landed-index serve class (txt_bm25_steady),
    // not the direct-scan class.
    def streamSearchBench(): Option[String] =
      try {
        val tmp = Files.createTempDirectory("graft_stream_search_").toString
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val rowsIn = docs.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        // four batches: the compactEvery=2 hook's first real fold runs at
        // batch id 3 (a fold needs >1 settled source), so the timed serve
        // reads the production steady shape — one compacted generation +
        // the newest raw tail
        (0 until 4).foreach { i =>
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % 4 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        val t0 = System.nanoTime()
        graft.streaming.StreamSearchIndex.start(
          stream, s"$tmp/idx", s"$tmp/ckpt", compactEvery = 2)
          .awaitTermination()
        val wallGrow = (System.nanoTime() - t0) / 1e9
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        val bm25 = med3 {
          graft.streaming.StreamSearchIndex.search(
            spark, s"$tmp/idx", graft.operators.TextAnalysis.searchQuery, k = 25)
            .write.format("noop").mode("overwrite").save()
        }
        val phrase = med3 {
          graft.streaming.StreamSearchIndex.searchPhrase(
            spark, s"$tmp/idx", graft.operators.TextAnalysis.searchPhrase)
            .write.format("noop").mode("overwrite").save()
        }
        Some(s"""{"op":"stream_search","rows_in":$rowsIn,"batches":4,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""serve_bm25_sec":${fnum(bm25)},"serve_phrase_sec":${fnum(phrase)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_search: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Streamed hybrid-retrieval maintenance + serve: the StreamHybrid
    // composer drives (text, embedding) arrivals in as four micro-batches
    // (hook compaction after id 1 and 3), then times the FUSED serve —
    // BM25 off the pruned streamed postings + exact cosine over the live
    // landed vectors + RRF, median of 3. The claim under test: the fused
    // serve pays the two branches' serve costs (pruned postings + one
    // dense scan of the landed vectors), not a corpus re-index.
    def streamHybridBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.col
        val tmp = Files.createTempDirectory("graft_stream_hybrid_").toString
        val rows = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
          .join(spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        val rowsIn = rows.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 4).foreach { i =>
          rows.filter(col("doc_id") % 4 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        val stream = spark.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        // fixed quantizers so the loop ALSO maintains the cell-partitioned
        // code list the index-backed serve reads
        val (centDf, book) =
          graft.operators.Similarity.landedQuantizers(spark, sfDir)
        val t0 = System.nanoTime()
        graft.streaming.StreamHybrid.start(
          stream, s"$tmp/state", s"$tmp/ckpt", compactEvery = 2,
          quantizers = Some((centDf, book)))
          .awaitTermination()
        val wallGrow = (System.nanoTime() - t0) / 1e9
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        val serve = med3 {
          graft.streaming.StreamHybrid.search(
            spark, s"$tmp/state", graft.operators.TextAnalysis.searchQuery,
            queryVecId = 0L)
            .write.format("noop").mode("overwrite").save()
        }
        // the index-backed sibling: dense leg off the probed partitions
        // of the maintained code list + bounded refine, never a scan of
        // the live vectors — the serve cost that tracks probed state
        val serveSteady = med3 {
          graft.streaming.StreamHybrid.searchSteady(
            spark, s"$tmp/state", graft.operators.TextAnalysis.searchQuery,
            queryVecId = 0L, centDf, book)
            .write.format("noop").mode("overwrite").save()
        }
        // maintenance re-shard to the √N production sizing (the
        // sim_topk_ivfpq_reshard device, run INSIDE the hybrid drive):
        // the store was built under the fixed 16-cell quantizers, whose
        // probed lists grow ∝ N — after the re-shard the steady serve's
        // probed lists are ≈√N rows, which is the sizing the crossover
        // claim is about. searchSteady resolves the re-shard's sidecar
        // centroids itself; the timed serve is the same call.
        val tReshard = System.nanoTime()
        graft.streaming.StreamIvfPq.reshard(spark, s"$tmp/state/codes",
          graft.streaming.StreamHybrid.liveVectors(spark, s"$tmp/state"),
          book, force = true)
        val wallReshard = (System.nanoTime() - tReshard) / 1e9
        val serveResharded = med3 {
          graft.streaming.StreamHybrid.searchSteady(
            spark, s"$tmp/state", graft.operators.TextAnalysis.searchQuery,
            queryVecId = 0L, centDf, book)
            .write.format("noop").mode("overwrite").save()
        }
        Some(s"""{"op":"stream_hybrid","rows_in":$rowsIn,"batches":4,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""serve_hybrid_sec":${fnum(serve)},""" +
          s""""serve_hybrid_steady_sec":${fnum(serveSteady)},""" +
          s""""reshard_wall_sec":${fnum(wallReshard)},""" +
          s""""serve_hybrid_steady_resharded_sec":${fnum(serveResharded)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_hybrid: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Dense-leg crossover at a large live set (round-16 verdict ask #3):
    // StreamHybrid.search and .searchSteady differ ONLY in their dense
    // legs — the BM25 lex leg and the RRF fuse are the same calls on both
    // sides — so the fused hybrid serves cross in wall-clock exactly
    // where the dense legs cross. This op measures those two legs (exact
    // cosine scan of the live vectors vs probed+refined serve off the
    // re-sharded √N code store) against a ScaleUp vectors-only corpus
    // (point SPARK_GRAFT_SF_DIR at it), which buys the sf30-class
    // 600 k-vector point without paying a multi-hour text-indexing grow
    // over millions of replicated documents that both serves would read
    // identically anyway. Explicit-selection only
    // (SPARK_GRAFT_BENCH_ONLY=stream_cross): a one-off scale
    // measurement, not a per-round tripwire.
    def streamCrossBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.col
        val tmp = Files.createTempDirectory("graft_stream_cross_").toString
        val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select("vec_id", "embedding")
        val rowsIn = vecs.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 4).foreach { i =>
          vecs.filter(col("vec_id") % 4 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        // the store grows under a FIXED 16-cell quantizer (cheap encode;
        // the re-shard retires it before the measured serve — the store's
        // build history is invisible to the served answer by the
        // landed ≡ direct law)
        val cent16 = vecs.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
          .localCheckpoint()
        val book = graft.operators.Similarity.pqCodebook()
        val stream = spark.readStream.schema(vecs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        val t0 = System.nanoTime()
        graft.streaming.StreamIvfPq.start(stream, s"$tmp/codes", s"$tmp/ckpt",
          cent16, book, compactEvery = 2).awaitTermination()
        val wallGrow = (System.nanoTime() - t0) / 1e9
        val queries = vecs.filter(col("vec_id") === 0L)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
          .localCheckpoint()
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        def probeMed3(): Double = {
          val ts = (1 to 3).map(_ => probeOnce()); ts.sorted.apply(1)
        }
        // the searchSteady dense leg, verbatim: sidecar-resolved
        // centroids, collected probe assignment, cell-pruned generation
        // read, ADC cut widened r×, exact re-rank on the candidates
        def denseProbed(): Unit = {
          val cent = graft.streaming.StreamIvfPq.currentCentroids(
            spark, s"$tmp/codes", cent16)
          val probes = graft.operators.Similarity.collectProbes(queries, cent, 4)
          val index = graft.streaming.StreamIvfPq.currentIndex(spark, s"$tmp/codes",
            template = throw new IllegalStateException(
              s"no committed code generation under $tmp/codes"),
            cells = Some(probes.map(_.cellId).distinct.sorted))
          graft.operators.Similarity.refinedSearchIndex(vecs,
              graft.operators.Similarity.IvfPqIndex(index, cent, book),
              queries, 50, 4, 4, probesPre = Some(probes))
            .write.format("noop").mode("overwrite").save()
        }
        val pBefore = probeMed3()
        val exact = med3 {
          graft.operators.Similarity.topKCosine(vecs, queries, 50)
            .write.format("noop").mode("overwrite").save()
        }
        val fixed = med3 { denseProbed() }
        val tReshard = System.nanoTime()
        graft.streaming.StreamIvfPq.reshard(spark, s"$tmp/codes", vecs, book,
          force = true)
        val wallReshard = (System.nanoTime() - tReshard) / 1e9
        val resharded = med3 { denseProbed() }
        // re-bracket the exact leg AFTER the long reshard so the pair of
        // exact reads + the probe medians certify the window
        val exact2 = med3 {
          graft.operators.Similarity.topKCosine(vecs, queries, 50)
            .write.format("noop").mode("overwrite").save()
        }
        val pAfter = probeMed3()
        Some(s"""{"op":"stream_cross","rows_in":$rowsIn,"batches":4,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""serve_dense_exact_sec":${fnum(exact)},""" +
          s""""serve_dense_exact2_sec":${fnum(exact2)},""" +
          s""""serve_dense_probed_fixed_sec":${fnum(fixed)},""" +
          s""""reshard_wall_sec":${fnum(wallReshard)},""" +
          s""""serve_dense_probed_resharded_sec":${fnum(resharded)},""" +
          s""""probe_before":${fnum(pBefore)},"probe_after":${fnum(pAfter)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_cross: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Streaming k-NN graph maintenance: drive the embedding corpus in as
    // four micro-batches against the landed trained cells (hook
    // compaction after ids 1 and 3 — the absorbing top-nn fold bounds
    // edge state), then time the SERVE re-cut over the live edges,
    // median of 3. Serve reads ≤ nn·|corpus| folded edge rows + the raw
    // tail — never re-scores the corpus.
    def streamKnnBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.col
        val tmp = Files.createTempDirectory("graft_stream_knn_").toString
        val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select("vec_id", "embedding")
        val rowsIn = vecs.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 4).foreach { i =>
          vecs.filter(col("vec_id") % 4 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        val stream = spark.readStream.schema(vecs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        val t0 = System.nanoTime()
        graft.streaming.StreamKnn.startFromLanded(
          stream, s"$tmp/state", s"$tmp/ckpt", sfDir, nn = 4,
          compactEvery = 2).awaitTermination()
        val wallGrow = (System.nanoTime() - t0) / 1e9
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        val serve = med3 {
          graft.streaming.StreamKnn.graph(spark, s"$tmp/state", nn = 4)
            .write.format("noop").mode("overwrite").save()
        }
        val serveRank = med3 {
          graft.streaming.StreamKnn.pageRank(spark, s"$tmp/state", nn = 4)
            .write.format("noop").mode("overwrite").save()
        }
        Some(s"""{"op":"stream_knn","rows_in":$rowsIn,"batches":4,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""serve_graph_sec":${fnum(serve)},""" +
          s""""serve_pagerank_sec":${fnum(serveRank)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_knn: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Continuous histogram maintenance: grow wall over 4 staged event
    // batches + the metadata-scale range-quantile serve (which never
    // touches events — the sketch-family serve bound).
    def streamHistBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.col
        val tmp = Files.createTempDirectory("graft_stream_hist_").toString
        val events = graft.sources.Tables.load(spark, sfDir, "events")
          .select("event_id", "ts", "value")
        val rowsIn = events.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 4).foreach { i =>
          events.filter(col("event_id") % 4 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        val stream = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        val t0 = System.nanoTime()
        graft.streaming.StreamHist.start(
          stream, s"$tmp/state", s"$tmp/ckpt",
          compactEvery = 2).awaitTermination()
        val wallGrow = (System.nanoTime() - t0) / 1e9
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        val serve = med3 {
          graft.streaming.StreamHist.quantiles(spark, s"$tmp/state",
            "2024-01-08", "2024-01-21", Seq(0.5, 0.95, 0.99))
            .write.format("noop").mode("overwrite").save()
        }
        Some(s"""{"op":"stream_hist","rows_in":$rowsIn,"batches":4,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""serve_quantiles_sec":${fnum(serve)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_hist: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Continuous gram-df maintenance (soft dedup): grow wall over 4
    // staged document batches, the weight serve for a 1-in-10 doc slice
    // off live df state, and one targeted-deletion request — the numbers
    // that certify weight serving is slice-sized + df-join, not a corpus
    // re-aggregate, and deletion is a bounded negative-delta write.
    def streamSoftDfBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.col
        val tmp = Files.createTempDirectory("graft_stream_softdf_").toString
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val rowsIn = docs.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 4).foreach { i =>
          docs.filter(col("doc_id") % 4 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        val t0 = System.nanoTime()
        graft.streaming.StreamSoftDf.start(
          stream, s"$tmp/state", s"$tmp/ckpt",
          compactEvery = 2).awaitTermination()
        val wallGrow = (System.nanoTime() - t0) / 1e9
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        val serve = med3 {
          graft.streaming.StreamSoftDf.weights(spark, s"$tmp/state",
            docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
        val serveNov = med3 {
          graft.streaming.StreamSoftDf.noveltyArrivals(spark, s"$tmp/state",
            docs.filter(col("doc_id") % 10 === 3)
              .select((col("doc_id") + 8000000L).as("doc_id"), col("text")),
            "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
        val tDel = System.nanoTime()
        graft.streaming.StreamSoftDf.delete(spark, s"$tmp/state", "bench-del",
          docs.filter(col("doc_id") % 100 === 7))
        val delSec = (System.nanoTime() - tDel) / 1e9
        Some(s"""{"op":"stream_softdf","rows_in":$rowsIn,"batches":4,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""serve_weights_sec":${fnum(serve)},""" +
          s""""serve_novelty_sec":${fnum(serveNov)},""" +
          s""""delete_sec":${fnum(delSec)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_softdf: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Streaming KMV sketch maintenance: per-batch sketch + fold cadence,
    // then the metadata-scale serve (estimates + pair algebra) off live
    // state — the number that certifies distinct-count serving cost is
    // bound by k·|segments|, not stream history.
    def streamKmvBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.col
        val tmp = Files.createTempDirectory("graft_stream_kmv_").toString
        val events = graft.sources.Tables.load(spark, sfDir, "events")
          .select("event_id", "event_type", "user_id")
        val rowsIn = events.count()
        Files.createDirectory(Paths.get(s"$tmp/in"))
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        (0 until 4).foreach { i =>
          events.filter(col("event_id") % 4 === i)
            .select("event_type", "user_id")
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"), Paths.get(s"$tmp/in/f$i.parquet"))
        }
        val schema = org.apache.spark.sql.types.StructType(
          events.select("event_type", "user_id").schema)
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        val t0 = System.nanoTime()
        graft.streaming.StreamKmv.start(
          stream, s"$tmp/state", s"$tmp/ckpt",
          compactEvery = 2).awaitTermination()
        val wallGrow = (System.nanoTime() - t0) / 1e9
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        val serveEst = med3 {
          graft.streaming.StreamKmv.estimates(spark, s"$tmp/state")
            .write.format("noop").mode("overwrite").save()
        }
        val serveOps = med3 {
          graft.streaming.StreamKmv.setOps(spark, s"$tmp/state")
            .write.format("noop").mode("overwrite").save()
        }
        Some(s"""{"op":"stream_kmv","rows_in":$rowsIn,"batches":4,""" +
          s""""grow_wall_sec":${fnum(wallGrow)},""" +
          s""""serve_estimates_sec":${fnum(serveEst)},""" +
          s""""serve_setops_sec":${fnum(serveOps)}}""")
      } catch {
        case e: Throwable =>
          errors += s"stream_kmv: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Full prep-pipeline wall time: clean → mix → chunk → pack →
    // deterministic epoch shuffle → sharded land, as ONE job
    // (PrepJob.runFull) — the "make training shards" artifact. Timed once
    // (it is a landing job, not a repeatable noop query): the number is
    // end-to-end wall including the parquet write.
    def prepBench(): Option[String] =
      try {
        import spark.implicits._
        val tmp = Files.createTempDirectory("graft_prep_full_").toString
        val docsIn = spark.read.parquet(s"$sfDir/documents.parquet").count()
        // bounded-by-contract eval stand-in (same sentinel as streamBench)
        val evalSet =
          Seq("graft eval suite sentinel eight gram window text").toDF("text")
        val t0 = System.nanoTime()
        val rowsOut = PrepJob.runFull(spark, sfDir, evalSet, s"$tmp/shards")
        val wall = (System.nanoTime() - t0) / 1e9
        val packs = spark.read.parquet(s"$tmp/shards")
          .select("pack_id").distinct().count()
        Some(s"""{"op":"prep_full","docs_in":$docsIn,"rows_out":$rowsOut,""" +
          s""""packs":$packs,"wall_sec":${fnum(wall)},""" +
          s""""docs_per_sec":${fnum(docsIn / wall)}}""")
      } catch {
        case e: Throwable =>
          errors += s"prep_full: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // One-loop unified ingest: the full gate cascade (exact → near →
    // containment → semantic) + every serve-index regrow driven by ONE
    // foreachBatch over 4 staged doc+embedding batches with one
    // compaction cadence, then each family's serve timed off the
    // combined state, median of 3. The number under test: the combined
    // loop costs one job DAG per batch, and each serve keeps its own
    // documented read shape off the shared state.
    def unifiedBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.col
        val tmp = Files.createTempDirectory("graft_unified_bench_").toString
        // the FULL five-gate composition: the payload column engages the
        // perceptual media gate + signature-index regrow (round 12)
        val rows = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text", "source")
          .join(spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
          .select(col("doc_id"), col("text"), col("embedding"), col("source"),
            col("text").cast("binary").as("payload"))
        val rowsIn = rows.count()
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        val (centDf, book) =
          graft.operators.Similarity.landedQuantizers(spark, sfDir)
        // drive the same corpus in at a given batch size (nFiles batches
        // of rowsIn/nFiles) — the batch-size economics dial: per-batch
        // cost is dozens of bounded jobs, so rows/s should grow with
        // batch size until data cost dominates the job floor
        def grow(nFiles: Int, sub: String): Double = {
          Files.createDirectory(Paths.get(s"$tmp/$sub-in"))
          (0 until nFiles).foreach { i =>
            rows.filter(col("doc_id") % nFiles === i)
              .coalesce(1).write.parquet(s"$tmp/$sub-stage$i")
            Files.move(stagedFile(s"$tmp/$sub-stage$i"),
              Paths.get(s"$tmp/$sub-in/f$i.parquet"))
          }
          val stream = spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$tmp/$sub-in")
          val t0 = System.nanoTime()
          graft.streaming.UnifiedIngest.start(
            stream, s"$tmp/$sub-state", s"$tmp/$sub-ckpt", centDf, book,
            compactEvery = 2, mediaCol = Some("payload")).awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val wallGrow = grow(4, "b4")   // the round-over-round comparable drive
        val wallGrow2 = grow(2, "b2")  // 2× batch size, same corpus
        val state = s"$tmp/b4-state"
        val admitted = graft.streaming.UnifiedIngest
          .admittedDocs(spark, state).count()
        def med3(f: => Unit): Double = {
          val ts = (1 to 3).map { _ =>
            val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
          }
          ts.sorted.apply(1)
        }
        val sBm25 = med3 {
          graft.streaming.UnifiedIngest.search(spark, state,
              graft.operators.TextAnalysis.searchQuery)
            .write.format("noop").mode("overwrite").save()
        }
        val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") === 0L)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        val sAnn = med3 {
          graft.streaming.UnifiedIngest.searchAnn(spark, state,
              queries, centDf, book)
            .write.format("noop").mode("overwrite").save()
        }
        val sKmv = med3 {
          graft.streaming.UnifiedIngest.kmvEstimates(spark, state)
            .write.format("noop").mode("overwrite").save()
        }
        val sHist = med3 {
          graft.streaming.UnifiedIngest.histQuantiles(spark, state,
              Seq(0.5, 0.95, 0.99))
            .write.format("noop").mode("overwrite").save()
        }
        val sBudget = med3 {
          graft.streaming.UnifiedIngest.budgetKept(spark, state,
              budget = 1000L)
            .write.format("noop").mode("overwrite").save()
        }
        val sSoft = med3 {
          graft.streaming.UnifiedIngest.softWeights(spark, state)
            .write.format("noop").mode("overwrite").save()
        }
        // |sources|-row fold — the round-12 served report (0.1 s class)
        val sCuration = med3 {
          graft.streaming.UnifiedIngest.curationReport(spark, state)
            .write.format("noop").mode("overwrite").save()
        }
        // the media probe side: signature-index read (32 B/asset)
        val sMedia = med3 {
          graft.streaming.UnifiedIngest.mediaSignatures(spark, state)
            .write.format("noop").mode("overwrite").save()
        }
        Some(s"""{"op":"unified_ingest","rows_in":$rowsIn,"batches":4,""" +
          s""""admitted":$admitted,"grow_wall_sec":${fnum(wallGrow)},""" +
          s""""grow_rows_per_sec":${fnum(rowsIn / wallGrow)},""" +
          s""""grow2x_batches":2,"grow2x_wall_sec":${fnum(wallGrow2)},""" +
          s""""grow2x_rows_per_sec":${fnum(rowsIn / wallGrow2)},""" +
          s""""serve_bm25_sec":${fnum(sBm25)},"serve_ann_sec":${fnum(sAnn)},""" +
          s""""serve_kmv_sec":${fnum(sKmv)},"serve_hist_sec":${fnum(sHist)},""" +
          s""""serve_budget_sec":${fnum(sBudget)},"serve_soft_sec":${fnum(sSoft)},""" +
          s""""serve_curation_sec":${fnum(sCuration)},"serve_media_sec":${fnum(sMedia)}}""")
      } catch {
        case e: Throwable =>
          errors += s"unified: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // ONE DAG vs TEN — the unified loop's raison d'être, measured: the
    // same 4-batch arrival sequence driven once through UnifiedIngest
    // (text-only, for parity) and then through the individual Stream*
    // maintainers SERIALLY (near, contain, semantic, search, ivfpq,
    // kmv, hist, softdf, budget — each its own readStream over the same
    // staged files, own checkpoint, same compaction cadence). The
    // separate composition re-reads every arrival once per loop and
    // schedules loops×batches micro-batch DAGs where unified schedules
    // `batches`; at 1000 executors that multiplier is the ingestion
    // bill. Comparability caveat (PLANS.md): the separate gates filter
    // RAW arrivals independently instead of serially composed — they do
    // slightly LESS admission work and keep MORE rows than unified, so
    // the measured ratio if anything understates the one-DAG advantage.
    // Explicit-selection only (SPARK_GRAFT_BENCH_ONLY=unified_vs_separate):
    // a one-off architecture measurement, not a per-round tripwire.
    def unifiedVsSeparateBench(): Option[String] =
      try {
        import org.apache.spark.sql.functions.{col, lit, size}
        val tmp = Files.createTempDirectory("graft_uvs_").toString
        val rows = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text", "source")
          .join(spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
          .select("doc_id", "text", "embedding", "source")
        val rowsIn = rows.count()
        def stagedFile(stage: String): java.nio.file.Path = {
          val st = Files.list(Paths.get(stage))
          try st.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally st.close()
        }
        Files.createDirectory(Paths.get(s"$tmp/in"))
        (0 until 4).foreach { i =>
          rows.filter(col("doc_id") % 4 === i)
            .coalesce(1).write.parquet(s"$tmp/stage$i")
          Files.move(stagedFile(s"$tmp/stage$i"),
            Paths.get(s"$tmp/in/f$i.parquet"))
        }
        def stream() = spark.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
        val (centDf, book) =
          graft.operators.Similarity.landedQuantizers(spark, sfDir)
        def wall(q: => org.apache.spark.sql.streaming.StreamingQuery): Double = {
          val t0 = System.nanoTime(); q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val wallU = wall(graft.streaming.UnifiedIngest.start(stream(),
          s"$tmp/u-state", s"$tmp/u-ckpt", centDf, book, compactEvery = 2))
        val parts = collection.mutable.LinkedHashMap[String, Double]()
        parts("near") = wall(graft.streaming.StreamNearDedup.start(stream(),
          s"$tmp/near-idx", s"$tmp/near-out", s"$tmp/near-ckpt",
          "doc_id", "text", compactEvery = 2))
        parts("contain") = wall(graft.streaming.StreamContain.start(stream(),
          s"$tmp/con-idx", s"$tmp/con-out", s"$tmp/con-ckpt",
          "doc_id", "text", compactEvery = 2))
        parts("semantic") = wall(graft.streaming.StreamSemantic.start(
          stream().select(col("doc_id").as("vec_id"), col("embedding")),
          s"$tmp/sem-idx", s"$tmp/sem-out", s"$tmp/sem-ckpt", centDf,
          compactEvery = 2))
        parts("search") = wall(graft.streaming.StreamSearchIndex.start(
          stream(), s"$tmp/search", s"$tmp/search-ckpt", compactEvery = 2))
        parts("ivfpq") = wall(graft.streaming.StreamIvfPq.start(
          stream().select(col("doc_id").as("vec_id"), col("embedding")),
          s"$tmp/codes", s"$tmp/codes-ckpt", centDf, book, compactEvery = 2))
        parts("kmv") = wall(graft.streaming.StreamKmv.start(
          stream().select(col("source").as("event_type"),
            col("doc_id").as("user_id")),
          s"$tmp/kmv", s"$tmp/kmv-ckpt", compactEvery = 2))
        parts("hist") = wall(graft.streaming.StreamHist.start(
          stream().select(
            lit(graft.streaming.UnifiedIngest.HistDay)
              .cast("timestamp").as("ts"),
            size(graft.operators.TextAnalysis.tokens(col("text")))
              .cast("double").as("value")),
          s"$tmp/hist", s"$tmp/hist-ckpt", compactEvery = 2))
        parts("softdf") = wall(graft.streaming.StreamSoftDf.start(
          stream().select(col("doc_id"), col("text")),
          s"$tmp/softdf", s"$tmp/softdf-ckpt", compactEvery = 2))
        parts("budget") = wall(graft.streaming.StreamBudget.start(stream(),
          s"$tmp/budget", s"$tmp/budget-ckpt", budget = 1000L,
          compactEvery = 2))
        val wallSep = parts.values.sum
        val partsJson = parts
          .map { case (k, v) => jstr(k) + ":" + fnum(v) }
          .mkString("{", ",", "}")
        Some(s"""{"op":"unified_vs_separate","rows_in":$rowsIn,""" +
          s""""batches":4,"unified_wall_sec":${fnum(wallU)},""" +
          s""""separate":$partsJson,""" +
          s""""separate_total_sec":${fnum(wallSep)},""" +
          s""""separate_over_unified":${fnum(wallSep / wallU)}}""")
      } catch {
        case e: Throwable =>
          errors += s"unified_vs_separate: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    // Selection by EXACT name (Set membership, not substring): "stream"
    // runs both streaming benches (back-compat umbrella), "stream_near"
    // runs only the near-dedup bench; no filter runs both.
    val streamJson: String =
      if (only.forall(_.contains("stream")))
        streamBench().getOrElse("null")
      else "null"
    val streamNearJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_near")))
        streamNearBench().getOrElse("null")
      else "null"
    val streamSearchJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_search")))
        streamSearchBench().getOrElse("null")
      else "null"
    val streamHybridJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_hybrid")))
        streamHybridBench().getOrElse("null")
      else "null"
    val streamKnnJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_knn")))
        streamKnnBench().getOrElse("null")
      else "null"
    val streamHistJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_hist")))
        streamHistBench().getOrElse("null")
      else "null"
    val streamKmvJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_kmv")))
        streamKmvBench().getOrElse("null")
      else "null"
    val streamSoftDfJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_softdf")))
        streamSoftDfBench().getOrElse("null")
      else "null"
    val streamContainJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("stream_contain")))
        streamContainBench().getOrElse("null")
      else "null"
    val unifiedJson: String =
      if (only.forall(sel => sel.contains("stream") || sel.contains("unified")))
        unifiedBench().getOrElse("null")
      else "null"
    val unifiedVsSepJson: String =
      if (only.exists(_.contains("unified_vs_separate")))
        unifiedVsSeparateBench().getOrElse("null")
      else "null"
    val streamCrossJson: String =
      if (only.exists(_.contains("stream_cross")))
        streamCrossBench().getOrElse("null")
      else "null"
    val prepJson: String =
      if (only.forall(_.contains("prep_full"))) prepBench().getOrElse("null")
      else "null"

    def qjson(rs: Seq[(String, Option[Double])]): String = rs
      .map { case (k, v) => jstr(k) + ":" + v.map(fnum).getOrElse("null") }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val errJson = errors.map(jstr).mkString("[", ",", "]")
    val probeJson = probes
      .map { case (k, v) => jstr(k) + ":" + fnum(v) }.mkString("{", ",", "}")
    val probeFloor = if (probes.isEmpty) 0.0 else probes.values.min
    // Contention self-certification (round-9 verdict): the tail line must
    // carry enough to attribute outliers WITHOUT the full probe map —
    // n_contended = queries whose probe median read > 3× the run's floor
    // (timed in a contended window; their times say nothing about the
    // plan), probe_max = the worst such window.
    val nContended = probes.values.count(_ > 3 * probeFloor)
    val probeMax = if (probes.isEmpty) 0.0 else probes.values.max
    // "value"/"queries" cover the stable headline set (comparable across
    // rounds and to BASELINE.md); "ext" informally times the extension ops.
    // "probe" is the per-query contention sentinel (see scaladoc):
    // probe[q] >> probe_floor ⇒ q was timed in a contended window.
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","windows":$windows,"queries":${qjson(results)},"ext":${qjson(extResults)},"stream":$streamJson,"stream_near":$streamNearJson,"stream_search":$streamSearchJson,"stream_hybrid":$streamHybridJson,"stream_knn":$streamKnnJson,"stream_hist":$streamHistJson,"stream_kmv":$streamKmvJson,"stream_softdf":$streamSoftDfJson,"stream_contain":$streamContainJson,"unified":$unifiedJson,"unified_vs_separate":$unifiedVsSepJson,"stream_cross":$streamCrossJson,"prep_full":$prepJson,"probe":$probeJson,"probe_floor":${fnum(probeFloor)},"n_contended":$nContended,"probe_max":${fnum(probeMax)},"errors":$errJson,"sf":${jstr(sfDir)}}"""
    println(json)
    Files.writeString(Paths.get(outFile), json)
    // The driver's per-round artifact keeps only the LAST 2000 chars of
    // stdout, so the full line above loses its headline/ext timings to
    // the per-query probe map (round-8 verdict). Emit a second, compact
    // line LAST, ordered so a 2000-char tail keeps the valuable end:
    // ext (oldest entries first — the clip-at-risk head is the
    // historically-stable set), then the headline queries, then the tiny
    // scalars. The full JSON (with probes and stream objects) stays in
    // `outFile` and the line above.
    val tailJson =
      s"""{"metric":"tail","ext":${qjson(extResults)},"queries":${qjson(results)},"value":$total,"unit":"sec","windows":$windows,"prep_full":$prepJson,"probe_floor":${fnum(probeFloor)},"n_contended":$nContended,"probe_max":${fnum(probeMax)},"n_errors":${errors.size},"sf":${jstr(sfDir)}}"""
    println(tailJson)
    spark.stop()
  }
}
