package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming._

/** Benchmark main — times SparkEntry.benchQueries on SPARK_GRAFT_SF_DIR.
  *
  * Measurement fixes from round-1 feedback (VERDICT.md "What's wrong"):
  *  - results are written to the `noop` datasource, not `.count()`ed —
  *    a count lets Catalyst's EliminateSorts delete ORDER BYs and prune
  *    projections, so the timed plan wasn't the query's plan;
  *  - one unmeasured warm-up pass absorbs JVM/codegen/parquet-footer
  *    startup that round 1 charged entirely to whichever query ran first;
  *  - the full JSON line is also written to SPARK_GRAFT_BENCH_OUT
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
  *
  * After the registry rows, the stream/prep [[entries]] run in table order,
  * each in its own dir `<graft.state.dir>/bench/<key>`, and each emits one
  * object under its key (null when not selected or failed):
  *  - [[Default]]: `stream`, `prep_full` — run with no filter or when named;
  *  - [[Family]]: `stream_near`, `stream_search`, `stream_hybrid`,
  *    `stream_knn`, `stream_hist`, `stream_kmv`, `stream_softdf`,
  *    `stream_contain`, `unified` — also run under the `stream` umbrella;
  *  - [[Explicit]]: `unified_vs_separate`, `stream_cross` — run only when
  *    named.
  * An object's `op` is its key except for `stream` (`stream_clean_docs`)
  * and `unified` (`unified_ingest`); SPARK_GRAFT_BENCH_ONLY takes keys.
  *
  * Output is two lines: the full `{"metric":"total",…}` (every object,
  * probes and errors) and, last, the compact `{"metric":"tail",…}`.
  */
object Bench {
  /** When an entry runs under SPARK_GRAFT_BENCH_ONLY (see [[selects]]). */
  sealed trait Group
  case object Default extends Group
  case object Family extends Group
  case object Explicit extends Group

  /** A JSON object's members in emit order (see [[jfields]]). */
  type Fields = Seq[(String, Any)]
  /** One stream/prep bench: its output key, selection group and body. */
  final case class Entry(key: String, group: Group, body: Run => Fields)

  /** Exact-name selection: no filter runs [[Default]] and [[Family]];
    * the `stream` umbrella also runs the [[Family]]; [[Explicit]] entries
    * run only when named. */
  def selects(only: Option[Set[String]], e: Entry): Boolean = e.group match {
    case Default  => only.forall(_(e.key))
    case Family   => only.forall(sel => sel("stream") || sel(e.key))
    case Explicit => only.exists(_(e.key))
  }

  /** The SPARK_GRAFT_BENCH_ONLY filter (comma-separated names); rejects a
    * name that is neither a bench query nor an entry key, which would
    * otherwise silently select nothing. */
  def parseOnly(value: Option[String]): Option[Set[String]] = value.map { v =>
    val sel = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val keys = entries.map(_.key)
    val unknown = sel -- SparkEntry.benchQueries -- SparkEntry.benchExtQueries -- keys
    require(unknown.isEmpty,
      s"SPARK_GRAFT_BENCH_ONLY: unknown name(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"valid names are the bench query names and the entry keys ${keys.mkString(", ")}")
    sel
  }

  /** Wall seconds of one run of `f`. */
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Median of 3 passes of `f` (a timing). */
  def med3(f: => Double): Double = Seq.fill(3)(f).sorted.apply(1)

  /** Times building `df` plus writing it to the `noop` sink. */
  def noop(df: => DataFrame): Double =
    timed(df.write.format("noop").mode("overwrite").save())

  /** `Right(f)`, or the error label `"<label>: <exception>: <message>"`. */
  def guard[A](label: String)(f: => A): Either[String, A] =
    try Right(f) catch {
      case e: Throwable =>
        Left(s"$label: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }

  // Constant-work calibration probe: same job every time, so its time
  // varies only with box conditions. Shape chosen to exercise scheduling
  // + a codegen'd agg like the real queries, not to be representative.
  def probeOnce(spark: SparkSession): Double =
    noop(spark.range(1L << 22).agg(sum(col("id"))))

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  // Locale.ROOT: the default-locale f"" interpolator renders a decimal
  // COMMA under e.g. de_DE, which is malformed JSON.
  def fnum(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** JSON object members: strings escaped, Int/Long raw, Double via
    * [[fnum]], an Option as its value or null, a field list as an object. */
  def jfields(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => jstr(k) + ":" + jval(v) }.mkString(",")
  def jobj(fields: Iterable[(String, Any)]): String = "{" + jfields(fields) + "}"
  private def jval(v: Any): String = v match {
    case s: String    => jstr(s)
    case d: Double    => fnum(d)
    case n: Int       => n.toString
    case n: Long      => n.toString
    case o: Option[_] => o.fold("null")(jval)
    case f: Iterable[_] => jobj(f.asInstanceOf[Iterable[(String, Any)]])
  }

  private def parquetFiles(dir: Path): List[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally st.close()
  }

  /** One entry's run: the session, the sf tables and its own dir. */
  final class Run(val spark: SparkSession, val sfDir: String, val dir: String) {
    def sf(table: String): DataFrame = spark.read.parquet(s"$sfDir/$table.parquet")

    // bounded-by-contract eval-suite stand-in: one literal sentinel doc
    def evalSet: DataFrame = {
      import spark.implicits._
      Seq("graft eval suite sentinel eight gram window text").toDF("text")
    }

    /** Lands `frame` as the one arrival file `<root>/in/f<i>.parquet`;
      * returns its path. */
    def arrive(frame: DataFrame, i: Int, root: String = dir): String = {
      frame.coalesce(1).write.parquet(s"$root/stage$i")
      val in = Files.createDirectories(Paths.get(s"$root/in"))
      Files.move(parquetFiles(Paths.get(s"$root/stage$i")).head,
        in.resolve(s"f$i.parquet")).toString
    }

    /** Stages `frame` as n arrival files, file i holding the rows with
      * `keyCol % n === i`; returns the arrival dir. */
    def stage(frame: DataFrame, keyCol: String, n: Int, root: String = dir): String = {
      (0 until n).foreach(i => arrive(frame.filter(col(keyCol) % n === i), i, root))
      s"$root/in"
    }

    /** Drives `start` over the arrivals in `in`, one file per micro-batch,
      * to completion; returns the wall of start + drain. */
    def grow(schema: StructType, in: String)(start: DataFrame => StreamingQuery): Double = {
      val arrivals = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      timed(start(arrivals).awaitTermination())
    }
  }

  /** Runs entry `e` in `<graft.state.dir>/bench/<key>`: its fields, or its
    * error label. */
  def run(spark: SparkSession, sfDir: String, e: Entry): Either[String, Fields] =
    guard(e.key) {
      val dir = Files.createDirectories(
        Paths.get(sys.props("graft.state.dir"), "bench", e.key)).toString
      e.body(new Run(spark, sfDir, dir))
    }

  val entries: Seq[Entry] = Seq(
    // Streaming throughput: one Trigger.AvailableNow drive of
    // StreamClean.clean (decontaminate → corpus-known anti-join →
    // in-watermark dedup → PII redact) over the sf documents, landed as
    // parquet — the only performance signal for the streaming half
    // (correctness suites don't time it). rows/s is input-rows / wall.
    Entry("stream", Default, { r => import r._
      val docsPath = s"$sfDir/documents.parquet"
      val static = spark.read.parquet(docsPath)
      val rowsIn = static.count()
      val suite = evalSet
      // a 1%-of-corpus fingerprint index (realistic anti-join cost)
      val corpusFps = static.filter(col("doc_id") % 100 === 0)
        .select(md5(col("text").cast("binary")).as("fp"))
      // the file source wants a DIRECTORY of plain files: expose the
      // table through symlinks (no copy). Driver testdata is a single
      // parquet FILE; ScaleUp output is a Spark-written DIRECTORY of part
      // files (which the stream source would not traverse through one
      // nested symlink) — link each part file flat in either case.
      val in = Files.createDirectories(Paths.get(s"$dir/in"))
      val docsSrc = Paths.get(docsPath)
      if (Files.isDirectory(docsSrc))
        parquetFiles(docsSrc).zipWithIndex.foreach { case (p, i) =>
          Files.createSymbolicLink(in.resolve(s"part$i.parquet"), p) }
      else Files.createSymbolicLink(in.resolve("documents.parquet"), docsSrc)
      val stream = spark.readStream.schema(static.schema).parquet(in.toString)
        .withColumn("ts", timestamp_seconds(col("doc_id")))
      val cleaned = StreamClean.clean(stream, suite, corpusFps,
        "doc_id", "text", "ts", watermark = "1 hour")
      val wall = timed(StreamSink.drainAvailable(cleaned, s"$dir/out", s"$dir/ckpt"))
      val rowsOut = spark.read.parquet(s"$dir/out").count()
      Seq("op" -> "stream_clean_docs", "rows_in" -> rowsIn, "rows_out" -> rowsOut,
        "wall_sec" -> wall, "rows_per_sec" -> rowsIn / wall)
    }),
    // Streaming near-dedup throughput: the number a user tuning
    // compaction cadence needs — per-batch wall as the cross-batch
    // signature index grows, plus the steady per-batch wall of one more
    // arrival batch against the fully-grown COMPACTED index (the
    // production cadence: compaction runs between batches, arrivals probe
    // one folded generation instead of many).
    Entry("stream_near", Family, { r => import r._
      val docs = sf("documents").select("doc_id", "text")
      val rowsIn = docs.count()
      val in = stage(docs, "doc_id", 3) // three micro-batches
      // compaction runs VIA THE IN-LOOP HOOK (compactEvery=2: after
      // batch ids 1 and 3) — the production cadence, serialized with
      // the probes by construction
      def drive(): Double = grow(docs.schema, in)(StreamNearDedup.start(_,
        s"$dir/idx", s"$dir/out", s"$dir/ckpt", "doc_id", "text", compactEvery = 2))
      val wallGrow = drive() // 3 batches, index grows 0 → full corpus
      // steady batches: near-copies of every 20th doc — the all-drop
      // path. Two of them, separated by a hook compaction cycle (after
      // batch id 3), so flat wall across the pair certifies per-batch
      // cost independent of compaction-cycle count.
      def steadyBatch(i: Int, offset: Long): Long = spark.read.parquet(arrive(
        docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(col("text"), lit(" graftdup")).as("text")), i)).count()
      val steadyRows = steadyBatch(3, 9000000L)
      val wallSteady = drive()  // batch id 3; hook compacts after it
      steadyBatch(4, 9500000L)
      val wallSteady2 = drive() // batch id 4 vs the re-compacted index
      // all generations (compaction keeps the newest batch gen aside)
      val indexRows = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/idx").count()
      // manifest-resolved corpus count (the hook also folds the landed
      // corpus; a raw recursive count would double-read a fold with its
      // not-yet-swept sources)
      val rowsOut = StreamNearDedup.cleanedDocs(spark, s"$dir/out").count()
      Seq("op" -> "stream_near_dedup", "rows_in" -> rowsIn, "batches" -> 3,
        "grow_wall_sec" -> wallGrow, "grow_rows_per_sec" -> rowsIn / wallGrow,
        "steady_batch_rows" -> steadyRows, "steady_batch_wall_sec" -> wallSteady,
        "steady2_batch_wall_sec" -> wallSteady2, "index_rows" -> indexRows,
        "rows_out" -> rowsOut)
    }),
    // Streamed search-index maintenance + serve: the round-10 claim under
    // test is that serve cost is pruned-postings + stats-sidecar, NOT a
    // corpus rescan, so these medians sit in the landed-index serve class
    // (txt_bm25_steady), not the direct-scan class.
    Entry("stream_search", Family, { r => import r._
      val docs = sf("documents").select("doc_id", "text")
      val rowsIn = docs.count()
      // four batches: the compactEvery=2 hook's first real fold runs at
      // batch id 3 (a fold needs >1 settled source), so the timed serve
      // reads the production steady shape — one compacted generation +
      // the newest raw tail
      val wallGrow = grow(docs.schema, stage(docs, "doc_id", 4))(
        StreamSearchIndex.start(_, s"$dir/idx", s"$dir/ckpt", compactEvery = 2))
      val bm25 = med3(noop(StreamSearchIndex.search(
        spark, s"$dir/idx", TextAnalysis.searchQuery, k = 25)))
      val phrase = med3(noop(StreamSearchIndex.searchPhrase(
        spark, s"$dir/idx", TextAnalysis.searchPhrase)))
      Seq("op" -> "stream_search", "rows_in" -> rowsIn, "batches" -> 4,
        "grow_wall_sec" -> wallGrow, "serve_bm25_sec" -> bm25,
        "serve_phrase_sec" -> phrase)
    }),
    // Streamed hybrid-retrieval maintenance + serve: the StreamHybrid
    // composer drives (text, embedding) arrivals in as four micro-batches,
    // then times the FUSED serve — BM25 off the pruned streamed postings +
    // exact cosine over the live landed vectors + RRF. The claim under
    // test: the fused serve pays the two branches' serve costs (pruned
    // postings + one dense scan of the landed vectors), not a corpus
    // re-index.
    Entry("stream_hybrid", Family, { r => import r._
      val rows = sf("documents").select("doc_id", "text")
        .join(sf("embeddings").select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      val rowsIn = rows.count()
      val in = stage(rows, "doc_id", 4)
      // fixed quantizers so the loop ALSO maintains the cell-partitioned
      // code list the index-backed serve reads
      val (centDf, book) = Similarity.landedQuantizers(spark, sfDir)
      val wallGrow = grow(rows.schema, in)(StreamHybrid.start(_, s"$dir/state",
        s"$dir/ckpt", compactEvery = 2, quantizers = Some((centDf, book))))
      val serve = med3(noop(StreamHybrid.search(
        spark, s"$dir/state", TextAnalysis.searchQuery, queryVecId = 0L)))
      // the index-backed sibling: dense leg off the probed partitions of
      // the maintained code list + bounded refine, never a scan of the
      // live vectors — the serve cost that tracks probed state
      def serveSteady(): Double = med3(noop(StreamHybrid.searchSteady(
        spark, s"$dir/state", TextAnalysis.searchQuery, queryVecId = 0L, centDf, book)))
      val steady = serveSteady()
      // maintenance re-shard to the √N production sizing (the
      // sim_topk_ivfpq_reshard device, run INSIDE the hybrid drive): the
      // store was built under the fixed 16-cell quantizers, whose probed
      // lists grow ∝ N — after the re-shard the steady serve's probed
      // lists are ≈√N rows, which is the sizing the crossover claim is
      // about. searchSteady resolves the re-shard's sidecar centroids
      // itself; the timed serve is the same call.
      val wallReshard = timed(StreamIvfPq.reshard(spark, s"$dir/state/codes",
        StreamHybrid.liveVectors(spark, s"$dir/state"), book, force = true))
      val resharded = serveSteady()
      Seq("op" -> "stream_hybrid", "rows_in" -> rowsIn, "batches" -> 4,
        "grow_wall_sec" -> wallGrow, "serve_hybrid_sec" -> serve,
        "serve_hybrid_steady_sec" -> steady, "reshard_wall_sec" -> wallReshard,
        "serve_hybrid_steady_resharded_sec" -> resharded)
    }),
    // Streaming k-NN graph maintenance against the landed trained cells
    // (hook compaction after ids 1 and 3 — the absorbing top-nn fold
    // bounds edge state), then the SERVE re-cut over the live edges:
    // serve reads ≤ nn·|corpus| folded edge rows + the raw tail — never
    // re-scores the corpus.
    Entry("stream_knn", Family, { r => import r._
      val vecs = sf("embeddings").select("vec_id", "embedding")
      val rowsIn = vecs.count()
      val wallGrow = grow(vecs.schema, stage(vecs, "vec_id", 4))(StreamKnn.startFromLanded(
        _, s"$dir/state", s"$dir/ckpt", sfDir, nn = 4, compactEvery = 2))
      val serve = med3(noop(StreamKnn.graph(spark, s"$dir/state", nn = 4)))
      val serveRank = med3(noop(StreamKnn.pageRank(spark, s"$dir/state", nn = 4)))
      Seq("op" -> "stream_knn", "rows_in" -> rowsIn, "batches" -> 4,
        "grow_wall_sec" -> wallGrow, "serve_graph_sec" -> serve,
        "serve_pagerank_sec" -> serveRank)
    }),
    // Continuous histogram maintenance + the metadata-scale range-quantile
    // serve (which never touches events — the sketch-family serve bound).
    Entry("stream_hist", Family, { r => import r._
      val events = Tables.load(spark, sfDir, "events").select("event_id", "ts", "value")
      val rowsIn = events.count()
      val wallGrow = grow(events.schema, stage(events, "event_id", 4))(
        StreamHist.start(_, s"$dir/state", s"$dir/ckpt", compactEvery = 2))
      val serve = med3(noop(StreamHist.quantiles(spark, s"$dir/state",
        "2024-01-08", "2024-01-21", Seq(0.5, 0.95, 0.99))))
      Seq("op" -> "stream_hist", "rows_in" -> rowsIn, "batches" -> 4,
        "grow_wall_sec" -> wallGrow, "serve_quantiles_sec" -> serve)
    }),
    // Streaming KMV sketch maintenance, then the metadata-scale serve
    // (estimates + pair algebra) off live state — the number that
    // certifies distinct-count serving cost is bound by k·|segments|, not
    // stream history.
    Entry("stream_kmv", Family, { r => import r._
      val events = Tables.load(spark, sfDir, "events")
        .select("event_id", "event_type", "user_id")
      val rowsIn = events.count()
      (0 until 4).foreach(i => arrive(
        events.filter(col("event_id") % 4 === i).select("event_type", "user_id"), i))
      val wallGrow = grow(events.select("event_type", "user_id").schema, s"$dir/in")(
        StreamKmv.start(_, s"$dir/state", s"$dir/ckpt", compactEvery = 2))
      val serveEst = med3(noop(StreamKmv.estimates(spark, s"$dir/state")))
      val serveOps = med3(noop(StreamKmv.setOps(spark, s"$dir/state")))
      Seq("op" -> "stream_kmv", "rows_in" -> rowsIn, "batches" -> 4,
        "grow_wall_sec" -> wallGrow, "serve_estimates_sec" -> serveEst,
        "serve_setops_sec" -> serveOps)
    }),
    // Continuous gram-df maintenance (soft dedup): the weight serve for a
    // 1-in-10 doc slice off live df state, and one targeted-deletion
    // request — the numbers that certify weight serving is slice-sized +
    // df-join, not a corpus re-aggregate, and deletion is a bounded
    // negative-delta write.
    Entry("stream_softdf", Family, { r => import r._
      val docs = sf("documents").select("doc_id", "text")
      val rowsIn = docs.count()
      val wallGrow = grow(docs.schema, stage(docs, "doc_id", 4))(
        StreamSoftDf.start(_, s"$dir/state", s"$dir/ckpt", compactEvery = 2))
      val serve = med3(noop(StreamSoftDf.weights(spark, s"$dir/state",
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")))
      val serveNov = med3(noop(StreamSoftDf.noveltyArrivals(spark, s"$dir/state",
        docs.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 8000000L).as("doc_id"), col("text")),
        "doc_id", "text")))
      val delSec = timed(StreamSoftDf.delete(spark, s"$dir/state", "bench-del",
        docs.filter(col("doc_id") % 100 === 7)))
      Seq("op" -> "stream_softdf", "rows_in" -> rowsIn, "batches" -> 4,
        "grow_wall_sec" -> wallGrow, "serve_weights_sec" -> serve,
        "serve_novelty_sec" -> serveNov, "delete_sec" -> delSec)
    }),
    // Streamed containment admission: grow the excerpt-free corpus over
    // three micro-batches (hook compaction after id 1), then time one
    // steady all-drop batch of half-token excerpts of every 20th landed
    // doc against the fully-grown compacted index.
    Entry("stream_contain", Family, { r => import r._
      val docs = sf("documents").select("doc_id", "text")
      val rowsIn = docs.count()
      val in = stage(docs, "doc_id", 3)
      def drive(): Double = grow(docs.schema, in)(StreamContain.start(_,
        s"$dir/idx", s"$dir/out", s"$dir/ckpt", "doc_id", "text", compactEvery = 2))
      val wallGrow = drive()
      val toks = TextAnalysis.tokens(col("text"))
      val steadyRows = spark.read.parquet(arrive(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          array_join(slice(toks, lit(1),
            greatest(floor(size(toks) / 2).cast("int"), lit(1))), " ").as("text")),
        3)).count()
      val wallSteady = drive()
      // manifest-resolved (the hook folds the landed corpus too)
      val rowsOut = StreamContain.admittedDocs(spark, s"$dir/out").count()
      Seq("op" -> "stream_contain", "rows_in" -> rowsIn, "batches" -> 3,
        "grow_wall_sec" -> wallGrow, "grow_rows_per_sec" -> rowsIn / wallGrow,
        "steady_batch_rows" -> steadyRows, "steady_batch_wall_sec" -> wallSteady,
        "rows_out" -> rowsOut)
    }),
    // One-loop unified ingest: the full gate cascade (exact → near →
    // containment → semantic) + every serve-index regrow driven by ONE
    // foreachBatch over 4 staged doc+embedding batches with one
    // compaction cadence, then each family's serve timed off the
    // combined state. The number under test: the combined loop costs one
    // job DAG per batch, and each serve keeps its own documented read
    // shape off the shared state.
    Entry("unified", Family, { r => import r._
      // the FULL five-gate composition: the payload column engages the
      // perceptual media gate + signature-index regrow (round 12)
      val rows = sf("documents").select("doc_id", "text", "source")
        .join(sf("embeddings").select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .select(col("doc_id"), col("text"), col("embedding"), col("source"),
          col("text").cast("binary").as("payload"))
      val rowsIn = rows.count()
      val (centDf, book) = Similarity.landedQuantizers(spark, sfDir)
      // drive the same corpus in at a given batch size (nFiles batches of
      // rowsIn/nFiles) — the batch-size economics dial: per-batch cost is
      // dozens of bounded jobs, so rows/s should grow with batch size
      // until data cost dominates the job floor
      def growAt(nFiles: Int, sub: String): Double =
        grow(rows.schema, stage(rows, "doc_id", nFiles, s"$dir/$sub"))(UnifiedIngest.start(_,
          s"$dir/$sub/state", s"$dir/$sub/ckpt", centDf, book,
          compactEvery = 2, mediaCol = Some("payload")))
      val wallGrow = growAt(4, "b4")   // the round-over-round comparable drive
      val wallGrow2 = growAt(2, "b2")  // 2× batch size, same corpus
      val state = s"$dir/b4/state"
      val admitted = UnifiedIngest.admittedDocs(spark, state).count()
      val sBm25 = med3(noop(UnifiedIngest.search(spark, state, TextAnalysis.searchQuery)))
      val queries = sf("embeddings").filter(col("vec_id") === 0L)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val sAnn = med3(noop(UnifiedIngest.searchAnn(spark, state, queries, centDf, book)))
      val sKmv = med3(noop(UnifiedIngest.kmvEstimates(spark, state)))
      val sHist = med3(noop(UnifiedIngest.histQuantiles(spark, state, Seq(0.5, 0.95, 0.99))))
      val sBudget = med3(noop(UnifiedIngest.budgetKept(spark, state, budget = 1000L)))
      val sSoft = med3(noop(UnifiedIngest.softWeights(spark, state)))
      // |sources|-row fold — the round-12 served report (0.1 s class)
      val sCuration = med3(noop(UnifiedIngest.curationReport(spark, state)))
      // the media probe side: signature-index read (32 B/asset)
      val sMedia = med3(noop(UnifiedIngest.mediaSignatures(spark, state)))
      Seq("op" -> "unified_ingest", "rows_in" -> rowsIn, "batches" -> 4,
        "admitted" -> admitted, "grow_wall_sec" -> wallGrow,
        "grow_rows_per_sec" -> rowsIn / wallGrow, "grow2x_batches" -> 2,
        "grow2x_wall_sec" -> wallGrow2, "grow2x_rows_per_sec" -> rowsIn / wallGrow2,
        "serve_bm25_sec" -> sBm25, "serve_ann_sec" -> sAnn, "serve_kmv_sec" -> sKmv,
        "serve_hist_sec" -> sHist, "serve_budget_sec" -> sBudget,
        "serve_soft_sec" -> sSoft, "serve_curation_sec" -> sCuration,
        "serve_media_sec" -> sMedia)
    }),
    // ONE DAG vs TEN — the unified loop's raison d'être, measured: the
    // same 4-batch arrival sequence driven once through UnifiedIngest
    // (text-only, for parity) and then through the individual Stream*
    // maintainers SERIALLY (each its own readStream over the same staged
    // files, own checkpoint, same compaction cadence). The separate
    // composition re-reads every arrival once per loop and schedules
    // loops×batches micro-batch DAGs where unified schedules `batches`;
    // at 1000 executors that multiplier is the ingestion bill.
    // Comparability caveat (PLANS.md): the separate gates filter RAW
    // arrivals independently instead of serially composed — they do
    // slightly LESS admission work and keep MORE rows than unified, so
    // the measured ratio if anything understates the one-DAG advantage.
    // A one-off architecture measurement, not a per-round tripwire.
    Entry("unified_vs_separate", Explicit, { r => import r._
      val rows = sf("documents").select("doc_id", "text", "source")
        .join(sf("embeddings").select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .select("doc_id", "text", "embedding", "source")
      val rowsIn = rows.count()
      val in = stage(rows, "doc_id", 4)
      val (centDf, book) = Similarity.landedQuantizers(spark, sfDir)
      def wall(start: DataFrame => StreamingQuery): Double = grow(rows.schema, in)(start)
      val vectors = (s: DataFrame) => s.select(col("doc_id").as("vec_id"), col("embedding"))
      val wallU = wall(UnifiedIngest.start(_, s"$dir/u-state", s"$dir/u-ckpt",
        centDf, book, compactEvery = 2))
      val parts = Seq(
        "near" -> wall(StreamNearDedup.start(_, s"$dir/near-idx", s"$dir/near-out",
          s"$dir/near-ckpt", "doc_id", "text", compactEvery = 2)),
        "contain" -> wall(StreamContain.start(_, s"$dir/con-idx", s"$dir/con-out",
          s"$dir/con-ckpt", "doc_id", "text", compactEvery = 2)),
        "semantic" -> wall(s => StreamSemantic.start(vectors(s), s"$dir/sem-idx",
          s"$dir/sem-out", s"$dir/sem-ckpt", centDf, compactEvery = 2)),
        "search" -> wall(StreamSearchIndex.start(_, s"$dir/search",
          s"$dir/search-ckpt", compactEvery = 2)),
        "ivfpq" -> wall(s => StreamIvfPq.start(vectors(s), s"$dir/codes",
          s"$dir/codes-ckpt", centDf, book, compactEvery = 2)),
        "kmv" -> wall(s => StreamKmv.start(
          s.select(col("source").as("event_type"), col("doc_id").as("user_id")),
          s"$dir/kmv", s"$dir/kmv-ckpt", compactEvery = 2)),
        "hist" -> wall(s => StreamHist.start(s.select(
          lit(UnifiedIngest.HistDay).cast("timestamp").as("ts"),
          size(TextAnalysis.tokens(col("text"))).cast("double").as("value")),
          s"$dir/hist", s"$dir/hist-ckpt", compactEvery = 2)),
        "softdf" -> wall(s => StreamSoftDf.start(s.select(col("doc_id"), col("text")),
          s"$dir/softdf", s"$dir/softdf-ckpt", compactEvery = 2)),
        "budget" -> wall(StreamBudget.start(_, s"$dir/budget", s"$dir/budget-ckpt",
          budget = 1000L, compactEvery = 2)))
      val wallSep = parts.map(_._2).sum
      Seq("op" -> "unified_vs_separate", "rows_in" -> rowsIn, "batches" -> 4,
        "unified_wall_sec" -> wallU, "separate" -> parts,
        "separate_total_sec" -> wallSep, "separate_over_unified" -> wallSep / wallU)
    }),
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
    // identically anyway. A one-off scale measurement, not a per-round
    // tripwire.
    Entry("stream_cross", Explicit, { r => import r._
      val vecs = sf("embeddings").select("vec_id", "embedding")
      val rowsIn = vecs.count()
      val in = stage(vecs, "vec_id", 4)
      // the store grows under a FIXED 16-cell quantizer (cheap encode;
      // the re-shard retires it before the measured serve — the store's
      // build history is invisible to the served answer by the
      // landed ≡ direct law)
      val cent16 = vecs.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"))
        .localCheckpoint()
      val book = Similarity.pqCodebook()
      val wallGrow = grow(vecs.schema, in)(StreamIvfPq.start(_, s"$dir/codes",
        s"$dir/ckpt", cent16, book, compactEvery = 2))
      val queries = vecs.filter(col("vec_id") === 0L)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        .localCheckpoint()
      // the searchSteady dense leg, verbatim: sidecar-resolved
      // centroids, collected probe assignment, cell-pruned generation
      // read, ADC cut widened r×, exact re-rank on the candidates
      def denseProbed(): DataFrame = {
        val cent = StreamIvfPq.currentCentroids(spark, s"$dir/codes", cent16)
        val probes = Similarity.collectProbes(queries, cent, 4)
        val index = StreamIvfPq.currentIndex(spark, s"$dir/codes",
          template = throw new IllegalStateException(
            s"no committed code generation under $dir/codes"),
          cells = Some(probes.map(_.cellId).distinct.sorted))
        Similarity.refinedSearchIndex(vecs, Similarity.IvfPqIndex(index, cent, book),
          queries, 50, 4, 4, probesPre = Some(probes))
      }
      def exact(): Double = med3(noop(Similarity.topKCosine(vecs, queries, 50)))
      val pBefore = med3(probeOnce(spark))
      val exact1 = exact()
      val fixed = med3(noop(denseProbed()))
      val wallReshard = timed(StreamIvfPq.reshard(spark, s"$dir/codes", vecs, book,
        force = true))
      val resharded = med3(noop(denseProbed()))
      // re-bracket the exact leg AFTER the long reshard so the pair of
      // exact reads + the probe medians certify the window
      val exact2 = exact()
      val pAfter = med3(probeOnce(spark))
      Seq("op" -> "stream_cross", "rows_in" -> rowsIn, "batches" -> 4,
        "grow_wall_sec" -> wallGrow, "serve_dense_exact_sec" -> exact1,
        "serve_dense_exact2_sec" -> exact2, "serve_dense_probed_fixed_sec" -> fixed,
        "reshard_wall_sec" -> wallReshard,
        "serve_dense_probed_resharded_sec" -> resharded,
        "probe_before" -> pBefore, "probe_after" -> pAfter)
    }),
    // Full prep-pipeline wall time: clean → mix → chunk → pack →
    // deterministic epoch shuffle → sharded land, as ONE job
    // (PrepJob.runFull) — the "make training shards" artifact. Timed once
    // (it is a landing job, not a repeatable noop query): the number is
    // end-to-end wall including the parquet write.
    Entry("prep_full", Default, { r => import r._
      val docsIn = sf("documents").count()
      val suite = evalSet
      var rowsOut = 0L
      val wall = timed { rowsOut = PrepJob.runFull(spark, sfDir, suite, s"$dir/shards") }
      val packs = spark.read.parquet(s"$dir/shards").select("pack_id").distinct().count()
      Seq("op" -> "prep_full", "docs_in" -> docsIn, "rows_out" -> rowsOut,
        "packs" -> packs, "wall_sec" -> wall, "docs_per_sec" -> docsIn / wall)
    }))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    // Optional filter for targeted measurement while iterating on one
    // operator; default runs the full sets.
    val only = parseOnly(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
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
      try guard(name) {
        // label the query's jobs (guide §1.5) so event-log / UI time is
        // attributable per operator; cleared after so probe jobs stay
        // unlabeled
        spark.sparkContext.setJobDescription(s"bench:$name")
        noop(SparkEntry.queries(name)(spark, sfDir))
      }.left.toOption
      finally spark.sparkContext.setJobDescription(null)

    val extNames = keep(SparkEntry.benchExtQueries)
    (names ++ extNames).foreach(runOnce) // warm-up pass, unmeasured

    val errors = collection.mutable.ListBuffer[String]()
    probeOnce(spark) // warm the probe's own plan once, unmeasured
    val probes = collection.mutable.LinkedHashMap[String, Double]()
    // Median of 3 timed passes per query: the container's CPU allocation is
    // bursty enough that any single pass can read several× high; a median
    // discards one arbitrary stall per query (matches how the DuckDB
    // baseline in BASELINE.md is measured).
    def timeAll(qs: Seq[String]): Seq[(String, Option[Double], Double)] = qs.map { name =>
      val pts = collection.mutable.ListBuffer[Double]()
      val times = (1 to 3).flatMap { _ =>
        pts += probeOnce(spark)
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

    val outs: Seq[(String, Option[Fields])] = entries.map { e =>
      e.key -> (if (!selects(only, e)) None
        else run(spark, sfDir, e).fold(err => { errors += err; None }, Some(_)))
    }

    val total = results.flatMap(_._2).sum
    val errJson = errors.map(jstr).mkString("[", ",", "]")
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
      s"""{"metric":"total","value":$total,"unit":"sec","windows":$windows,"queries":${jobj(results)},"ext":${jobj(extResults)},${jfields(outs)},"probe":${jobj(probes)},"probe_floor":${fnum(probeFloor)},"n_contended":$nContended,"probe_max":${fnum(probeMax)},"errors":$errJson,"sf":${jstr(sfDir)}}"""
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
      s"""{"metric":"tail","ext":${jobj(extResults)},"queries":${jobj(results)},"value":$total,"unit":"sec","windows":$windows,${jfields(outs.filter(_._1 == "prep_full"))},"probe_floor":${fnum(probeFloor)},"n_contended":$nContended,"probe_max":${fnum(probeMax)},"n_errors":${errors.size},"sf":${jstr(sfDir)}}"""
    println(tailJson)
    spark.stop()
  }
}
