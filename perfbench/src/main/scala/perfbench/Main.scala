package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Sessions, SparkEntry, StreamJob}
import graft.ingest.{Normalize, Parse}
import graft.sources.{Catalog, Tables, UserGen}

/** Benchmark harness: runs one workload against the library and writes a
  * raw record (operations, set-up times, spans, per-operation counters) as
  * JSON. `run.py` turns the record into metrics and checks the results.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <tables dir> --work <work dir> --out <json>
  *
  * Without tracing one window of `seconds` is measured. With tracing the
  * window is split: an untraced half, then a traced half with the spans and
  * listeners on, so the two halves give the tracing overhead. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, out: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("data"), Paths.get(arg("work")), Paths.get(arg("out")))
    val w: Workload = a.workload match {
      case "athena_surface" => new Athena(a)
      case "iterative_rebuild" => new Iterative(a)
      case "ingest_query_mix" => new Ingest(a)
      case other => sys.error(s"unknown workload $other")
    }
    val record = w.run()
    Files.write(a.out, Json.write(record).getBytes(UTF_8))
  }
}

/** What every workload shares: set-up repeated and timed, warm-up, the
  * measured windows, the operation record, and the end-of-run samples. */
abstract class Workload(val a: Main.Args) {
  /** Set-up repetitions; the median is reported, the last one is kept. */
  val SetupReps = 3

  var spark: SparkSession = _
  var tracer = new Tracer(false)
  var probes: Probes = _
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var nextId = 0L
  def newId(): Long = synchronized { nextId += 1; nextId }

  /** One timed set-up from nothing to ready; returns seconds. */
  def setup(rep: Int): Double
  /** Release everything `setup` built, before the next repetition. */
  def teardown(): Unit = { spark.stop(); spark = null }
  def warmup(): Unit
  /** Run operations until `until` (epoch ms), tagging them with `window`. */
  def measure(window: String, until: Double): Unit
  /** Operations that finish the run (drain, final checks). */
  def finish(): Unit = ()

  def session(): SparkSession = {
    val s = Sessions.local("perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(): Map[String, Any] = {
    for (rep <- 1 to SetupReps) {
      if (spark != null) teardown()
      setupS += setup(rep)
    }
    warmup()
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = cpu.getProcessCpuTime
    val t0 = Clock.nowMs
    val windows =
      if (!a.trace) Seq("untraced" -> (t0 + a.seconds * 1000))
      else Seq("untraced" -> (t0 + a.seconds * 500), "traced" -> (t0 + a.seconds * 1000))
    windows.foreach { case (window, until) =>
      if (window == "traced") {
        tracer = new Tracer(true)
        probes = new Probes(spark)
        probes.attach()
      }
      measure(window, until)
    }
    val measuredMs = Clock.nowMs - t0
    val cpuMs = (cpu.getProcessCpuTime - cpu0) / 1e6
    finish()
    if (probes != null) probes.detach()
    val heapMb = liveHeapMb()
    import scala.jdk.CollectionConverters._
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> spark.sparkContext.defaultParallelism,
      "setup_s" -> setupS.toSeq, "measured_ms" -> measuredMs,
      "process_cpu_ms" -> cpuMs, "heap_live_mb" -> heapMb, "ops" -> ops.toSeq,
      "spans" -> tracer.spans.asScala.toSeq)
    if (probes != null) {
      rec("op_counters") = probes.perOp.map { case (k, v) => k.toString -> v }
      rec("query_phases") = probes.queryPhases.asScala.toSeq
      rec("progress") = probes.progress.asScala.toSeq
    }
    rec ++= extra
    spark.stop()
    rec.toMap
  }

  /** Live heap: the least of three readings, each after a full GC. The
    * first reading still holds garbage that background threads only let go
    * of a little later (it ran up to 20 % above the third). */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      Thread.sleep(100)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** One query operation: build the DataFrame, fetch its rows, hash them.
    * The fetch is the client reading its result, so every operation's
    * rows are checked without a second execution. Timing stops before the
    * hash. When tracing, each table the query reads is then loaded again
    * by a direct, separately tagged call, which times the source layer. */
  def queryOp(kind: String, name: String, window: String, due: Double,
      tables: Seq[(String, String)])(build: => DataFrame): Map[String, Any] = {
    val sc = spark.sparkContext
    val id = newId()
    val c0 = Codegen.compiles
    val n0 = Codegen.compileNs
    val start = Clock.nowMs
    var result: Option[(StructType, Array[Row])] = None
    var error: String = null
    try {
      tracer.span(id, s"op:$name") {
        Probes.tag(sc, id, "build")
        val df = tracer.span(id, "operators.build")(build)
        Probes.tag(sc, id, "action")
        val rows = tracer.span(id, "action")(df.collect())
        result = Some((df.schema, rows))
      }
    } catch {
      case e: Exception => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    } finally Probes.untag(sc)
    val end = Clock.nowMs
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "kind" -> kind, "name" -> name, "window" -> window,
      "due" -> due, "start" -> start, "end" -> end, "ok" -> (error == null),
      "compiles" -> (Codegen.compiles - c0), "compile_ms" -> (Codegen.compileNs - n0) / 1e6)
    result.foreach { case (schema, rows) =>
      rec("rows") = rows.length
      rec("hash") = Canon.hash(schema, rows)
    }
    if (error != null) rec("error") = error
    if (tracer.on) rec("loads") = tables.map { case (dir, t) => loadProbe(dir, t) }
    val m = rec.toMap
    synchronized { ops += m }
    m
  }

  /** Record a closed-loop unit of work made of the operations `calls`
    * runs; returns its duration in ms. */
  def group(kind: String, window: String)(calls: => Seq[Map[String, Any]]): Double = {
    val id = newId()
    val start = Clock.nowMs
    val done = calls
    val end = Clock.nowMs
    synchronized {
      ops += Map("id" -> id, "kind" -> kind, "name" -> kind, "window" -> window,
        "due" -> start, "start" -> start, "end" -> end,
        "ok" -> done.forall(_("ok") == true), "calls" -> done.map(_("id")))
    }
    end - start
  }

  private def loadProbe(dir: String, table: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val id = newId()
    Probes.tag(sc, id, "load")
    val t0 = Clock.nowMs
    try tracer.span(id, "sources.load")(Tables.load(spark, dir, table).schema)
    finally Probes.untag(sc)
    Map("id" -> id, "table" -> table, "ms" -> (Clock.nowMs - t0))
  }
}

/** Analysts' closed loop, one client: the reference's declared query
  * surface in a seed-shuffled order, each pass visiting every query once. */
final class Athena(a0: Main.Args) extends Workload(a0) {
  val reads: Map[String, Seq[String]] = Map(
    "q1_sort_limit" -> Seq("customer"), "q2_count" -> Seq("lineitem"),
    "q3_null_blank" -> Seq("documents"), "q3b_anti_join" -> Seq("customer", "events"),
    "q4_dup_having" -> Seq("events"), "q5_range" -> Seq("events"))
  private val rng = new Random(a.seed)
  /** Warm-up runs at least [[WarmupMinMs]], then stops once two passes
    * take within [[SteadyShare]] of the two before, or at [[WarmupMaxMs]]:
    * pass times keep falling for several seconds as the JIT compiles. */
  val SteadyShare = 0.03
  val WarmupMinMs = 6000.0
  val WarmupMaxMs = 7000.0

  def setup(rep: Int): Double = {
    val t0 = Clock.nowMs
    spark = session()
    reads.values.flatten.toSeq.distinct.foreach(t => Tables.load(spark, a.data, t))
    (Clock.nowMs - t0) / 1000
  }

  /** One pass over the surface: the workload's unit of work. */
  private def pass(window: String): Double =
    group("pass", window) {
      rng.shuffle(reads.keys.toSeq.sorted).map { q =>
        queryOp("query", q, window, Clock.nowMs, reads(q).map(a.data -> _))(
          SparkEntry.queries(q)(spark, a.data))
      }
    }

  def warmup(): Unit = {
    val t0 = Clock.nowMs
    var last = pass("warmup") + pass("warmup")
    var steady = false
    while (Clock.nowMs - t0 < WarmupMaxMs && !(steady && Clock.nowMs - t0 >= WarmupMinMs)) {
      val m = pass("warmup") + pass("warmup")
      steady = math.abs(m - last) <= SteadyShare * last
      last = m
    }
  }

  def measure(window: String, until: Double): Unit =
    while (Clock.nowMs < until) pass(window)
}

/** Batch operators' closed loop, one client: each round rebuilds the
  * graph ranks, the communities and the residual IVF-PQ search. */
final class Iterative(a0: Main.Args) extends Workload(a0) {
  val round = Seq("q_pagerank", "q_lpa", "sim_topk_ivfpq_res")

  def setup(rep: Int): Double = {
    val t0 = Clock.nowMs
    spark = session()
    Tables.load(spark, a.data, "embeddings")
    (Clock.nowMs - t0) / 1000
  }

  private def doRound(window: String): Double =
    group("round", window) {
      round.map { q =>
        queryOp("call", q, window, Clock.nowMs, Seq(a.data -> "embeddings"))(
          SparkEntry.queries(q)(spark, a.data))
      }
    }

  def warmup(): Unit = doRound("warmup")

  def measure(window: String, until: Double): Unit =
    while (Clock.nowMs < until) doRound(window)
}

/** The reference's own pipeline with writes beside reads. An open-loop
  * generator moves one pre-rendered JSON-lines file into the source
  * directory on a seeded schedule; `StreamJob` lands it as parquet; an
  * open-loop reader runs the Athena validation queries over the landed
  * table through the catalog at its own fixed rate. */
final class Ingest(a0: Main.Args) extends Workload(a0) {
  val FilesPerSecond = 2.0
  val RecordsPerFile = 400
  /** Not a multiple of the file rate, so reads meet micro-batches at every
    * phase within a run rather than at one seed-dependent phase. */
  val ReadsPerSecond = 1.9
  val WarmupMs = 6000.0
  val Table = "names"

  /** The reader's queries: the reference's Athena validation checks. */
  val readerSql: Seq[(String, String)] = Seq(
    "r_count" -> "SELECT count(*) AS cnt FROM graft.names",
    "r_null_blank" ->
      "SELECT email, address FROM graft.names WHERE name IS NULL OR name = ''",
    "r_dup_email" ->
      "SELECT email, count(*) AS n FROM graft.names GROUP BY email HAVING count(*) > 1",
    "r_lat_range" ->
      "SELECT email, latitude FROM graft.names WHERE latitude BETWEEN 50 AND 60",
    "r_top" ->
      "SELECT email, name, city FROM graft.names ORDER BY email, name NULLS LAST LIMIT 20")

  private val stage = a.work.resolve("stage")
  private var dir: Path = _
  private var src: Path = _
  private var landedDir: String = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var nextFile = 0
  private val files = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val schedule = new Random(a.seed)
  private var rendered = 0

  private def totalFiles: Int =
    math.ceil((WarmupMs / 1000 + a.seconds) * FilesPerSecond).toInt + SetupReps + 4

  /** JSON lines for every file of the run, seeded by the run's seed: the
    * generated users, normalized and serialized as the producer publishes
    * them, with a few planted blank and missing names and repeated emails
    * so the validation queries have rows to find. */
  private def render(): Unit = {
    val n = totalFiles.toLong * RecordsPerFile
    val lines = Parse.toJsonValue(Normalize(UserGen.users(spark, n, a.seed)))
      .collect().map(_.getString(0))
    val planted = lines.zipWithIndex.map { case (l, i) =>
      if (i % 40 == 39) l.replaceFirst("\"email\":\"user\\d+@", s""""email":"user${i - 20}@""")
      else if (i % 97 == 50) l.replaceFirst("\"name\":\"[^\"]*\"", "\"name\":\"\"")
      else if (i % 101 == 7) l.replaceFirst("\"name\":\"[^\"]*\",", "")
      else l
    }
    planted.grouped(RecordsPerFile).zipWithIndex.foreach { case (chunk, k) =>
      Files.write(stage.resolve(f"f$k%05d.json"), (chunk.mkString("\n") + "\n").getBytes(UTF_8))
    }
    rendered = planted.length / RecordsPerFile
  }

  private def moveFile(due: Double, window: String): Unit = {
    val k = nextFile
    nextFile += 1
    val name = f"f$k%05d.json"
    Files.move(stage.resolve(name), src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val moved = Clock.nowMs
    files += Map("file" -> name, "due" -> due, "moved" -> moved, "window" -> window)
  }

  private def landed(): Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)

  def setup(rep: Int): Double = {
    dir = a.work.resolve(s"ingest-$rep")
    src = dir.resolve("src")
    Files.createDirectories(src)
    landedDir = dir.resolve("landed").toString
    files.clear()
    val t0 = Clock.nowMs
    spark = session()
    var pause = 0.0
    if (rendered == 0) {
      val p0 = Clock.nowMs
      Files.createDirectories(stage)
      render()
      pause = Clock.nowMs - p0
    }
    query = StreamJob.start(spark, Map(
      "GRAFT_SOURCE_DIR" -> src.toString,
      "GRAFT_OUT_PATH" -> Tables.path(landedDir, Table),
      "GRAFT_CHECKPOINT" -> dir.resolve("ckpt").toString))
    moveFile(Clock.nowMs, "setup")
    while (landed() < 0) Thread.sleep(5)
    Catalog.ensureDatabase(spark)
    Catalog.ensureTable(spark, landedDir, Table)
    (Clock.nowMs - t0 - pause) / 1000
  }

  override def teardown(): Unit = {
    query.stop()
    super.teardown()
  }

  /** Both open loops for one window: the generator on this thread, the
    * reader on its own; each item is due on its schedule whether or not
    * the system has kept up. Files are due at a fixed rate from a seeded
    * phase. */
  private def openLoops(window: String, from: Double, until: Double): Unit = {
    var readerError: Throwable = null
    val reader = new Thread(() => {
      try {
        var j = 0
        var due = from
        while (due < until) {
          val wait = due - Clock.nowMs
          if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
          val (name, sql) = readerSql(j % readerSql.size)
          queryOp("read", name, window, due, Seq(landedDir -> Table)) {
            spark.sql(s"REFRESH TABLE graft.$Table")
            spark.sql(sql)
          }
          j += 1
          due = from + j * 1000 / ReadsPerSecond
        }
      } catch { case e: Throwable => readerError = e }
    }, "perfbench-reader")
    reader.start()
    val phase = schedule.nextDouble()
    var k = 0
    var due = from + phase * 1000 / FilesPerSecond
    while (due < until) {
      require(nextFile < rendered, "ran out of pre-rendered files")
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
      moveFile(due, window)
      k += 1
      due = from + (k + phase) * 1000 / FilesPerSecond
    }
    reader.join()
    if (readerError != null) throw readerError
  }

  def warmup(): Unit = {
    val t0 = Clock.nowMs
    openLoops("warmup", t0, t0 + WarmupMs)
  }

  def measure(window: String, until: Double): Unit = openLoops(window, Clock.nowMs, until)

  /** Drain what is left, then one reader pass over the complete table. */
  override def finish(): Unit = {
    query.processAllAvailable()
    readerSql.foreach { case (name, sql) =>
      queryOp("read", name, "final", Clock.nowMs, Nil) {
        spark.sql(s"REFRESH TABLE graft.$Table")
        spark.sql(sql)
      }
    }
    query.stop()
    extra ++= Seq(
      "files" -> files.toSeq,
      "records_per_file" -> RecordsPerFile, "reader_sql" -> readerSql.toMap,
      "source_dir" -> src.toString, "landed_dir" -> Tables.path(landedDir, Table),
      "checkpoint_dir" -> dir.resolve("ckpt").toString)
  }
}
