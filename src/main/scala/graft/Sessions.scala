package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession.
  *
  * Mirrors the reference's `initialize_spark_session` seam
  * (spark/app/spark_processing.py:68-114) minus the S3A credential wiring,
  * which lives in [[graft.conf.S3Conf]] as pure config maps so it stays
  * testable without hadoop-aws jars.
  *
  * Scale notes: shuffle.partitions is sized to the local core count here;
  * on a real cluster this would be (2-3 × total executor cores) or left to
  * AQE coalescing, which is enabled by default in Spark 4 and keeps the
  * setting from mattering much — partition counts re-plan at runtime.
  */
object Sessions {
  /** Entries in Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The iterative
    * operators generate more distinct classes than the default holds — one
    * q_pagerank alone makes ~130 — so the LRU evicted them mid-round and
    * every warm round of q_pagerank → q_lpa → sim_topk_ivfpq_res
    * recompiled ~290 classes. Sized from a count, not a guess: with an
    * unbounded cache, one such round (2,000 64-d vectors) compiles 183
    * distinct classes and one full `Verify` run of the registry at sf0.01
    * compiles 3,008 in one JVM. This bound sits above the larger, so no
    * session of this library evicts a class it will ask for again. The
    * cache holds only classes a session actually generated, so the bound
    * costs nothing until it is used. */
  val CodegenCacheEntries: Int = 4000

  /** A builder carrying the engine settings every session of this library
    * runs under — the one definition `local`, the test session and
    * `StreamJob` share: UTC session time, events.parquet's TIMESTAMP(NANOS)
    * read as a long, naive parquet timestamps read as UTC instants, the
    * sized codegen cache (a static conf, so it must be set here, before
    * the session exists) and the SQL extensions. Master, shuffle
    * partitions, UI, event log and storage credentials stay with each
    * caller. */
  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Input parquet may carry isAdjustedToUTC=false timestamps; read them
      // as UTC instants (LTZ) so epoch arithmetic (unix_micros) stays legal
      // and semantics match engines that treat naive micros as UTC.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(new graft.functions.GraftExtensions)

  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Opt-in event log (SPARK_GRAFT_EVENTLOG_DIR): job/stage-level time
    // attribution while optimizing — parse JobStart/JobEnd + descriptions
    // offline with tools/joblog.py, which reads plain JSON lines (Spark 4
    // otherwise writes a rolling, zstd-compressed log). Off by default;
    // the driver's bench runs are unaffected.
    val evDir = sys.env.get("SPARK_GRAFT_EVENTLOG_DIR")
    evDir.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    val spark = builder(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.eventLog.enabled", evDir.isDefined.toString)
      .config("spark.eventLog.dir", evDir.map("file://" + _)
        .getOrElse("/tmp/spark-events"))
      .config("spark.eventLog.compress", "false")
      .config("spark.eventLog.rolling.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Pin [[graft.sources.Landing]]'s state root to a fresh per-run dir
    * under `target/graft_state` and sweep STALE prior runs' roots. Only
    * roots whose mtime is older than [[SweepAgeMs]] are deleted: a gate
    * running concurrently (or a TrainProbe alongside a gate) keeps its
    * root's mtime fresh by landing artifacts into it, so the sweep can no
    * longer yank a live run's parquet mid-read — the round-16 hazard of
    * the unconditional delete. Still best-effort: a root idle longer than
    * the threshold while still mid-read loses, which bounds leakage at
    * roughly two runs' artifacts on disk. Gates call this so each round
    * measures its own land; library users keep Landing's durable default. */
  val SweepAgeMs: Long = 60L * 60 * 1000
  def pinPerRunStateDir(tag: String): Unit = {
    val base = java.nio.file.Paths.get("target", "graft_state")
    try {
      if (java.nio.file.Files.isDirectory(base)) {
        val cutoff = System.currentTimeMillis() - SweepAgeMs
        val old = java.nio.file.Files.list(base)
        try old.forEach { p =>
          try {
            if (java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff) {
              val walk = java.nio.file.Files.walk(p)
              try walk.sorted(java.util.Comparator.reverseOrder())
                .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
              finally walk.close()
            }
          } catch { case _: java.io.IOException => () }
        } finally old.close()
      }
    } catch { case _: java.io.IOException => () }
    val run = base.resolve(
      s"$tag-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.createDirectories(run)
    sys.props("graft.state.dir") = run.toAbsolutePath.toString
  }
}
