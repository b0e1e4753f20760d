package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Atomic, durable land-or-load for derived artifacts (trained quantizers,
  * banded signature indexes, inverted postings, CC component tables, …).
  *
  * The repo-wide pattern this hardens used to be inlined at ~25 sites:
  * `if (!tableExists) { write parquet under Files.createTempDirectory;
  * saveAsTable }` — which has two defects the landed-artifact story can't
  * carry at production posture: (a) check-then-write is not atomic, so two
  * concurrent first callers both build and the loser's half-written files
  * win or lose arbitrarily; (b) the parquet lives under a process-temp dir,
  * so a catalog entry (or a later process expecting the artifact) can
  * outlive its own data once /tmp is cleaned.
  *
  * The protocol here is the classic stage-rename-register commit:
  *
  *  1. `build(stagingPath)` writes everything under a fresh staging dir
  *     beneath the durable state root (same filesystem as the final dir, so
  *     the publish is a metadata move, never a copy). Builders keep their
  *     existing shape — `saveAsTable` with `option("path", staging/…)` —
  *     including bucketed ([[Layout.writeBucketed]]) and partitioned writes.
  *  2. The table metadata (schema DDL, partition columns, bucket spec,
  *     relative location) is captured into a `_tables.json` sidecar INSIDE
  *     the staging dir, so a brand-new process can re-register the tables
  *     from the landed files alone — bucket/partition specs live in the
  *     session catalog (in-memory here), and without the sidecar a warm
  *     start could not rebuild a `CLUSTERED BY` registration and would
  *     silently lose bucket pruning.
  *  3. Publish = one atomic rename of the staging dir onto the final dir
  *     (`java.nio` ATOMIC_MOVE on `file://`; `FileContext.rename` with
  *     `Rename.NONE` elsewhere — atomic on HDFS, and it FAILS atomically
  *     when the destination exists, unlike `FileSystem.rename`, whose
  *     POSIX-style move-INTO-existing-dir would nest the loser's staging
  *     inside the winner's artifact). Losers of a cross-process race see
  *     the rename fail, delete their staging, and read the winner's
  *     artifact — which is complete by construction, since it only becomes
  *     visible through the rename. On an object store WITHOUT atomic
  *     rename (s3/s3a/gs/…, or any store opted in via the
  *     `graft.landing.commit=pointer` system property) the publish is a
  *     marker-pointer commit instead — see [[pointerMode]].
  *  4. Registration (`CREATE TABLE IF NOT EXISTS … USING parquet LOCATION`)
  *     happens LAST, against the final dir only — no reader can ever resolve
  *     a table to half-built files.
  *
  * State root resolution: the `graft.state.dir` system property, else the
  * `GRAFT_STATE_DIR` environment variable, else `spark.sql.warehouse.dir`
  * (so by default the artifact data shares fate with the catalog's own
  * storage root). [[graft.Verify]]/[[graft.Bench]] pin a per-run root so the
  * driver's gates measure their own land every round instead of inheriting a
  * prior round's artifacts; library users get cross-process durability.
  *
  * [[FormatVersion]] is part of the on-disk path: bump it whenever any
  * landed artifact's schema or semantics changes, so a durable root never
  * serves a stale-format artifact to newer code.
  *
  * Naming: every artifact of a corpus dir is keyed by [[key]] —
  * `<kind>_<md5(dir)>` — which names its dir under the state root, its
  * build lock and (as a prefix) its catalog tables. Builders write plain
  * tables through [[saveTable]], bucketed ones through
  * [[Layout.writeBucketed]], and two-half parquet dirs through
  * [[ensureHalves]].
  */
object Landing {
  /** On-disk format/semantics version of ALL landed artifacts (one shared
    * token: artifacts are cheap to rebuild relative to the cost of a stale
    * read, so any builder change invalidates the whole root). */
  val FormatVersion = "v1"

  /** Filesystem schemes with no atomic directory rename: on these the
    * publish step is a marker-pointer commit ([[commitPointer]]) instead
    * of a rename. */
  private val RenamelessSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "wasb", "wasbs", "abfs", "abfss",
    "cos", "swift")

  /** Whether artifacts at `fin` publish by pointer commit: forced either
    * way by the `graft.landing.commit` system property (`pointer` — the
    * spec's simulated rename-less store — or `rename`), else decided by
    * the scheme ([[RenamelessSchemes]]). */
  private[sources] def pointerMode(fin: Path): Boolean =
    sys.props.get("graft.landing.commit") match {
      case Some("pointer") => true
      case Some("rename")  => false
      case _ => RenamelessSchemes(Option(fin.toUri.getScheme).getOrElse("file"))
    }

  // per-artifact in-process build lock: a second thread ensuring the same
  // artifact blocks here, re-checks, and returns without building (the
  // cross-PROCESS race is settled by the atomic rename instead)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(artifact: String): Object =
    locks.computeIfAbsent(artifact, _ => new Object)

  /** The artifact key of `kind` over corpus dir (or other identity
    * string) `of`: `kind_` plus the hex of the first 8 MD5 bytes of
    * `of`'s UTF-8 encoding. A digest, not `String.hashCode`: a 31-bit
    * clash between two corpus dirs would silently serve one dir's
    * artifact for the other; 64 bits of MD5 make that a non-event. The
    * key is on disk and in the catalog, so it never changes — a root
    * landed by an earlier run keeps serving. */
  def key(kind: String, of: String): String =
    kind + "_" + java.security.MessageDigest.getInstance("MD5")
      .digest(of.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** The plain-table writer of `ensureLanded` builds: `df` as parquet at
    * `path`, registered as catalog table `table`. */
  def saveTable(df: DataFrame, table: String, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path).saveAsTable(table)

  def stateRoot(spark: SparkSession): Path = {
    val base = sys.props.get("graft.state.dir")
      .orElse(sys.env.get("GRAFT_STATE_DIR"))
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir"))
    new Path(new Path(base), s"graft_state/$FormatVersion")
  }

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Land-or-load a set of catalog tables as ONE atomic artifact.
    *
    * `build(stagingPath)` must register every table in `tables` with its
    * data under `stagingPath` (the existing `land*` builders do exactly
    * this). On return, every table in `tables` is registered against the
    * published final dir. Idempotent; safe under concurrent callers in this
    * process (lock) and across processes (rename). */
  def ensureLanded(spark: SparkSession, artifact: String,
      tables: Seq[String])(build: String => Unit): Unit = {
    // the tableExists check lives INSIDE the lock: a lock-free fast path
    // can observe tables a concurrent in-process builder just registered
    // against its .staging-* dir (renamed away / dropped moments later) —
    // the lock is only ever contended during a build, so this costs an
    // uncontended monitor enter on the hot path
    lockFor(artifact).synchronized {
      if (tables.forall(spark.catalog.tableExists)) return
      val root = stateRoot(spark)
      val fs = fsFor(spark, root)
      val fin = fs.makeQualified(new Path(root, artifact))
      if (committedDir(fs, fin).isEmpty) {
        fs.mkdirs(if (pointerMode(fin)) fin else root)
        val staging = stagingFor(fs, root, fin, artifact)
        val won =
          try {
            build(staging.toString)
            writeSidecar(spark, fs, staging, tables)
            publish(fs, staging, fin)
          } catch {
            case e: Throwable =>
              // a failed build must not leak its staging dir or leave
              // catalog entries pointing at half-built staging data
              dropStagingTables(spark, fs, staging, tables)
              try fs.delete(staging, true)
              catch { case _: java.io.IOException => () }
              throw e
          }
        // the build registered `tables` against staging paths (published
        // if we won, about to be deleted if we lost) — drop those bindings
        // before re-registering against the committed dir
        tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
        if (!won) {
          fs.delete(staging, true)
          require(committedDir(fs, fin).isDefined,
            s"publish of landed artifact $artifact failed with no winner at $fin")
        }
      }
      registerAll(spark, fs, committedDir(fs, fin).get, tables)
    }
  }

  /** Drop any of `tables` whose catalog binding points under `staging` —
    * the failed-build cleanup (a successful publish re-registers them). */
  private def dropStagingTables(spark: SparkSession, fs: FileSystem,
      staging: Path, tables: Seq[String]): Unit =
    tables.foreach { t =>
      try {
        if (spark.catalog.tableExists(t)) {
          val loc = fs.makeQualified(new Path(spark.sessionState.catalog
            .getTableMetadata(TableIdentifier(t)).location)).toString
          if (loc.startsWith(staging.toString))
            spark.sql(s"DROP TABLE IF EXISTS `$t`")
        }
      } catch { case _: Throwable => () }
    }

  /** Land-or-load a plain parquet DIRECTORY artifact (no catalog tables):
    * `build(stagingPath)` writes files under the staging dir; the published
    * final dir's path is returned. Same atomicity/durability contract as
    * [[ensureLanded]]. */
  def ensureDir(spark: SparkSession, artifact: String)
      (build: String => Unit): String = {
    val root = stateRoot(spark)
    val fs = fsFor(spark, root)
    val fin = fs.makeQualified(new Path(root, artifact))
    // double-checked: a committed dir only ever becomes visible complete
    // (rename or marker), so the lock-free read is safe here — no catalog
    // involvement, unlike ensureLanded's table fast path
    committedDir(fs, fin).map(_.toString).getOrElse {
      lockFor(artifact).synchronized {
        committedDir(fs, fin).map(_.toString).getOrElse {
          fs.mkdirs(if (pointerMode(fin)) fin else root)
          val staging = stagingFor(fs, root, fin, artifact)
          val won =
            try { build(staging.toString); publish(fs, staging, fin) }
            catch {
              case e: Throwable =>
                try fs.delete(staging, true)
                catch { case _: java.io.IOException => () }
                throw e
            }
          if (!won) fs.delete(staging, true)
          committedDir(fs, fin).getOrElse(sys.error(
            s"publish of landed artifact $artifact failed with no winner at $fin"))
            .toString
        }
      }
    }
  }

  /** Land-or-load a two-half parquet dir artifact: `half(i)` for i = 0,
    * 1 lands as `gen-<i>` (the id-parity splits a maintainer accumulates
    * batch by batch), and the union of both landed halves is returned. */
  def ensureHalves(spark: SparkSession, artifact: String)
      (half: Int => DataFrame): DataFrame = {
    val path = ensureDir(spark, artifact) { p =>
      Seq(0, 1).foreach(i => half(i).write.parquet(s"$p/gen-$i"))
    }
    Tables.read(spark, s"$path/gen-0").unionByName(Tables.read(spark, s"$path/gen-1"))
  }

  /** Where a build writes: a sibling staging dir (rename mode — published
    * by moving it onto `fin`) or a version dir INSIDE `fin` (pointer mode —
    * never moved; published by the `_committed` marker naming it). */
  private def stagingFor(fs: FileSystem, root: Path, fin: Path,
      artifact: String): Path = {
    val tag = UUID.randomUUID().toString.take(8)
    fs.makeQualified(
      if (pointerMode(fin)) new Path(fin, s".v-$tag")
      else new Path(root, s".staging-$artifact-$tag"))
  }

  /** The committed artifact data dir, if any publish has succeeded: the
    * final dir itself (rename mode — it only exists complete) or the
    * version dir the `_committed` marker names (pointer mode). */
  private[sources] def committedDir(fs: FileSystem, fin: Path): Option[Path] =
    if (!pointerMode(fin)) { if (fs.exists(fin)) Some(fin) else None }
    else readMarkerName(fs, new Path(fin, Marker)).map { name =>
      val v = new Path(fin, name)
      require(fs.exists(v),
        s"landed-artifact marker at $fin names a missing version dir $name")
      v
    }

  /** Atomic publish of `staging`. Returns true iff THIS call's staging
    * became the artifact (false = a concurrent lander won). */
  private def publish(fs: FileSystem, staging: Path, fin: Path): Boolean = {
    if (pointerMode(fin)) return commitPointer(fs, staging, fin)
    if (fs.exists(fin)) return false
    val scheme = Option(fin.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      // rename(2) semantics: atomic, and fails (ENOTEMPTY) when a concurrent
      // winner's non-empty dir already occupies fin — exactly the loser path
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(staging.toUri.getPath),
          java.nio.file.Paths.get(fin.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch { case _: java.nio.file.FileSystemException => false }
    } else {
      // FileContext.rename with Rename.NONE is atomic on HDFS and FAILS
      // when fin exists — FileSystem.rename would instead move staging
      // INTO an existing fin (POSIX mv semantics) and report success,
      // nesting the race loser's whole staging dir inside the published
      // artifact
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fin.toUri, fs.getConf)
        fc.rename(fc.makeQualified(staging), fc.makeQualified(fin),
          org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        // lost-race (fin exists) or transient failure: either way this
        // call did not publish; the caller verifies a winner exists
        case _: java.io.IOException => false
      }
    }
  }

  /** Name of the pointer-commit marker inside a pointer-mode artifact
    * dir; its content is the committed version dir's name. */
  private[sources] val Marker = "_committed"

  /** Pointer commit for rename-less stores: the version dir is already in
    * its final location (under `fin`); publishing it = creating the
    * `_committed` marker with create-exclusive (`overwrite=false`) naming
    * it. Exactly one concurrent committer's create succeeds; losers read
    * the winner's name and discard their version dir. On a real object
    * store the create maps to a conditional PUT (If-None-Match), which is
    * atomic INCLUDING the content; on the Hadoop FileSystem API the
    * create→write window can tear (crash mid-commit leaves an EMPTY
    * marker), so an empty marker is treated as uncommitted: cleared and
    * the commit retried. Crash BEFORE the marker leaves an orphan `.v-*`
    * dir that no marker names — never read, rebuilt by the next ensure
    * (bounded by crash count; sweeping it would race an in-flight
    * builder, so it is deliberately left). */
  private[sources] def commitPointer(fs: FileSystem, versionDir: Path,
      fin: Path): Boolean = {
    val m = new Path(fin, Marker)
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      try {
        val out = fs.create(m, false) // create-exclusive: the commit point
        try out.write(versionDir.getName.getBytes("UTF-8")) finally out.close()
        return true
      } catch {
        case e: java.io.IOException =>
          readMarkerName(fs, m) match {
            case Some(_) => return false // complete marker: lost the race
            case None if fs.exists(m) =>
              // torn marker (a committer crashed between create and
              // write): names nothing — clear it and retry the commit
              try fs.delete(m, false)
              catch { case _: java.io.IOException => () }
            case None if attempts < 3 => () // transient create failure
            case None => throw e
          }
      }
    }
    false
  }

  private def readMarkerName(fs: FileSystem, m: Path): Option[String] =
    try {
      if (!fs.exists(m)) None
      else {
        val in = fs.open(m)
        val s =
          try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        if (s.isEmpty) None else Some(s)
      }
    } catch { case _: java.io.IOException => None }

  // ------------------------------------------------------------------
  // sidecar: enough catalog metadata to re-register every table of the
  // artifact in a fresh process — schema (also covers empty tables, where
  // footer inference has nothing to read), partition cols, bucket spec
  // ------------------------------------------------------------------

  private val SidecarName = "_tables.json"

  private def writeSidecar(spark: SparkSession, fs: FileSystem,
      staging: Path, tables: Seq[String]): Unit = {
    val stagingStr = staging.toString
    val entries = tables.map { t =>
      val m = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      val loc = fs.makeQualified(new Path(m.location)).toString
      require(loc.startsWith(stagingStr),
        s"landed table $t's data ($loc) is not under its staging dir $stagingStr")
      val rel = loc.stripPrefix(stagingStr).stripPrefix("/")
      val bucket = m.bucketSpec.map { b =>
        s""","bucket":{"n":${b.numBuckets},"cols":${jsonArr(b.bucketColumnNames)},"sortCols":${jsonArr(b.sortColumnNames)}}"""
      }.getOrElse("")
      s"""{"name":${jsonStr(t)},"rel":${jsonStr(rel)},"schema":${jsonStr(m.schema.toDDL)},"partitionCols":${jsonArr(m.partitionColumnNames)}$bucket}"""
    }
    val out = fs.create(new Path(staging, SidecarName), false)
    try out.write(entries.mkString("[", ",\n", "]").getBytes("UTF-8"))
    finally out.close()
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonArr(xs: Seq[String]): String =
    xs.map(jsonStr).mkString("[", ",", "]")

  private case class SidecarEntry(name: String, rel: String, schema: String,
      partitionCols: Seq[String], bucket: Option[(Int, Seq[String], Seq[String])])

  private def readSidecar(spark: SparkSession, fs: FileSystem,
      fin: Path): Map[String, SidecarEntry] = {
    val in = fs.open(new Path(fin, SidecarName))
    val raw = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toString("UTF-8")
    } finally in.close()
    // parse with the JSON parser already on the classpath (json4s ships
    // with Spark) — the sidecar is trusted self-authored metadata
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(raw) match {
      case JArray(items) => items.map { item =>
        def str(f: String): String = (item \ f) match {
          case JString(s) => s
          case other => sys.error(s"sidecar field $f: unexpected $other")
        }
        def strs(v: JValue): Seq[String] = v match {
          case JArray(xs) => xs.map { case JString(s) => s
            case other => sys.error(s"sidecar array element: $other") }
          case JNothing => Nil
          case other => sys.error(s"sidecar array: unexpected $other")
        }
        val bucket = (item \ "bucket") match {
          case JNothing | JNull => None
          case b =>
            val n = (b \ "n") match {
              case JInt(i) => i.toInt
              case other => sys.error(s"sidecar bucket n: $other")
            }
            Some((n, strs(b \ "cols"), strs(b \ "sortCols")))
        }
        val e = SidecarEntry(str("name"), str("rel"), str("schema"),
          strs(item \ "partitionCols"), bucket)
        e.name -> e
      }.toMap
      case other => sys.error(s"sidecar ${new Path(fin, SidecarName)}: $other")
    }
  }

  private def registerAll(spark: SparkSession, fs: FileSystem, fin: Path,
      tables: Seq[String]): Unit = {
    lazy val metas = readSidecar(spark, fs, fin)
    tables.foreach { t =>
      if (!spark.catalog.tableExists(t)) {
        val m = metas.getOrElse(t,
          sys.error(s"landed artifact at $fin has no sidecar entry for table $t"))
        val part =
          if (m.partitionCols.isEmpty) ""
          else m.partitionCols.mkString(" PARTITIONED BY (`", "`, `", "`)")
        val bucket = m.bucket.map { case (n, cols, sortCols) =>
          val sorted =
            if (sortCols.isEmpty) ""
            else sortCols.mkString(" SORTED BY (`", "`, `", "`)")
          cols.mkString(" CLUSTERED BY (`", "`, `", s"`)$sorted INTO $n BUCKETS")
        }.getOrElse("")
        val loc = new Path(fin, m.rel).toString.replace("'", "''")
        spark.sql(s"CREATE TABLE IF NOT EXISTS `$t` (${m.schema}) " +
          s"USING parquet$part$bucket LOCATION '$loc'")
        // partition metadata lives in the catalog — discover the landed
        // dirs (the external-table MSCK step)
        if (m.partitionCols.nonEmpty) spark.catalog.recoverPartitions(t)
      }
    }
  }
}
