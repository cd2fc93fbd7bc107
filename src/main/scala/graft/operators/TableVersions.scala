package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-version table store with time travel and CDC — the lakehouse
  * transaction-log pattern (Delta/Iceberg-style, reimplemented from
  * first principles) at the size this engine needs it:
  *
  *  - data lives as immutable parquet files under `<dir>/data/b<V>/`,
  *    one batch directory per commit;
  *  - the LOG is itself a tiny Spark-readable parquet table under
  *    `<dir>/_log/version=<V>/`, one row per (file, action ∈
  *    add|remove) — so "what files make up version V" is an ordinary
  *    aggregation, not bespoke metadata parsing; the hive partitioning
  *    prunes version-window reads to their directories, and the log
  *    scales as O(commits), never O(rows);
  *  - [[checkpoint]] snapshots the live-file set Delta-style so a read
  *    resolves from ONE checkpoint file plus the log tail — at real
  *    commit rates the log is thousands of tiny files and re-reading
  *    all of them per read is the difference between O(commits) and
  *    O(commits since last checkpoint);
  *  - commits are APPEND-ONLY: a delete/update never touches old
  *    files, it logs `remove` for the files it rewrites (copy-on-write
  *    of only the AFFECTED files) and `add` for their replacements.
  *    Old versions stay readable forever — time travel is just
  *    filtering the log to `version <= v`;
  *  - every operation resolves its version ONCE into a [[Snapshot]]
  *    (the version, the checkpoint it came from, the live files with
  *    each one's add version and logged row count), and every read —
  *    full, partition, bucket, transform, stats or bloom — is one
  *    [[scan]] of it: a file cut judged on paths and index metadata,
  *    the deletion vectors, then the row predicate re-applied.
  *
  * Writes go through the Hadoop FileSystem API (HDFS/object-store
  * ready, same discipline as IvfIndex.compact). CONCURRENT WRITERS
  * FAIL SAFE: every commit claims its version number with an
  * exclusive-create on `_log/_claims/v<V>` (the filesystem's
  * compare-and-swap — atomic on HDFS and local; on an object store
  * the same protocol maps to a conditional `If-None-Match` put), so
  * two writers racing to the same version produce exactly one commit
  * — never a merged or corrupted log. Appends and the log-only
  * commits claim first; every rewriting commit computes and stages
  * first, then claims and validates the rivals that landed since its
  * snapshot ([[claimValidated]]): a disjoint rival rebases, an
  * overlapping one fails safe with a loud
  * [[ConcurrentCommitException]]. A killed JVM can strand a claim;
  * [[releaseStaleClaim]] removes a claim only when its log directory
  * never materialized.
  */
object TableVersions {

  /** A concurrent writer won the version this commit tried to claim
    * (or a crashed commit stranded the claim — see
    * [[releaseStaleClaim]]). The losing commit wrote nothing to the
    * log; retrying recomputes the next version and succeeds. */
  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  private def fsOf(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Canonical file-path string for the log: the FULLY QUALIFIED URI
    * (scheme + authority + path) — `toUri.getPath` would strip
    * `s3a://bucket` down to a bare `/...` and the log would resolve to
    * wrong paths on any non-local filesystem. Both log writes and the
    * rewrites' hit files ([[hitFiles]]) normalize through here so
    * string equality is meaningful.
    */
  private def qualified(s: SparkSession, p: Path): String =
    fsOf(s, p.toString).makeQualified(p).toString

  private def logDir(dir: String) = s"$dir/_log"
  private def ckptDir(dir: String) = s"$dir/_ckpt"

  /** The log is HIVE-PARTITIONED by version (`_log/version=<v>/`):
    * reading a version window prunes to the window's directories at
    * listing time, so a checkpoint + log-tail read touches O(tail)
    * files, not every commit file ever written.
    */
  private val logSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType),
      // per-add file row count, logged at commit time (null on removes,
      // noop markers, and log files written before counts existed —
      // readers fall back to a footer open for those): COUNT(*) and
      // friends answer from the log alone ([[countAt]])
      org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType)
    )
  )

  private def readLog(s: SparkSession, dir: String): DataFrame =
    s.read.schema(logSchema).parquet(logDir(dir))

  private def appendLog(
      s: SparkSession,
      dir: String,
      version: Long,
      op: String,
      adds: Seq[String],
      removes: Seq[String],
      knownCounts: Map[String, Long] = Map.empty
  ): Unit = {
    // every add logs its file's ROW COUNT — from `knownCounts` when
    // the commit already resolved it (metadata-only ops: clone,
    // restore), else ONE footer open of the just-written file (its
    // metadata is hot). Readers ([[countAt]]) then answer from the
    // log alone instead of a footer sweep per live file. The opens run
    // on a bounded driver pool: a hidden-partitioned commit can add
    // thousands of files, and opening their footers serially was the
    // single largest driver stall in the lifecycle queries (measured
    // ~8 ms/file × 4000 files ≈ 30 s on q325's trunc100 batch).
    val counts = footerRecordCounts(s, adds.filterNot(knownCounts.contains)) ++ knownCounts
    val actions =
      adds.map(f => (op, f, "add", Some(counts(f)))) ++
        removes.map((op, _, "remove", Option.empty[Long]))
    // a no-op commit still writes one marker row — a version's
    // existence is its log directory, so an empty commit would
    // silently reuse the version number on the next commit
    val rows = if (actions.nonEmpty) actions else Seq((op, "", "noop", Option.empty[Long]))
    writeLogFile(s, s"${logDir(dir)}/version=$version", rows)
  }

  /** Footer row counts for many files — one bounded driver-side pool
    * (the opens are independent ~ms metadata reads; a Spark job here
    * would cost more in scheduling than it parallelizes). */
  private def footerRecordCounts(s: SparkSession, files: Seq[String]): Map[String, Long] =
    if (files.size <= 4) files.map(f => f -> footerRecordCount(s, f)).toMap
    else {
      val pool =
        java.util.concurrent.Executors.newFixedThreadPool(math.min(32, files.size))
      try {
        implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        import scala.concurrent.{Await, Future}
        Await
          .result(
            Future.sequence(files.map(f => Future(f -> footerRecordCount(s, f)))),
            scala.concurrent.duration.Duration(10, "min")
          )
          .toMap
      } finally pool.shutdown()
    }

  /** Write one commit's action rows as a single parquet file, ON THE
    * DRIVER — the log is O(files-in-commit) metadata, and routing it
    * through a Spark job (toDF.coalesce(1).write) paid a full
    * job-submission + task round trip (~0.1-0.3 s) PER COMMIT, which
    * multi-commit lifecycle fixtures pay dozens of times. The file is
    * bit-compatible with what the DataFrame writer produced: same
    * column names, optional BINARY(UTF8)/INT64 physical types, snappy
    * codec (the DataFrame writer's default), `part-*.parquet` naming
    * (readers schema-impose [[logSchema]]; `version` stays a
    * directory-derived partition column). The directory-exists check
    * mirrors errorifexists as the belt to the claim's suspenders.
    *
    * CRASH SAFETY: the rows stream into a `.`-prefixed temp name
    * (invisible to the `part-*` readers) and rename into place only
    * after the writer closes — a kill mid-write can strand a hidden
    * temp file, never a committed-looking version directory holding a
    * torn (footer-less) parquet that every later log read would choke
    * on. The rename result is CHECKED (IvfIndex.compact's discipline). */
  private def writeLogFile(
      s: SparkSession,
      dirPath: String,
      rows: Seq[(String, String, String, Option[Long])]
  ): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(dirPath)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p))
      throw new ConcurrentCommitException(s"log directory $dirPath already exists")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message log {
        |  optional binary op (UTF8);
        |  optional binary file (UTF8);
        |  optional binary action (UTF8);
        |  optional int64 n_rows;
        |}""".stripMargin
    )
    val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(p, s".$name.tmp")
    val file = new Path(p, name)
    val writeConf = new org.apache.hadoop.conf.Configuration(conf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, writeConf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, writeConf))
      .withConf(writeConf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      rows.foreach { case (op, f, action, n) =>
        val g = factory.newGroup()
        g.append("op", op)
        g.append("file", f)
        g.append("action", action)
        n.foreach(v => g.add("n_rows", v))
        writer.write(g)
      }
    } finally writer.close()
    if (!fs.rename(tmp, file))
      throw new java.io.IOException(s"failed to publish log file $tmp -> $file")
  }

  /** Write a checkpoint's (file, n_rows) snapshot as a single parquet
    * file ON THE DRIVER — [[writeLogFile]]'s discipline for the other
    * O(files) metadata table this store writes from a driver-side Seq
    * (the rows come straight out of a [[Snapshot]]); the
    * previous `toDF.coalesce(1).write` paid a Spark job per
    * checkpoint. Bit-compatible with the DataFrame writer (optional
    * BINARY(UTF8)/INT64, snappy, `part-*.parquet` naming), so the
    * driver Group read ([[snapshot]]) is unchanged. Same hidden-temp +
    * checked-rename crash safety as the log writer. */
  private def writeSnapshotFile(
      s: SparkSession,
      dirPath: String,
      rows: Seq[(String, Option[Long])]
  ): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(dirPath)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p))
      throw new ConcurrentCommitException(s"checkpoint directory $dirPath already exists")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message snap {
        |  optional binary file (UTF8);
        |  optional int64 n_rows;
        |}""".stripMargin
    )
    val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(p, s".$name.tmp")
    val file = new Path(p, name)
    val writeConf = new org.apache.hadoop.conf.Configuration(conf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, writeConf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, writeConf))
      .withConf(writeConf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      rows.foreach { case (f, n) =>
        val g = factory.newGroup()
        g.append("file", f)
        n.foreach(v => g.add("n_rows", v))
        writer.write(g)
      }
    } finally writer.close()
    if (!fs.rename(tmp, file))
      throw new java.io.IOException(s"failed to publish checkpoint file $tmp -> $file")
  }

  /** One parquet FOOTER open — record count without touching a row
    * group. Paid once per file at commit time ([[appendLog]]) and as
    * the read-time fallback for files logged before counts existed. */
  private def footerRecordCount(s: SparkSession, file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(file), s.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount
    finally r.close()
  }

  /** Atomically claim `version` BEFORE the commit's log write (an
    * append claims before writing its batch; a rewrite after staging
    * its outputs — [[claimValidated]]): an exclusive `create` of
    * `_log/_claims/v<version>` succeeds for exactly ONE writer (the
    * `_`-prefixed directory is invisible to the log's parquet reads).
    * The directory-existence check in the parquet writes alone is
    * check-then-act — two racing writers can both pass the check; the
    * exclusive create is the atomic arbiter, and the LOSER writes
    * nothing under the version (no orphan batch directory to block
    * its retry). Claims are never deleted on success (empty
    * files, one per commit — the same O(commits) footprint as the log
    * itself).
    */
  // private[operators]: the concurrency spec simulates a writer whose
  // version was computed before a rival committed — the exact
  // interleave the claim protocol exists to arbitrate
  private[operators] def claimVersion(s: SparkSession, dir: String, version: Long): Unit = {
    val claim = new Path(s"${logDir(dir)}/_claims/v$version")
    val fs = fsOf(s, dir)
    fs.mkdirs(claim.getParent)
    // the create MUST be atomic-exclusive. Hadoop's create(overwrite =
    // false) is atomic on HDFS (namenode arbitration) and maps to a
    // conditional put on object stores, but on the LOCAL filesystem it
    // is check-then-act (exists() + FileOutputStream) — racing threads
    // can both pass the check. Local claims therefore go through
    // O_CREAT|O_EXCL (Files.createFile), the kernel's own arbiter.
    val won = fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createFile(java.nio.file.Paths.get(claim.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case remote =>
        try { remote.create(claim, /* overwrite = */ false).close(); true }
        catch { case _: java.io.IOException => false }
    }
    if (!won)
      throw new ConcurrentCommitException(
        s"version $version of $dir is already claimed — a concurrent writer " +
          "committed it (retry recomputes the next version), or a crashed " +
          "commit stranded the claim (releaseStaleClaim removes it iff the " +
          "log directory never materialized)"
      )
  }

  /** Remove the claim for `version` ONLY when its log directory never
    * materialized — the recovery path for a commit that claimed a
    * version and crashed before writing the log — along with any
    * partial batch directory the crashed commit left under
    * `data/b<version>` (unreferenced by the log, but it would block
    * the retry's errorifexists write). Refuses to touch the claim of
    * any committed version (deleting it would let a later writer
    * double-commit that version). */
  def releaseStaleClaim(s: SparkSession, dir: String, version: Long): Unit = {
    val fs = fsOf(s, dir)
    require(
      !fs.exists(new Path(s"${logDir(dir)}/version=$version")),
      s"version $version of $dir is committed — refusing to release its claim"
    )
    val claim = new Path(s"${logDir(dir)}/_claims/v$version")
    if (fs.exists(claim))
      require(fs.delete(claim, false), s"failed to delete stale claim $claim")
    val orphanBatch = new Path(s"$dir/data/b$version")
    if (fs.exists(orphanBatch))
      require(fs.delete(orphanBatch, true), s"failed to delete orphan batch $orphanBatch")
    Seq(s"$dir/_cdf/v$version", s"$dir/_dv/v$version").foreach { o =>
      val p = new Path(o)
      if (fs.exists(p)) require(fs.delete(p, true), s"failed to delete orphan $p")
    }
  }

  /** Numeric suffixes of child directories named `<prefix><N>`. */
  private def listNumbered(s: SparkSession, parent: String, prefix: String): Seq[Long] = {
    val p = new Path(parent)
    val fs = fsOf(s, parent)
    if (!fs.exists(p)) Nil
    else
      fs.listStatus(p)
        .toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix).toLong }
  }

  /** Latest committed version, or -1 for an empty/uninitialized table.
    * Pure directory listing — never opens a log file. */
  def currentVersion(s: SparkSession, dir: String): Long = {
    val versions = listNumbered(s, logDir(dir), "version=")
    if (versions.isEmpty) -1L else versions.max
  }

  /** Checkpoint versions present under `_ckpt` (ascending). */
  private def checkpoints(s: SparkSession, dir: String): Seq[Long] =
    listNumbered(s, ckptDir(dir), "c").sorted

  /** Snapshot the CURRENT version's live-file set into `_ckpt/c<v>/`
    * (Delta-style log checkpoint): subsequent reads at any version
    * ≥ the snapshot resolve from the one checkpoint file plus the log
    * TAIL — O(1 + commits-since-checkpoint) files — instead of
    * re-aggregating every commit ever written. Old checkpoints are
    * retained (they are tiny) so time travel BELOW the latest
    * checkpoint also resolves from the nearest earlier one. Returns
    * the checkpointed version. Idempotent per version.
    */
  def checkpoint(s: SparkSession, dir: String): Long = {
    val snap = headSnapshot(s, dir)
    val v = snap.version
    val target = s"${ckptDir(dir)}/c$v"
    if (snap.checkpoint.contains(v)) return v
    // resolve the applicable deletion vectors against the snapshot
    // resolved BEFORE the checkpoint exists — resolving after would
    // route through the new checkpoint itself (true add anchors
    // replaced by c) and fold nothing
    val dvFold = dvApplicable(s, snap)
    // the snapshot carries the log's row counts forward — a
    // post-checkpoint [[countAt]] stays footer-free. Driver-side
    // write: the rows ARE a driver Seq, and a Spark job per checkpoint
    // was pure scheduling overhead.
    writeSnapshotFile(s, target, snap.files.map(f => (f.path, f.nRows)))
    // persist the UNION schema beside the file list (one footer pass,
    // paid here once): evolved-table reads then resolve their schema
    // from this file plus the tail-added files' footers — O(1 + tail)
    // instead of a footer read per live file per read. `_`-prefixed, so
    // the checkpoint's own parquet read never sees it.
    val schema = readMerged(s, snap.paths).schema
    val fs = fsOf(s, dir)
    val out = fs.create(new Path(s"$target/_schema.json"), true)
    out.write(schema.json.getBytes("UTF-8"))
    out.close()
    // fold the pre-resolved deletion vectors into the snapshot:
    // snapshot-resolved files anchor their lastAdd at v, which would
    // otherwise disqualify every older DV (`_`-prefixed → invisible to
    // the checkpoint's own parquet read)
    dvFold.foreach { dv =>
      dv.coalesce(1).write.mode("errorifexists").parquet(s"$target/_dvsnap")
    }
    v
  }

  /** The checkpointed union schema at checkpoint version `c`, when one
    * was persisted (checkpoints written before schema persistence
    * existed lack it — reads fall back to the full footer union). */
  private def checkpointSchema(
      s: SparkSession,
      dir: String,
      c: Long
  ): Option[org.apache.spark.sql.types.StructType] = {
    val p = new Path(s"${ckptDir(dir)}/c$c/_schema.json")
    val fs = fsOf(s, dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try
        Some(
          org.apache.spark.sql.types.DataType
            .fromJson(new String(in.readAllBytes(), "UTF-8"))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
        )
      finally in.close()
    }
  }

  /** Merge `extra` into `base` by the ADD-COLUMN evolution contract:
    * same-named fields must carry identical types (anything fancier —
    * type widening, renames — is not an evolution this store performs,
    * and the caller falls back to the full parquet mergeSchema union),
    * new fields append after the base's. Returns None on a type
    * mismatch. */
  private def mergeAddColumns(
      base: org.apache.spark.sql.types.StructType,
      extra: org.apache.spark.sql.types.StructType
  ): Option[org.apache.spark.sql.types.StructType] = {
    val byName = base.fields.map(f => f.name -> f.dataType).toMap
    val conflict = extra.fields.exists(f => byName.get(f.name).exists(_ != f.dataType))
    if (conflict) None
    else
      Some(
        org.apache.spark.sql.types.StructType(
          base.fields ++ extra.fields.filterNot(f => byName.contains(f.name))
        )
      )
  }

  /** One file live in a [[Snapshot]]: its path in the log's form, the
    * version of the add that made it live, and the row count that add
    * logged (None for files logged or checkpointed before counts
    * existed — the caller's footer fallback). The add version is the
    * deletion vectors' applicability anchor ([[dvApplicable]]): a DV
    * applies to the file INCARNATION that was live when it was
    * written, i.e. dv_version > addVersion. Checkpoint-resolved files
    * report the CHECKPOINT version as their add (their true add is
    * older); the DVs that predate the checkpoint are folded into the
    * checkpoint's own `_dvsnap`, so the approximation never loses a
    * delete. */
  private final case class LiveFile(path: String, addVersion: Long, nRows: Option[Long])

  /** One table version, resolved ONCE per operation ([[snapshot]]):
    * the version, the checkpoint its resolution started from (None
    * when it aggregated the log from version 0) and its live files,
    * sorted by path. Every read ([[scan]]) and every rewrite takes one;
    * nothing downstream lists checkpoints or re-reads the log. */
  private final case class Snapshot(
      dir: String,
      version: Long,
      checkpoint: Option[Long],
      files: Seq[LiveFile]
  ) {
    def paths: Seq[String] = files.map(_.path)

    /** This snapshot cut to the files `keep` accepts. */
    def where(keep: String => Boolean): Snapshot = copy(files = files.filter(f => keep(f.path)))
  }

  /** Resolve version v. A file is live AT v when its LAST log action at
    * or before v is an `add`. Last-action-wins (not add/remove
    * counting) because [[restore]] legitimately RE-ADDS files a later
    * commit had removed — a file's lifecycle is any alternation of
    * add/remove, and liveness at v is decided by whichever came last.
    * Resolution starts from the nearest checkpoint ≤ v when one exists
    * (the snapshot participates as an `add` at the checkpoint version)
    * and the tail read prunes to the (ckpt, v] log directories; without
    * a checkpoint it aggregates the (pruned) log up to v. A version
    * never both adds and removes the same file (commits rewrite into
    * fresh batch directories), so the within-version tie never occurs;
    * the ordering would resolve it to `remove` — the safe side. The row
    * count rides the same resolution as the add version: a restore that
    * re-adds a file re-logs the count it resolved, so the winning
    * action always carries it.
    *
    * Resolved ON THE DRIVER: the log and checkpoint files are O(KB)
    * metadata this store wrote itself, and routing every liveness
    * resolution through a Spark job (read + aggregate + collect) paid
    * 100-200 ms of scheduling per call. */
  private def snapshot(s: SparkSession, dir: String, v: Long): Snapshot = {
    // max by (version, action) per file — "remove" > "add"
    // lexicographically — then keep adds
    def lastActionAdds(rows: Seq[(String, Long, String, Option[Long])]): Seq[LiveFile] =
      rows
        .groupBy(_._1)
        .map { case (_, acts) => acts.maxBy(a => (a._2, a._3)) }
        .collect { case (f, ver, "add", n) => LiveFile(f, ver, n) }
        .toSeq
    def logTail(from: Long) =
      readLogRowsLocal(s, dir, from, v)
        .filter(r => r._3 == "add" || r._3 == "remove")
        .map(r => (r._2, r._5, r._3, r._4))
    val base = checkpoints(s, dir).filter(_ <= v).lastOption
    val resolved = base match {
      case Some(c) =>
        val snap = LocalParquet.rows(s, s"${ckptDir(dir)}/c$c").map { g =>
          (groupString(g, "file"), c, "add", groupLong(g, "n_rows"))
        }
        if (c == v) snap.map { case (f, ver, _, n) => LiveFile(f, ver, n) }
        else lastActionAdds(snap ++ logTail(c + 1))
      case None => lastActionAdds(logTail(0L))
    }
    Snapshot(dir, v, base, resolved.sortBy(_.path))
  }

  /** The head snapshot a rewrite computes against. */
  private def headSnapshot(s: SparkSession, dir: String): Snapshot = {
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    snapshot(s, dir, v)
  }

  /** The paths live at v. */
  private[operators] def liveFiles(s: SparkSession, dir: String, v: Long): Seq[String] =
    snapshot(s, dir, v).paths

  /** Commit-log rows (op, file, action, n_rows, version) for versions
    * in [loV, hiV], read driver-side (see [[snapshot]]). */
  private def readLogRowsLocal(
      s: SparkSession,
      dir: String,
      loV: Long,
      hiV: Long
  ): Seq[(String, String, String, Option[Long], Long)] =
    listNumbered(s, logDir(dir), "version=")
      .filter(v => v >= loV && v <= hiV)
      .sorted
      .flatMap { v =>
        LocalParquet.rows(s, s"${logDir(dir)}/version=$v").map { g =>
          (groupString(g, "op"), groupString(g, "file"), groupString(g, "action"),
            groupLong(g, "n_rows"), v)
        }
      }

  private def groupString(g: org.apache.parquet.example.data.Group, f: String): String =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0) g.getString(f, 0) else ""

  private def groupLong(g: org.apache.parquet.example.data.Group, f: String): Option[Long] =
    if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0) Some(g.getLong(f, 0))
    else None

  /** The snapshot a read serves: refused below the vacuum horizon
    * (the data is physically gone — fail with the boundary, not a
    * missing-file stack trace) and when no file is live at v. */
  private def readable(s: SparkSession, dir: String, v: Long): Snapshot = {
    val horizon = retentionHorizon(s, dir)
    require(v >= horizon, s"version $v of $dir was vacuumed (retention horizon is $horizon)")
    val snap = snapshot(s, dir, v)
    require(snap.files.nonEmpty, s"version $v of $dir has no live files")
    snap
  }

  /** The ONE scan behind every read variant: the files of `snap` that
    * `keep` accepts — a layout or index cut, judged on the path alone
    * and never dropping a file that holds a matching row — read through
    * `reader`, deletion vectors applied, then `pred` re-applied, so a
    * pruned read equals the full read filtered by `pred` exactly. An
    * empty cut reads one live file filtered to nothing: zero rows, the
    * same schema. */
  private def scan(
      reader: DataFrameReader,
      snap: Snapshot,
      keep: String => Boolean = _ => true,
      pred: Option[DataFrame => Column] = None
  ): DataFrame = {
    val cut = snap.where(keep)
    val df =
      if (cut.files.isEmpty) reader.parquet(snap.files.head.path).filter(lit(false))
      else applyDv(cut, reader.parquet(cut.paths: _*))
    pred.fold(df)(p => df.filter(p(df)))
  }

  /** The table as of version v (time travel), refused below the
    * vacuum horizon. `mergeSchema = true` resolves the UNION schema
    * (SCHEMA EVOLUTION: files written before an added
    * column read it back as NULL) from the nearest checkpoint's
    * persisted schema plus the footers of files added SINCE it —
    * O(1 + tail) metadata, never a footer read per live file; without
    * a schema-bearing checkpoint (or on an evolution fancier than
    * add-column) it falls back to the full parquet footer union. Old
    * versions keep their OWN schema either way: liveness filters the
    * files first, and the checkpoint consulted is the nearest AT OR
    * BELOW v, so a pre-evolution version never grows the new column.
    * Columns are append-only across a checkpoint (the lakehouse
    * contract: an added column never silently vanishes, even if a
    * later rewrite drops the last file that carried it physically). */
  def readVersion(
      s: SparkSession,
      dir: String,
      v: Long,
      mergeSchema: Boolean = false
  ): DataFrame = {
    val snap = readable(s, dir, v)
    if (!mergeSchema) return scan(s.read, snap)
    // the snapshot already holds the checkpoint's file list: the files
    // added above it are the tail whose footers extend its schema
    val merged = for {
      c <- snap.checkpoint
      ckptSchema <- checkpointSchema(s, dir, c)
      tail = snap.files.filter(_.addVersion > c).map(_.path)
      merged <-
        if (tail.isEmpty) Some(ckptSchema)
        else mergeAddColumns(ckptSchema, readMerged(s, tail).schema)
    } yield merged
    scan(merged.fold(s.read.option("mergeSchema", "true"))(s.read.schema(_)), snap)
  }

  /** Commit a new batch of rows (version 0 initializes the table). */
  def commitAppend(df: DataFrame, dir: String): Long = {
    val s = df.sparkSession
    enforceConstraints(df, dir, "append")
    val v = currentVersion(s, dir) + 1
    claimVersion(s, dir, v)
    val batch = s"$dir/data/b$v"
    df.write.mode("errorifexists").parquet(batch)
    appendLog(s, dir, v, if (v == 0) "init" else "append", listParquet(s, batch), Nil)
    v
  }

  /** OPTIMISTIC-CONCURRENCY append: like [[commitAppend]], but a lost
    * version race retries at the next free version instead of
    * surfacing [[ConcurrentCommitException]]. Safe to auto-retry
    * precisely because a blind append COMMUTES with every concurrent
    * commit — it reads no snapshot and writes only fresh files, so
    * landing at a later version changes nothing it wrote. (Rewriting
    * commits — delete/update/merge/optimize — cannot blind-retry:
    * their file sets were resolved against a snapshot a rival may
    * have invalidated. They stage first and VALIDATE every rival in
    * [[claimValidated]]: a disjoint rival rebases, a real overlap fails
    * safe and the caller re-executes from the new head.) The retry
    * loop ([[claimNext]]) is claim-only — the loser of each round has
    * written NO data — and each round's candidate version moves past
    * both the observed head and every version it already lost, so a
    * stranded claim (crashed rival) cannot livelock it. With N
    * appenders racing, each commit costs at most N-1 extra empty-file
    * creates — the textbook conditional-put OCC loop, no locks held
    * anywhere.
    */
  def commitAppendRetry(df: DataFrame, dir: String): Long = {
    val s = df.sparkSession
    enforceConstraints(df, dir, "append")
    val v = claimNext(s, dir, "append", currentVersion(s, dir) + 1)
    val batch = s"$dir/data/b$v"
    df.write.mode("errorifexists").parquet(batch)
    appendLog(s, dir, v, if (v == 0) "init" else "append", listParquet(s, batch), Nil)
    v
  }

  /** Version races one commit may lose before it gives up — the blind
    * append's retry loop and every rewrite's claim loop. A lost race
    * costs one empty-file create, never data. */
  private val MaxClaimAttempts = 64

  /** How long a rewrite waits for a rival's claimed version to
    * materialize its log before treating it as crashed. */
  private val RivalLogPollMs = 5000L

  /** Claim the first free version at or above `from`: each lost race
    * moves past the observed head AND past the version just lost, so
    * stranded claims are stepped over, not spun on. Gives up with
    * [[ConcurrentCommitException]] after [[MaxClaimAttempts]] losses. */
  private def claimNext(s: SparkSession, dir: String, op: String, from: Long): Long = {
    var candidate = from
    var attempt = 1
    while (true) {
      try {
        claimVersion(s, dir, candidate)
        return candidate
      } catch {
        case e: ConcurrentCommitException =>
          if (attempt >= MaxClaimAttempts)
            throw new ConcurrentCommitException(
              s"$op on $dir lost $MaxClaimAttempts version races — giving up (${e.getMessage})"
            )
          attempt += 1
          candidate = math.max(currentVersion(s, dir) + 1, candidate + 1)
      }
    }
    -1L // unreachable
  }

  /** Claimed version numbers (committed or in flight) — the claim
    * files under `_log/_claims`. */
  private def claimedVersions(s: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(s"${logDir(dir)}/_claims")
    val fs = fsOf(s, dir)
    if (!fs.exists(p)) Nil
    else
      fs.listStatus(p)
        .toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") => n.stripPrefix("v").toLong }
  }

  /** Highest version V such that EVERY claim at or below V has
    * committed — the monotone high-watermark a feed consumer should
    * sync to. Under concurrent appends, [[currentVersion]] can run
    * ahead of an in-flight commit that claimed a lower version; a
    * consumer that synced past it would miss that commit's changes
    * forever once it lands. Reading to safeHead instead makes every
    * sync window complete-by-construction: versions only enter it
    * once nothing below them is pending. A crashed commit's stranded
    * claim HOLDS the watermark (indistinguishable from in-flight —
    * exactly the conservative behavior wanted) until
    * [[releaseStaleClaim]] clears it.
    */
  def safeHead(s: SparkSession, dir: String): Long = {
    val cur = currentVersion(s, dir)
    if (cur < 0) return cur
    val committed = listNumbered(s, logDir(dir), "version=").toSet
    val pending = claimedVersions(s, dir).filter(v => v <= cur && !committed(v))
    if (pending.isEmpty) cur else pending.min - 1
  }

  /** Copy-on-write delete: only files that CONTAIN matching rows are
    * rewritten (their non-matching rows re-land in the new batch);
    * untouched files stay live, so commit cost scales with the data
    * actually hit, not the table. `cond` is a SQL predicate string.
    */
  def commitDelete(s: SparkSession, dir: String, cond: String): Long =
    rewriteCow(s, dir, Where(cond), None)

  /** Copy-on-write delete of an arbitrary KEY SET, fully distributed —
    * the data-scaled sibling of [[commitDelete]], whose SQL-predicate
    * contract is request-scaled by construction: a million-key erasure
    * routed through it would have to `collect()` its keys into an
    * IN-list on the driver, the exact shape this engine bans. Hit
    * files come from a key-only LEFT SEMI join against the live table
    * (the [[commitMerge]] probe minus the insert arm); the survivors
    * of each hit file from the complementary LEFT ANTI. Cost: one
    * table⋈keys probe + O(hit files) rewrite; nothing key-scaled ever
    * touches the driver.
    */
  def commitDeleteKeys(keys: DataFrame, dir: String, key: String): Long =
    withKeySet(keys, key)(m => rewriteCow(keys.sparkSession, dir, m, None))

  /** Copy-on-write update: matching rows are transformed, the rest of
    * each hit file is preserved verbatim. `transform` receives ONLY
    * the matching rows and must return the same schema.
    */
  def commitUpdate(
      s: SparkSession,
      dir: String,
      cond: String,
      transform: DataFrame => DataFrame
  ): Long =
    rewriteCow(s, dir, Where(cond), Some(transform))

  /** What a rewrite matches — the one argument the copy-on-write and
    * merge-on-read kernels ([[rewriteCow]], [[deleteMor]]) and the merge
    * take to find hit rows, keep their exact complement, and probe a
    * rival's added rows for ones this commit should have matched. */
  private[graft] sealed trait Match {
    def rows(df: DataFrame): DataFrame
    def rest(df: DataFrame): DataFrame
    /** What a rival's matching added rows are, for the conflict message. */
    def clash(op: String): String
  }

  /** The rows where SQL predicate `cond` is TRUE. NULL evaluations
    * (NULLs in predicate columns) count as non-matching, and the keep
    * side is the exact complement: `not(cond)` alone would ALSO drop
    * NULL-evaluating rows, silently losing them from the rewritten
    * file. */
  private[graft] final case class Where(cond: String) extends Match {
    private def matches = coalesce(expr(cond), lit(false))
    def rows(df: DataFrame): DataFrame = df.filter(matches)
    def rest(df: DataFrame): DataFrame = df.filter(!matches)
    def clash(op: String): String = s"added rows matching this $op's predicate"
  }

  /** The rows whose `key` is in `keys`, a key-only frame without
    * duplicates or NULLs — LEFT SEMI / LEFT ANTI joins, so only keys
    * shuffle, never row payloads. */
  private[graft] final case class InKeys(keys: DataFrame, key: String) extends Match {
    def rows(df: DataFrame): DataFrame = df.join(keys, Seq(key), "left_semi")
    def rest(df: DataFrame): DataFrame = df.join(keys, Seq(key), "left_anti")
    def clash(op: String): String =
      s"added rows carrying keys this $op ${if (op == "merge") "replaces" else "deletes"}"
  }

  /** Run a key-set delete on the deduplicated key set of `keys`, cached
    * for the commit: the NULL guard's pass fills the cache, so the
    * caller's key plan runs once. `keys` may lawfully derive from the
    * very table being deleted from; nothing is published before the
    * rewrite is staged and the table's files are immutable, so a
    * recompute on eviction sees the same keys. NULL keys are rejected
    * loudly: SQL join semantics silently never match them, which would
    * turn "delete these keys" into "delete some of these keys". */
  private[graft] def withKeySet(keys: DataFrame, key: String)(delete: Match => Long): Long = {
    val keySet = keys.select(col(key)).distinct().cache()
    try {
      val stats = keySet.agg(count(lit(1)), count(col(key))).head()
      require(
        stats.getLong(0) == stats.getLong(1),
        s"delete key set has NULL $key keys — NULL never matches a join, so those rows " +
          "would silently survive; resolve them explicitly"
      )
      delete(InKeys(keySet, key))
    } finally keySet.unpersist(false)
  }

  /** The copy-on-write kernel behind [[commitDelete]],
    * [[commitUpdate]] and [[commitDeleteKeys]]: the files holding
    * matched rows are rewritten without them — or, with `update`,
    * with `update(matched)` in their place (CHECK constraints are
    * enforced on those post-images before anything is staged). The
    * change feed carries the matched pre-images (and the post-images
    * of an update). Resolved and staged against the head with no claim
    * held, landed through [[claimValidated]]; a no-match commit is a
    * recorded no-op version. `rivalLogPollMs` and `beforeClaim` are
    * the claim-window test seam. */
  private[graft] def rewriteCow(
      s: SparkSession,
      dir: String,
      m: Match,
      update: Option[DataFrame => DataFrame],
      rivalLogPollMs: Long = RivalLogPollMs,
      beforeClaim: () => Unit = () => ()
  ): Long = {
    val op = if (update.isEmpty) "delete" else "update"
    val snap = headSnapshot(s, dir)
    // the live rows carry the union schema ([[liveRows]]), so the
    // rewritten batch does too — copy-on-write doubles as gradual
    // physical schema migration
    val hit = hitFiles(s, m.rows(liveRows(s, snap, snap.paths, keepMeta = true)))
    // the hit files feed the keep side, the matched pre-images, and
    // (for updates) the transform — cached so the parquet read + DV
    // anti-join runs once per commit instead of once per consumer
    // (guide §2.4/§5); recompute on eviction re-reads the same
    // immutable file paths
    val hitDf = if (hit.isEmpty) None else Some(liveRows(s, snap, hit.toSeq.sorted).cache())
    try {
      claimValidated(s, dir, op, snap.version, hit.toSeq.sorted, Some(m), Set.empty, rivalLogPollMs, beforeClaim) {
        st =>
          hitDf.foreach { df =>
            val matched = m.rows(df)
            val post = update.map(_(matched))
            post.foreach(enforceConstraints(_, dir, op))
            val cdf = post match {
              case None => matched.withColumn("_change_type", lit("delete"))
              case Some(p) =>
                matched
                  .withColumn("_change_type", lit("update_preimage"))
                  .unionByName(p.withColumn("_change_type", lit("update_postimage")))
            }
            cdf.write.mode("errorifexists").parquet(st.cdf)
            post.foldLeft(m.rest(df))(_ unionByName _).write.mode("errorifexists").parquet(st.batch)
          }
      }
    } finally hitDf.foreach(_.unpersist(false))
  }

  /** The files (in the log's path form) that `rows` — a read carrying
    * [[applyDv]]'s `__dv_file` — come from: a distinct file list,
    * metadata-scale, collected to the driver. */
  private def hitFiles(s: SparkSession, rows: DataFrame): Set[String] =
    rows
      .select("__dv_file")
      .distinct()
      .collect()
      .map(r => qualified(s, new Path(r.getString(0))))
      .toSet

  /** One committed version's log entry: (op, adds, removes) — a
    * driver-side read of the version's tiny log file. */
  private def logEntry(s: SparkSession, dir: String, w: Long): (String, Seq[String], Seq[String]) = {
    val rows = readLogRowsLocal(s, dir, w, w)
    val op = rows.headOption.map(_._1).getOrElse("noop")
    (
      op,
      rows.filter(_._3 == "add").map(_._2).sorted,
      rows.filter(_._3 == "remove").map(_._2).sorted
    )
  }

  /** Where one rewrite stages its outputs: neutral `stage-<uuid>`
    * directories beside the layout each publishes into — the DV's
    * under `_dvstage`, NOT `_dv`: readers fold the whole DV directory,
    * and a version-less fragment there would break every concurrent
    * read. [[sweepStagedOrphans]] clears what a killed JVM strands. */
  private final class Staged(dir: String) {
    private val id = java.util.UUID.randomUUID().toString
    val batch = s"$dir/data/stage-$id"
    val cdf = s"${cdfDir(dir)}/stage-$id"
    val dv = s"$dir/_dvstage/stage-$id"
  }

  /** The ONE commit protocol of every rewriting commit — copy-on-write
    * delete/update ([[rewriteCow]]), merge-on-read delete
    * ([[deleteMor]]), merge ([[mergeUpsert]]) and the maintenance
    * rewrites ([[rewriteFiles]]) — the Delta-ConflictChecker pattern.
    * Blind appends and the log-only commits (restore, column mapping,
    * clone) still claim first: they read no snapshot a rival could
    * invalidate.
    *
    *  1. COMPUTE with no claim held: the caller has resolved its work
    *     against snapshot `prev`; `stage` writes its outputs (batch,
    *     change rows, deletion vector) under [[Staged]]'s neutral
    *     names. Any failure here discards the staging and rethrows —
    *     the table is untouched and the next writer unaffected.
    *  2. CLAIM the next free version ([[claimNext]]).
    *  3. VALIDATE every rival version in (prev, claimed), waiting up to
    *     `rivalLogPollMs` for an in-flight one's log (a log that never
    *     lands is indistinguishable from a crash and fails safe, the
    *     same conservative call [[safeHead]] makes):
    *     - a rival that REMOVED a file in `removes` or `dvTargets`
    *       invalidates the staged work (double-remove / resurrection /
    *       positions into a dead file) → conflict;
    *     - a rival deletion vector on one of those files would be
    *       silently undone by the replacement batch (fresh adds anchor
    *       above the DV) or double-report change rows → conflict;
    *     - a rival that ADDED files is read back (O(rival's change),
    *       never O(table)) and conflicts iff any added row is one
    *       `conflict` matches — a row the staged work missed. With no
    *       `conflict` (a layout rewrite) every add commutes.
    *  4. PUBLISH: rename the staging into place under the claimed
    *     version (a DV staged for `prev + 1` is restamped only when the
    *     commit rebased past it) and write the log entry: remove
    *     `removes`, add the batch's files.
    *
    * Disjoint rivals therefore REBASE for free: the final state is
    * exactly serial execution, with zero recompute. A conflict, or any
    * failure after the claim, releases the claim, removes whatever was
    * published, discards the staging and rethrows — a conflict as
    * [[ConcurrentCommitException]] naming the rival version, after
    * which the caller re-executes from the head. Returns the committed
    * version.
    */
  private def claimValidated(
      s: SparkSession,
      dir: String,
      op: String,
      prev: Long,
      removes: Seq[String],
      conflict: Option[Match] = None,
      dvTargets: Set[String] = Set.empty,
      rivalLogPollMs: Long = RivalLogPollMs,
      beforeClaim: () => Unit = () => ()
  )(stage: Staged => Unit): Long = {
    val fs = fsOf(s, dir)
    val st = new Staged(dir)
    def discard(): Unit =
      Seq(st.batch, st.cdf, st.dv).map(new Path(_)).foreach { p =>
        if (fs.exists(p)) fs.delete(p, /* recursive = */ true): Unit
      }
    val candidate =
      try {
        stage(st)
        beforeClaim()
        claimNext(s, dir, op, currentVersion(s, dir) + 1)
      } catch {
        case e: Throwable =>
          discard()
          throw e
      }
    val guarded = removes.toSet ++ dvTargets
    def conflictWith(w: Long): Option[String] = {
      val (rop, radds, rremoves) = logEntry(s, dir, w)
      val rivalDv = s"${dvDir(dir)}/v$w"
      if (rremoves.exists(guarded))
        Some(s"rival $rop at v$w removed files in this commit's hit set")
      else if (rop == "mor_delete" && fs.exists(new Path(rivalDv)) && {
          s.read
            .parquet(rivalDv)
            .select("file")
            .distinct()
            .collect()
            .exists(r => guarded(qualified(s, new Path(r.getString(0)))))
        })
        Some(s"rival deletion vector at v$w targets files in this commit's hit set")
      else
        conflict
          .filter(m => radds.nonEmpty && !m.rows(readMerged(s, radds)).isEmpty)
          .map(m => s"rival $rop at v$w ${m.clash(op)}")
    }
    val logP = new Path(s"${logDir(dir)}/version=$candidate")
    try {
      ((prev + 1) until candidate).foreach { w =>
        val rivalLog = new Path(s"${logDir(dir)}/version=$w")
        val deadline = System.nanoTime() + rivalLogPollMs * 1000000L
        while (!fs.exists(rivalLog) && System.nanoTime() < deadline) Thread.sleep(50L)
        val reason =
          if (!fs.exists(rivalLog)) Some(s"rival claim at v$w never committed (in flight or crashed)")
          else conflictWith(w)
        reason.foreach { r =>
          throw new ConcurrentCommitException(
            s"$op on $dir (snapshot v$prev) conflicts: $r — re-execute from the head"
          )
        }
      }
      // rename a staged output into place; false when nothing was staged
      def publish(from: String, to: String): Boolean = {
        val staged = fs.exists(new Path(from))
        if (staged && !fs.rename(new Path(from), new Path(to)))
          throw new java.io.IOException(s"failed to publish staged $from -> $to")
        staged
      }
      val batch = s"$dir/data/b$candidate"
      val added = if (publish(st.batch, batch)) listParquet(s, batch) else Nil
      publish(st.cdf, s"${cdfDir(dir)}/v$candidate"): Unit
      val dv = s"${dvDir(dir)}/v$candidate"
      if (fs.exists(new Path(st.dv))) {
        if (candidate == prev + 1) {
          fs.mkdirs(new Path(dvDir(dir)))
          publish(st.dv, dv): Unit
        } else {
          // rebased: applicability reads the COMMITTED version, so the
          // staged stamp is rewritten — O(matched), one file, unlike
          // re-resolving the positions
          s.read
            .parquet(st.dv)
            .withColumn("dv_version", lit(candidate))
            .coalesce(1)
            .write
            .mode("errorifexists")
            .parquet(dv)
          fs.delete(new Path(st.dv), /* recursive = */ true): Unit
        }
      }
      appendLog(s, dir, candidate, op, added, removes)
      candidate
    } catch {
      case e: Throwable if !fs.exists(logP) =>
        // the log never materialized: the version is free again, with
        // whatever was published under it removed
        releaseStaleClaim(s, dir, candidate)
        discard()
        throw e
    }
  }

  /** Where each commit's change rows (data columns + `_change_type`)
    * land, as `v<V>` — the CHANGE-DATA-FEED segments feed consumers read
    * instead of diffing two table versions ([[changesFeed]]). */
  private def cdfDir(dir: String) = s"$dir/_cdf"

  // ------------------------------------------------------------------
  // Merge-on-read deletes: positional DELETION VECTORS (the public
  // Delta DV / Iceberg positional-delete pattern, reimplemented on
  // plain parquet + this log). A copy-on-write delete pays a rewrite
  // of every hit file — O(hit data); a DV delete writes ONLY the
  // matched rows' (file, position) pairs — O(matched rows) — and
  // every read path anti-joins them out. The trade is the lakehouse
  // standard: cheap frequent deletes now, a deferred [[compactMor]]
  // rewrite later (at which point the rewritten files shed their DVs
  // naturally — fresh adds anchor above every old DV version).
  //
  // Applicability rule (one line, carries time travel AND restore):
  // a DV written at version w applies to file f when reading at v iff
  // lastAdd(f at v) < w ≤ v. Time travel below w never sees the
  // delete; a RESTORE that re-adds f above w resurrects the rows —
  // exactly what restoring to a pre-delete version means. Checkpoints
  // report lastAdd = c for snapshot-resolved files, so [[checkpoint]]
  // folds the DVs applicable at c into `_dvsnap` beside the file
  // list; tail re-adds override the snapshot per file, fold included.
  // ------------------------------------------------------------------

  private def dvDir(dir: String) = s"$dir/_dv"

  private def dvVersions(s: SparkSession, dir: String): Seq[Long] =
    listNumbered(s, dvDir(dir), "v").sorted

  /** NATIVE canonicalizer of `_metadata.file_path` to the log's path
    * form: `Path.toString` collapses a local URI's empty authority
    * (`file:///x` → `file:/x`), which is the one delta between the
    * parquet reader's paths and the log's; authority-bearing schemes
    * (`s3a://bucket/...`) match the pattern's 3+ slashes never and
    * pass through untouched. A regexp, not a UDF — this runs per DATA
    * row inside the DV anti-join and must stay inside codegen. */
  private def canonPathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "^([a-zA-Z][a-zA-Z0-9+.-]*):///+", "$1:/")

  /** Merge-on-read DELETE: log the matching rows' positions as a
    * deletion vector, touch no data file. The matched set is found
    * with existing DVs APPLIED (a row already deleted cannot match
    * again — double-delete is a no-op, and replay is idempotent in
    * content). An empty match is a recorded no-op commit. Commit cost:
    * one DV parquet of (file, pos, dv_version) rows — O(matched),
    * never O(hit files). */
  def commitDeleteMor(s: SparkSession, dir: String, cond: String): Long =
    deleteMor(s, dir, Where(cond))

  /** Merge-on-read delete of an arbitrary KEY SET — [[commitDeleteMor]]
    * with the predicate replaced by a key-only LEFT SEMI join, for the
    * same reason [[commitDeleteKeys]] exists beside [[commitDelete]]:
    * the predicate contract is request-scaled, and a data-scaled key
    * set must reach the matcher as a DataFrame, never as a collected
    * IN-list. Same DV output shape. */
  def commitDeleteMorKeys(keys: DataFrame, dir: String, key: String): Long =
    withKeySet(keys, key)(m => deleteMor(keys.sparkSession, dir, m))

  /** The merge-on-read kernel: matched positions and change rows are
    * resolved against the head and staged with no claim held, then land
    * through [[claimValidated]]. The conflict rules follow from what a
    * deletion vector MEANS — positions into a specific file at a
    * specific anchor:
    *
    *   - a rival that REMOVED any file this DV targets invalidates the
    *     positions outright (the file is gone or its rows were
    *     rewritten under fresh anchors the DV would silently miss) →
    *     conflict;
    *   - a rival DV targeting any of the SAME files may delete rows
    *     this commit's matched-set resolution already counted (the
    *     positions were computed with DVs-at-prev applied), so the two
    *     masks could double-report change rows → conflict — but two
    *     writers DV-deleting DIFFERENT files commute and both land;
    *   - a rival that ADDED files conflicts iff any added row matches
    *     (rows the staged DV cannot reach).
    *
    * Disjoint rivals therefore rebase: the DV is staged with
    * `dv_version = prev + 1` and renamed into place when the commit
    * lands there; only a rebase rewrites it under the claimed version
    * (DV applicability anchors on the COMMITTED version) — final state
    * identical to serial execution, no positions re-resolved. */
  private[graft] def deleteMor(
      s: SparkSession,
      dir: String,
      m: Match,
      rivalLogPollMs: Long = RivalLogPollMs,
      beforeClaim: () => Unit = () => ()
  ): Long = {
    val snap = headSnapshot(s, dir)
    // the file probe, the DV and the change rows all read the matched
    // rows: cached, and the probe fills the cache. A recompute on
    // eviction re-reads the same immutable files at the same positions.
    val matched = m.rows(liveRows(s, snap, snap.paths, keepMeta = true)).cache()
    try {
      val hit = hitFiles(s, matched)
      claimValidated(s, dir, "mor_delete", snap.version, Nil, Some(m), hit, rivalLogPollMs, beforeClaim) {
        st =>
          // two disjoint outputs of the same cached frame — concurrent
          // jobs (guide §2.6)
          if (hit.nonEmpty)
            Concurrently.run(
              () =>
                matched
                  .select(
                    canonPathCol(col("__dv_file")).as("file"),
                    col("__dv_pos").as("pos"),
                    lit(snap.version + 1).as("dv_version")
                  )
                  .coalesce(1)
                  .write
                  .mode("errorifexists")
                  .parquet(st.dv),
              () =>
                matched
                  .drop("__dv_file", "__dv_pos")
                  .withColumn("_change_type", lit("delete"))
                  .write
                  .mode("errorifexists")
                  .parquet(st.cdf)
            )
      }
    } finally matched.unpersist(false)
  }

  /** The DV rows applicable to the files of `snap` — (file, pos) pairs
    * to anti-join out; None when no DV can apply. Resolution is
    * metadata-scale: the `_dv` listing is O(DV commits), the snapshot
    * fold O(1) files, and the applicability join keys on the file
    * column only. */
  private def dvApplicable(s: SparkSession, snap: Snapshot): Option[DataFrame] = {
    import s.implicits._
    val fs = fsOf(s, snap.dir)
    // existence probe only — applicability itself filters the
    // dv_version COLUMN, so [[vacuum]]'s fold can rewrite the
    // directory layout without touching this logic
    val anyDv = fs.exists(new Path(dvDir(snap.dir)))
    val fold = snap.checkpoint.map(c => c -> s"${ckptDir(snap.dir)}/c$c/_dvsnap")
    val folded = fold.filter(cp => fs.exists(new Path(cp._2))).map { case (c, p) =>
      // snapshot fold applies only to files the checkpoint itself
      // resolved (addVersion = c); a tail re-add overrides per file
      val snapAnchored = snap.files.filter(_.addVersion == c).map(_.path)
      s.read
        .parquet(p)
        .join(broadcast(snapAnchored.toDF("file")), Seq("file"), "left_semi")
        .select("file", "pos")
    }
    val tail =
      if (!anyDv) None
      else {
        val addDf = broadcast(snap.files.map(f => (f.path, f.addVersion)).toDF("file", "add_version"))
        Some(
          s.read
            .option("recursiveFileLookup", "true")
            .parquet(dvDir(snap.dir))
            .filter(
              col("dv_version") <= snap.version &&
                snap.checkpoint.map(c => col("dv_version") > c).getOrElse(lit(true))
            )
            .join(addDf, Seq("file"))
            .filter(col("dv_version") > col("add_version"))
            .select("file", "pos")
        )
      }
    (folded, tail) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
  }

  /** Anti-join the deletion vectors applicable to `snap`'s files out of
    * `df`, a plain parquet read of those files; position identity comes
    * from the parquet reader's `_metadata` (file path + row index —
    * stable for immutable files). With `keepMeta` the
    * `__dv_file`/`__dv_pos` columns survive for callers that need
    * position identity themselves ([[deleteMor]], [[hitFiles]]). */
  private def applyDv(snap: Snapshot, df: DataFrame, keepMeta: Boolean = false): DataFrame = {
    val withMeta = df
      .withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    val filtered = dvApplicable(df.sparkSession, snap) match {
      case None => withMeta
      case Some(dv) =>
        withMeta.join(
          broadcast(dv),
          canonPathCol(col("__dv_file")) === col("file") && col("__dv_pos") === col("pos"),
          "left_anti"
        )
    }
    if (keepMeta) filtered else filtered.drop("__dv_file", "__dv_pos")
  }

  private def readMerged(s: SparkSession, files: Seq[String]): DataFrame =
    s.read.option("mergeSchema", "true").parquet(files: _*)

  /** Fold every DV-affected live file back to plain data (the
    * merge-on-read compaction): rewrite the affected files minus
    * their deleted rows as ONE copy-on-write commit. The fresh adds
    * anchor above every existing DV version, so no old DV applies to
    * the replacements — the vectors age out without being touched
    * (they stay on disk for time travel below the compaction, exactly
    * like replaced data files until [[vacuum]]). No-op when no DV
    * applies at the head. */
  def compactMor(s: SparkSession, dir: String): Long = {
    val snap = headSnapshot(s, dir)
    val affected = dvApplicable(s, snap) match {
      case None     => Nil
      case Some(dv) => dv.select("file").distinct().collect().map(_.getString(0)).toSeq.sorted
    }
    if (affected.isEmpty) return snap.version
    val survivors = liveRows(s, snap, affected)
    rewriteFiles(s, dir, "mor_compact", snap.version, affected) { out =>
      survivors.write.mode("errorifexists").parquet(out)
    }
  }

  /** `files` of `snap`, deletion vectors applied: a rewrite must not
    * match, or materialize into a fresh file whose add anchor would
    * outrank its vector, a merge-on-read-deleted row. mergeSchema, so
    * files of different schema eras keep every column (a plain read
    * would adopt one file's schema and drop an added column from the
    * rewritten rows). */
  private def liveRows(
      s: SparkSession,
      snap: Snapshot,
      files: Seq[String],
      keepMeta: Boolean = false
  ): DataFrame = {
    val wanted = files.toSet
    applyDv(snap.where(wanted), readMerged(s, files), keepMeta)
  }

  /** The shared commit of the maintenance rewrites ([[optimize]],
    * [[compactMor]], [[optimizeBucketed]], [[optimizeTransformed]] and
    * the z-order/Hilbert rewrites): `write` stages the replacement
    * rows for `files` into the directory it is given, and the commit
    * lands through [[claimValidated]] as `op` (remove `files`, add the
    * replacements) with NO adds probe. A layout rewrite is a LOGICAL
    * NO-OP over its inputs, so every rival that did not remove or
    * deletion-vector one of them commutes and rebases — appends,
    * rewrites of other files, even predicate deletes (their hit sets
    * are disjoint from the inputs by the structural check). The
    * skipping indexes are folded after the commit. */
  private def rewriteFiles(
      s: SparkSession,
      dir: String,
      op: String,
      prev: Long,
      files: Seq[String],
      beforeClaim: () => Unit = () => ()
  )(write: String => Unit): Long = {
    val v = claimValidated(s, dir, op, prev, files, beforeClaim = beforeClaim)(st => write(st.batch))
    compactSkipping(s, dir)
    v
  }

  // ------------------------------------------------------------------
  // Hive-partitioned batches: a commit can lay its files out under
  // `__p_<col>=<value>/` partition directories, and equality reads on
  // the partition column then prune to the matching directories at
  // the LOG level — exact file skipping with no index build, the
  // classic hive-partitioning complement to the stats (range) and
  // bloom (point) indexes. The partition column is DUPLICATED into a
  // shadow path column rather than stripped from the data (Spark's
  // partitionBy removes the layout column from the files): the data
  // stays self-contained, so every existing read/rewrite path — time
  // travel, copy-on-write, DVs, schema evolution — works unchanged,
  // and partitioning is purely a pruning device. Mixed layouts are
  // absence-safe: files from unpartitioned commits carry no `__p_`
  // segment and are always read.
  // ------------------------------------------------------------------

  /** Hive-style escaping of a partition value for its path segment —
    * Spark's OWN escaper, so probe paths match write paths char for
    * char on any value. */
  private[graft] def escapePathSegment(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  /** [[commitAppend]] with a hive-partitioned batch layout over
    * `partCols`. */
  def commitAppendPartitioned(df: DataFrame, dir: String, partCols: Seq[String]): Long = {
    enforceConstraints(df, dir, "append")
    require(partCols.nonEmpty, "no partition columns named")
    val s = df.sparkSession
    val v = currentVersion(s, dir) + 1
    claimVersion(s, dir, v)
    val batch = s"$dir/data/b$v"
    val widened = partCols.foldLeft(df)((d, c) => d.withColumn(s"__p_$c", col(c)))
    widened.write
      .partitionBy(partCols.map(c => s"__p_$c"): _*)
      .mode("errorifexists")
      .parquet(batch)
    appendLog(s, dir, v, if (v == 0) "init" else "append", listParquet(s, batch), Nil)
    v
  }

  /** A batch directory's data files in the log's path form, sorted —
    * recursively, since partitioned layouts put them under
    * `__p_<col>=<value>/`, `__bucket=` or `__t_` directories. */
  private def listParquet(s: SparkSession, batchDir: String): Seq[String] = {
    val fs = fsOf(s, batchDir)
    val it = fs.listFiles(new Path(batchDir), /* recursive = */ true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        out += qualified(s, p)
    }
    out.toSeq.sorted
  }

  /** [[readVersion]] restricted to files whose path lies under the
    * `__p_<c>=<value>` partition directory — log-level pruning, zero
    * data or index probes. Files without a `__p_<c>` segment (from
    * unpartitioned commits) are always read — absence is never wrong —
    * and the equality predicate is re-applied, so the result equals
    * `readVersion(v).filter(c = value)` exactly. */
  def readVersionByPartition(
      s: SparkSession,
      dir: String,
      v: Long,
      c: String,
      value: String
  ): DataFrame = {
    val snap = readable(s, dir, v)
    val seg = s"/__p_$c="
    val want = s"$seg${escapePathSegment(value)}/"
    val keep = (f: String) => !f.contains(seg) || f.contains(want)
    scan(s.read, snap, keep, Some(_ => col(c).cast("string") === lit(value)))
  }

  // ------------------------------------------------------------------
  // Hash-BUCKETED batches: the high-cardinality complement to hive
  // partitioning. Partitioning by a key like doc_id would create one
  // directory per VALUE; bucketing folds the key space into N
  // directories by hash — `__bucket=<b>of<n>/` — and an equality read
  // then prunes to ONE bucket per bucketed commit at the LOG level
  // (driver-side path filter, exact, no index probe, no data IO),
  // the same way Delta/Hive bucket pruning serves point lookups. The
  // bucket column is DERIVED (pmod(hash(key), n)), so unlike the
  // `__p_` layout nothing is duplicated into the data — Spark's
  // partitionBy strips it, and explicit-file-list reads never
  // resurrect it. Each commit records its own n IN the directory name
  // (`3of8`), so commits with different bucket counts coexist and a
  // probe resolves each file against its own commit's modulus;
  // unbucketed commits carry no `__bucket=` segment and are always
  // read — the absence-safe rule every layout device here follows.
  // Copy-on-write rewrites re-land survivors in flat batches, which
  // stays correct for the same reason (and OPTIMIZE-recluster is the
  // layout-restoring maintenance op, as with z-order).
  // ------------------------------------------------------------------

  private val BucketSeg = ".*/__bucket=(\\d+)of(\\d+)/.*".r

  /** A row's bucket directory value, `<pmod(hash(key), n)>of<n>`. */
  private def bucketCol(key: String, nBuckets: Int): org.apache.spark.sql.Column =
    concat(pmod(hash(col(key)), lit(nBuckets)).cast("string"), lit(s"of$nBuckets"))

  /** Commit a batch hash-bucketed on `key` into `nBuckets` directory
    * buckets. The hash is Spark's own `hash()` (Murmur3) over the
    * column's NATIVE type — probes must pass a literal of the same
    * type ([[readVersionByBucket]]). */
  def commitAppendBucketed(df: DataFrame, dir: String, key: String, nBuckets: Int): Long = {
    enforceConstraints(df, dir, "append")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val s = df.sparkSession
    val v = currentVersion(s, dir) + 1
    claimVersion(s, dir, v)
    val batch = s"$dir/data/b$v"
    df.withColumn("__bucket", bucketCol(key, nBuckets))
      // one shuffle task per bucket → one file per bucket directory
      .repartition(nBuckets, col("__bucket"))
      .write
      .partitionBy("__bucket")
      .mode("errorifexists")
      .parquet(batch)
    appendLog(s, dir, v, if (v == 0) "init" else "append", listParquet(s, batch), Nil)
    v
  }

  /** OPTIMIZE for the bucketed layout: rewrite every live file that
    * does NOT conform to `__bucket=<b>of<nBuckets>` directories — flat
    * batches from copy-on-write rewrites, commits bucketed under a
    * different modulus — into one bucketed commit. A LOGICAL NO-OP
    * (op `optimize`: reads byte-equivalent, CDC empty, feed skips it)
    * that restores exact one-bucket point-read pruning after churn,
    * the same maintenance role [[optimizeZorder]] plays for range
    * clustering. Deletion vectors are applied at the rewrite (a
    * merge-on-read-deleted row must not re-land in a fresh file whose
    * add anchor outranks its vector); conforming files are untouched,
    * so the pass costs O(non-conforming data). Returns `prev` when
    * the layout already conforms.
    */
  def optimizeBucketed(s: SparkSession, dir: String, key: String, nBuckets: Int): Long = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val snap = headSnapshot(s, dir)
    val nonConforming = snap.paths.filterNot {
      case BucketSeg(_, n) => n.toInt == nBuckets
      case _               => false
    }
    if (nonConforming.isEmpty) return snap.version
    val rows = liveRows(s, snap, nonConforming)
    rewriteFiles(s, dir, "optimize", snap.version, nonConforming) { out =>
      rows
        .withColumn("__bucket", bucketCol(key, nBuckets))
        .repartition(nBuckets, col("__bucket"))
        .write
        .partitionBy("__bucket")
        .mode("errorifexists")
        .parquet(out)
    }
  }

  /** Equality read `key = value` pruned to the matching bucket of
    * every bucketed commit (plus all unbucketed files — absence-safe).
    * `value` must carry the key column's exact type: the probe hashes
    * the literal the way the commit hashed the column, and
    * `hash(42L) != hash(42)` != `hash("42")`. Deletion vectors apply
    * inside, like every read path.
    */
  def readVersionByBucket(
      s: SparkSession,
      dir: String,
      v: Long,
      key: String,
      value: Any
  ): DataFrame = {
    val snap = readable(s, dir, v)
    val h = bucketHash(value)
    val keep: String => Boolean = {
      case BucketSeg(b, n) => Math.floorMod(h, n.toInt) == b.toInt
      case _               => true // unbucketed commit: always read
    }
    scan(s.read, snap, keep, Some(_ => col(key) === lit(value)))
  }

  /** The engine's OWN `hash()` of a probe value — Catalyst's Murmur3
    * expression with `hash()`'s seed, evaluated on the driver over the
    * literal `lit(value)` would build: no reimplementation of Murmur3 to
    * drift out of sync, and no Spark job. */
  private[operators] def bucketHash(value: Any): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    Murmur3Hash(Seq(Literal(value)), 42).eval().asInstanceOf[Int]
  }

  // ------------------------------------------------------------------
  // HIDDEN (transform) PARTITIONING — the Iceberg partition-transform
  // model: a commit lays its files out under a DERIVED bucket of a
  // source column (`__t_days_ts=19841/`, `__t_month_ts=652/`,
  // `__t_trunc100_event_id=4200/`) and a RANGE read on the SOURCE
  // column prunes at the log level — the caller never names, or even
  // knows about, the partition value. Because each file's directory
  // segment records its OWN transform, commits with different
  // transforms coexist (PARTITION EVOLUTION: re-speccing the table is
  // a property of new commits, never a rewrite of old files) and a
  // probe resolves each file against the transform it was written
  // under; files without a `__t_` segment for the column are always
  // read — the absence-safe rule every layout device here follows.
  // The transform bucket is DERIVED (like `__bucket=`, unlike `__p_`):
  // partitionBy strips it, nothing is duplicated into the data, and
  // explicit-file-list reads never resurrect it.
  //
  // All three transforms are MONOTONE (v1 <= v2 ⇒ bucket(v1) <=
  // bucket(v2)), so a value range [lo, hi] maps to the exact bucket
  // range [bucket(lo), bucket(hi)] — pruning is exact, never lossy,
  // and the precise predicate is re-applied after the cut. Spark-side
  // derivation and driver-side probe arithmetic are kept in lockstep
  // by the UTC session clock (GraftSession pins
  // spark.sql.session.timeZone=UTC): epoch-day / epoch-month of a
  // date-cast timestamp equals java.time's UTC LocalDate arithmetic.
  // ------------------------------------------------------------------

  private def transformPartCol(transform: String, c: String) = s"__t_${transform}_$c"

  /** Spark-side derivation of a transform bucket (always a LONG). */
  private def transformExpr(transform: String, c: String): org.apache.spark.sql.Column =
    transform match {
      case "days" =>
        datediff(col(c).cast("date"), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
      case "month" =>
        val d = col(c).cast("date")
        (year(d) * 12 + month(d) - 1).cast("long")
      case t if t.startsWith("trunc") =>
        val w = t.stripPrefix("trunc").toLong
        require(w > 0, s"truncate width must be positive in transform '$t'")
        val v = col(c).cast("long")
        v - pmod(v, lit(w)) // floor-div * w, exact for negatives too
      case other => throw new IllegalArgumentException(
          s"unknown partition transform '$other' (supported: days, month, trunc<W>)")
    }

  /** Driver-side mirror of [[transformExpr]] for a PROBE literal:
    * `days`/`month` take the (UTC) date part of an ISO date or
    * timestamp string; `trunc<W>` takes an integral string. */
  private[operators] def transformBucket(transform: String, probe: String): Long =
    transform match {
      case "days"  => java.time.LocalDate.parse(probe.take(10)).toEpochDay
      case "month" =>
        val d = java.time.LocalDate.parse(probe.take(10))
        d.getYear * 12L + d.getMonthValue - 1
      case t if t.startsWith("trunc") =>
        val w = t.stripPrefix("trunc").toLong
        require(w > 0, s"truncate width must be positive in transform '$t'")
        val v = probe.trim.toLong
        Math.floorDiv(v, w) * w
      case other => throw new IllegalArgumentException(
          s"unknown partition transform '$other' (supported: days, month, trunc<W>)")
    }

  /** [[commitAppend]] with a hidden-partitioned batch layout: files
    * land under `__t_<transform>_<c>=<bucket>/` where bucket is the
    * DERIVED transform of source column `c` — `days` (epoch day of the
    * date-cast value), `month` (epoch month), or `trunc<W>` (value
    * floored to a multiple of W). The derived column is stripped by
    * partitionBy; the data files carry only the table's own columns. */
  def commitAppendTransformed(
      df: DataFrame,
      dir: String,
      c: String,
      transform: String
  ): Long = {
    enforceConstraints(df, dir, "append")
    val s = df.sparkSession
    require(df.columns.contains(c), s"transform column '$c' not in ${df.columns.mkString(",")}")
    val v = currentVersion(s, dir) + 1
    claimVersion(s, dir, v)
    val batch = s"$dir/data/b$v"
    val pcol = transformPartCol(transform, c)
    // hash-distribute by the DERIVED bucket before the partitioned
    // write (Iceberg's write.distribution-mode=hash): without it every
    // input task opens a writer per bucket it happens to hold — a
    // trunc100 batch over a wide key range wrote tasks × buckets tiny
    // files (measured 4× the bucket count) through task-serial writer
    // churn. Clustered, each bucket lands in exactly one task: file
    // count = bucket count and the writers run shuffle-wide. The
    // explicit partition count pins the exchange (AQE would coalesce a
    // small batch back to one task and re-serialize the writer churn).
    val withBucket = df.withColumn(pcol, transformExpr(transform, c))
    withBucket
      .repartition(s.sessionState.conf.numShufflePartitions, col(pcol))
      .write
      .partitionBy(pcol)
      .mode("errorifexists")
      .parquet(batch)
    appendLog(s, dir, v, if (v == 0) "init" else "append", listParquet(s, batch), Nil)
    v
  }

  /** Recluster every live file NOT already laid out under
    * `__t_<transform>_<c>=` into that layout — Iceberg's
    * "rewrite data files under the current partition spec": evolution
    * itself never rewrites history (old eras keep their layout and
    * prune under it), but when an operator WANTS the whole table under
    * one spec — e.g. before handing a days-scoped serving workload a
    * table with flat early commits — this is the explicit, audited
    * maintenance op that pays the rewrite, exactly once, folding any
    * applicable deletion vectors into the fresh files (the
    * [[optimizeBucketed]] contract). A logical no-op: row content is
    * unchanged, reads at prior versions still serve the old layout.
    * Returns the new version, or the current one when every file
    * already conforms (zero jobs — the maintenance-autopilot rule). */
  def optimizeTransformed(s: SparkSession, dir: String, c: String, transform: String): Long = {
    // validate the transform name before touching anything
    transformBucket(transform, if (transform.startsWith("trunc")) "0" else "1970-01-01")
    val snap = headSnapshot(s, dir)
    val pcol = transformPartCol(transform, c)
    val nonConforming = snap.paths.filterNot(_.contains(s"/$pcol="))
    if (nonConforming.isEmpty) return snap.version
    val rows = liveRows(s, snap, nonConforming)
    rewriteFiles(s, dir, "optimize", snap.version, nonConforming) { out =>
      rows
        .withColumn(pcol, transformExpr(transform, c))
        // ~one output file per bucket; the pinned count keeps the
        // rewrite shuffle-wide (AQE would coalesce a small rewrite to
        // one task and serialize the per-bucket writer churn)
        .repartition(s.sessionState.conf.numShufflePartitions, col(pcol))
        .write
        .partitionBy(pcol)
        .mode("errorifexists")
        .parquet(out)
    }
  }

  /** [[readVersion]] restricted — at the LOG level, zero data or index
    * probes — to files whose transform bucket can contain a value in
    * `[lo, hi]` of SOURCE column `c`. Every file is judged under the
    * transform recorded in its own path (mixed eras prune correctly);
    * files carrying no transform segment for `c` are always read. The
    * precise range predicate is re-applied, so the result equals
    * `readVersion(v).filter(c between lo and hi)` exactly. `lo`/`hi`
    * are ISO date/timestamp strings for `days`/`month` eras and
    * integral strings for `trunc` eras — both notations resolve
    * against every era via the era's own transform. */
  def readVersionTransformPruned(
      s: SparkSession,
      dir: String,
      v: Long,
      c: String,
      lo: String,
      hi: String
  ): DataFrame = {
    val snap = readable(s, dir, v)
    val re = (".*/__t_([a-z]+[0-9]*)_" +
      java.util.regex.Pattern.quote(c) + "=(-?\\d+)/.*").r
    val keep: String => Boolean = {
      case re(tname, value) =>
        val b = value.toLong
        b >= transformBucket(tname, lo) && b <= transformBucket(tname, hi)
      case _ => true // no transform segment for c: always read
    }
    scan(s.read, snap, keep, Some { df =>
      val dt = df.schema(c).dataType
      col(c) >= lit(lo).cast(dt) && col(c) <= lit(hi).cast(dt)
    })
  }

  // ------------------------------------------------------------------
  // TIMESTAMP TIME TRAVEL — "AS OF <wall clock>" resolved from the
  // commit log's own file modification times, the Delta approach: no
  // extra metadata is written, and history committed before this
  // feature existed resolves retroactively. Directory mtimes are not
  // perfectly monotone (sub-ms commits tie; clocks step), so effective
  // timestamps are MONOTONICIZED exactly as Delta does: eff(v) =
  // max(mtime(v), eff(v-1) + 1ms). The caveat is also Delta's: an
  // operation that rewrites log directories (restore of a vacuumed
  // fold) refreshes mtimes, so timestamp resolution is authoritative
  // for live history and best-effort across vacuum — version-based
  // travel remains the durable reference.
  // ------------------------------------------------------------------

  /** (version, effective commit millis) for every commit, ascending,
    * monotonicized (strictly increasing effective timestamps). */
  def commitTimestamps(s: SparkSession, dir: String): Seq[(Long, Long)] = {
    val fs = fsOf(s, dir)
    val vs = listNumbered(s, logDir(dir), "version=").sorted
    var prev = Long.MinValue
    vs.map { v =>
      val m = fs.getFileStatus(new Path(s"${logDir(dir)}/version=$v")).getModificationTime
      val eff = if (prev == Long.MinValue) m else math.max(m, prev + 1)
      prev = eff
      (v, eff)
    }
  }

  /** Latest version whose effective commit time is <= `tsMillis`.
    * Refuses a timestamp that predates the first commit (there is no
    * table to read there — the Delta contract). */
  def versionAt(s: SparkSession, dir: String, tsMillis: Long): Long = {
    val cts = commitTimestamps(s, dir)
    require(cts.nonEmpty, s"$dir has no commits")
    require(
      cts.head._2 <= tsMillis,
      s"timestamp $tsMillis predates the first commit (${cts.head._2}) of $dir"
    )
    cts.takeWhile(_._2 <= tsMillis).last._1
  }

  /** [[readVersion]] at the version resolved by [[versionAt]]. */
  def readVersionAsOf(s: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readVersion(s, dir, versionAt(s, dir, tsMillis))

  /** Row count at version v WITHOUT touching row data: every add
    * entry LOGS its file's row count at commit time (checkpoints
    * carry the counts forward), so the total is one log/checkpoint
    * resolution — O(1 + tail) metadata at ANY file count — minus the
    * applicable deletion-vector positions. Files logged before counts
    * existed fall back to one parquet footer open each (still no row
    * group IO). The MorSpec/q209 contract: countAt(v) ==
    * readVersion(v).count() at every version.
    */
  def countAt(s: SparkSession, dir: String, v: Long): Long = {
    val snap = snapshot(s, dir, v)
    require(snap.files.nonEmpty, s"version $v of $dir has no live files")
    // counts come from the LOG (every add logged its file's rows at
    // commit time, checkpoints carry them forward) — pure metadata,
    // no data-file open at any file count; only files logged before
    // counts existed pay the footer fallback
    val total = snap.files.map(f => f.nRows.getOrElse(footerRecordCount(s, f.path))).sum
    total - dvApplicable(s, snap).map(_.count()).getOrElse(0L)
  }

  /** DESCRIBE HISTORY: one row per commit — (version, op, n_add,
    * n_remove, has_dv) — straight off the log, O(commits). */
  def history(s: SparkSession, dir: String): DataFrame = {
    // from the DV rows' own version column, not the directory names —
    // vacuum's fold regroups directories but never rewrites versions
    val dvs: Set[Long] =
      if (!fsOf(s, dir).exists(new Path(dvDir(dir)))) Set.empty
      else
        s.read
          .option("recursiveFileLookup", "true")
          .parquet(dvDir(dir))
          .select("dv_version")
          .distinct()
          .collect()
          .map(_.getLong(0))
          .toSet
    val hasDv = udf((v: Long) => dvs.contains(v))
    readLog(s, dir)
      .groupBy("version")
      .agg(
        first("op").as("op"),
        sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_add"),
        sum(when(col("action") === "remove", 1L).otherwise(0L)).as("n_remove")
      )
      .withColumn("has_dv", hasDv(col("version")))
      .orderBy("version")
  }

  private def statsDir(dir: String) = s"$dir/_stats"

  /** Data-skipping stats (Delta-style per-file min/max): one row per
    * (file, column) with the column's [lo, hi] range, persisted as a
    * tiny parquet table beside the log. INCREMENTAL — only live files
    * not yet in the stats table are scanned (one pass over the new
    * files; O(new data), never the table), so the natural cadence is
    * "after every few commits", like [[checkpoint]]. Stats are an
    * ACCELERATOR with a correctness-safe absence contract: a file
    * without stats is always read by [[readVersionPruned]], so a
    * missed refresh can only cost speed, never rows. Numeric columns
    * only (lo/hi as double — exact for longs to 2⁵³; strings would
    * need a collation story this engine doesn't owe yet). Returns the
    * number of files newly indexed.
    */
  def refreshStats(s: SparkSession, dir: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "no stats columns named")
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    val files = liveFiles(s, dir, v)
    val fs = fsOf(s, dir)
    // already-indexed files: a driver-side Group read of the tiny
    // stats table (one row per file×column) — was a Spark
    // read+distinct+collect job per refresh
    val have: Set[String] =
      if (!fs.exists(new Path(statsDir(dir)))) Set.empty
      else
        LocalParquet
          .rows(s, statsDir(dir))
          .map(g =>
            if (g.getType.containsField("file") && g.getFieldRepetitionCount("file") > 0)
              g.getString("file", 0)
            else ""
          )
          .toSet
    val missing = files.filterNot(have)
    if (missing.isEmpty) return 0L
    val scanned = s.read
      .parquet(missing: _*)
      .withColumn("__file", input_file_name())
      .groupBy("__file")
      .agg(
        min(col(cols.head).cast("double")).as(s"__lo_${cols.head}"),
        max(col(cols.head).cast("double")).as(s"__hi_${cols.head}") +:
          cols.tail.flatMap(c =>
            Seq(
              min(col(c).cast("double")).as(s"__lo_$c"),
              max(col(c).cast("double")).as(s"__hi_$c")
            )
          ): _*
      )
    // melt the wide per-file row into (file, col, lo, hi) — the stats
    // table's schema is then independent of WHICH columns are indexed
    val stacked = cols
      .map(c =>
        scanned.select(
          col("__file").as("file"),
          lit(c).as("col"),
          col(s"__lo_$c").as("lo"),
          col(s"__hi_$c").as("hi")
        )
      )
      .reduce(_ unionByName _)
      // canonicalize to the log's path form (file:///x → file:/x) with
      // pure Path string logic — executor-safe (no FS/conf capture),
      // and this runs on metadata-scale rows (one per file), never data
      .withColumn("file", udf((f: String) => new Path(f).toString).apply(col("file")))
    stacked.coalesce(1).write.mode("append").parquet(statsDir(dir))
    missing.size.toLong
  }

  /** [[readVersion]] restricted by the stats table to files whose
    * [lo, hi] range for `c` can intersect [lo, hi] — the data-skipping
    * read. The range filter is ALSO applied to the surviving rows, so
    * the result equals `readVersion(v).filter(c between lo and hi)`
    * exactly; pruning only bounds which files the scan schedules.
    * Skipping decisions: a file with no stats row is READ (absence is
    * never wrong); a file whose stats are NULL (all-NULL column) is
    * SKIPPED — correct for a range predicate, which no NULL satisfies.
    * The stats rows are read on the driver ([[LocalParquet]]).
    */
  def readVersionPruned(
      s: SparkSession,
      dir: String,
      v: Long,
      c: String,
      lo: Double,
      hi: Double
  ): DataFrame = {
    val snap = readable(s, dir, v)
    val fs = fsOf(s, dir)
    // the stats rows of column c, read on the driver: a metadata table
    // of one row per (file, column)
    def bound(g: org.apache.parquet.example.data.Group, f: String): Option[Double] =
      if (g.getFieldRepetitionCount(f) > 0) Some(g.getDouble(f, 0)) else None
    val ranges: Map[String, (Option[Double], Option[Double])] =
      if (!fs.exists(new Path(statsDir(dir)))) Map.empty
      else
        LocalParquet
          .rows(s, statsDir(dir), FilterCompat.get(FilterApi.eq(FilterApi.binaryColumn("col"), Binary.fromString(c))))
          .map(g => groupString(g, "file") -> (bound(g, "lo"), bound(g, "hi")))
          .toMap
    val keep = (f: String) =>
      ranges.get(f) match {
        case None                         => true // no stats — must read
        case Some((Some(flo), Some(fhi))) => fhi >= lo && flo <= hi
        case Some(_)                      => false // all-NULL column: no row matches a range
      }
    scan(s.read, snap, keep, Some(_ => col(c) >= lo && col(c) <= hi))
  }

  private def bloomDir(dir: String) = s"$dir/_bloom"

  /** Bloom parameters are a property of the INDEX, not of one refresh
    * call — bits set under one (m, d) are meaningless under another —
    * so the first refresh records them in `_bloom/_meta` and later
    * refreshes/reads must match or fail loudly. */
  private def bloomMeta(s: SparkSession, dir: String): Option[(Int, Int)] = {
    val marker = new Path(s"${bloomDir(dir)}/_meta")
    val fs = fsOf(s, dir)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val Array(b, h) = new String(in.readAllBytes(), "UTF-8").trim.split(",")
        Some((b.toInt, h.toInt))
      } finally in.close()
    }
  }

  /** The engine-portable bloom hash family, evaluated DRIVER-side for
    * probe values: j-th bit of value x = first 8 md5 hex chars of
    * "j:x" as an integer, mod bits — the same md5-derived family the
    * relational build uses, so probe and build bits always agree. */
  private[graft] def bloomBit(j: Int, value: String, bits: Int): Int = {
    val hex = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"$j:$value".getBytes("UTF-8"))
      .map(b => f"$b%02x")
      .mkString
      .take(8)
    (java.lang.Long.parseLong(hex, 16) % bits).toInt
  }

  /** Bloom-filter file-skipping index for POINT lookups on string /
    * high-cardinality columns — the complement of [[refreshStats]]'s
    * numeric [lo, hi] ranges (which deliberately skip strings): one
    * relational bit table under `_bloom`, rows (file, col, bit) for
    * every set bit of every distinct value, plus a `bit = -1` MARKER
    * row per (file, col) recording "this file IS indexed" — without
    * it, a file whose column is all-NULL (zero set bits) would be
    * indistinguishable from an unindexed file and lose its skip.
    * INCREMENTAL like refreshStats, at (file, col) granularity: only
    * pairs not yet indexed are scanned and appended (O(new data), and
    * a refresh naming NEW columns extends already-indexed files);
    * absence stays correctness-safe — an unindexed pair is always
    * read. Bit rows are distinct-compressed per file (≤ min(d·
    * |distinct values|, m) rows per column), so the index is
    * metadata-scaled. Returns the number of (file, col) pairs newly
    * indexed.
    */
  def refreshBloom(
      s: SparkSession,
      dir: String,
      cols: Seq[String],
      bits: Int = 1024,
      hashes: Int = 3
  ): Long = {
    require(cols.nonEmpty, "no bloom columns named")
    require(bits > 0 && hashes > 0, "bloom needs positive bits and hashes")
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    val fs = fsOf(s, dir)
    bloomMeta(s, dir) match {
      case Some((b, h)) =>
        require(
          b == bits && h == hashes,
          s"bloom index of $dir was built with bits=$b hashes=$h — refusing ($bits, $hashes)"
        )
      case None =>
        fs.mkdirs(new Path(bloomDir(dir)))
        val out = fs.create(new Path(s"${bloomDir(dir)}/_meta"), true)
        out.write(s"$bits,$hashes".getBytes("UTF-8"))
        out.close()
    }
    val files = liveFiles(s, dir, v)
    // the incremental unit is the (file, col) PAIR, not the file: a
    // later refresh naming NEW columns must index them on files
    // already covered for other columns (file-granular tracking would
    // silently skip those files and leave the new column perf-dead on
    // old data — correctness-safe, since unindexed pairs always read,
    // but a silent no-op)
    val havePairs: Set[(String, String)] =
      if (
        Option(fs.globStatus(new Path(s"${bloomDir(dir)}/*.parquet")))
          .forall(_.isEmpty)
      ) Set.empty
      else
        s.read
          .parquet(bloomDir(dir))
          .select("file", "col")
          .distinct()
          .collect()
          .map(r => (r.getString(0), r.getString(1)))
          .toSet
    val missingPairs = for { f <- files; c <- cols if !havePairs((f, c)) } yield (f, c)
    if (missingPairs.isEmpty) return 0L
    val missing = missingPairs.map(_._1).distinct.sorted
    // ONE scan of the affected files indexes every named column (the
    // refreshStats melt discipline): stack (col, value) pairs locally,
    // distinct, then the d-way bit expansion runs over the distinct
    // stream; rows for already-covered pairs are filtered back out
    // before the append so re-runs never duplicate bits
    val bitRows = s.read
      .parquet(missing: _*)
      .withColumn("__file", input_file_name())
      .select(
        col("__file").as("file"),
        explode(
          array(cols.map(c => struct(lit(c).as("col"), col(c).cast("string").as("v"))): _*)
        ).as("cv")
      )
      .select(col("file"), col("cv.col").as("col"), col("cv.v").as("v"))
      .filter(col("v").isNotNull)
      .distinct()
      .select(
        col("file"),
        col("col"),
        explode(expr(s"sequence(0, ${hashes - 1})")).as("j"),
        col("v")
      )
      .select(
        col("file"),
        col("col"),
        expr(
          s"cast(cast(conv(substring(md5(concat(j, ':', v)), 1, 8), 16, 10) AS bigint) % $bits AS int)"
        ).as("bit")
      )
      .distinct()
      // canonicalize to the log's path form (refreshStats discipline):
      // executor-safe pure Path logic on metadata-scale rows
      .withColumn("file", udf((f: String) => new Path(f).toString).apply(col("file")))
    import s.implicits._
    val wanted = missingPairs.toDF("file", "col")
    val markers = missingPairs
      .map { case (f, c) => (f, c, -1) }
      .toDF("file", "col", "bit")
    bitRows
      .join(broadcast(wanted), Seq("file", "col"), "left_semi")
      .unionByName(markers)
      .coalesce(1)
      .write
      .mode("append")
      .parquet(bloomDir(dir))
    missingPairs.size.toLong
  }

  /** [[readVersion]] restricted to files whose bloom filter CAN
    * contain `value` in column `c` — the point-lookup data-skipping
    * read beside [[readVersionPruned]]'s range read. A file is a
    * candidate when it has no bloom rows for (file, c) (absence is
    * never wrong) or when ALL probe bits are set; bloom false
    * positives only cost an extra file read, and false negatives are
    * impossible (a file containing the value set exactly these bits).
    * The equality filter is re-applied to surviving rows, so the
    * result equals `readVersion(v).filter(c = value)` exactly. The
    * bloom probe reads ONLY the probe-bit and marker rows of the bit
    * table, on the driver through a parquet record filter, never the
    * data: planning the read starts no Spark job beyond the scan's.
    */
  def readVersionPoint(
      s: SparkSession,
      dir: String,
      v: Long,
      c: String,
      value: String
  ): DataFrame = {
    val snap = readable(s, dir, v)
    val hasRows = Option(
      fsOf(s, dir).globStatus(new Path(s"${bloomDir(dir)}/*.parquet"))
    ).exists(_.nonEmpty)
    val keep: String => Boolean = bloomMeta(s, dir) match {
      case Some((bits, hashes)) if hasRows =>
        val probe = (0 until hashes).map(j => bloomBit(j, value, bits)).distinct
        // the marker and probe-bit rows of column c, read on the driver
        // through a parquet record filter: the rest of the bit table is
        // never assembled
        val bit = FilterApi.intColumn("bit")
        val wanted = FilterApi.and(
          FilterApi.eq(FilterApi.binaryColumn("col"), Binary.fromString(c)),
          (-1 +: probe).map(b => FilterApi.eq(bit, Int.box(b)): FilterPredicate).reduce(FilterApi.or(_, _))
        )
        val bitsOf = LocalParquet
          .rows(s, bloomDir(dir), FilterCompat.get(wanted))
          .groupMap(g => groupString(g, "file"))(_.getInteger("bit", 0))
          .map { case (f, bs) => f -> bs.toSet }
        f =>
          bitsOf.get(f) match {
            case Some(bs) if bs(-1) => probe.forall(bs) // indexed: a candidate iff every probe bit is set
            case _                  => true // unindexed — must read
          }
      case _ => _ => true // no bloom index: read every file
    }
    scan(s.read, snap, keep, Some(_ => col(c).cast("string") === lit(value)))
  }

  /** MERGE INTO — whole-row upsert keyed on `key`: every source row
    * REPLACES the target rows with its key when any exist (matched →
    * update) and lands as a new row otherwise (not-matched → insert),
    * in ONE commit. Copy-on-write discipline as [[commitUpdate]]:
    * only files CONTAINING matched keys are rewritten (their unmatched
    * rows re-land in the new batch beside the whole source), so commit
    * cost scales with the data actually hit plus the source. Two
    * passes, Delta's MERGE plan:
    *  1. KEY PROBE: a key-only semi join ([[InKeys]]) of the source's
    *     keys against the target finds the hit files; it shuffles
    *     (key, file) pairs, never row payloads.
    *  2. CLASSIFY: the hit files' rows and the source meet in one
    *     exchange on the key, which marks every row whose key the
    *     other side holds. The change feed (matched target rows as
    *     `update_preimage`, matched source rows as `update_postimage`,
    *     the rest of the source as `insert`) and the batch (the whole
    *     source plus the unmatched hit rows) are both written from that
    *     one cached frame, in the target's column order.
    * A source with duplicate or NULL keys is ambiguous (which row
    * wins? a NULL never matches) and fails loudly, matching the
    * standard multiple-rows-matched MERGE error.
    */
  def commitMerge(source: DataFrame, dir: String, key: String): Long =
    mergeUpsert(source, dir, key)

  /** [[commitMerge]]'s body: resolved and staged against the head with
    * no claim held, landed through [[claimValidated]]. Rivals that
    * landed in between rebase when they touched none of the hit files
    * AND added no row carrying one of the source's keys (a rival-added
    * row with a merged key is a row this merge should have replaced —
    * fail safe); the key probe reads only the rival's change-scaled
    * adds. `beforeClaim` is the claim-window test seam. */
  private[graft] def mergeUpsert(
      source: DataFrame,
      dir: String,
      key: String,
      beforeClaim: () => Unit = () => ()
  ): Long = {
    val s = source.sparkSession
    val snap = headSnapshot(s, dir)
    // an evolved table's merge aligns against the UNION schema
    // ([[liveRows]]); deleted rows neither match nor survive
    val target = liveRows(s, snap, snap.paths, keepMeta = true)
    val dataSchema = target.drop("__dv_file", "__dv_pos").schema
    val targetCols = dataSchema.fieldNames.toSeq
    // align the source to the target's column order so every data file
    // in the table carries one physical schema. CACHED: the caller's
    // source plan is consumed by the validation agg, the hit probe, the
    // classify pass and any rival's key probe — evaluating it per
    // action paid the whole upstream plan (often a feed window + view
    // read + groupBy) once per consumer (guide §2.4/§5). The validation
    // agg is the first action, so it fills the cache. A cache, not a
    // localCheckpoint (one more eager job): the rival probe may run
    // after rivals commit, but a recompute on eviction re-reads the same
    // immutable files, so it sees the same rows.
    val alignedSource = source.select(targetCols.map(col): _*).cache()
    try {
      val dup = alignedSource
        .agg(count(lit(1)).as("n"), count(col(key)).as("nn"), countDistinct(col(key)).as("k"))
        .head()
      // a NULL key can never match anything (SQL join semantics) — an
      // "upsert" of such a row is a disguised blind insert; fail loudly
      // rather than guess
      require(
        dup.getLong(0) == dup.getLong(1),
        s"merge source has ${dup.getLong(0) - dup.getLong(1)} NULL $key keys"
      )
      require(
        dup.getLong(1) == dup.getLong(2),
        s"merge source has duplicate keys: ${dup.getLong(1)} rows, ${dup.getLong(2)} distinct $key"
      )
      enforceConstraints(alignedSource, dir, "merge")
      val m = InKeys(alignedSource.select(col(key)), key)
      val hit = hitFiles(s, m.rows(target)).toSeq.sorted
      // ONE classify pass: hit rows (side 0) beside the source (side 1),
      // a key window telling each row whether the other side holds its
      // key. A NULL-key target row never meets a source row (the source
      // has none), so it survives; every duplicate-key copy of a matched
      // key is a pre-image. CACHED: the change feed and the batch are
      // both written from it.
      val incoming = alignedSource.withColumn("__side", lit(1))
      val sides =
        if (hit.isEmpty) incoming
        else
          // the hit files under the schema the target read resolved: an
          // evolved table's old files read its added columns as NULL, and
          // no second schema inference runs
          applyDv(snap.where(hit.toSet), s.read.schema(dataSchema).parquet(hit: _*))
            .withColumn("__side", lit(0))
            .unionByName(incoming)
      val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      val classified = sides
        .withColumn("__both", min("__side").over(byKey) =!= max("__side").over(byKey))
        .cache()
      try {
        claimValidated(s, dir, "merge", snap.version, hit, Some(m), beforeClaim = beforeClaim) { st =>
          val side = col("__side")
          val both = col("__both")
          classified
            .filter(side === 1 || both)
            .select(targetCols.map(col) :+
              when(side === 0, "update_preimage").when(both, "update_postimage").otherwise("insert")
                .as("_change_type"): _*)
            .write
            .mode("errorifexists")
            .parquet(st.cdf)
          classified
            .filter(side === 1 || !both)
            .select(targetCols.map(col): _*)
            .write
            .mode("errorifexists")
            .parquet(st.batch)
        }
      } finally classified.unpersist(false)
    } finally alignedSource.unpersist(false)
  }

  /** Small-file compaction as a COMMIT (Delta OPTIMIZE): live files
    * under `smallBytes` are bin-packed into ~`targetBytes` outputs and
    * swapped in atomically through the log (`remove` the inputs, `add`
    * the replacements) — a LOGICAL NO-OP, so CDC between the two
    * versions is empty and reads are byte-equivalent, but the head's
    * file count drops from O(commits) to O(data/targetBytes). The
    * storage-reclaim pair of [[checkpoint]]: checkpoint bounds LOG
    * reads, optimize bounds DATA listings; [[vacuum]] then reclaims
    * the replaced originals once retention allows. Time travel to
    * pre-optimize versions is untouched (their files stay live in the
    * log until vacuumed). Returns the new version, or `prev` untouched
    * when fewer than two files qualify (nothing to pack).
    */
  def optimize(
      s: SparkSession,
      dir: String,
      smallBytes: Long = 128L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024
  ): Long = packSmallFiles(s, dir, smallBytes, targetBytes)

  /** [[optimize]]'s body on [[rewriteFiles]]: a background compaction
    * and a foreground delete of other files land concurrently instead
    * of serializing. `beforeClaim` is the claim-window test seam. */
  private[graft] def packSmallFiles(
      s: SparkSession,
      dir: String,
      smallBytes: Long,
      targetBytes: Long,
      beforeClaim: () => Unit = () => ()
  ): Long = {
    val snap = headSnapshot(s, dir)
    val fs = fsOf(s, dir)
    val sized = snap.paths.map(f => f -> fs.getFileStatus(new Path(f)).getLen)
    val small = sized.filter(_._2 < smallBytes).map(_._1).sorted
    if (small.size < 2) return snap.version
    val total = sized.filter(s => small.contains(s._1)).map(_._2).sum
    val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val rows = liveRows(s, snap, small)
    rewriteFiles(s, dir, "optimize", snap.version, small, beforeClaim) { out =>
      rows.repartition(nOut).write.mode("errorifexists").parquet(out)
    }
  }

  /** Metadata GC for the skipping indexes, run at OPTIMIZE cadence
    * (and callable standalone): [[refreshStats]]/[[refreshBloom]] are
    * append-only, so rows for files removed by copy-on-write /
    * optimize / zorder accumulate forever — harmless for correctness
    * (pruning consults only live files) but unbounded under sustained
    * churn, and every pruned read collects the stats/bloom rows
    * driver-side, so the probe itself would grow without bound. This
    * folds each table down to rows of files live at the HEAD via the
    * house checked staged-rewrite swap; the bloom `_meta` parameter
    * marker rides along into the staged directory before the swap.
    * Files of still-readable OLD versions lose their rows — pruned
    * reads target the head, and absence is always correctness-safe.
    */
  def compactSkipping(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    val live = liveFiles(s, dir, v).toDF("file")
    val fs = fsOf(s, dir)
    def fold(table: String, hidden: Seq[String]): Unit = {
      val livePath = new Path(table)
      if (!fs.exists(livePath)) return
      val staged = new Path(s"${table}_compacted")
      s.read
        .parquet(table)
        .join(broadcast(live), Seq("file"), "left_semi")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(staged.toString)
      hidden.foreach { h =>
        val src = new Path(s"$table/$h")
        if (fs.exists(src))
          org.apache.hadoop.fs.FileUtil
            .copy(fs, src, fs, new Path(s"$staged/$h"), false, s.sparkContext.hadoopConfiguration)
      }
      if (!fs.delete(livePath, /* recursive = */ true))
        throw new java.io.IOException(s"compactSkipping: failed to remove $livePath")
      if (!fs.rename(staged, livePath))
        throw new java.io.IOException(
          s"compactSkipping: failed to swap $staged into place — staged rewrite preserved"
        )
    }
    fold(statsDir(dir), Nil)
    fold(bloomDir(dir), Seq("_meta"))
  }

  private def colStatsDir(dir: String) = s"$dir/_colstats"

  /** ANALYZE TABLE — table-level per-column statistics at the head
    * version: the CBO inputs Spark itself keeps per column (row count,
    * null count, distinct count, max/total length), persisted as one
    * tiny parquet snapshot under `_colstats/v<head>` so planners and
    * operators (broadcast decisions, NDV-driven bucket counts, skew
    * screening) read them as metadata instead of re-scanning the
    * table.
    *
    * Two passes over the head, both single-exchange:
    *   1. moment stats — one global aggregate (row count, per-column
    *      null counts, string max/total lengths);
    *   2. NDV — the engine's KMV bottom-k estimator
    *      ([[graft.queries.Sketches]] q192's formula, Bar-Yossef 2002):
    *      per-column md5-h60 value hashes unpivoted to (col, h) pairs,
    *      ONE map-side-combined distinct, then a k-bounded heap per
    *      column. Exact below k (the sketch holds the whole domain),
    *      (k−1)·2⁶⁰/kth above — deterministic, merge-safe, and
    *      restatable in ANSI SQL, which is what makes ANALYZE itself
    *      oracle-checkable.
    *
    * Integral, string, date and boolean columns only: their canonical
    * string forms agree across engines, so hashes are portable. Float
    * columns are refused rather than silently mis-hashed (their
    * to-string forms are engine-specific; hash-by-bit-pattern is the
    * extension point if ever needed). At 100 TB the unpivot multiplies
    * rows ×|cols| BEFORE the distinct — that is the standard one-pass
    * ANALYZE shape, and partial distinct combines map-side so the
    * exchange carries only per-task-distinct (col, h) pairs.
    * Returns the analyzed version.
    */
  def analyzeTable(s: SparkSession, dir: String, cols: Seq[String], k: Int = 256): Long = {
    require(cols.nonEmpty, "no columns named")
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    val head = readVersion(s, dir, v)
    val fields = head.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach { c =>
      require(fields.contains(c), s"unknown column $c")
      val ok = fields(c) match {
        case _: org.apache.spark.sql.types.StringType  => true
        case _: org.apache.spark.sql.types.LongType    => true
        case _: org.apache.spark.sql.types.IntegerType => true
        case _: org.apache.spark.sql.types.ShortType   => true
        case _: org.apache.spark.sql.types.ByteType    => true
        case _: org.apache.spark.sql.types.BooleanType => true
        case _: org.apache.spark.sql.types.DateType    => true
        case _                                         => false
      }
      require(ok, s"analyzeTable: column $c has a non-portable string form; analyze integral/string/date/boolean columns")
    }
    val isStr = (c: String) => fields(c).isInstanceOf[org.apache.spark.sql.types.StringType]

    // pass 1: one global aggregate for the moment stats
    val momentAggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        (if (isStr(c)) max(length(col(c)).cast("long")) else lit(null).cast("long"))
          .as(s"__ml_$c"),
        (if (isStr(c)) sum(coalesce(length(col(c)).cast("long"), lit(0L))) else lit(null).cast("long"))
          .as(s"__tl_$c")
      )
    }
    val m = head.agg(count(lit(1)).as("__n"), momentAggs: _*).collect()(0)
    val nRows = m.getLong(m.fieldIndex("__n"))
    // empty head (a table whose rows were all deleted): every SUM/MAX
    // aggregate is NULL — surface zeros/NULLs, not an NPE
    def optLong(r: org.apache.spark.sql.Row, f: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getLong(r.fieldIndex(f)))

    // pass 2: unpivot → distinct → per-column bottom-k (KMV)
    val pairCols = cols.map { c =>
      struct(
        lit(c).as("col"),
        expr(s"cast(conv(substring(md5(cast(`$c` AS string)), 1, 15), 16, 10) AS bigint)").as("h")
      )
    }
    val ndv = head
      .select(explode(array(pairCols: _*)).as("p"))
      .select(col("p.col").as("col"), col("p.h").as("h"))
      .where(col("h").isNotNull)
      .distinct()
      .groupBy("col")
      .agg(expr(s"top_k_structs(struct(h), $k)").as("ks"))
      .select(
        col("col"),
        expr("size(ks)").cast("long").as("m"),
        expr("element_at(ks.h, size(ks))").as("kth_h60"),
        expr(
          s"CASE WHEN size(ks) < $k THEN cast(size(ks) AS bigint) " +
            s"ELSE cast(floor(${k - 1} * pow(2.0D, 60) / greatest(element_at(ks.h, size(ks)), cast(1 AS bigint))) AS bigint) END"
        ).as("ndv_est")
      )
      .collect()
      .map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))
      )
      .toMap

    val out = cols.map { c =>
      val (mm, kth, est) = ndv.getOrElse(c, (0L, 0L, 0L))
      (c, nRows, optLong(m, s"__nn_$c").getOrElse(0L), est, mm, kth,
        optLong(m, s"__ml_$c"), optLong(m, s"__tl_$c"))
    }
    val sess = s
    import sess.implicits._
    out
      .toDF("col", "n_rows", "n_nulls", "ndv_est", "m", "kth_h60", "max_len", "total_len")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"${colStatsDir(dir)}/v$v")
    v
  }

  /** The most recent ANALYZE snapshot (all columns it covered), with
    * the analyzed version attached. Metadata-scale: one tiny parquet
    * read, never the table. */
  def columnStats(s: SparkSession, dir: String): DataFrame = {
    val vs = listNumbered(s, colStatsDir(dir), "v")
    require(vs.nonEmpty, s"$dir has no ANALYZE snapshot; run analyzeTable first")
    val v = vs.max
    s.read.parquet(s"${colStatsDir(dir)}/v$v").withColumn("stats_version", lit(v))
  }

  /** MAINTENANCE AUTOPILOT — the scheduled job every deployed table
    * needs, as one idempotent call: inspect the log (metadata only)
    * and run exactly the maintenance the table's state asks for, in
    * debt order:
    *
    *   1. `checkpoint` when ≥ `checkpointEvery` commits accumulated
    *      since the last one (bounds log reads at O(1 + tail));
    *   2. `compactMor` when applicable deletion vectors exist (folds
    *      merge-on-read debt so the optimize below rewrites clean
    *      files);
    *   3. `optimize` when ≥ `minSmallFiles` live files sit under
    *      `smallBytes` (bounds file-listing and scan overhead);
    *   4. `compactSkipping` when the stats/bloom tables carry >
    *      `maxDeadSkipRows` rows for files no longer live (bounds the
    *      driver-side pruning probe under churn).
    *
    * Every action is itself one of the store's audited commits or
    * checked staged swaps, so reads are byte-identical across a
    * maintain() and a crashed action leaves the usual retryable
    * state. Decision inputs are metadata-scale (log listing + file
    * statuses + two tiny parquet reads) — maintain() on a healthy
    * table costs microseconds and does nothing, which is what makes
    * it safe to run on a schedule. Vacuum is deliberately NOT here:
    * destroying time travel is a retention decision, not hygiene.
    * Returns the (action, detail) pairs it executed.
    */
  private def histDir(dir: String) = s"$dir/_hist"

  /** Exact EQUI-DEPTH HISTOGRAM of an integral column at the head —
    * the selectivity statistic ANALYZE's moment stats can't give
    * (NDV + min/max say nothing about mass concentration; range
    * estimates need depth). Construction is VALUE-GRANULAR so it
    * stays distributed: one per-value count aggregate (the only
    * data-scaled exchange, partial-combining), then the cumulative
    * bucket assignment runs over DISTINCT VALUES only —
    * `bkt = cum_before·B DIV n` — which is cardinality-scaled, the
    * standard compressed-histogram construction. A heavy value never
    * splits across buckets, so buckets go honest-uneven instead of
    * lying about depth. Persisted under `_hist/v<head>/col=<c>` as
    * (bkt, lo, hi, n); readers never touch the table. Returns the
    * analyzed version.
    */
  def analyzeHistogram(s: SparkSession, dir: String, column: String, buckets: Int = 16): Long = {
    require(buckets > 0, "buckets must be positive")
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    val vals = readVersion(s, dir, v)
      .select(col(column).cast("long").as("x"))
      .filter(col("x").isNotNull)
      .groupBy("x")
      .agg(count(lit(1)).as("c"))
    val total = vals.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    require(total > 0, s"no non-NULL values in $column")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    vals
      .withColumn("cum_before", coalesce(sum("c").over(w), lit(0L)))
      .withColumn("bkt", expr(s"cum_before * $buckets DIV ${total}L"))
      .groupBy("bkt")
      .agg(min("x").as("lo"), max("x").as("hi"), sum("c").as("n"))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"${histDir(dir)}/v$v/col=$column")
    v
  }

  /** The latest persisted histogram for `column`. */
  def histogram(s: SparkSession, dir: String, column: String): DataFrame = {
    val vs = listNumbered(s, histDir(dir), "v")
    require(vs.nonEmpty, s"no histogram under $dir — run analyzeHistogram first")
    s.read.parquet(s"${histDir(dir)}/v${vs.max}/col=$column")
  }

  /** Metadata-only row-count estimate for `lo ≤ column ≤ hi`: fully
    * covered buckets contribute their depth, edge buckets interpolate
    * linearly in exact integer arithmetic (`n·overlap DIV width`) —
    * the textbook histogram estimator, deterministic so the oracle
    * can restate it digit for digit. Never reads the table. */
  def estimateRange(s: SparkSession, dir: String, column: String, lo: Long, hi: Long): Long =
    histogram(s, dir, column)
      .agg(
        coalesce(
          sum(
            expr(
              s"""CASE
                   WHEN hi < ${lo}L OR lo > ${hi}L THEN 0L
                   WHEN lo >= ${lo}L AND hi <= ${hi}L THEN n
                   ELSE n * (least(hi, ${hi}L) - greatest(lo, ${lo}L) + 1)
                        DIV (hi - lo + 1)
                 END"""
            )
          ),
          lit(0L)
        )
      )
      .head()
      .getLong(0)

  def maintain(
      s: SparkSession,
      dir: String,
      checkpointEvery: Int = 8,
      minSmallFiles: Int = 8,
      smallBytes: Long = 32L * 1024 * 1024,
      maxDeadSkipRows: Long = 64,
      resultCacheDir: Option[String] = None,
      maxStagedAgeMs: Long = 3600000L
  ): Seq[(String, String)] = {
    val actions = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    val lastCkpt = checkpoints(s, dir).lastOption.getOrElse(-1L)
    if (v - lastCkpt >= checkpointEvery) {
      actions += ("checkpoint" -> s"v${checkpoint(s, dir)}")
    }
    if (dvVersions(s, dir).nonEmpty) {
      val nv = compactMor(s, dir)
      if (nv > v) actions += ("compact_mor" -> s"v$nv")
    }
    val fs = fsOf(s, dir)
    val head = currentVersion(s, dir)
    val small =
      liveFiles(s, dir, head).count(f => fs.getFileStatus(new Path(f)).getLen < smallBytes)
    if (small >= minSmallFiles) {
      val nv = optimize(s, dir, smallBytes = smallBytes)
      if (nv > head) actions += ("optimize" -> s"v$nv (packed $small small files)")
    }
    val live = liveFiles(s, dir, currentVersion(s, dir)).map(qualifiedStr(s, _)).toSet
    def deadRows(table: String): Long = {
      val p = new Path(table)
      if (!fs.exists(p)) 0L
      else
        // skipping-index tables are tiny metadata — driver-side read,
        // no Spark job (same rationale as [[snapshot]])
        LocalParquet.rows(s, table)
          .count(g => !live.contains(qualifiedStr(s, groupString(g, "file"))))
          .toLong
    }
    val dead = deadRows(statsDir(dir)) + deadRows(bloomDir(dir))
    if (dead > maxDeadSkipRows) {
      compactSkipping(s, dir)
      actions += ("compact_skipping" -> s"folded $dead dead index rows")
    }
    // result-cache retention: entries pinned behind any source head are
    // unaddressable garbage (the key embeds current versions) — sweep
    // them with the rest of the table's debt
    resultCacheDir.foreach { c =>
      val n = ResultCache.evict(s, c)
      if (n > 0) actions += ("evict_result_cache" -> s"dropped $n stale entries")
    }
    val orphans = sweepStagedOrphans(s, dir, maxStagedAgeMs)
    if (orphans > 0) actions += ("sweep_staged" -> s"removed $orphans crashed-commit staging dirs")
    actions.toSeq
  }

  /** A rewrite killed mid-commit (its JVM gone, so it could not
    * discard its own staging) strands `stage-<uuid>` dirs under
    * `data/`, `_cdf/`, and `_dvstage/` — never referenced by the log (readers
    * resolve files through it), so correctness never needed this
    * sweep, but the garbage is otherwise unbounded (the same orphan
    * class [[CoveringIndex.maintain]] and the AsOfIndex purge close
    * for their layouts). A LIVE in-flight commit's staging is
    * indistinguishable from a crashed one's by name, so the janitor
    * only removes dirs older than `olderThanMs` — no healthy commit
    * holds staging for an hour; pass 0 only when no writer can be
    * running (tests, single-writer maintenance windows). Returns the
    * number of dirs removed. */
  def sweepStagedOrphans(s: SparkSession, dir: String, olderThanMs: Long = 3600000L): Int = {
    val fs = fsOf(s, dir)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val roots = Seq(s"$dir/data", cdfDir(dir), s"$dir/_dvstage")
    roots.map { root =>
      val p = new Path(root)
      if (!fs.exists(p)) 0
      else {
        val dead = fs
          .listStatus(p)
          .filter(st => st.getPath.getName.startsWith("stage-") && st.getModificationTime <= cutoff)
        dead.foreach { st =>
          if (!fs.delete(st.getPath, /* recursive = */ true))
            throw new java.io.IOException(s"sweepStagedOrphans: failed to remove ${st.getPath}")
        }
        dead.length
      }
    }.sum
  }

  private def qualifiedStr(s: SparkSession, p: String): String = qualified(s, new Path(p))

  private def constraintsDir(dir: String) = s"$dir/_constraints"

  /** The table's CHECK constraints, (name, check-expression) pairs. */
  def constraintList(s: SparkSession, dir: String): Seq[(String, String)] = {
    val p = new Path(constraintsDir(dir))
    if (!fsOf(s, dir).exists(p)) Seq.empty
    else
      LocalParquet.rows(s, p.toString).map(g => (groupString(g, "name"), groupString(g, "chk"))).sortBy(_._1)
  }

  /** Delta-style CHECK constraint: every row every future row-adding
    * commit writes must satisfy `check` (SQL semantics — a constraint
    * is violated only when the expression evaluates to FALSE; NULL
    * passes, as in standard SQL CHECK). Adding validates the CURRENT
    * head first (one scan, exactly Delta's ALTER TABLE ADD CONSTRAINT
    * contract) and refuses if any existing row violates. Enforcement
    * afterwards costs one aggregate pass over each commit's NEW rows
    * (never the table): append/merge/update paths all refuse loudly
    * with the table unchanged. Deletes, compaction and z-order cannot
    * add rows and are not checked.
    */
  def addConstraint(s: SparkSession, dir: String, name: String, check: String): Unit = {
    require(name.nonEmpty && check.nonEmpty, "constraint needs a name and an expression")
    val v = currentVersion(s, dir)
    require(v >= 0, s"$dir not initialized")
    require(
      !constraintList(s, dir).exists(_._1 == name),
      s"constraint $name already exists on $dir"
    )
    val bad = readVersion(s, dir, v).filter(not(coalesce(expr(check), lit(true)))).count()
    require(bad == 0, s"cannot add constraint $name: $bad existing rows violate ($check)")
    val sess = s
    import sess.implicits._
    Seq((name, check))
      .toDF("name", "chk")
      .coalesce(1)
      .write
      .mode("append")
      .parquet(constraintsDir(dir))
  }

  /** Remove a CHECK constraint (staged swap; unknown names refuse). */
  def dropConstraint(s: SparkSession, dir: String, name: String): Unit = {
    val cs = constraintList(s, dir)
    require(cs.exists(_._1 == name), s"no constraint $name on $dir")
    val fs = fsOf(s, dir)
    val live = new Path(constraintsDir(dir))
    val rest = cs.filterNot(_._1 == name)
    if (rest.isEmpty) {
      if (!fs.delete(live, /* recursive = */ true))
        throw new java.io.IOException(s"dropConstraint: failed to clear $live")
      return
    }
    val sess = s
    import sess.implicits._
    val staged = new Path(s"${constraintsDir(dir)}_staged")
    rest.toDF("name", "chk").coalesce(1).write.mode("overwrite").parquet(staged.toString)
    if (!fs.delete(live, /* recursive = */ true))
      throw new java.io.IOException(s"dropConstraint: failed to remove $live")
    if (!fs.rename(staged, live))
      throw new java.io.IOException(s"dropConstraint: failed to swap $staged into place")
  }

  /** One aggregate pass over a commit's new rows against every CHECK
    * constraint; throws (table unchanged) naming the first violated
    * constraint. */
  private def enforceConstraints(df: DataFrame, dir: String, what: String): Unit = {
    val s = df.sparkSession
    val cs = constraintList(s, dir)
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, c) =>
      sum(when(not(coalesce(expr(c), lit(true))), 1L).otherwise(0L)).as(s"__viol_$n")
    }
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    cs.zipWithIndex.foreach { case ((n, c), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(
        bad == 0L,
        s"$what to $dir violates CHECK constraint $n ($c): $bad rows — commit refused"
      )
    }
  }

  /** OPTIMIZE ... ZORDER BY (Delta's clustered compaction): rewrite
    * the live data ordered along a Z-ORDER (Morton) curve over the
    * named numeric columns, as one logical-no-op commit (remove all
    * prior live files, add the clustered replacements — reads are
    * byte-equivalent, CDC across the rewrite is empty). Each column is
    * min-max scaled to 16 bits and the bits INTERLEAVED, so range
    * locality in every dimension maps to locality on the one sort
    * key — after a [[refreshStats]], range reads on ANY of the
    * clustered columns prune to a small file subset, where a
    * single-column sort serves only its own dimension. NULLs scale to
    * the low end (coalesce to lo) — they cluster together and a range
    * read still re-filters exactly. This rewrites the whole live set
    * in one commit; [[optimizeZorderIncremental]] is the bounded-IO
    * variant that clusters a file subset per run, like [[optimize]].
    */
  def optimizeZorder(
      s: SparkSession,
      dir: String,
      cols: Seq[String],
      nOut: Int
  ): Long = {
    val snap = headSnapshot(s, dir)
    zorderRewrite(s, dir, cols, nOut, snap, snap.paths)
  }

  /** Incremental OPTIMIZE ZORDER — the 100 TB cadence: cluster at most
    * `maxFiles` live files per run (smallest first — scattered small
    * files gain the most from clustering and cost the least to
    * rewrite), as one bounded logical-no-op commit; repeated runs walk
    * the table toward a clustered steady state while each commit's IO
    * stays O(maxFiles), never O(table). Curve bounds come from the
    * SUBSET being rewritten: the files' own row-group stats are what
    * pruning consults, so subset-local bounds cluster exactly what
    * this commit lays out (global bounds would only matter if one
    * curve had to span commits, which the per-file skipping contract
    * never requires). Returns `prev` untouched when fewer than two
    * files qualify.
    */
  def optimizeZorderIncremental(
      s: SparkSession,
      dir: String,
      cols: Seq[String],
      nOut: Int,
      maxFiles: Int
  ): Long = {
    require(maxFiles >= 2, "incremental zorder needs at least two files per pass")
    val snap = headSnapshot(s, dir)
    val fs = fsOf(s, dir)
    val subset = snap.paths
      .map(f => f -> fs.getFileStatus(new Path(f)).getLen)
      .sortBy { case (f, len) => (len, f) }
      .take(maxFiles)
      .map(_._1)
      .sorted
    if (subset.size < 2) return snap.version
    zorderRewrite(s, dir, cols, nOut, snap, subset)
  }

  /** OPTIMIZE HILBERT — [[optimizeZorder]]'s sibling on the Hilbert
    * curve: same logical-no-op commit, same stats/bloom interplay,
    * better range locality per clustered dimension. 2 columns use the
    * native rotation-state `hilbert_2d`; 3-4 columns the native
    * Skilling transpose `hilbert_nd` ([[graft.functions.HilbertIndex]]). */
  def optimizeHilbert(s: SparkSession, dir: String, cols: Seq[String], nOut: Int): Long = {
    val snap = headSnapshot(s, dir)
    zorderRewrite(s, dir, cols, nOut, snap, snap.paths, curve = "hilbert")
  }

  /** The shared z-order rewrite: cluster exactly `files` along the
    * Morton (or Hilbert) curve and commit (remove `files`, add the
    * replacements) through [[rewriteFiles]]. */
  private def zorderRewrite(
      s: SparkSession,
      dir: String,
      cols: Seq[String],
      nOut: Int,
      snap: Snapshot,
      files: Seq[String],
      curve: String = "morton"
  ): Long = {
    require(cols.size >= 2, "zorder needs at least two columns (else sort plainly)")
    require(cols.size <= 4, "the bigint interleave supports at most 4 columns")
    val df = liveRows(s, snap, files)
    // Numeric view per clustered column: numeric columns cast to
    // double; STRING columns project their first 6 UTF-8 bytes as a
    // big-endian integer (right-padded, so the projection is
    // order-preserving on the truncated prefix and short strings sort
    // before their extensions — 48 bits, exact in a double). Rank
    // fidelity beyond the shared-prefix depth is what the curve loses,
    // which is the standard truncated-key z-order trade; reads stay
    // exact regardless (the commit is a logical no-op).
    def numericView(c: String): String = df.schema(c).dataType match {
      case org.apache.spark.sql.types.StringType =>
        s"cast(conv(rpad(substring(hex(encode(substring(`$c`, 1, 6), 'UTF-8')), 1, 12), 12, '0'), 16, 10) AS double)"
      case _ => s"cast(`$c` AS double)"
    }
    val stats = df
      .agg(
        min(expr(numericView(cols.head))).as(s"lo0"),
        max(expr(numericView(cols.head))).as(s"hi0") +:
          cols.tail.zipWithIndex.flatMap { case (c, i) =>
            Seq(
              min(expr(numericView(c))).as(s"lo${i + 1}"),
              max(expr(numericView(c))).as(s"hi${i + 1}")
            )
          }: _*
      )
      .head()
    val n = cols.size
    // 16 bits per column interleaves to bit position 15n + (n-1): fine
    // through n = 3 (47), but n = 4 would land bit 63 — the SIGN bit
    // of the bigint sort key, inverting the curve at its most
    // significant bit. Cap at 15 bits for 4 columns (top position 59).
    val bitsPer = if (n == 4) 15 else 16
    val maxVal = (1 << bitsPer) - 1
    // per-column scale: (x - lo) / (hi - lo) * maxVal, NULL → lo;
    // degenerate (hi == lo) AND all-NULL (no stats at all — min/max of
    // nothing) both collapse to constant 0
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) "cast(0 AS bigint)"
      else {
        val (lo, hi) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
        if (hi == lo) "cast(0 AS bigint)"
        else
          s"cast((coalesce(${numericView(c)}, $lo) - $lo) / (${hi - lo}) * $maxVal.0 AS bigint)"
      }
    }
    // Curve key via the NATIVE integer expressions (graft.functions.
    // CurveIndex) — bit-identical to the HOF reference folds the spec
    // keeps (HilbertReference, src/test): the nested aggregate/transform
    // formulations
    // were CodegenFallback with one closure dispatch + ArrayData
    // allocation per lambda step per ROW, and dominated the rewrite's
    // scan stage (HilbertCurveSpec pins the exact equality).
    val zExpr =
      if (curve == "hilbert" && n == 2) s"hilbert_2d($bitsPer, ${scaled(0)}, ${scaled(1)})"
      else if (curve == "hilbert") s"hilbert_nd($bitsPer, ${scaled.mkString(", ")})"
      else s"morton_nd($bitsPer, ${scaled.mkString(", ")})"
    rewriteFiles(s, dir, if (curve == "hilbert") "hilbert" else "zorder", snap.version, files) { out =>
      df.withColumn("__z", expr(zExpr))
        .repartitionByRange(nOut, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write
        .mode("errorifexists")
        .parquet(out)
    }
  }

  /** Retention vacuum — the cost side of "old versions stay readable
    * forever": physically delete every data file unreachable from ANY
    * version ≥ `keepFrom`. Under last-action-wins liveness that is:
    * the file's last action at or before `keepFrom` is a `remove`
    * (dead at the horizon) AND no later commit re-`add`s it (a
    * [[restore]] above the horizon revives a file and it must
    * survive). Deletes go through the Hadoop FileSystem with checked
    * results (IvfIndex.compact's discipline), and a `_vacuum`
    * watermark makes later time travel below the horizon fail LOUDLY
    * with the retention boundary instead of a confusing missing-file
    * error. Idempotent: re-vacuuming at the same horizon deletes
    * nothing.
    */
  def vacuum(s: SparkSession, dir: String, keepFrom: Long): Seq[String] = {
    val cur = currentVersion(s, dir)
    require(keepFrom >= 0 && keepFrom <= cur, s"keepFrom $keepFrom outside [0, $cur]")
    // the horizon only moves FORWARD: a lower keepFrom would overwrite
    // the marker with a smaller value and re-admit versions whose
    // files a previous vacuum already deleted — exactly the
    // missing-file failure the watermark exists to prevent
    val horizon = retentionHorizon(s, dir)
    require(
      keepFrom >= horizon,
      s"keepFrom $keepFrom below the recorded retention horizon $horizon"
    )
    val log = readLog(s, dir).filter(col("action").isin("add", "remove"))
    val deadAtHorizon = log
      .filter(col("version") <= keepFrom)
      .groupBy("file")
      .agg(max(struct(col("version"), col("action"))).as("last"))
      .filter(col("last.action") === "remove")
      .select("file")
    val revivedLater = log
      .filter(col("version") > keepFrom && col("action") === "add")
      .select("file")
    // ownership guard: only files under THIS table's directory are
    // ever physically deleted — a shallow clone references foreign
    // files, and its vacuum must un-reference them, not destroy the
    // source table's data
    val ownPrefix = qualified(s, new Path(dir)).stripSuffix("/") + "/"
    val doomed = deadAtHorizon
      .join(revivedLater, Seq("file"), "left_anti")
      .collect()
      .map(_.getString(0))
      .toSeq
      .filter(_.startsWith(ownPrefix))
      .sorted
    val fs = fsOf(s, dir)
    doomed.foreach { f =>
      val p = new Path(f)
      if (fs.exists(p)) {
        require(fs.delete(p, false), s"vacuum failed to delete $f")
      }
    }
    // fold the deletion-vector table down to rows of files that still
    // exist: a doomed file's vectors can never apply to a readable
    // version again (the file is gone, and revival was excluded
    // above), so its rows are dead weight — text-derived positional
    // state retained past retention. Applicability filters the
    // dv_version COLUMN, so the physical regrouping is invisible to
    // readers. Checked staged swap, the house discipline.
    val dvRoot = new Path(dvDir(dir))
    if (fs.exists(dvRoot) && doomed.nonEmpty) {
      import s.implicits._
      val staged = new Path(s"${dvDir(dir)}_compacted")
      s.read
        .option("recursiveFileLookup", "true")
        .parquet(dvRoot.toString)
        .join(broadcast(doomed.toDF("file")), Seq("file"), "left_anti")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$staged/v0")
      if (!fs.delete(dvRoot, /* recursive = */ true))
        throw new java.io.IOException(s"vacuum: failed to remove old DV table $dvRoot")
      if (!fs.rename(staged, dvRoot))
        throw new java.io.IOException(
          s"vacuum: failed to swap $staged into place — staged DV rewrite preserved"
        )
    }
    // feed retention: CDF segments at or below the new horizon can no
    // longer anchor any legal feed window ([[changesFeed]] requires
    // vOld >= horizon, so every readable window reads segments
    // STRICTLY ABOVE keepFrom) — delete them, or the change feed
    // grows without bound while the table it describes stays pruned
    val cdfRoot = new Path(cdfDir(dir))
    if (fs.exists(cdfRoot)) {
      fs.listStatus(cdfRoot)
        .toSeq
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith("v") && n.drop(1).forall(_.isDigit) && n.drop(1).toLong <= keepFrom
        }
        .foreach(p => require(fs.delete(p, true), s"vacuum failed to delete feed segment $p"))
    }
    val marker = new Path(s"$dir/_vacuum")
    val out = fs.create(marker, true)
    out.write(keepFrom.toString.getBytes("UTF-8"))
    out.close()
    doomed
  }

  /** SHALLOW CLONE (Delta's zero-copy clone): initialize `dstDir` as a
    * new table whose version 0 REFERENCES `srcDir`'s live files at
    * version `v` — one log entry, no data read, copied, or written, so
    * cloning a 100 TB table costs one commit. The clone then lives its
    * own life: copy-on-write commits land replacement files under the
    * CLONE's directory and only un-reference the source files, never
    * touch them — the dev/staging-fork workflow (clone prod, run the
    * risky migration, diff, throw away). Two documented hazards, both
    * guarded: [[vacuum]] only ever deletes files under the table's OWN
    * directory (a clone vacuum can un-reference foreign files but
    * cannot destroy the source's data), and vacuuming the SOURCE can
    * strand clones that still reference the reclaimed files — the
    * standard shallow-clone retention caveat; use a deep copy when the
    * source's retention is not under your control.
    */
  def cloneShallow(s: SparkSession, srcDir: String, dstDir: String, v: Long): Long = {
    require(
      currentVersion(s, dstDir) == -1,
      s"$dstDir already initialized — clone only creates new tables"
    )
    val horizon = retentionHorizon(s, srcDir)
    require(
      v >= horizon,
      s"version $v of $srcDir was vacuumed (retention horizon is $horizon) — cannot clone"
    )
    val snap = snapshot(s, srcDir, v)
    require(snap.files.nonEmpty, s"version $v of $srcDir has no live files")
    claimVersion(s, dstDir, 0L)
    // row counts ride over from the source log — the clone stays
    // metadata-only (no footer opens) for count-carrying sources
    appendLog(
      s,
      dstDir,
      0L,
      "clone",
      snap.paths,
      Nil,
      knownCounts = snap.files.collect { case LiveFile(f, _, Some(n)) => f -> n }.toMap
    )
    0L
  }

  // ------------------------------------------------------------------
  // COLUMN MAPPING (round 16): rename/drop as METADATA, the
  // Iceberg/Delta id-based model — physical parquet column names are
  // the stable ids and are NEVER rewritten; a versioned logical→
  // physical map (`_log/_colmap/v<N>`, one parquet per mapping change,
  // each pinned to its own audited log commit) translates at the READ
  // boundary ([[readVersionLogical]]) and the WRITE boundary
  // ([[toPhysical]]). Time travel resolves the map AS OF the version
  // read, so pre-rename versions surface their era's names and history
  // stays readable without a byte of data rewritten; every rewrite
  // path (CoW/MOR/MERGE) keeps operating on the physical names and
  // survives the rename untouched. A renamed table at 100 TB costs
  // one metadata commit, not a table rewrite.
  // ------------------------------------------------------------------

  private def colmapDir(dir: String) = s"${logDir(dir)}/_colmap"

  /** The column map AS OF `v` — (logical, physical, dropped) — or None
    * when no mapping change had landed by `v` (identity: logical IS
    * physical, nothing hidden). */
  def columnMapAt(s: SparkSession, dir: String, v: Long): Option[Seq[(String, String, Boolean)]] = {
    val p = new Path(colmapDir(dir))
    val fs = fsOf(s, dir)
    if (!fs.exists(p)) return None
    val vers = fs
      .listStatus(p)
      .toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.stripPrefix("v").toLong }
      .filter(_ <= v)
    if (vers.isEmpty) None
    else
      Some(
        s.read
          .parquet(s"${colmapDir(dir)}/v${vers.max}")
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
          .sortBy(_._2)
          .toSeq
      )
  }

  /** Current map, or the identity map derived from the head schema. */
  private def mapOrIdentity(s: SparkSession, dir: String, v: Long): Seq[(String, String, Boolean)] =
    columnMapAt(s, dir, v).getOrElse(
      readVersion(s, dir, v, mergeSchema = true).columns.toSeq.map(c => (c, c, false))
    )

  /** One mapping change = one audited commit: the new map lands under
    * the claimed version, then the log entry (op `colmap`, no file
    * actions — a logical no-op for liveness, vacuum, and the feed). */
  private def commitColmap(
      s: SparkSession,
      dir: String,
      entries: Seq[(String, String, Boolean)]
  ): Long = {
    val prev = currentVersion(s, dir)
    require(prev >= 0, s"$dir not initialized")
    val v = prev + 1
    claimVersion(s, dir, v)
    import s.implicits._
    entries
      .toDF("logical", "physical", "dropped")
      .coalesce(1)
      .write
      .mode("errorifexists")
      .parquet(s"${colmapDir(dir)}/v$v")
    appendLog(s, dir, v, "colmap", Nil, Nil)
    v
  }

  /** Rename logical column `from` to `to` — metadata only. Refuses an
    * unknown/dropped source and a collision with a live name. */
  def renameColumn(s: SparkSession, dir: String, from: String, to: String): Long = {
    val cur = mapOrIdentity(s, dir, currentVersion(s, dir))
    require(cur.exists(e => e._1 == from && !e._3), s"no live column '$from' to rename")
    require(!cur.exists(e => e._1 == to && !e._3), s"column '$to' already exists")
    commitColmap(s, dir, cur.map { case (l, p, d) => if (l == from && !d) (to, p, d) else (l, p, d) })
  }

  /** Drop logical column `name` — metadata only: readers stop seeing
    * it, the physical data stays (history below the drop still serves
    * it; a later rename may NOT reuse the physical slot). */
  def dropColumn(s: SparkSession, dir: String, name: String): Long = {
    val cur = mapOrIdentity(s, dir, currentVersion(s, dir))
    require(cur.exists(e => e._1 == name && !e._3), s"no live column '$name' to drop")
    commitColmap(s, dir, cur.map { case (l, p, d) => if (l == name && !d) (l, p, true) else (l, p, d) })
  }

  /** [[readVersion]] surfaced under the LOGICAL names of `v`'s era:
    * mapped physical columns renamed, dropped columns hidden, physical
    * columns the map predates (a later schema evolution) passed
    * through unchanged. Identity when the table has no mapping. */
  def readVersionLogical(
      s: SparkSession,
      dir: String,
      v: Long,
      mergeSchema: Boolean = false
  ): DataFrame = {
    val df = readVersion(s, dir, v, mergeSchema)
    columnMapAt(s, dir, v) match {
      case None => df
      case Some(m) =>
        // column ORDER follows the physical frame (stable across
        // mapping changes); the map only renames and hides
        val byPhysical = m.map(e => e._2 -> e).toMap
        df.select(df.columns.toSeq.flatMap { c =>
          byPhysical.get(c) match {
            case Some((_, _, true))  => None // dropped: hidden from this era on
            case Some((l, _, false)) => Some(col(c).as(l))
            case None                => Some(col(c)) // post-map schema evolution
          }
        }: _*)
    }
  }

  /** Adapter for writers holding a LOGICAL frame: columns translated
    * back to their physical names so every data file keeps the stable
    * physical schema. Unknown logical names (including dropped ones)
    * refuse loudly; unmapped columns (post-map schema evolution) pass
    * through. */
  def toPhysical(s: SparkSession, dir: String, df: DataFrame): DataFrame =
    columnMapAt(s, dir, currentVersion(s, dir)) match {
      case None => df
      case Some(m) =>
        val live = m.filter(!_._3).map(e => e._1 -> e._2).toMap
        val physical = m.map(_._2).toSet
        df.select(df.columns.toSeq.map { c =>
          live.get(c) match {
            case Some(p) => col(c).as(p)
            case None =>
              // c addressing a renamed column's PHYSICAL slot (or a
              // dropped column's) would silently collide/resurrect
              require(
                !physical.contains(c),
                s"'$c' addresses a mapped physical slot of $dir — use its live logical name"
              )
              col(c)
          }
        }: _*)
    }

  /** RESTORE TABLE … TO VERSION AS OF `to` — as a new COMMIT, and
    * METADATA-ONLY (the Delta RESTORE shape): the head is brought back
    * to version `to`'s exact file set by logging `add` for target
    * files not currently live and `remove` for live files not in the
    * target; no data file is read, copied, or written, so restoring a
    * 100 TB table costs one log entry. History is preserved — the
    * mistake-window versions stay readable between `to` and the
    * restore commit — and CDC across the restore reports exactly the
    * logical rollback. Files re-added here are why liveness is
    * last-action-wins ([[snapshot]]) and why [[vacuum]] checks for
    * revival. Requires `to` at or above the retention horizon (its
    * files must still exist physically). Restoring to the current
    * head is a recorded no-op commit.
    */
  def restore(s: SparkSession, dir: String, to: Long): Long = {
    val cur = currentVersion(s, dir)
    require(cur >= 0, s"$dir not initialized")
    require(to >= 0 && to <= cur, s"restore target $to outside [0, $cur]")
    val horizon = retentionHorizon(s, dir)
    require(
      to >= horizon,
      s"version $to of $dir was vacuumed (retention horizon is $horizon) — cannot restore"
    )
    val v = cur + 1
    claimVersion(s, dir, v)
    val targetSnap = snapshot(s, dir, to)
    val target = targetSnap.paths.toSet
    val head = liveFiles(s, dir, cur).toSet
    // re-added files re-log the counts resolved at the target version
    // — the restore stays metadata-only (no footer opens)
    appendLog(
      s,
      dir,
      v,
      "restore",
      (target -- head).toSeq.sorted,
      (head -- target).toSeq.sorted,
      knownCounts = targetSnap.files.collect { case LiveFile(f, _, Some(n)) => f -> n }.toMap
    )
    v
  }

  /** Earliest version still readable (0 when never vacuumed). */
  def retentionHorizon(s: SparkSession, dir: String): Long = {
    val marker = new Path(s"$dir/_vacuum")
    val fs = fsOf(s, dir)
    if (!fs.exists(marker)) 0L
    else {
      val in = fs.open(marker)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** Row fingerprint over the name-sorted non-key columns, encoded
    * UNAMBIGUOUSLY as JSON: `concat_ws("")` skipped NULLs and had no
    * separator, so distinct rows collided — ('ab','c') vs ('a','bc'),
    * or a value sliding between adjacent columns as the other goes
    * NULL — and the diff would miss real updates. `to_json(struct(…))`
    * keeps field names and quotes values, so no two distinct rows
    * share an encoding.
    */
  private def fingerprint(cols: Seq[String]) =
    md5(to_json(struct(cols.map(col): _*)))

  /** CHANGE-DATA FEED over (vOld, vNew] — the O(changes) event stream
    * (Delta CDF's shape) that [[changes]]/[[changesDetailed]]'s full
    * two-version diff is the reference for: every mutating commit
    * persisted its change rows at WRITE time (`_cdf/v<V>`, written by
    * the commit that knows exactly what it touched), appends derive
    * their inserts from the version's own added files, and logical
    * no-ops (optimize / zorder / mor_compact) contribute nothing — so
    * a feed consumer reads data proportional to what CHANGED, never
    * the table. Events carry the full row image plus `_change_type`
    * (insert | delete | update_preimage | update_postimage) and
    * `_commit_version`; replaying them in version order onto vOld
    * reproduces vNew exactly (ChangeFeedSpec pins it against both the
    * reference diff and the replay). Not defined across a RESTORE
    * (a metadata-only rollback has no O(changes) event form — its
    * cost is the point) — fail loudly and use [[changes]] there.
    */
  def changesFeed(s: SparkSession, dir: String, vOld: Long, vNew: Long): DataFrame = {
    require(vOld >= 0 && vOld < vNew, s"need 0 <= vOld < vNew, got ($vOld, $vNew)")
    require(vNew <= currentVersion(s, dir), s"version $vNew of $dir does not exist")
    // below the retention horizon the feed segments were vacuumed —
    // fail loudly, NOT silently: a missing segment is otherwise
    // indistinguishable from a no-op commit, and a consumer would
    // skip changes it never saw
    val horizon = retentionHorizon(s, dir)
    require(
      vOld >= horizon,
      s"changesFeed($vOld, $vNew): versions at or below the retention horizon $horizon " +
        "were vacuumed (their feed segments are gone) — re-baseline the consumer"
    )
    // one driver-side read of the window's log rows serves BOTH the
    // op map and the per-append added-file lists below — this used to
    // be one Spark job for the map plus one per append version, paid
    // on every view sync
    val windowRows = readLogRowsLocal(s, dir, vOld + 1, vNew)
    val ops: Map[Long, String] = windowRows.map(r => r._5 -> r._1).toMap
    val fs = fsOf(s, dir)
    val logicalNoOps = Set("optimize", "zorder", "hilbert", "mor_compact", "colmap")
    val cdfOps = Set("delete", "update", "merge", "mor_delete")
    val claimed = claimedVersions(s, dir).toSet
    val frames: Seq[DataFrame] = (vOld + 1 to vNew).toSeq.flatMap { w =>
      ops.get(w) match {
        case None if claimed(w) =>
          // claimed but uncommitted BELOW the window head: an in-flight
          // (or crashed) rival whose changes would be silently skipped
          // — the exact anomaly [[safeHead]] exists to fence off
          throw new ConcurrentCommitException(
            s"changesFeed($vOld, $vNew) crosses version $w, which is claimed but not " +
              "committed — read to safeHead() (in-flight commit), or releaseStaleClaim " +
              "(crashed commit) first"
          )
        case None =>
          // unclaimed hole: a crashed commit whose claim was released —
          // releaseStaleClaim proved it never wrote log, data, or CDF,
          // so it contributes no changes by construction
          None
        case Some("restore") =>
          throw new IllegalArgumentException(
            s"changesFeed($vOld, $vNew) crosses the restore at version $w — " +
              "a metadata-only rollback has no O(changes) event form; use changes()"
          )
        case Some(op) if logicalNoOps(op) => None
        case Some(op) if cdfOps(op) =>
          val p = new Path(s"${cdfDir(dir)}/v$w")
          if (!fs.exists(p)) None // no-op commit (nothing matched)
          else
            Some(
              s.read
                .parquet(p.toString)
                .withColumn("_commit_version", lit(w))
            )
        case Some("init") | Some("append") | Some("clone") =>
          val added = windowRows.filter(r => r._5 == w && r._3 == "add").map(_._2)
          if (added.isEmpty) None
          else
            Some(
              s.read
                .option("mergeSchema", "true")
                .parquet(added: _*)
                .withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version", lit(w))
            )
        case Some(other) =>
          throw new IllegalStateException(s"changesFeed: unknown commit op '$other' at v$w")
      }
    }
    if (frames.isEmpty)
      readVersion(s, dir, vNew)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
        .filter(lit(false))
    else frames.reduce(_ unionByName (_, allowMissingColumns = true))
  }

  /** CDC with payloads — what incremental VIEW maintenance consumes
    * (q178): beside the change_type, each row carries the named
    * columns from BOTH sides (`<col>_old` NULL for inserts,
    * `<col>_new` NULL for deletes), so a maintainer can subtract the
    * old contribution and add the new one without re-reading either
    * version in full. Classification still compares md5 fingerprints
    * over ALL non-key columns; the payload selection only bounds what
    * the diff carries.
    */
  def changesDetailed(
      s: SparkSession,
      dir: String,
      key: String,
      vOld: Long,
      vNew: Long,
      payload: Seq[String]
  ): DataFrame = {
    def side(v: Long, suffix: String) = {
      val df = readVersion(s, dir, v)
      val rest = df.columns.filterNot(_ == key).sorted
      df.select(
        col(key) +:
          fingerprint(rest).as(s"fp$suffix") +:
          payload.map(c => col(c).as(s"$c$suffix")): _*
      )
    }
    side(vOld, "_old")
      .join(side(vNew, "_new"), Seq(key), "full_outer")
      .withColumn(
        "change_type",
        when(col("fp_old").isNull, "insert")
          .when(col("fp_new").isNull, "delete")
          .when(col("fp_old") =!= col("fp_new"), "update")
      )
      .filter(col("change_type").isNotNull)
      .drop("fp_old", "fp_new")
  }

  /** CDC between two versions, keyed on `key`: one row per changed key
    * with change_type ∈ insert | delete | update. Fingerprints are
    * md5 over all non-key columns (name-sorted for stability), so the
    * diff shuffles only (key, fp) pairs — the q125 reconciliation
    * shape driven through the version store.
    */
  def changes(
      s: SparkSession,
      dir: String,
      key: String,
      vOld: Long,
      vNew: Long
  ): DataFrame = {
    def fingerprinted(v: Long) = {
      val df = readVersion(s, dir, v)
      val rest = df.columns.filterNot(_ == key).sorted
      df.select(col(key), fingerprint(rest).as("fp"))
    }
    fingerprinted(vOld)
      .withColumnRenamed("fp", "fp_old")
      .join(fingerprinted(vNew).withColumnRenamed("fp", "fp_new"), Seq(key), "full_outer")
      .withColumn(
        "change_type",
        when(col("fp_old").isNull, "insert")
          .when(col("fp_new").isNull, "delete")
          .when(col("fp_old") =!= col("fp_new"), "update")
      )
      .filter(col("change_type").isNotNull)
      .select(col(key), col("change_type"))
  }
}
