package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the version-store invariants q166/q167's oracles cannot see:
  * copy-on-write touches only hit files, old versions stay bit-stable
  * after later commits, and the log stays O(commits).
  */
class TableVersionsSpec extends AnyFunSuite with SparkSpec {

  private def freshDir() = graft.queries.Similarity.freshIndexDir("tv_spec")

  private def fixture() = {
    val s = spark
    import s.implicits._
    (0L until 80L)
      .map(i => (i, s"doc$i", if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "body", "par")
  }

  test("copy-on-write delete rewrites only the files containing matches") {
    val dir = freshDir()
    // 4 range-partitioned files: ids 0-19, 20-39, 40-59, 60-79
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir)
    val v0files = spark.read.parquet(s"$dir/_log").filter(col("version") === 0)
      .select("file").collect().map(_.getString(0)).toSet
    assert(v0files.size == 4)

    TableVersions.commitDelete(spark, dir, "id < 15")
    val log = spark.read.parquet(s"$dir/_log").filter(col("version") === 1).collect()
    val removed = log.filter(_.getAs[String]("action") == "remove").map(_.getAs[String]("file")).toSet
    // only the one file holding ids < 15 was rewritten; three survive
    assert(removed.size == 1, s"expected 1 rewritten file, got ${removed.size}")
    assert(removed.subsetOf(v0files))
    val live1 = TableVersions.readVersion(spark, dir, 1)
    assert(live1.count() == 65)
    assert(live1.filter(col("id") < 15).count() == 0)
  }

  test("commitDeleteKeys: key-set delete matches the predicate delete, hit-file-scoped, no NULLs") {
    val s = spark
    import s.implicits._
    // predicate twin
    val pdir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), pdir)
    TableVersions.commitDelete(spark, pdir, "id % 7 = 3 AND id < 40")
    // key-set path: same delete expressed as a DataFrame of keys — and
    // the keys lawfully DERIVE from the table being deleted from (the
    // pin-before-rewrite hazard the operator closes)
    val kdir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), kdir)
    val keys = TableVersions
      .readVersion(spark, kdir, 0)
      .filter(col("id") % 7 === 3 && col("id") < 40)
      .select("id")
    TableVersions.commitDeleteKeys(keys, kdir, "id")
    val got = TableVersions.readVersion(spark, kdir, 1)
    val want = TableVersions.readVersion(spark, pdir, 1)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // only files CONTAINING hit keys (ids 3..38 live in files 0/1) rewrote
    val removed = spark.read.parquet(s"$kdir/_log").filter(col("version") === 1)
      .filter(col("action") === "remove").collect()
    assert(removed.length == 2, s"expected 2 hit files, got ${removed.length}")
    // the change feed carries exactly the deleted pre-images
    val cdf = TableVersions.changesFeed(spark, kdir, 0L, 1L)
    assert(cdf.filter(col("_change_type") === "delete").count() == keys.count())
    // an absent key set is a no-op commit, not an error
    val v2 = TableVersions.commitDeleteKeys(Seq(100000L).toDF("id"), kdir, "id")
    assert(v2 == 2L && TableVersions.readVersion(spark, kdir, 2).count() == got.count())
    // NULL keys refuse loudly — a join would silently skip them
    val withNull = Seq[java.lang.Long](5L, null).toDF("id")
    val err = intercept[IllegalArgumentException] {
      TableVersions.commitDeleteKeys(withNull, kdir, "id")
    }
    assert(err.getMessage.contains("NULL"))
    // the refusal landed nothing
    assert(TableVersions.currentVersion(spark, kdir) == 2L)
  }

  test("commitDeleteMorKeys: DV-path key-set delete matches commitDeleteMor") {
    val s = spark
    import s.implicits._
    val pdir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), pdir)
    TableVersions.commitDeleteMor(spark, pdir, "id % 5 = 2")
    val kdir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), kdir)
    val keys = fixture().filter(col("id") % 5 === 2).select("id")
    TableVersions.commitDeleteMorKeys(keys, kdir, "id")
    val got = TableVersions.readVersion(spark, kdir, 1)
    val want = TableVersions.readVersion(spark, pdir, 1)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // merge-on-read: no data file rewritten, only a DV landed
    val rewrote = spark.read.parquet(s"$kdir/_log").filter(col("version") === 1)
      .filter(col("action").isin("add", "remove")).count()
    assert(rewrote == 0L, "MOR delete must not rewrite data files")
    assert(
      TableVersions.changesFeed(spark, kdir, 0L, 1L)
        .filter(col("_change_type") === "delete").count() == keys.count()
    )
  }

  test("time travel: earlier versions stay bit-stable through later delete/update commits") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture(), dir)
    val before = TableVersions.readVersion(spark, dir, 0).orderBy("id").collect().toSeq
    TableVersions.commitDelete(spark, dir, "par = 'odd'")
    TableVersions.commitUpdate(spark, dir, "id % 10 = 0", _.withColumn("body", lit("rewritten")))
    val after = TableVersions.readVersion(spark, dir, 0).orderBy("id").collect().toSeq
    assert(after == before, "version 0 changed under later commits")
    // head version reflects both commits
    val head = TableVersions.readVersion(spark, dir, TableVersions.currentVersion(spark, dir))
    assert(head.filter(col("par") === "odd").count() == 0)
    assert(head.filter(col("body") === "rewritten").count() == 8) // ids 0,10,...,70 all survive the odd-delete
  }

  test("update transforms only matching rows; others byte-identical") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture(), dir)
    TableVersions.commitUpdate(spark, dir, "id >= 70", _.withColumn("body", concat(col("body"), lit("!"))))
    val head = TableVersions.readVersion(spark, dir, 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 70L).foreach(i => assert(head(i) == s"doc$i"))
    (70L until 80L).foreach(i => assert(head(i) == s"doc$i!"))
  }

  test("no-op commit advances the version without touching files; log stays O(commits)") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().coalesce(2), dir)
    val v = TableVersions.commitDelete(spark, dir, "id = 99999")
    assert(v == 1)
    assert(TableVersions.readVersion(spark, dir, 1).count() == 80)
    // 2 adds from init + 1 no-op marker (which must still advance
    // currentVersion, or the next commit would reuse the number)
    val logRows = spark.read.parquet(s"$dir/_log").count()
    assert(logRows == 3, s"log grew unexpectedly: $logRows rows")
    assert(TableVersions.currentVersion(spark, dir) == 1)
    // CDC across the no-op is empty
    assert(TableVersions.changes(spark, dir, "id", 0L, 1L).count() == 0)
  }

  test("changesDetailed carries both-side payloads; a group-moving update balances") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppend(fixture(), dir)
    // move ids 0-9 from their parity group into a new group entirely
    TableVersions.commitUpdate(spark, dir, "id < 10", _.withColumn("par", lit("moved")))
    val delta = TableVersions
      .changesDetailed(spark, dir, "id", 0L, 1L, Seq("par"))
      .collect()
    assert(delta.length == 10)
    delta.foreach { r =>
      assert(r.getAs[String]("change_type") == "update")
      assert(r.getAs[String]("par_new") == "moved")
      assert(Set("even", "odd").contains(r.getAs[String]("par_old")))
    }
    // IVM over the delta reproduces the head-version group counts
    val headCounts = TableVersions.readVersion(spark, dir, 1L)
      .groupBy("par").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = TableVersions.readVersion(spark, dir, 0L)
      .groupBy("par").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val moved = delta.groupBy(_.getAs[String]("par_old")).view.mapValues(_.length.toLong).toMap
    val maintained =
      (base.map { case (g, n) => g -> (n - moved.getOrElse(g, 0L)) } +
        ("moved" -> delta.length.toLong)).filter(_._2 > 0)
    assert(maintained == headCounts)
  }

  test("vacuum deletes exactly the sub-horizon files, refuses old reads, stays idempotent") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir)
    TableVersions.commitDelete(spark, dir, "id < 15") // v1 rewrites 1 file
    TableVersions.commitUpdate(spark, dir, "id >= 70", _.withColumn("body", lit("u"))) // v2 rewrites 1
    val headBefore = TableVersions.readVersion(spark, dir, 2L).orderBy("id").collect().toSeq

    val doomed = TableVersions.vacuum(spark, dir, keepFrom = 2L)
    // exactly the two rewritten originals are unreachable from v2
    assert(doomed.size == 2, s"expected 2 doomed files, got ${doomed.size}")
    // log paths are fully qualified URIs (object-store ready) — resolve
    // them through java.net.URI before the local existence check
    def gone(f: String) = !new java.io.File(new java.net.URI(f)).exists()
    doomed.foreach(f => assert(gone(f), s"$f survived vacuum"))
    // head read byte-equivalent to before
    assert(TableVersions.readVersion(spark, dir, 2L).orderBy("id").collect().toSeq == headBefore)
    // sub-horizon time travel fails with the retention boundary
    val ex = intercept[IllegalArgumentException] {
      TableVersions.readVersion(spark, dir, 0L)
    }
    assert(ex.getMessage.contains("retention horizon is 2"))
    assert(TableVersions.retentionHorizon(spark, dir) == 2L)
    // idempotent: nothing left to delete at the same horizon
    assert(TableVersions.vacuum(spark, dir, keepFrom = 2L).forall(gone))
    assert(TableVersions.readVersion(spark, dir, 2L).count() == headBefore.size)
    // and the horizon never moves backwards (it would re-admit
    // versions whose files are already physically gone)
    val back = intercept[IllegalArgumentException] {
      TableVersions.vacuum(spark, dir, keepFrom = 1L)
    }
    assert(back.getMessage.contains("below the recorded retention horizon"))
  }

  test("NULL-evaluating predicate rows survive copy-on-write delete/update") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val withNulls = Seq[(Long, Option[Long], String)](
      (0L, Some(1L), "a"),
      (1L, None, "b"), // score IS NULL: 'score < 10' evaluates to NULL
      (2L, Some(50L), "c"),
      (3L, None, "d")
    ).toDF("id", "score", "body")
    TableVersions.commitAppend(withNulls.coalesce(1), dir)
    TableVersions.commitDelete(spark, dir, "score < 10")
    val head = TableVersions.readVersion(spark, dir, 1L).orderBy("id").collect()
    // only id=0 matched; the NULL-score rows must NOT vanish
    assert(head.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "NULL rows lost in delete")
    TableVersions.commitUpdate(spark, dir, "score < 100", _.withColumn("body", lit("u")))
    val head2 = TableVersions.readVersion(spark, dir, 2L).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(head2 == Map(1L -> "b", 2L -> "u", 3L -> "d"), "NULL rows mangled in update")
  }

  test("CDC fingerprints distinguish boundary-sliding values and NULL shifts") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // v0: ('ab','c') and (NULL,'x'); v1: ('a','bc') and ('x',NULL) —
    // the old concat_ws("") encoding collided both pairs and CDC
    // reported no change
    TableVersions.commitAppend(
      Seq((0L, "ab", "c"), (1L, Option.empty[String].orNull, "x")).toDF("id", "u", "w"),
      dir
    )
    TableVersions.commitUpdate(
      spark,
      dir,
      "id >= 0",
      _.select(
        col("id"),
        when(col("id") === 0, "a").otherwise("x").as("u"),
        when(col("id") === 0, "bc").otherwise(lit(null).cast("string")).as("w")
      )
    )
    val got = TableVersions.changes(spark, dir, "id", 0L, 1L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "update", 1L -> "update"), s"collided fingerprints: $got")
  }

  test("checkpoint: 50-commit reads resolve from snapshot + tail, byte-identical") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // 50 commits: appends with interleaved deletes
    (0L until 50L).foreach { i =>
      if (i % 7 == 3) TableVersions.commitDelete(spark, dir, s"id % 11 = ${i % 11}")
      else
        TableVersions.commitAppend(
          Seq((i * 10, s"c$i"), (i * 10 + 1, s"c$i")).toDF("id", "body").coalesce(1),
          dir
        )
    }
    val head = TableVersions.currentVersion(spark, dir)
    assert(head == 49L)
    val expectHead = TableVersions.readVersion(spark, dir, head).orderBy("id").collect().toSeq
    val expectMid = TableVersions.readVersion(spark, dir, 30L).orderBy("id").collect().toSeq

    val ck = TableVersions.checkpoint(spark, dir)
    assert(ck == head)
    assert(TableVersions.checkpoint(spark, dir) == head) // idempotent

    // identical results through the checkpointed resolution path
    assert(TableVersions.readVersion(spark, dir, head).orderBy("id").collect().toSeq == expectHead)
    // time travel BELOW the checkpoint still resolves (full log path)
    assert(TableVersions.readVersion(spark, dir, 30L).orderBy("id").collect().toSeq == expectMid)

    // more commits on top: snapshot + TAIL resolution
    TableVersions.commitAppend(Seq((9000L, "post")).toDF("id", "body").coalesce(1), dir)
    TableVersions.commitDelete(spark, dir, "id = 10")
    val v51 = TableVersions.currentVersion(spark, dir)
    val headNow = TableVersions.readVersion(spark, dir, v51).orderBy("id").collect().toSeq
    assert(headNow.exists(_.getLong(0) == 9000L))
    assert(!headNow.exists(_.getLong(0) == 10L))

    // THE point of the checkpoint: reads at/after it never open the
    // pre-checkpoint log — prove it by destroying those log directories
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L until 49L).foreach { v =>
      fs.rename(
        new org.apache.hadoop.fs.Path(s"$dir/_log/version=$v"),
        new org.apache.hadoop.fs.Path(s"$dir/_log_hidden_v$v")
      )
    }
    assert(
      TableVersions.readVersion(spark, dir, v51).orderBy("id").collect().toSeq == headNow,
      "read after checkpoint touched pre-checkpoint log files"
    )
    assert(TableVersions.readVersion(spark, dir, 49L).orderBy("id").collect().toSeq == expectHead)
  }

  test("changes() classifies insert/delete/update exactly") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppend(fixture(), dir)
    TableVersions.commitAppend(
      (100L until 110L).map(i => (i, s"doc$i", "new")).toDF("id", "body", "par"),
      dir
    )
    TableVersions.commitDelete(spark, dir, "id < 5")
    TableVersions.commitUpdate(spark, dir, "id = 42", _.withColumn("body", lit("changed")))
    val got = TableVersions
      .changes(spark, dir, "id", 0L, 3L)
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val expected =
      (100L until 110L).map(_ -> "insert").toMap ++
        (0L until 5L).map(_ -> "delete").toMap + (42L -> "update")
    assert(got == expected)
  }

  test("merge replaces matched rows, inserts the rest, and rewrites only hit files") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // two single-file commits: file A holds ids 0-4, file B ids 5-9
    TableVersions.commitAppend(
      (0L until 5L).map(i => (i, s"doc$i", "a")).toDF("id", "body", "par").coalesce(1),
      dir
    )
    TableVersions.commitAppend(
      (5L until 10L).map(i => (i, s"doc$i", "b")).toDF("id", "body", "par").coalesce(1),
      dir
    )
    // source touches ONLY ids in file B, plus brand-new ids
    val source = Seq(
      (7L, "updated7", "m"),
      (9L, "updated9", "m"),
      (100L, "new100", "m"),
      (101L, "new101", "m")
    ).toDF("id", "body", "par")
    val v = TableVersions.commitMerge(source, dir, "id")
    assert(v == 2L)
    val head = TableVersions.readVersion(spark, dir, v).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = (0L until 10L).map {
      case i @ (7L | 9L) => i -> s"updated$i"
      case i             => i -> s"doc$i"
    } ++ Seq(100L -> "new100", 101L -> "new101")
    assert(head.toSeq == expected)
    // copy-on-write minimality: the merge removed only file B — file A
    // (no matched keys) must survive untouched in the live set
    val log = spark.read.parquet(s"$dir/_log")
    def filesOf(ver: Long, action: String) = log
      .filter(col("version") === ver && col("action") === action)
      .select("file").collect().map(_.getString(0)).toSet
    assert(filesOf(2L, "remove") == filesOf(1L, "add"), "merge rewrote more than the hit file")
    // old versions stay readable across the merge
    assert(TableVersions.readVersion(spark, dir, 1L).count() == 10)
  }

  test("merge rejects duplicate and NULL source keys") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppend(Seq((0L, "x")).toDF("id", "body"), dir)
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "body")
    val dupEx = intercept[IllegalArgumentException] {
      TableVersions.commitMerge(dup, dir, "id")
    }
    assert(dupEx.getMessage.contains("duplicate keys"))
    val withNull = Seq((Some(1L), "a"), (None, "b"))
      .toDF("id", "body")
    val nullEx = intercept[IllegalArgumentException] {
      TableVersions.commitMerge(withNull, dir, "id")
    }
    assert(nullEx.getMessage.contains("NULL"))
    // neither attempt may have committed anything
    assert(TableVersions.currentVersion(spark, dir) == 0L)
  }

  test("optimize bin-packs small files as a logical no-op; vacuum then reclaims the originals") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // 6 trickle commits, one tiny file each
    (0L until 6L).foreach { i =>
      TableVersions.commitAppend(
        (i * 10 until i * 10 + 10).map(j => (j, s"doc$j")).toDF("id", "body").coalesce(1),
        dir
      )
    }
    val before = TableVersions.readVersion(spark, dir, 5L).orderBy("id").collect().toSeq
    val v = TableVersions.optimize(spark, dir)
    assert(v == 6L)
    // content byte-equivalent, file count collapsed
    assert(TableVersions.readVersion(spark, dir, v).orderBy("id").collect().toSeq == before)
    assert(TableVersions.readVersion(spark, dir, v).inputFiles.length == 1)
    // a logical no-op: CDC between the versions is EMPTY
    assert(TableVersions.changes(spark, dir, "id", 5L, v).count() == 0)
    // pre-optimize time travel untouched
    assert(TableVersions.readVersion(spark, dir, 3L).count() == 40)
    // nothing left to pack → no new version
    assert(TableVersions.optimize(spark, dir) == v)
    // vacuum at the optimize horizon physically reclaims the 6 originals
    val doomed = TableVersions.vacuum(spark, dir, keepFrom = v)
    assert(doomed.size == 6, s"expected 6 reclaimed files, got ${doomed.size}")
    assert(TableVersions.readVersion(spark, dir, v).orderBy("id").collect().toSeq == before)
  }

  test("stats-pruned reads skip files, fall back safely without stats, and skip all-NULL files") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // 8 range-partitioned files over ids 0-79: tight disjoint ranges
    TableVersions.commitAppend(fixture().repartitionByRange(8, col("id")), dir)
    assert(TableVersions.refreshStats(spark, dir, Seq("id")) == 8L)
    assert(TableVersions.refreshStats(spark, dir, Seq("id")) == 0L) // incremental: nothing new

    val pruned = TableVersions.readVersionPruned(spark, dir, 0L, "id", 22d, 27d)
    val full = TableVersions.readVersion(spark, dir, 0L).filter(col("id").between(22, 27))
    assert(pruned.orderBy("id").collect().toSeq == full.orderBy("id").collect().toSeq)
    // the skip actually happened: one 10-id file covers [22, 27]
    assert(pruned.inputFiles.length == 1, s"read ${pruned.inputFiles.length} files")

    // an UNSTATTED later commit must still be read (absence is safe)
    TableVersions.commitAppend(
      Seq((25L, "late25", "x")).toDF("id", "body", "par").coalesce(1),
      dir
    )
    val after = TableVersions.readVersionPruned(spark, dir, 1L, "id", 22d, 27d)
    assert(after.count() == full.count() + 1, "unstatted file was wrongly skipped")
    assert(after.filter(col("body") === "late25").count() == 1)

    // an all-NULL column file is skipped — no NULL satisfies a range
    val dir2 = freshDir()
    TableVersions.commitAppend(
      Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2")).toDF("id", "body").coalesce(1),
      dir2
    )
    TableVersions.commitAppend(Seq((Some(5L), "v5")).toDF("id", "body").coalesce(1), dir2)
    TableVersions.refreshStats(spark, dir2, Seq("id"))
    val p2 = TableVersions.readVersionPruned(spark, dir2, 1L, "id", 0d, 10d)
    assert(p2.collect().map(_.getString(1)).toSeq == Seq("v5"))
    assert(p2.inputFiles.length == 1, "all-NULL file was not skipped")
    // and a range matching nothing returns empty with the right schema
    val none = TableVersions.readVersionPruned(spark, dir2, 1L, "id", 100d, 200d)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("id", "body"))
  }

  test("restore is metadata-only, byte-equal to the target, and keeps the mistake window") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir) // v0
    TableVersions.commitDelete(spark, dir, "par = 'odd'") // v1: the mistake
    TableVersions.commitUpdate(spark, dir, "id < 10", _.withColumn("body", lit("x"))) // v2
    val dataDirsBefore = new java.io.File(s"$dir/data").list().toSet

    val v = TableVersions.restore(spark, dir, 0L)
    assert(v == 3L)
    // METADATA-ONLY: no new batch directory, no data file written
    assert(new java.io.File(s"$dir/data").list().toSet == dataDirsBefore)
    // head == v0, byte-equal
    val head = TableVersions.readVersion(spark, dir, 3L).orderBy("id").collect().toSeq
    val orig = TableVersions.readVersion(spark, dir, 0L).orderBy("id").collect().toSeq
    assert(head == orig)
    // the mistake window stays readable
    assert(TableVersions.readVersion(spark, dir, 1L).filter(col("par") === "odd").count() == 0)
    // CDC across the restore reports the logical rollback (odd rows return)
    val cdc = TableVersions.changes(spark, dir, "id", 2L, 3L)
    assert(cdc.filter(col("change_type") === "insert").count() == 40)
    // restoring to the current head is a recorded no-op commit
    assert(TableVersions.restore(spark, dir, 3L) == 4L)
    assert(
      TableVersions.readVersion(spark, dir, 4L).orderBy("id").collect().toSeq == orig
    )
  }

  test("vacuum spares files a restore revived; restore below the horizon is refused") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir) // v0
    TableVersions.commitDelete(spark, dir, "id < 15") // v1 removes one file
    TableVersions.restore(spark, dir, 0L) // v2 revives it
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // vacuum at the restore version: the revived file's last action ≤ 2
    // is the v2 re-add — it must SURVIVE (add/remove counting or
    // "any remove ≤ horizon" logic would delete it and break the head)
    val doomed = TableVersions.vacuum(spark, dir, keepFrom = 2L)
    // v1's rewrite batch (the 65-row replacement file) is now unreachable
    assert(doomed.nonEmpty)
    doomed.foreach(f => assert(!fs.exists(new org.apache.hadoop.fs.Path(f))))
    val head = TableVersions.readVersion(spark, dir, 2L)
    assert(head.count() == 80, "restore-revived file was vacuumed away")
    // and a restore below the recorded horizon fails loudly
    val ex = intercept[IllegalArgumentException](TableVersions.restore(spark, dir, 1L))
    assert(ex.getMessage.contains("vacuumed"))
  }

  test("schema evolution: merged head NULL-fills, history keeps its schema, rewrites see the union") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    TableVersions.commitAppend(
      (0L until 40L).map(i => (i, s"b$i")).toDF("id", "body").coalesce(2),
      dir
    ) // v0: old schema
    TableVersions.commitAppend(
      (40L until 60L).map(i => (i, s"b$i", i % 5)).toDF("id", "body", "score").coalesce(1),
      dir
    ) // v1: + score

    val head = TableVersions.readVersion(spark, dir, 1L, mergeSchema = true)
    assert(head.columns.toSeq.sorted == Seq("body", "id", "score"))
    assert(head.filter(col("score").isNull).count() == 40)
    assert(head.filter(col("score").isNotNull).count() == 20)
    // time travel keeps the PRE-evolution schema
    assert(
      TableVersions.readVersion(spark, dir, 0L, mergeSchema = true).columns.toSeq
        == Seq("id", "body")
    )

    // copy-on-write against the NEW column: NULL-evaluating old rows
    // must survive (NOT-TRUE predicate semantics + merged read)
    TableVersions.commitDelete(spark, dir, "score >= 3")
    val v2 = TableVersions.readVersion(spark, dir, 2L, mergeSchema = true)
    assert(v2.count() == 52) // 8 of the 20 scored rows have score ≥ 3
    assert(v2.filter(col("score").isNull).count() == 40, "pre-evolution rows lost in rewrite")

    // a post-evolution append WITHOUT the column still NULL-fills
    TableVersions.commitAppend(Seq((99L, "late")).toDF("id", "body"), dir)
    val v3 = TableVersions.readVersion(spark, dir, 3L, mergeSchema = true)
    assert(v3.filter(col("id") === 99L).select("score").head().isNullAt(0))
  }

  test("schema evolution: a merge whose keys all live in pre-evolution files carries the added column") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    TableVersions.commitAppend(
      (0L until 40L).map(i => (i, s"b$i")).toDF("id", "body").coalesce(2),
      dir
    ) // v0: old schema
    TableVersions.commitAppend(
      (40L until 60L).map(i => (i, s"b$i", i % 5)).toDF("id", "body", "score").coalesce(1),
      dir
    ) // v1: + score
    // every source key lives in v0's files, which hold no score column
    val merged = Seq((3L, "m3", 7L), (5L, "m5", 8L)).toDF("id", "body", "score")
    assert(TableVersions.commitMerge(merged, dir, "id") == 2L)
    val head = TableVersions.readVersion(spark, dir, 2L, mergeSchema = true)
    assert(head.count() == 60)
    val upserted = head
      .filter(col("id").isin(3L, 5L))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("body"), r.getAs[Long]("score")))
      .toSet
    assert(upserted == Set((3L, "m3", 7L), (5L, "m5", 8L)))
    assert(head.filter(col("score").isNull).count() == 38, "untouched pre-evolution rows must keep NULL")
    val pre = TableVersions
      .changesFeed(spark, dir, 1L, 2L)
      .filter(col("_change_type") === "update_preimage")
      .collect()
    assert(pre.map(_.getAs[Long]("id")).toSet == Set(3L, 5L))
    assert(pre.forall(r => r.isNullAt(r.fieldIndex("score"))), "pre-images must carry NULL score")
  }

  test("a merge runs a pinned number of Spark jobs") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    (0 until 4).foreach { f =>
      TableVersions.commitAppend(
        (f * 50L until f * 50L + 50L).map(i => (i, s"doc$i", i % 7)).toDF("id", "body", "v").coalesce(1),
        dir
      )
    }
    // 10 keys in one file, 10 new keys
    val source = ((20L until 30L) ++ (500L until 510L)).map(i => (i, s"m$i", i % 5)).toDF("id", "body", "v")
    val jobs = jobSitesOf(TableVersions.commitMerge(source, dir, "id"): Unit)
    // 12 jobs: the source check, the key probe, the target's schema,
    // and the classify pass writing the feed and the batch (20 when the
    // feed was three semi/anti joins and the hit files were read with a
    // second schema inference)
    assert(jobs.total == 12, jobs.toString)
    assert(TableVersions.readVersion(spark, dir, 4L).count() == 210)
  }

  test("checkpoint + restore: tail re-adds override a snapshot that lacks the file") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir) // v0
    TableVersions.commitDelete(spark, dir, "id >= 60") // v1 drops a file
    TableVersions.checkpoint(spark, dir) // snapshot at v1 (no ids ≥ 60)
    TableVersions.restore(spark, dir, 0L) // v2: tail re-add of the dropped file
    val head = TableVersions.readVersion(spark, dir, 2L)
    assert(head.count() == 80)
    assert(head.filter(col("id") >= 60).count() == 20)
    // and reads AT the checkpoint version still see the post-delete set
    assert(TableVersions.readVersion(spark, dir, 1L).count() == 60)
  }

  test("concurrent writers fail safe: the version claim admits exactly one commit") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppend(fixture(), dir) // v0
    // writer B computes its version BEFORE writer A commits — the
    // check-then-act race the exclusive-create claim arbitrates
    val vB = TableVersions.currentVersion(spark, dir) + 1
    TableVersions.commitAppend(Seq((1000L, "a", "even")).toDF("id", "body", "par"), dir) // A wins v1
    val ex = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.claimVersion(spark, dir, vB)
    }
    assert(ex.getMessage.contains(s"version $vB"))
    // the log is untouched by the loser: v1 is A's commit, head reads clean
    assert(TableVersions.currentVersion(spark, dir) == 1L)
    assert(TableVersions.readVersion(spark, dir, 1L).count() == 81)
    // a committed version's claim is pinned forever
    intercept[IllegalArgumentException] {
      TableVersions.releaseStaleClaim(spark, dir, 1L)
    }
    // crashed-commit recovery: a stranded claim (no log directory)
    // blocks the version until released, then commits proceed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_log/_claims/v2"), false).close()
    intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.commitAppend(Seq((1001L, "b", "odd")).toDF("id", "body", "par"), dir)
    }
    TableVersions.releaseStaleClaim(spark, dir, 2L)
    assert(
      TableVersions.commitAppend(Seq((1001L, "b", "odd")).toDF("id", "body", "par"), dir) == 2L
    )
    assert(TableVersions.readVersion(spark, dir, 2L).count() == 82)
  }

  test("OCC appends step over stranded claims; safeHead and the feed fence the hole") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppend(fixture(), dir) // v0
    // a rival claims v1 and "crashes" before committing
    TableVersions.claimVersion(spark, dir, 1L)
    // the blind append auto-retries past the stranded claim to v2
    val landed = TableVersions.commitAppendRetry(
      Seq((2000L, "occ", "even")).toDF("id", "body", "par"),
      dir
    )
    assert(landed == 2L)
    assert(TableVersions.currentVersion(spark, dir) == 2L)
    // the watermark holds at 0: v1 is claimed but uncommitted below the head
    assert(TableVersions.safeHead(spark, dir) == 0L)
    // a feed window crossing the pending version fails loudly
    val ex = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.changesFeed(spark, dir, 0L, 2L).collect()
    }
    assert(ex.getMessage.contains("version 1"))
    // releasing the crashed claim unblocks both: the hole is provably
    // change-free and the feed skips it
    TableVersions.releaseStaleClaim(spark, dir, 1L)
    assert(TableVersions.safeHead(spark, dir) == 2L)
    val events = TableVersions.changesFeed(spark, dir, 0L, 2L).collect()
    assert(events.length == 1 && events.head.getAs[Long]("id") == 2000L)
    // reads and metadata counts never noticed the hole
    assert(TableVersions.readVersion(spark, dir, 2L).count() == 81)
    assert(TableVersions.countAt(spark, dir, 2L) == 81)
  }

  test("four racing appenders all land exactly once") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppend(fixture(), dir) // v0
    val batches = (0 until 4).map { b =>
      (1000L + b * 100 until 1000L + b * 100 + 10)
        .map(i => (i, s"w$b", "occ"))
        .toDF("id", "body", "par")
        .localCheckpoint()
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val threads = batches.map { b =>
      new Thread(() =>
        try versions.add(TableVersions.commitAppendRetry(b, dir)): Unit
        catch { case t: Throwable => failures.add(t): Unit }
      )
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"racing append failed: ${Option(failures.peek()).map(_.toString)}")
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.toSet == Set(1L, 2L, 3L, 4L), s"versions: ${versions.asScala}")
    assert(TableVersions.safeHead(spark, dir) == 4L)
    val head = TableVersions.readVersion(spark, dir, 4L)
    assert(head.count() == 120)
    assert(head.filter(col("par") === "occ").count() == 40) // no batch lost or doubled
    val hist = TableVersions.history(spark, dir).collect()
    assert(hist.count(_.getString(1) == "append") == 4)
  }

  test("evolved reads resolve their schema from the checkpoint, not per-file footers") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppend(fixture().select("id", "body"), dir) // v0
    TableVersions.commitAppend(
      Seq((900L, "x", 7.5)).toDF("id", "body", "score"),
      dir
    ) // v1 evolves
    TableVersions.checkpoint(spark, dir)
    // sentinel trick: plant a bogus column in the persisted checkpoint
    // schema — if the merged read reports it, the schema came from the
    // checkpoint file and provably NOT from a live-file footer union
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaPath = new org.apache.hadoop.fs.Path(s"$dir/_ckpt/c1/_schema.json")
    val in = fs.open(schemaPath)
    val honest = new String(in.readAllBytes(), "UTF-8")
    in.close()
    val planted = org.apache.spark.sql.types.DataType
      .fromJson(honest)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .add("__ckpt_sentinel", org.apache.spark.sql.types.StringType)
    val out = fs.create(schemaPath, true)
    out.write(planted.json.getBytes("UTF-8"))
    out.close()
    val cols = TableVersions.readVersion(spark, dir, 1L, mergeSchema = true).columns.toSeq
    assert(cols.contains("__ckpt_sentinel"), s"schema not read from checkpoint: $cols")
    // restore the honest schema; evolved reads behave exactly
    val out2 = fs.create(schemaPath, true)
    out2.write(honest.getBytes("UTF-8"))
    out2.close()
    val head = TableVersions.readVersion(spark, dir, 1L, mergeSchema = true)
    assert(head.columns.toSeq == Seq("id", "body", "score"))
    assert(head.filter(col("score").isNull).count() == 80)
    // a SECOND evolution after the checkpoint merges via the tail's
    // footers only (add-column contract)
    TableVersions.commitAppend(Seq((901L, "y", 1.0, true)).toDF("id", "body", "score", "flag"), dir)
    val v2 = TableVersions.readVersion(spark, dir, 2L, mergeSchema = true)
    assert(v2.columns.toSeq == Seq("id", "body", "score", "flag"))
    assert(v2.filter(col("flag")).count() == 1)
    // pre-evolution versions never grow the new columns
    assert(
      TableVersions.readVersion(spark, dir, 0L, mergeSchema = true).columns.toSeq
        == Seq("id", "body")
    )
  }

  test("compactSkipping folds stats/bloom to live-file rows; pruned reads unchanged") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir) // v0
    TableVersions.refreshStats(spark, dir, Seq("id"))
    TableVersions.refreshBloom(spark, dir, Seq("par"))
    // churn: delete/rewrite cycles orphan the original files' rows
    TableVersions.commitDelete(spark, dir, "id % 10 = 3")
    TableVersions.refreshStats(spark, dir, Seq("id"))
    TableVersions.refreshBloom(spark, dir, Seq("par"))
    TableVersions.commitDelete(spark, dir, "id % 10 = 7")
    TableVersions.refreshStats(spark, dir, Seq("id"))
    TableVersions.refreshBloom(spark, dir, Seq("par"))
    val before = spark.read.parquet(s"$dir/_stats").select("file").distinct().count()
    TableVersions.compactSkipping(spark, dir)
    val v = TableVersions.currentVersion(spark, dir)
    TableVersions.checkpoint(spark, dir)
    val liveSet = spark.read
      .parquet(s"$dir/_ckpt/c$v")
      .collect()
      .map(_.getString(0))
      .toSet
    val statFiles =
      spark.read.parquet(s"$dir/_stats").select("file").distinct().collect().map(_.getString(0)).toSet
    val bloomFiles =
      spark.read.parquet(s"$dir/_bloom").select("file").distinct().collect().map(_.getString(0)).toSet
    assert(statFiles.subsetOf(liveSet), s"stats retain dead files: ${statFiles -- liveSet}")
    assert(bloomFiles.subsetOf(liveSet), s"bloom retains dead files: ${bloomFiles -- liveSet}")
    assert(statFiles.size < before, "compaction removed nothing despite churn")
    // pruned reads equal the plain filters, bloom meta survived the swap
    val pruned = TableVersions.readVersionPruned(spark, dir, v, "id", 20, 39).orderBy("id")
    val plain = TableVersions.readVersion(spark, dir, v).filter(col("id").between(20, 39)).orderBy("id")
    assert(pruned.collect().toSeq == plain.collect().toSeq)
    val point = TableVersions.readVersionPoint(spark, dir, v, "par", "even").orderBy("id")
    val plainPoint = TableVersions.readVersion(spark, dir, v).filter(col("par") === "even").orderBy("id")
    assert(point.collect().toSeq == plainPoint.collect().toSeq)
  }

  test("partitioned batches prune at the log level; flat commits stay absence-safe") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val rows = (0L until 90L).map(i => (i, s"doc$i", s"g${i % 3}")).toDF("id", "body", "grp")
    TableVersions.commitAppendPartitioned(rows.filter(col("id") < 60).repartition(2), dir, Seq("grp"))
    val partRead = TableVersions.readVersionByPartition(spark, dir, 0L, "grp", "g1")
    // pruned to the g1 partition directories only
    assert(partRead.inputFiles.forall(_.contains("__p_grp=g1")), partRead.inputFiles.mkString(","))
    assert(partRead.count() == 20)
    // data stays self-contained: the partition column is IN the files
    assert(TableVersions.readVersion(spark, dir, 0L).columns.contains("grp"))
    // a flat append afterwards: partition reads must still see it
    TableVersions.commitAppend(rows.filter(col("id") >= 60), dir)
    val mixed = TableVersions.readVersionByPartition(spark, dir, 1L, "grp", "g1")
    assert(mixed.count() == 30)
    assert(
      mixed.inputFiles.exists(!_.contains("__p_grp=")),
      "flat files must be read (absence-safe)"
    )
    assert(
      mixed.inputFiles.filter(_.contains("__p_grp=")).forall(_.contains("__p_grp=g1")),
      "partitioned files outside g1 must be pruned"
    )
    // deletion vectors apply inside a partition read
    TableVersions.commitDeleteMor(spark, dir, "id % 30 = 1") // ids 1,31,61 are g1
    val afterDv = TableVersions.readVersionByPartition(spark, dir, 2L, "grp", "g1")
    assert(afterDv.count() == 27)
    assert(afterDv.filter(col("id") % 30 === 1).count() == 0)
    // hive-escaped values round-trip through the probe
    val eDir = freshDir()
    TableVersions.commitAppendPartitioned(
      Seq((1L, "a:b"), (2L, "plain")).toDF("id", "k"),
      eDir,
      Seq("k")
    )
    assert(TableVersions.readVersionByPartition(spark, eDir, 0L, "k", "a:b").count() == 1)
  }

  test("refreshBloom indexes NEW columns on files already covered for old ones") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir)
    assert(TableVersions.refreshBloom(spark, dir, Seq("par")) == 4L)
    // file-granular tracking would return 0 here and leave `body`
    // bloom-dead on all four files
    assert(TableVersions.refreshBloom(spark, dir, Seq("par", "body")) == 4L)
    val covered = spark.read
      .parquet(s"$dir/_bloom")
      .filter(col("bit") === -1)
      .select("file", "col")
      .distinct()
      .count()
    assert(covered == 8L, "expected 4 files × 2 columns of marker coverage")
    // the new column actually prunes: every row's body is unique, so a
    // point lookup should touch exactly the one file holding it
    val hit = TableVersions.readVersionPoint(spark, dir, 0L, "body", "doc21")
    assert(hit.count() == 1)
    assert(TableVersions.refreshBloom(spark, dir, Seq("par", "body")) == 0L)
  }

  test("analyzeTable: head semantics, null counts, guards, latest snapshot wins") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val rows = (0L until 300L)
      .map(i => (i, if (i % 5 == 0) null else s"w${i % 7}", i / 2.0))
      .toDF("id", "tag", "score")
    TableVersions.commitAppend(rows.repartition(3), dir)

    // float columns refuse rather than mis-hash; unknown columns refuse
    intercept[IllegalArgumentException] {
      TableVersions.analyzeTable(spark, dir, Seq("score"))
    }
    intercept[IllegalArgumentException] {
      TableVersions.analyzeTable(spark, dir, Seq("nope"))
    }
    // no snapshot yet -> loud error, not an empty frame
    intercept[IllegalArgumentException] { TableVersions.columnStats(spark, dir) }

    assert(TableVersions.analyzeTable(spark, dir, Seq("id", "tag")) == 0L)
    val st0 = TableVersions
      .columnStats(spark, dir)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    assert(st0("id").getLong(1) == 300L && st0("id").getLong(2) == 0L)
    // 300 distinct ids > k=256: estimate branch — unbiased within ~1/sqrt(k)
    assert(st0("id").getLong(3) > 200L && st0("id").getLong(3) < 450L)
    assert(st0("tag").getLong(2) == 60L) // every 5th tag is null
    assert(st0("tag").getLong(3) == 7L) // w0..w6, exact branch (7 < k)
    assert(st0("tag").getAs[Long]("max_len") == 2L)
    assert(st0("id").isNullAt(st0("id").fieldIndex("max_len"))) // ints carry no length stats

    // a CoW delete moves the head; re-ANALYZE sees the head, and
    // columnStats serves the LATEST snapshot
    TableVersions.commitDelete(spark, dir, "id >= 100")
    assert(TableVersions.analyzeTable(spark, dir, Seq("id", "tag")) == 1L)
    val st1 = TableVersions
      .columnStats(spark, dir)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    assert(st1("id").getLong(1) == 100L)
    assert(st1("id").getLong(3) == 100L) // below k: exact branch
    assert(st1("tag").getLong(2) == 20L)
    assert(st1("id").getAs[Long]("stats_version") == 1L)
  }

  test("analyzeTable: an all-NULL column yields zero NDV and empty length stats") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    (0L until 50L)
      .map(i => (i, null.asInstanceOf[String]))
      .toDF("id", "tag")
      .write
      .mode("overwrite")
      .parquet(s"$dir/seed")
    TableVersions.commitAppend(spark.read.parquet(s"$dir/seed"), dir)
    TableVersions.analyzeTable(spark, dir, Seq("tag")): Unit
    val r = TableVersions.columnStats(spark, dir).head()
    assert(r.getLong(r.fieldIndex("n_rows")) == 50L)
    assert(r.getLong(r.fieldIndex("n_nulls")) == 50L)
    assert(r.getLong(r.fieldIndex("ndv_est")) == 0L)
    assert(r.isNullAt(r.fieldIndex("max_len")))
  }

  test("CHECK constraints: NULL passes, refusals strand nothing, drop re-enables") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val rows = (0L until 60L)
      .map(i => (i, if (i % 10 == 0) null else s"v${i % 4}", i % 7))
      .toDF("id", "tag", "x")
    TableVersions.commitAppend(rows, dir)
    TableVersions.addConstraint(spark, dir, "x_small", "x < 7")
    // NULL-evaluating rows PASS (SQL CHECK semantics): tag IS NULL
    // makes length(tag)=2 evaluate to NULL, which must not violate
    TableVersions.addConstraint(spark, dir, "tag_shape", "length(tag) = 2")
    // violating bucketed and partitioned appends refuse too
    intercept[IllegalArgumentException] {
      TableVersions.commitAppendBucketed(
        Seq((100L, "toolong", 1L)).toDF("id", "tag", "x"), dir, "id", 4)
    }
    intercept[IllegalArgumentException] {
      TableVersions.commitAppendPartitioned(
        Seq((100L, "ok", 9L)).toDF("id", "tag", "x"), dir, Seq("tag"))
    }
    // a refused merge leaves the version unchanged and strands no claim
    val v0 = TableVersions.currentVersion(spark, dir)
    intercept[IllegalArgumentException] {
      TableVersions.commitMerge(Seq((1L, "v1", 99L)).toDF("id", "tag", "x"), dir, "id")
    }
    assert(TableVersions.currentVersion(spark, dir) == v0)
    assert(TableVersions.commitAppend(Seq((200L, null.asInstanceOf[String], 3L)).toDF("id", "tag", "x"), dir) == v0 + 1)
    // a refused update releases its claim: the next commit lands
    intercept[IllegalArgumentException] {
      TableVersions.commitUpdate(spark, dir, "id = 200", _.withColumn("x", lit(42L)))
    }
    assert(TableVersions.commitAppend(Seq((201L, "v2", 4L)).toDF("id", "tag", "x"), dir) == v0 + 2)
    // drop re-enables the rejected shape
    TableVersions.dropConstraint(spark, dir, "tag_shape")
    assert(TableVersions.constraintList(spark, dir).map(_._1) == Seq("x_small"))
    TableVersions.commitAppend(Seq((300L, "free-form", 5L)).toDF("id", "tag", "x"), dir): Unit
    intercept[IllegalArgumentException] {
      TableVersions.dropConstraint(spark, dir, "nope")
    }
  }

  test("sweepStagedOrphans removes crashed-commit staging, never the live layout or answers") {
    val dir = freshDir()
    TableVersions.commitAppend(fixture().repartitionByRange(4, col("id")), dir)
    TableVersions.commitDelete(spark, dir, "id < 10")
    val want = TableVersions
      .readVersion(spark, dir, 1)
      .collect()
      .map(_.toString)
      .sorted
      .toSeq
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate crashed checked commits in all three staging roots
    Seq(s"$dir/data/stage-dead1", s"$dir/_cdf/stage-dead2", s"$dir/_dvstage/stage-dead3")
      .foreach(p => fs.mkdirs(new org.apache.hadoop.fs.Path(p)))
    // age guard: a fresh (in-flight-looking) dir survives the default window
    assert(TableVersions.sweepStagedOrphans(spark, dir) == 0, "age guard must protect fresh staging")
    assert(TableVersions.sweepStagedOrphans(spark, dir, olderThanMs = 0L) == 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/stage-dead1")))
    assert(TableVersions.sweepStagedOrphans(spark, dir, olderThanMs = 0L) == 0, "sweep is idempotent")
    val got = TableVersions
      .readVersion(spark, dir, 1)
      .collect()
      .map(_.toString)
      .sorted
      .toSeq
    assert(got == want, "janitor changed an answer")
    // still committable afterwards
    TableVersions.commitDelete(spark, dir, "id = 77")
    assert(TableVersions.readVersion(spark, dir, 2).count() == want.size - 1)
  }
}
