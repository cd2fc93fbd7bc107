package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the conflict-checked rewrite protocol (q254's oracle restates
  * the happy path only): two interleaved copy-on-write writers on
  * DISJOINT data both land without manual retry (the rebase), every
  * genuine overlap — hit-file removal, matching rival adds, a rival
  * deletion vector on a hit file, an in-flight rival that never
  * commits — fails safe with the staging discarded and the table
  * byte-identical, and the rebased history equals serial execution.
  */
class ConflictCheckSpec extends AnyFunSuite with SparkSpec {

  private def fresh(tag: String) = graft.queries.Similarity.freshIndexDir(tag)

  /** Two files: keys 0-49 land in one, 50-99 in the other — so
    * predicates under 50 and at-or-over 90 resolve DISJOINT hit sets
    * while two under-50 predicates resolve the SAME file. */
  private def twoFileTable(): String = {
    val s = spark
    import s.implicits._
    val dir = fresh("ccs")
    TableVersions.commitAppend(
      (0L until 50L).map(i => (i, s"low$i")).toDF("k", "payload").coalesce(1),
      dir
    )
    TableVersions.commitAppend(
      (50L until 100L).map(i => (i, s"high$i")).toDF("k", "payload").coalesce(1),
      dir
    )
    dir
  }

  private def keysAtHead(dir: String): Set[Long] =
    TableVersions
      .readVersion(spark, dir, TableVersions.currentVersion(spark, dir))
      .select("k")
      .collect()
      .map(_.getLong(0))
      .toSet

  test("disjoint interleaved CoW deletes both land without manual retry") {
    val dir = twoFileTable()
    // writer A resolves+stages its delete of the high file, then —
    // in the window before A claims — writer B deletes from the low
    // file and commits. A must validate B as disjoint and rebase.
    val v = TableVersions.rewriteCow(
      spark,
      dir,
      TableVersions.Where("k >= 90"),
      None,
      beforeClaim = () => { TableVersions.commitDelete(spark, dir, "k < 10"): Unit }
    )
    assert(v == 3L) // B took v2; A rebased onto v3
    assert(keysAtHead(dir) == (10L until 90L).toSet)
    // the rebased history equals serial execution: every version reads
    assert(TableVersions.readVersion(spark, dir, 2L).count() == 90L)
    // and A's change feed landed under its rebased version
    val cdf = TableVersions.changesFeed(spark, dir, 2L, 3L)
    assert(cdf.filter(col("_change_type") === "delete").count() == 10L)
  }

  test("a rival removing a hit file fails safe; staging discarded; table unchanged") {
    val dir = twoFileTable()
    val before = keysAtHead(dir)
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.rewriteCow(
        spark,
        dir,
        TableVersions.Where("k < 50"),
        None,
        beforeClaim = () => { TableVersions.commitDelete(spark, dir, "k < 5"): Unit }
      )
    }
    assert(e.getMessage.contains("removed files"), e.getMessage)
    // the rival's delete holds; ours left no trace
    assert(keysAtHead(dir) == before -- (0L until 5L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName)
      .filter(_.startsWith("stage-"))
    assert(stray.isEmpty, stray.mkString(","))
    // and the version the loser claimed is reusable (claim released)
    TableVersions.commitAppend(
      { val s = spark; import s.implicits._; Seq((500L, "new")).toDF("k", "payload") },
      dir
    )
    assert(keysAtHead(dir).contains(500L))
  }

  test("a rival APPEND with matching rows conflicts; with missing rows it rebases") {
    val s = spark
    import s.implicits._
    // matching rival rows: the staged delete missed them -> fail safe
    val dir1 = twoFileTable()
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.rewriteCow(
        spark,
        dir1,
        TableVersions.Where("k between 90 and 99"),
        None,
        beforeClaim =
          () => { TableVersions.commitAppend(Seq((95L, "late")).toDF("k", "payload"), dir1): Unit }
      )
    }
    assert(e.getMessage.contains("matching"), e.getMessage)
    // non-matching rival rows commute -> rebase
    val dir2 = twoFileTable()
    val v = TableVersions.rewriteCow(
      spark,
      dir2,
      TableVersions.Where("k between 90 and 99"),
      None,
      beforeClaim =
        () => { TableVersions.commitAppend(Seq((200L, "late")).toDF("k", "payload"), dir2): Unit }
    )
    assert(v == 3L)
    assert(keysAtHead(dir2) == (0L until 90L).toSet + 200L)
  }

  test("a rival deletion vector targeting a hit file conflicts; on the other file it rebases") {
    val dir = twoFileTable()
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.rewriteCow(
        spark,
        dir,
        TableVersions.Where("k < 50"),
        None,
        beforeClaim = () => { TableVersions.commitDeleteMor(spark, dir, "k = 7"): Unit }
      )
    }
    assert(e.getMessage.contains("deletion vector"), e.getMessage)
    val dir2 = twoFileTable()
    val v = TableVersions.rewriteCow(
      spark,
      dir2,
      TableVersions.Where("k < 50"),
      None,
      beforeClaim = () => { TableVersions.commitDeleteMor(spark, dir2, "k = 77"): Unit }
    )
    assert(v == 3L)
    assert(keysAtHead(dir2) == ((50L until 100L).toSet - 77L))
  }

  test("an in-flight rival that never commits fails safe after the poll window") {
    val dir = twoFileTable()
    val before = keysAtHead(dir)
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.rewriteCow(
        spark,
        dir,
        TableVersions.Where("k >= 90"),
        None,
        rivalLogPollMs = 300L,
        // a rival claims the next version and crashes before its log
        beforeClaim = () => TableVersions.claimVersion(spark, dir, 2L)
      )
    }
    assert(e.getMessage.contains("never committed"), e.getMessage)
    assert(keysAtHead(dir) == before)
    // recovery path: release the stranded claim, re-run, lands clean
    TableVersions.releaseStaleClaim(spark, dir, 2L)
    assert(TableVersions.commitDelete(spark, dir, "k >= 90") == 2L)
    assert(keysAtHead(dir) == (0L until 90L).toSet)
  }

  test("checked MERGE rebases past disjoint rivals; a rival add with a merged key fails safe") {
    val s = spark
    import s.implicits._
    val dir = twoFileTable()
    // rebase: the rival deletes low keys; the merge upserts high keys
    val src = Seq((95L, "updated95"), (200L, "fresh200")).toDF("k", "payload")
    val v = TableVersions.mergeUpsert(
      src,
      dir,
      "k",
      beforeClaim = () => { TableVersions.commitDelete(spark, dir, "k < 5"): Unit }
    )
    assert(v == 3L)
    val head = keysAtHead(dir)
    assert(head == ((5L until 100L).toSet + 200L))
    assert(
      TableVersions
        .readVersion(spark, dir, 3L)
        .filter(col("k") === 95L)
        .head()
        .getString(1) == "updated95"
    )
    // fail safe: a rival append lands a row with a key the merge replaces
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.mergeUpsert(
        Seq((300L, "x"), (42L, "y")).toDF("k", "payload"),
        dir,
        "k",
        beforeClaim =
          () => { TableVersions.commitAppend(Seq((42L, "rival")).toDF("k", "payload"), dir): Unit }
      )
    }
    assert(e.getMessage.contains("keys this merge replaces"), e.getMessage)
  }

  test("checked OPTIMIZE rebases past appends; a rival removing an input fails safe") {
    val s = spark
    import s.implicits._
    val dir = twoFileTable()
    val v = TableVersions.packSmallFiles(
      s,
      dir,
      smallBytes = 128L * 1024 * 1024,
      targetBytes = 128L * 1024 * 1024,
      beforeClaim =
        () => { TableVersions.commitAppend(Seq((500L, "late")).toDF("k", "payload"), dir): Unit }
    )
    assert(v == 3L)
    assert(keysAtHead(dir) == (0L until 100L).toSet + 500L)
    // the packed commit is a logical no-op: CDC across it is empty
    assert(TableVersions.changesFeed(s, dir, 2L, 3L).isEmpty)
    val dir2 = twoFileTable()
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.packSmallFiles(
        s,
        dir2,
        smallBytes = 128L * 1024 * 1024,
        targetBytes = 128L * 1024 * 1024,
        beforeClaim = () => { TableVersions.commitDelete(s, dir2, "k = 7"): Unit }
      )
    }
    assert(e.getMessage.contains("removed files"), e.getMessage)
    assert(keysAtHead(dir2) == (0L until 100L).toSet - 7L)
  }

  test("checked UPDATE rebases past a disjoint rival and enforces constraints") {
    val s = spark
    import s.implicits._
    val dir = twoFileTable()
    TableVersions.addConstraint(spark, dir, "k_nonneg", "k >= 0")
    val v = TableVersions.rewriteCow(
      spark,
      dir,
      TableVersions.Where("k >= 95"),
      Some(df => df.withColumn("payload", concat(col("payload"), lit("!")))),
      beforeClaim = () => { TableVersions.commitDelete(spark, dir, "k < 3"): Unit }
    )
    assert(v == 3L)
    val head = TableVersions.readVersion(spark, dir, 3L)
    assert(head.filter(col("payload").endsWith("!")).count() == 5L)
    assert(head.count() == 97L)
    // a violating update refuses at compute time, before any claim
    intercept[IllegalArgumentException] {
      TableVersions.commitUpdate(
        spark,
        dir,
        "k = 50",
        df => df.withColumn("k", lit(-1L))
      )
    }
    assert(TableVersions.currentVersion(spark, dir) == 3L)
  }

  test("two writers DV-deleting DIFFERENT files both land; the SAME file fails safe") {
    // rebase: A stages its DV on the high file; B MOR-deletes from the
    // low file and commits in A's claim window. Disjoint target files
    // commute — both masks apply at the head.
    val dir = twoFileTable()
    val v = TableVersions.deleteMor(
      spark,
      dir,
      TableVersions.Where("k >= 90"),
      beforeClaim = () => { TableVersions.commitDeleteMor(spark, dir, "k < 10"): Unit }
    )
    assert(v == 3L) // B took v2; A's DV rebased onto v3
    assert(keysAtHead(dir) == (10L until 90L).toSet)
    // both change feeds landed under their own versions
    assert(TableVersions.changesFeed(spark, dir, 1L, 2L).count() == 10L)
    assert(TableVersions.changesFeed(spark, dir, 2L, 3L).count() == 10L)
    // fail safe: a rival DV on the SAME file could double-report rows
    // this writer's matched-set already counted
    val dir2 = twoFileTable()
    val before = keysAtHead(dir2)
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.deleteMor(
        spark,
        dir2,
        TableVersions.Where("k < 50"),
        beforeClaim = () => { TableVersions.commitDeleteMor(spark, dir2, "k = 7"): Unit }
      )
    }
    assert(e.getMessage.contains("deletion vector"), e.getMessage)
    assert(keysAtHead(dir2) == before - 7L) // the rival holds; ours left no trace
  }

  test("a MOR delete fails safe when a rival REWRITES a targeted file, rebases past appends") {
    val s = spark
    import s.implicits._
    // a CoW rival rewrote the low file: the staged positions anchor to
    // a dead file and would silently miss the rewritten rows
    val dir = twoFileTable()
    val e = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.deleteMor(
        spark,
        dir,
        TableVersions.Where("k < 50"),
        beforeClaim = () => { TableVersions.commitDelete(spark, dir, "k < 5"): Unit }
      )
    }
    assert(e.getMessage.contains("removed files"), e.getMessage)
    assert(keysAtHead(dir) == (5L until 100L).toSet)
    // no stray DV staging left behind
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageRoot = new org.apache.hadoop.fs.Path(s"$dir/_dvstage")
    val stray =
      if (!fs.exists(stageRoot)) Array.empty[String]
      else fs.listStatus(stageRoot).map(_.getPath.getName)
    assert(stray.isEmpty, stray.mkString(","))
    // a rival APPEND with rows matching the predicate fails safe; with
    // non-matching rows the DV rebases
    val dir2 = twoFileTable()
    val e2 = intercept[TableVersions.ConcurrentCommitException] {
      TableVersions.deleteMor(
        spark,
        dir2,
        TableVersions.Where("k between 90 and 99"),
        beforeClaim =
          () => { TableVersions.commitAppend(Seq((95L, "late")).toDF("k", "payload"), dir2): Unit }
      )
    }
    assert(e2.getMessage.contains("matching"), e2.getMessage)
    val dir3 = twoFileTable()
    val v = TableVersions.deleteMor(
      spark,
      dir3,
      TableVersions.Where("k between 90 and 99"),
      beforeClaim =
        () => { TableVersions.commitAppend(Seq((200L, "late")).toDF("k", "payload"), dir3): Unit }
    )
    assert(v == 3L)
    assert(keysAtHead(dir3) == (0L until 90L).toSet + 200L)
    // the rebased DV applies at the head AND time travel below it is
    // unaffected (applicability anchors on the committed version)
    assert(TableVersions.readVersion(spark, dir3, 2L).count() == 101L)
    // compaction folds the rebased DV away with identical answers
    TableVersions.compactMor(spark, dir3)
    assert(keysAtHead(dir3) == (0L until 90L).toSet + 200L)
  }

  private def stagingLeft(dir: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(s"$dir/data", s"$dir/_cdf", s"$dir/_dvstage")
      .map(new org.apache.hadoop.fs.Path(_))
      .filter(fs.exists)
      .flatMap(fs.listStatus(_).map(_.getPath.getName))
      .filter(_.startsWith("stage-"))
  }

  test("a rewrite whose compute fails at run time leaves the table at its head and writable") {
    val failing: Seq[(String, String => Unit)] = Seq(
      "CoW delete with a throwing predicate" -> { dir =>
        TableVersions.commitDelete(spark, dir, "if(k = 7, raise_error('boom'), k < 3)"): Unit
      },
      "CoW update with a throwing transform" -> { dir =>
        TableVersions.commitUpdate(
          spark,
          dir,
          "k >= 90",
          _.withColumn("payload", expr("if(k = 95, raise_error('boom'), payload)"))
        ): Unit
      },
      "MOR delete with a throwing predicate" -> { dir =>
        TableVersions.commitDeleteMor(spark, dir, "if(k = 7, raise_error('boom'), k < 3)"): Unit
      }
    )
    failing.foreach { case (what, commit) =>
      val dir = twoFileTable()
      val p = TableVersions.currentVersion(spark, dir)
      val before = TableVersions.readVersion(spark, dir, p).orderBy("k").collect().toSeq
      val e = intercept[Exception](commit(dir))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("boom")), s"$what: $e")
      assert(TableVersions.currentVersion(spark, dir) == p, what)
      assert(TableVersions.readVersion(spark, dir, p).orderBy("k").collect().toSeq == before, what)
      // the failed commit discarded its own staging: nothing for the janitor
      assert(stagingLeft(dir).isEmpty, s"$what: ${stagingLeft(dir)}")
      assert(TableVersions.sweepStagedOrphans(spark, dir, 0L) == 0, what)
      // and the next writer lands at p + 1 with no releaseStaleClaim
      assert(TableVersions.commitDelete(spark, dir, "k = 0") == p + 1, what)
      assert(keysAtHead(dir) == (1L until 100L).toSet, what)
    }
  }

  test("key-set deletes (CoW and MOR) rebase past a rival on the other file") {
    val s = spark
    import s.implicits._
    val cow = twoFileTable()
    val v = TableVersions.withKeySet(Seq(95L, 96L, 96L).toDF("k"), "k") { m =>
      TableVersions.rewriteCow(
        spark,
        cow,
        m,
        None,
        beforeClaim = () => { TableVersions.commitDelete(spark, cow, "k < 5"): Unit }
      )
    }
    assert(v == 3L)
    assert(keysAtHead(cow) == (5L until 100L).toSet -- Set(95L, 96L))
    assert(TableVersions.changesFeed(spark, cow, 2L, 3L).count() == 2L)
    val mor = twoFileTable()
    val vm = TableVersions.withKeySet(Seq(95L, 96L).toDF("k"), "k") { m =>
      TableVersions.deleteMor(
        spark,
        mor,
        m,
        beforeClaim = () => { TableVersions.commitDeleteMor(spark, mor, "k < 5"): Unit }
      )
    }
    assert(vm == 3L)
    assert(keysAtHead(mor) == (5L until 100L).toSet -- Set(95L, 96L))
    // the rebased DV anchors at its committed version: time travel to
    // the rival's version still sees both keys
    assert(TableVersions.readVersion(spark, mor, 2L).filter(col("k") >= 95L).count() == 5L)
  }

  test("key-set deletes (CoW and MOR) fail safe when a rival adds a deleted key") {
    val s = spark
    import s.implicits._
    Seq("cow", "mor").foreach { kind =>
      val dir = twoFileTable()
      val rival = () => {
        TableVersions.commitAppend(Seq((95L, "late")).toDF("k", "payload"), dir): Unit
      }
      val e = intercept[TableVersions.ConcurrentCommitException] {
        TableVersions.withKeySet(Seq(95L, 96L).toDF("k"), "k") { m =>
          if (kind == "cow") TableVersions.rewriteCow(spark, dir, m, None, beforeClaim = rival)
          else TableVersions.deleteMor(spark, dir, m, beforeClaim = rival)
        }
      }
      assert(e.getMessage.contains("keys this"), s"$kind: ${e.getMessage}")
      // the rival holds, ours left no trace: both keys still live, the
      // rival's row included, and no staging or DV of ours remains
      assert(TableVersions.currentVersion(spark, dir) == 2L, kind)
      val head = TableVersions.readVersion(spark, dir, 2L)
      assert(head.count() == 101L, kind)
      assert(head.filter(col("k") === 95L).count() == 2L, kind)
      assert(stagingLeft(dir).isEmpty, s"$kind: ${stagingLeft(dir)}")
      // the claim was released: the next writer takes v3
      assert(TableVersions.commitDeleteKeys(Seq(95L).toDF("k"), dir, "k") == 3L, kind)
      assert(!keysAtHead(dir).contains(95L), kind)
    }
  }
}
