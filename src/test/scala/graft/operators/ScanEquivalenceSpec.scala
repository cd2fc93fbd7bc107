package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the six read variants of [[TableVersions]] against one another
  * on one table that mixes every layout: flat, hive-partitioned,
  * hash-bucketed and `trunc`-transformed commits, a merge-on-read
  * delete on each side of a checkpoint, and stats and bloom refreshes.
  * Each pruned read must return the rows and schema of the full read
  * filtered by its own predicate, an empty cut must keep that schema,
  * and a read below the vacuum horizon must be refused.
  */
class ScanEquivalenceSpec extends AnyFunSuite with SparkSpec {

  private def freshDir() = graft.queries.Similarity.freshIndexDir("scan_spec")

  private def rows(from: Long, until: Long) = {
    val s = spark
    import s.implicits._
    (from until until)
      .map(i => (i, s"doc$i", s"g${i % 3}"))
      .toDF("id", "body", "grp")
  }

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** v0 flat, v1 partitioned on grp, v2 bucketed on id, v3 trunc10 on
    * id, v4 MOR delete, checkpoint at v4, v5 flat, v6 MOR delete; stats
    * and bloom refreshed at v3 and again at v6. */
  private def mixedTable(): String = {
    val dir = freshDir()
    TableVersions.commitAppend(rows(0, 40).repartition(2), dir)
    TableVersions.commitAppendPartitioned(rows(40, 80).repartition(2), dir, Seq("grp"))
    TableVersions.commitAppendBucketed(rows(80, 120), dir, "id", 4)
    TableVersions.commitAppendTransformed(rows(120, 160), dir, "id", "trunc10")
    TableVersions.refreshStats(spark, dir, Seq("id"))
    TableVersions.refreshBloom(spark, dir, Seq("body"))
    TableVersions.commitDeleteMor(spark, dir, "id % 7 = 0")
    TableVersions.checkpoint(spark, dir)
    TableVersions.commitAppend(rows(160, 180).coalesce(1), dir)
    TableVersions.commitDeleteMor(spark, dir, "id % 11 = 0")
    TableVersions.refreshStats(spark, dir, Seq("id"))
    TableVersions.refreshBloom(spark, dir, Seq("body"))
    assert(TableVersions.currentVersion(spark, dir) == 6L)
    dir
  }

  /** Each variant at version v, paired with the predicate it re-applies. */
  private def variants(dir: String, v: Long): Seq[(String, () => DataFrame, DataFrame => Column)] =
    Seq(
      ("readVersion(mergeSchema)", () => TableVersions.readVersion(spark, dir, v, mergeSchema = true),
        _ => lit(true)),
      ("byPartition", () => TableVersions.readVersionByPartition(spark, dir, v, "grp", "g1"),
        _ => col("grp").cast("string") === lit("g1")),
      ("byBucket", () => TableVersions.readVersionByBucket(spark, dir, v, "id", 93L),
        _ => col("id") === lit(93L)),
      ("transformPruned", () => TableVersions.readVersionTransformPruned(spark, dir, v, "id", "95", "134"),
        df => col("id") >= lit("95").cast(df.schema("id").dataType) &&
          col("id") <= lit("134").cast(df.schema("id").dataType)),
      ("pruned", () => TableVersions.readVersionPruned(spark, dir, v, "id", 30d, 125d),
        _ => col("id") >= 30d && col("id") <= 125d),
      ("point", () => TableVersions.readVersionPoint(spark, dir, v, "body", "doc101"),
        _ => col("body").cast("string") === lit("doc101"))
    )

  test("every read variant equals the full read under its own predicate, at the head and older versions") {
    val dir = mixedTable()
    Seq(6L, 4L, 3L).foreach { v =>
      val full = TableVersions.readVersion(spark, dir, v)
      variants(dir, v).foreach { case (name, read, pred) =>
        val got = read()
        val want = full.filter(pred(full))
        assert(got.schema == want.schema, s"$name at v$v: schema ${got.schema} != ${want.schema}")
        val (g, w) = (sorted(got), sorted(want))
        assert(g == w, s"$name at v$v: rows differ")
        assert(name.startsWith("readVersion") || (g.nonEmpty && g.size < sorted(full).size),
          s"$name at v$v: probe should select some but not all rows")
      }
    }
    // the DV-deleted rows stay gone on every path
    assert(TableVersions.readVersionByBucket(spark, dir, 6L, "id", 88L).count() == 0)
    assert(TableVersions.readVersionPoint(spark, dir, 6L, "body", "doc99").count() == 0)
    assert(TableVersions.readVersionPoint(spark, dir, 3L, "body", "doc99").count() == 1)
  }

  test("an empty cut returns zero rows with the full read's schema") {
    val dir = mixedTable()
    val schema = TableVersions.readVersion(spark, dir, 6L).schema
    def empty(name: String, df: DataFrame, want: org.apache.spark.sql.types.StructType): Unit = {
      assert(df.schema == want, s"$name: schema ${df.schema} != $want")
      assert(df.count() == 0, s"$name: rows on an empty cut")
    }
    empty("pruned", TableVersions.readVersionPruned(spark, dir, 6L, "id", 5000d, 6000d), schema)
    empty("point", TableVersions.readVersionPoint(spark, dir, 6L, "body", "absent"), schema)

    // single-layout tables: no flat file survives every cut
    val pDir = freshDir()
    TableVersions.commitAppendPartitioned(rows(0, 30), pDir, Seq("grp"))
    empty("byPartition", TableVersions.readVersionByPartition(spark, pDir, 0L, "grp", "g9"),
      TableVersions.readVersion(spark, pDir, 0L).schema)

    val bDir = freshDir()
    TableVersions.commitAppendBucketed(rows(0, 2), bDir, "id", 64)
    val bucketOf = spark
      .range(0, 2000)
      .select(col("id"), pmod(hash(col("id")), lit(64)).as("b"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    val used = Set(bucketOf(0L), bucketOf(1L))
    val miss = (100L until 2000L).find(p => !used(bucketOf(p))).get
    empty("byBucket", TableVersions.readVersionByBucket(spark, bDir, 0L, "id", miss),
      TableVersions.readVersion(spark, bDir, 0L).schema)

    val tDir = freshDir()
    TableVersions.commitAppendTransformed(rows(0, 40), tDir, "id", "trunc10")
    empty("transformPruned", TableVersions.readVersionTransformPruned(spark, tDir, 0L, "id", "500", "600"),
      TableVersions.readVersion(spark, tDir, 0L).schema)
  }

  test("every read variant refuses a version below the vacuum horizon") {
    val dir = mixedTable()
    TableVersions.vacuum(spark, dir, keepFrom = 4L)
    (variants(dir, 3L) :+ (("readVersion", () => TableVersions.readVersion(spark, dir, 3L),
      (_: DataFrame) => lit(true)))).foreach { case (name, read, _) =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("was vacuumed"), s"$name: ${e.getMessage}")
    }
    assert(TableVersions.readVersionPoint(spark, dir, 4L, "body", "doc101").count() == 1)
  }

  test("a merged-schema read at a checkpointed version takes the checkpoint's file list from the snapshot") {
    val dir = mixedTable()
    TableVersions.checkpoint(spark, dir)
    val plain = jobsOf(TableVersions.readVersion(spark, dir, 6L): Unit)
    val merged = jobsOf(TableVersions.readVersion(spark, dir, 6L, mergeSchema = true): Unit)
    // the plain read infers its schema from a footer (one job); the
    // merged read imposes the checkpoint's persisted schema (none)
    assert(merged == plain - 1, s"merged-schema read ran $merged jobs, plain read $plain")
  }

  test("a point read and a pruned read plan with as many Spark jobs as a plain read") {
    val dir = freshDir()
    (0 until 4).foreach(f => TableVersions.commitAppend(rows(f * 40L, f * 40L + 40L).coalesce(1), dir))
    TableVersions.refreshStats(spark, dir, Seq("id"))
    TableVersions.refreshBloom(spark, dir, Seq("body"))
    val plain = jobSitesOf(TableVersions.readVersion(spark, dir, 3L): Unit)
    val point = jobSitesOf(TableVersions.readVersionPoint(spark, dir, 3L, "body", "doc45"): Unit)
    val pruned = jobSitesOf(TableVersions.readVersionPruned(spark, dir, 3L, "id", 50.0, 60.0): Unit)
    // the stats and bloom probes read their tables on the driver
    assert(point.total == plain.total, s"point read: $point\nplain read: $plain")
    assert(pruned.total == plain.total, s"pruned read: $pruned\nplain read: $plain")
    assert(TableVersions.readVersionPoint(spark, dir, 3L, "body", "doc45").count() == 1)
    assert(TableVersions.readVersionPruned(spark, dir, 3L, "id", 50.0, 60.0).count() == 11)
  }
}
