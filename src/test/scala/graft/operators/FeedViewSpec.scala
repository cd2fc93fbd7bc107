package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the feed-driven incremental aggregate view (FeedView): the
  * view equals the direct head aggregate at EVERY sync point, groups
  * retracted to zero disappear from reads (tombstone rows filtered),
  * the cursor advances atomically with the deltas (one merge commit
  * per sync), and a sync against an unmoved source is a no-op.
  */
class FeedViewSpec extends AnyFunSuite with SparkSpec {

  private def fresh(p: String) = graft.queries.Similarity.freshIndexDir(p)

  private def direct(dir: String) = {
    val v = TableVersions.currentVersion(spark, dir)
    TableVersions
      .readVersion(spark, dir, v)
      .groupBy(col("par").cast("string").as("k"))
      .agg(count(lit(1)).as("n_rows"), sum(col("x").cast("long")).as("sum_val"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
  }

  private def viewSet(viewDir: String) =
    FeedView
      .read(spark, viewDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("view tracks the source through appends, both delete paths, updates, and merges") {
    val s = spark
    import s.implicits._
    val src = fresh("fv_src")
    val view = fresh("fv_view")
    val base = (0L until 90L)
      .map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", i * 10))
      .toDF("id", "par", "x")
    TableVersions.commitAppend(base.repartitionByRange(4, col("id")), src) // v0
    assert(FeedView.init(spark, src, view, "par", "x") == 0L)
    assert(viewSet(view) == direct(src))
    assert(FeedView.cursor(spark, view) == 0L)

    // window 1: append + CoW delete
    TableVersions.commitAppend(
      (100L until 120L).map(i => (i, "d", i)).toDF("id", "par", "x"),
      src
    ) // v1
    TableVersions.commitDelete(spark, src, "id % 10 = 3") // v2
    val viewV1 = TableVersions.currentVersion(spark, view)
    assert(FeedView.sync(spark, src, view, "par", "x") == 2L)
    // ONE merge commit carried both the deltas and the cursor
    assert(TableVersions.currentVersion(spark, view) == viewV1 + 1)
    assert(FeedView.cursor(spark, view) == 2L)
    assert(viewSet(view) == direct(src))

    // window 2: update that MOVES mass between groups + a MOR delete
    TableVersions.commitUpdate(
      spark,
      src,
      "par = 'b' AND id < 20",
      _.withColumn("par", lit("c")).withColumn("x", col("x") + 5)
    ) // v3
    TableVersions.commitDeleteMor(spark, src, "id % 9 = 4") // v4
    assert(FeedView.sync(spark, src, view, "par", "x") == 4L)
    assert(viewSet(view) == direct(src))

    // no-op sync: source unmoved — no new view version, same cursor
    val vBefore = TableVersions.currentVersion(spark, view)
    assert(FeedView.sync(spark, src, view, "par", "x") == 4L)
    assert(TableVersions.currentVersion(spark, view) == vBefore)

    // logical no-op commits contribute nothing but still advance the cursor
    TableVersions.optimize(spark, src, smallBytes = 1L << 30, targetBytes = 1L << 30) // v5
    assert(FeedView.sync(spark, src, view, "par", "x") == 5L)
    assert(viewSet(view) == direct(src))
  }

  test("a sync runs a pinned number of Spark jobs") {
    val s = spark
    import s.implicits._
    val src = fresh("fv_jobs_src")
    val view = fresh("fv_jobs_view")
    val base = (0L until 90L).map(i => (i, s"g${i % 6}", i)).toDF("id", "par", "x")
    TableVersions.commitAppend(base.repartitionByRange(3, col("id")), src) // v0
    FeedView.init(spark, src, view, "par", "x")
    TableVersions.commitAppend((100L until 110L).map(i => (i, "g7", i)).toDF("id", "par", "x"), src) // v1
    TableVersions.commitMerge(Seq((5L, "g2", 50L), (200L, "g1", 1L)).toDF("id", "par", "x"), src, "id") // v2
    TableVersions.commitDelete(spark, src, "id < 3") // v3
    val jobs = jobSitesOf(FeedView.sync(spark, src, view, "par", "x"): Unit)
    // 20 jobs (28 when the merge commit wrote its change feed through
    // three semi/anti joins and read its hit files with a second schema
    // inference)
    assert(jobs.total == 20, jobs.toString)
    assert(viewSet(view) == direct(src))
  }

  test("a group retracted to zero vanishes from reads and can come back") {
    val s = spark
    import s.implicits._
    val src = fresh("fv_src_zero")
    val view = fresh("fv_view_zero")
    val base =
      (0L until 30L).map(i => (i, if (i < 10) "gone" else "kept", 1L)).toDF("id", "par", "x")
    TableVersions.commitAppend(base, src) // v0
    FeedView.init(spark, src, view, "par", "x")
    TableVersions.commitDelete(spark, src, "par = 'gone'") // v1
    FeedView.sync(spark, src, view, "par", "x")
    assert(viewSet(view).map(_._1) == Set("kept"))
    // the tombstone row is still in the STATE table (merge can't delete)
    val state = TableVersions
      .readVersion(spark, view, TableVersions.currentVersion(spark, view))
      .filter(col("k") === "gone")
      .collect()
    assert(state.length == 1 && state.head.getAs[Long]("n_rows") == 0L)
    // resurrection: new rows in the group fold back on top of the tombstone
    TableVersions.commitAppend(Seq((200L, "gone", 7L)).toDF("id", "par", "x"), src) // v2
    FeedView.sync(spark, src, view, "par", "x")
    assert(viewSet(view) == direct(src))
  }
}
