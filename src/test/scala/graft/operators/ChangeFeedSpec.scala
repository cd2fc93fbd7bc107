package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the change-data feed (changesFeed): replaying the O(changes)
  * event stream onto the old version reproduces the new one exactly,
  * each single-version window agrees with the reference full diff
  * (changes()), logical no-ops contribute nothing, and a restore in
  * the window fails loudly.
  */
class ChangeFeedSpec extends AnyFunSuite with SparkSpec {

  private def freshDir() = graft.queries.Similarity.freshIndexDir("cdf_spec")

  test("feed replay reproduces the head; windows agree with the reference diff") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val base = (0L until 80L)
      .map(i => (i, s"doc$i", if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "body", "par")
    TableVersions.commitAppend(base.repartitionByRange(4, col("id")), dir) // v0
    TableVersions.commitAppend(
      (100L until 120L).map(i => (i, s"doc$i", "late")).toDF("id", "body", "par"),
      dir
    ) // v1
    TableVersions.commitDelete(spark, dir, "id % 10 = 3") // v2
    TableVersions.commitUpdate(spark, dir, "id < 15", _.withColumn("body", lit("upd"))) // v3
    TableVersions.commitMerge(
      Seq((110L, "merged", "late"), (500L, "new", "brand")).toDF("id", "body", "par"),
      dir,
      "id"
    ) // v4
    TableVersions.commitDeleteMor(spark, dir, "id % 9 = 4") // v5
    val v6 = TableVersions.optimize(spark, dir, smallBytes = 1L << 30, targetBytes = 1L << 30)
    assert(v6 == 6L)

    // 1) replay (0, 6] onto v0 == readVersion(6)
    val events = TableVersions
      .changesFeed(spark, dir, 0L, 6L)
      .collect()
      .groupBy(_.getAs[Long]("_commit_version"))
    var state = TableVersions
      .readVersion(spark, dir, 0L)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    events.keys.toSeq.sorted.foreach { w =>
      val evs = events(w)
      val deleted = evs
        .filter(e => Set("delete", "update_preimage")(e.getAs[String]("_change_type")))
        .map(_.getAs[Long]("id"))
      state = state -- deleted
      evs
        .filter(e => Set("insert", "update_postimage")(e.getAs[String]("_change_type")))
        .foreach(e =>
          state += e.getAs[Long]("id") -> (e.getAs[String]("body"), e.getAs[String]("par"))
        )
    }
    val head = TableVersions
      .readVersion(spark, dir, 6L)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(state == head, "feed replay diverged from the head")

    // 2) single-version windows agree with the reference diff
    Seq(2L, 3L, 4L, 5L).foreach { w =>
      val ref = TableVersions
        .changes(spark, dir, "id", w - 1, w)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSet
      val feed = TableVersions.changesFeed(spark, dir, w - 1, w).collect()
      val feedTyped = feed.map(e => (e.getAs[Long]("id"), e.getAs[String]("_change_type")))
      val got: Set[(Long, String)] =
        feedTyped.collect { case (id, "delete") => (id, "delete") }.toSet ++
          feedTyped.collect { case (id, "insert") => (id, "insert") }.toSet ++
          feedTyped.collect { case (id, "update_postimage") => (id, "update") }.toSet
      assert(got == ref, s"feed window ($w) disagrees with changes(): $got vs $ref")
    }

    // 3) the optimize version contributes no events
    assert(!events.contains(6L))

    // 4) a restore in the window is refused
    TableVersions.restore(spark, dir, 2L) // v7
    intercept[IllegalArgumentException] {
      TableVersions.changesFeed(spark, dir, 0L, 7L).collect()
    }
    // windows strictly before the restore still work
    assert(TableVersions.changesFeed(spark, dir, 0L, 6L).count() > 0)
  }

  test("vacuum prunes feed segments below the horizon; stale windows fail loudly") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val base = (0L until 60L).map(i => (i, s"doc$i", "p")).toDF("id", "body", "par")
    TableVersions.commitAppend(base.repartitionByRange(3, col("id")), dir) // v0
    TableVersions.commitDelete(spark, dir, "id % 10 = 3") // v1 (writes _cdf/v1)
    TableVersions.commitUpdate(spark, dir, "id < 5", _.withColumn("body", lit("u"))) // v2
    TableVersions.commitDelete(spark, dir, "id % 10 = 7") // v3
    val cdf = new java.io.File(s"$dir/_cdf")
    assert(cdf.list().toSet == Set("v1", "v2", "v3"))
    TableVersions.vacuum(spark, dir, 2L)
    // segments at or below the horizon are gone; newer ones retained
    assert(cdf.list().toSet == Set("v3"))
    // a window anchored below the horizon fails loudly — a missing
    // segment must never read as a no-op commit
    val ex = intercept[IllegalArgumentException] {
      TableVersions.changesFeed(spark, dir, 0L, 3L)
    }
    assert(ex.getMessage.contains("horizon"))
    // windows anchored at the horizon still serve
    val events = TableVersions.changesFeed(spark, dir, 2L, 3L).collect()
    assert(events.length == 6 && events.forall(_.getAs[String]("_change_type") == "delete"))
  }

  /** Commit `source` as a merge on `id` into `dir` and check the
    * version's feed: its events agree with changes(), and replaying
    * them onto the version before reproduces the head row for row
    * (rows as a multiset, since the target may repeat a key). Returns
    * the events as (id, change type). */
  private def mergeFeed(dir: String, source: DataFrame): Seq[(Option[Long], String)] = {
    val cols = Seq("id", "body", "par")
    def tuple(r: Row) = cols.map(c => r.get(r.fieldIndex(c)))
    def bag(rows: Seq[Seq[Any]]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val prev = TableVersions.currentVersion(spark, dir)
    val v = TableVersions.commitMerge(source, dir, "id")
    val feed = TableVersions.changesFeed(spark, dir, prev, v).collect().toSeq
    val events = feed.map(e => (Option(e.getAs[java.lang.Long]("id")).map(_.longValue), e.getAs[String]("_change_type")))

    // changes() pairs versions by a full outer join on the key: a NULL
    // key pairs with nothing there, so NULL-key rows are compared by
    // the replay alone
    val ref = TableVersions
      .changes(spark, dir, "id", prev, v)
      .filter(col("id").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    val got = events.collect {
      case (Some(id), "insert")           => (id, "insert")
      case (Some(id), "update_postimage") => (id, "update")
      case (Some(id), "delete")           => (id, "delete")
    }.toSet
    assert(got == ref, s"merge feed disagrees with changes(): $got vs $ref")

    val retracted = bag(feed.filter(e => Set("delete", "update_preimage")(e.getAs[String]("_change_type"))).map(tuple))
    val added = feed.filter(e => Set("insert", "update_postimage")(e.getAs[String]("_change_type"))).map(tuple)
    val before = bag(TableVersions.readVersion(spark, dir, prev).collect().toSeq.map(tuple))
    retracted.foreach { case (row, n) => assert(before.getOrElse(row, 0) >= n, s"pre-image $row is not a row of v$prev") }
    val replayed = bag(before.toSeq.flatMap { case (row, n) => Seq.fill(n - retracted.getOrElse(row, 0))(row) } ++ added)
    val head = bag(TableVersions.readVersion(spark, dir, v).collect().toSeq.map(tuple))
    assert(replayed == head, "feed replay diverged from the head")
    events
  }

  private def mergeTable(extra: Seq[(Option[Long], String, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val base = (0L until 40L).map(i => (Option(i), s"doc$i", if (i % 2 == 0) "even" else "odd"))
    TableVersions.commitAppend((base ++ extra).toDF("id", "body", "par").repartitionByRange(2, col("id")), dir)
    dir
  }

  private def upserts(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, body) => (id, body, "merged") }.toDF("id", "body", "par")
  }

  test("merge feed: every duplicate-key copy of a matched key is a pre-image, with one post-image") {
    val dir = mergeTable(Seq((Some(5L), "dup5", "odd"), (Some(5L), "dup5b", "odd")))
    val events = mergeFeed(dir, upserts(5L -> "m5", 100L -> "new"))
    assert(events.count(_ == ((Some(5L), "update_preimage"))) == 3)
    assert(events.count(_ == ((Some(5L), "update_postimage"))) == 1)
    assert(events.count(_ == ((Some(100L), "insert"))) == 1)
    assert(events.size == 5)
  }

  test("merge feed: a NULL-key row in a hit file survives with no event") {
    val dir = mergeTable(Seq((None, "nullkey", "odd")))
    val events = mergeFeed(dir, upserts(0L -> "m0", 1L -> "m1"))
    assert(events.forall(_._1.nonEmpty), s"NULL-key row in the feed: $events")
    assert(events.size == 4)
    assert(TableVersions.readVersion(spark, dir, 1L).filter(col("id").isNull).count() == 1)
  }

  test("merge feed: a merge that hits no file is all inserts") {
    val dir = mergeTable(Nil)
    val events = mergeFeed(dir, upserts(100L -> "a", 101L -> "b", 102L -> "c"))
    assert(events.sorted == Seq((Some(100L), "insert"), (Some(101L), "insert"), (Some(102L), "insert")))
  }

  test("merge feed: a merge whose every key matches is all updates") {
    val dir = mergeTable(Nil)
    val events = mergeFeed(dir, upserts((0L until 40L by 3).map(i => i -> s"m$i"): _*))
    val keys = (0L until 40L by 3).map(Option(_))
    assert(events.filter(_._2 == "update_preimage").map(_._1).sorted == keys)
    assert(events.filter(_._2 == "update_postimage").map(_._1).sorted == keys)
    assert(events.size == 2 * keys.size)
  }
}
