package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the hash-bucketed layout (commitAppendBucketed /
  * readVersionByBucket): a point read schedules exactly one bucket
  * directory per bucketed commit (plus unbucketed files), mixed
  * bucket counts resolve against their own commit's modulus, deletion
  * vectors apply inside, and copy-on-write rewrites stay absence-safe.
  */
class BucketStoreSpec extends AnyFunSuite with SparkSpec {

  private def freshDir() = graft.queries.Similarity.freshIndexDir("bucket_spec")

  private def fixture() = {
    val s = spark
    import s.implicits._
    (0L until 200L)
      .map(i => (i, s"doc$i", if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "body", "par")
  }

  test("point reads prune to one bucket per bucketed commit and stay exact") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppendBucketed(fixture().filter(col("id") < 100), dir, "id", 8) // v0
    TableVersions.commitAppendBucketed(
      fixture().filter(col("id") >= 100 && col("id") < 160),
      dir,
      "id",
      4
    ) // v1 — different modulus
    TableVersions.commitAppend(fixture().filter(col("id") >= 160), dir) // v2 unbucketed
    val unbucketedFiles =
      TableVersions.readVersion(spark, dir, 2L).inputFiles.count(!_.contains("__bucket="))
    // every id resolves through its own commit's modulus
    (0L until 200L by 7L).foreach { id =>
      val got = TableVersions.readVersionByBucket(spark, dir, 2L, "id", id)
      assert(got.count() == 1, s"id $id not found (or duplicated)")
      assert(got.head().getString(1) == s"doc$id")
      // scheduled files: ≤ one bucket dir from each bucketed commit + all unbucketed
      val scheduled = got.inputFiles
      val bucketed = scheduled.filter(_.contains("__bucket="))
      val bucketDirs = bucketed.map { f =>
        val i = f.indexOf("__bucket=")
        f.substring(0, f.indexOf('/', i)) // batch dir + its one bucket segment
      }.toSet
      assert(
        bucketDirs.size <= 2 && bucketDirs.size >= 1,
        s"id $id read more than one bucket per commit: ${scheduled.mkString(", ")}"
      )
      assert(scheduled.count(!_.contains("__bucket=")) == unbucketedFiles)
    }
    // a miss is an empty result, not an error
    assert(TableVersions.readVersionByBucket(spark, dir, 2L, "id", 5000L).count() == 0)
  }

  test("bucket reads compose with deletion vectors and copy-on-write rewrites") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppendBucketed(fixture(), dir, "id", 8) // v0
    TableVersions.commitDeleteMor(spark, dir, "id = 42") // v1: DV hides one row
    assert(TableVersions.readVersionByBucket(spark, dir, 1L, "id", 42L).count() == 0)
    assert(TableVersions.readVersionByBucket(spark, dir, 0L, "id", 42L).count() == 1)
    // copy-on-write UPDATE re-lands survivors in a flat batch — the
    // moved row must still be found (absence-safe: flat files always read)
    TableVersions.commitUpdate(spark, dir, "id = 43", _.withColumn("body", lit("upd"))) // v2
    val got = TableVersions.readVersionByBucket(spark, dir, 2L, "id", 43L)
    assert(got.count() == 1 && got.head().getString(1) == "upd")
    // and the DV'd row stays hidden through the rewrite
    assert(TableVersions.readVersionByBucket(spark, dir, 2L, "id", 42L).count() == 0)
  }

  test("recluster folds flat churn back into buckets as a logical no-op") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    TableVersions.commitAppendBucketed(fixture().filter(col("id") < 120), dir, "id", 8) // v0
    TableVersions.commitAppend(fixture().filter(col("id") >= 120), dir) // v1 flat
    TableVersions.commitUpdate(spark, dir, "id % 4 = 1", _.withColumn("body", lit("u"))) // v2
    TableVersions.commitDeleteMor(spark, dir, "id % 9 = 2") // v3
    val before = TableVersions.readVersion(spark, dir, 3L).collect().sortBy(_.getLong(0)).toSeq
    val v4 = TableVersions.optimizeBucketed(spark, dir, "id", 8)
    assert(v4 == 4L)
    // byte-equivalent reads, empty CDC — a logical no-op commit
    val after = TableVersions.readVersion(spark, dir, v4).collect().sortBy(_.getLong(0)).toSeq
    assert(after == before)
    assert(TableVersions.changes(spark, dir, "id", 3L, v4).isEmpty)
    // every live file now conforms — point reads schedule ZERO flat files
    (0L until 200L by 11L).filter(_ % 9 != 2).foreach { id =>
      val got = TableVersions.readVersionByBucket(spark, dir, v4, "id", id)
      assert(got.count() == 1, s"id $id lost by recluster")
      // data files only — `_dv` metadata scans legitimately appear in
      // the plan for untouched v0 files whose vectors still apply
      val dataFiles = got.inputFiles.filterNot(_.contains("/_dv/"))
      assert(dataFiles.forall(_.contains("__bucket=")), s"id $id still reads flat files")
    }
    // the DV'd rows were applied at the rewrite, not resurrected
    assert(TableVersions.readVersion(spark, dir, v4).filter(col("id") % 9 === 2).count() == 0)
    // reclustering a conforming layout is a recorded no-op (prev returned)
    assert(TableVersions.optimizeBucketed(spark, dir, "id", 8) == v4)
  }

  test("the driver-side probe hash equals Spark's hash() for Int, Long, String and Date probes") {
    val probes: Seq[Any] = Seq(0, 42, -7, Int.MaxValue, 0L, 42L, -7L, Long.MinValue, "", "42", "doc7",
      java.sql.Date.valueOf("1970-01-01"), java.sql.Date.valueOf("2024-02-29"))
    probes.foreach { v =>
      val engine = spark.range(1).select(hash(lit(v))).head().getInt(0)
      assert(TableVersions.bucketHash(v) == engine, s"probe $v (${v.getClass.getSimpleName})")
    }
    // the type matters, as it does for the commit's hash of the column
    assert(TableVersions.bucketHash(42) != TableVersions.bucketHash(42L))
  }
}
