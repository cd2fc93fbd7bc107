package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins that the SQL Hilbert fold is a GENUINE Hilbert curve, not just
  * a deterministic hash: over the full 16×16 grid (4 bit levels) the
  * d-index is a bijection onto 0..255 AND every consecutive pair of d
  * values sits at Manhattan distance exactly 1 — the locality property
  * that distinguishes Hilbert from Morton (whose curve jumps across
  * quadrant seams; asserted as the counterexample). Also pins the
  * clustered commit is a logical no-op at the read layer.
  */
class HilbertCurveSpec extends AnyFunSuite with SparkSpec {

  test("the d-index is a bijection with unit-step adjacency; Morton is not") {
    val s = spark
    import s.implicits._
    val grid = (for { x <- 0 until 16; y <- 0 until 16 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val d = grid
      .withColumn("d", expr(HilbertReference.hilbertExpr("x", "y", 4)))
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(d.map(_._1).toSeq == (0L until 256L), "d must be a bijection onto 0..255")
    val steps = d.map(_._2).sliding(2).map { case Array((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }
    assert(steps.forall(_ == 1L), "every consecutive d pair must be grid-adjacent")
    // Morton, by contrast, jumps at quadrant seams — its max step is > 1
    val morton = grid
      .withColumn(
        "d",
        expr(
          "aggregate(sequence(0, 3), cast(0 AS bigint), (acc, k) -> acc | shiftleft((x >> k) & 1, k * 2) | shiftleft((y >> k) & 1, k * 2 + 1))"
        )
      )
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    val mortonMax = morton.map(_._2).sliding(2).map { case Array((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }.max
    assert(mortonMax > 1L)
  }

  test("3-D Skilling fold: bijection onto 0..511 with unit-step adjacency on the 8^3 grid") {
    val s = spark
    import s.implicits._
    val grid = (for { x <- 0 until 8; y <- 0 until 8; z <- 0 until 8 }
      yield (x.toLong, y.toLong, z.toLong)).toDF("x", "y", "z")
    val d = grid
      .withColumn("d", expr(HilbertReference.hilbertNdExpr(Seq("x", "y", "z"), 3)))
      .collect()
      .map(r => (r.getLong(3), (r.getLong(0), r.getLong(1), r.getLong(2))))
      .sortBy(_._1)
    assert(d.map(_._1).toSeq == (0L until 512L), "d must be a bijection onto 0..511")
    val steps = d.map(_._2).sliding(2).map { case Array((x1, y1, z1), (x2, y2, z2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2)
    }
    assert(steps.forall(_ == 1L), "every consecutive d pair must be grid-adjacent in 3-D")
  }

  test("4-D Skilling fold: bijection onto 0..255 with unit-step adjacency on the 4^4 grid") {
    val s = spark
    import s.implicits._
    val grid = (for { a <- 0 until 4; b <- 0 until 4; c <- 0 until 4; e <- 0 until 4 }
      yield (a.toLong, b.toLong, c.toLong, e.toLong)).toDF("a", "b", "c", "e")
    val d = grid
      .withColumn("d", expr(HilbertReference.hilbertNdExpr(Seq("a", "b", "c", "e"), 2)))
      .collect()
      .map(r => (r.getLong(4), (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
      .sortBy(_._1)
    assert(d.map(_._1).toSeq == (0L until 256L), "d must be a bijection onto 0..255")
    val steps = d.map(_._2).sliding(2).map { case Array((a1, b1, c1, e1), (a2, b2, c2, e2)) =>
      math.abs(a1 - a2) + math.abs(b1 - b2) + math.abs(c1 - c2) + math.abs(e1 - e2)
    }
    assert(steps.forall(_ == 1L), "every consecutive d pair must be grid-adjacent in 4-D")
  }

  test("the 2-D Skilling fold is ALSO a Hilbert curve (independent derivation cross-check)") {
    val s = spark
    import s.implicits._
    val grid = (for { x <- 0 until 16; y <- 0 until 16 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val d = grid
      .withColumn("d", expr(HilbertReference.hilbertNdExpr(Seq("x", "y"), 4)))
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(d.map(_._1).toSeq == (0L until 256L))
    assert(
      d.map(_._2)
        .sliding(2)
        .forall { case Array((x1, y1), (x2, y2)) => math.abs(x1 - x2) + math.abs(y1 - y2) == 1 }
    )
  }

  test("native curve expressions are BIT-IDENTICAL to the HOF reference folds") {
    val s = spark
    import s.implicits._
    // full small grids + scattered large 16-bit coords: any divergence
    // in the inverse-undo / Gray / parity / interleave transcription
    // (graft.functions.CurveIndex) from the SQL reference breaks here
    val grid2 = ((for { x <- 0 until 16; y <- 0 until 16 } yield (x.toLong, y.toLong)) ++
      (0 until 200).map(i => ((i * 40503L + 13) % 65536, (i * 9973L + 7) % 65536)))
      .toDF("x", "y")
    assert(
      grid2
        .withColumn("ref", expr(HilbertReference.hilbertExpr("x", "y", 16)))
        .withColumn("nat", expr("hilbert_2d(16, x, y)"))
        .filter(col("ref") =!= col("nat"))
        .isEmpty,
      "hilbert_2d diverged from hilbertExpr"
    )
    assert(
      grid2
        .withColumn(
          "ref",
          expr(
            "aggregate(sequence(0, 15), cast(0 AS bigint), (acc, k) -> acc | shiftleft((x >> k) & 1, k * 2)) | " +
              "aggregate(sequence(0, 15), cast(0 AS bigint), (acc, k) -> acc | shiftleft((y >> k) & 1, k * 2 + 1))"
          )
        )
        .withColumn("nat", expr("morton_nd(16, x, y)"))
        .filter(col("ref") =!= col("nat"))
        .isEmpty,
      "morton_nd diverged from the aggregate interleave"
    )
    val grid3 = ((for { x <- 0 until 8; y <- 0 until 8; z <- 0 until 8 }
      yield (x.toLong, y.toLong, z.toLong)) ++
      (0 until 200).map(i => ((i * 31L) % 65536, (i * 577L) % 65536, (i * 7919L) % 65536)))
      .toDF("x", "y", "z")
    assert(
      grid3
        .withColumn("ref", expr(HilbertReference.hilbertNdExpr(Seq("x", "y", "z"), 16)))
        .withColumn("nat", expr("hilbert_nd(16, x, y, z)"))
        .filter(col("ref") =!= col("nat"))
        .isEmpty,
      "hilbert_nd (3-D) diverged from hilbertNdExpr"
    )
    val grid4 = (for { a <- 0 until 4; b <- 0 until 4; c <- 0 until 4; e <- 0 until 4 }
      yield (a.toLong, b.toLong, c.toLong, e.toLong)).toDF("a", "b", "c", "e")
    assert(
      grid4
        .withColumn("ref", expr(HilbertReference.hilbertNdExpr(Seq("a", "b", "c", "e"), 15)))
        .withColumn("nat", expr("hilbert_nd(15, a, b, c, e)"))
        .filter(col("ref") =!= col("nat"))
        .isEmpty,
      "hilbert_nd (4-D) diverged from hilbertNdExpr"
    )
  }

  test("optimizeHilbert is a logical no-op commit (reads byte-equivalent)") {
    val s = spark
    import s.implicits._
    val dir = graft.queries.Similarity.freshIndexDir("hilbert_store")
    val df = (0L until 500L).map(i => (i, i * 37 % 211, s"p$i")).toDF("id", "v", "payload")
    TableVersions.commitAppend(df.repartition(8), dir)
    TableVersions.optimizeHilbert(s, dir, Seq("id", "v"), nOut = 8)
    val before = TableVersions.readVersion(s, dir, 0L).collect().toSet
    val after = TableVersions.readVersion(s, dir, 1L).collect().toSet
    assert(before == after)
    // and the commit is CDC-empty, like every clustering rewrite
    assert(TableVersions.changesFeed(s, dir, 0L, 1L).isEmpty)
  }
}
