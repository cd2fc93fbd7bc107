package graft.dbt

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Property-based invariants for the graph search operators: on random
  * graphs (DAGs, cyclic graphs with self-loops, graphs with NULL ids),
  * `transitiveClosure` must equal a driver-side min-hops reference with
  * SQL NULL semantics, and `reverseReachable` must equal that closure
  * filtered to the seed set. Raw ScalaCheck generators with pinned
  * seeds (reproducible; the scalatestplus bridge is not on the offline
  * classpath).
  */
class GraphPropertySpec extends AnyFunSuite with SparkSpec {

  /** A node id; `None` is SQL NULL. */
  private type Id = Option[String]

  /** Random DAG on n nodes: edges only from lower to higher index, so
    * the closure is finite and acyclic by construction. */
  private def genDag(n: Int): Gen[List[(Int, Int)]] =
    Gen
      .listOfN(
        2 * n,
        for {
          a <- Gen.chooseNum(0, n - 2)
          b <- Gen.chooseNum(a + 1, n - 1)
        } yield (a, b)
      )
      .map(_.distinct)

  /** Random directed graph on n nodes: cycles, self-loops and duplicate
    * edges all occur; with `nulls`, about one endpoint in thirteen is
    * NULL. */
  private def genGraph(n: Int, nulls: Boolean): Gen[List[(Id, Id)]] = {
    val node: Gen[Id] = Gen.chooseNum(0, n - 1).map(i => Some(s"n$i"))
    val id = if (nulls) Gen.frequency(12 -> node, 1 -> Gen.const(None: Id)) else node
    Gen.listOfN(2 * n, Gen.zip(id, id))
  }

  private def sample[T](gen: Gen[T], seeds: Range): Seq[T] =
    seeds.flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Driver-side reference with the semantics of the DuckDB oracle's
    * recursive CTE (`closureSql`): every distinct edge is a hop-1 path,
    * a path (s, x, h) with h < maxHops extends along every edge x → y,
    * and the answer is the min hops per (s, d) pair, NULL ids grouped
    * together as GROUP BY does. A NULL id equals nothing, so no path
    * extends through a NULL node. Relaxed to a fixpoint, not searched
    * breadth-first, so it shares no structure with the operators. */
  private def refClosure(edges: Seq[(Id, Id)], maxHops: Int = 10): Map[(Id, Id), Int] = {
    val out = scala.collection.mutable.Map[(Id, Id), Int]()
    edges.foreach(out(_) = 1)
    var changed = true
    while (changed) {
      changed = false
      for {
        ((s, x), h) <- out.toList if h < maxHops && x.nonEmpty
        (from, y) <- edges if from == x
        if out.get((s, y)).forall(_ > h + 1)
      } { out((s, y)) = h + 1; changed = true }
    }
    out.toMap
  }

  /** The closure filtered to the seeds; a NULL seed matches no edge. */
  private def refReverse(edges: Seq[(Id, Id)], seeds: Seq[Id], maxHops: Int = 10) =
    refClosure(edges, maxHops).filter { case ((_, d), _) => d.nonEmpty && seeds.contains(d) }

  private def edgesDf(edges: Seq[(Id, Id)]) = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  private def seedsDf(seeds: Seq[Id]) = {
    val s = spark
    import s.implicits._
    seeds.toDF("changed_id")
  }

  /** (a, b) -> hops, asserting one row per pair. */
  private def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String): Map[(Id, Id), Int] = {
    val rows = df
      .collect()
      .map(r => (Option(r.getAs[String](a)), Option(r.getAs[String](b))) -> r.getAs[Int]("hops"))
    assert(rows.map(_._1).distinct.length == rows.length, s"more than one row per pair: ${rows.toSeq}")
    rows.toMap
  }

  private def closure(edges: Seq[(Id, Id)], maxHops: Int) =
    pairs(ManifestOps.transitiveClosure(edgesDf(edges), maxHops), "src", "dst")

  private def reverse(edges: Seq[(Id, Id)], seeds: Seq[Id], maxHops: Int) =
    pairs(ManifestOps.reverseReachable(edgesDf(edges), seedsDf(seeds), maxHops), "src", "changed_id")

  private def named(edges: List[(Int, Int)]): List[(Id, Id)] =
    edges.map { case (a, b) => (Some(s"n$a"), Some(s"n$b")) }

  test("transitiveClosure equals driver-side shortest-hops reference on random DAGs") {
    val samples = sample(genDag(8), 1 to 5).filter(_.nonEmpty).map(named)
    assert(samples.nonEmpty)
    samples.foreach(edges => assert(closure(edges, 10) == refClosure(edges), s"edges=$edges"))
  }

  test("upsert: update rows win on key collision, unmatched base rows carry over") {
    val s = spark
    import s.implicits._
    val base = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val upd = Seq(("b", 20), ("d", 40)).toDF("k", "v")
    val got = ManifestOps
      .upsert(base, upd, "k")
      .collect()
      .map(r => r.getString(0) -> r.getInt(1))
      .toMap
    assert(got == Map("a" -> 1, "b" -> 20, "c" -> 3, "d" -> 40))
  }

  test("reverseReachable equals closure filtered to seeds") {
    val samples = sample(genDag(8), 6 to 9).filter(_.nonEmpty).map(named)
    assert(samples.nonEmpty)
    samples.foreach { edges =>
      // seed on the two highest-index nodes that appear as dst
      val seedIds = edges.map(_._2).distinct.sortBy(_.get).takeRight(2)
      assert(reverse(edges, seedIds, 10) == refReverse(edges, seedIds), s"edges=$edges seeds=$seedIds")
    }
  }

  test("transitiveClosure equals the reference on cyclic graphs with self-loops and NULL ids") {
    val samples = sample(genGraph(8, nulls = false), 10 to 13) ++ sample(genGraph(8, nulls = true), 14 to 17)
    assert(samples.exists(_.exists { case (a, b) => a == b }), "no self-loop sampled")
    assert(samples.exists(_.exists { case (a, b) => a.isEmpty || b.isEmpty }), "no NULL id sampled")
    for (edges <- samples; maxHops <- Seq(1, 3, 10))
      assert(closure(edges, maxHops) == refClosure(edges, maxHops), s"maxHops=$maxHops edges=$edges")
  }

  test("reverseReachable equals the filtered reference with duplicate, dependent-free and NULL seeds") {
    val samples = sample(genGraph(8, nulls = false), 20 to 23) ++ sample(genGraph(8, nulls = true), 24 to 27)
    for (edges <- samples; maxHops <- Seq(1, 3, 10)) {
      // n0 twice, a node no edge touches, a NULL seed, and the node
      // that is most often a dst
      val busiest = edges.flatMap(_._2).groupBy(identity).maxByOption(_._2.size).map(_._1)
      val seedIds = Seq(Some("n0"), Some("n0"), Some("absent"), None, busiest)
      assert(
        reverse(edges, seedIds, maxHops) == refReverse(edges, seedIds, maxHops),
        s"maxHops=$maxHops edges=$edges"
      )
    }
  }

  // Hand-built graphs whose expected rows are the iterative-join
  // implementation's output (one anti-join per hop) that this search
  // replaced. That loop never matched a NULL pair in its anti-join, so
  // it re-emitted a pair with a NULL end at every hop that produced it
  // again (on the `nulls` graph at maxHops 10, (NULL, a) at hops 1, 3,
  // 5, 7 and 9); those pairs are kept here once, at their min hops.
  private val a: Id = Some("a")
  private val b: Id = Some("b")
  private val c: Id = Some("c")
  private val cycle3 = Seq((a, b), (b, c), (c, a))
  private val selfLoop = Seq((a, a), (a, b), (b, c))
  private val nulls = Seq((None, a), (a, b), (b, a), (b, None))
  private val nullBoth = Seq((None, None), (a, None), (None, a))

  test("both operators keep the iterative-join rows on hand-built cyclic and NULL graphs") {
    val cases: Seq[(Seq[(Id, Id)], Int, Map[(Id, Id), Int])] = Seq(
      (cycle3, 1, Map((a, b) -> 1, (b, c) -> 1, (c, a) -> 1)),
      (cycle3, 3, Map((a, a) -> 3, (a, b) -> 1, (a, c) -> 2, (b, a) -> 2, (b, b) -> 3,
        (b, c) -> 1, (c, a) -> 1, (c, b) -> 2, (c, c) -> 3)),
      (selfLoop, 1, Map((a, a) -> 1, (a, b) -> 1, (b, c) -> 1)),
      (selfLoop, 10, Map((a, a) -> 1, (a, b) -> 1, (a, c) -> 2, (b, c) -> 1)),
      (nulls, 1, Map((a, b) -> 1, (b, a) -> 1, (b, None) -> 1, (None, a) -> 1)),
      (nulls, 10, Map((a, a) -> 2, (a, b) -> 1, (a, None) -> 2, (b, a) -> 1, (b, b) -> 2,
        (b, None) -> 1, (None, a) -> 1, (None, b) -> 2, (None, None) -> 3)),
      (nullBoth, 1, Map((a, None) -> 1, (None, a) -> 1, (None, None) -> 1)),
      (nullBoth, 10, Map((a, None) -> 1, (None, a) -> 1, (None, None) -> 1))
    )
    for ((edges, maxHops, want) <- cases)
      assert(closure(edges, maxHops) == want, s"maxHops=$maxHops edges=$edges")

    // seeds a (twice), c, NULL and an id no edge touches
    val seeds = Seq(a, a, c, None, Some("zz"))
    val reverseCases: Seq[(Seq[(Id, Id)], Int, Map[(Id, Id), Int])] = Seq(
      (cycle3, 1, Map((b, c) -> 1, (c, a) -> 1)),
      (cycle3, 3, Map((a, a) -> 3, (a, c) -> 2, (b, a) -> 2, (b, c) -> 1, (c, a) -> 1, (c, c) -> 3)),
      (selfLoop, 1, Map((a, a) -> 1, (b, c) -> 1)),
      (selfLoop, 10, Map((a, a) -> 1, (a, c) -> 2, (b, c) -> 1)),
      (nulls, 1, Map((b, a) -> 1, (None, a) -> 1)),
      (nulls, 10, Map((a, a) -> 2, (b, a) -> 1, (None, a) -> 1)),
      (nullBoth, 10, Map((None, a) -> 1))
    )
    for ((edges, maxHops, want) <- reverseCases)
      assert(reverse(edges, seeds, maxHops) == want, s"maxHops=$maxHops edges=$edges")
  }
}
