package graft.dbt

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Derived operators over the normalized manifest view — the queries a
  * dbt-artifact consumer actually runs (lineage, impact analysis,
  * change detection). All inputs are `readManifest` outputs. Diffs are
  * shuffle joins on `unique_id`; graph searches run inside tasks over a
  * broadcast edge list (`boundedBfs`).
  */
object ManifestOps {

  /** Lineage edge list: one row per (dependent, dependency) pair, from
    * the depends_on fan-out (SURVEY §2.1 F4).
    */
  def lineageEdges(manifest: DataFrame): DataFrame =
    manifest
      .select(col("unique_id").as("src"), explode(col("depends_on")).as("d"))
      .select(col("src"), col("d.type").as("dep_type"), col("d.unique_id").as("dst"))

  /** Transitive dependency closure: every (src, dst, hops) where src
    * reaches dst in `hops` ≥ 1 edges (min hops), bounded by `maxHops`;
    * every distinct edge is a hop-1 row. dbt graphs are shallow (hops
    * ≤ ~20), so the bound is generous.
    */
  def transitiveClosure(edges: DataFrame, maxHops: Int = 10): DataFrame =
    boundedBfs(edges, "src", "dst", None, maxHops).toDF("src", "dst", "hops")

  /** Impact analysis — the composite every dbt consumer runs after a
    * change lands: which entities must rebuild because something they
    * (transitively) depend on changed between two manifest snapshots?
    * Composes `diff` (what changed) with the reverse reachability of
    * the AFTER graph (who reaches the changed node).
    */
  def impacted(before: DataFrame, after: DataFrame, maxHops: Int = 10): DataFrame = {
    val changed = diffUnsorted(before, after)
      .filter(col("status") === "changed")
      .select(col("unique_id").as("changed_id"))
    reverseReachable(lineageEdges(after), changed, maxHops)
      .select(col("changed_id"), col("src").as("impacted_id"), col("hops"))
      .orderBy("changed_id", "impacted_id", "hops")
  }

  /** Seeded reverse reachability: every (src, changed_id, hops) where
    * `src` reaches a seed through depends_on edges in `hops` ≥ 1 edges
    * (min hops). Equivalent to filtering the full transitive closure on
    * dst ∈ seeds, but searches ONLY the impact cone: at fleet scale the
    * full closure is O(V · avg-reach) while a change set touches a
    * small cone of it. A NULL `changed_id` matches no edge.
    */
  def reverseReachable(edges: DataFrame, seeds: DataFrame, maxHops: Int = 10): DataFrame =
    boundedBfs(edges, "dst", "src", Some(seeds.select("changed_id")), maxHops)
      .select(col("reached").as("src"), col("seed").as("changed_id"), col("hops"))

  /** Bounded breadth-first search along edges `from` → `to` from each
    * distinct seed (`None`: every `from` id): one (seed, reached, hops)
    * row per node reached, at min hops; hop 1 always, hops ≤ `maxHops`.
    * The edge list is collected in one job, deduplicated into an
    * adjacency map and broadcast once; each task searches its seeds
    * level by level, so the search is one pass whatever its depth and
    * each seed's work is proportional to its cone. Memory bound: the
    * distinct edge list (the graph's edge count, not its path count)
    * must fit in the driver and in one executor.
    *
    * A seed's visited set starts empty: on a cycle it reaches itself at
    * the cycle's length. A NULL id equals nothing (SQL `=`): no step
    * expands through a NULL node and a given NULL seed matches no edge,
    * but a NULL end of an edge is reported, and with `seeds = None` an
    * edge with a NULL `from` is a hop-1 row whose `to` end is searched
    * on (the DuckDB oracle's `SELECT src, dst, 1 FROM e`).
    */
  private def boundedBfs(
      edges: DataFrame,
      from: String,
      to: String,
      seeds: Option[DataFrame],
      maxHops: Int
  ): DataFrame = {
    val spark = edges.sparkSession
    val adjacency: Map[Any, Seq[Any]] = edges
      .select(from, to)
      .collect()
      .groupMap(_.get(0))(_.get(1))
      .map { case (k, v) => k -> v.distinct.toSeq }
    val (seedField, seedIds) = seeds match {
      case Some(df) => (df.schema.head, df.filter(col(df.columns.head).isNotNull).distinct())
      case None =>
        val field = edges.schema(from)
        (field, spark.createDataFrame(adjacency.keys.map(Row(_)).toSeq.asJava, StructType(Seq(field))))
    }
    val out = StructType(
      Seq(
        seedField.copy(name = "seed"),
        edges.schema(to).copy(name = "reached"),
        StructField("hops", IntegerType, nullable = false)
      )
    )
    val adj = spark.sparkContext.broadcast(adjacency)
    seedIds.mapPartitions(_.flatMap(r => searchFrom(adj.value, r.get(0), maxHops)))(Encoders.row(out))
  }

  private def searchFrom(adj: Map[Any, Seq[Any]], seed: Any, maxHops: Int): Iterator[Row] = {
    val seen = mutable.HashSet.empty[Any]
    val out = mutable.ArrayBuffer.empty[Row]
    var level = adj.getOrElse(seed, Nil)
    var hop = 1
    while (level.nonEmpty) {
      val fresh = level.filter(seen.add)
      fresh.foreach(n => out += Row(seed, n, hop))
      level = if (hop >= maxHops) Nil else fresh.filter(_ != null).flatMap(adj.getOrElse(_, Nil))
      hop += 1
    }
    out.iterator
  }

  /** Incremental upsert — dbt's incremental-materialization primitive:
    * rows from `updates` win on key collision, unmatched `base` rows
    * carry over. One anti-join + union, both keyed on `key`: at fleet
    * scale this is a co-partitioned shuffle (or a broadcast anti-join
    * when the update batch is small — AQE decides), never a rewrite of
    * unmatched data through a full outer join.
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(key), Seq(key), "left_anti"),
      allowMissingColumns = false
    )

  /** Snapshot diff of two manifest views keyed by unique_id:
    * added / removed / changed (content sha256 or materialization) /
    * unchanged. Enables incremental lineage at fleet scale — only
    * 'changed' nodes need lineage recomputation.
    */
  def diff(before: DataFrame, after: DataFrame): DataFrame =
    diffUnsorted(before, after).orderBy("unique_id")

  /** diff without the presentation sort — for consumers (impact
    * analysis) that only filter on `status` and don't need the
    * RangePartitioning exchange the ORDER BY costs. */
  def diffUnsorted(before: DataFrame, after: DataFrame): DataFrame = {
    // presence markers distinguish "row absent" from "row present with
    // NULL sha/materialization" (sources and macros legitimately carry
    // NULLs there)
    val a = before.select(
      col("unique_id"),
      col("sha256").as("sha_before"),
      col("materialized_as").as("mat_before"),
      lit(true).as("in_before")
    )
    val b = after.select(
      col("unique_id"),
      col("sha256").as("sha_after"),
      col("materialized_as").as("mat_after"),
      lit(true).as("in_after")
    )
    a.join(b, Seq("unique_id"), "full_outer")
      .select(
        col("unique_id"),
        when(col("in_before").isNull, lit("added"))
          .when(col("in_after").isNull, lit("removed"))
          .when(
            !(col("sha_before") <=> col("sha_after")) ||
              !(col("mat_before") <=> col("mat_after")),
            lit("changed")
          )
          .otherwise(lit("unchanged"))
          .as("status"),
        col("sha_before"),
        col("sha_after")
      )
  }
}
