package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.dbt.{DbtArtifacts, ManifestOps}

/** Sizes of the dbt part of a workload. */
final case class DbtCfg(monolith: DbtShape, fleetFiles: Int)

/** The dbt reader and the manifest operators: a monolith project
  * (manifest + catalog + run_results), a fleet of small manifests, and
  * impact-analysis queries with seeded changed sets.
  *
  * Set-up normalizes the monolith manifest and stores its lineage edges
  * as parquet, as an impact-analysis service would. A round ingests the
  * monolith's three artifacts and the fleet (the `ingest` samples) and
  * answers [[DbtPart.ImpactsPerRound]] impact queries over the stored
  * edges (the `query` samples). */
final class DbtPart(ctx: Ctx, cfg: DbtCfg) extends Part {
  import DbtPart._
  private val spark = ctx.spark
  private val dir = Part.inputDir(ctx, "dbt", cfg)
  private val edgesPath = ctx.work.resolve("state/dbt/edges.parquet").toString
  private val mono = DbtGen.generate("jaffle_mono", cfg.monolith, ctx.seed)
  private val fleet = (0 until cfg.fleetFiles).map(i =>
    DbtGen.generate(f"fleet_$i%03d", FleetShape, ctx.seed * 7919 + i))
  // the impact composite compares fleet project 0 with a copy in which
  // three models changed
  private val changedModels: Seq[String] = {
    val models = fleet.head.entities.filter(_.rtype == "model")
    val rng = new SplittableRandom(ctx.seed + 17)
    (0 until 3).map(_ => models(rng.nextInt(models.size)).id).distinct
  }
  private val after = fleet.head.copy(entities = fleet.head.entities.map { n =>
    if (changedModels.contains(n.id)) n.copy(checksum = Some(DbtGen.sha256Hex(n.id + "changed"))) else n
  })

  private def p(name: String) = dir.resolve(name).toString
  private val hops = mutable.ArrayBuffer[Double]()

  /** Writes the generated artifacts, unless this seed's are on disk. */
  def generate(): Unit = {
    val done = dir.resolve("complete")
    if (!Files.exists(done)) {
      Part.deleteTree(dir)
      DbtGen.write(dir.resolve("manifest.json"), DbtGen.manifestJson(mono, cfg.monolith))
      DbtGen.write(dir.resolve("catalog.json"), DbtGen.catalogJson(mono))
      DbtGen.write(dir.resolve("run_results.json"), DbtGen.runResultsJson(mono))
      fleet.foreach(f => DbtGen.write(dir.resolve(s"fleet/${f.name}.json"), DbtGen.manifestJson(f, FleetShape)))
      DbtGen.write(dir.resolve("impact/after.json"), DbtGen.manifestJson(after, FleetShape))
      Files.write(done, Array.emptyByteArray)
    }
  }

  /** With one warm-up round the timed round's CPU seconds spread 0.16
    * to 0.29 (inter-quartile range / median) over ten seeds; the JSON
    * parsing and the impact search are still being compiled. */
  override def warmRounds: Int = 2

  def manifestFileBytes: Double = Files.size(dir.resolve("manifest.json")).toDouble

  def prepare(r: Rec): Unit =
    r.timed("manifestops.lineage_edges") {
      ManifestOps.lineageEdges(DbtArtifacts.readManifestUnsorted(spark, p("manifest.json")))
        .write.mode("overwrite").parquet(edgesPath)
    }

  /** Changed sets are drawn from the staging layer and kept only when
    * their impact cone runs the full depth of the project (staging,
    * every intermediate layer, marts, tests), so every query runs the
    * same number of search rounds whatever the seed. */
  private val depth = cfg.monolith.intLayers + 2
  private val staging = mono.entities.filter(n => n.rtype == "model" && n.schema == "staging")
  private def changedSet(round: Int, i: Int): Seq[String] = {
    val rng = new SplittableRandom(ctx.seed * 1000003L + round * 7919L + i)
    def draw() = (0 until ChangedPerImpact).map(_ => staging(rng.nextInt(staging.size)).id).distinct
    Iterator.continually(draw()).take(500).find(s => mono.impactOf(s).values.maxOption.contains(depth))
      .getOrElse(sys.error(s"no changed set with a $depth-hop impact cone in 500 draws"))
  }

  def round(r: Rec, index: Int): Unit = {
    import spark.implicits._
    ctx.op(r, "dbt.read_manifest", "ingest")(Part.drain(DbtArtifacts.readManifest(spark, p("manifest.json"))))
    ctx.op(r, "dbt.read_catalog", "ingest")(Part.drain(DbtArtifacts.readCatalog(spark, p("catalog.json"))))
    ctx.op(r, "dbt.run_results", "ingest")(Part.drain(DbtArtifacts.runResultsResults(spark, p("run_results.json"))))
    ctx.op(r, "dbt.read_manifest_all", "ingest")(
      Part.drain(DbtArtifacts.readManifestAll(spark, dir.resolve("fleet").toString + "/*.json")))

    for (i <- 0 until ImpactsPerRound) {
      val seeds = changedSet(index, i)
      val seedDf = seeds.toDF("changed_id")
      ctx.op(r, "manifestops.reverse_reachable", "query") {
        ManifestOps.reverseReachable(spark.read.parquet(edgesPath), seedDf).collect()
      }.foreach { rows =>
        val got = rows.map(x => (x.getAs[String]("src"), x.getAs[String]("changed_id")) -> x.getAs[Int]("hops"))
        hops += (if (got.isEmpty) 0.0 else got.map(_._2).max.toDouble)
        ctx.expect(s"reverseReachable($index/$i)", DbtPart.checkImpact(got.toSeq, mono.impactOf(seeds)))
      }
    }
  }

  def check(r: Rec): Unit = {
    val m = DbtArtifacts
      .readManifest(spark, p("manifest.json"))
      .select(col("unique_id"), col("manifest_group"), col("resource_type"), col("database"), col("schema"),
        col("name"), size(col("depends_on")), size(col("columns")), col("sha256"))
      .collect()
      .toSeq
    val expected = mono.sortedForOutput
    ctx.expect("readManifest", DbtPart.checkManifest(m, expected))
    if (m.nonEmpty)
      ctx.mustReject("readManifest", DbtPart.checkManifest(m.updated(0, DbtPart.bump(m.head, 6)), expected))

    val c = DbtArtifacts.readCatalog(spark, p("catalog.json"))
      .select(col("unique_id"), col("manifest_group"), col("name"), size(col("columns")))
      .collect().toSeq
    ctx.expect("readCatalog", DbtPart.checkCatalog(c, mono))
    ctx.mustReject("readCatalog", DbtPart.checkCatalog(c.drop(1), mono))

    val rr = DbtArtifacts.runResultsResults(spark, p("run_results.json"))
      .select(col("unique_id"), col("status")).collect().toSeq
    ctx.expect("runResultsResults", DbtPart.checkRunResults(rr, mono))
    if (rr.nonEmpty)
      ctx.mustReject("runResultsResults", DbtPart.checkRunResults(rr.updated(0, Row(rr.head.getString(0), "skipped")), mono))

    val f = DbtArtifacts.readManifestAll(spark, dir.resolve("fleet").toString + "/*.json")
      .select(col("source_file"), col("unique_id"), col("manifest_group"), col("resource_type"), col("database"),
        col("schema"), col("name"), size(col("depends_on")), size(col("columns")), col("sha256"))
      .collect().toSeq
    ctx.expect("readManifestAll", DbtPart.checkFleet(f, fleet))
    ctx.mustReject("readManifestAll", DbtPart.checkFleet(f.reverse, fleet))

    val impact = mono.impactOf(changedSet(0, 0))
    ctx.mustReject("reverseReachable", DbtPart.checkImpact(impact.toSeq.tail, impact))
  }

  /** The impact composite (two manifests -> diff -> reverse reachability)
    * is timed once, in traced runs only: it feeds a per-module figure,
    * not an end-to-end one. */
  override def traceExtras(r: Rec): Map[String, Double] = {
    ctx.op(r, "manifestops.impacted") {
      ManifestOps
        .impacted(
          DbtArtifacts.readManifestUnsorted(spark, p(s"fleet/${fleet.head.name}.json")),
          DbtArtifacts.readManifestUnsorted(spark, p("impact/after.json")))
        .collect()
    }.foreach { rows =>
      val got = rows.map(x => (x.getString(1), x.getString(0)) -> x.getInt(2)).toSeq
      ctx.expect("impacted", DbtPart.checkImpact(got, after.impactOf(changedModels)))
    }
    Map("manifestops.hops_per_impact" -> Stats.median(hops.toSeq))
  }
}

object DbtPart {

  /** The shape of every fleet project: about 100 KB of manifest each. */
  val FleetShape = DbtShape(4, 8, 2, 5, 6, 1, 6, 3, 8, 30)
  val ImpactsPerRound = 1
  val ChangedPerImpact = 2

  def checkImpact(got: Seq[((String, String), Int)], want: Map[(String, String), Int]): Seq[String] = {
    val g = got.toMap
    val out = mutable.ArrayBuffer[String]()
    if (g.size != got.size) out += s"${got.size - g.size} duplicate (src, changed_id) rows"
    for ((k, h) <- want if !g.get(k).contains(h)) out += s"$k: expected hops $h, got ${g.get(k)}"
    for (k <- g.keys if !want.contains(k)) out += s"$k reported but not reachable"
    out.toSeq
  }

  private def opt(r: Row, i: Int): Option[String] = Option(r.getString(i))

  /** Rows of (unique_id, group, type, database, schema, name, |depends_on|,
    * |columns|, sha256), in output order. */
  def checkManifest(rows: Seq[Row], want: Seq[DNode]): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    if (rows.size != want.size) out += s"${rows.size} rows, expected ${want.size}"
    rows.zip(want).zipWithIndex.foreach { case ((r, n), i) =>
      val got = (r.getString(0), r.getString(1), r.getString(2), opt(r, 3), opt(r, 4), r.getString(5), r.getInt(6), r.getInt(7), opt(r, 8))
      val exp = (n.id, n.group, n.rtype, n.outDatabase, n.outSchema, n.outName, n.fanOut, n.columns.size, n.outSha)
      if (got != exp) out += s"row $i: got $got, expected $exp"
    }
    out.toSeq
  }

  def checkCatalog(rows: Seq[Row], p: DbtProject): Seq[String] = {
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    val want = p.entities.filter(_.inCatalog).map(n => (n.id, n.group, n.outName, n.columns.size)).toSet
    if (rows.size != want.size) Seq(s"${rows.size} rows, expected ${want.size}")
    else (want -- got).take(5).map(w => s"missing or wrong $w").toSeq
  }

  def checkRunResults(rows: Seq[Row], p: DbtProject): Seq[String] = {
    val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
    val want = p.entities.filter(_.inRunResults).map(n => (n.id, DbtGen.status(n))).toSet
    if (rows.size != want.size) Seq(s"${rows.size} rows, expected ${want.size}")
    else (want -- got).take(5).map(w => s"missing or wrong $w").toSeq
  }

  /** Fleet rows carry source_file first; files must appear in path order,
    * each in its project's presentation order. */
  def checkFleet(rows: Seq[Row], fleet: Seq[DbtProject]): Seq[String] = {
    val want = fleet.sortBy(_.name)
    val byFile = rows.map(r => r.getString(0).split('/').last.stripSuffix(".json") -> r)
    val files = byFile.map(_._1).distinct
    val out = mutable.ArrayBuffer[String]()
    if (files != want.map(_.name)) out += s"files in order ${files.take(3)}..., expected ${want.map(_.name).take(3)}..."
    for (proj <- want) {
      val rs = byFile.filter(_._1 == proj.name).map(x => Row.fromSeq(x._2.toSeq.tail))
      out ++= checkManifest(rs, proj.sortedForOutput).map(s"${proj.name}: " + _)
    }
    out.toSeq
  }

  /** A copy of `r` with the integer at `i` off by one. */
  def bump(r: Row, i: Int): Row = Row.fromSeq(r.toSeq.updated(i, r.getInt(i) + 1))
}
