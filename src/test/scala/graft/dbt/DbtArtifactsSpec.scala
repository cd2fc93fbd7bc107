package graft.dbt

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Golden-fixture tests for the dbt artifact readers — every branch of
  * the reference semantics from FIXTURES.md §A / SURVEY.md §2.1.
  */
class DbtArtifactsSpec extends AnyFunSuite with SparkSpec {

  private val dir = "src/test/resources/dbt"

  private def sha256Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  // The readers' output schemas, nullability included: `inline` takes
  // each column's nullability from the struct fields of the concatenated
  // sections, so a change in any one section's projection shows here.
  private val dependsOnOut = ArrayType(
    StructType(Seq(StructField("type", StringType), StructField("unique_id", StringType))))
  private val manifestColumnsOut = ArrayType(
    StructType(Seq(
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("data_type", StringType),
      StructField("meta", MapType(StringType, StringType)),
      StructField("tags", ArrayType(StringType)))))
  private val manifestOut = StructType(Seq(
    StructField("unique_id", StringType),
    StructField("manifest_group", StringType, nullable = false),
    StructField("resource_type", StringType),
    StructField("database", StringType),
    StructField("schema", StringType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("is_enabled", BooleanType),
    StructField("materialized_as", StringType),
    StructField("depends_on", dependsOnOut, nullable = false),
    StructField("columns", manifestColumnsOut, nullable = false),
    StructField("meta", MapType(StringType, StringType)),
    StructField("tags", ArrayType(StringType)),
    StructField("sha256", StringType)))
  private val catalogOut = StructType(Seq(
    StructField("unique_id", StringType, nullable = false),
    StructField("manifest_group", StringType, nullable = false),
    StructField("database", StringType),
    StructField("schema", StringType),
    StructField("name", StringType),
    StructField("materialized_as", StringType),
    StructField("columns", ArrayType(StructType(Seq(
      StructField("column_name", StringType),
      StructField("ordinal_position", IntegerType),
      StructField("data_type", StringType)))), nullable = false)))

  test("manifest: schema matches SURVEY §1.5") {
    assert(DbtArtifacts.readManifest(spark, s"$dir/manifest.json").schema == manifestOut)
  }

  test("output schemas are pinned: names, types and nullability") {
    val raw = (f: String) => spark.read.option("wholetext", "true").text(s"$dir/$f")
    assert(DbtArtifacts.readManifestUnsorted(spark, s"$dir/manifest.json").schema == manifestOut)
    assert(DbtArtifacts.readManifest(raw("manifest.json")).schema == manifestOut)
    assert(
      DbtArtifacts.readManifestAll(spark, s"$dir/manifest*.json").schema ==
        StructType(StructField("source_file", StringType, nullable = false) +: manifestOut.fields))
    assert(DbtArtifacts.readCatalog(spark, s"$dir/catalog.json").schema == catalogOut)
    assert(DbtArtifacts.readCatalog(raw("catalog.json")).schema == catalogOut)
  }

  /** Executes `df`, then counts the file scans, `from_json` calls and
    * exchanges of its final physical plan (adaptive stages included).
    * Plan nodes, not jobs: the count does not depend on how AQE splits
    * the work. */
  private def planShape(df: DataFrame): (Int, Int, Int) = {
    df.collect()
    val nodes = new AdaptiveSparkPlanHelper {
      def all(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
    }.all(df.queryExecution.executedPlan)
    (
      nodes.count(_.isInstanceOf[FileSourceScanExec]),
      nodes.flatMap(_.expressions).map(_.collect { case j: JsonToStructs => j }.size).sum,
      nodes.count(_.isInstanceOf[Exchange])
    )
  }

  test("each artifact is scanned and parsed once per plan") {
    // one file: one scan, one from_json, sorted inside its one partition
    assert(planShape(DbtArtifacts.readManifest(spark, s"$dir/manifest.json")) == ((1, 1, 0)))
    assert(planShape(DbtArtifacts.readManifestUnsorted(spark, s"$dir/manifest.json")) == ((1, 1, 0)))
    assert(planShape(DbtArtifacts.readCatalog(spark, s"$dir/catalog.json")) == ((1, 1, 0)))
    // a glob keeps the distributed sort; its scan still feeds one parse
    val (scans, parses, _) = planShape(DbtArtifacts.readManifestAll(spark, s"$dir/manifest*.json"))
    assert((scans, parses) == ((1, 1)))
  }

  test("manifest: rows = |nodes| + |sources| + |macros|, NULLS-LAST sort order") {
    val rows = DbtArtifacts.readManifest(spark, s"$dir/manifest.json").collect()
    assert(rows.length == 4)
    // arrange(resource_type, database, schema, name, unique_id):
    // macro < model < source < test; macros have NULL database → but
    // resource_type differs first, so order is by resource_type alone here.
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "macro.proj.m1", "model.proj.orders", "source.proj.raw.orders", "test.proj.not_null"
    ))
  }

  test("manifest node: alias coalesce, checksum guard, depends_on fan-out, columns") {
    val df = DbtArtifacts.readManifest(spark, s"$dir/manifest.json")
    val node = df.filter(df("unique_id") === "model.proj.orders").collect().head

    assert(node.getAs[String]("name") == "orders_final") // alias wins (explore.R:149)
    assert(node.getAs[String]("manifest_group") == "nodes")
    assert(node.getAs[Boolean]("is_enabled"))
    assert(node.getAs[String]("materialized_as") == "table")
    assert(node.getAs[String]("sha256") == "abc123") // sha256 checksum kept

    // depends_on: macros first then nodes, type recycled (explore.R:121-127)
    val deps = node.getAs[scala.collection.Seq[Row]]("depends_on").map(r => (r.getString(0), r.getString(1)))
    assert(deps == Seq(
      ("macros", "macro.proj.m1"),
      ("nodes", "source.proj.raw.orders"),
      ("nodes", "model.proj.stg")
    ))

    // columns in map insertion order; missing data_type → NULL (explore.R:94-98)
    val cols = node.getAs[scala.collection.Seq[Row]]("columns")
    assert(cols.map(_.getAs[String]("name")) == Seq("id", "amt"))
    assert(cols.head.getAs[String]("data_type") == "integer")
    assert(cols.head.getAs[Map[String, String]]("meta") == Map("pii" -> "false"))
    assert(cols.head.getAs[scala.collection.Seq[String]]("tags") == Seq("key"))
    assert(cols(1).getAs[String]("data_type") == null)
    assert(cols(1).getAs[Map[String, String]]("meta") == Map.empty[String, String])
    assert(cols(1).getAs[scala.collection.Seq[String]]("tags") == Seq.empty[String])
  }

  test("manifest test-node: non-sha256 checksum → NULL, empty columns/macros") {
    val df = DbtArtifacts.readManifest(spark, s"$dir/manifest.json")
    val t = df.filter(df("unique_id") === "test.proj.not_null").collect().head
    assert(t.getAs[String]("sha256") == null) // checksum algo 'none' (explore.R:159-162)
    assert(t.getAs[scala.collection.Seq[Row]]("columns").isEmpty) // typed empty, not NULL
    assert(t.getAs[scala.collection.Seq[Row]]("depends_on").map(_.getString(1)) == Seq("model.proj.orders"))
    assert(t.getAs[String]("name") == "not_null_orders_id") // alias NULL → name
  }

  test("manifest source: identifier as name, NULL materialization, empty depends_on") {
    val df = DbtArtifacts.readManifest(spark, s"$dir/manifest.json")
    val s = df.filter(df("unique_id") === "source.proj.raw.orders").collect().head
    assert(s.getAs[String]("name") == "raw_orders_v2") // explore.R:180
    assert(s.getAs[String]("materialized_as") == null) // :183
    assert(s.getAs[scala.collection.Seq[Row]]("depends_on").isEmpty) // :184-185 typed empty
    assert(s.getAs[String]("sha256") == null) // :191
    assert(s.getAs[Boolean]("is_enabled"))
    assert(s.getAs[scala.collection.Seq[String]]("tags") == Seq("raw"))
  }

  test("manifest macro: NULL database/schema/enabled, sha2(macro_sql)") {
    val df = DbtArtifacts.readManifest(spark, s"$dir/manifest.json")
    val m = df.filter(df("unique_id") === "macro.proj.m1").collect().head
    assert(m.getAs[String]("database") == null) // explore.R:206
    assert(m.getAs[String]("schema") == null) // :207
    assert(m.isNullAt(m.fieldIndex("is_enabled"))) // :210
    assert(m.getAs[scala.collection.Seq[Row]]("columns").isEmpty) // :213
    assert(m.getAs[String]("sha256") == sha256Hex("select 1")) // :216 (raw-bytes variant)
    assert(m.getAs[scala.collection.Seq[Row]]("depends_on").isEmpty) // empty macros list fans to 0 rows
  }

  test("catalog: nodes ∪ sources with map-key unique_id and nested columns") {
    val df = DbtArtifacts.readCatalog(spark, s"$dir/catalog.json")
    assert(df.schema.fieldNames.toSeq == Seq(
      "unique_id", "manifest_group", "database", "schema", "name",
      "materialized_as", "columns"
    ))
    val rows = df.collect()
    assert(rows.length == 2)
    val node = rows.find(_.getString(0) == "model.proj.orders").get
    assert(node.getAs[String]("manifest_group") == "nodes")
    assert(node.getAs[String]("materialized_as") == "BASE TABLE")
    assert(node.getAs[String]("name") == "orders_final")
    val cols = node.getAs[scala.collection.Seq[Row]]("columns")
    assert(cols.map(r => (r.getString(0), r.getInt(1), r.getString(2))) == Seq(
      ("id", 1, "INTEGER"), ("amt", 2, "DOUBLE")
    ))
    val src = rows.find(_.getString(0) == "source.proj.raw.orders").get
    assert(src.getAs[String]("manifest_group") == "sources")
    assert(src.getAs[String]("materialized_as") == "VIEW")
  }

  test("catalog: absent sources section yields nodes only (explore.R:43-45)") {
    val df = DbtArtifacts.readCatalog(spark, s"$dir/catalog_nodes_only.json")
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("manifest_group") == "nodes")
    assert(rows.head.getAs[scala.collection.Seq[Row]]("columns").isEmpty) // empty map → typed empty array
  }

  test("robustness: missing sections and malformed JSON degrade to empty, not errors") {
    val tmp = java.nio.file.Files.createTempDirectory("dbt_edge")
    // manifest with ONLY macros — nodes/sources absent entirely
    java.nio.file.Files.writeString(
      tmp.resolve("macros_only.json"),
      """{"macros": {"macro.p.m": {"unique_id": "macro.p.m", "resource_type": "macro",
         "name": "m", "description": "", "depends_on": {"macros": []}, "meta": {},
         "macro_sql": "select 2"}}}"""
    )
    val macrosOnly = DbtArtifacts.readManifest(spark, tmp.resolve("macros_only.json").toString).collect()
    assert(macrosOnly.length == 1)
    assert(macrosOnly.head.getAs[String]("manifest_group") == "macros")

    // structurally valid JSON that matches nothing in the schema
    java.nio.file.Files.writeString(tmp.resolve("unrelated.json"), """{"foo": [1, 2, 3]}""")
    assert(DbtArtifacts.readManifest(spark, tmp.resolve("unrelated.json").toString).count() == 0)

    // malformed JSON → from_json yields NULL → zero rows (PERMISSIVE),
    // not a crash: fleet-scale ingestion must tolerate a corrupt file
    java.nio.file.Files.writeString(tmp.resolve("corrupt.json"), """{"nodes": {"a": """)
    assert(DbtArtifacts.readManifest(spark, tmp.resolve("corrupt.json").toString).count() == 0)

    // empty sections (present but {}) → zero rows, correct schema
    java.nio.file.Files.writeString(
      tmp.resolve("empty.json"),
      """{"nodes": {}, "sources": {}, "macros": {}}"""
    )
    val empty = DbtArtifacts.readManifest(spark, tmp.resolve("empty.json").toString)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.length == 14)
  }

  test("multi-file ingestion: glob of manifests with source_file provenance") {
    val df = DbtArtifacts.readManifestAll(spark, s"$dir/manifest*.json")
    assert(df.schema.fieldNames.head == "source_file")
    val byFile = df.collect().groupBy(r => r.getAs[String]("source_file").split('/').last)
    assert(byFile.keySet == Set("manifest.json", "manifest_v2.json"))
    assert(byFile("manifest.json").length == 4)
    assert(byFile("manifest_v2.json").length == 4) // 2 nodes + 1 source + 1 macro
  }

  test("multi-file ingestion: absent, NULL and corrupt sections drop only their own rows") {
    val tmp = Files.createTempDirectory("dbt_fleet")
    def write(name: String, json: String): Path = Files.writeString(tmp.resolve(name), json)
    val macros = """"macros": {"macro.p.m": {"unique_id": "macro.p.m", "resource_type": "macro",
      "name": "m", "depends_on": {"macros": []}, "macro_sql": "select 2"}}"""
    Files.copy(java.nio.file.Paths.get(s"$dir/manifest.json"), tmp.resolve("a_full.json"))
    write("b_macros_only.json", s"{$macros}")
    write(
      "c_sources_null.json",
      s"""{"nodes": {"model.p.x": {"unique_id": "model.p.x", "resource_type": "model",
         "name": "x"}}, "sources": null, $macros}"""
    )
    write("d_corrupt.json", """{"nodes": {"a": """)

    val rows = DbtArtifacts.readManifestAll(spark, s"$tmp/*.json").collect()
    val idsByFile = rows
      .groupBy(_.getAs[String]("source_file").split('/').last)
      .map { case (f, rs) => f -> rs.map(_.getAs[String]("unique_id")).toSeq }
    assert(idsByFile == Map(
      "a_full.json" -> Seq(
        "macro.proj.m1", "model.proj.orders", "source.proj.raw.orders", "test.proj.not_null"),
      "b_macros_only.json" -> Seq("macro.p.m"),
      "c_sources_null.json" -> Seq("macro.p.m", "model.p.x")
    ))
  }

  test("input dispatch: missing artifact fails fast; section introspection") {
    val e = intercept[IllegalArgumentException] {
      DbtArtifacts.readManifest(spark, s"$dir/does_not_exist.json")
    }
    assert(e.getMessage.contains("does_not_exist.json"))
    assert(DbtArtifacts.artifactSections(spark, s"$dir/catalog.json") == Seq("nodes", "sources"))
    assert(DbtArtifacts.artifactSections(spark, s"$dir/catalog_nodes_only.json") == Seq("nodes"))
    // artifact-agnostic: a manifest's macros section surfaces too
    // (the old schema-bound version could only ever see nodes/sources)
    assert(
      DbtArtifacts.artifactSections(spark, s"$dir/manifest.json") ==
        Seq("nodes", "sources", "macros")
    )
  }

  test("input dispatch: pre-parsed DataFrame overloads match the path readers") {
    val rawM = spark.read.option("wholetext", "true").text(s"$dir/manifest.json")
    assert(
      DbtArtifacts.readManifest(rawM).collect().toSeq ==
        DbtArtifacts.readManifest(spark, s"$dir/manifest.json").collect().toSeq
    )
    val rawC = spark.read.option("wholetext", "true").text(s"$dir/catalog.json")
    assert(
      DbtArtifacts.readCatalog(rawC).collect().toSeq ==
        DbtArtifacts.readCatalog(spark, s"$dir/catalog.json").collect().toSeq
    )
    val bad = intercept[IllegalArgumentException] {
      DbtArtifacts.readManifest(rawM.select(org.apache.spark.sql.functions.col("value").as("v")))
    }
    assert(bad.getMessage.contains("value"))
  }

  test("sources.json: typed raw view + exploded results") {
    val raw = DbtArtifacts.readSourceFreshness(spark, s"$dir/sources.json").collect().head
    assert(raw.getAs[Double]("elapsed_time") == 1.5)
    assert(raw.getAs[java.sql.Timestamp]("generated_at") != null)

    val res = DbtArtifacts.sourceFreshnessResults(spark, s"$dir/sources.json").collect()
    assert(res.length == 1)
    val r = res.head
    assert(r.getAs[String]("unique_id") == "source.proj.raw.orders")
    assert(r.getAs[String]("status") == "pass")
    assert(r.getAs[Long]("warn_after_count") == 12L)
    assert(r.getAs[String]("warn_after_period") == "hour")
    // ISO-8601 timestamps land as TimestampType (UTC session)
    assert(r.getAs[java.sql.Timestamp]("max_loaded_at").toInstant.toString == "2025-01-16T23:00:00Z")
  }

  test("run_results.json: typed raw view + exploded results") {
    val raw = DbtArtifacts.readRunResults(spark, s"$dir/run_results.json").collect().head
    assert(raw.getAs[Double]("elapsed_time") == 2.0)
    assert(raw.getAs[Map[String, String]]("args") == Map("which" -> "run"))

    val res = DbtArtifacts.runResultsResults(spark, s"$dir/run_results.json").collect()
    assert(res.length == 1)
    val r = res.head
    assert(r.getAs[String]("unique_id") == "model.proj.orders")
    assert(r.getAs[Double]("execution_time") == 0.42)
    assert(r.getAs[Map[String, String]]("adapter_response") == Map("rows_affected" -> "10"))
  }
}
