package graft.dbt

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ArtifactSchemas._

/** Spark-native readers for dbt JSON artifacts — the reference engine's
  * entire product surface (explore.R).
  *
  * Design (SURVEY.md §3): wholetext read → ONE `from_json` per file with
  * explicit map-keyed schemas → each section's map values `transform`ed
  * into typed row structs → `inline(concat(sections))`, one generator
  * per file → NULLS-LAST sort. All transforms are built-in Catalyst
  * expressions — constant folding and codegen apply end to end, and
  * each file is scanned and parsed once per job.
  *
  * The single-path readers (`readManifest`, `readManifestUnsorted`,
  * `readCatalog`, …) treat their input as ONE artifact: a file is one
  * row and so one partition, and `readManifest` sorts it inside that
  * partition — a single job with no exchange. Globs and directories of
  * manifests belong to `readManifestAll`, whose files parse in parallel
  * and whose sort is a distributed ORDER BY; nothing here is
  * driver-side.
  */
object DbtArtifacts {

  /** One row per input file, column `value` = full JSON text. jsonlite's
    * whole-file parse (explore.R:38, :226) maps to wholetext+from_json —
    * NOT spark.read.json, whose per-line/inference behavior mis-handles
    * the map-keyed sections (SURVEY.md §1.1).
    *
    * Validates existence up front (SURVEY §2.1 S3/V1 — the reference's
    * `file.exists` + `stopifnot` dispatch, explore.R:37-41, :225-228)
    * so a typo'd path fails fast with a clear message instead of an
    * empty-glob analysis error.
    */
  private def rawJson(spark: SparkSession, path: String): DataFrame = {
    require(
      path.contains("://") || java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
      s"dbt artifact not found: $path"
    )
    spark.read.option("wholetext", "true").text(path)
  }

  /** Top-level sections present in an artifact file (SURVEY §2.1 S4 —
    * the reference's `names(manifest)`, explore.R:269): ALL top-level
    * keys in document order, artifact-agnostic (`json_object_keys` on
    * the raw text — no schema assumption, so a manifest's `macros` or a
    * future artifact's sections surface exactly like R's `names()`).
    */
  def artifactSections(spark: SparkSession, path: String): Seq[String] =
    rawJson(spark, path)
      .select(explode(expr("json_object_keys(value)")).as("k"))
      .collect()
      .map(_.getString(0))
      .toSeq

  /** `{macros: [...], nodes: [...]}` → `ARRAY<STRUCT<type, unique_id>>`,
    * one element per referenced id, `type` recycled — the exact fan-out
    * of parse_depends_on (explore.R:105-138). Missing/empty input yields
    * a typed EMPTY array, not NULL (the :107-118 guard).
    */
  private def dependsOnCol(d: Column): Column = {
    def branch(arr: Column, typ: String): Column =
      transform(
        coalesce(arr, array().cast("array<string>")),
        x => struct(lit(typ).as("type"), x.as("unique_id"))
      )
    concat(branch(d.getField("macros"), "macros"), branch(d.getField("nodes"), "nodes"))
  }

  /** `columns` map → `ARRAY<STRUCT<name, description, data_type, meta,
    * tags>>` in map insertion order, dropping entries without a name and
    * defaulting missing input to a typed empty array (parse_columns,
    * explore.R:74-103).
    */
  private def manifestColumnsCol(m: Column): Column =
    coalesce(
      filter(
        transform(
          map_values(m),
          c =>
            struct(
              c.getField("name").as("name"),
              c.getField("description").as("description"),
              c.getField("data_type").as("data_type"),
              c.getField("meta").as("meta"),
              c.getField("tags").as("tags")
            )
        ),
        c => c.getField("name").isNotNull
      ),
      array().cast(manifestColumnsOutType)
    )

  private val emptyDependsOn: Column = array().cast(dependsOnOutType)
  private val emptyColumns: Column = array().cast(manifestColumnsOutType)
  private def nullStr: Column = lit(null).cast("string")

  /** Each element of `arr` as one output row's struct. A NULL `arr` (an
    * absent or NULL section) becomes an empty array, so that section
    * adds no rows instead of nulling the whole `concat` of sections. */
  private def sectionRows(arr: Column)(row: Column => Seq[Column]): Column =
    coalesce(transform(arr, v => struct(row(v): _*)), array())

  /** The reference's presentation order (arrange, explore.R:251-257):
    * dplyr places NA last; Spark's bare asc is nulls-first. Optionally
    * prefixed by extra keys (source_file for the fleet glob variant). */
  private def presentationSort(df: DataFrame, prefix: String*): DataFrame =
    df.orderBy(
      (prefix ++ Seq("resource_type", "database", "schema", "name", "unique_id"))
        .map(asc_nulls_last): _*
    )

  /** `import_manifest_json` (explore.R:223-259): nodes ∪ sources ∪
    * macros as one table with the SURVEY §1.5 schema, in the reference's
    * presentation order. The file is one row, so the rows are sorted in
    * its one partition (`coalesce(1)`): the planner needs no range
    * exchange, whose sampling job would parse the file a second time.
    */
  def readManifest(spark: SparkSession, path: String): DataFrame =
    presentationSort(readManifestUnsorted(spark, path).coalesce(1))

  /** The manifest view WITHOUT the presentation sort. Derived operators
    * (lineage edges, closure, diff, impact) are order-insensitive and
    * skip the sort's per-row work — callers that immediately explode or
    * join should start here. */
  def readManifestUnsorted(spark: SparkSession, path: String): DataFrame =
    manifestFromRaw(rawJson(spark, path))

  /** Dual-input convention (SURVEY §2.1 S3 — the reference importers
    * accept a path OR an already-parsed object, explore.R:37-41,
    * :225-228): the overload takes any DataFrame with one JSON document
    * per row in `value` (e.g. a Kafka payload column or a pre-read
    * text table) and applies the same normalization.
    */
  def readManifest(raw: DataFrame): DataFrame = {
    require(raw.columns.contains("value"), "expected a 'value' column holding manifest JSON")
    presentationSort(manifestFromRaw(raw))
  }

  /** Dual-input overload for the catalog (explore.R:37-41). */
  def readCatalog(raw: DataFrame): DataFrame = {
    require(raw.columns.contains("value"), "expected a 'value' column holding catalog JSON")
    catalogFromParsed(raw.select(from_json(col("value"), catalogSchema).as("c")))
  }

  /** Fleet-scale variant: one call over a directory/glob of manifests
    * (e.g. one per project per run). Each file is still a single row
    * into `from_json`, so parsing parallelizes per file across
    * executors; output carries `source_file` provenance and sorts it
    * first so per-manifest blocks stay contiguous. The sort is a
    * distributed ORDER BY: its range-sampling job scans and parses the
    * files once more, and a corrupt or section-less file contributes
    * no rows.
    */
  def readManifestAll(spark: SparkSession, glob: String): DataFrame =
    manifestFromRaw(
      spark.read
        .option("wholetext", "true")
        .text(glob)
        .withColumn("source_file", input_file_name()),
      "source_file"
    ).transform(presentationSort(_, "source_file"))

  /** One `from_json` per document and one generator over it: each
    * section's map values become typed row structs, the three arrays are
    * concatenated in bind_rows order (:246-250) and `inline` turns the
    * elements into rows. `keep` names columns of `raw` carried onto
    * every row (the fleet reader's `source_file`).
    */
  private def manifestFromRaw(raw: DataFrame, keep: String*): DataFrame = {
    // explore.R:140-169 — note unique_id comes from the FIELD (:144),
    // unlike the catalog where it is the map key.
    val nodes = sectionRows(map_values(col("m.nodes"))) { v =>
      Seq(
        v("unique_id").as("unique_id"),
        lit("nodes").as("manifest_group"),
        v("resource_type").as("resource_type"),
        v("database").as("database"),
        v("schema").as("schema"),
        coalesce(v("alias"), v("name")).as("name"), // :149
        v("description").as("description"),
        v("config")("enabled").as("is_enabled"),
        v("config")("materialized").as("materialized_as"),
        dependsOnCol(v("depends_on")).as("depends_on"),
        manifestColumnsCol(v("columns")).as("columns"),
        v("meta").as("meta"),
        v("tags").as("tags"),
        // checksum kept only when the algorithm is sha256 (:159-162)
        when(v("checksum")("name") === "sha256", v("checksum")("checksum")).as("sha256")
      )
    }

    // explore.R:171-197
    val sources = sectionRows(map_values(col("m.sources"))) { v =>
      Seq(
        v("unique_id").as("unique_id"),
        lit("sources").as("manifest_group"),
        v("resource_type").as("resource_type"),
        v("database").as("database"),
        v("schema").as("schema"),
        v("identifier").as("name"), // :180
        v("description").as("description"),
        v("config")("enabled").as("is_enabled"),
        nullStr.as("materialized_as"), // :183
        emptyDependsOn.as("depends_on"), // :184-185
        manifestColumnsCol(v("columns")).as("columns"),
        v("meta").as("meta"),
        v("tags").as("tags"),
        nullStr.as("sha256") // :191
      )
    }

    // explore.R:199-221
    val macros = sectionRows(map_values(col("m.macros"))) { v =>
      Seq(
        v("unique_id").as("unique_id"),
        lit("macros").as("manifest_group"),
        v("resource_type").as("resource_type"),
        nullStr.as("database"), // :206
        nullStr.as("schema"), // :207
        v("name").as("name"),
        v("description").as("description"),
        lit(null).cast("boolean").as("is_enabled"), // :210
        nullStr.as("materialized_as"), // :211
        dependsOnCol(v("depends_on")).as("depends_on"),
        emptyColumns.as("columns"), // :213
        v("meta").as("meta"),
        v("tags").as("tags"),
        // :216 — the reference hashes R's *serialization* of macro_sql
        // (digest::digest default), an R-specific value; we intentionally
        // diverge to the content hash of the raw bytes (SURVEY §2.1 X4).
        sha2(v("macro_sql"), 256).as("sha256")
      )
    }

    raw
      .select(from_json(col("value"), manifestSchema).as("m") +: keep.map(col): _*)
      .select(keep.map(col) :+ inline(concat(nodes, sources, macros)): _*)
  }

  /** `import_catalog_json` (explore.R:35-65): nodes ∪ sources (each
    * section optional, :43-45) with unique_id taken from the MAP KEY
    * (:12). No final sort — the reference's `arrange()` at :31 has zero
    * keys and is a deliberate no-op we don't reproduce (SURVEY §2.1 O2).
    */
  def readCatalog(spark: SparkSession, path: String): DataFrame =
    catalogFromParsed(
      rawJson(spark, path).select(from_json(col("value"), catalogSchema).as("c"))
    )

  private def catalogFromParsed(c: DataFrame): DataFrame = {
    def section(m: Column, group: String): Column =
      sectionRows(map_entries(m)) { e => // absent section → NULL map → 0 rows
        val md = e("value")("metadata")
        Seq(
          e("key").as("unique_id"),
          lit(group).as("manifest_group"),
          md("database").as("database"),
          md("schema").as("schema"),
          md("name").as("name"),
          md("type").as("materialized_as"),
          coalesce(
            transform(
              map_values(e("value")("columns")),
              x =>
                struct(
                  x.getField("name").as("column_name"),
                  x.getField("index").as("ordinal_position"),
                  x.getField("type").as("data_type")
                )
            ),
            array().cast(catalogColumnsOutType)
          ).as("columns")
        )
      }

    c.select(inline(concat(section(col("c.nodes"), "nodes"), section(col("c.sources"), "sources"))))
  }

  /** Raw `sources.json` view (explore.R:279-282 loads it untransformed;
    * we expose the typed top-level row). */
  def readSourceFreshness(spark: SparkSession, path: String): DataFrame =
    rawJson(spark, path)
      .select(from_json(col("value"), sourceFreshnessSchema).as("s"))
      .select(
        col("s.metadata.generated_at").as("generated_at"),
        col("s.elapsed_time").as("elapsed_time"),
        col("s.results").as("results")
      )

  /** `sources.json` results exploded into one row per freshness check. */
  def sourceFreshnessResults(spark: SparkSession, path: String): DataFrame =
    readSourceFreshness(spark, path)
      .select(col("generated_at"), explode(col("results")).as("r"))
      .select(
        col("r.unique_id").as("unique_id"),
        col("r.status").as("status"),
        col("r.max_loaded_at").as("max_loaded_at"),
        col("r.snapshotted_at").as("snapshotted_at"),
        col("r.criteria.warn_after.count").as("warn_after_count"),
        col("r.criteria.warn_after.period").as("warn_after_period"),
        col("generated_at")
      )

  /** Raw `run_results.json` view (explore.R:286-289). */
  def readRunResults(spark: SparkSession, path: String): DataFrame =
    rawJson(spark, path)
      .select(from_json(col("value"), runResultsSchema).as("r"))
      .select(
        col("r.metadata.generated_at").as("generated_at"),
        col("r.elapsed_time").as("elapsed_time"),
        col("r.args").as("args"),
        col("r.results").as("results")
      )

  /** `run_results.json` results exploded into one row per executed node. */
  def runResultsResults(spark: SparkSession, path: String): DataFrame =
    readRunResults(spark, path)
      .select(col("generated_at"), explode(col("results")).as("r"))
      .select(
        col("r.unique_id").as("unique_id"),
        col("r.status").as("status"),
        col("r.execution_time").as("execution_time"),
        col("r.message").as("message"),
        col("r.adapter_response").as("adapter_response"),
        col("generated_at")
      )
}
