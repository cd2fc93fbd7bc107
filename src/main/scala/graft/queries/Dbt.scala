package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.dbt.{DbtArtifacts, ManifestOps}

/** dbt-artifact ingestion exposed as named queries (SURVEY.md §2.1
  * S1-S4/F1-F4/P1-P5/X1-X5/N1-N2/A1-A2/O1/V1 — the reference-parity
  * surface). The full-fidelity nested views (`readManifest`,
  * `readCatalog`) are asserted row-exactly by the golden-fixture
  * ScalaTest specs; the registered queries project comparator-safe
  * shapes (scalars, cardinalities, exploded children) and each carries
  * a DuckDB oracle that re-derives the same result from the raw JSON
  * with DuckDB's JSON functions — an independent second implementation
  * of the reference semantics (/root/reference/explore.R:223-259).
  */
object Dbt {

  /** Fixture dir is stable within the repo; FIXTURES.md §A documents the
    * shapes. */
  val fixtureDir = "/root/repo/src/test/resources/dbt"

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL builders. Each re-implements the explode of a
  // map-keyed JSON section (SURVEY §1.1 F1/F2) via json_keys + unnest;
  // unique_ids contain dots so every key is spliced in quoted form.

  /** json path to a field of section entry `key`: $.<sec>."<key>".<field> */
  private def p(sec: String, field: String): String =
    s"""'$$.$sec."'||key||'".$field'"""

  private def str(sec: String, field: String): String =
    s"json_extract_string(content, ${p(sec, field)})"

  private def js(sec: String, field: String): String =
    s"json_extract(content, ${p(sec, field)})"

  /** Spark `array_join(tags, ',')`: NULL array → NULL, empty → ''.
    * DuckDB's array_to_string([]) is NULL, hence the guard. */
  private def tagsCsv(sec: String): String =
    s"""CASE WHEN ${js(sec, "tags")} IS NULL THEN NULL
        ELSE coalesce(array_to_string(CAST(${js(sec, "tags")} AS VARCHAR[]), ','), '') END"""

  /** size(depends_on) after the parse_depends_on fan-out: |macros|+|nodes|,
    * absent arrays counting 0 (explore.R:105-138). */
  private def nDependsOn(sec: String): String =
    s"""CAST(coalesce(len(CAST(${js(sec, "depends_on.macros")} AS VARCHAR[])), 0)
           + coalesce(len(CAST(${js(sec, "depends_on.nodes")} AS VARCHAR[])), 0) AS BIGINT)"""

  /** Entries of the `columns` map that carry a name (parse_columns drops
    * nameless entries, explore.R:88). */
  private def nManifestColumns(sec: String): String =
    s"""CAST(coalesce(len(list_filter(
          json_keys(content, '$$.$sec."'||key||'".columns'),
          ck -> json_extract_string(content, '$$.$sec."'||key||'".columns."'||ck||'".name') IS NOT NULL)), 0) AS BIGINT)"""

  /** checksum kept only under the sha256 algorithm (explore.R:159-162). */
  private def nodeSha: String =
    s"""CASE WHEN ${str("nodes", "checksum.name")} = 'sha256'
        THEN ${str("nodes", "checksum.checksum")} END"""

  /** Per-section key scan CTEs over one manifest/catalog file. */
  private def keyCtes(path: String, sections: Seq[String]): String = {
    val t = s"SELECT content FROM read_text('$path')"
    val ks = sections
      .map(s => s"${s}_k AS (SELECT unnest(json_keys(content, '$$.$s')) AS key, content FROM t)")
      .mkString(",\n")
    s"t AS ($t),\n$ks"
  }

  /** The flattened df_manifest view (SURVEY §1.5 minus nested cells):
    * nodes ∪ sources ∪ macros with scalar columns + child cardinalities. */
  private def manifestFlatSql(path: String): String =
    s"""WITH ${keyCtes(path, Seq("nodes", "sources", "macros"))}
      SELECT ${str("nodes", "unique_id")} AS unique_id,
             'nodes' AS manifest_group,
             ${str("nodes", "resource_type")} AS resource_type,
             ${str("nodes", "database")} AS database,
             ${str("nodes", "schema")} AS schema,
             coalesce(${str("nodes", "alias")}, ${str("nodes", "name")}) AS name,
             ${str("nodes", "description")} AS description,
             CAST(${js("nodes", "config.enabled")} AS BOOLEAN) AS is_enabled,
             ${str("nodes", "config.materialized")} AS materialized_as,
             ${nDependsOn("nodes")} AS n_depends_on,
             ${nManifestColumns("nodes")} AS n_columns,
             ${tagsCsv("nodes")} AS tags_csv,
             $nodeSha AS sha256
      FROM nodes_k
      UNION ALL
      SELECT ${str("sources", "unique_id")},
             'sources',
             ${str("sources", "resource_type")},
             ${str("sources", "database")},
             ${str("sources", "schema")},
             ${str("sources", "identifier")},
             ${str("sources", "description")},
             CAST(${js("sources", "config.enabled")} AS BOOLEAN),
             NULL,
             CAST(0 AS BIGINT),
             ${nManifestColumns("sources")},
             ${tagsCsv("sources")},
             NULL
      FROM sources_k
      UNION ALL
      SELECT ${str("macros", "unique_id")},
             'macros',
             ${str("macros", "resource_type")},
             NULL,
             NULL,
             ${str("macros", "name")},
             ${str("macros", "description")},
             CAST(NULL AS BOOLEAN),
             NULL,
             ${nDependsOn("macros")},
             CAST(0 AS BIGINT),
             ${tagsCsv("macros")},
             sha256(${str("macros", "macro_sql")})
      FROM macros_k"""

  /** (unique_id, sha256, materialized_as) per manifest entity — the diff
    * key columns (ManifestOps.diff). */
  private def manifestShaSql(path: String): String =
    s"""WITH ${keyCtes(path, Seq("nodes", "sources", "macros"))}
       SELECT ${str("nodes", "unique_id")} AS unique_id,
             $nodeSha AS sha,
             ${str("nodes", "config.materialized")} AS mat
       FROM nodes_k
       UNION ALL
       SELECT ${str("sources", "unique_id")}, NULL, NULL FROM sources_k
       UNION ALL
       SELECT ${str("macros", "unique_id")}, sha256(${str("macros", "macro_sql")}), NULL
       FROM macros_k"""

  /** depends_on fan-out as (src, dst) pairs of one section+type. */
  private def edgeBranchSql(sec: String, depType: String): String =
    s"""SELECT ${str(sec, "unique_id")} AS src,
              unnest(CAST(${js(sec, s"depends_on.$depType")} AS VARCHAR[])) AS dst
       FROM ${sec}_k"""

  /** Distinct lineage edges of one manifest file (both dep types). */
  private def edgesSql(path: String): String =
    s"""WITH ${keyCtes(path, Seq("nodes", "macros"))},
       edges AS (${edgeBranchSql("nodes", "macros")}
         UNION ALL ${edgeBranchSql("nodes", "nodes")}
         UNION ALL ${edgeBranchSql("macros", "macros")}
         UNION ALL ${edgeBranchSql("macros", "nodes")})
       SELECT DISTINCT src, dst FROM edges"""

  /** Recursive-CTE transitive closure with shortest hop count — the
    * oracle for ManifestOps.transitiveClosure's per-source breadth-first
    * search (first discovery = min hops; a NULL id joins nothing). */
  private def closureSql(edges: String, maxHops: Int = 10): String =
    s"""WITH RECURSIVE e(src, dst) AS ($edges),
       paths(src, dst, hops) AS (
         SELECT src, dst, 1 FROM e
         UNION
         SELECT p.src, e.dst, p.hops + 1 FROM paths p JOIN e ON p.dst = e.src
         WHERE p.hops < $maxHops
       )
       SELECT src, dst, CAST(min(hops) AS INTEGER) AS hops
       FROM paths GROUP BY src, dst"""

  private def diffSql(before: String, after: String): String =
    s"""SELECT coalesce(b.unique_id, a.unique_id) AS unique_id,
              CASE WHEN b.unique_id IS NULL THEN 'added'
                   WHEN a.unique_id IS NULL THEN 'removed'
                   WHEN (b.sha IS DISTINCT FROM a.sha)
                     OR (b.mat IS DISTINCT FROM a.mat) THEN 'changed'
                   ELSE 'unchanged' END AS status,
              b.sha AS sha_before,
              a.sha AS sha_after
       FROM (${manifestShaSql(before)}) b
       FULL OUTER JOIN (${manifestShaSql(after)}) a USING (unique_id)"""

  // ---------------------------------------------------------------------

  private val manifestPath = s"$fixtureDir/manifest.json"
  private val manifestV2Path = s"$fixtureDir/manifest_v2.json"

  /** Comparator-safe flat projection of the manifest view (scalars +
    * child cardinalities). */
  // starts from the UNSORTED view: consumers either re-sort on their own
  // key (merge) or feed the driver comparator, which sorts before hashing
  private def flatManifest(s: org.apache.spark.sql.SparkSession, path: String) =
    DbtArtifacts
      .readManifestUnsorted(s, path)
      .select(
        col("unique_id"),
        col("manifest_group"),
        col("resource_type"),
        col("database"),
        col("schema"),
        col("name"),
        col("description"),
        col("is_enabled"),
        col("materialized_as"),
        size(col("depends_on")).cast("long").as("n_depends_on"),
        size(col("columns")).cast("long").as("n_columns"),
        array_join(col("tags"), ",").as("tags_csv"),
        col("sha256")
      )

  val defs: Seq[QueryDef] = Seq(
    // Flattened df_manifest: every scalar output column of the reference
    // view plus cardinalities of the nested cells (the nested
    // ARRAY<STRUCT> originals are spec-checked; parquet→pandas in the
    // driver's comparator cannot hash array cells).
    QueryDef(
      "dbt_manifest",
      (s, _) => flatManifest(s, manifestPath),
      Some(manifestFlatSql(manifestPath))
    ),
    // Fleet-scale multi-file ingestion: ONE call over a glob of
    // manifests; each file parses as a single row in parallel and the
    // output carries source_file provenance.
    QueryDef(
      "dbt_manifest_all",
      (s, _) =>
        DbtArtifacts
          // brace-glob pinned to exactly the files the oracle reads:
          // a bare manifest*.json would silently pull any future
          // fixture (manifest_v3.json, manifest_broken.json) into this
          // query and fail the gate far from the file that caused it
          .readManifestAll(s, s"$fixtureDir/manifest{,_v2}.json")
          .select(
            // input_file_name is a file:// URI; the oracle's read_text
            // filename is a plain path
            regexp_replace(col("source_file"), "^file://", "").as("source_file"),
            col("unique_id"),
            col("manifest_group"),
            col("resource_type"),
            col("name"),
            col("sha256")
          ),
      Some(s"""SELECT '$fixtureDir/manifest.json' AS source_file,
               unique_id, manifest_group, resource_type, name, sha256
        FROM (${manifestFlatSql(s"$fixtureDir/manifest.json")})
        UNION ALL
        SELECT '$fixtureDir/manifest_v2.json',
               unique_id, manifest_group, resource_type, name, sha256
        FROM (${manifestFlatSql(s"$fixtureDir/manifest_v2.json")})""")
    ),
    // Incremental upsert of two manifest snapshots, latest wins — dbt's
    // incremental-materialization primitive as one anti-join + union.
    QueryDef(
      "dbt_manifest_merge",
      (s, _) =>
        ManifestOps
          .upsert(flatManifest(s, manifestPath), flatManifest(s, manifestV2Path), "unique_id")
          .orderBy("unique_id"),
      Some(s"""SELECT * FROM (${manifestFlatSql(manifestV2Path)})
        UNION ALL
        SELECT * FROM (${manifestFlatSql(manifestPath)}) a
        WHERE NOT EXISTS (SELECT 1 FROM (${manifestFlatSql(manifestV2Path)}) b
                          WHERE b.unique_id = a.unique_id)
        ORDER BY unique_id""")
    ),
    // df_manifest's nested `columns` cell, exploded (F2 + N1 round-trip).
    QueryDef(
      "dbt_manifest_columns",
      (s, _) =>
        DbtArtifacts
          .readManifestUnsorted(s, manifestPath)
          .select(col("unique_id"), col("manifest_group"), explode(col("columns")).as("c"))
          .select(
            col("unique_id"),
            col("manifest_group"),
            col("c.name").as("column_name"),
            col("c.description").as("column_description"),
            col("c.data_type").as("column_data_type"),
            array_join(col("c.tags"), ",").as("tags_csv")
          ),
      Some(s"""WITH ${keyCtes(manifestPath, Seq("nodes", "sources"))},
        cols AS (
          SELECT key, 'nodes' AS manifest_group, unnest(json_keys(content, ${p("nodes", "columns")})) AS ck, content
          FROM nodes_k
          UNION ALL
          SELECT key, 'sources', unnest(json_keys(content, ${p("sources", "columns")})) AS ck, content
          FROM sources_k)
        SELECT json_extract_string(content, '$$.'||manifest_group||'."'||key||'".unique_id') AS unique_id,
               manifest_group,
               json_extract_string(content, cp||'.name') AS column_name,
               json_extract_string(content, cp||'.description') AS column_description,
               json_extract_string(content, cp||'.data_type') AS column_data_type,
               CASE WHEN json_extract(content, cp||'.tags') IS NULL THEN NULL
                    ELSE coalesce(array_to_string(CAST(json_extract(content, cp||'.tags') AS VARCHAR[]), ','), '') END AS tags_csv
        FROM (SELECT *, '$$.'||manifest_group||'."'||key||'".columns."'||ck||'"' AS cp FROM cols)
        WHERE json_extract_string(content, cp||'.name') IS NOT NULL""")
    ),
    // Flattened df_catalog (explore.R:35-65); unique_id is the MAP KEY.
    QueryDef(
      "dbt_catalog",
      (s, _) =>
        DbtArtifacts
          .readCatalog(s, s"$fixtureDir/catalog.json")
          .select(
            col("unique_id"),
            col("manifest_group"),
            col("database"),
            col("schema"),
            col("name"),
            col("materialized_as"),
            size(col("columns")).cast("long").as("n_columns")
          ),
      Some(s"""WITH ${keyCtes(s"$fixtureDir/catalog.json", Seq("nodes", "sources"))},
        ents AS (SELECT key, 'nodes' AS manifest_group, content FROM nodes_k
                 UNION ALL SELECT key, 'sources', content FROM sources_k)
        SELECT key AS unique_id,
               manifest_group,
               json_extract_string(content, bp||'.metadata.database') AS database,
               json_extract_string(content, bp||'.metadata.schema') AS schema,
               json_extract_string(content, bp||'.metadata.name') AS name,
               json_extract_string(content, bp||'.metadata.type') AS materialized_as,
               CAST(coalesce(len(json_keys(content, bp||'.columns')), 0) AS BIGINT) AS n_columns
        FROM (SELECT *, '$$.'||manifest_group||'."'||key||'"' AS bp FROM ents)""")
    ),
    // df_catalog's nested columns cell, exploded (catalog F2: map over
    // `columns` values with name/index/type, explore.R:17-28).
    QueryDef(
      "dbt_catalog_columns",
      (s, _) =>
        DbtArtifacts
          .readCatalog(s, s"$fixtureDir/catalog.json")
          .select(col("unique_id"), col("manifest_group"), explode(col("columns")).as("c"))
          .select(
            col("unique_id"),
            col("manifest_group"),
            col("c.column_name"),
            col("c.ordinal_position"),
            col("c.data_type")
          ),
      Some(s"""WITH ${keyCtes(s"$fixtureDir/catalog.json", Seq("nodes", "sources"))},
        cols AS (
          SELECT key, 'nodes' AS manifest_group, unnest(json_keys(content, ${p("nodes", "columns")})) AS ck, content
          FROM nodes_k
          UNION ALL
          SELECT key, 'sources', unnest(json_keys(content, ${p("sources", "columns")})) AS ck, content
          FROM sources_k)
        SELECT key AS unique_id,
               manifest_group,
               json_extract_string(content, cp||'.name') AS column_name,
               CAST(json_extract(content, cp||'.index') AS INTEGER) AS ordinal_position,
               json_extract_string(content, cp||'.type') AS data_type
        FROM (SELECT *, '$$.'||manifest_group||'."'||key||'".columns."'||ck||'"' AS cp FROM cols)""")
    ),
    // Raw sources.json freshness results (explore.R:279-282), exploded.
    QueryDef(
      "dbt_source_freshness",
      (s, _) => DbtArtifacts.sourceFreshnessResults(s, s"$fixtureDir/sources.json"),
      Some(s"""WITH t AS (SELECT content FROM read_text('$fixtureDir/sources.json')),
        r AS (SELECT unnest(CAST(json_extract(content, '$$.results') AS JSON[])) AS r, content FROM t)
        SELECT json_extract_string(r, '$$.unique_id') AS unique_id,
               json_extract_string(r, '$$.status') AS status,
               CAST(json_extract_string(r, '$$.max_loaded_at') AS TIMESTAMP) AS max_loaded_at,
               CAST(json_extract_string(r, '$$.snapshotted_at') AS TIMESTAMP) AS snapshotted_at,
               CAST(json_extract(r, '$$.criteria.warn_after.count') AS BIGINT) AS warn_after_count,
               json_extract_string(r, '$$.criteria.warn_after.period') AS warn_after_period,
               CAST(json_extract_string(content, '$$.metadata.generated_at') AS TIMESTAMP) AS generated_at
        FROM r""")
    ),
    // Raw run_results.json (explore.R:286-289), exploded; the freeform
    // adapter_response map surfaces as its one well-known key.
    QueryDef(
      "dbt_run_results",
      (s, _) =>
        DbtArtifacts
          .runResultsResults(s, s"$fixtureDir/run_results.json")
          .withColumn("rows_affected", element_at(col("adapter_response"), "rows_affected"))
          .drop("adapter_response"),
      Some(s"""WITH t AS (SELECT content FROM read_text('$fixtureDir/run_results.json')),
        r AS (SELECT unnest(CAST(json_extract(content, '$$.results') AS JSON[])) AS r, content FROM t)
        SELECT json_extract_string(r, '$$.unique_id') AS unique_id,
               json_extract_string(r, '$$.status') AS status,
               CAST(json_extract(r, '$$.execution_time') AS DOUBLE) AS execution_time,
               json_extract_string(r, '$$.message') AS message,
               CAST(json_extract_string(content, '$$.metadata.generated_at') AS TIMESTAMP) AS generated_at,
               json_extract_string(r, '$$.adapter_response.rows_affected') AS rows_affected
        FROM r""")
    ),
    QueryDef(
      "dbt_lineage_edges",
      (s, _) =>
        ManifestOps
          .lineageEdges(DbtArtifacts.readManifestUnsorted(s, manifestPath))
          .orderBy("src", "dep_type", "dst"),
      // flat output → oracle-checkable even though the input is a JSON
      // fixture: DuckDB re-derives the edges with its JSON functions
      // (quoted paths because unique_ids contain dots; absent
      // depends_on arrays cast to NULL lists → unnest yields 0 rows)
      Some(s"""WITH ${keyCtes(manifestPath, Seq("nodes", "macros"))},
        edges AS (
          SELECT src, 'macros' AS dep_type, dst FROM (${edgeBranchSql("nodes", "macros")})
          UNION ALL
          SELECT src, 'nodes', dst FROM (${edgeBranchSql("nodes", "nodes")})
          UNION ALL
          SELECT src, 'macros', dst FROM (${edgeBranchSql("macros", "macros")})
          UNION ALL
          SELECT src, 'nodes', dst FROM (${edgeBranchSql("macros", "nodes")})
        )
        SELECT src, dep_type, dst FROM edges ORDER BY src, dep_type, dst""")
    ),
    QueryDef(
      "dbt_lineage_closure",
      (s, _) =>
        ManifestOps
          .transitiveClosure(
            ManifestOps.lineageEdges(DbtArtifacts.readManifestUnsorted(s, manifestPath))
          )
          .orderBy("src", "dst", "hops"),
      Some(closureSql(edgesSql(manifestPath)))
    ),
    // Same closure, stated as SQL: Spark 4.1's WITH RECURSIVE planned by
    // Catalyst (UnionLoop), oracle'd against DuckDB's recursive CTE —
    // cross-checks the breadth-first search of the DataFrame
    // implementation above through a completely different execution path.
    QueryDef(
      "dbt_closure_recursive",
      (s, _) => {
        ManifestOps
          .lineageEdges(DbtArtifacts.readManifestUnsorted(s, manifestPath))
          .select("src", "dst")
          .createOrReplaceTempView("lineage_edges_rc")
        // Spark 4.1 rejects UNION (distinct) in recursive CTEs
        // (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so unlike the DuckDB
        // oracle's UNION and the breadth-first search's visited set,
        // this recursion enumerates every distinct PATH — exponential on
        // chained-diamond DAGs. Output is identical (min(hops) collapses
        // paths) and the hop bound caps the blowup, but for
        // deep/diamond-heavy graphs at scale prefer
        // ManifestOps.transitiveClosure, which visits each node once
        // per source.
        s.sql("""WITH RECURSIVE paths(src, dst, hops) AS (
            SELECT src, dst, 1 FROM lineage_edges_rc
            UNION ALL
            SELECT p.src, e.dst, p.hops + 1
            FROM paths p JOIN lineage_edges_rc e ON p.dst = e.src
            WHERE p.hops < 10
          )
          SELECT src, dst, CAST(min(hops) AS INT) AS hops
          FROM paths GROUP BY src, dst
          ORDER BY src, dst""")
      },
      Some(closureSql(edgesSql(manifestPath)))
    ),
    QueryDef(
      "dbt_manifest_diff",
      (s, _) =>
        ManifestOps.diff(
          DbtArtifacts.readManifestUnsorted(s, manifestPath),
          DbtArtifacts.readManifestUnsorted(s, manifestV2Path)
        ),
      Some(diffSql(manifestPath, manifestV2Path))
    ),
    QueryDef(
      "dbt_impact",
      (s, _) =>
        ManifestOps.impacted(
          DbtArtifacts.readManifestUnsorted(s, manifestPath),
          DbtArtifacts.readManifestUnsorted(s, manifestV2Path)
        ),
      Some(s"""WITH changed AS (
          SELECT unique_id AS changed_id FROM (${diffSql(manifestPath, manifestV2Path)})
          WHERE status = 'changed'),
        closure AS (${closureSql(edgesSql(manifestV2Path))})
        SELECT changed_id, closure.src AS impacted_id, hops
        FROM closure JOIN changed ON closure.dst = changed.changed_id""")
    )
  )
}
