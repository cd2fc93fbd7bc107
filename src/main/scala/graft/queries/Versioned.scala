package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{AsOfIndex, Catalog, FeedView, InvertedIndex, ShingleIndex, TableVersions}

/** Multi-version table store queries (operators/TableVersions): time
  * travel (q166) and change-data-capture between versions (q167). The
  * corpus-management reality behind both: a training corpus is not a
  * static directory, it is a sequence of crawls, deletions (takedown /
  * erasure), and re-processings — and reproducing LAST month's
  * training run needs last month's TABLE, while downstream consumers
  * (indexes, dedup state) want the DELTA, not a re-read.
  */
object Versioned {

  /** Build the 4-commit version history every query here reads:
    * v0 init (doc_id ≡ 0 mod 3) → v1 append (≡ 1) → v2 copy-on-write
    * delete (lang = 'en') → v3 copy-on-write update (zh docs get
    * n_chars += 1000). Deterministic content at every version, so the
    * oracles restate each version as a plain filter of `documents`.
    */
  private def buildHistory(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val tdir = Similarity.freshIndexDir("versioned_docs")
    val docs = Tables(s, dir, "documents")
    TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0), tdir)
    TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 1), tdir)
    TableVersions.commitDelete(s, tdir, "lang = 'en'")
    TableVersions.commitUpdate(
      s,
      tdir,
      "lang = 'zh'",
      m => m.withColumn("n_chars", col("n_chars") + 1000)
    )
    tdir
  }

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // Time travel: after init → append → delete → update, read the
    // table AS OF every version and emit per-version row count, char
    // mass, and an order-independent XOR of per-doc content
    // fingerprints (q148's manifest idiom — any row lost, duplicated,
    // or silently mutated at any version flips that version's hash).
    // The reads resolve through the parquet transaction log: "files
    // live at v" is one aggregation over an O(commits) table, and
    // old versions cost nothing to keep (files are immutable;
    // copy-on-write rewrote only the files the delete/update HIT).
    // ORACLE-EXACT because every version's content is a deterministic
    // function of `documents` the oracle restates as filters.
    QueryDef(
      "q166_time_travel",
      (s, dir) => {
        val tdir = buildHistory(s, dir)
        (0L to 3L)
          .map { v =>
            TableVersions
              .readVersion(s, tdir, v)
              .agg(
                count(lit(1)).as("n_rows"),
                sum("n_chars").as("sum_chars"),
                expr(
                  "bit_xor(cast(conv(substring(md5(concat(cast(doc_id AS string), ':', text, ':', lang, ':', cast(n_chars AS string))), 1, 15), 16, 10) AS bigint))"
                ).as("fp_xor")
              )
              .select(lit(v).as("version"), col("n_rows"), col("sum_chars"), col("fp_xor"))
          }
          .reduce(_ unionByName _)
          .orderBy("version")
      },
      Some("""WITH v0 AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
        v1 AS (SELECT * FROM documents WHERE doc_id % 3 IN (0, 1)),
        v2 AS (SELECT * FROM v1 WHERE lang <> 'en'),
        v3 AS (SELECT doc_id, text, lang, source,
                      CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
               FROM v2),
        all_v AS (
          SELECT 0 AS version, * FROM v0 UNION ALL
          SELECT 1, * FROM v1 UNION ALL
          SELECT 2, * FROM v2 UNION ALL
          SELECT 3, * FROM v3)
        SELECT CAST(version AS BIGINT) AS version,
               count(*) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text || ':' || lang || ':' || CAST(n_chars AS VARCHAR)), 1, 15)) AS BIGINT)) AS fp_xor
        FROM all_v GROUP BY version ORDER BY version""")
    ),

    // ------------------------------------------------------------------
    // CDC: the logical delta between the initial commit and the head
    // version — inserts (appended and still present), deletes (initial
    // docs the erasure commit removed), updates (initial docs whose
    // content the update commit changed) — keyed by doc_id with md5
    // content fingerprints, so the full-outer diff shuffles (key, fp)
    // pairs only, never document bodies (q125's reconciliation shape,
    // driven through the version store instead of two ad-hoc reads).
    // This is what an incremental index maintainer consumes: exactly
    // the keys to re-embed, tombstone, or admit, regardless of how
    // many commits happened in between.
    QueryDef(
      "q167_version_cdc",
      (s, dir) => {
        val tdir = buildHistory(s, dir)
        TableVersions
          .changes(s, tdir, "doc_id", 0L, 3L)
          .orderBy("doc_id")
      },
      Some("""WITH v0 AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
        v3 AS (SELECT doc_id, text, lang, source,
                      CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
               FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'en')
        SELECT doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'insert'
                    WHEN n.doc_id IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type
        FROM (SELECT doc_id FROM v0) o
        FULL OUTER JOIN (SELECT doc_id, lang FROM v3) n USING (doc_id)
        WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR n.lang = 'zh'
        ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // Incremental view maintenance (IVM) — the aggregate-side consumer
    // of CDC, beside q169's index-side one: a per-lang (doc count,
    // char mass) view materialized at v0 is brought to the head
    // version by applying ONLY the delta — each delete/update-old
    // subtracts its contribution, each insert/update-new adds its own
    // (a lang-changing update moves mass between groups via two
    // contributions). Count/sum views are self-maintainable, so the
    // maintained view must equal the head-version aggregate EXACTLY —
    // which is precisely what the oracle checks (it computes the view
    // directly from v3's restated content). Plan: the diff shuffles
    // (key, fingerprint, 2 payload columns); contributions collapse
    // group-keyed; the base view never re-reads v0 and the head
    // version is never aggregated — the whole point of IVM at 100 TB.
    QueryDef(
      "q178_incremental_view",
      (s, dir) => {
        val tdir = buildHistory(s, dir)
        val base = TableVersions
          .readVersion(s, tdir, 0L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        val delta =
          TableVersions.changesDetailed(s, tdir, "doc_id", 0L, 3L, Seq("lang", "n_chars"))
        val contribs = delta
          .select(
            explode(
              expr(
                """filter(array(
                     CASE WHEN change_type IN ('delete', 'update')
                          THEN struct(lang_old AS lang, -1L AS dn, -n_chars_old AS dc) END,
                     CASE WHEN change_type IN ('insert', 'update')
                          THEN struct(lang_new AS lang, 1L AS dn, n_chars_new AS dc) END),
                   x -> x IS NOT NULL)"""
              )
            ).as("c")
          )
          .select("c.*")
          .groupBy("lang")
          .agg(sum("dn").as("dn"), sum("dc").as("dc"))
        base
          .join(contribs, Seq("lang"), "full_outer")
          .select(
            col("lang"),
            (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sum_chars")
          )
          .filter(col("n_docs") > 0)
          .orderBy("lang")
      },
      Some("""WITH v3 AS (
          SELECT doc_id, lang,
                 CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
          FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'en')
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM v3 GROUP BY lang ORDER BY lang""")
    ),

    // ------------------------------------------------------------------
    // Retention vacuum — the lifecycle step that makes "every version
    // readable forever" affordable: after the 4-commit history, all
    // files whose last reference predates the head version are
    // physically deleted (checked Hadoop-FS deletes) and a watermark
    // turns later sub-horizon time travel into a LOUD retention error
    // instead of a missing-file stack trace. The head read after
    // vacuuming must be byte-equivalent to before — which is exactly
    // what the oracle checks (the same per-lang census as q178,
    // computed from the restated head content). TableVersionsSpec
    // pins the physical side: doomed files gone, retained files
    // untouched, sub-horizon reads refused, idempotent re-vacuum.
    QueryDef(
      "q182_vacuum",
      (s, dir) => {
        val tdir = buildHistory(s, dir)
        TableVersions.vacuum(s, tdir, keepFrom = 3L)
        TableVersions
          .readVersion(s, tdir, 3L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""WITH v3 AS (
          SELECT doc_id, lang,
                 CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
          FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'en')
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM v3 GROUP BY lang ORDER BY lang""")
    ),

    // ------------------------------------------------------------------
    // CDC-driven index maintenance — the consumer loop the version
    // store exists to feed: the embeddings table goes through init →
    // append → erasure-delete → re-embed-update commits; an IVF index
    // built at v0 is then brought up to the head version by consuming
    // ONLY the CDC delta — inserts append (exchange-free assignment),
    // deletes tombstone (one tiny write), and updates take the
    // documented slow path (tombstone + compact + re-append: a
    // re-appended vec_id would otherwise be hidden by its own
    // tombstone, so the physical rewrite must clear tombstones before
    // the new content lands). Nothing corpus-scaled recomputes — the
    // index never re-reads rows the delta didn't name, except the one
    // compaction rewrite updates force. CdcSyncSpec pins the synced
    // probe bit-identical to an index rebuilt from the head version
    // with the same centroids. Rows-only (KMeans cells are
    // implementation-defined).
    QueryDef(
      "q169_cdc_index_sync",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_emb")
        val emb = Tables(s, dir, "embeddings")
        TableVersions.commitAppend(emb.filter(col("vec_id") % 4 =!= 3), tdir) // v0
        TableVersions.commitAppend(emb.filter(col("vec_id") % 4 === 3), tdir) // v1
        TableVersions.commitDelete(s, tdir, "vec_id % 7 = 0") // v2: erasure
        TableVersions.commitUpdate( // v3: re-embedded slice
          s,
          tdir,
          "vec_id % 11 = 5",
          m => m.withColumn("embedding", expr("transform(embedding, x -> cast(-x AS float))"))
        )
        syncedProbe(s, tdir, vOld = 0L, vNew = 3L)._1
      },
      None
    ),

    // ------------------------------------------------------------------
    // MERGE INTO — the upsert commit every CDC-consuming pipeline
    // eventually needs (a re-crawl batch carries both refreshed
    // versions of known documents AND brand-new ones; two commits
    // would leave a window where the table holds neither): one
    // commitMerge keyed on doc_id replaces the matched rows and
    // inserts the rest. Copy-on-write discipline — the touched-file
    // probe is a key-only semi join (shuffles (key, file) pairs, never
    // bodies), only hit files rewrite. ORACLE-EXACT: the merged head
    // is a deterministic set expression over `documents` (unmatched
    // target ∪ updated slice ∪ inserted slice) the oracle restates
    // directly; TableVersionsSpec adds duplicate-key rejection and
    // rewrite minimality.
    QueryDef(
      "q185_merge_upsert",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_merge")
        val docs = Tables(s, dir, "documents")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0), tdir) // v0
        val source = docs
          .filter(col("doc_id") % 6 === 0) // re-crawled: refreshed content
          .withColumn("lang", lit("xx"))
          .withColumn("n_chars", col("n_chars") + 7)
          .unionByName(docs.filter(col("doc_id") % 3 === 1)) // brand-new docs
        TableVersions.commitMerge(source, tdir, "doc_id")
        TableVersions
          .readVersion(s, tdir, 1L)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some(mergeOracle)
    ),

    // ------------------------------------------------------------------
    // OPTIMIZE — small-file compaction as a commit: six trickle
    // appends (the realistic shape of micro-batch ingest — q186 lands
    // one batch directory per trigger) leave the head reading six tiny
    // files; optimize() bin-packs them into ~targetBytes outputs and
    // swaps them in THROUGH THE LOG, so the rewrite is a logical no-op
    // (CDC between the versions is empty, spec-pinned) while the
    // head's file listing drops from O(commits) to O(data/target).
    // At 100 TB this is the difference between a scan scheduling
    // thousands of splits and millions: the store's read cost is
    // governed by file count, and ingest NEVER stops producing small
    // files — checkpoint bounds the log, optimize bounds the data,
    // vacuum reclaims both. ORACLE-EXACT: the optimized head must read
    // back as plain `documents`.
    QueryDef(
      "q187_optimize",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_opt")
        val docs = Tables(s, dir, "documents")
        (0 to 5).foreach { i =>
          TableVersions.commitAppend(docs.filter(col("doc_id") % 6 === i).coalesce(1), tdir)
        }
        val v = TableVersions.optimize(s, tdir)
        TableVersions
          .readVersion(s, tdir, v)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang ORDER BY lang""")
    ),

    // ------------------------------------------------------------------
    // Data-skipping stats index — the read-side accelerator the store
    // was missing: a commit laid out `repartitionByRange(8)` leaves
    // each file holding a tight doc_id range; `refreshStats` scans the
    // (new) files ONCE into a per-(file, column) [lo, hi] table, and a
    // range read then schedules only the files whose range intersects
    // the predicate — at 100 TB this is the difference between a point
    // lookup scanning the table and scanning one file. Absence is
    // correctness-safe (unstatted files are always read, spec-pinned),
    // so stats refresh at maintenance cadence like checkpoint/optimize.
    // ORACLE-EXACT: the pruned read must equal the plain filter.
    QueryDef(
      "q188_stats_pruned_read",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_stats")
        val docs = Tables(s, dir, "documents")
        TableVersions.commitAppend(docs.repartitionByRange(8, col("doc_id")), tdir)
        TableVersions.refreshStats(s, tdir, Seq("doc_id", "n_chars"))
        TableVersions
          .readVersionPruned(s, tdir, 0L, "doc_id", 10d, 30d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE doc_id BETWEEN 10 AND 30 ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // Bloom file-skipping — the POINT-lookup complement of q188's
    // numeric [lo, hi] stats (which deliberately skip strings): the
    // table lands hash-partitioned by source (each file holds few
    // sources), refreshBloom indexes the string columns into a
    // relational (file, col, bit) table, and a source = 'src7' lookup
    // schedules only the files whose bloom can contain the value —
    // at 100 TB, "which shard holds this domain / this doc id" without
    // scanning the table, the Delta bloom-index pattern. Absence is
    // correctness-safe (unindexed files always read) and false
    // negatives are impossible (a file containing the value set
    // exactly the probed bits), so pruning can only cost speed, never
    // rows — which is exactly what the oracle checks: the pruned read
    // must equal the plain equality filter. ORACLE-EXACT;
    // BloomIndexSpec pins the physical side (files actually skipped,
    // all-NULL skip, incremental refresh, config-mismatch refusal).
    QueryDef(
      "q196_bloom_pruned_read",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_bloom")
        val docs = Tables(s, dir, "documents")
        TableVersions.commitAppend(docs.repartition(8, col("source")), tdir)
        TableVersions.refreshBloom(s, tdir, Seq("source", "lang"))
        TableVersions
          .readVersionPoint(s, tdir, 0L, "source", "src7")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE source = 'src7' ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // ERASURE WORKFLOW — right-to-be-forgotten end to end, the
    // governed-corpus story every piece above exists for: (1) the
    // ACCESS request — bloom-pruned point lookups fetch what the store
    // holds about each subject without scanning the table; (2) the
    // ERASURE — one copy-on-write delete removes the subjects' rows,
    // rewriting only the hit files; (3) the PROPAGATION — CDC between
    // the versions tells the persisted inverted index exactly which
    // doc ids to tombstone (the index never re-reads the corpus), and
    // compaction folds the tombstones into the posting layout; (4) the
    // EVIDENCE — per-lang census of the head, the CDC tally, a
    // post-sync keyword lookup, and the admission index's surviving
    // row/df totals, all of which the oracle restates over
    // `documents` minus the erased set: a subject resurfacing anywhere
    // breaks the hash. The propagation reaches EVERY index the corpus
    // feeds: the inverted index (tombstone + compact) AND the near-dup
    // admission index (ShingleIndex.delete's negative df segment +
    // compact) — the shingle evidence rows count live (doc, shingle)
    // rows and the df-table total, which the oracle independently
    // derives as the distinct 3-shingle count of the SURVIVING corpus,
    // so one lingering forgotten-doc shingle row or one undecremented
    // df count breaks the hash. ORACLE-EXACT; ErasureSpec pins the
    // negative space (erased ids invisible to plain reads, point
    // reads, and every index lookup; replay idempotent).
    QueryDef(
      "q202_erasure_workflow",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_erasure")
        val idxDir = Similarity.freshIndexDir("erasure_inverted")
        val sidxDir = Similarity.freshIndexDir("erasure_shingle")
        val docs = Tables(s, dir, "documents")
        TableVersions.commitAppend(docs.repartition(8, col("source")), tdir)
        // bloom refresh + the two index builds are independent
        // artifacts (disjoint dirs) — concurrent jobs (guide §2.6)
        graft.operators.Concurrently.run(
          () => TableVersions.refreshBloom(s, tdir, Seq("doc_id"), bits = 16384, hashes = 3),
          () => InvertedIndex.build(docs, idxDir),
          () => ShingleIndex.build(docs.select("doc_id", "text"), sidxDir)
        )

        // (1) access: what does the store hold about subjects 3/32/61?
        val subjects = Seq(3L, 32L, 61L)
          .map(id =>
            TableVersions
              .readVersionPoint(s, tdir, 0L, "doc_id", id.toString)
              .select(
                lit("subject").as("kind"),
                col("doc_id").cast("string").as("k"),
                col("n_chars").cast("long").as("v")
              )
          )
          .reduce(_ unionByName _)

        // (2) erasure: copy-on-write delete of the subject set
        TableVersions.commitDelete(s, tdir, "doc_id % 29 = 3")
        // (3) propagation: CDC names the tombstones; compact folds them
        val delta = TableVersions.changes(s, tdir, "doc_id", 0L, 1L)
        val deletedIds = delta.filter(col("change_type") === "delete").select("doc_id")
        // the two tombstone→compact chains touch disjoint index dirs:
        // run the chains concurrently (order within each chain kept)
        graft.operators.Concurrently.run(
          () => {
            InvertedIndex.delete(deletedIds, idxDir)
            InvertedIndex.compact(s, idxDir)
          },
          () => {
            ShingleIndex.delete(deletedIds, sidxDir)
            ShingleIndex.compact(s, sidxDir)
          }
        )

        // (4) evidence rows
        val census = TableVersions
          .readVersion(s, tdir, 1L)
          .groupBy("lang")
          .agg(count(lit(1)).as("v"))
          .select(lit("census").as("kind"), col("lang").as("k"), col("v"))
        val cdc = delta
          .groupBy("change_type")
          .agg(count(lit(1)).as("v"))
          .select(lit("cdc").as("kind"), col("change_type").as("k"), col("v"))
        val lookup = InvertedIndex
          .conjunctiveQuery(s, idxDir, Seq("spark", "join"))
          .select(
            lit("lookup").as("kind"),
            col("doc_id").cast("string").as("k"),
            col("score").cast("long").as("v")
          )
        val shingleRows = ShingleIndex
          .liveRows(s, sidxDir)
          .agg(count(lit(1)).as("v"))
          .select(lit("shingle").as("kind"), lit("rows").as("k"), col("v"))
        val shingleDf = ShingleIndex
          .dfTable(s, sidxDir)
          .agg(coalesce(sum("df"), lit(0L)).as("v"))
          .select(lit("shingle").as("kind"), lit("df_total").as("k"), col("v"))
        subjects
          .unionByName(census)
          .unionByName(cdc)
          .unionByName(lookup)
          .unionByName(shingleRows)
          .unionByName(shingleDf)
          .orderBy("kind", "k", "v")
      },
      Some("""WITH toks AS (
          SELECT doc_id, tok, count(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE len(tok) > 0 AND doc_id % 29 <> 3 GROUP BY 1, 2),
        shtok AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 3 AND doc_id % 29 <> 3),
        sh AS (
          SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws)-1)) AS i FROM shtok)),
        rows AS (
          SELECT 'subject' AS kind, CAST(doc_id AS VARCHAR) AS k,
                 CAST(n_chars AS BIGINT) AS v
          FROM documents WHERE doc_id IN (3, 32, 61)
          UNION ALL
          SELECT 'census', lang, count(*)
          FROM documents WHERE doc_id % 29 <> 3 GROUP BY lang
          UNION ALL
          SELECT 'cdc', 'delete', count(*)
          FROM documents WHERE doc_id % 29 = 3
          UNION ALL
          SELECT 'lookup', CAST(doc_id AS VARCHAR), CAST(sum(tf) AS BIGINT)
          FROM toks WHERE tok IN ('spark', 'join')
          GROUP BY doc_id HAVING count(DISTINCT tok) = 2
          UNION ALL
          SELECT 'shingle', 'rows', count(*) FROM sh
          UNION ALL
          SELECT 'shingle', 'df_total', count(*) FROM sh)
        SELECT kind, k, v FROM rows ORDER BY kind, k, v""")
    ),

    // ------------------------------------------------------------------
    // HIVE-PARTITIONED BATCHES — the third file-skipping device beside
    // stats (range) and bloom (point): a commit lays its files out
    // under `__p_lang=<value>/` directories and equality reads on the
    // partition column prune at the LOG level — exact, no index build,
    // no probe. The partition column is DUPLICATED into the path
    // rather than stripped from the data, so the files stay
    // self-contained and every other mechanism (time travel, CoW, DVs)
    // works unchanged; mixed layouts are absence-safe (a flat commit's
    // files carry no __p_ segment and are always read — here the
    // second, unpartitioned append must surface in every read). The
    // oracle restates two partition reads and a full-table sample as
    // plain filters of `documents`. ORACLE-EXACT; TableVersionsSpec
    // pins the physical pruning (a partition read schedules only its
    // own directories plus the flat files).
    QueryDef(
      "q211_partitioned_read",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_part")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        TableVersions.commitAppendPartitioned(
          docs.filter(col("doc_id") % 2 === 0).repartition(4),
          tdir,
          Seq("lang")
        ) // v0: partitioned layout
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1), tdir) // v1: flat
        val head = TableVersions.currentVersion(s, tdir)
        def shaped(dim: String, df: org.apache.spark.sql.DataFrame) =
          df.select(lit(dim).as("dim"), col("doc_id"), col("source"), col("lang"), col("n_chars"))
        shaped("by_en", TableVersions.readVersionByPartition(s, tdir, head, "lang", "en"))
          .unionByName(
            shaped("by_zh", TableVersions.readVersionByPartition(s, tdir, head, "lang", "zh"))
          )
          .unionByName(
            shaped(
              "sample",
              TableVersions.readVersion(s, tdir, head).filter(col("doc_id") % 97 === 0)
            )
          )
          .orderBy("dim", "doc_id")
      },
      Some("""SELECT dim, doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars FROM (
          SELECT 'by_en' AS dim, doc_id, source, lang, n_chars
          FROM documents WHERE lang = 'en'
          UNION ALL
          SELECT 'by_zh', doc_id, source, lang, n_chars
          FROM documents WHERE lang = 'zh'
          UNION ALL
          SELECT 'sample', doc_id, source, lang, n_chars
          FROM documents WHERE doc_id % 97 = 0)
        ORDER BY dim, doc_id""")
    ),

    // ------------------------------------------------------------------
    // MERGE-ON-READ DELETE (positional deletion vectors — the Delta DV
    // / Iceberg positional-delete pattern): where q166's copy-on-write
    // delete rewrites every hit file (O(hit data)), a DV commit writes
    // ONLY the matched rows' (file, position) pairs — O(matched) — and
    // reads anti-join them out; compactMor later folds the vectors
    // into a rewrite whose fresh files shed them naturally. The query
    // drives the full lifecycle: two STACKED DV deletes, time travel
    // between them, CDC across them, then the fold — and the oracle
    // restates every stage over `documents`, plus the fold's empty CDC
    // (the compaction must be a logical no-op). A resurrected or
    // lingering row at any stage breaks the hash. ORACLE-EXACT;
    // MorSpec pins the physical side (a DV commit touches no data
    // file, every read path applies vectors, restore resurrects,
    // checkpoint folds).
    QueryDef(
      "q208_mor_delete",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_mor")
        val docs = Tables(s, dir, "documents")
        TableVersions.commitAppend(docs.repartition(8, col("source")), tdir) // v0
        TableVersions.commitDeleteMor(s, tdir, "doc_id % 7 = 2") // v1: DV only
        TableVersions.commitDeleteMor(s, tdir, "lang = 'en'") // v2: stacked DV
        val v3 = TableVersions.compactMor(s, tdir) // folds both vectors
        val v0rows = TableVersions
          .readVersion(s, tdir, 0L)
          .agg(count(lit(1)).as("v"))
          .select(lit("v0").as("kind"), lit("rows").as("k"), col("v"))
        val v1census = TableVersions
          .readVersion(s, tdir, 1L)
          .groupBy("lang")
          .agg(count(lit(1)).as("v"))
          .select(lit("v1_census").as("kind"), col("lang").as("k"), col("v"))
        val headCensus = TableVersions
          .readVersion(s, tdir, v3)
          .groupBy("lang")
          .agg(count(lit(1)).as("v"))
          .select(lit("head_census").as("kind"), col("lang").as("k"), col("v"))
        val cdc = TableVersions
          .changes(s, tdir, "doc_id", 0L, 2L)
          .groupBy("change_type")
          .agg(count(lit(1)).as("v"))
          .select(lit("cdc").as("kind"), col("change_type").as("k"), col("v"))
        val foldCdc = TableVersions
          .changes(s, tdir, "doc_id", 2L, v3)
          .agg(count(lit(1)).as("v"))
          .select(lit("fold_cdc").as("kind"), lit("changes").as("k"), col("v"))
        v0rows
          .unionByName(v1census)
          .unionByName(headCensus)
          .unionByName(cdc)
          .unionByName(foldCdc)
          .orderBy("kind", "k", "v")
      },
      Some("""WITH rows AS (
          SELECT 'v0' AS kind, 'rows' AS k, CAST(count(*) AS BIGINT) AS v FROM documents
          UNION ALL
          SELECT 'v1_census', lang, count(*) FROM documents
          WHERE doc_id % 7 <> 2 GROUP BY lang
          UNION ALL
          SELECT 'head_census', lang, count(*) FROM documents
          WHERE doc_id % 7 <> 2 AND lang <> 'en' GROUP BY lang
          UNION ALL
          SELECT 'cdc', 'delete', count(*) FROM documents
          WHERE doc_id % 7 = 2 OR lang = 'en'
          UNION ALL
          SELECT 'fold_cdc', 'changes', 0)
        SELECT kind, k, v FROM rows ORDER BY kind, k, v""")
    ),

    // ------------------------------------------------------------------
    // CHANGE-DATA FEED — the O(changes) event stream (Delta CDF's
    // shape) that q167's two-version diff is the reference for: every
    // mutating commit persists its change rows AT WRITE TIME (the
    // commit knows exactly what it touched — matched pre-images,
    // update post-images, merge inserts), appends derive inserts from
    // their own added files, logical no-ops contribute nothing. A
    // feed consumer therefore reads data proportional to what CHANGED
    // across the window — never two full table versions — which at
    // 100 TB is the difference between index-sync jobs costing
    // O(delta) and O(table). The query drives a 5-commit history
    // through BOTH deletion paths plus an update, and the oracle
    // restates every event (version, type, full row image — with the
    // update's post-image arithmetic applied where the later delete
    // sees it) over `documents`. ORACLE-EXACT; ChangeFeedSpec pins
    // replay-reproduces-the-head, per-window agreement with
    // changes(), and the restore refusal.
    QueryDef(
      "q214_change_feed",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_cdf")
        val docs = Tables(s, dir, "documents")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).repartition(4), tdir) // v0
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1), tdir) // v1
        TableVersions.commitDelete(s, tdir, "doc_id % 5 = 0") // v2
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v3
        TableVersions.commitDeleteMor(s, tdir, "doc_id % 7 = 3") // v4
        TableVersions
          .changesFeed(s, tdir, 0L, 4L)
          .select(
            col("_commit_version").as("v"),
            col("_change_type").as("ct"),
            col("doc_id"),
            col("lang"),
            col("n_chars")
          )
          .orderBy("v", "ct", "doc_id")
      },
      Some("""WITH rows AS (
          SELECT 1 AS v, 'insert' AS ct, doc_id, lang, n_chars
          FROM documents WHERE doc_id % 2 = 1
          UNION ALL
          SELECT 2, 'delete', doc_id, lang, n_chars
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT 3, 'update_preimage', doc_id, lang, n_chars
          FROM documents WHERE lang = 'zh' AND doc_id % 5 <> 0
          UNION ALL
          SELECT 3, 'update_postimage', doc_id, lang, n_chars + 1000
          FROM documents WHERE lang = 'zh' AND doc_id % 5 <> 0
          UNION ALL
          SELECT 4, 'delete', doc_id, lang,
                 CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END
          FROM documents WHERE doc_id % 7 = 3 AND doc_id % 5 <> 0)
        SELECT CAST(v AS BIGINT) AS v, ct, doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM rows ORDER BY v, ct, doc_id""")
    ),

    // ------------------------------------------------------------------
    // FEED-DRIVEN REPLICA — the downstream half of q214: a replica
    // table forked at v1 catches up to the source head by consuming
    // ONLY the change feed (delete the deleted/pre-image keys, merge
    // the insert/post-image rows — one CoW delete + one merge commit
    // per sync, each O(window changes)), never re-reading the source.
    // This is the cross-system sync job at 100 TB: replicas, search
    // indexes, and feature stores tail the feed at O(delta) where
    // q125-style reconciliation pays O(both tables). The oracle
    // restates the CAUGHT-UP replica head over `documents` — the
    // source's head state — so any event the feed dropped, duplicated,
    // or misclassified surfaces as a hash break. ORACLE-EXACT.
    QueryDef(
      "q215_feed_replica",
      (s, dir) => {
        val src = Similarity.freshIndexDir("versioned_feed_src")
        val rep = Similarity.freshIndexDir("versioned_feed_rep")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).repartition(4), src) // v0
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1), src) // v1
        // fork the replica at v1 (zero-copy)
        TableVersions.cloneShallow(s, src, rep, 1L)
        // source moves on: both deletion paths + an update
        TableVersions.commitDelete(s, src, "doc_id % 5 = 0") // v2
        TableVersions.commitUpdate(
          s,
          src,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v3
        TableVersions.commitDeleteMor(s, src, "doc_id % 7 = 3") // v4
        // catch-up: apply the (1, 4] feed — O(changes), no source read
        val feed = TableVersions.changesFeed(s, src, 1L, 4L).localCheckpoint()
        // window-scaled key set — a delete-heavy window is data-scaled,
        // so the keys flow to the delete as a frame (semi join), never
        // through the driver as an IN-list
        val gone = feed
          .filter(col("_change_type").isin("delete", "update_preimage"))
          .select("doc_id")
          .distinct()
        if (!gone.isEmpty)
          TableVersions.commitDeleteKeys(gone, rep, "doc_id"): Unit
        // a key can carry several windowed events (updated at v3,
        // deleted at v4) — its LAST event decides: within a version a
        // post-image outranks its pre-image, across versions the later
        // commit wins, and keys whose last event is a delete stay gone
        val eventRank = col("_commit_version") * 10 +
          when(col("_change_type").isin("insert", "update_postimage"), 5).otherwise(1)
        val upserts = feed
          .withColumn("__ok", eventRank)
          .groupBy("doc_id")
          .agg(expr("max_by(struct(_change_type AS ct, source, lang, n_chars), __ok)").as("r"))
          .filter(col("r.ct").isin("insert", "update_postimage"))
          .select(col("doc_id"), col("r.source"), col("r.lang"), col("r.n_chars"))
        TableVersions.commitMerge(upserts, rep, "doc_id")
        TableVersions
          .readVersion(s, rep, TableVersions.currentVersion(s, rep))
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, lang,
               CAST(CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS BIGINT)
                 AS n_chars
        FROM documents
        WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3
        ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // METADATA-ONLY TABLE OPS — COUNT(*) and DESCRIBE HISTORY without
    // touching row data: every add entry LOGS its file's row count at
    // commit time, so countAt is one log/checkpoint resolution minus
    // the applicable deletion-vector positions — O(1 + tail) metadata
    // at ANY file count, no footer sweep (legacy count-less files
    // fall back to one footer open each, still no row group IO);
    // history() is one O(commits) aggregation of the log. The oracle
    // restates the counts at three versions — across a merge-on-read
    // delete AND a copy-on-write delete, so both deletion paths'
    // metadata must agree with the data exactly — plus the commit
    // sequence itself. ORACLE-EXACT; MorSpec pins countAt ==
    // readVersion().count() at every version and the has_dv flags.
    QueryDef(
      "q209_metadata_ops",
      (s, dir) => {
        import s.implicits._
        val tdir = Similarity.freshIndexDir("versioned_meta")
        val docs = Tables(s, dir, "documents")
        TableVersions.commitAppend(docs.repartition(8, col("source")), tdir) // v0
        TableVersions.commitDeleteMor(s, tdir, "doc_id % 7 = 2") // v1: DV delete
        TableVersions.commitDelete(s, tdir, "lang = 'en'") // v2: copy-on-write
        val counts = (0L to 2L)
          .map(v => ("count", s"v$v", TableVersions.countAt(s, tdir, v).toString))
          .toDF("kind", "k", "v")
        val hist = TableVersions
          .history(s, tdir)
          .select(
            lit("history").as("kind"),
            col("version").cast("string").as("k"),
            col("op").as("v")
          )
        counts.unionByName(hist).orderBy("kind", "k", "v")
      },
      Some("""WITH rows AS (
          SELECT 'count' AS kind, 'v0' AS k, CAST(count(*) AS VARCHAR) AS v FROM documents
          UNION ALL
          SELECT 'count', 'v1', CAST(count(*) AS VARCHAR) FROM documents
          WHERE doc_id % 7 <> 2
          UNION ALL
          SELECT 'count', 'v2', CAST(count(*) AS VARCHAR) FROM documents
          WHERE doc_id % 7 <> 2 AND lang <> 'en'
          UNION ALL SELECT 'history', '0', 'init'
          UNION ALL SELECT 'history', '1', 'mor_delete'
          UNION ALL SELECT 'history', '2', 'delete')
        SELECT kind, k, v FROM rows ORDER BY kind, k, v""")
    ),

    // ------------------------------------------------------------------
    // INCREMENTAL Z-ORDER — the 100 TB clustering cadence the one-shot
    // q200 rewrite cannot be: each pass clusters at most `maxFiles`
    // live files (smallest first, the optimize bin-packing bias) as a
    // bounded logical-no-op commit, so a petabyte table converges to a
    // clustered steady state across scheduled passes while every
    // commit's IO stays O(maxFiles). Two passes here walk the whole
    // 8-file ingest; the oracle restates both dimensions' pruned range
    // reads as plain filters of `lineitem` — the incremental path must
    // lose nothing relative to the one-shot rewrite. ORACLE-EXACT;
    // ZorderSpec pins the physical side (each pass removes ≤ maxFiles,
    // CDC empty, reads byte-equal mid-sequence).
    QueryDef(
      "q207_zorder_incremental",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_zorder_inc")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        TableVersions.commitAppend(li.repartition(8), tdir) // ingest layout
        TableVersions
          .optimizeZorderIncremental(s, tdir, Seq("l_orderkey", "l_partkey"), nOut = 2, maxFiles = 4)
        TableVersions
          .optimizeZorderIncremental(s, tdir, Seq("l_orderkey", "l_partkey"), nOut = 2, maxFiles = 4)
        TableVersions.refreshStats(s, tdir, Seq("l_orderkey", "l_partkey"))
        val head = TableVersions.currentVersion(s, tdir)
        def ranged(dim: String, c: String, lo: Double, hi: Double) =
          TableVersions
            .readVersionPruned(s, tdir, head, c, lo, hi)
            .select(
              lit(dim).as("dim"),
              col("l_orderkey"),
              col("l_partkey"),
              col("l_quantity")
            )
        ranged("by_order", "l_orderkey", 100d, 200d)
          .unionByName(ranged("by_part", "l_partkey", 10d, 20d))
          .orderBy("dim", "l_orderkey", "l_partkey", "l_quantity")
      },
      Some("""SELECT 'by_order' AS dim, l_orderkey, l_partkey, l_quantity
        FROM lineitem WHERE l_orderkey BETWEEN 100 AND 200
        UNION ALL
        SELECT 'by_part', l_orderkey, l_partkey, l_quantity
        FROM lineitem WHERE l_partkey BETWEEN 10 AND 20
        ORDER BY dim, l_orderkey, l_partkey, l_quantity""")
    ),

    // ------------------------------------------------------------------
    // Z-ORDER WITH A STRING DIMENSION — the clustered compaction
    // serving the columns the bloom index previously carried alone:
    // documents land z-ordered on (n_chars, source), where the string
    // column rides the curve via its first-6-byte big-endian
    // projection (order-preserving on the truncated prefix — the
    // standard truncated-key z-order trade). After the rewrite BOTH
    // read paths prune: numeric ranges on n_chars through the stats
    // index, and source point lookups through the bloom index, which
    // now probes files that each hold few distinct sources because the
    // curve clustered them. The commit stays a logical no-op — the
    // oracle restates both reads as plain filters of `documents`, so
    // pruning can only ever cost speed, never rows. ORACLE-EXACT;
    // ZorderSpec pins the physical claim (a string point read touches
    // ≤ half the files of the clustered layout).
    QueryDef(
      "q205_zorder_string",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_zorder_str")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(docs.repartition(8), tdir)
        TableVersions.optimizeZorder(s, tdir, Seq("n_chars", "source"), nOut = 16)
        TableVersions.refreshStats(s, tdir, Seq("n_chars"))
        TableVersions.refreshBloom(s, tdir, Seq("source"))
        def shaped(dim: String, df: org.apache.spark.sql.DataFrame) =
          df.select(lit(dim).as("dim"), col("doc_id"), col("source"), col("n_chars"))
        shaped("by_chars", TableVersions.readVersionPruned(s, tdir, 1L, "n_chars", 100d, 400d))
          .unionByName(shaped("by_source", TableVersions.readVersionPoint(s, tdir, 1L, "source", "src7")))
          .orderBy("dim", "doc_id")
      },
      Some("""SELECT 'by_chars' AS dim, doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE n_chars BETWEEN 100 AND 400
        UNION ALL
        SELECT 'by_source', doc_id, source, CAST(n_chars AS BIGINT)
        FROM documents WHERE source = 'src7'
        ORDER BY dim, doc_id""")
    ),

    // ------------------------------------------------------------------
    // SHALLOW CLONE — the zero-copy staging-fork workflow: clone the
    // 4-commit table at its head into a new table (ONE log entry
    // referencing the source's live files — no data copied, a 100 TB
    // clone costs one commit), then run a risky curation step (delete
    // all short docs) ON THE CLONE. The query reads the source head
    // and the mutated clone head side by side: the source must be
    // UNTOUCHED (the clone's copy-on-write landed its rewrites under
    // the clone's own directory and only un-referenced the shared
    // files). The oracle restates both censuses from `documents`, so
    // a clone that leaks writes into the source — or loses shared
    // rows — breaks the hash. ORACLE-EXACT; CloneSpec pins the
    // physical side (metadata-only init; source files byte-identical
    // after clone commits; clone vacuum cannot delete foreign files).
    QueryDef(
      "q201_shallow_clone",
      (s, dir) => {
        val tdir = buildHistory(s, dir)
        val cdir = Similarity.freshIndexDir("versioned_clone")
        TableVersions.cloneShallow(s, tdir, cdir, 3L)
        TableVersions.commitDelete(s, cdir, "n_chars < 300") // risky step, clone-only
        val src = TableVersions
          .readVersion(s, tdir, 3L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .select(lit("source").as("side"), col("lang"), col("n_docs"), col("sum_chars"))
        val cl = TableVersions
          .readVersion(s, cdir, 1L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .select(lit("clone").as("side"), col("lang"), col("n_docs"), col("sum_chars"))
        src.unionByName(cl).orderBy("side", "lang")
      },
      Some("""WITH v3 AS (
          SELECT lang, CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
          FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'en'),
        u AS (
          SELECT 'source' AS side, lang, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM v3 GROUP BY lang
          UNION ALL
          SELECT 'clone', lang, count(*), CAST(sum(n_chars) AS BIGINT)
          FROM v3 WHERE n_chars >= 300 GROUP BY lang)
        SELECT side, lang, n_docs, sum_chars FROM u ORDER BY side, lang""")
    ),

    // ------------------------------------------------------------------
    // OPTIMIZE ZORDER — multi-dimensional clustering for the stats
    // index: the table arrives in ingest order (no dimension is
    // clustered), one zorder commit rewrites the live set along a
    // Morton curve over (l_orderkey, l_partkey), and refreshStats then
    // gives EVERY clustered dimension tight per-file ranges — a range
    // read on either column prunes to a small file subset, where a
    // single-column sort serves only its own dimension. The rewrite is
    // a LOGICAL NO-OP through the log (reads byte-equivalent, CDC
    // empty — ZorderSpec pins both), so this is q187's OPTIMIZE with a
    // clustering key: the layout step that makes q188's data skipping
    // work on more than one column at 100 TB. The query reads a range
    // on EACH dimension through the pruned path; the oracle restates
    // both as plain filters — pruning may only change which files are
    // scheduled, never the rows. ORACLE-EXACT.
    QueryDef(
      "q200_zorder_pruned_read",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_zorder")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        TableVersions.commitAppend(li.repartition(8), tdir) // ingest layout
        TableVersions.optimizeZorder(s, tdir, Seq("l_orderkey", "l_partkey"), nOut = 16)
        TableVersions.refreshStats(s, tdir, Seq("l_orderkey", "l_partkey"))
        def ranged(dim: String, c: String, lo: Double, hi: Double) =
          TableVersions
            .readVersionPruned(s, tdir, 1L, c, lo, hi)
            .select(
              lit(dim).as("dim"),
              col("l_orderkey"),
              col("l_partkey"),
              col("l_quantity")
            )
        ranged("by_order", "l_orderkey", 100d, 200d)
          .unionByName(ranged("by_part", "l_partkey", 10d, 20d))
          .orderBy("dim", "l_orderkey", "l_partkey", "l_quantity")
      },
      Some("""SELECT 'by_order' AS dim, l_orderkey, l_partkey, l_quantity
        FROM lineitem WHERE l_orderkey BETWEEN 100 AND 200
        UNION ALL
        SELECT 'by_part', l_orderkey, l_partkey, l_quantity
        FROM lineitem WHERE l_partkey BETWEEN 10 AND 20
        ORDER BY dim, l_orderkey, l_partkey, l_quantity""")
    ),

    // ------------------------------------------------------------------
    // SCHEMA EVOLUTION — the add-column story (a quality score, a
    // license tag, a toxicity flag lands mid-corpus and re-writing
    // 100 TB of history for it is not an option): v0 commits the old
    // 3-column shape, v1 appends batches CARRYING a new `quality`
    // column; the merged-schema head read NULL-fills the pre-evolution
    // files (no rewrite, no backfill), while time travel to v0 keeps
    // the OLD schema exactly (liveness filters files before the schema
    // union, so history never grows columns it didn't have). The
    // oracle restates the NULL-fill directly — count(quality) counts
    // only the evolved slice, sum ignores the NULL-filled rows — so a
    // read that drops, backfills, or misaligns the column breaks the
    // hash. ORACLE-EXACT; TableVersionsSpec pins the physical side
    // (old-version schema unchanged; copy-on-write on an evolved
    // table sees the union schema and NULL predicate rows survive).
    QueryDef(
      "q198_schema_evolution",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_evo")
        val docs = Tables(s, dir, "documents")
        val old = docs.select(col("doc_id"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(old.filter(col("doc_id") % 3 === 0), tdir) // v0
        TableVersions.commitAppend( // v1: schema gains `quality`
          old.filter(col("doc_id") % 3 === 1).withColumn("quality", col("n_chars") % 7),
          tdir
        )
        TableVersions
          .readVersion(s, tdir, 1L, mergeSchema = true)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            count(col("quality")).as("n_scored"),
            sum("quality").as("sum_quality")
          )
          .orderBy("lang")
      },
      Some("""WITH v1 AS (
          SELECT lang, n_chars, CAST(NULL AS BIGINT) AS quality
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT lang, n_chars, n_chars % 7
          FROM documents WHERE doc_id % 3 = 1)
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               count(quality) AS n_scored, CAST(sum(quality) AS BIGINT) AS sum_quality
        FROM v1 GROUP BY lang ORDER BY lang""")
    ),

    // ------------------------------------------------------------------
    // RESTORE — the rollback story every corpus pipeline eventually
    // needs (a bad filter shipped; the erasure batch was too greedy):
    // after the 4-commit history, the table is restored to version 1
    // as a NEW commit that is METADATA-ONLY — the head returns to v1's
    // exact file set by logging add/remove pairs, no data file read or
    // written, so rolling back a 100 TB table costs one log entry.
    // History is preserved: the mistake window (v2 delete, v3 update)
    // stays readable, and CDC across the restore reports the logical
    // rollback. The query reads BOTH the pre-restore head (v3) and the
    // restored head (v4 == v1 content) — the oracle restates each from
    // `documents` directly, so a restore that loses or resurrects the
    // wrong rows breaks the hash. ORACLE-EXACT; TableVersionsSpec pins
    // the physical side (no new data files; vacuum spares revived
    // files; sub-horizon restore refused; checkpoint interplay).
    QueryDef(
      "q197_restore",
      (s, dir) => {
        val tdir = buildHistory(s, dir)
        val v = TableVersions.restore(s, tdir, 1L)
        Seq(3L, v)
          .map { ver =>
            TableVersions
              .readVersion(s, tdir, ver)
              .groupBy("lang")
              .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
              .select(lit(ver).as("version"), col("lang"), col("n_docs"), col("sum_chars"))
          }
          .reduce(_ unionByName _)
          .orderBy("version", "lang")
      },
      Some("""WITH v1 AS (
          SELECT lang, n_chars FROM documents WHERE doc_id % 3 IN (0, 1)),
        v3 AS (
          SELECT lang, CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
          FROM v1 WHERE lang <> 'en'),
        u AS (
          SELECT 3 AS version, lang, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM v3 GROUP BY lang
          UNION ALL
          SELECT 4, lang, count(*), CAST(sum(n_chars) AS BIGINT)
          FROM v1 GROUP BY lang)
        SELECT CAST(version AS BIGINT) AS version, lang, n_docs, sum_chars
        FROM u ORDER BY version, lang""")
    ),

    // ------------------------------------------------------------------
    // FEED-DRIVEN INCREMENTAL AGGREGATE VIEW — the O(delta) rollup
    // consumer the change feed exists for: a per-lang (count, char
    // mass) view initialized with ONE source aggregation, then kept
    // current by folding feed windows as retractable deltas (+1
    // insert/post-image, −1 delete/pre-image) in single merge commits
    // that carry the sync cursor INSIDE the same commit (atomic fold:
    // a restarted consumer can neither double-apply nor skip a
    // window). q178's IVM diffs two full versions; this view never
    // re-reads the source at all — each sync costs the window's
    // CHANGED rows, which at 100 TB is the difference between a
    // dashboard rollup costing O(delta) and O(table). The history
    // crosses both deletion paths plus an update (mass moves within
    // the zh group), and the oracle restates the final per-lang census
    // over `documents` — any event dropped, double-applied, or
    // mis-weighted breaks the hash. ORACLE-EXACT; FeedViewSpec pins
    // view == direct aggregate at EVERY sync point, zero-count
    // tombstone filtering, cursor atomicity, and no-op syncs.
    QueryDef(
      "q216_feed_view",
      (s, dir) => {
        val src = Similarity.freshIndexDir("feedview_src")
        val view = Similarity.freshIndexDir("feedview_state")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).repartition(4), src) // v0
        FeedView.init(s, src, view, "lang", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1), src) // v1
        TableVersions.commitDelete(s, src, "doc_id % 5 = 0") // v2
        FeedView.sync(s, src, view, "lang", "n_chars") // folds (0, 2]
        TableVersions.commitUpdate(
          s,
          src,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v3
        TableVersions.commitDeleteMor(s, src, "doc_id % 7 = 3") // v4
        FeedView.sync(s, src, view, "lang", "n_chars") // folds (2, 4]
        FeedView.read(s, view).orderBy("k")
      },
      Some("""SELECT lang AS k, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END) AS BIGINT)
                 AS sum_val
        FROM documents
        WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3
        GROUP BY lang ORDER BY k""")
    ),

    // ------------------------------------------------------------------
    // OPTIMISTIC CONCURRENT APPENDS — the multi-writer ingest shape: N
    // independent jobs appending to ONE table, serialized only by the
    // version-claim conditional-put, each lost race retried at the
    // next free version (safe to blind-retry precisely because an
    // append reads no snapshot and writes only fresh files — it
    // commutes with every concurrent commit; rewriting commits keep
    // the fail-safe contract). The query races two REAL driver
    // threads appending disjoint halves: both must land, at distinct
    // versions, with no row lost, duplicated, or merged into a
    // corrupted log — the oracle restates the union, so any dropped
    // or double-committed half breaks the hash. Which thread wins
    // which version is nondeterministic; the CONTENT is not.
    // ORACLE-EXACT; TableVersionsSpec pins the protocol edges (claim
    // stepped over, safeHead watermark, feed hole semantics,
    // 4-appender race).
    QueryDef(
      "q217_occ_append",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("occ_store")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0), tdir) // v0
        val halves =
          Seq(docs.filter(col("doc_id") % 3 === 1), docs.filter(col("doc_id") % 3 === 2))
            .map(_.localCheckpoint()) // materialize before the race — the
        // racing threads then run pure writes, not competing lineages
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = halves.map { h =>
          new Thread(() =>
            try TableVersions.commitAppendRetry(h, tdir): Unit
            catch { case t: Throwable => failures.add(t): Unit }
          )
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        if (!failures.isEmpty) throw failures.peek()
        val head = TableVersions.safeHead(s, tdir)
        require(head == 2L, s"expected both racing appends to land (head 2), got $head")
        TableVersions.readVersion(s, tdir, head).orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // HASH-BUCKETED POINT READS — the high-cardinality complement to
    // q211's hive partitioning: commits lay their files out in
    // `__bucket=<b>of<n>/` directories by pmod(hash(key), n), and an
    // equality read prunes to ONE bucket per bucketed commit at the
    // LOG level — a driver-side path filter, exact, no index probe,
    // no data IO — where the bloom index (q196) pays a probabilistic
    // bit-table probe and stats (q188) can't help a uniformly
    // distributed key at all. Commits with DIFFERENT bucket counts
    // coexist (each directory name carries its own modulus) and
    // unbucketed commits are always read — the absence-safe rule of
    // every layout device here. The oracle restates six point reads
    // spanning all three commits plus a full-table census (any row a
    // bucket filter would wrongly hide breaks the count). ORACLE-
    // EXACT; BucketStoreSpec pins the physical side (scheduled file
    // count, DV composition, CoW absence-safety).
    QueryDef(
      "q218_bucket_pruned_read",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("bucket_store")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        TableVersions.commitAppendBucketed(docs.filter(col("doc_id") % 3 === 0), tdir, "doc_id", 8) // v0
        TableVersions.commitAppendBucketed(docs.filter(col("doc_id") % 3 === 1), tdir, "doc_id", 4) // v1
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 2), tdir) // v2 unbucketed
        val ids = Seq(0L, 7L, 11L, 23L, 36L, 50L)
        val points = ids
          .map(id => TableVersions.readVersionByBucket(s, tdir, 2L, "doc_id", id))
          .reduce(_ unionByName _)
          .select(lit("point").as("kind"), col("doc_id").as("k"), col("n_chars").cast("long").as("v"))
        val census = TableVersions
          .readVersion(s, tdir, 2L)
          .agg(count(lit(1)).as("v"))
          .select(lit("census").as("kind"), lit(-1L).as("k"), col("v"))
        points.unionByName(census).orderBy("kind", "k")
      },
      Some("""SELECT kind, k, v FROM (
          SELECT 'point' AS kind, doc_id AS k, CAST(n_chars AS BIGINT) AS v
          FROM documents WHERE doc_id IN (0, 7, 11, 23, 36, 50)
          UNION ALL
          SELECT 'census', -1, count(*) FROM documents)
        ORDER BY kind, k""")
    ),

    // ------------------------------------------------------------------
    // BUCKET RECLUSTERING — the maintenance op that keeps q218's
    // pruning honest under churn: copy-on-write rewrites re-land
    // survivors in FLAT batches (absence-safe, so always read — every
    // flat file erodes the point-read bound), and optimizeBucketed
    // folds all non-conforming live files back into `__bucket=` dirs
    // as one LOGICAL NO-OP commit (reads byte-equivalent, CDC empty,
    // feed skips it) with deletion vectors applied at the rewrite.
    // The same role OPTIMIZE ZORDER plays for range clustering, here
    // for hash point lookups. The history deliberately churns through
    // a flat append, a copy-on-write update, and a MOR delete before
    // reclustering; the oracle restates point reads + census over the
    // final state, so a row resurrected (DV dropped), lost, or
    // double-landed by the recluster breaks the hash. ORACLE-EXACT;
    // BucketStoreSpec pins the physical side (post-recluster reads
    // schedule ZERO flat files, CDC across the pass empty).
    QueryDef(
      "q220_bucket_recluster",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("bucket_recluster")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        TableVersions.commitAppendBucketed(docs.filter(col("doc_id") % 3 === 0), tdir, "doc_id", 8) // v0
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 1), tdir) // v1 flat
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v2 — CoW re-lands hit files flat
        TableVersions.commitDeleteMor(s, tdir, "doc_id % 7 = 3") // v3
        val v4 = TableVersions.optimizeBucketed(s, tdir, "doc_id", 8)
        val ids = Seq(0L, 4L, 9L, 10L, 16L, 22L)
        val points = ids
          .map(id => TableVersions.readVersionByBucket(s, tdir, v4, "doc_id", id))
          .reduce(_ unionByName _)
          .select(lit("point").as("kind"), col("doc_id").as("k"), col("n_chars").cast("long").as("v"))
        val census = TableVersions
          .readVersion(s, tdir, v4)
          .agg(count(lit(1)).as("n"), sum(col("n_chars").cast("long")).as("mass"))
          .select(lit("census").as("kind"), col("n").as("k"), col("mass").as("v"))
        points.unionByName(census).orderBy("kind", "k")
      },
      Some("""WITH live AS (
          SELECT doc_id,
                 CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
          FROM documents
          WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 <> 3)
        SELECT kind, k, v FROM (
          SELECT 'point' AS kind, doc_id AS k, CAST(n_chars AS BIGINT) AS v
          FROM live WHERE doc_id IN (0, 4, 9, 10, 16, 22)
          UNION ALL
          SELECT 'census', count(*), CAST(sum(n_chars) AS BIGINT) FROM live)
        ORDER BY kind, k""")
    ),

    // ------------------------------------------------------------------
    // Multi-table atomic snapshots (operators/Catalog): a corpus and
    // its per-language aggregate evolve through two multi-table
    // transactions — each publishes ONE catalog snapshot pinning both
    // tables — then a third transaction CRASHES mid-flight (its corpus
    // commit landed, its aggregate commit and snapshot publish never
    // did). Catalog-routed readers at every snapshot recount the
    // pinned corpus AND read the pinned aggregate: the two agree at
    // every snapshot (the consistency the catalog exists to provide),
    // and the crashed transaction's half-committed corpus version is
    // invisible — the head snapshot still counts only batches 0 and 1.
    // The aggregate is maintained by DELTA (batch counts merged into
    // the pinned prior state), never recomputed from the corpus — the
    // O(changes) discipline every snapshot-consistent derived table
    // needs at 100 TB. Publication is O(tables) metadata: one
    // exclusive claim create + one atomic rename, zero data IO.
    // ORACLE-EXACT: each snapshot restates as a batch filter of
    // `documents`, with n_corpus ≡ n_counts by construction.
    QueryDef(
      "q223_catalog_snapshot",
      (s, dir) => {
        val cat = Similarity.freshIndexDir("catalog")
        val corpusDir = Similarity.freshIndexDir("cat_corpus")
        val countsDir = Similarity.freshIndexDir("cat_counts")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        // txn 0: corpus init + its aggregate, published as one snapshot
        Catalog.transact(s, cat) { _ =>
          val b0 = docs.filter(col("doc_id") % 3 === 0)
          val vC = TableVersions.commitAppend(b0, corpusDir)
          val vA = TableVersions
            .commitAppend(b0.groupBy("lang").agg(count(lit(1)).as("n_docs")), countsDir)
          Map(
            "corpus" -> Catalog.Pin(corpusDir, vC),
            "lang_counts" -> Catalog.Pin(countsDir, vA)
          )
        }
        // txn 1: append a crawl batch and fold its DELTA into the
        // aggregate (merge against the PINNED prior state — O(batch))
        Catalog.transact(s, cat) { cur =>
          val b1 = docs.filter(col("doc_id") % 3 === 1)
          val vC = TableVersions.commitAppend(b1, corpusDir)
          val prev = TableVersions.readVersion(s, countsDir, cur("lang_counts").version)
          val merged = b1
            .groupBy("lang")
            .agg(count(lit(1)).as("n_docs"))
            .alias("d")
            .join(prev.alias("p"), Seq("lang"), "left")
            .select(
              col("lang"),
              (col("d.n_docs") + coalesce(col("p.n_docs"), lit(0L))).as("n_docs")
            )
          val vA = TableVersions.commitMerge(merged, countsDir, "lang")
          cur + ("corpus" -> Catalog.Pin(corpusDir, vC)) +
            ("lang_counts" -> Catalog.Pin(countsDir, vA))
        }
        // a CRASHED txn: the corpus commit landed, the aggregate commit
        // and the publish never did — an unreferenced table version
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 2), corpusDir)

        (0L to Catalog.head(s, cat))
          .map { snap =>
            val fromCorpus = Catalog
              .readTable(s, cat, snap, "corpus")
              .groupBy("lang")
              .agg(count(lit(1)).as("n_corpus"))
            val fromCounts = Catalog
              .readTable(s, cat, snap, "lang_counts")
              .withColumnRenamed("n_docs", "n_counts")
            fromCorpus
              .join(fromCounts, Seq("lang"))
              .select(lit(snap).as("snap"), col("lang"), col("n_corpus"), col("n_counts"))
          }
          .reduce(_ unionByName _)
          .orderBy("snap", "lang")
      },
      Some("""WITH b0 AS (SELECT lang FROM documents WHERE doc_id % 3 = 0),
        b01 AS (SELECT lang FROM documents WHERE doc_id % 3 IN (0, 1)),
        snaps AS (
          SELECT 0 AS snap, lang, count(*) AS n FROM b0 GROUP BY lang
          UNION ALL
          SELECT 1, lang, count(*) FROM b01 GROUP BY lang)
        SELECT CAST(snap AS BIGINT) AS snap, lang, n AS n_corpus, n AS n_counts
        FROM snaps ORDER BY snap, lang""")
    ),

    // ------------------------------------------------------------------
    // INCREMENTALLY-MAINTAINED JOIN VIEW — the delta-join half of IVM
    // (q216 maintains an aggregate; this maintains A ⋈ₖ B from BOTH
    // tables' change feeds). Each sync folds the exact two-term delta
    // ΔA⋈B@head + A@cursor⋈ΔB — ΔA against the OTHER table's NEW
    // head, ΔB against THIS table's OLD time-travel snapshot, which
    // is precisely what cancels the ΔA⋈ΔB cross term — as ONE merge
    // commit of content-keyed multiplicities (md5 row fingerprints),
    // so a B-side payload update retracts the old joined content and
    // admits the new with no per-side keyed state, and an A-delete ×
    // B-insert landing in the SAME window nets to zero before the
    // merge ever sees it. Both cursors ride inside the commit (atomic
    // fold, FeedView's contract). The history crosses appends on A, a
    // CoW delete on A, a payload update on B, and a join-key insert
    // on B (the zh dimension row arrives AFTER zh docs — the view
    // must grow rows for docs it has already seen); 'de' never enters
    // B, so inner-join selectivity is real. The oracle restates the
    // final A@head ⋈ B@head over `documents` — any event dropped,
    // double-applied, or joined against the wrong snapshot breaks
    // the hash. ORACLE-EXACT; JoinViewSpec pins view == direct join
    // at EVERY sync point, tombstone retraction, and no-op syncs.
    QueryDef(
      "q228_join_view",
      (s, dir) => {
        import graft.operators.JoinView
        val adir = Similarity.freshIndexDir("joinview_a")
        val bdir = Similarity.freshIndexDir("joinview_b")
        val view = Similarity.freshIndexDir("joinview_state")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val w = (lit(1000) + ascii(substring(col("lang"), 2, 1))).cast("long").as("w")
        val dims = docs.select("lang").distinct().select(col("lang"), w)
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).repartition(4), adir) // A v0
        TableVersions.commitAppend(dims.filter(!col("lang").isin("de", "zh")).coalesce(1), bdir) // B v0
        JoinView.init(s, adir, bdir, view, "lang", Seq("doc_id", "n_chars"), Seq("w"))
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1), adir) // A v1
        TableVersions.commitUpdate(s, bdir, "lang = 'en'", _.withColumn("w", col("w") + 7)) // B v1
        JoinView.sync(s, adir, bdir, view, "lang", Seq("doc_id", "n_chars"), Seq("w"))
        TableVersions.commitDelete(s, adir, "doc_id % 5 = 0") // A v2
        TableVersions.commitAppend(dims.filter(col("lang") === "zh").coalesce(1), bdir) // B v2
        JoinView.sync(s, adir, bdir, view, "lang", Seq("doc_id", "n_chars"), Seq("w"))
        JoinView.read(s, view).orderBy("doc_id")
      },
      Some("""SELECT lang, doc_id, n_chars,
               CAST(1000 + ascii(substr(lang, 2, 1))
                    + CASE WHEN lang = 'en' THEN 7 ELSE 0 END AS BIGINT) AS w,
               CAST(1 AS BIGINT) AS mult
        FROM documents
        WHERE doc_id % 5 <> 0 AND lang <> 'de'
        ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // ANALYZE TABLE — table-level per-column statistics for the
    // version store (TableVersions.analyzeTable/columnStats): row
    // count, null counts, string max/total lengths, and NDV via the
    // engine's KMV bottom-k estimator (q192's exact formula — exact
    // below k=256, (k−1)·2⁶⁰/kth above, both branches exercised here:
    // lang/source land in the exact branch, doc_id/text/n_chars in
    // the estimate branch). The snapshot persists under _colstats/
    // v<head> so planner-facing consumers (broadcast thresholds,
    // NDV-driven bucket counts, skew screens) read metadata, never
    // the table. The history below (two appends + a CoW delete)
    // pins that ANALYZE sees the HEAD, not the union of all commits.
    // ORACLE-EXACT: DuckDB recomputes every statistic — including the
    // KMV estimate, hash by hash — from the same table state; a
    // drifting hash, a mis-counted null, or stats computed at the
    // wrong version all break the hash.
    QueryDef(
      "q230_analyze_stats",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("analyze_store")
        val docs = Tables(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars", "text")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 =!= 2).repartition(4), tdir)
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 2), tdir)
        TableVersions.commitDelete(s, tdir, "doc_id % 7 = 0")
        TableVersions.analyzeTable(s, tdir, Seq("doc_id", "lang", "n_chars", "source", "text"))
        TableVersions
          .columnStats(s, tdir)
          .select(
            col("col"),
            col("n_rows"),
            col("n_nulls"),
            col("ndv_est"),
            col("m"),
            col("kth_h60"),
            col("max_len"),
            col("total_len"),
            col("stats_version")
          )
          .orderBy("col")
      },
      Some("""WITH h AS (
          SELECT doc_id, lang, source, n_chars, text FROM documents WHERE doc_id % 7 <> 0),
        base AS (SELECT count(*) AS n_rows FROM h),
        vals AS (
          SELECT 'doc_id' AS col, CAST(doc_id AS VARCHAR) AS v, NULL AS len FROM h
          UNION ALL SELECT 'lang', lang, length(lang) FROM h
          UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR), NULL FROM h
          UNION ALL SELECT 'source', source, length(source) FROM h
          UNION ALL SELECT 'text', text, length(text) FROM h),
        dv AS (
          SELECT DISTINCT col,
                 CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS hh
          FROM vals WHERE v IS NOT NULL),
        ranked AS (
          SELECT col, hh, row_number() OVER (PARTITION BY col ORDER BY hh) AS rk
          FROM dv),
        sk AS (
          SELECT col, CAST(count(*) AS BIGINT) AS m, max(hh) AS kth_h60
          FROM ranked WHERE rk <= 256 GROUP BY col),
        mom AS (
          SELECT col,
                 CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                 CAST(max(len) AS BIGINT) AS max_len,
                 CAST(CASE WHEN col IN ('lang', 'source', 'text')
                      THEN coalesce(sum(len), 0) END AS BIGINT) AS total_len
          FROM vals GROUP BY col)
        SELECT mom.col, base.n_rows, mom.n_nulls,
               CASE WHEN sk.m < 256 THEN sk.m
                    ELSE CAST(floor(255 * pow(2.0, 60) / greatest(sk.kth_h60, 1)) AS BIGINT)
               END AS ndv_est,
               sk.m, sk.kth_h60, mom.max_len, mom.total_len,
               CAST(2 AS BIGINT) AS stats_version
        FROM mom JOIN sk USING (col) CROSS JOIN base
        ORDER BY col""")
    ),

    // ------------------------------------------------------------------
    // GOVERNED SAMPLE VIEW (operators/SampleView): a deterministic
    // per-lang inspection sample (md5-rank bottom-buf) maintained as a
    // fold over the change feed — init on v0, one sync per source
    // commit, each sync O(changes + buf × touched groups), the source
    // never re-scanned. The history crosses an append (pure inserts
    // fold to exactly the from-scratch sample — md5-rank bottom-k is
    // min-merge associative) and a CoW ERASURE commit (deleted members
    // leave the sample and the group honestly UNDER-FILLS rather than
    // resurrecting a once-evicted row — the erasure workflow reaching
    // inspection samples). Serving is the rank-filtered window read
    // that TopKRewrite compiles to the bounded-heap operator.
    // ORACLE-EXACT: DuckDB replays the same three-step fold
    // (bottom-8 of v0, bottom-8 of that ∪ the append, minus the
    // erased keys) hash-by-hash; a resurrected row, a survived erased
    // key, or a payload not refreshed all break the hash.
    QueryDef(
      "q232_sample_view",
      (s, dir) => {
        import graft.operators.SampleView
        val src = Similarity.freshIndexDir("sampleview_src")
        val view = Similarity.freshIndexDir("sampleview_state")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 =!= 2).repartition(4), src)
        SampleView.init(s, src, view, "lang", "doc_id", "n_chars", buf = 8)
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 2), src)
        SampleView.sync(s, src, view, "lang", "doc_id", "n_chars", buf = 8)
        TableVersions.commitDelete(s, src, "doc_id % 9 = 0")
        SampleView.sync(s, src, view, "lang", "doc_id", "n_chars", buf = 8)
        SampleView.read(s, view, k = 5).orderBy("grp", "rn")
      },
      Some("""WITH v0 AS (
          SELECT lang AS grp, CAST(doc_id AS VARCHAR) AS key,
                 CAST(n_chars AS BIGINT) AS val, md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents WHERE doc_id % 3 <> 2),
        s0 AS (SELECT grp, key, val, h FROM (
            SELECT grp, key, val, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h, key) AS rn FROM v0)
          WHERE rn <= 8),
        i1 AS (
          SELECT lang AS grp, CAST(doc_id AS VARCHAR) AS key,
                 CAST(n_chars AS BIGINT) AS val, md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents WHERE doc_id % 3 = 2),
        c1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM i1),
        s1 AS (SELECT grp, key, val, h FROM (
            SELECT grp, key, val, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h, key) AS rn FROM c1)
          WHERE rn <= 8),
        c2 AS (SELECT * FROM s1 WHERE CAST(key AS BIGINT) % 9 <> 0),
        ranked AS (
          SELECT grp, key, val,
                 row_number() OVER (PARTITION BY grp ORDER BY h, key) AS rn FROM c2)
        SELECT grp, CAST(rn AS BIGINT) AS rn, key, val
        FROM ranked WHERE rn <= 5 ORDER BY grp, rn""")
    ),

    // ------------------------------------------------------------------
    // TIME-TRAVEL-CONSISTENT SEARCH (operators/AsOfIndex): the store
    // serves any retained version; this closes the gap for its
    // SECONDARY index — keyword queries AS OF any synced version,
    // via the deletion-vector applicability rule carried into the
    // posting layout (added_v ≤ v ∧ no tombstone in (added_v, v]).
    // The history crosses an append, an UPDATE (old text must stop
    // matching and the new text start matching AT ITS VERSION — the
    // planted marker token probes exactly that), and a CoW delete;
    // the same two probes run at all four versions and the index
    // syncs only the change feed (never re-reads the source).
    // ORACLE-EXACT: DuckDB re-derives every (version, probe, doc,
    // score) row from the four reconstructed table states; an
    // update leaking backward, a deleted doc resurfacing, or a tf
    // counted at the wrong version all break the hash.
    QueryDef(
      "q234_asof_search",
      (s, dir) => {
        import graft.operators.AsOfIndex
        val src = Similarity.freshIndexDir("asof_src")
        val idx = Similarity.freshIndexDir("asof_idx")
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 =!= 2).repartition(4), src)
        AsOfIndex.init(s, src, idx)
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 2), src)
        AsOfIndex.sync(s, src, idx)
        TableVersions.commitUpdate(
          s,
          src,
          "doc_id % 10 = 3",
          _.withColumn("text", concat(col("text"), lit(" graftmarker")))
        )
        TableVersions.commitDelete(s, src, "doc_id % 13 = 0")
        AsOfIndex.sync(s, src, idx) // one sync folds BOTH commits (multi-version window)
        val probes = Seq("conj" -> Seq("spark", "join"), "mark" -> Seq("graftmarker"))
        (0L to 3L)
          .flatMap(v =>
            probes.map { case (name, terms) =>
              AsOfIndex
                .conjunctiveAsOf(s, idx, terms, v)
                .select(lit(v).as("v"), lit(name).as("probe"), col("doc_id"), col("score"))
            }
          )
          .reduce(_ unionByName _)
          .orderBy("v", "probe", "doc_id")
      },
      Some("""WITH
        s0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2),
        s1 AS (SELECT doc_id, text FROM documents),
        s2 AS (SELECT doc_id, CASE WHEN doc_id % 10 = 3
                 THEN text || ' graftmarker' ELSE text END AS text FROM documents),
        s3 AS (SELECT * FROM s2 WHERE doc_id % 13 <> 0),
        states AS (
          SELECT 0 AS v, * FROM s0 UNION ALL SELECT 1, * FROM s1
          UNION ALL SELECT 2, * FROM s2 UNION ALL SELECT 3, * FROM s3),
        toks AS (
          SELECT v, doc_id, tok, count(*) AS tf
          FROM (SELECT v, doc_id, unnest(string_split(text, ' ')) AS tok FROM states)
          WHERE len(tok) > 0 GROUP BY 1, 2, 3),
        conj AS (
          SELECT v, 'conj' AS probe, doc_id, CAST(sum(tf) AS BIGINT) AS score
          FROM toks WHERE tok IN ('spark', 'join')
          GROUP BY v, doc_id HAVING count(DISTINCT tok) = 2),
        mark AS (
          SELECT v, 'mark' AS probe, doc_id, CAST(sum(tf) AS BIGINT) AS score
          FROM toks WHERE tok = 'graftmarker' GROUP BY v, doc_id)
        SELECT CAST(v AS BIGINT) AS v, probe, doc_id, score
        FROM (SELECT * FROM conj UNION ALL SELECT * FROM mark)
        ORDER BY v, probe, doc_id""")
    ),

    // ------------------------------------------------------------------
    // ATOMIC CROSS-TABLE ERASURE — the governance capstone q202/q206
    // run per-table, lifted to the catalog: a right-to-be-forgotten
    // request touching BOTH the documents table and the events table
    // lands as ONE catalog transaction (two CoW delete commits +
    // one CAS-published snapshot), so no reader ever observes the
    // subject gone from one table but present in the other. The
    // negative case is the point: a CRASHED half-erasure (the events
    // delete commits, the publish never happens) stays unobservable —
    // snapshot reads pin the pre-crash version, so the half-applied
    // state can be retried or vacuumed but never served. ORACLE-EXACT:
    // per-(snapshot, table) row/subject/crash-subject counts restated
    // over `documents`/`events`; a torn read at either snapshot, or
    // the crashed delete leaking into snapshot 1, breaks the hash.
    QueryDef(
      "q236_catalog_erasure",
      (s, dir) => {
        val cat = Similarity.freshIndexDir("erasure_cat")
        val dDir = Similarity.freshIndexDir("erasure_cat_docs")
        val eDir = Similarity.freshIndexDir("erasure_cat_events")
        val docs = Tables(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), (col("doc_id") % 50).as("owner"), col("lang"))
        val evs = Tables(s, dir, "events")
          .filter(col("event_id") % 2 === 0)
          .select(col("event_id"), (col("user_id") % 50).as("owner"), col("event_type"))
        // txn 0: both tables born in one snapshot
        Catalog.transact(s, cat) { _ =>
          Map(
            "docs" -> Catalog.Pin(dDir, TableVersions.commitAppend(docs.repartition(4), dDir)),
            "events" -> Catalog.Pin(eDir, TableVersions.commitAppend(evs.repartition(4), eDir))
          )
        }
        // txn 1: forget subjects 7 and 21 EVERYWHERE, atomically
        Catalog.transact(s, cat) { cur =>
          cur +
            ("docs" -> Catalog.Pin(dDir, TableVersions.commitDelete(s, dDir, "owner IN (7, 21)"))) +
            ("events" -> Catalog.Pin(eDir, TableVersions.commitDelete(s, eDir, "owner IN (7, 21)")))
        }
        // a CRASHED half-erasure: the events delete lands, the docs
        // delete and the publish never do — must stay unobservable
        TableVersions.commitDelete(s, eDir, "owner = 13")

        val sess = s
        import sess.implicits._
        (0L to Catalog.head(s, cat))
          .flatMap { snap =>
            Seq("docs", "events").map { t =>
              val df = Catalog.readTable(s, cat, snap, t)
              val r = df
                .agg(
                  count(lit(1)),
                  sum(when(col("owner").isin(7, 21), 1L).otherwise(0L)),
                  sum(when(col("owner") === 13, 1L).otherwise(0L))
                )
                .head()
              (snap, t, r.getLong(0), r.getLong(1), r.getLong(2))
            }
          }
          .toDF("snap", "tbl", "n_rows", "n_subject", "n_crash_subject")
          .orderBy("snap", "tbl")
      },
      Some("""WITH d AS (
          SELECT doc_id % 50 AS owner FROM documents WHERE doc_id % 2 = 0),
        e AS (
          SELECT user_id % 50 AS owner FROM events WHERE event_id % 2 = 0),
        states AS (
          SELECT 0 AS snap, 'docs' AS tbl, owner FROM d
          UNION ALL SELECT 0, 'events', owner FROM e
          UNION ALL SELECT 1, 'docs', owner FROM d WHERE owner NOT IN (7, 21)
          UNION ALL SELECT 1, 'events', owner FROM e WHERE owner NOT IN (7, 21))
        SELECT CAST(snap AS BIGINT) AS snap, tbl,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN owner IN (7, 21) THEN 1 ELSE 0 END) AS BIGINT) AS n_subject,
               CAST(sum(CASE WHEN owner = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_crash_subject
        FROM states GROUP BY snap, tbl ORDER BY snap, tbl""")
    ),

    // ------------------------------------------------------------------
    // VERSION-PINNED RESULT CACHE (operators/ResultCache): a
    // deterministic aggregate over a versioned table is fully
    // determined by (canonicalized plan, source versions), so its
    // result is served from storage until the source COMMITS — the
    // log is the invalidation signal, no TTLs, no protocols. The
    // query runs the same rollup three times: miss (computes +
    // persists), hit (the returned frame must SCAN THE CACHE ENTRY,
    // not the table — asserted in-plan), then a CoW delete moves the
    // version and the third run is a miss with the new answer. The
    // hit/miss sequence is part of the query's contract (require);
    // values are ORACLE-EXACT for both table states — a stale hit
    // after the commit would serve run1's rows under run3 and break
    // the hash.
    QueryDef(
      "q237_result_cache",
      (s, dir) => {
        import graft.operators.ResultCache
        val src = Similarity.freshIndexDir("rc_store")
        val cache = Similarity.freshIndexDir("rc_cache")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 =!= 2).repartition(4), src)
        def rollup() = TableVersions
          .readVersion(s, src, TableVersions.currentVersion(s, src))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars").cast("long")).as("chars"))
        val (r1, h1) = ResultCache.run(s, cache, Seq(src), rollup())
        val (r2, h2) = ResultCache.run(s, cache, Seq(src), rollup())
        require(!h1 && h2, s"expected miss-then-hit, got ($h1, $h2)")
        val hitRoots = r2.queryExecution.analyzed
          .collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  fs.location.rootPaths.map(_.toString)
                case _ => Nil
              }
          }
          .flatten
        require(
          hitRoots.nonEmpty && hitRoots.forall(_.contains("rc_cache")),
          s"hit must serve from the cache entry, scanned: ${hitRoots.mkString(", ")}"
        )
        TableVersions.commitDelete(s, src, "doc_id % 7 = 0")
        val (r3, h3) = ResultCache.run(s, cache, Seq(src), rollup())
        require(!h3, "a commit must invalidate the entry")
        Seq(("run1_miss", r1), ("run2_hit", r2), ("run3_fresh", r3))
          .map { case (tag, r) => r.select(lit(tag).as("run"), col("lang"), col("n"), col("chars")) }
          .reduce(_ unionByName _)
          .orderBy("run", "lang")
      },
      Some("""WITH s0 AS (
          SELECT lang, n_chars FROM documents WHERE doc_id % 3 <> 2),
        s1 AS (
          SELECT lang, n_chars FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 7 <> 0),
        runs AS (
          SELECT 'run1_miss' AS run, lang, count(*) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS chars FROM s0 GROUP BY lang
          UNION ALL
          SELECT 'run2_hit', lang, count(*), CAST(sum(n_chars) AS BIGINT) FROM s0 GROUP BY lang
          UNION ALL
          SELECT 'run3_fresh', lang, count(*), CAST(sum(n_chars) AS BIGINT) FROM s1 GROUP BY lang)
        SELECT run, lang, n, chars FROM runs ORDER BY run, lang""")
    ),

    // ------------------------------------------------------------------
    // CHECK CONSTRAINTS (Delta's ALTER TABLE ADD CONSTRAINT): declared
    // invariants enforced at WRITE time — every row-adding commit
    // (append/merge/update post-images) pays one aggregate pass over
    // its NEW rows and refuses loudly when any violates, with the
    // table unchanged; deletes/compaction/z-order add no rows and are
    // unchecked. Adding a constraint validates the existing head
    // first and refuses if history already violates. SQL semantics:
    // FALSE violates, NULL passes. The query drives every refusal
    // path (violating append, violating update post-image,
    // unaddable constraint) and every accepted path, then proves
    // the refused commits left NOTHING: the final census, version
    // count and constraint list are ORACLE-EXACT against the
    // accepted commits alone.
    QueryDef(
      "q238_check_constraints",
      (s, dir) => {
        val src = Similarity.freshIndexDir("ck_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0).repartition(3), src)
        TableVersions.addConstraint(s, src, "chars_nonneg", "n_chars >= 0")
        TableVersions.addConstraint(s, src, "lang_shape", "length(lang) = 2")
        // a constraint the existing data violates must be unaddable
        val unaddable =
          try { TableVersions.addConstraint(s, src, "impossible", "n_chars > 1000000000"); false }
          catch { case _: IllegalArgumentException => true }
        require(unaddable, "addConstraint accepted a violated invariant")
        // accepted append
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 1), src)
        // violating append refused, table unchanged
        val badAppend =
          try {
            TableVersions.commitAppend(
              docs.filter(col("doc_id") % 3 === 2).withColumn("n_chars", lit(-1L)),
              src
            ); false
          } catch { case _: IllegalArgumentException => true }
        require(badAppend, "violating append was accepted")
        // violating update post-image refused
        val badUpdate =
          try {
            TableVersions.commitUpdate(s, src, "doc_id % 5 = 0", _.withColumn("lang", lit("xxx")))
            false
          } catch { case _: IllegalArgumentException => true }
        require(badUpdate, "violating update was accepted")
        // accepted merge (fresh rows satisfying both constraints)
        TableVersions.commitMerge(docs.filter(col("doc_id") % 3 === 2), src, "doc_id")
        val head = TableVersions
          .readVersion(s, src, TableVersions.currentVersion(s, src))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"))
          .select(lit("census").as("probe"), col("lang").as("k"), col("n"))
        val sess = s
        import sess.implicits._
        val meta = Seq(("meta", "n_versions", TableVersions.currentVersion(s, src) + 1))
          .toDF("probe", "k", "n")
        val cons = TableVersions
          .constraintList(s, src)
          .map { case (n, _) => ("constraint", n, 1L) }
          .toDF("probe", "k", "n")
        head.unionByName(meta).unionByName(cons).orderBy("probe", "k")
      },
      Some("""WITH census AS (
          SELECT 'census' AS probe, lang AS k, count(*) AS n
          FROM documents GROUP BY lang),
        extras AS (
          SELECT 'meta' AS probe, 'n_versions' AS k, CAST(3 AS BIGINT) AS n
          UNION ALL SELECT 'constraint', 'chars_nonneg', 1
          UNION ALL SELECT 'constraint', 'lang_shape', 1)
        SELECT probe, k, n FROM (SELECT * FROM census UNION ALL SELECT * FROM extras)
        ORDER BY probe, k""")
    ),

    // ------------------------------------------------------------------
    // MAINTENANCE AUTOPILOT (TableVersions.maintain): the scheduled
    // hygiene job as ONE idempotent call — inspect the log (metadata
    // only) and run exactly what the table's state asks for, in debt
    // order: checkpoint (log tail ≥ 8 commits), compactMor (live
    // deletion vectors), optimize (≥ 4 small files), compactSkipping
    // (> 4 dead stats rows). The fixture manufactures all four debts
    // (10 one-file appends + a MOR delete + a stats refresh that the
    // optimize orphans), so ONE maintain() fires all four actions in
    // order — and the second maintain() does NOTHING, the
    // idempotence that makes a cron-scheduled run safe. Reads are
    // byte-identical across maintenance (every action is a logical
    // no-op commit or checked swap): the census is ORACLE-EXACT over
    // the MOR-deleted state, and the action/idempotence evidence
    // rides in the same hashed output.
    QueryDef(
      "q239_maintenance_autopilot",
      (s, dir) => {
        val src = Similarity.freshIndexDir("mnt_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        (0 until 10).foreach { i =>
          TableVersions.commitAppend(docs.filter(col("doc_id") % 10 === i).coalesce(1), src): Unit
        }
        // the delete hits one append's file only: compactMor rewrites
        // that file alone, so the nine untouched one-file appends arm
        // `optimize` whatever file count the rewrite writes
        TableVersions.commitDeleteMor(s, src, "doc_id % 17 = 0 AND doc_id % 10 = 0")
        def sweep(d: String) = TableVersions.maintain(
          s,
          d,
          checkpointEvery = 8,
          minSmallFiles = 4,
          smallBytes = 32L * 1024 * 1024,
          maxDeadSkipRows = 2
        )
        val acts = sweep(src)
        require(
          acts.map(_._1) == Seq("checkpoint", "compact_mor", "optimize"),
          s"unexpected action plan: $acts"
        )
        require(sweep(src).isEmpty, "maintain must be idempotent on a healthy table")
        // the skipping arm fires on CoW churn WITHOUT small-file debt
        // (optimize and compactMor fold the skipping tables themselves)
        val src2 = Similarity.freshIndexDir("mnt_store_churn")
        (0 until 3).foreach { i =>
          TableVersions
            .commitAppend(docs.filter(col("doc_id") % 3 === i).repartition(1), src2): Unit
        }
        TableVersions.refreshStats(s, src2, Seq("doc_id")): Unit
        TableVersions.commitDelete(s, src2, "doc_id % 11 = 0")
        val acts2 = sweep(src2)
        require(acts2.map(_._1) == Seq("compact_skipping"), s"unexpected churn plan: $acts2")
        require(sweep(src2).isEmpty, "maintain must be idempotent after the fold")
        val sess = s
        import sess.implicits._
        val census = TableVersions
          .readVersion(s, src, TableVersions.currentVersion(s, src))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"))
          .select(lit("census").as("probe"), col("lang").as("k"), col("n"))
        val census2 = TableVersions
          .readVersion(s, src2, TableVersions.currentVersion(s, src2))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"))
          .select(lit("census_churn").as("probe"), col("lang").as("k"), col("n"))
        val evidence = (acts.zipWithIndex.map { case ((op, _), i) =>
          ("action", s"${i + 1}_$op", 1L)
        } ++ acts2.zipWithIndex.map { case ((op, _), i) =>
          ("action_churn", s"${i + 1}_$op", 1L)
        }).toDF("probe", "k", "n")
        census.unionByName(census2).unionByName(evidence).orderBy("probe", "k")
      },
      Some("""WITH census AS (
          SELECT 'census' AS probe, lang AS k, count(*) AS n
          FROM documents WHERE NOT (doc_id % 17 = 0 AND doc_id % 10 = 0) GROUP BY lang),
        census2 AS (
          SELECT 'census_churn' AS probe, lang AS k, count(*) AS n
          FROM documents WHERE doc_id % 11 <> 0 GROUP BY lang),
        extras AS (
          SELECT 'action' AS probe, '1_checkpoint' AS k, CAST(1 AS BIGINT) AS n
          UNION ALL SELECT 'action', '2_compact_mor', 1
          UNION ALL SELECT 'action', '3_optimize', 1
          UNION ALL SELECT 'action_churn', '1_compact_skipping', 1)
        SELECT probe, k, n FROM (
          SELECT * FROM census UNION ALL SELECT * FROM census2
          UNION ALL SELECT * FROM extras)
        ORDER BY probe, k""")
    ),

    // ------------------------------------------------------------------
    // EXACTLY-ONCE FILE INGESTION (operators/AutoIngest — the
    // Autoloader contract): sweeps of a landing zone commit each new
    // file into the store exactly once, with the ingested rows' OWN
    // provenance column as the registry (data + provenance in one
    // commit — crash before = no loss, crash after = no duplication;
    // a side registry needs a transaction to say the same). Three
    // delivery waves arrive between sweeps; a no-op sweep between
    // them ingests nothing and commits nothing; a REDELIVERED wave-1
    // file under its same path is skipped. ORACLE-EXACT: per-(wave,
    // lang) census over the three waves' slices plus each sweep's
    // file count — a double-ingested or dropped file breaks the hash.
    QueryDef(
      "q242_auto_ingest",
      (s, dir) => {
        import graft.operators.AutoIngest
        val landing = Similarity.freshIndexDir("ai_landing")
        val store = Similarity.freshIndexDir("ai_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        def deliver(wave: Int, mod: Int): Unit =
          docs
            .filter(col("doc_id") % 3 === mod)
            .repartition(2)
            .write
            .mode("overwrite")
            .parquet(s"$landing/wave$wave")
        deliver(1, 0)
        val s1 = AutoIngest.discover(s, landing, store)
        val s1b = AutoIngest.discover(s, landing, store) // no-op sweep
        deliver(2, 1)
        deliver(3, 2)
        val s2 = AutoIngest.discover(s, landing, store)
        // redelivery: wave1's files reappear byte-identical at their
        // SAME paths (fs-level copy out and back) — next sweep must
        // skip them
        val fs = new org.apache.hadoop.fs.Path(landing)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val conf = s.sparkContext.hadoopConfiguration
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$landing/wave1"))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { st =>
            val tmp = new org.apache.hadoop.fs.Path(st.getPath.toString + ".redeliver")
            org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, tmp, false, conf)
            fs.delete(st.getPath, false)
            fs.rename(tmp, st.getPath)
          }
        val s3Files = AutoIngest.discover(s, landing, store)
        require(s1 == 2L && s1b == 0L && s2 == 4L, s"sweep counts: $s1, $s1b, $s2")
        require(s3Files == 0L, s"redelivered files were re-ingested: $s3Files")
        // exactly one commit per non-empty sweep
        require(
          TableVersions.currentVersion(s, store) == 1L,
          "expected exactly two commits (one per non-empty sweep)"
        )
        val sess = s
        import sess.implicits._
        val census = TableVersions
          .readVersion(s, store, 1L)
          .groupBy(
            regexp_extract(col("__ingest_src"), "(wave[0-9]+)", 1).as("wave"),
            col("lang")
          )
          .agg(count(lit(1)).as("n"))
        val meta = Seq(("sweeps", "files_ingested", s1 + s2))
          .toDF("wave", "lang", "n")
        census.unionByName(meta).orderBy("wave", "lang")
      },
      Some("""WITH waves AS (
          SELECT 'wave1' AS wave, lang FROM documents WHERE doc_id % 3 = 0
          UNION ALL SELECT 'wave2', lang FROM documents WHERE doc_id % 3 = 1
          UNION ALL SELECT 'wave3', lang FROM documents WHERE doc_id % 3 = 2),
        census AS (
          SELECT wave, lang, count(*) AS n FROM waves GROUP BY wave, lang),
        meta AS (SELECT 'sweeps' AS wave, 'files_ingested' AS lang, CAST(6 AS BIGINT) AS n)
        SELECT wave, lang, n FROM (SELECT * FROM census UNION ALL SELECT * FROM meta)
        ORDER BY wave, lang""")
    ),

    // ------------------------------------------------------------------
    // DATA-SUBJECT ACCESS REQUEST (the access right completing the
    // governance triad: q236 erases atomically, q232's samples
    // forget, THIS enumerates): one sweep gathers every record a
    // subject owns across the primary tables AND the derived
    // artifacts — here the per-lang inspection sample, which retains
    // subject rows a table-only sweep would miss. Each source is a
    // keyed filter (at scale: bloom/stats point reads, the q196/q188
    // paths); the report is the union tagged by provenance.
    // ORACLE-EXACT: DuckDB re-derives the subject's rows from the
    // base tables and REPLAYS the sample fold — a record missed in
    // any source (the access-request failure mode) breaks the hash.
    QueryDef(
      "q246_dsar_export",
      (s, dir) => {
        import graft.operators.{BitmapIndex, PositionalIndex, SampleView}
        val dDir = Similarity.freshIndexDir("dsar_docs")
        val eDir = Similarity.freshIndexDir("dsar_events")
        val view = Similarity.freshIndexDir("dsar_sample")
        val bmDir = Similarity.freshIndexDir("dsar_bitmap")
        val posDir = Similarity.freshIndexDir("dsar_pos")
        val covDir = Similarity.freshIndexDir("dsar_cov")
        val docs = Tables(s, dir, "documents")
          .select(
            col("doc_id"),
            (col("doc_id") % 50).as("owner"),
            col("lang"),
            col("n_chars"),
            col("text")
          )
        val evs = Tables(s, dir, "events")
          .select(col("event_id"), (col("user_id") % 50).as("owner"), col("event_type"))
        TableVersions.commitAppend(docs.repartition(4), dDir)
        TableVersions.commitAppend(evs.repartition(4), eDir)
        SampleView.init(s, dDir, view, "lang", "doc_id", "owner", buf = 8)
        // the two round-14 persisted indexes join the sweep: a DSAR
        // must enumerate EVERY artifact retaining the subject, and
        // these retain doc membership (bitmap) and token positions
        // (positional) even if the primary table were dropped
        BitmapIndex.build(docs, "doc_id", "lang", bmDir)
        PositionalIndex.build(docs.select("doc_id", "text"), posDir)
        graft.operators.CoveringIndex.init(s, dDir, covDir, "doc_id", Seq("lang")): Unit
        val subject = 7L
        val head = (d: String) => TableVersions.readVersion(s, d, TableVersions.currentVersion(s, d))
        val subjDocs = head(dDir).filter(col("owner") === subject)
        val fromDocs = subjDocs
          .select(lit("docs").as("src"), col("doc_id").as("rec_id"), col("lang").as("attr"))
        val fromEvents = head(eDir)
          .filter(col("owner") === subject)
          .select(lit("events").as("src"), col("event_id").as("rec_id"), col("event_type").as("attr"))
        val fromSample = SampleView
          .read(s, view, 8)
          .filter(col("val") === subject) // val carries the owner
          .select(lit("sample").as("src"), col("key").cast("long").as("rec_id"), col("grp").as("attr"))
        // bitmap: point-membership probe over the subject's keys only
        // (words touched, never the keyspace)
        val fromBitmap = BitmapIndex
          .membership(s, bmDir, "lang", subjDocs.select("doc_id"), "doc_id")
          .select(lit("bitmap").as("src"), col("k").as("rec_id"), col("value").as("attr"))
        // positional: how many postings the index retains per subject
        // doc — the per-artifact retention count an access report lists
        val fromPos = PositionalIndex
          .postingCounts(s, posDir, subjDocs.select("doc_id"))
          .select(
            lit("pos_index").as("src"),
            col("doc_id").as("rec_id"),
            concat(lit("postings:"), col("n_postings")).as("attr")
          )
        // covering index: the subject's retained (key, payload) rows
        val fromCov = graft.operators.CoveringIndex
          .read(s, covDir, "doc_id", Seq("lang"))
          .filter(col("doc_id") % 50 === subject)
          .select(lit("cov_index").as("src"), col("doc_id").as("rec_id"), col("lang").as("attr"))
        fromDocs
          .unionByName(fromEvents)
          .unionByName(fromSample)
          .unionByName(fromBitmap)
          .unionByName(fromPos)
          .unionByName(fromCov)
          .orderBy("src", "rec_id")
      },
      Some("""WITH d AS (
          SELECT 'docs' AS src, doc_id AS rec_id, lang AS attr
          FROM documents WHERE doc_id % 50 = 7),
        e AS (
          SELECT 'events', event_id, event_type
          FROM events WHERE user_id % 50 = 7),
        sample AS (
          SELECT lang AS grp, doc_id, doc_id % 50 AS owner,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                             CAST(doc_id AS VARCHAR)) AS rn
          FROM documents),
        sv AS (
          SELECT 'sample', doc_id, grp FROM sample WHERE rn <= 8 AND owner = 7),
        bm AS (
          SELECT 'bitmap', doc_id, lang FROM documents WHERE doc_id % 50 = 7),
        cov AS (
          SELECT 'cov_index' AS src, doc_id, lang FROM documents WHERE doc_id % 50 = 7),
        pos AS (
          SELECT 'pos_index', doc_id,
                 'postings:' || CAST(len(list_filter(string_split(text, ' '),
                                                     tok -> len(tok) > 0)) AS VARCHAR)
          FROM documents
          WHERE doc_id % 50 = 7
            AND len(list_filter(string_split(text, ' '), tok -> len(tok) > 0)) > 0)
        SELECT src, rec_id, attr FROM (
          SELECT * FROM d UNION ALL SELECT * FROM e UNION ALL SELECT * FROM sv
          UNION ALL SELECT * FROM bm UNION ALL SELECT * FROM pos
          UNION ALL SELECT * FROM cov)
        ORDER BY src, rec_id""")
    ),

    // ------------------------------------------------------------------
    // TOKENIZATION VAULT (format-preserving pseudonymization, the
    // governance pattern between plaintext and irreversible hashing):
    // a sensitive column is replaced by a deterministic keyed token
    // (md5(salt‖value) — same value, same token, so joins/group-bys
    // on the tokenized corpus still work), and the token→value map
    // lives in a separate access-controlled VAULT table, the only
    // place detokenization is possible. The query proves all three
    // contracts at once: (1) analytics on tokens equal analytics on
    // plaintext group-for-group, (2) the vault is value-scaled (one
    // row per distinct value, not per data row), (3) the vault join
    // restores the original exactly. Salt rotation = rebuild with a
    // new salt; erasing a value from the vault makes all its tokens
    // permanently opaque — the crypto-shredding move. ORACLE-EXACT
    // (md5 is the engines' shared primitive).
    QueryDef(
      "q249_tokenization_vault",
      (s, dir) => {
        val salt = "graft-vault-r12"
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
        val tokenized = docs
          .withColumn("source_tok", md5(concat(lit(salt), lit("|"), col("source"))))
          .drop("source")
        val vault = docs
          .select(col("source"))
          .distinct()
          .select(md5(concat(lit(salt), lit("|"), col("source"))).as("source_tok"), col("source"))
        val tokCensus = tokenized
          .groupBy("source_tok")
          .agg(count(lit(1)).as("n"), sum(col("n_chars").cast("long")).as("chars"))
        val restored = tokCensus
          .join(vault, Seq("source_tok"))
          .select(lit("restored").as("probe"), col("source").as("k"), col("n"), col("chars"))
        val direct = docs
          .groupBy(col("source").as("k"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars").cast("long")).as("chars"))
          .select(lit("plaintext").as("probe"), col("k"), col("n"), col("chars"))
        val vaultSize = vault
          .agg(count(lit(1)).as("n"))
          .select(lit("vault").as("probe"), lit("n_values").as("k"), col("n"), lit(0L).as("chars"))
        restored.unionByName(direct).unionByName(vaultSize).orderBy("probe", "k")
      },
      Some("""WITH direct AS (
          SELECT 'plaintext' AS probe, source AS k, count(*) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY source),
        restored AS (
          SELECT 'restored' AS probe, k, n, chars FROM direct),
        vault AS (
          SELECT 'vault' AS probe, 'n_values' AS k,
                 CAST(count(DISTINCT source) AS BIGINT) AS n, CAST(0 AS BIGINT) AS chars
          FROM documents)
        SELECT probe, k, n, chars FROM (
          SELECT * FROM restored UNION ALL
          SELECT 'plaintext', k, n, chars FROM direct UNION ALL
          SELECT * FROM vault)
        ORDER BY probe, k""")
    ),

    // ------------------------------------------------------------------
    // STATS-ADVISED JOIN (operators/StatsAdvisor): ANALYZE's persisted
    // column statistics drive the broadcast decision Spark can't make
    // from file sizes alone for a versioned table (pre-vacuum logs
    // overcount; AQE only learns sizes after the first shuffle). A
    // tiny lang dimension prices under the threshold → its head comes
    // back broadcast-HINTED and the plan must carry the hint (not
    // rely on AQE's luck); the fact-sized "dimension" prices over →
    // no hint, the join left for AQE to plan (asserted on the
    // logical Join's hint, which is AQE-independent). Values are
    // ORACLE-EXACT either way — an advisor is only safe if it can
    // never change answers.
    QueryDef(
      "q250_stats_advised_join",
      (s, dir) => {
        import graft.operators.StatsAdvisor
        val dimDir = Similarity.freshIndexDir("sa_dim")
        val bigDir = Similarity.freshIndexDir("sa_big")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars", "text")
        val dim = docs
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w", (lit(1000) + ascii(substring(col("lang"), 1, 1))).cast("long"))
        TableVersions.commitAppend(dim.coalesce(1), dimDir)
        TableVersions.commitAppend(docs.repartition(4), bigDir)
        TableVersions.analyzeTable(s, dimDir, Seq("lang", "n_docs", "w"))
        TableVersions.analyzeTable(s, bigDir, Seq("doc_id", "lang", "n_chars", "text"))
        require(
          StatsAdvisor.estimatedBytes(s, dimDir) < StatsAdvisor.estimatedBytes(s, bigDir),
          "stats must price the dimension under the fact"
        )
        def hintsOf(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan
            .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint }
        val facts = docs.select("doc_id", "lang", "n_chars")
        val small = facts
          .join(StatsAdvisor.adviseDim(s, dimDir, maxBytes = 64 * 1024), Seq("lang"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), max("w").as("w"))
          .select(lit("hinted").as("probe"), col("lang"), col("n"), col("w"))
        val hs = hintsOf(small)
        require(
          hs.exists(h => h.rightHint.exists(_.strategy.nonEmpty)),
          s"dimension under threshold must carry a broadcast hint: $hs"
        )
        val unhinted = facts
          .join(
            StatsAdvisor
              .adviseDim(s, bigDir, maxBytes = 64 * 1024)
              .select(col("doc_id").as("d2"), col("n_chars").as("nc2")),
            col("doc_id") === col("d2")
          )
        val hu = hintsOf(unhinted)
        require(
          hu.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty),
          s"fact-sized side must stay unhinted: $hu"
        )
        small.orderBy("lang")
      },
      Some("""SELECT 'hinted' AS probe, lang, count(*) AS n,
               CAST(1000 + ascii(substring(lang, 1, 1)) AS BIGINT) AS w
        FROM documents GROUP BY lang ORDER BY lang""")
    ),

    // ------------------------------------------------------------------
    // CONFLICT-CHECKED COPY-ON-WRITE — the Delta-ConflictChecker
    // protocol that upgrades q217's append-only OCC to REWRITES: a
    // delete resolves and stages against its snapshot, a rival delete
    // lands in the claim window (the test seam interleaves them
    // deterministically), and the loser VALIDATES the rival's log
    // entry instead of failing — disjoint file sets rebase for free
    // (both writers land, no manual retry, no recompute), while a
    // genuinely overlapping rival (probed here with a same-file
    // delete) fails safe with the staging discarded and the table
    // byte-identical. The oracle restates the serial execution of
    // both deletes — a lost rival write, a resurrected row, or a
    // half-published rebase all break the hash. ORACLE-EXACT;
    // ConflictCheckSpec pins the protocol edges (matching rival
    // adds, rival deletion vectors, in-flight rivals, claim reuse).
    QueryDef(
      "q254_conflict_checked_rewrite",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("ccw_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        // two files: evens and odds land separately, so the two
        // writers' hit sets are provably disjoint
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).coalesce(1), tdir) // v0
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1).coalesce(1), tdir) // v1
        // writer A stages its odd-file delete; writer B's even-file
        // delete commits inside A's claim window; A rebases onto v3
        val v = TableVersions.rewriteCow(
          s,
          tdir,
          TableVersions.Where("doc_id % 2 = 1 AND doc_id % 5 = 0"),
          None,
          beforeClaim = () => {
            TableVersions.commitDelete(s, tdir, "doc_id % 2 = 0 AND doc_id % 7 = 0"): Unit
          }
        )
        require(v == 3L, s"disjoint rival must rebase to v3, got v$v")
        // fail-safe probe: an overlapping rival (same odd file) must
        // refuse and leave the head untouched
        val headBefore = TableVersions.currentVersion(s, tdir)
        val refused =
          try {
            TableVersions.rewriteCow(
              s,
              tdir,
              TableVersions.Where("doc_id % 2 = 1 AND doc_id % 3 = 0"),
              None,
              beforeClaim = () => {
                TableVersions.commitDelete(s, tdir, "doc_id % 2 = 1 AND doc_id % 11 = 0"): Unit
              }
            )
            false
          } catch { case _: TableVersions.ConcurrentCommitException => true }
        require(refused, "overlapping rival must fail safe")
        // serial re-execution from the new head then lands cleanly
        TableVersions.commitDelete(s, tdir, "doc_id % 2 = 1 AND doc_id % 3 = 0"): Unit
        require(
          TableVersions.currentVersion(s, tdir) == headBefore + 2,
          "rival + re-executed delete must both advance the head"
        )
        TableVersions
          .readVersion(s, tdir, TableVersions.currentVersion(s, tdir))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents
        WHERE NOT (doc_id % 2 = 1 AND doc_id % 5 = 0)
          AND NOT (doc_id % 2 = 0 AND doc_id % 7 = 0)
          AND NOT (doc_id % 2 = 1 AND doc_id % 11 = 0)
          AND NOT (doc_id % 2 = 1 AND doc_id % 3 = 0)
        ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // CONFLICT-CHECKED MERGE-ON-READ DELETE (round 14) — q254's
    // protocol extended to the DV path, closing the r13 gap where
    // the MOR delete blind-failed on any version race. Two writers
    // DV-deleting DIFFERENT files commute: positions anchor per file,
    // so disjoint target sets rebase for free (the staged DV republishes
    // under the claimed version — applicability anchors on the
    // COMMITTED version, so the stamp moves with the rebase). A rival
    // COPY-ON-WRITE delete that rewrites a targeted file fails safe:
    // the staged positions anchor to a dead file and would silently
    // miss the rewritten rows. The fixture interleaves both cases via
    // the test seam, re-executes the refused delete serially, folds
    // everything with compactMor, and the oracle restates the serial
    // execution — identical final state to q254, now reached through
    // O(matched)-cost deletes. ORACLE-EXACT; ConflictCheckSpec pins the
    // protocol edges (same-file rival DVs, matching rival adds, time
    // travel across the rebased DV).
    QueryDef(
      "q280_mor_conflict_delete",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("morc_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).coalesce(1), tdir) // v0
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1).coalesce(1), tdir) // v1
        // writer A stages its odd-file DV; writer B's even-file DV
        // commits inside A's claim window; disjoint files — A rebases
        val v = TableVersions.deleteMor(
          s,
          tdir,
          TableVersions.Where("doc_id % 2 = 1 AND doc_id % 5 = 0"),
          beforeClaim = () => {
            TableVersions.commitDeleteMor(s, tdir, "doc_id % 2 = 0 AND doc_id % 7 = 0"): Unit
          }
        )
        require(v == 3L, s"disjoint rival DV must rebase to v3, got v$v")
        // fail-safe probe: a rival CoW delete REWRITES the odd file —
        // the staged positions anchor to a dead file and must refuse
        val headBefore = TableVersions.currentVersion(s, tdir)
        val refused =
          try {
            TableVersions.deleteMor(
              s,
              tdir,
              TableVersions.Where("doc_id % 2 = 1 AND doc_id % 3 = 0"),
              beforeClaim = () => {
                TableVersions.commitDelete(s, tdir, "doc_id % 2 = 1 AND doc_id % 11 = 0"): Unit
              }
            )
            false
          } catch { case _: TableVersions.ConcurrentCommitException => true }
        require(refused, "a rival rewriting a targeted file must fail safe")
        // serial re-execution from the new head lands cleanly
        TableVersions.commitDeleteMor(s, tdir, "doc_id % 2 = 1 AND doc_id % 3 = 0"): Unit
        require(
          TableVersions.currentVersion(s, tdir) == headBefore + 2,
          "rival + re-executed delete must both advance the head"
        )
        // compaction folds the rebased DVs into the layout — answers
        // must be identical before and after
        val before = TableVersions
          .readVersion(s, tdir, TableVersions.currentVersion(s, tdir))
          .orderBy("doc_id")
          .collect()
          .toSeq
        TableVersions.compactMor(s, tdir)
        val after = TableVersions
          .readVersion(s, tdir, TableVersions.currentVersion(s, tdir))
          .orderBy("doc_id")
        require(after.collect().toSeq == before, "compactMor changed the head state")
        after
      },
      Some("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents
        WHERE NOT (doc_id % 2 = 1 AND doc_id % 5 = 0)
          AND NOT (doc_id % 2 = 0 AND doc_id % 7 = 0)
          AND NOT (doc_id % 2 = 1 AND doc_id % 11 = 0)
          AND NOT (doc_id % 2 = 1 AND doc_id % 3 = 0)
        ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // RESULT-CACHE RETENTION — closes q237's honest gap: entries are
    // keyed by (canonical plan, source versions), so a commit makes
    // the old entry UNADDRESSABLE garbage that nothing ever reclaimed.
    // Each entry now stores its version pins in a sidecar, and
    // maintain()'s retention sweep drops exactly the entries pinned
    // behind their source's head — the live entry survives and still
    // HITS (required in-query), the dead one is gone (directory count
    // asserted). The oracle restates the cached aggregate at the
    // post-commit head — a sweep that dropped the live entry, or a hit
    // served from the stale one, both break the hash. ORACLE-EXACT;
    // ResultCacheSpec pins the sweep's idempotence and the mid-compute
    // commit race (pins re-validated before publish).
    QueryDef(
      "q255_result_cache_eviction",
      (s, dir) => {
        import graft.operators.ResultCache
        val tdir = Similarity.freshIndexDir("rce_store")
        val cache = Similarity.freshIndexDir("rce_cache")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs, tdir) // v0
        def rollup() = TableVersions
          .readVersion(s, tdir, TableVersions.currentVersion(s, tdir))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        val (_, h0) = ResultCache.run(s, cache, Seq(tdir), rollup())
        require(!h0, "first run must miss")
        TableVersions.commitDelete(s, tdir, "doc_id % 9 = 4") // v1: old entry now dead
        val (_, h1) = ResultCache.run(s, cache, Seq(tdir), rollup())
        require(!h1, "post-commit run must miss (new key)")
        val fs = new org.apache.hadoop.fs.Path(cache)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        require(fs.listStatus(new org.apache.hadoop.fs.Path(cache)).length == 2)
        val actions = TableVersions.maintain(s, tdir, resultCacheDir = Some(cache))
        require(
          actions.exists(_._1 == "evict_result_cache"),
          s"maintain must sweep the dead entry: $actions"
        )
        require(
          fs.listStatus(new org.apache.hadoop.fs.Path(cache)).length == 1,
          "exactly the live entry survives"
        )
        val (served, hit) = ResultCache.run(s, cache, Seq(tdir), rollup())
        require(hit, "the surviving entry must still hit")
        served.orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE doc_id % 9 <> 4
        GROUP BY lang ORDER BY lang""")
    ),

    // ------------------------------------------------------------------
    // CATALOG-ROUTED ERASURE ACROSS EVERY DERIVED INDEX — closes the
    // gap q236 left: that query erases across two TABLES atomically,
    // but the inverted, shingle, and as-of indexes still synced
    // erasure per-artifact (q202/q203/q206), so a reader could resolve
    // a corpus that forgot a subject next to an index that still
    // serves it. Here ONE catalog transaction carries the corpus
    // delete AND all three index propagations, and readers resolve
    // corpus + index state through the SAME pinned snapshot (the
    // as-of index is queried AT the pinned corpus version; the
    // head-only indexes are tombstoned before the publish). The
    // negative case is the point: a simulated CRASH after the corpus
    // delete but before any index sync leaves the catalog head
    // untouched — in-query requires assert the pinned corpus STILL
    // SERVES the subject (consistent pre-erasure pair, never the torn
    // forgot-but-indexed state) — and the recovery transaction is
    // FEED-DRIVEN (tombstones derive from the CDC window between the
    // pinned and current corpus versions), so it replays the crashed
    // half-erasure exactly once, idempotently. ORACLE-EXACT: corpus
    // census + token-hit probes restated per snapshot over
    // `documents`; a subject leaking through any probe at snapshot 1,
    // or the crash leaking into snapshot 0, breaks the hash.
    QueryDef(
      "q256_catalog_index_erasure",
      (s, dir) => {
        import graft.operators.{BitmapIndex, PositionalIndex}
        val cat = Similarity.freshIndexDir("cie_cat")
        val corpus = Similarity.freshIndexDir("cie_corpus")
        val inv = Similarity.freshIndexDir("cie_inv")
        val shingle = Similarity.freshIndexDir("cie_shingle")
        val asof = Similarity.freshIndexDir("cie_asof")
        val bitmap = Similarity.freshIndexDir("cie_bitmap")
        val posIdx = Similarity.freshIndexDir("cie_pos")
        val covIdx = Similarity.freshIndexDir("cie_cov")
        val docs = Tables(s, dir, "documents")
          .filter(col("doc_id") % 3 === 0)
          .select("doc_id", "lang", "text")
        val subjectCond = "doc_id % 17 = 3"

        // txn 0: corpus + ALL SIX derived indexes born in one snapshot
        // (round 14 folds the bitmap, positional, and covering indexes
        // in — the round-13 gap where the newest persisted indexes sat
        // outside the one-transaction erasure)
        Catalog.transact(s, cat) { _ =>
          val v0 = TableVersions.commitAppend(docs.repartition(4), corpus)
          val head = TableVersions.readVersion(s, corpus, v0)
          // the six derived indexes are independent artifacts of the
          // same pinned snapshot (disjoint output dirs) — build them as
          // concurrent Spark jobs so each small build's task tail
          // back-fills the cores the previous one idled (guide §2.6);
          // the transaction publishes only after all six land
          graft.operators.Concurrently.run(
            () => InvertedIndex.build(head.select("doc_id", "text"), inv),
            () => ShingleIndex.build(head.select("doc_id", "text"), shingle),
            () => AsOfIndex.init(s, corpus, asof): Unit,
            () => BitmapIndex.build(head, "doc_id", "lang", bitmap),
            () => PositionalIndex.build(head.select("doc_id", "text"), posIdx),
            () => graft.operators.CoveringIndex.init(s, corpus, covIdx, "doc_id", Seq("lang")): Unit
          )
          Map(
            "corpus" -> Catalog.Pin(corpus, v0),
            "inv" -> Catalog.Pin(inv, v0),
            "shingle" -> Catalog.Pin(shingle, v0),
            "asof" -> Catalog.Pin(asof, v0),
            "bitmap" -> Catalog.Pin(bitmap, v0),
            "positional" -> Catalog.Pin(posIdx, v0),
            "covering" -> Catalog.Pin(covIdx, v0)
          )
        }

        // head-state census over the two round-14 indexes — captured
        // BEFORE the erasure so the crash assertions below can prove
        // neither index moved while the transaction aborted
        def bitmapTotal(): Long = BitmapIndex
          .valueCounts(s, bitmap, "lang")
          .agg(coalesce(sum("n"), lit(0L)))
          .head()
          .getLong(0)
        def phraseState(): (Long, Long) = {
          val r = PositionalIndex
            .phraseCounts(s, posIdx, Seq("spark", "join"))
            .agg(
              count(lit(1)),
              coalesce(sum(when(expr(subjectCond), 1L).otherwise(0L)), lit(0L))
            )
            .head()
          (r.getLong(0), r.getLong(1))
        }
        def covState(): (Long, Long) = {
          val r = graft.operators.CoveringIndex
            .read(s, covIdx, "doc_id", Seq("lang"))
            .agg(
              count(lit(1)),
              coalesce(sum(when(expr(subjectCond), 1L).otherwise(0L)), lit(0L))
            )
            .head()
          (r.getLong(0), r.getLong(1))
        }
        val bitmapPre = bitmapTotal()
        val phrasePre = phraseState()
        val covPre = covState()

        // the feed-driven erasure transaction: corpus delete (skipped
        // when a crashed attempt already landed it), index tombstones
        // from the CDC window (pinned, head] — replay-safe — and the
        // as-of sync; pins move together or not at all
        def erasureBody(crashBeforeIndexes: Boolean)(
            cur: Map[String, Catalog.Pin]
        ): Map[String, Catalog.Pin] = {
          val pinned = cur("corpus").version
          val headV = TableVersions.safeHead(s, corpus)
          val still = !TableVersions.readVersion(s, corpus, headV).filter(subjectCond).isEmpty
          val afterDelete =
            if (still) TableVersions.commitDelete(s, corpus, subjectCond) else headV
          if (crashBeforeIndexes) throw new RuntimeException("simulated crash mid-erasure")
          val confirmed = TableVersions
            .changesFeed(s, corpus, pinned, afterDelete)
            .filter(col("_change_type") === "delete")
            .select("doc_id")
            .distinct()
            .localCheckpoint()
          // six independent propagations off the same pinned tombstone
          // set (disjoint index dirs) — concurrent jobs, same §2.6
          // back-fill as the builds above; the covering index is
          // CDC-maintained, so the same feed the tombstones derive
          // from drives its sync
          graft.operators.Concurrently.run(
            () => InvertedIndex.delete(confirmed, inv),
            () => ShingleIndex.delete(confirmed, shingle),
            () => AsOfIndex.sync(s, corpus, asof): Unit,
            () => BitmapIndex.delete(confirmed, "doc_id", bitmap),
            () => PositionalIndex.delete(confirmed, posIdx),
            () => graft.operators.CoveringIndex.sync(s, corpus, covIdx, "doc_id", Seq("lang")): Unit
          )
          Map(
            "corpus" -> Catalog.Pin(corpus, afterDelete),
            "inv" -> Catalog.Pin(inv, afterDelete),
            "shingle" -> Catalog.Pin(shingle, afterDelete),
            "asof" -> Catalog.Pin(asof, afterDelete),
            "bitmap" -> Catalog.Pin(bitmap, afterDelete),
            "positional" -> Catalog.Pin(posIdx, afterDelete),
            "covering" -> Catalog.Pin(covIdx, afterDelete)
          )
        }

        // CRASH: the corpus delete lands, nothing else does
        val crashed =
          try { Catalog.transact(s, cat)(erasureBody(crashBeforeIndexes = true)); false }
          catch { case _: RuntimeException => true }
        require(crashed, "the simulated crash must abort the transaction")
        require(Catalog.head(s, cat) == 0L, "a crashed erasure must publish nothing")
        // unobservability: the PINNED corpus still serves the subject,
        // consistent with every index — never forgot-but-indexed
        val pinnedCorpus = Catalog.readTable(s, cat, 0L, "corpus")
        require(
          !pinnedCorpus.filter(subjectCond).isEmpty,
          "catalog-routed read must still serve the subject after the crash"
        )
        val pin0 = Catalog.pinsAt(s, cat, 0L)("asof").version
        require(
          !AsOfIndex
            .conjunctiveAsOf(s, asof, Seq("the"), pin0)
            .filter("doc_id % 17 = 3")
            .isEmpty,
          "the as-of index at the pinned version must still serve the subject"
        )
        // ...and the crash reached NONE of the five indexes: the bitmap
        // census and the positional phrase hits are bit-identical to
        // their pre-erasure state (consistent pre-erasure snapshot)
        require(bitmapTotal() == bitmapPre, "crash leaked into the bitmap index")
        require(phraseState() == phrasePre, "crash leaked into the positional index")
        require(covState() == covPre, "crash leaked into the covering index")

        // RECOVERY: the same feed-driven body, replayed to completion
        Catalog.transact(s, cat)(erasureBody(crashBeforeIndexes = false))
        require(Catalog.head(s, cat) == 1L, "recovery must publish exactly one snapshot")
        // head-only indexes hold no subject shingles/postings anymore
        require(
          ShingleIndex
            .liveRows(s, shingle)
            .filter("doc_id % 17 = 3")
            .isEmpty,
          "subject shingles must be tombstoned after the recovery transaction"
        )

        // probes, routed through the catalog at BOTH snapshots for the
        // versioned artifacts, plus the head-only round-14 indexes'
        // census at the recovered head (snapshot 1)
        val sess = s
        import sess.implicits._
        val versionedProbes = (0L to Catalog.head(s, cat)).flatMap { snap =>
          val pins = Catalog.pinsAt(s, cat, snap)
          val c = Catalog.readTable(s, cat, snap, "corpus")
          val cr = c
            .agg(count(lit(1)), sum(when(expr(subjectCond), 1L).otherwise(0L)))
            .head()
          val hits = AsOfIndex
            .conjunctiveAsOf(s, asof, Seq("spark", "join"), pins("asof").version)
          val hr = hits
            .agg(count(lit(1)), sum(when(expr(subjectCond), 1L).otherwise(0L)))
            .head()
          Seq(
            (snap, "corpus", cr.getLong(0), cr.getLong(1)),
            (snap, "asof_spark_join", hr.getLong(0), hr.getLong(1))
          )
        }
        val (phN, phSubj) = phraseState()
        val (covN, covSubj) = covState()
        val headProbes = Seq(
          (1L, "bitmap_total", bitmapTotal(), 0L),
          (1L, "phrase_spark_join", phN, phSubj),
          (1L, "covering_live", covN, covSubj)
        )
        (versionedProbes ++ headProbes)
          .toDF("snap", "probe", "n", "n_subject")
          .orderBy("snap", "probe")
      },
      Some("""WITH d AS (
          SELECT doc_id, text, CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END AS subj
          FROM documents WHERE doc_id % 3 = 0),
        hits AS (
          SELECT doc_id, subj FROM (
            SELECT d.doc_id, d.subj, tok FROM d,
              unnest(string_split(d.text, ' ')) AS t(tok)
            WHERE len(tok) > 0 AND tok IN ('spark', 'join'))
          GROUP BY doc_id, subj HAVING count(DISTINCT tok) = 2),
        toks AS (SELECT doc_id, subj, string_split(text, ' ') AS t FROM d),
        ph AS (
          SELECT doc_id, subj FROM (
            SELECT doc_id, subj, len(list_filter(range(1, len(t)),
                     i -> t[i] = 'spark' AND t[i+1] = 'join')) AS n
            FROM toks) WHERE n > 0),
        states AS (
          SELECT 0 AS snap, 'corpus' AS probe, subj FROM d
          UNION ALL SELECT 0, 'asof_spark_join', subj FROM hits
          UNION ALL SELECT 1, 'corpus', subj FROM d WHERE subj = 0
          UNION ALL SELECT 1, 'asof_spark_join', subj FROM hits WHERE subj = 0)
        SELECT snap, probe, n, n_subject FROM (
          SELECT CAST(snap AS BIGINT) AS snap, probe, count(*) AS n,
                 CAST(sum(subj) AS BIGINT) AS n_subject
          FROM states GROUP BY snap, probe
          UNION ALL
          SELECT 1, 'bitmap_total', count(*), CAST(0 AS BIGINT)
          FROM d WHERE subj = 0
          UNION ALL
          SELECT 1, 'phrase_spark_join', count(*),
                 CAST(coalesce(sum(subj), 0) AS BIGINT)
          FROM ph WHERE subj = 0
          UNION ALL
          SELECT 1, 'covering_live', count(*), CAST(0 AS BIGINT)
          FROM d WHERE subj = 0)
        ORDER BY snap, probe""")
    ),

    // ------------------------------------------------------------------
    // EQUI-DEPTH HISTOGRAM STATISTICS (round 13): the selectivity
    // statistic q230's ANALYZE can't provide — NDV + min/max say
    // nothing about mass concentration, so range estimates need
    // depth. Construction is VALUE-granular (one per-value count
    // exchange; cumulative bucket assignment over distinct values
    // only — a heavy value never splits, buckets go honest-uneven),
    // persisted under `_hist/v<head>`, and the range ESTIMATOR is the
    // textbook full-bucket + integer-interpolated-edge-bucket sum —
    // metadata-only, deterministic, restated digit for digit by the
    // oracle next to the TRUE counts so the estimate's honesty is
    // itself hash-checked. Built at the HEAD (an append + a CoW
    // delete precede the analyze). ORACLE-EXACT.
    QueryDef(
      "q265_equidepth_histogram",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("hist_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0).repartition(4), tdir)
        TableVersions.commitDelete(s, tdir, "doc_id % 11 = 6")
        TableVersions.analyzeHistogram(s, tdir, "n_chars", buckets = 8)
        val sess = s
        import sess.implicits._
        val hist = TableVersions
          .histogram(s, tdir, "n_chars")
          .select(lit("bucket").as("kind"), col("bkt").as("k"), col("lo"), col("hi"), col("n"))
        val ranges = Seq((100L, 200L), (0L, 150L), (400L, 10000L))
        val head = TableVersions.readVersion(s, tdir, TableVersions.currentVersion(s, tdir))
        val probes = ranges.zipWithIndex.flatMap { case ((a, b), i) =>
          Seq(
            ("est", i.toLong, a, b, TableVersions.estimateRange(s, tdir, "n_chars", a, b)),
            (
              "true",
              i.toLong,
              a,
              b,
              head.filter(col("n_chars") >= a && col("n_chars") <= b).count()
            )
          )
        }
        hist
          .unionByName(probes.toDF("kind", "k", "lo", "hi", "n"))
          .orderBy("kind", "k")
      },
      Some("""WITH state AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE doc_id % 3 = 0 AND doc_id % 11 <> 6),
        vals AS (SELECT x, count(*) AS c FROM state GROUP BY 1),
        tot AS (SELECT sum(c) AS total FROM vals),
        cum AS (
          SELECT x, c, COALESCE(sum(c) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM vals),
        hist AS (
          SELECT CAST(cb * 8 // total AS BIGINT) AS bkt,
                 min(x) AS lo, max(x) AS hi, CAST(sum(c) AS BIGINT) AS n
          FROM cum CROSS JOIN tot GROUP BY 1),
        ranges AS (SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), CAST(100 AS BIGINT), CAST(200 AS BIGINT)),
          (1, 0, 150), (2, 400, 10000)) AS t(k, a, b)),
        est AS (
          SELECT 'est' AS kind, r.k, r.a AS lo, r.b AS hi,
                 CAST(sum(CASE
                   WHEN h.hi < r.a OR h.lo > r.b THEN 0
                   WHEN h.lo >= r.a AND h.hi <= r.b THEN h.n
                   ELSE h.n * (least(h.hi, r.b) - greatest(h.lo, r.a) + 1)
                        // (h.hi - h.lo + 1) END) AS BIGINT) AS n
          FROM ranges r CROSS JOIN hist h GROUP BY 1, 2, 3, 4),
        tru AS (
          SELECT 'true' AS kind, r.k, r.a AS lo, r.b AS hi,
                 CAST((SELECT count(*) FROM state
                       WHERE x >= r.a AND x <= r.b) AS BIGINT) AS n
          FROM ranges r)
        SELECT kind, k, lo, hi, n FROM (
          SELECT 'bucket' AS kind, bkt AS k, lo, hi, n FROM hist
          UNION ALL SELECT * FROM est
          UNION ALL SELECT * FROM tru)
        ORDER BY kind, k""")
    ),

    // ------------------------------------------------------------------
    // OPTIMIZE HILBERT (round 13): q200's multi-dimensional clustering
    // on the HILBERT curve instead of Morton — consecutive curve
    // positions are always grid-adjacent (no quadrant-seam jumps), so
    // range reads on either clustered dimension touch fewer files for
    // the same layout budget. Same contract as every clustering
    // rewrite: a LOGICAL NO-OP commit (reads byte-equivalent, CDC
    // empty — HilbertCurveSpec pins both, plus the bijection +
    // unit-step-adjacency property that proves the fold is a genuine
    // Hilbert curve), stats refreshed after, and both dimensions'
    // pruned range reads restated by the oracle as plain filters —
    // pruning can cost speed, never rows. ORACLE-EXACT.
    QueryDef(
      "q266_hilbert_cluster",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_hilbert")
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(docs.repartition(8), tdir)
        TableVersions.optimizeHilbert(s, tdir, Seq("n_chars", "doc_id"), nOut = 16)
        TableVersions.refreshStats(s, tdir, Seq("n_chars", "doc_id"))
        def shaped(dim: String, df: org.apache.spark.sql.DataFrame) =
          df.select(lit(dim).as("dim"), col("doc_id"), col("lang"), col("n_chars"))
        shaped("by_chars", TableVersions.readVersionPruned(s, tdir, 1L, "n_chars", 100d, 300d))
          .unionByName(
            shaped("by_id", TableVersions.readVersionPruned(s, tdir, 1L, "doc_id", 1000d, 2000d))
          )
          .orderBy("dim", "doc_id")
      },
      Some("""SELECT 'by_chars' AS dim, doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents WHERE n_chars BETWEEN 100 AND 300
        UNION ALL
        SELECT 'by_id', doc_id, lang, CAST(n_chars AS BIGINT)
        FROM documents WHERE doc_id BETWEEN 1000 AND 2000
        ORDER BY dim, doc_id""")
    ),

    // ------------------------------------------------------------------
    // CDC-MAINTAINED COVERING INDEX (round 14) — the secondary-index
    // shape Hyperspace and every lakehouse point-lookup story use: a
    // key-sorted projection of (key, included columns) kept current by
    // consuming the table's CHANGE FEED (operators/CoveringIndex), so
    // a point lookup reads a few key-sorted row groups instead of the
    // table. The layout is a parquet LSM: each sync folds its whole
    // CDC window (here an append + an update + a delete in ONE window,
    // then a second single-commit window) into one segment of per-key
    // final states; reads resolve latest-wins with a single
    // max(struct(seg, …)) aggregate — no window sort. In-query
    // requires pin the contracts the oracle can't see: the index view
    // equals the table head EXACTLY (both-direction except), the
    // lookup plan's input files all live under the INDEX directory
    // (the table is never touched), and compaction folds the segments
    // without changing an answer. ORACLE-EXACT: lookup rows + a
    // per-lang census restated over `documents` with the update and
    // both deletes applied.
    QueryDef(
      "q282_covering_index",
      (s, dir) => {
        import graft.operators.CoveringIndex
        val tdir = Similarity.freshIndexDir("cov_store")
        val idx = Similarity.freshIndexDir("cov_idx")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        val key = "doc_id"
        val cols = Seq("lang", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).repartition(2), tdir)
        CoveringIndex.init(s, tdir, idx, key, cols)
        // one multi-commit window: append + update + delete fold into
        // a single segment of per-key final states
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1).repartition(2), tdir)
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        )
        TableVersions.commitDelete(s, tdir, "doc_id % 7 = 5")
        require(CoveringIndex.sync(s, tdir, idx, key, cols) == 3L, "sync must reach v3")
        // a second, single-commit window
        TableVersions.commitDelete(s, tdir, "doc_id % 11 = 2")
        require(CoveringIndex.sync(s, tdir, idx, key, cols) == 4L, "sync must reach v4")
        // the index IS the table's projection: equal in both directions
        val head = TableVersions
          .readVersion(s, tdir, 4L)
          .select((key +: cols).map(col): _*)
        val view = CoveringIndex.read(s, idx, key, cols)
        require(view.exceptAll(head).isEmpty && head.exceptAll(view).isEmpty,
          "index view diverged from the table head")
        // point lookups never touch the table
        val probeKeys = Seq(3L, 10L, 35L, 77L, 110L, 154L, 231L, 308L, 385L, 462L)
        def probe() = CoveringIndex.lookup(s, idx, key, cols, probeKeys)
        require(
          probe().inputFiles.nonEmpty && probe().inputFiles.forall(_.contains("cov_idx")),
          s"lookup must read only the index: ${probe().inputFiles.take(3).mkString(",")}"
        )
        val before = probe().collect().toSet
        CoveringIndex.compact(s, idx, key, cols)
        require(probe().collect().toSet == before, "compaction changed a lookup answer")
        // a FRESH read: the pre-compact view's file listing is dead
        // after the staged swap
        val census = CoveringIndex
          .read(s, idx, key, cols)
          .groupBy("lang")
          .agg(count(lit(1)).as("k"), sum("n_chars").as("n_chars"))
          .select(lit("census").as("probe"), col("k").as("doc_id"), col("lang"), col("n_chars"))
        probe()
          .select(lit("lookup").as("probe"), col("doc_id"), col("lang"), col("n_chars"))
          .unionByName(census)
          .orderBy("probe", "doc_id", "lang")
      },
      Some("""WITH final AS (
          SELECT doc_id, lang,
                 CAST(n_chars + CASE WHEN lang = 'zh' THEN 1000 ELSE 0 END AS BIGINT)
                   AS n_chars
          FROM documents
          WHERE doc_id % 7 <> 5 AND doc_id % 11 <> 2)
        SELECT probe, doc_id, lang, n_chars FROM (
          SELECT 'lookup' AS probe, doc_id, lang, n_chars FROM final
          WHERE doc_id IN (3, 10, 35, 77, 110, 154, 231, 308, 385, 462)
          UNION ALL
          SELECT 'census', count(*), lang, CAST(sum(n_chars) AS BIGINT)
          FROM final GROUP BY lang)
        ORDER BY probe, doc_id, lang""")
    ),

    // ------------------------------------------------------------------
    // STRING-KEYED COVERING INDEX + STAGING JANITOR (round 15): the
    // common dimension case the BIGINT-only surface locked out — the
    // business key is a STRING (supplier name), and the whole
    // lifecycle (init / multi-commit CDC sync / unique-key guard
    // probe / point lookup / compact) runs on it unchanged. The
    // second sync window deliberately touches ≤1000 keys so the
    // guard's FAST path (pushed point lookups seeded from collected
    // probe values) executes on strings — the path that previously
    // hard-cast Row.getLong and died on any non-BIGINT key. Also
    // exercised: maintain(), the `_staging` janitor — a simulated
    // crashed sync strands an orphan staging dir; maintain sweeps it
    // (REQUIREd empty after) and the index answers are REQUIREd
    // byte-identical around the sweep. Point lookups REQUIRE
    // index-only input files (the q282 discipline). ORACLE-EXACT:
    // lookup rows + per-nation census restated over `supplier` with
    // the update and both deletes applied.
    QueryDef(
      "q313_covering_index_string_key",
      (s, dir) => {
        import graft.operators.CoveringIndex
        val tdir = Similarity.freshIndexDir("covs_store")
        val idx = Similarity.freshIndexDir("covs_idx")
        val sup = Tables(s, dir, "supplier")
          .select(
            col("s_name"),
            col("s_suppkey"),
            col("s_nationkey").cast("long").as("s_nationkey"),
            col("s_acctbal")
          )
        val key = "s_name"
        val cols = Seq("s_suppkey", "s_nationkey", "s_acctbal")
        TableVersions.commitAppend(sup.filter(col("s_suppkey") % 2 === 0).repartition(2), tdir)
        CoveringIndex.init(s, tdir, idx, key, cols)
        // one multi-commit window: append + update + delete
        TableVersions.commitAppend(sup.filter(col("s_suppkey") % 2 === 1).repartition(2), tdir)
        TableVersions.commitUpdate(
          s,
          tdir,
          "s_nationkey = 3",
          _.withColumn("s_acctbal", col("s_acctbal") + lit(1000.0d))
        )
        TableVersions.commitDelete(s, tdir, "s_suppkey % 7 = 5")
        require(CoveringIndex.sync(s, tdir, idx, key, cols) == 3L, "sync must reach v3")
        // crashed-sync debris: maintain() sweeps it, answers unchanged
        val fs = new org.apache.hadoop.fs.Path(idx)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/_staging/dead-sync-attempt"))
        val beforeSweep = CoveringIndex.read(s, idx, key, cols).collect().toSet
        // olderThanMs = 0: this fixture IS the single-maintainer window
        // (no sync in flight); production maintenance keeps the 1h
        // default so a live sync's staging is never destroyed
        require(CoveringIndex.maintain(s, idx, olderThanMs = 0L) >= 1, "janitor must sweep the orphan")
        require(
          !fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_staging/dead-sync-attempt")),
          "orphan staging dir survived maintain()"
        )
        require(
          CoveringIndex.read(s, idx, key, cols).collect().toSet == beforeSweep,
          "maintain() changed an index answer"
        )
        // second window touches ≤1000 keys → the guard's pushed-probe
        // fast path runs on STRING keys (the former getLong crash site)
        TableVersions.commitDelete(s, tdir, "s_suppkey % 11 = 1")
        require(CoveringIndex.sync(s, tdir, idx, key, cols) == 4L, "sync must reach v4")
        val probeKeys: Seq[Any] =
          Seq(1L, 3L, 5L, 8L).map(k => f"Supplier#$k%09d")
        def probe() = CoveringIndex.lookup(s, idx, key, cols, probeKeys)
        require(
          probe().inputFiles.nonEmpty && probe().inputFiles.forall(_.contains("covs_idx")),
          s"lookup must read only the index: ${probe().inputFiles.take(3).mkString(",")}"
        )
        val before = probe().collect().toSet
        CoveringIndex.compact(s, idx, key, cols)
        require(probe().collect().toSet == before, "compaction changed a lookup answer")
        val census = CoveringIndex
          .read(s, idx, key, cols)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("k"), min("s_acctbal").as("b"))
          .select(
            lit("census").as("probe"),
            concat(lit("nation_"), col("s_nationkey")).as("s_name"),
            col("k").as("s_suppkey"),
            col("s_nationkey"),
            col("b").as("s_acctbal")
          )
        probe()
          .select(lit("lookup").as("probe"), col("s_name"), col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .unionByName(census)
          .orderBy("probe", "s_name")
      },
      Some("""WITH fin AS (
          SELECT s_name, s_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
                 CASE WHEN s_nationkey = 3 THEN s_acctbal + 1000.0 ELSE s_acctbal END AS s_acctbal
          FROM supplier
          WHERE s_suppkey % 7 <> 5 AND s_suppkey % 11 <> 1)
        SELECT probe, s_name, s_suppkey, s_nationkey, s_acctbal FROM (
          SELECT 'lookup' AS probe, s_name, s_suppkey, s_nationkey, s_acctbal FROM fin
          WHERE s_name IN ('Supplier#000000001', 'Supplier#000000003',
                           'Supplier#000000005', 'Supplier#000000008')
          UNION ALL
          SELECT 'census', 'nation_' || CAST(s_nationkey AS VARCHAR), count(*),
                 s_nationkey, min(s_acctbal)
          FROM fin GROUP BY s_nationkey)
        ORDER BY probe, s_name""")
    ),

    // ------------------------------------------------------------------
    // WRITE-AUDIT-PUBLISH (round 14) — the Netflix/Iceberg WAP pattern
    // on the house catalog: a batch COMMITS to the table (a real
    // version, fully written) but stays INVISIBLE to readers until a
    // post-write audit passes and the catalog pin advances — staging
    // by reference, not by copy. The fixture lands a clean batch
    // (audit passes → pin published), then a batch with PLANTED
    // defects (negative n_chars): the audit fails, the pin stays, and
    // an in-query require proves catalog-routed readers still see the
    // pre-batch state even though the bad version physically exists.
    // Remediation is itself a commit (delete the defective rows) whose
    // audit passes and publishes. The catalog's atomic pin swap is
    // what makes "audit" meaningful at 100 TB: no copy of the batch,
    // no rollback machinery — an unpublished version is just a pin
    // that never moved. ORACLE-EXACT: per-snapshot census (count, char
    // sum, violation count — zero in every PUBLISHED snapshot, the WAP
    // guarantee) restated over `documents`.
    QueryDef(
      "q283_write_audit_publish",
      (s, dir) => {
        val cat = Similarity.freshIndexDir("wap_cat")
        val tdir = Similarity.freshIndexDir("wap_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        Catalog.transact(s, cat) { _ =>
          val v0 = TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0), tdir)
          Map("docs" -> Catalog.Pin(tdir, v0))
        }
        def violations(v: Long): Long =
          TableVersions
            .readVersion(s, tdir, v)
            .filter(col("n_chars") <= 0 || col("doc_id").isNull || col("lang").isNull)
            .count()
        def publish(v: Long): Unit =
          Catalog.transact(s, cat)(_ => Map("docs" -> Catalog.Pin(tdir, v))): Unit

        // WAP batch 1 — clean: write, audit, publish
        val v1 = TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 1), tdir)
        require(violations(v1) == 0L, "clean batch must pass its audit")
        publish(v1)

        // WAP batch 2 — planted defects: write, audit FAILS, pin stays
        val dirty = docs
          .filter(col("doc_id") % 3 === 2)
          .withColumn(
            "n_chars",
            when(col("doc_id") % 13 === 4, lit(-1L)).otherwise(col("n_chars"))
          )
        val v2 = TableVersions.commitAppend(dirty, tdir)
        require(violations(v2) > 0L, "planted defects must fail the audit")
        // the catalog still serves the last AUDITED state — the staged
        // version physically exists but no reader can resolve it
        require(Catalog.head(s, cat) == 1L, "a failed audit must not publish")
        require(
          Catalog
            .readTable(s, cat, 1L, "docs")
            .filter(col("doc_id") % 3 === 2)
            .isEmpty,
          "catalog-routed readers must not see the unaudited batch"
        )

        // remediation: delete the defective rows, re-audit, publish
        val v3 = TableVersions.commitDelete(s, tdir, "n_chars <= 0")
        require(violations(v3) == 0L, "remediated batch must pass")
        publish(v3)

        val sess = s
        import sess.implicits._
        (0L to Catalog.head(s, cat))
          .map { snap =>
            val t = Catalog.readTable(s, cat, snap, "docs")
            val r = t
              .agg(
                count(lit(1)),
                sum("n_chars"),
                sum(when(col("n_chars") <= 0, 1L).otherwise(0L))
              )
              .head()
            (snap, r.getLong(0), r.getLong(1), r.getLong(2))
          }
          .toDF("snap", "n_docs", "sum_chars", "n_bad")
          .orderBy("snap")
      },
      Some("""WITH pub AS (
          SELECT 0 AS snap, doc_id, n_chars FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT 1, doc_id, n_chars FROM documents WHERE doc_id % 3 IN (0, 1)
          UNION ALL
          SELECT 2, doc_id, n_chars FROM documents
          WHERE doc_id % 3 IN (0, 1)
             OR (doc_id % 3 = 2 AND doc_id % 13 <> 4))
        SELECT CAST(snap AS BIGINT) AS snap, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(0 AS BIGINT) AS n_bad
        FROM pub GROUP BY snap ORDER BY snap""")
    ),

    // ------------------------------------------------------------------
    // SCD2 FROM THE CHANGE FEED (round 14): q137 detects change points
    // INSIDE a static table; this derives the type-2 slowly-changing
    // dimension FROM THE COMMIT HISTORY itself — every key's validity
    // intervals [from_version, to_version) reconstructed from the CDC
    // feed in ONE keyed window pass: an insert/post-image OPENS an
    // interval, the key's next event (any type) CLOSES it, a delete
    // closes without opening. No per-version loop, no join of
    // adjacent versions — O(change events) with one exchange on the
    // key. The honest contrast with a warehouse SCD2 MERGE: here the
    // version store already recorded every transition, so the
    // dimension history is a PROJECTION of the log, not a maintained
    // table. ORACLE-EXACT: the fixture's four commits (base, zh
    // update, erasure, en update) give every key a closed-form
    // interval set the oracle restates — including the subtlety that
    // a row deleted at v2 is NOT reopened by the v3 update (updates
    // touch live rows only). to_version = -1 encodes "current" (NULL
    // would also work, but an integer keeps the hash comparison
    // NULL-free).
    QueryDef(
      "q289_scd2_from_feed",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("scd2_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs, tdir) // v0: base
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v1
        TableVersions.commitDelete(s, tdir, "doc_id % 7 = 5") // v2
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'en'",
          _.withColumn("n_chars", col("n_chars") + 7)
        ) // v3
        scd2Projection(s, tdir).orderBy("doc_id", "from_version")
      },
      Some(scd2OracleSql)
    ),

    // ------------------------------------------------------------------
    // POINT-IN-TIME JOIN OVER THE SCD2 DIMENSION (round 14): the
    // training-data reproducibility primitive — each fact joins to the
    // dimension row that was VALID WHEN THE FACT HAPPENED
    // (from_version ≤ v < to_version), never today's row (the feature-
    // leakage bug PIT joins exist to kill; Feast/Tecton call this the
    // point-in-time correctness guarantee). The dimension history is
    // q289's one-pass SCD2 projection of the commit log; facts carry
    // the version at which they were observed. Plan: the interval
    // table is key-dominated (≤ 3 rows per key here, bounded by the
    // key's commit count in general), so the join is an ordinary equi
    // join ON THE KEY with the interval predicate as a residual —
    // broadcast when the dimension fits, hash otherwise; never a
    // cross-interval range explosion. ORACLE-EXACT: facts at three
    // observation versions, each resolving a different validity row
    // (or none, for facts observing an erased key after its delete).
    QueryDef(
      "q291_pit_join",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("pit_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs, tdir) // v0
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v1
        TableVersions.commitDelete(s, tdir, "doc_id % 7 = 5") // v2
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'en'",
          _.withColumn("n_chars", col("n_chars") + 7)
        ) // v3
        val head = TableVersions.currentVersion(s, tdir)
        val v0 = TableVersions
          .readVersion(s, tdir, 0L)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy("_commit_version")
        val scd2 = TableVersions
          .changesFeed(s, tdir, 0L, head)
          .select("doc_id", "lang", "n_chars", "_change_type", "_commit_version")
          .unionByName(v0.select("doc_id", "lang", "n_chars", "_change_type", "_commit_version"))
          .filter(col("_change_type") =!= "update_preimage")
          .withColumn("to_version", coalesce(lead("_commit_version", 1).over(w), lit(Long.MaxValue)))
          .filter(col("_change_type").isin("insert", "update_postimage"))
          .select(
            col("doc_id"),
            col("lang"),
            col("n_chars"),
            col("_commit_version").as("from_version"),
            col("to_version")
          )
        // facts: every third doc observed at versions 0, 2, and 3 — an
        // exploded array literal, not a joined 3-row frame (the same
        // rows without a BroadcastNestedLoopJoin in the plan)
        val facts = docs
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), explode(expr("array(0L, 2L, 3L)")).as("obs_v"))
        facts
          .join(
            scd2,
            facts("doc_id") === scd2("doc_id") &&
              col("from_version") <= col("obs_v") && col("obs_v") < col("to_version")
          )
          .select(
            facts("doc_id"),
            col("obs_v"),
            col("lang"),
            col("n_chars").as("pit_chars")
          )
          .orderBy("doc_id", "obs_v")
      },
      Some("""WITH d AS (
          SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents
          WHERE doc_id % 3 = 0),
        obs AS (SELECT unnest([0, 2, 3]) AS obs_v),
        pit AS (
          SELECT doc_id, obs_v, lang,
                 CASE
                   -- at v0 every key serves its base row
                   WHEN obs_v = 0 THEN n_chars
                   -- at v2: zh rows carry the v1 update; erased keys
                   -- (doc_id % 7 = 5, deleted AT v2) serve nothing
                   WHEN obs_v = 2 AND doc_id % 7 = 5 THEN NULL
                   WHEN obs_v = 2 AND lang = 'zh' THEN n_chars + 1000
                   WHEN obs_v = 2 THEN n_chars
                   -- at v3: the en update applies to surviving rows
                   WHEN obs_v = 3 AND doc_id % 7 = 5 THEN NULL
                   WHEN obs_v = 3 AND lang = 'zh' THEN n_chars + 1000
                   WHEN obs_v = 3 AND lang = 'en' THEN n_chars + 7
                   ELSE n_chars END AS pit_chars
          FROM d CROSS JOIN obs)
        SELECT doc_id, CAST(obs_v AS BIGINT) AS obs_v, lang, pit_chars
        FROM pit WHERE pit_chars IS NOT NULL
        ORDER BY doc_id, obs_v""")
    ),

    // ------------------------------------------------------------------
    // COLUMN MASKING + ROW FILTER POLICIES (round 14) — the governance
    // layer as DATA (operators/ColumnPolicy; the Snowflake masking-
    // policy / Unity row-filter shape): policies persist as one tiny
    // parquet table, and the governed view compiles the caller's ROLE
    // into an ordinary projection + filter — masks are codegen'd
    // Catalyst expressions, row filters push to the scan, policy
    // changes are data changes. The fixture governs `documents` for an
    // `analyst` (source md5-pseudonymized but still JOINABLE — the
    // group census over the mask equals the plaintext census; text
    // redacted to typed NULL; doc_id bucketed to hundreds; rows
    // limited to two languages) and proves the `admin` path is
    // byte-identical to the raw table. ORACLE-EXACT: both roles'
    // censuses restated over `documents` (md5 is the engines' shared
    // primitive).
    QueryDef(
      "q290_column_policies",
      (s, dir) => {
        import graft.operators.ColumnPolicy
        import graft.operators.ColumnPolicy.Policy
        val pdir = Similarity.freshIndexDir("policy_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "source", "text", "n_chars")
        ColumnPolicy.register(
          s,
          pdir,
          Seq(
            Policy("hash", "source", "analyst", ""),
            Policy("redact", "text", "analyst", ""),
            Policy("zero_bucket", "doc_id", "analyst", "100"),
            Policy("row_filter", "", "analyst", "lang IN ('en', 'fr')")
          )
        )
        val analyst = ColumnPolicy.apply(s, pdir, docs, "analyst")
        require(
          analyst.filter(col("text").isNotNull).isEmpty,
          "redacted column leaked content"
        )
        val admin = ColumnPolicy.apply(s, pdir, docs, "admin")
        require(
          admin.exceptAll(docs).isEmpty && docs.exceptAll(admin).isEmpty,
          "a role with no policies must read the table unchanged"
        )
        val aCensus = analyst
          .groupBy("lang", "source")
          .agg(
            count(lit(1)).as("n"),
            sum("n_chars").as("chars"),
            countDistinct("doc_id").as("n_buckets")
          )
          .select(lit("analyst").as("role"), col("lang"), col("source"), col("n"), col("chars"), col("n_buckets"))
        val dCensus = admin
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"), countDistinct("doc_id").as("n_buckets"))
          .select(lit("admin").as("role"), col("lang"), lit("all").as("source"), col("n"), col("chars"), col("n_buckets"))
        aCensus.unionByName(dCensus).orderBy("role", "lang", "source")
      },
      Some("""WITH a AS (
          SELECT 'analyst' AS role, lang, md5(source) AS source, count(*) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS chars,
                 CAST(count(DISTINCT (doc_id // 100) * 100) AS BIGINT) AS n_buckets
          FROM documents WHERE lang IN ('en', 'fr') GROUP BY lang, md5(source)),
        d AS (
          SELECT 'admin', lang, 'all', count(*),
                 CAST(sum(n_chars) AS BIGINT),
                 CAST(count(DISTINCT doc_id) AS BIGINT)
          FROM documents GROUP BY lang)
        SELECT role, lang, source, n, chars, n_buckets FROM (
          SELECT * FROM a UNION ALL SELECT * FROM d)
        ORDER BY role, lang, source""")
    ),

    // ------------------------------------------------------------------
    // 3-D HILBERT CLUSTERING (round 14): q266's curve generalized past
    // two dimensions with Skilling's transform ("Programming the
    // Hilbert curve", 2004) — the transposed-code inverse-undo / Gray
    // decode / parity fold as nested SQL aggregates, O(bits × n)
    // integer ops per row (now the native `hilbert_nd`;
    // HilbertCurveSpec pins bijection + unit-step adjacency on full
    // 3-D and 4-D grids, the property Morton fails). The fixture
    // clusters events on (user_id, value, event_id), then PROVES the
    // layout localizes EVERY dimension: for each of the three
    // clustered columns, an in-query require checks the per-file stats
    // ranges exclude at least one file from that dimension's probe —
    // pruning that costs speed but never rows, with all three pruned
    // reads restated by the oracle as plain filters. ORACLE-EXACT.
    QueryDef(
      "q281_hilbert_3d",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("versioned_hilbert3")
        val evs = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        TableVersions.commitAppend(evs.repartition(8), tdir)
        // 32 output files: a 3-D curve segment spans ~(1/nOut)^(1/3) of
        // EACH dimension, so per-dimension pruning needs enough
        // segments that a narrow probe clears whole files — 16 was too
        // coarse (each file spanned ~40% of every dim)
        TableVersions.optimizeHilbert(s, tdir, Seq("user_id", "value", "event_id"), nOut = 32)
        TableVersions.refreshStats(s, tdir, Seq("user_id", "value", "event_id"))
        // the value probe targets the SPARSE tail: min/max scaling
        // spends most of the curve's value axis on outliers, so the
        // dense head (0-80, ~90% of mass) spans nearly every curve
        // segment — the standard equal-width-scaling-vs-skew trade
        // (q265's equi-depth histogram is the stats-side answer);
        // tail ranges localize and prune, head ranges read widely
        val probes = Seq(
          ("by_user", "user_id", 2d, 4d),
          ("by_value", "value", 100d, 200d),
          ("by_event", "event_id", 100d, 249d)
        )
        // the layout must LOCALIZE each dimension: every probe's stats
        // ranges exclude at least one clustered file
        val stats = s.read
          .parquet(s"$tdir/_stats")
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
        probes.foreach { case (tag, c, lo, hi) =>
          val rows = stats.filter(_._2 == c)
          val hit = rows.count(r => r._4 >= lo && r._3 <= hi)
          require(
            hit < rows.length,
            s"$tag: probe [$lo, $hi] on $c prunes nothing (${rows.length} files all intersect)"
          )
        }
        probes
          .map { case (tag, c, lo, hi) =>
            TableVersions
              .readVersionPruned(s, tdir, 1L, c, lo, hi)
              .select(lit(tag).as("dim"), col("event_id"), col("user_id"),
                col("event_type"), col("value"))
          }
          .reduce(_ unionByName _)
          .orderBy("dim", "event_id")
      },
      Some("""SELECT dim, event_id, user_id, event_type, value FROM (
          SELECT 'by_user' AS dim, event_id, user_id, event_type, value
          FROM events WHERE user_id BETWEEN 2 AND 4
          UNION ALL
          SELECT 'by_value', event_id, user_id, event_type, value
          FROM events WHERE value BETWEEN 100 AND 200
          UNION ALL
          SELECT 'by_event', event_id, user_id, event_type, value
          FROM events WHERE event_id BETWEEN 100 AND 249)
        ORDER BY dim, event_id""")
    ),

    // ------------------------------------------------------------------
    // CONCURRENT MAINTENANCE + GOVERNANCE (round 13): the pairing the
    // compute-first commit protocol exists for — a background OPTIMIZE packs
    // the table's small files while a foreground erasure delete lands
    // INSIDE its claim window (the test seam interleaves them
    // deterministically), and BOTH commit without manual retry: the
    // delete's hit file is the big file the compaction never touched,
    // so the optimize validates the rival as disjoint and rebases its
    // already-packed batch onto the next version. Before that
    // protocol this exact workload degraded to serial-with-manual-
    // retry (the round-12 verdict's #1 missing item). The oracle
    // restates the final head — a lost delete, a resurrected row, or
    // a half-published pack all break the hash; ConflictCheckSpec
    // pins the fail-safe side (a rival removing a pack INPUT refuses).
    // ORACLE-EXACT.
    QueryDef(
      "q269_concurrent_maintenance",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("ccm_store")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars", "text")
        // two SMALL files + one BIG file (5x-replicated text)
        TableVersions.commitAppend(
          docs.filter(col("doc_id") % 3 === 1).drop("text").coalesce(1),
          tdir
        ) // v0
        TableVersions.commitAppend(
          docs.filter(col("doc_id") % 3 === 2).drop("text").coalesce(1),
          tdir
        ) // v1
        TableVersions.commitAppend(
          docs
            .filter(col("doc_id") % 3 === 0)
            .withColumn("big", expr("repeat(text, 5)"))
            .drop("text")
            .coalesce(1),
          tdir
        ) // v2 (schema-evolved big file; reads NULL-fill the others)
        val fs = new org.apache.hadoop.fs.Path(tdir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val bigBytes = fs
          .listStatus(new org.apache.hadoop.fs.Path(s"$tdir/data/b2"))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen)
          .max
        // the compaction stages {v0, v1}'s files; the governance delete
        // lands in its claim window and hits ONLY the big v2 file
        val v = TableVersions.packSmallFiles(
          s,
          tdir,
          smallBytes = bigBytes,
          targetBytes = 128L * 1024 * 1024,
          beforeClaim = () => {
            TableVersions.commitDelete(
              s,
              tdir,
              "doc_id % 3 = 0 AND doc_id % 7 = 1"
            ): Unit
          }
        )
        require(v == 4L, s"optimize must rebase past the delete to v4, got v$v")
        TableVersions
          .readVersion(s, tdir, v, mergeSchema = true)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        WHERE NOT (doc_id % 3 = 0 AND doc_id % 7 = 1)
        ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // CATALOG BRANCHES (round 14): Nessie-style refs over the q223
    // catalog — an isolated multi-table, multi-commit WORKFLOW lands
    // on main as ONE atomic snapshot. q283's WAP stages a single table
    // version behind the pin; a branch stages a whole pipeline run:
    // here the "etl" branch appends a crawl batch AND applies an
    // erasure to the docs table (two commits), while main concurrently
    // grows the archive table — merge is table-granular three-way
    // (branch-changed tables adopt branch pins, main-changed keep
    // main's; a table changed on BOTH sides refuses loudly, pinned by
    // the "rogue" branch arm + CatalogSpec). In-query REQUIREs pin the
    // isolation guarantee: before the merge, main's readers see none
    // of the branch's commits. Scale posture: a branch is O(tables)
    // metadata — fork, commit, and merge never copy data; branch
    // commits write the same per-table logs as unreferenced-by-main
    // versions (abandoned branches cost only vacuum-reclaimable
    // files). ORACLE-EXACT: per-snapshot census over main's history —
    // the merge snapshot serves exactly branch-docs + main-archive.
    QueryDef(
      "q297_table_branch",
      (s, dir) => {
        val cat = Similarity.freshIndexDir("branch_cat")
        val docsDir = Similarity.freshIndexDir("branch_docs")
        val archDir = Similarity.freshIndexDir("branch_arch")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        Catalog.transact(s, cat) { _ =>
          val dv = TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0), docsDir)
          val av = TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 1), archDir)
          Map("docs" -> Catalog.Pin(docsDir, dv), "archive" -> Catalog.Pin(archDir, av))
        } // main s0

        // the etl branch: crawl append + erasure, committed ON THE REF
        val bdir = Catalog.createBranch(s, cat, "etl", fromSnap = 0L)
        Catalog.transact(s, bdir) { pins =>
          TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 1), docsDir): Unit
          val dv = TableVersions.commitDelete(s, docsDir, "lang = 'en'")
          pins + ("docs" -> Catalog.Pin(docsDir, dv))
        }

        // main moves CONCURRENTLY, but only on the archive table
        Catalog.transact(s, cat) { pins =>
          val av = TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 2), archDir)
          pins + ("archive" -> Catalog.Pin(archDir, av))
        } // main s1

        // isolation: main's head serves the PRE-branch docs exactly
        require(
          Catalog.pinsAt(s, cat, 1L)("docs").version == 0L,
          "branch commits must be invisible on main before the merge"
        )

        // disjoint tables -> the merge lands atomically as main s2
        val merged = Catalog.merge(s, cat, "etl")
        require(merged == 2L, s"merge must publish main snapshot 2, got $merged")

        // a branch that raced main ON THE SAME TABLE refuses loudly
        Catalog.createBranch(s, cat, "rogue", fromSnap = 0L)
        Catalog.transact(s, Catalog.branchDir(cat, "rogue")) { pins =>
          val av = TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0), archDir)
          pins + ("archive" -> Catalog.Pin(archDir, av))
        }
        val refused =
          try { Catalog.merge(s, cat, "rogue"); false }
          catch { case _: Catalog.BranchConflictException => true }
        require(refused, "a both-sides-changed table must refuse the merge")
        require(Catalog.head(s, cat) == 2L, "a refused merge must publish nothing")

        val sess = s
        import sess.implicits._
        (0L to Catalog.head(s, cat))
          .map { snap =>
            val d = Catalog
              .readTable(s, cat, snap, "docs")
              .agg(count(lit(1)), sum("n_chars"))
              .head()
            val a = Catalog.readTable(s, cat, snap, "archive").count()
            (snap, d.getLong(0), d.getLong(1), a)
          }
          .toDF("snap", "n_docs", "docs_chars", "n_archive")
          .orderBy("snap")
      },
      Some("""WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
                         FROM documents),
        snaps AS (
          SELECT 0 AS snap,
                 (SELECT count(*) FROM d WHERE doc_id % 3 = 0) AS n_docs,
                 (SELECT sum(n_chars) FROM d WHERE doc_id % 3 = 0) AS docs_chars,
                 (SELECT count(*) FROM d WHERE doc_id % 3 = 1) AS n_archive
          UNION ALL
          SELECT 1,
                 (SELECT count(*) FROM d WHERE doc_id % 3 = 0),
                 (SELECT sum(n_chars) FROM d WHERE doc_id % 3 = 0),
                 (SELECT count(*) FROM d WHERE doc_id % 3 IN (1, 2))
          UNION ALL
          SELECT 2,
                 (SELECT count(*) FROM d WHERE doc_id % 3 IN (0, 1) AND lang <> 'en'),
                 (SELECT sum(n_chars) FROM d WHERE doc_id % 3 IN (0, 1) AND lang <> 'en'),
                 (SELECT count(*) FROM d WHERE doc_id % 3 IN (1, 2)))
        SELECT CAST(snap AS BIGINT) AS snap, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(docs_chars AS BIGINT) AS docs_chars,
               CAST(n_archive AS BIGINT) AS n_archive
        FROM snaps ORDER BY snap""")
    ),

    // ------------------------------------------------------------------
    // BRANCH REPLAY MERGE (round 15): q297's table-granular conflict
    // resolved at ROW level — the documented Nessie gap closed. The
    // per-table log is LINEAR, so same-table branch work must be
    // ISOLATED on a zero-copy clone of the fork image (cloneShallow —
    // O(metadata); committing into the shared log would hand the
    // branch's changes to main's later commits, with nothing left to
    // attribute, and an in-query REQUIRE pins that main's s1 readers
    // see none of the branch's rework). Both sides change 'docs'
    // since the fork (branch-on-clone: a rework update of doc_id%5=1;
    // main: a governance erasure of doc_id%5=0), so plain merge
    // REQUIREs a BranchConflictException; mergeWithReplay proves the
    // two feeds' key sets disjoint and re-applies the branch's net
    // change on main's head as one merge commit — BOTH sides' rows
    // survive in the published snapshot. The second arm pins
    // fail-safety: a rogue clone-branch whose update genuinely
    // overlaps main's delete (doc_id%10=2 ⊂ doc_id%5=2) refuses with
    // the conflict exception, publishes NOTHING, and commits NOTHING
    // (table version REQUIREd unchanged). Scale posture: replay cost
    // is O(both sides' changes) per conflicted table — feeds, never
    // table scans; the request-scaled delete list is the erasure-path
    // discipline. ORACLE-EXACT: per-snapshot census of main's history.
    QueryDef(
      "q314_branch_replay_merge",
      (s, dir) => {
        val cat = Similarity.freshIndexDir("replay_cat")
        val docsDir = Similarity.freshIndexDir("replay_docs")
        val cloneDir = Similarity.freshIndexDir("replay_clone")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        Catalog.transact(s, cat) { _ =>
          val v = TableVersions.commitAppend(docs, docsDir)
          Map("docs" -> Catalog.Pin(docsDir, v))
        } // main s0

        // the rework branch clones the fork image and updates one key
        // range ON THE CLONE…
        val bdir = Catalog.createBranch(s, cat, "rework", fromSnap = 0L)
        Catalog.transact(s, bdir) { pins =>
          TableVersions.cloneShallow(s, docsDir, cloneDir, 0L): Unit
          val v = TableVersions.commitUpdate(
            s,
            cloneDir,
            "doc_id % 5 = 1",
            _.withColumn("n_chars", col("n_chars") + 1000)
          )
          pins + ("docs" -> Catalog.Pin(cloneDir, v))
        }
        // …while main erases a DISJOINT one on the shared table
        Catalog.transact(s, cat) { pins =>
          val v = TableVersions.commitDelete(s, docsDir, "doc_id % 5 = 0")
          pins + ("docs" -> Catalog.Pin(docsDir, v))
        } // main s1

        // isolation: main's s1 readers see EXACTLY the erasure's
        // survivors with their ORIGINAL attributes — none of the
        // branch's rework (the property a shared-log branch breaks)
        val s1View = Catalog.readTable(s, cat, 1L, "docs")
        val s1Want = docs.filter(col("doc_id") % 5 =!= 0)
        require(
          s1View.exceptAll(s1Want).isEmpty && s1Want.exceptAll(s1View).isEmpty,
          "branch rework leaked into main before the merge"
        )

        // table-granular merge refuses — both sides changed 'docs'
        val refused =
          try { Catalog.merge(s, cat, "rework"); false }
          catch { case _: Catalog.BranchConflictException => true }
        require(refused, "same-table commits must refuse the plain merge")

        // row-disjoint → replay lands both sides' effects as main s2
        val merged = Catalog.mergeWithReplay(s, cat, "rework", Map("docs" -> "doc_id"))
        require(merged == 2L, s"replay merge must publish main snapshot 2, got $merged")

        // TRUE row overlap still refuses, publishes and commits nothing
        val rogueClone = Similarity.freshIndexDir("replay_rogue")
        val rdir = Catalog.createBranch(s, cat, "rogue", fromSnap = 2L)
        val forkV = Catalog.pinsAt(s, cat, 2L)("docs").version
        Catalog.transact(s, rdir) { pins =>
          TableVersions.cloneShallow(s, docsDir, rogueClone, forkV): Unit
          val v = TableVersions.commitUpdate(
            s,
            rogueClone,
            "doc_id % 5 = 2",
            _.withColumn("n_chars", col("n_chars") + 7)
          )
          pins + ("docs" -> Catalog.Pin(rogueClone, v))
        }
        Catalog.transact(s, cat) { pins =>
          val v = TableVersions.commitDelete(s, docsDir, "doc_id % 10 = 2")
          pins + ("docs" -> Catalog.Pin(docsDir, v))
        } // main s3
        val vBefore = TableVersions.currentVersion(s, docsDir)
        val rogueRefused =
          try { Catalog.mergeWithReplay(s, cat, "rogue", Map("docs" -> "doc_id")); false }
          catch { case _: Catalog.BranchConflictException => true }
        require(rogueRefused, "overlapping row keys must refuse the replay")
        require(Catalog.head(s, cat) == 3L, "a refused replay must publish nothing")
        require(
          TableVersions.currentVersion(s, docsDir) == vBefore,
          "a refused replay must commit nothing"
        )

        val sess = s
        import sess.implicits._
        (0L to Catalog.head(s, cat))
          .map { snap =>
            val d = Catalog
              .readTable(s, cat, snap, "docs")
              .agg(count(lit(1)), sum("n_chars"))
              .head()
            (snap, d.getLong(0), d.getLong(1))
          }
          .toDF("snap", "n_docs", "sum_chars")
          .orderBy("snap")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
        up AS (SELECT doc_id,
                      n_chars + CASE WHEN doc_id % 5 = 1 THEN 1000 ELSE 0 END AS n_chars
               FROM d),
        snaps AS (
          SELECT 0 AS snap, count(*) AS n_docs, sum(n_chars) AS sum_chars FROM d
          UNION ALL
          SELECT 1, count(*), sum(n_chars) FROM d WHERE doc_id % 5 <> 0
          UNION ALL
          SELECT 2, count(*), sum(n_chars) FROM up WHERE doc_id % 5 <> 0
          UNION ALL
          SELECT 3, count(*), sum(n_chars) FROM up
          WHERE doc_id % 5 <> 0 AND doc_id % 10 <> 2)
        SELECT CAST(snap AS BIGINT) AS snap, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(sum_chars AS BIGINT) AS sum_chars
        FROM snaps ORDER BY snap""")
    ),

    // ------------------------------------------------------------------
    // INDEX-SERVED DIMENSION JOIN (round 14): the q282 covering index
    // serving a fact→dim equi join INSTEAD of the dimension table —
    // the Hyperspace join-acceleration shape. The dim side is the
    // index's latest-wins fold (key + included columns only), so the
    // join reads a narrow key-sorted projection and the dimension
    // TABLE contributes zero input files (REQUIREd in-query from the
    // executed plan's file list). The index is CDC-current: built at
    // v0, then an update + an erasure land and one sync folds them —
    // the join must serve post-update attributes and drop erased keys.
    // Plan: the fold exchanges on the key once; the fact join reuses
    // that hash partitioning. At 100 TB the win is the difference
    // between shuffling a wide dimension table and a (key, 2-col)
    // projection. ORACLE-EXACT: events joined to the closed-form dim
    // state in SQL.
    QueryDef(
      "q298_index_join",
      (s, dir) => {
        val docsDir = Similarity.freshIndexDir("ixj_docs")
        val idxDir = Similarity.freshIndexDir("ixj_idx")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs, docsDir) // v0
        graft.operators.CoveringIndex.init(s, docsDir, idxDir, "doc_id", Seq("lang", "n_chars"))
        TableVersions.commitUpdate(
          s,
          docsDir,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v1
        TableVersions.commitDelete(s, docsDir, "doc_id % 7 = 5") // v2
        graft.operators.CoveringIndex.sync(s, docsDir, idxDir, "doc_id", Seq("lang", "n_chars"))
        val dim = graft.operators.CoveringIndex.read(s, idxDir, "doc_id", Seq("lang", "n_chars"))
        val facts = Tables(s, dir, "events")
          .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val joined = facts
          .join(dim, facts("user_id") === dim("doc_id"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_facts"),
            sum("cents").as("cents"),
            sum("n_chars").as("sum_chars")
          )
          .orderBy("lang")
        require(
          joined.inputFiles.nonEmpty && joined.inputFiles.forall(!_.contains("ixj_docs")),
          "the dimension side must be served from the index alone — the table contributed files"
        )
        joined
      },
      Some("""WITH dim AS (
          SELECT doc_id, lang,
                 CAST(CASE WHEN lang = 'zh' THEN n_chars + 1000
                      ELSE n_chars END AS BIGINT) AS n_chars
          FROM documents WHERE doc_id % 7 <> 5)
        SELECT d.lang, count(*) AS n_facts,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents,
               CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        FROM events e JOIN dim d ON e.user_id = d.doc_id
        GROUP BY d.lang ORDER BY d.lang""")
    ),

    // ------------------------------------------------------------------
    // DEEP CLONE + CROSS-STORE REPLICATION (round 16): the DR/promotion
    // story q201's zero-copy shallow clone cannot give — a MATERIALIZED
    // replica under its own storage root (Delta deep clone's shape),
    // kept current by feed-scaled catch-up syncs (Replica.sync: one
    // key-set delete + one latest-wins merge per window, cursor
    // advanced only after the window lands; crash-replays converge).
    // Parity is PROVEN, not assumed: an order/layout-independent
    // (count, sum, xor)-of-row-hash fingerprint is REQUIREd equal at
    // the pinned clone point AND after catch-up. Then the INDEPENDENCE
    // property: the source vacuums everything below its head — the
    // files the clone was cut from are physically gone — and the
    // replica still serves, because it owns every byte (a shallow
    // clone dangles here; q201 proves the ownership guard, this proves
    // the deep copy). ORACLE-EXACT: final replica == the closed-form
    // survivor set; ReplicaSpec pins cursor crash-replay convergence
    // and the no-op sync.
    QueryDef(
      "q322_deep_clone_replica",
      (s, dir) => {
        import graft.operators.Replica
        val src = Similarity.freshIndexDir("deepclone_src")
        val rep = Similarity.freshIndexDir("deepclone_rep")
        // a third of the corpus: the contract under test (parity,
        // feed-scaled catch-up, vacuum independence) is size-blind
        val docs = Tables(s, dir, "documents")
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 0).repartition(4), src) // v0
        TableVersions.commitAppend(docs.filter(col("doc_id") % 2 === 1), src) // v1
        Replica.cloneDeep(s, src, rep, 1L)
        require(
          Replica.fingerprint(s, src, 1L) == Replica.fingerprint(s, rep, 0L),
          "deep clone must be fingerprint-identical to the pinned source version"
        )
        // source diverges across both deletion paths + an update
        TableVersions.commitDelete(s, src, "doc_id % 5 = 0") // v2
        TableVersions.commitUpdate(
          s,
          src,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v3
        TableVersions.commitDeleteMor(s, src, "doc_id % 7 = 3") // v4
        require(Replica.sync(s, src, rep, "doc_id") == 4L, "catch-up must reach the head")
        val repHead = TableVersions.currentVersion(s, rep)
        require(
          Replica.fingerprint(s, src, 4L) == Replica.fingerprint(s, rep, repHead),
          "replica must be fingerprint-identical to the source head after catch-up"
        )
        // INDEPENDENCE: the source vacuums its whole history — the
        // files the clone copied from are physically deleted — and a
        // re-sync is a recorded no-op (cursor already at head)
        TableVersions.vacuum(s, src, 4L): Unit
        require(Replica.sync(s, src, rep, "doc_id") == 4L, "no-op sync must not move the cursor")
        TableVersions
          .readVersion(s, rep, TableVersions.currentVersion(s, rep))
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, lang,
               CAST(CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS BIGINT)
                 AS n_chars
        FROM documents
        WHERE doc_id % 3 = 1 AND doc_id % 5 <> 0 AND doc_id % 7 <> 3
        ORDER BY doc_id""")
    ),

    // ------------------------------------------------------------------
    // COLUMN MAPPING (round 16): rename/drop as pure METADATA commits
    // (the Iceberg/Delta id-based model) — physical parquet names are
    // the stable ids, a versioned logical→physical map translates at
    // the read/write boundary, and NOTHING is rewritten: a renamed
    // 100 TB table costs one log entry. The lifecycle: rename
    // n_chars→chars, then a copy-on-write UPDATE and a MOR delete land
    // ON TOP of the rename (the rewrite paths run on physical names —
    // they must survive the mapping untouched), then lang→language and
    // a DROP of source. The output probes the whole contract: the
    // column LISTS as of three eras (time travel resolves the map as
    // of the version read — v0 still answers under its original names;
    // the head hides the dropped column), plus value aggregates under
    // the NEW names across the rewrites. ORACLE-EXACT (the DuckDB
    // restatement hardcodes the era schemas and survivor math);
    // ColumnMappingSpec pins CoW/MOR/MERGE-across-rename equivalence,
    // toPhysical refusals, and the no-reuse-of-dropped-slots rule.
    QueryDef(
      "q323_column_mapping",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("colmap_store")
        val docs = Tables(s, dir, "documents")
          .filter(col("doc_id") % 3 === 2) // size-blind contract, lean fixture
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        TableVersions.commitAppend(docs.repartition(4), tdir) // v0
        TableVersions.renameColumn(s, tdir, "n_chars", "chars") // v1 (metadata)
        // rewrites land ON TOP of the rename, addressing physical names
        TableVersions.commitUpdate(
          s,
          tdir,
          "lang = 'zh'",
          _.withColumn("n_chars", col("n_chars") + 1000)
        ) // v2
        TableVersions.commitDeleteMor(s, tdir, "doc_id % 7 = 3") // v3
        TableVersions.renameColumn(s, tdir, "lang", "language") // v4
        TableVersions.dropColumn(s, tdir, "source") // v5
        val head = TableVersions.currentVersion(s, tdir)
        require(head == 5L, s"expected 5 commits, got $head")
        def colsAt(v: Long) =
          TableVersions.readVersionLogical(s, tdir, v).columns.mkString(",")
        val sess = s
        import sess.implicits._
        val eras = Seq(
          ("cols_v0", colsAt(0L), 0L), // original names: time travel across the renames
          ("cols_v2", colsAt(2L), 0L), // first rename applied, later ones not
          ("cols_head", colsAt(5L), 0L) // renamed + dropped hidden
        ).toDF("k", "txt", "n")
        // values under the NEW names, across the CoW update + MOR delete
        val headDf = TableVersions.readVersionLogical(s, tdir, head)
        val sums = headDf
          .groupBy(col("language"))
          .agg(count(lit(1)).as("cnt"), sum(col("chars")).as("sum_chars"))
          .select(
            concat(lit("census_"), col("language")).as("k"),
            col("cnt").cast("string").as("txt"),
            col("sum_chars").as("n")
          )
        eras.unionByName(sums).orderBy("k")
      },
      Some("""WITH survivors AS (
          SELECT doc_id, lang,
                 CAST(CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS BIGINT)
                   AS chars
          FROM documents WHERE doc_id % 3 = 2 AND doc_id % 7 <> 3),
        census AS (
          SELECT 'census_' || lang AS k, CAST(count(*) AS VARCHAR) AS txt,
                 CAST(sum(chars) AS BIGINT) AS n
          FROM survivors GROUP BY lang),
        eras AS (
          SELECT 'cols_v0' AS k, 'doc_id,source,lang,n_chars' AS txt, CAST(0 AS BIGINT) AS n
          UNION ALL SELECT 'cols_v2', 'doc_id,source,lang,chars', 0
          UNION ALL SELECT 'cols_head', 'doc_id,language,chars', 0)
        SELECT k, txt, n FROM (SELECT * FROM eras UNION ALL SELECT * FROM census)
        ORDER BY k""")
    ),

    // ------------------------------------------------------------------
    // HIDDEN (transform) PARTITIONING + PARTITION EVOLUTION — the
    // Iceberg model: commits lay files out under a DERIVED bucket of a
    // source column (days/month of a timestamp, trunc<W> of a number)
    // and a RANGE read on the SOURCE column prunes at the log level;
    // the caller never names a partition column. Re-speccing the table
    // (days → month here) is a property of NEW commits only — old
    // files keep their layout and every file is judged under the
    // transform in its own path, so evolution never rewrites history.
    // At 100 TB this is the difference between "the pipeline author
    // must know the layout" and "any ts predicate prunes": the cut is
    // pure log metadata, zero data or index probes, exact because the
    // transforms are monotone. The query drives a 3-era table (days,
    // month, flat — the flat era pins absence-safety) plus a trunc
    // table, and REQUIREs the file-cut evidence the oracle cannot see
    // (pruned reads were assembled from explicit candidate lists, so
    // inputFiles IS the post-cut set). ORACLE-EXACT;
    // TransformPartitionSpec pins era-wise cuts, negative-bucket floor
    // math, empty cuts, and DV composition.
    QueryDef(
      "q325_hidden_partitioning",
      (s, dir) => {
        val ev = Tables(s, dir, "events").select("event_id", "ts", "event_type")
        // table 1: ts-transformed eras — days, then month (evolution),
        // then flat (absence-safe) — the three classes cover all events
        val tdir = Similarity.freshIndexDir("transform_store")
        TableVersions.commitAppendTransformed(
          ev.filter(col("event_id") % 3 === 0).repartition(8, col("ts").cast("date")),
          tdir, "ts", "days")
        TableVersions.commitAppendTransformed(
          ev.filter(col("event_id") % 3 === 1).repartition(2), tdir, "ts", "month")
        TableVersions.commitAppend(ev.filter(col("event_id") % 3 === 2).repartition(2), tdir)
        val head = TableVersions.currentVersion(s, tdir)
        // table 2: numeric truncate era + flat era. trunc1000 over the
        // 100k-id key space = ~100 buckets of ~1000 rows — the realistic
        // bucket granularity (the original trunc100 left 1000 buckets of
        // ~100 rows each: 4000 tiny files whose write/list/footer churn
        // was 2/3 of this query's cost while changing NO output row —
        // the precise range filter is re-applied after the cut either
        // way, and the oracle never sees layout)
        val ndir = Similarity.freshIndexDir("transform_num")
        TableVersions.commitAppendTransformed(
          ev.filter(col("event_id") % 2 === 0).repartition(4), ndir, "event_id", "trunc1000")
        TableVersions.commitAppend(ev.filter(col("event_id") % 2 === 1).repartition(2), ndir)
        val nhead = TableVersions.currentVersion(s, ndir)

        val (lo, hi) = ("2024-01-08", "2024-01-12 23:59:59")
        val daysPruned = TableVersions.readVersionTransformPruned(s, tdir, head, "ts", lo, hi)
        // file-cut evidence: every days-era file in the cut sits inside
        // the probe's bucket window, and the cut is strictly smaller
        // than the live set
        val daySeg = "/__t_days_ts=(-?\\d+)/".r
        val cutDays = daysPruned.inputFiles.toSeq
          .flatMap(f => daySeg.findFirstMatchIn(f).map(_.group(1).toLong))
        val (dLo, dHi) = (
          java.time.LocalDate.parse("2024-01-08").toEpochDay,
          java.time.LocalDate.parse("2024-01-12").toEpochDay
        )
        require(
          cutDays.nonEmpty && cutDays.forall(d => d >= dLo && d <= dHi),
          s"days cut leaked buckets: $cutDays"
        )
        require(
          daysPruned.inputFiles.length <
            TableVersions.readVersion(s, tdir, head).inputFiles.length,
          "days probe cut nothing"
        )
        val truncPruned =
          TableVersions.readVersionTransformPruned(s, ndir, nhead, "event_id", "800", "1499")
        val truncSeg = "/__t_trunc1000_event_id=(-?\\d+)/".r
        def truncBuckets(df: org.apache.spark.sql.DataFrame) = df.inputFiles.toSeq
          .flatMap(f => truncSeg.findFirstMatchIn(f).map(_.group(1).toLong))
          .distinct
          .sorted
        // the admissible bucket window derives from the transform (the
        // same floor math the pruner uses), not a hard-coded literal —
        // [bucket(lo), bucket(hi)] is exact for monotone transforms, so
        // the cut must be exactly the live buckets inside it
        val (bLo, bHi) = (800L / 1000L * 1000L, 1499L / 1000L * 1000L)
        val cutBuckets = truncBuckets(truncPruned)
        val liveBuckets = truncBuckets(TableVersions.readVersion(s, ndir, nhead))
        require(
          cutBuckets.nonEmpty && cutBuckets == liveBuckets.filter(b => b >= bLo && b <= bHi),
          s"trunc cut $cutBuckets is not the live buckets in [$bLo, $bHi] of $liveBuckets"
        )
        // the probe [800, 1499] straddles the bucket boundary at 1000:
        // wherever the table reaches the upper bucket (every scale but
        // sf0.001, whose ids stop at 999) the cut must cross it
        require(
          cutBuckets.length >= 2 || liveBuckets.forall(_ < bHi),
          s"trunc cut does not span two buckets: $cutBuckets"
        )

        val days = daysPruned
          .groupBy(col("ts").cast("date").cast("string").as("k"))
          .agg(count(lit(1)).as("n"), sum("event_id").as("v"))
          .select(lit("days").as("kind"), col("k"), col("n"), col("v"))
        val trunc = truncPruned
          .groupBy(col("event_type").as("k"))
          .agg(count(lit(1)).as("n"), sum("event_id").as("v"))
          .select(lit("trunc").as("kind"), col("k"), col("n"), col("v"))

        // recluster the whole table under the days spec (the explicit
        // rewrite evolution itself never pays), then re-probe: the cut
        // must now be PURE — every candidate carries an in-range days
        // bucket, the month/flat survivors are gone — and the content
        // must be a logical no-op (same oracle rows under kind=days2,
        // same head count)
        val v3 = TableVersions.optimizeTransformed(s, tdir, "ts", "days")
        require(v3 == head + 1, "recluster must commit exactly once")
        require(
          TableVersions.countAt(s, tdir, v3) == TableVersions.countAt(s, tdir, head),
          "recluster must preserve the row count"
        )
        require(
          TableVersions.optimizeTransformed(s, tdir, "ts", "days") == v3,
          "a fully-conforming table must recluster as a zero-job no-op"
        )
        val days2Pruned = TableVersions.readVersionTransformPruned(s, tdir, v3, "ts", lo, hi)
        require(
          days2Pruned.inputFiles.nonEmpty && days2Pruned.inputFiles.forall(f =>
            daySeg.findFirstMatchIn(f).exists { m =>
              val d = m.group(1).toLong; d >= dLo && d <= dHi
            }
          ),
          "post-recluster cut must contain only in-range days files"
        )
        val days2 = days2Pruned
          .groupBy(col("ts").cast("date").cast("string").as("k"))
          .agg(count(lit(1)).as("n"), sum("event_id").as("v"))
          .select(lit("days2").as("kind"), col("k"), col("n"), col("v"))
        val census = TableVersions
          .readVersion(s, tdir, v3)
          .groupBy(col("event_type").as("k"))
          .agg(count(lit(1)).as("n"), sum("event_id").as("v"))
          .select(lit("census").as("kind"), col("k"), col("n"), col("v"))
        days.unionByName(days2).unionByName(trunc).unionByName(census).orderBy("kind", "k")
      },
      Some("""WITH e AS (SELECT event_id, ts, event_type FROM events),
        rows_ AS (
          SELECT 'days' AS kind, CAST(CAST(ts AS DATE) AS VARCHAR) AS k,
                 count(*) AS n, CAST(sum(event_id) AS BIGINT) AS v
          FROM e
          WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
            AND ts <= TIMESTAMP '2024-01-12 23:59:59'
          GROUP BY 2
          UNION ALL
          SELECT 'days2', CAST(CAST(ts AS DATE) AS VARCHAR),
                 count(*), CAST(sum(event_id) AS BIGINT)
          FROM e
          WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
            AND ts <= TIMESTAMP '2024-01-12 23:59:59'
          GROUP BY 2
          UNION ALL
          SELECT 'trunc', event_type, count(*), CAST(sum(event_id) AS BIGINT)
          FROM e WHERE event_id BETWEEN 800 AND 1499 GROUP BY 2
          UNION ALL
          SELECT 'census', event_type, count(*), CAST(sum(event_id) AS BIGINT)
          FROM e GROUP BY 2)
        SELECT kind, k, n, v FROM rows_ ORDER BY kind, k""")
    ),

    // ------------------------------------------------------------------
    // TIMESTAMP TIME TRAVEL — "AS OF <wall clock>", resolved from the
    // commit log's own directory mtimes (the Delta approach: no new
    // metadata, history committed before the feature resolves
    // retroactively), monotonicized so mtime ties and clock steps can
    // never make resolution ambiguous. The fixture captures a wall
    // timestamp between each pair of commits and REQUIREs versionAt to
    // resolve each probe to its era before reading it; the oracle
    // restates the three eras as plain filters. ORACLE-EXACT;
    // TimestampTravelSpec pins strict monotonicity, boundary
    // resolution (eff-1 → predecessor), and the predates-first-commit
    // refusal.
    QueryDef(
      "q326_timestamp_travel",
      (s, dir) => {
        val tdir = Similarity.freshIndexDir("ts_travel")
        val docs = Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 0), tdir) // v0
        Thread.sleep(5)
        val t0 = System.currentTimeMillis()
        Thread.sleep(5)
        TableVersions.commitAppend(docs.filter(col("doc_id") % 3 === 1), tdir) // v1
        Thread.sleep(5)
        val t1 = System.currentTimeMillis()
        Thread.sleep(5)
        TableVersions.commitDelete(s, tdir, "lang = 'en'") // v2
        val now = System.currentTimeMillis()
        require(TableVersions.versionAt(s, tdir, t0) == 0L, "t0 must resolve to v0")
        require(TableVersions.versionAt(s, tdir, t1) == 1L, "t1 must resolve to v1")
        require(TableVersions.versionAt(s, tdir, now) == 2L, "now must resolve to head")
        def census(kind: String, ts: Long) =
          TableVersions
            .readVersionAsOf(s, tdir, ts)
            .groupBy("lang")
            .agg(count(lit(1)).as("n"), sum("n_chars").as("v"))
            .select(lit(kind).as("kind"), col("lang"), col("n"), col("v"))
        census("asof_t0", t0)
          .unionByName(census("asof_t1", t1))
          .unionByName(census("asof_now", now))
          .orderBy("kind", "lang")
      },
      Some("""WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
                  FROM documents),
        rows_ AS (
          SELECT 'asof_t0' AS kind, lang, count(*) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS v
          FROM d WHERE doc_id % 3 = 0 GROUP BY lang
          UNION ALL
          SELECT 'asof_t1', lang, count(*), CAST(sum(n_chars) AS BIGINT)
          FROM d WHERE doc_id % 3 IN (0, 1) GROUP BY lang
          UNION ALL
          SELECT 'asof_now', lang, count(*), CAST(sum(n_chars) AS BIGINT)
          FROM d WHERE doc_id % 3 IN (0, 1) AND lang <> 'en' GROUP BY lang)
        SELECT kind, lang, n, v FROM rows_ ORDER BY kind, lang""")
    )
  )

  /** q289's SCD2 core, shared with the live twin (q299): the type-2
    * validity intervals of a versioned docs table, reconstructed from
    * the commit history in ONE keyed window pass — an insert or
    * post-image OPENS an interval, the key's next event (any type)
    * CLOSES it, a delete closes without opening; `to_version = -1`
    * encodes "current". v0's rows enter as synthetic inserts; the feed
    * carries v1..head. O(change events), one exchange on the key. */
  private[queries] def scd2Projection(
      s: org.apache.spark.sql.SparkSession,
      tdir: String
  ): org.apache.spark.sql.DataFrame = {
    val head = TableVersions.currentVersion(s, tdir)
    val v0 = TableVersions
      .readVersion(s, tdir, 0L)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0L))
    val events = TableVersions
      .changesFeed(s, tdir, 0L, head)
      .select("doc_id", "lang", "n_chars", "_change_type", "_commit_version")
      .unionByName(v0.select("doc_id", "lang", "n_chars", "_change_type", "_commit_version"))
      // pre-images are the closing half of an update — the post-image
      // at the same version both closes the previous interval (via
      // lead) and opens the new one
      .filter(col("_change_type") =!= "update_preimage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy("_commit_version")
    events
      .withColumn("to_version", coalesce(lead("_commit_version", 1).over(w), lit(-1L)))
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        col("_commit_version").as("from_version"),
        col("to_version")
      )
  }

  /** Shared by q289 and its live twin q299 — the drained stream's
    * remapped intervals must hash-match the same closed-form SQL. */
  private[queries] lazy val scd2OracleSql: String =
    """WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
                  FROM documents),
        rows_ AS (
          SELECT doc_id, lang, n_chars, CAST(0 AS BIGINT) AS from_version,
                 CAST(CASE WHEN lang = 'zh' THEN 1
                           WHEN doc_id % 7 = 5 THEN 2
                           WHEN lang = 'en' THEN 3
                           ELSE -1 END AS BIGINT) AS to_version
          FROM d
          UNION ALL
          SELECT doc_id, lang, n_chars + 1000, 1,
                 CASE WHEN doc_id % 7 = 5 THEN 2 ELSE -1 END
          FROM d WHERE lang = 'zh'
          UNION ALL
          SELECT doc_id, lang, n_chars + 7, 3, -1
          FROM d WHERE lang = 'en' AND doc_id % 7 <> 5)
        SELECT doc_id, lang, n_chars, from_version, to_version
        FROM rows_ ORDER BY doc_id, from_version"""

  /** Build an IVF index at `vOld`, sync it to `vNew` by consuming the
    * CDC delta, and probe it. Returns (probe result, the fitted
    * centroids) so the spec can rebuild the reference index with the
    * identical quantizer.
    */
  private[graft] def syncedProbe(
      s: org.apache.spark.sql.SparkSession,
      tdir: String,
      vOld: Long,
      vNew: Long
  ): (org.apache.spark.sql.DataFrame, Seq[(Int, Seq[Double])]) = {
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
        .withColumn("norm", sqrt(expr("aggregate(v, cast(0 AS double), (a, x) -> a + x*x)")))

    val idx = Similarity.freshIndexDir("cdc_ivf")
    val e0 = prep(TableVersions.readVersion(s, tdir, vOld))
    val cents = graft.operators.IvfIndex.fitCentroids(e0, k = 16, maxIter = 5, seed = 42L)
    graft.operators.IvfIndex.writeLayout(e0, cents, idx)

    val delta = TableVersions.changes(s, tdir, "vec_id", vOld, vNew)
    val head = prep(TableVersions.readVersion(s, tdir, vNew))
    val gone = delta.filter(col("change_type").isin("delete", "update")).select("vec_id")
    val fresh = head
      .join(delta.filter(col("change_type").isin("insert", "update")), Seq("vec_id"))
      .select("vec_id", "v", "norm")
    graft.operators.IvfIndex.delete(gone, idx)
    if (!delta.filter(col("change_type") === "update").isEmpty) {
      // updates re-append ids the tombstone table now hides — fold the
      // tombstones into the layout first so the new content is visible
      graft.operators.IvfIndex.compact(s, idx)
    }
    graft.operators.IvfIndex.append(fresh, idx)

    val probes = head
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    (graft.operators.IvfIndex.probe(s, idx, probes, nprobe = 2, topK = 5), cents)
  }

  /** The merged-head semantics shared by batch q185 and the live q189
    * CDC-apply gate: unmatched target (doc_id % 3 = 0 minus the
    * re-crawled % 6 = 0 slice) ∪ the refreshed slice ∪ the inserted
    * % 3 = 1 slice. */
  private[queries] lazy val mergeOracle: String =
    """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM (
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id % 3 = 0 AND doc_id % 6 <> 0
          UNION ALL
          SELECT doc_id, 'xx' AS lang, n_chars + 7 AS n_chars FROM documents
          WHERE doc_id % 6 = 0
          UNION ALL
          SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 1)
        ORDER BY doc_id"""
}
