package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkSpec}

/** Scale-posture lint over EVERY registered query's physical plan: the
  * shapes that kill a 100 TB run must not appear. A CartesianProduct is
  * never acceptable; BroadcastNestedLoopJoin only where the broadcast
  * side is a bounded query/model table by construction (exact top-k
  * scoring against ≤10 query vectors, a 1-row corpus-size scalar, a
  * 16-row centroid table).
  */
class PlanLintSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every registered query, built ONCE and shared by all three plan
    * checks: a query runs its eager fixture work while it is built, and
    * that work is most of this spec's wall time. Each query is planned
    * right after it is built, so a later query's cache or fixture state
    * cannot reshape its plan. */
  private lazy val built: Map[String, org.apache.spark.sql.DataFrame] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, dir)
      df.queryExecution.executedPlan
      name -> df
    }.toMap

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * the build side is constant-bounded, not data-scaled. */
  private val bnljAllowed = Set(
    "q40_cosine_topk", // ≤10 broadcast query vectors scored in one scan
    "q38_tfidf_terms", // 1-row broadcast n_docs scalar
    "q46_ann_ivf", // 16-row broadcast centroid table
    "q21_range_join", // 5-row literal band table, non-equi by design
    "q81_freq_items", // 1-row broadcast total-count scalar
    "q93_corpus_mix", // 1-row broadcast grand-total scalar
    "q107_collocations", // 1-row broadcast corpus-token-total scalar
    "q126_skew_report", // three 1-row broadcast stat pieces joined back
    "q133_ivf_persist", // 16-row broadcast centroid table (same shape as q46)
    "q139_ivf_append", // 16-row broadcast centroid table (probe, same as q133)
    "q140_bpe_train", // 1-row broadcast learned-merge pair per iteration
    "q142_bpe_encode", // same 1-row learned-merge broadcasts (shared machinery)
    "q143_token_budget", // 1-row broadcast token-budget scalar
    "q145_ivf_delete", // 16-row broadcast centroid table (probe, same as q133)
    "q147_int8_ann", // ≤10 broadcast query vectors scored in one scan (q40's shape)
    "q150_negative_sample", // ≤10 broadcast anchors scored in one scan (q40's shape)
    "q151_source_divergence", // charset²-bounded bigram grid + 1-row total scalar
    "q152_pq_ann", // ≤10 broadcast query vectors scored in one scan (q40's shape)
    "q141_stream_ivf_ingest", // 16-row broadcast centroid table (probe, same as q133)
    "q153_ivfadc", // 16-row broadcast centroid table + ≤10 query vectors (q133's shape)
    "q154_pq_persist", // ≤10 broadcast query vectors scored in one scan (q40's shape)
    "q155_stream_ivf_delete", // 16-row broadcast centroid table (probe, same as q133)
    "q157_index_recall_report", // 16-row centroid table + ≤20 anchors (q153 + q40 shapes)
    "q158_hybrid_retrieval", // ≤5 broadcast query vectors in the cosine channel (q40's shape)
    "q162_bigram_lm", // 1-row broadcast vocabulary-size scalar (q38's shape)
    "q212_filtered_ann", // ≤10 broadcast query vectors scored in one scan (q40's shape)
    "q213_filtered_ivf", // ≤10 broadcast query vectors over the probed cells (q40's shape)
    "q222_binary_ann", // ≤10 broadcast query signatures + the 500-row candidate cut
    "q225_maxsim_retrieval", // 2 broadcast pooled query vectors + the 100-pair candidate cut
    "q169_cdc_index_sync", // 16-row broadcast centroid table (probe, same as q133)
    "q180_quantizer_eval", // ≤10 broadcast query vectors in its exact-scan arm (q40's shape)
    "q245_matryoshka_eval", // 8 broadcast query vectors scored per truncation (q40's shape ×4)
    "q252_budget_waterfill", // 1-row broadcast budget/level scalars over a source-count-sized table
    "q183_rotated_serving", // 16-row broadcast centroid table + ≤10 query vectors (q153's shape)
    "q261_basket_lift", // 1-row broadcast n_baskets scalar over the 25²-bounded brand-pair table
    "q296_cuped", // 1-row broadcast θ/moments scalar over the per-user rollup (q38's shape)
    "q304_kaplan_meier", // ≤31-row event-TIME table, triangular prefix join by design (days, never users)
    "q307_seasonal_decompose", // 1-row broadcast (nd, sx) scalar over the 7-row dow table
    "q308_jackknife_ratio_se" // 1-row broadcast global-sums scalar over the ≤31-row day table
  )

  /** The ANN scan family: top-k selection must be the bounded
    * `top_k_structs` heap (map-side partial reduction), NEVER a
    * corpus-scaled rank window — a `row_number().over(partitionBy(
    * ~10 anchors))` hashes the full scan stream into ~10 partitions
    * (skew by construction) and sorts each one. These plans must
    * contain no window operator at all; q153's probe keeps one bounded
    * window (queries×centroids cell ranking) and is covered by
    * IvfAdcSpec's stricter exchange audit instead.
    */
  private val heapTopKOnly = Seq(
    "q40_cosine_topk",
    "q41_ann_lsh",
    "q46_ann_ivf",
    "q147_int8_ann",
    "q150_negative_sample",
    "q152_pq_ann",
    "q154_pq_persist",
    "q158_hybrid_retrieval",
    "q173_bm25_rank",
    "q117_source_cap",
    "q222_binary_ann",
    "q225_maxsim_retrieval"
  )

  test("ANN scans: bounded heap top-k, never a corpus-scaled window sort") {
    val offenders = heapTopKOnly.flatMap { name =>
      val plan = built(name).queryExecution.executedPlan.toString
      val windowed = plan.contains("Window [") || plan.contains("WindowGroupLimit")
      val heap = plan.contains("top_k_structs")
      if (windowed || !heap)
        Some(s"$name: ${if (windowed) "window sort present " else ""}${if (!heap) "no heap top-k" else ""}")
      else None
    }
    assert(offenders.isEmpty, s"corpus-scaled top-k shapes:\n${offenders.mkString("\n")}")
  }

  /** Queries whose optimized plan legitimately contains a window with
    * an EMPTY partition spec: every one runs over a frame bounded by
    * CONSTRUCTION (never data-scaled), so the single-partition sort it
    * implies is a constant-size stage. Anything else is the one-task
    * global sort that kills a 100 TB run — exact global ranks over
    * data-scaled frames must go through
    * [[graft.operators.DistributedRank]] (range partition + broadcast
    * prefix offsets; see q285/q294/q311, re-planned in round 15). */
  private val globalWindowAllowed = Set(
    "q97_temperature_mix", // per-LANGUAGE mass table (bounded lang domain)
    "q126_skew_report", // three 1-row stat pieces ranked together
    "q140_bpe_train", // rank over the 5 rows surviving TakeOrdered (per step)
    "q142_bpe_encode", // same bpeTop5 machinery — 5-row frames
    "q143_token_budget", // ≤1001-row quality-bucket table (bucketed by construction)
    "q252_budget_waterfill", // source-count-sized caps table (bounded source domain)
    "q295_chi_squared", // cohortsxtypes contingency cells (15 rows)
    "q304_kaplan_meier", // ≤31-row event-TIME table (days, never users)
    "q307_seasonal_decompose" // 7-row day-of-week table
  )

  test("no partition-less window over a data-scaled frame (exact global ranks use DistributedRank)") {
    val offenders = built.toSeq.sortBy(_._1).flatMap { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val bad = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty && !globalWindowAllowed(name)) Some(s"$name: ${bad.size} global window(s)")
      else None
    }
    assert(
      offenders.isEmpty,
      s"partition-less windows outside the bounded-frame allowlist:\n${offenders.mkString("\n")}"
    )
  }

  test("no CartesianProduct; BroadcastNestedLoopJoin only with bounded build sides") {
    val offenders = built.toSeq.sortBy(_._1).flatMap { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
      if (cart || bnlj)
        Some(s"$name: ${if (cart) "CartesianProduct " else ""}${if (bnlj) "BroadcastNestedLoopJoin" else ""}")
      else None
    }
    assert(offenders.isEmpty, s"scale-hostile plan shapes:\n${offenders.mkString("\n")}")
  }
}
