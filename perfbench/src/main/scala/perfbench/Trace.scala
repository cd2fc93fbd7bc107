package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-module figures of a traced run, derived from the spans the
  * benchmark recorded around each call into the program and the jobs
  * and tasks the [[EngineListener]] saw. A job belongs to the innermost
  * span open when it started. */
final class Trace(rec: Rec, l: EngineListener, rounds: Int) {
  private val spans = rec.spans.toSeq
  private val leaves = {
    val parents = spans.map(_.parent).toSet
    spans.filterNot(s => parents.contains(s.id))
  }
  private val jobs = l.jobs.values.toSeq.filter(_.endMs >= 0)
  private val stageJob = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
  private val tasksByJob = l.tasks.groupBy(t => stageJob.getOrElse(t.stage, -1))

  private def named(n: String) = spans.filter(_.name == n)
  private def jobsIn(s: Span) = jobs.filter(j => j.startMs >= s.startMs - 0.5 && j.startMs <= s.endMs + 0.5)
  private def tasksIn(s: Span) = jobsIn(s).flatMap(j => tasksByJob.getOrElse(j.id, Nil))

  /** Wall time of `s` not covered by any of its jobs. */
  private def gapS(s: Span): Double = {
    val iv = jobsIn(s).map(j => (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs))).sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    for ((a, b) <- iv if b > a) {
      if (lo.isNaN || a > hi) { if (!lo.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (!lo.isNaN) covered += hi - lo
    (s.endMs - s.startMs - covered) / 1000.0
  }

  private def med(xs: Seq[Double]) = Stats.median(xs)
  private def dur(n: String) = med(named(n).map(_.seconds))
  private def jobsPer(n: String) = med(named(n).map(jobsIn(_).size.toDouble))
  private def perSpanMb(n: String, f: EngineListener#Task => Long) = med(named(n).map(s => tasksIn(s).map(f).sum / 1e6))

  /** Self time of a module per round: its spans' time inside the timed
    * rounds minus what their child spans cover. */
  private def selfS(prefix: String): Double = {
    val kids = spans.groupBy(_.parent)
    val timed = named("bench.round")
    spans
      .filter(s => s.name.startsWith(prefix + ".") && timed.exists(b => b.startMs <= s.startMs && s.endMs <= b.endMs))
      .map(s => s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)
      .sum / rounds
  }

  def perModule(sessionCreateS: Double, gcS: Double, manifestBytes: Double, pairsReported: Double): Map[String, Double] = {
    val roundSpans = named("bench.round")
    val roundTasks = roundSpans.flatMap(tasksIn)
    val commits = Seq("tableversions.append", "tableversions.merge", "tableversions.delete").flatMap(named)
    val reads = named("dbt.read_manifest")
    Map(
      "session.create_s" -> sessionCreateS,
      "session.warmup_s" -> dur("session.warmup"),
      "dbt.read_manifest_s" -> dur("dbt.read_manifest"),
      "dbt.read_catalog_s" -> dur("dbt.read_catalog"),
      "dbt.run_results_s" -> dur("dbt.run_results"),
      "dbt.jobs_per_read" -> jobsPer("dbt.read_manifest"),
      "dbt.tasks_per_read" -> med(reads.map(tasksIn(_).size.toDouble)),
      "dbt.scan_bytes_per_input_byte" -> med(reads.map(s => tasksIn(s).map(_.inputBytes).sum / manifestBytes)),
      "dbt.read_manifest_all_s" -> dur("dbt.read_manifest_all"),
      "manifestops.lineage_edges_s" -> dur("manifestops.lineage_edges"),
      "manifestops.reverse_reachable_s" -> dur("manifestops.reverse_reachable"),
      "manifestops.impacted_s" -> dur("manifestops.impacted"),
      "manifestops.jobs_per_impact" -> jobsPer("manifestops.reverse_reachable"),
      "tableversions.append_s" -> dur("tableversions.append"),
      "tableversions.merge_s" -> dur("tableversions.merge"),
      "tableversions.delete_s" -> dur("tableversions.delete"),
      "tableversions.jobs_per_append" -> jobsPer("tableversions.append"),
      "tableversions.jobs_per_merge" -> jobsPer("tableversions.merge"),
      "tableversions.jobs_per_delete" -> jobsPer("tableversions.delete"),
      "tableversions.driver_gap_per_commit_s" -> med(commits.map(gapS)),
      "tableversions.maintain_s" -> dur("tableversions.maintain"),
      "tableversions.read_head_s" -> dur("tableversions.read_head"),
      "tableversions.read_point_s" -> dur("tableversions.read_point"),
      "tableversions.read_as_of_s" -> dur("tableversions.read_as_of"),
      "feedview.sync_s" -> dur("feedview.sync"),
      "feedview.jobs_per_sync" -> jobsPer("feedview.sync"),
      "dedup.pairs_s" -> dur("dedup.pairs"),
      "dedup.shuffle_write_mb" -> perSpanMb("dedup.pairs", _.shuffleWriteBytes),
      "dedup.spill_mb" -> perSpanMb("dedup.pairs", _.spillBytes),
      "dedup.shuffle_records_per_pair" -> med(named("dedup.pairs").map(tasksIn(_).map(_.shuffleWriteRecords).sum / pairsReported)),
      "shingleindex.build_s" -> dur("shingleindex.build"),
      "shingleindex.admit_s" -> dur("shingleindex.admit"),
      "shingleindex.jobs_per_admit" -> jobsPer("shingleindex.admit"),
      "ivfindex.build_s" -> dur("ivfindex.build"),
      "ivfindex.probe_s" -> dur("ivfindex.probe"),
      "ivfindex.jobs_per_probe" -> jobsPer("ivfindex.probe"),
      "spark.jobs" -> roundSpans.map(jobsIn(_).size).sum.toDouble / rounds,
      "spark.tasks" -> roundTasks.size.toDouble / rounds,
      "spark.driver_gap_s" -> roundSpans.map(gapS).sum / rounds,
      "spark.shuffle_write_mb" -> roundTasks.map(_.shuffleWriteBytes).sum / 1e6 / rounds,
      "spark.spill_mb" -> roundTasks.map(_.spillBytes).sum / 1e6 / rounds,
      "spark.executor_run_s" -> roundTasks.map(_.runMs).sum / 1000.0 / rounds,
      "jvm.gc_s" -> gcS / rounds
    ) ++ Trace.Modules.map(m => s"$m.self_s" -> selfS(m))
  }

  /** Spans, jobs and the run's figures, for reading after the run. */
  def write(path: Path, e2e: Map[String, Double], layer: Map[String, Double]): Unit = {
    def obj(m: Map[String, Double]) = m.toSeq.sorted.map { case (k, v) => s""""$k":${if (v.isNaN) "null" else v}""" }.mkString("{", ",", "}")
    val sp = spans.map(s => f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    val js = jobs.map(j => s"""{"id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${tasksByJob.getOrElse(j.id, Nil).size}}""")
    Files.createDirectories(path.getParent)
    Files.write(path, s"""{"end_to_end":${obj(e2e)},"per_layer":${obj(layer)},"spans":${sp.mkString("[", ",", "]")},"jobs":${js.mkString("[", ",", "]")}}""".getBytes(UTF_8))
  }
}

object Trace {
  val Modules = Seq("dbt", "manifestops", "tableversions", "feedview", "dedup", "shingleindex", "ivfindex")

  /** Every per-module metric a traced run prints, with its unit. */
  val Units: Map[String, String] = Map(
    "session.create_s" -> "s",
    "session.warmup_s" -> "s",
    "dbt.read_manifest_s" -> "s",
    "dbt.read_catalog_s" -> "s",
    "dbt.run_results_s" -> "s",
    "dbt.jobs_per_read" -> "count",
    "dbt.tasks_per_read" -> "count",
    "dbt.scan_bytes_per_input_byte" -> "B/B",
    "dbt.read_manifest_all_s" -> "s",
    "manifestops.lineage_edges_s" -> "s",
    "manifestops.reverse_reachable_s" -> "s",
    "manifestops.impacted_s" -> "s",
    "manifestops.jobs_per_impact" -> "count",
    "manifestops.hops_per_impact" -> "count",
    "tableversions.append_s" -> "s",
    "tableversions.merge_s" -> "s",
    "tableversions.delete_s" -> "s",
    "tableversions.jobs_per_append" -> "count",
    "tableversions.jobs_per_merge" -> "count",
    "tableversions.jobs_per_delete" -> "count",
    "tableversions.driver_gap_per_commit_s" -> "s",
    "tableversions.maintain_s" -> "s",
    "tableversions.read_head_s" -> "s",
    "tableversions.read_point_s" -> "s",
    "tableversions.read_as_of_s" -> "s",
    "tableversions.live_files_at_head" -> "count",
    "tableversions.write_amp" -> "B/B",
    "tableversions.space_amp" -> "B/B",
    "tableversions.bytes_written" -> "B/cycle",
    "tableversions.log_bytes" -> "B/cycle",
    "feedview.sync_s" -> "s",
    "feedview.jobs_per_sync" -> "count",
    "dedup.pairs_s" -> "s",
    "dedup.pairs_reported" -> "count",
    "dedup.shuffle_records_per_pair" -> "1/pair",
    "dedup.shuffle_write_mb" -> "MB",
    "dedup.spill_mb" -> "MB",
    "functions.word_shingles_rows_s" -> "rows/s",
    "functions.word_shingles_ref_rows_s" -> "rows/s",
    "shingleindex.build_s" -> "s",
    "shingleindex.admit_s" -> "s",
    "shingleindex.jobs_per_admit" -> "count",
    "ivfindex.build_s" -> "s",
    "ivfindex.probe_s" -> "s",
    "ivfindex.jobs_per_probe" -> "count",
    "ivfindex.recall_at_k" -> "ratio",
    "spark.jobs" -> "1/round",
    "spark.tasks" -> "1/round",
    "spark.driver_gap_s" -> "s/round",
    "spark.shuffle_write_mb" -> "MB/round",
    "spark.spill_mb" -> "MB/round",
    "spark.executor_run_s" -> "s/round",
    "jvm.gc_s" -> "s/round"
  ) ++ Modules.map(m => s"$m.self_s" -> "s/round")
}
