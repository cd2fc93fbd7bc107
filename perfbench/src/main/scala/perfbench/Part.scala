package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every part of a workload shares: the session, the directory it
  * may write under, and the run's seed. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {

  /** Problems found by the output checks; any entry makes the run
    * report `correct: false`. */
  val problems = mutable.ArrayBuffer[String]()

  /** Operations attempted and failed (an exception out of the program). */
  var attempted = 0L
  var failed = 0L

  def problem(p: String): Unit = synchronized(problems += p)

  def expect(what: String, found: Seq[String]): Unit =
    found.take(5).foreach(p => problem(s"$what: $p"))

  /** Every checker is also run on a deliberately corrupted copy of a
    * real output, and must reject it. */
  def mustReject(what: String, found: Seq[String]): Unit =
    if (found.isEmpty) problem(s"$what: the checker accepted a corrupted output")

  /** One operation of the workload: counted, and a failure is recorded
    * instead of ending the run. */
  def op[T](r: Rec, span: String, metric: String = null)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(r.timed(span, metric)(body))
    catch {
      case e: Exception =>
        synchronized(failed += 1)
        System.err.println(s"[perfbench] $span failed: $e")
        None
    }
  }
}

/** One part of a workload: the dbt reader, the version store, or the
  * corpus operators. A workload runs one part at full size; its
  * configuration decides how much work the part does. */
trait Part {

  /** Writes the part's generated input files (not timed as set-up). */
  def generate(): Unit

  /** Builds the part's state from its generated inputs, from scratch
    * each time it is called (timed as set-up). */
  def prepare(r: Rec): Unit

  /** One round: the same operations in every round, each recorded under
    * `ingest` or `query`. Index 0 is the untimed warm-up round. */
  def round(r: Rec, index: Int): Unit

  /** Untimed rounds of the warm-up when this part is the workload's own:
    * the first round of a fresh JVM takes 1.7 to 2.6 times as long as a
    * warm one, and code still being compiled makes the next one depend
    * on how much CPU the host leaves the JIT compiler. */
  def warmRounds: Int = 1

  /** End-of-run checks of the outputs against the generator's model. */
  def check(r: Rec): Unit

  /** Per-module figures only a traced run computes (counts, ratios). */
  def traceExtras(r: Rec): Map[String, Double] = Map.empty
}

object Part {

  /** Runs the whole plan, writing nothing: every column is computed. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally s.close()
    }

  /** Runs independent set-up steps on their own threads and waits for
    * all of them; the first failure is rethrown. */
  def concurrently(steps: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val done = Await.result(Future.sequence(steps.map(f => Future(scala.util.Try(f())))), Duration.Inf)
    done.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
  }

  /** A directory name for generated inputs: the part, a digest of its
    * sizes and the seed, so a changed size never reuses stale files. */
  def inputDir(ctx: Ctx, part: String, cfg: Product): Path =
    ctx.work.resolve(f"inputs/$part-${cfg.hashCode}%08x-${ctx.seed}")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
