package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** The benchmark's JVM: runs one workload at one seed for a fixed time
  * and prints one JSON line with its metrics.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * A workload is one part (the dbt reader or the version store) at full
  * size. A run is: session creation; input
  * generation (cached per seed, and not counted as set-up); a warm-up
  * (the part's state is prepared and [[Part.warmRounds]] untimed rounds
  * run);
  * [[SetupReps]] preparations of the part's state from its inputs, the
  * set-ups that `setup_s` takes the median of; then whole rounds while
  * they fit in `--seconds`, at least one; then the output checks. A traced run also
  * runs the other two parts (the corpus operators among them), small,
  * in its first round, so that it reports every per-module metric. `perfbench/run.py` builds the classpath and
  * starts this JVM with a fixed heap and core count.
  */
object Main {

  /** Spark `local[n]` and the shuffle partition count. */
  val Cores = 2

  /** State preparations per run; `setup_s` is their median. */
  val SetupReps = 3

  private val E2eUnits: Map[String, String] = Map(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "ingest_cpu_s" -> "s",
    "query_cpu_s" -> "s"
  )

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt.get("trace").contains("1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val index = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))

    val t0 = Clock.ms()
    val spark = GraftSession
      .builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tSession = Clock.ms()
    val listener = if (tracing) Some(EngineListener.install(spark.sparkContext)) else None

    val ctx = new Ctx(spark, work, seed)
    val rec = new Rec(tracing)

    // inputs are cached for the current seed only, so disk use stays flat
    Option(work.resolve("inputs").toFile.listFiles()).toSeq.flatten
      .filterNot(_.getName.endsWith(s"-$seed"))
      .foreach(f => Part.deleteTree(f.toPath))
    val g0 = Clock.ms()
    val used = if (tracing) Seq(index) ++ (0 until 3).filterNot(_ == index) else Seq(index)
    val parts = used.map(i => Workloads.part(ctx, i, if (i == index) Workloads.Full else Workloads.Small))
    Part.concurrently(parts.map(p => () => p.generate()): _*)
    val genMs = Clock.ms() - g0
    log(f"inputs ready in ${genMs / 1000}%.1f s")
    val main = parts.head

    // Warm-up: each part prepares its state and runs untimed rounds, so
    // every operation has run at the size it is measured at. The other
    // parts of a traced run keep this state, so their set-up spans are
    // recorded here.
    rec.timed("session.warmup")(parts.foreach { p =>
      p.prepare(if (p eq main) new Rec(false) else rec)
      (1 to (if (p eq main) p.warmRounds else 1)).foreach(_ => p.round(new Rec(false), 0))
      log(s"warmed up ${p.getClass.getSimpleName}")
    })
    if (ctx.failed > 0) ctx.problem(s"${ctx.failed} operations failed in the warm-up pass")
    val setups = (1 to SetupReps).map { _ =>
      sweep(spark)
      System.gc()
      rec.timed("setup.prepare", "setup")(main.prepare(rec))
      rec.get("setup_cpu").last
    }
    sweep(spark)
    ctx.attempted = 0
    ctx.failed = 0
    log(f"warm-up and set-up done; set-ups ${setups.map(s => f"$s%.2f").mkString(", ")} s CPU, " +
      f"${rec.get("setup").map(s => f"$s%.2f").mkString(", ")} s wall; measuring for $seconds s")

    // Closed loop: whole rounds of the workload's part; another round
    // starts only if, at the mean round time so far, it ends within
    // `--seconds`. A traced run also runs the other parts in its first
    // round.
    val gc0 = gcMs()
    val cpu0 = hostCpu()
    val tStart = Clock.ms()
    var rounds = 0
    def elapsed = Clock.ms() - tStart
    while (rounds == 0 || elapsed * (rounds + 1) / rounds <= seconds * 1000) {
      rounds += 1
      rec.timed("bench.round") {
        if (rounds == 1) parts.tail.foreach { p => System.gc(); p.round(rec, rounds) }
        System.gc() // start each round from a collected heap
        val (i0, q0) = (rec.get("ingest").size, rec.get("query").size)
        main.round(rec, rounds)
        for (k <- Seq("ingest", "query", "ingest_cpu", "query_cpu"))
          rec.add(s"${k}_s", rec.get(k).drop(if (k.startsWith("ingest")) i0 else q0).sum)
      }
      sweep(spark)
    }
    val measured = (Clock.ms() - tStart) / 1000.0
    val gcS = (gcMs() - gc0) / 1000.0
    val cpu = hostCpu().zip(cpu0).map { case (a, b) => a - b }
    log(f"$rounds rounds in $measured%.1f s, ${ctx.attempted} operations, ${ctx.failed} failed; " +
      Seq("ingest_cpu_s", "query_cpu_s", "ingest_s", "query_s").map(k => s"$k ${rec.get(k).map(x => f"$x%.2f").mkString(" ")}").mkString("", ", ", "; ") +
      f"host cpu: ${100.0 * cpu(7) / cpu.sum}%.1f%% stolen, ${100.0 * cpu(3) / cpu.sum}%.1f%% idle")

    parts.foreach { p =>
      try p.check(rec)
      catch { case e: Exception => ctx.problem(s"check failed with $e") }
    }

    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.median(setups),
      "peak_rss_mb" -> peakRssMb(),
      "ingest_cpu_s" -> Stats.median(rec.get("ingest_cpu_s")),
      "query_cpu_s" -> Stats.median(rec.get("query_cpu_s"))
    )

    val (metrics, units) = listener match {
      case None => (e2e, E2eUnits)
      case Some(l) =>
        val extras = parts.map(_.traceExtras(rec)).reduce(_ ++ _)
        l.drain()
        val tr = new Trace(rec, l, rounds)
        val dbt = parts.collectFirst { case d: DbtPart => d }.get
        val layer = tr.perModule((tSession - t0) / 1000.0, gcS, dbt.manifestFileBytes, extras("dedup.pairs_reported")) ++ extras
        tr.write(work.resolve(s"traces/$workload-$seed.json"), e2e, layer)
        (layer, Trace.Units)
    }
    val missing = units.keys.filterNot(metrics.contains).toSeq.sorted
    val nan = metrics.collect { case (k, v) if v.isNaN || v.isInfinite => k }.toSeq.sorted
    if (missing.nonEmpty || nan.nonEmpty) ctx.problem(s"metrics missing ${missing ++ nan}")
    val body = units.keys.toSeq.sorted.map { n =>
      val v = metrics.getOrElse(n, 0.0)
      s"${q(n)}:{${q("value")}:${if (v.isNaN || v.isInfinite) "0" else v.toString},${q("unit")}:${q(units(n))}}"
    }
    log("checked")
    spark.stop()
    ctx.problems.foreach(p => log(s"CHECK FAILED: $p"))
    val correct = ctx.problems.isEmpty
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{${body.mkString(",")}}}""")
  }

  private def q(s: String) = "\"" + s + "\""

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** A progress line on standard error, stamped with seconds since JVM start. */
  def log(s: String): Unit = System.err.println(f"[perfbench ${(Clock.ms() - jvmStartMs) / 1000}%5.1f s] $s")

  /** Drops cached and checkpointed data between rounds, so every round
    * starts from the same memory state. */
  private def sweep(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** The host's cumulative CPU ticks (user, nice, system, idle, iowait,
    * irq, softirq, steal), to report how much of the timed phase the
    * hypervisor took away. Zeros where /proc/stat is absent. */
  private def hostCpu(): Seq[Long] = {
    val stat = Paths.get("/proc/stat")
    val first = if (Files.exists(stat)) Files.readAllLines(stat).asScala.headOption else None
    first.map(_.trim.split("\\s+").slice(1, 9).map(_.toLong).toSeq).getOrElse(Seq.fill(8)(0L))
  }

  /** VmHWM of this process: the peak resident set. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else
      Files.readAllLines(status).asScala.collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)
  }
}

/** The sizes of each part, and the part each workload runs at full size. */
object Workloads {
  sealed trait Size
  case object Full extends Size
  case object Small extends Size

  /** Part index (0 dbt, 1 lifecycle, 2 corpus) of each workload. */
  val all: Map[String, Int] = Map("dbt_ingest" -> 0, "table_lifecycle" -> 1)

  /** The corpus part has one size: no workload runs it at full size. */
  def part(ctx: Ctx, index: Int, size: Size): Part =
    (index, size) match {
      case (0, Full)  => new DbtPart(ctx, DbtCfg(DbtShape(300, 500, 3, 300, 400, 30, 200, 4, 12, 50), 40))
      case (0, Small) => new DbtPart(ctx, DbtCfg(DbtShape(40, 80, 2, 50, 60, 5, 40, 4, 14, 60), 6))
      case (1, Full)  => new LifecyclePart(ctx, LifeCfg(20000, 200, 200, 2, 32))
      case (1, Small) => new LifecyclePart(ctx, LifeCfg(4000, 100, 100, 1, 16))
      case (_, _)     => new CorpusPart(ctx)
    }
}
