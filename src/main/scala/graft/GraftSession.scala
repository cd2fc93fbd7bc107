package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults this engine assumes.
  *
  * Designed for a real multi-executor cluster even though tests run on
  * `local[N]`: AQE re-plans shuffles at runtime (coalescing small
  * partitions, converting to broadcast joins, splitting skewed
  * partitions), and the shuffle-partition count is sized to the local
  * parallelism rather than the 200 default.
  *
  * Every entry point (Verify, Bench, tests) builds its session here so
  * configuration cannot drift between the correctness and bench paths.
  */
object GraftSession {

  /** Parallelism: env override, else all cores capped at 32 (the driver
    * contract runs local[32]; smaller machines shouldn't oversubscribe).
    */
  def defaultCpus: Int =
    sys.env
      .get("SPARK_GRAFT_CPUS")
      .map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def builder(master: String = s"local[$defaultCpus]", shufflePartitions: Int = defaultCpus): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // engine-native SQL functions (custom Catalyst expressions with
      // codegen) — see graft.functions
      .withExtensions(graft.functions.CosineSim.install)
      .withExtensions(graft.functions.RollingHash.install)
      .withExtensions(graft.functions.BloomSketch.install)
      .withExtensions(graft.functions.HashAggregates.install)
      .withExtensions(graft.functions.DistinctUpTo.install)
      .withExtensions(graft.functions.WordShingles.install)
      .withExtensions(graft.functions.CharNgrams.install)
      .withExtensions(graft.functions.Int8QuantizeStats.install)
      .withExtensions(graft.functions.TopKStructs.install)
      .withExtensions(graft.functions.CurveIndex.install)
      // optimizer rules (Rule[LogicalPlan]) — see graft.plans
      .withExtensions(graft.plans.ViewRewrite.install)
      .withExtensions(graft.plans.TopKRewrite.install)
      .withExtensions(graft.plans.JoinElim.install)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE stays ON by default (the 100 TB-correct setting: runtime
      // coalescing, broadcast conversion, skew splitting); the env
      // override exists for A/B measurement only. Validated here:
      // anything but a literal true/false (e.g. "1", "on") would
      // otherwise surface as an obscure IllegalArgumentException from
      // deep inside session construction.
      .config("spark.sql.adaptive.enabled", sys.env.get("SPARK_GRAFT_AQE") match {
        case Some(v) if v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false") =>
          v.toLowerCase
        case Some(v) =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_AQE must be 'true' or 'false', got '$v'")
        case None => "true"
      })
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // false: the job that MATERIALIZES a cached frame is planned with
      // AQE off, so the cached plan keeps its declared output
      // partitioning for downstream reuse, and every .cache() build runs
      // the pre-AQE plan (no runtime broadcast conversion, no partition
      // coalescing). `c8fb3fc` set true, for the commit paths' cached
      // hit-row and source builds; `ca0b32e` set false again. Neither
      // recorded a measurement of the flip. Either value gives the same
      // results (they do not depend on partitioning); the choice moves
      // every workload's timings and is left to an end-to-end A/B.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle files and broadcast blocks are reclaimed by the
      // ContextCleaner only when the JVM garbage-collects their driver
      // handles; the default periodic-GC interval (30min) lets tens of
      // GB of dead shuffle data pile up across a long multi-query run,
      // evicting the page cache and slowing later queries. One minute
      // keeps a long-lived session's disk footprint bounded.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // ~80 registered queries generate well over the default 100 cached
      // codegen classes; evictions force Janino recompiles mid-run.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // TypedImperativeAggregates (minhash_sig / simhash_agg /
      // distinct_up_to) run under ObjectHashAggregateExec, which by
      // default abandons hash aggregation after 128 distinct keys and
      // sort-aggregates the rest — for the shingle-keyed groupBys
      // (10^4-10^6 keys) that means sorting the whole exploded index
      // and serializing every partial buffer (measured 3× on q35).
      // 2^20 keys × ~100B average buffer ≈ 100MB per task keeps the
      // hash path for realistic key counts; past that the sort-based
      // spill path remains the safety net, so memory stays bounded on
      // adversarial key cardinalities.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)
      // Some testdata generations store events.ts as INT64
      // TIMESTAMP(NANOS), which Spark's parquet reader rejects by
      // default. With this flag the scan surfaces nanos as a long and
      // Tables.events truncates to micros (schema-adaptive — current
      // generations store TIMESTAMP(US) and skip the conversion). Set
      // here (not in the loader) so building a plan never mutates
      // session state; harmless when no nanos column exists.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
