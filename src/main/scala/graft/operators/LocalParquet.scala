package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.spark.sql.SparkSession

/** Driver-side parquet Group reads for TINY MODEL / METADATA tables —
  * the engine's own k-row artifacts (IVF centroids, PQ codebooks,
  * 1-row index meta; the version store's log, checkpoint file lists,
  * stats, bloom and constraint tables). Loading one of these through a
  * Spark job paid a full schema inference + job submission + collect
  * round trip (~100-200 ms) per call, and the probe/append paths load
  * several of them per invocation; the rows are driver-side literals
  * immediately after anyway (they fold into the plan as constants), so
  * nothing about the data plane changes (guide §1.2: the orchestration,
  * not the plan, was the cost). NEVER used for data: callers read
  * metadata and O(k·dim) model rows this engine wrote itself.
  *
  * Value fidelity: parquet stores these columns as INT32/INT64/
  * BOOLEAN/DOUBLE and Spark's standard 3-level LIST layout; the Group
  * API returns the same bits the DataFrame reader would, so collected
  * doubles are bit-identical to the previous Spark-side collect.
  */
private[operators] object LocalParquet {

  /** Every row of every `part-*.parquet` under `dirPath` that `filter`
    * keeps — a parquet record filter, so rows it drops are never
    * assembled. */
  def rows(s: SparkSession, dirPath: String, filter: FilterCompat.Filter = FilterCompat.NOOP): Seq[Group] = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(dirPath)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p)
      .toSeq
      .map(_.getPath)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
      .flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
          .withConf(conf)
          .withFilter(filter)
          .build()
        try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
        finally reader.close()
      }
  }

  def int(g: Group, f: String): Int = g.getInteger(f, 0)
  def boolean(g: Group, f: String): Boolean = g.getBoolean(f, 0)
  def isNull(g: Group, f: String): Boolean =
    !g.getType.containsField(f) || g.getFieldRepetitionCount(f) == 0

  /** array<double> in Spark's standard 3-level LIST layout
    * (`optional group f (LIST) { repeated group list { optional double
    * element } }`). */
  def doubles(g: Group, f: String): Seq[Double] = {
    val lst = g.getGroup(f, 0)
    (0 until lst.getFieldRepetitionCount("list"))
      .map(i => lst.getGroup("list", i).getDouble("element", 0))
  }

  /** array<array<double>> — the nested LIST-of-LIST layout. */
  def doubleMatrix(g: Group, f: String): Seq[Seq[Double]] = {
    val lst = g.getGroup(f, 0)
    (0 until lst.getFieldRepetitionCount("list")).map { i =>
      val inner = lst.getGroup("list", i).getGroup("element", 0)
      (0 until inner.getFieldRepetitionCount("list"))
        .map(j => inner.getGroup("list", j).getDouble("element", 0))
    }
  }
}
