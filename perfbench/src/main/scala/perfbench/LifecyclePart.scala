package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{FeedView, TableVersions}

/** Sizes of the version-store part of a workload. */
final case class LifeCfg(baseRows: Int, appendRows: Int, mergeRows: Int, pointReads: Int, groups: Int)

/** A versioned table under single-writer CDC cycles. Set-up seeds the
  * table and its aggregate view. A round is one cycle: append new keys,
  * merge an upsert batch that favours recent keys, delete the oldest
  * key range, sync the view and `maintain` the table and the view (the
  * `ingest` samples); then read the head aggregate, point rows and an
  * older version (the `query` samples). The deletes balance the
  * inserts and every round ends maintained, so every round starts from
  * a live table of the same size; the history grows. A driver-side
  * key -> row ledger is the oracle for every read. */
final class LifecyclePart(ctx: Ctx, cfg: LifeCfg) extends Part {
  private val spark = ctx.spark
  import spark.implicits._

  private val root = ctx.work.resolve("state/life")
  private val table = root.resolve("table").toString
  private val view = root.resolve("view").toString

  private type Rw = (String, Long, String) // grp, v, payload
  private val ledger = mutable.LongMap[Rw]()
  private var agg = (0L, 0L, 0L) // count, sum(v), sum(crc32(row))
  private val versionAgg = mutable.LongMap[(Long, Long, Long)]()
  private var head = -1L
  private var nextKey = 0L
  private var lowWater = 0L
  private var cycle = 0
  private var userBytes = 0L
  private var bytesWritten = 0L
  private var logWritten = 0L
  private var writtenCycles = 0
  private var writeAmp = Double.NaN
  private var spaceAmp = Double.NaN

  private val deleteRows = cfg.appendRows + cfg.mergeRows * 3 / 10

  private def crc(key: Long, r: Rw): Long = {
    val c = new CRC32
    c.update(s"$key|${r._1}|${r._2}|${r._3}".getBytes(UTF_8))
    c.getValue
  }
  private def put(key: Long, r: Rw): Unit = {
    ledger.get(key).foreach(old => remove(key, old))
    ledger(key) = r
    agg = (agg._1 + 1, agg._2 + r._2, agg._3 + crc(key, r))
  }
  private def remove(key: Long, old: Rw): Unit = {
    ledger.remove(key)
    agg = (agg._1 - 1, agg._2 - old._2, agg._3 - crc(key, old))
  }
  private def committed(v: Long): Unit = {
    head = v
    versionAgg(v) = agg
  }

  private def row(rng: SplittableRandom): Rw = {
    val payload = new String(Array.fill(40)(('a' + rng.nextInt(26)).toChar))
    (f"g${rng.nextInt(cfg.groups)}%02d", rng.nextInt(1000000).toLong, payload)
  }
  private def frame(rows: Seq[(Long, Rw)]): DataFrame = {
    userBytes += rows.map { case (_, r) => 16L + r._1.length + r._3.length }.sum
    rows.map { case (k, r) => (k, r._1, r._2, r._3) }.toDF("key", "grp", "v", "payload")
  }

  /** count, sum(v) and the sum of per-row CRC32s — a content hash the
    * ledger restates without Spark. */
  private def aggOf(df: DataFrame): (Long, Long, Long) = {
    val r = df
      .agg(
        count(lit(1)),
        coalesce(sum(col("v")), lit(0L)),
        coalesce(
          sum(crc32(concat_ws("|", col("key").cast("string"), col("grp"), col("v").cast("string"), col("payload"))
            .cast("binary"))),
          lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The op script is drawn from the seed as the cycles run. */
  def generate(): Unit = ()

  def prepare(r: Rec): Unit = {
    Part.deleteTree(root)
    ledger.clear()
    versionAgg.clear()
    agg = (0L, 0L, 0L)
    lowWater = 0L
    cycle = 0
    bytesWritten = 0L
    logWritten = 0L
    writtenCycles = 0
    val rng = new SplittableRandom(ctx.seed * 31 + 7)
    val base = (0L until cfg.baseRows.toLong).map(k => k -> row(rng))
    nextKey = cfg.baseRows.toLong
    base.foreach { case (k, rw) => put(k, rw) }
    committed(TableVersions.commitAppend(frame(base), table))
    FeedView.init(spark, table, view, "grp", "v")
  }

  private def oneCycle(r: Rec): Unit = {
    val rng = new SplittableRandom(ctx.seed * 1000003L + cycle)
    cycle += 1

    val app = (nextKey until nextKey + cfg.appendRows).map(k => k -> row(rng))
    nextKey += cfg.appendRows
    ctx.op(r, "tableversions.append", "ingest")(TableVersions.commitAppend(frame(app), table)).foreach { v =>
      app.foreach { case (k, rw) => put(k, rw) }
      committed(v)
    }

    val recentFrom = math.max(lowWater, nextKey - 2000)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < cfg.mergeRows) {
      if (rng.nextInt(10) < 7) keys += recentFrom + rng.nextLong(nextKey - recentFrom)
      else { keys += nextKey; nextKey += 1 }
    }
    val upserts = keys.toSeq.map(k => k -> row(rng))
    ctx.op(r, "tableversions.merge", "ingest")(TableVersions.commitMerge(frame(upserts), table, "key")).foreach { v =>
      upserts.foreach { case (k, rw) => put(k, rw) }
      committed(v)
    }

    val (lo, hi) = (lowWater, lowWater + deleteRows)
    lowWater = hi
    ctx.op(r, "tableversions.delete", "ingest")(
      TableVersions.commitDelete(spark, table, s"key >= $lo AND key < $hi")).foreach { v =>
      (lo until hi).foreach(k => ledger.get(k).foreach(old => remove(k, old)))
      committed(v)
    }

    ctx.op(r, "feedview.sync", "ingest")(FeedView.sync(spark, table, view, "grp", "v")).foreach { c =>
      if (c != head) ctx.problem(s"FeedView.sync cursor $c, expected $head")
    }
    ctx.op(r, "tableversions.maintain", "ingest")(TableVersions.maintain(spark, table))
    ctx.op(r, "tableversions.maintain", "ingest")(TableVersions.maintain(spark, view))
    (head + 1 to TableVersions.currentVersion(spark, table)).foreach(committed)

    ctx.op(r, "tableversions.read_head", "query")(aggOf(TableVersions.readVersion(spark, table, head))).foreach { a =>
      if (a != agg) ctx.problem(s"head v$head aggregate $a, expected $agg")
    }
    for (_ <- 0 until cfg.pointReads) {
      val k = lowWater - 50 + rng.nextLong(nextKey - lowWater + 50)
      ctx.op(r, "tableversions.read_point", "query")(
        TableVersions.readVersionPoint(spark, table, head, "key", k.toString).collect()).foreach { rows =>
        ctx.expect(s"readVersionPoint(key=$k)", LifecyclePart.checkPoint(k, rows.toSeq, ledger.get(k)))
      }
    }
    val old = math.max(versionAgg.keys.min, head - LifecyclePart.AsOfLag)
    ctx.op(r, "tableversions.read_as_of", "query")(aggOf(TableVersions.readVersion(spark, table, old))).foreach { a =>
      if (!versionAgg.get(old).contains(a)) ctx.problem(s"as-of v$old aggregate $a, expected ${versionAgg.get(old)}")
    }
  }

  private def checkView(): Seq[(String, Long, Long)] = {
    val got = FeedView.read(spark, view).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    ctx.expect("FeedView", LifecyclePart.checkGroups(got, ledger))
    got
  }

  def round(r: Rec, index: Int): Unit = {
    val before = Part.dirBytes(root)
    val logBefore = logBytes
    if (index == 1) userBytes = 0L
    oneCycle(r)
    bytesWritten += Part.dirBytes(root) - before
    logWritten += logBytes - logBefore
    writtenCycles += 1
    if (index == 1) amplification(before)
  }

  /** Write and space amplification over the first timed round — a fixed
    * stretch of the script, so a faster program that fits more rounds
    * into a run is not charged for the longer history it makes. Bytes
    * written are the growth of the state directory over the round, so
    * files a round writes and `maintain` then removes go uncounted. */
  private def amplification(before: Long): Unit = {
    val onDisk = Part.dirBytes(root)
    writeAmp = (onDisk - before).toDouble / userBytes
    val once = ctx.work.resolve("state/life-once")
    Part.deleteTree(once)
    TableVersions.readVersion(spark, table, head).coalesce(1).write.parquet(once.resolve("t").toString)
    FeedView.read(spark, view).coalesce(1).write.parquet(once.resolve("v").toString)
    spaceAmp = onDisk.toDouble / Part.dirBytes(once)
    Part.deleteTree(once)
  }

  def check(r: Rec): Unit = {
    val groups = checkView()
    if (groups.nonEmpty)
      ctx.mustReject("FeedView", LifecyclePart.checkGroups(groups.updated(0, groups.head.copy(_3 = groups.head._3 + 1)), ledger))
    val anyKey = ledger.keys.head
    ctx.mustReject("readVersionPoint", LifecyclePart.checkPoint(anyKey, Nil, ledger.get(anyKey)))
  }

  override def traceExtras(r: Rec): Map[String, Double] =
    Map(
      "tableversions.live_files_at_head" -> TableVersions.readVersion(spark, table, head).inputFiles.length.toDouble,
      "tableversions.write_amp" -> writeAmp,
      "tableversions.space_amp" -> spaceAmp,
      "tableversions.bytes_written" -> bytesWritten.toDouble / writtenCycles,
      "tableversions.log_bytes" -> logWritten.toDouble / writtenCycles
    )

  private def logBytes: Long = Part.dirBytes(root.resolve("table/_log")) + Part.dirBytes(root.resolve("table/_ckpt"))
}

object LifecyclePart {

  /** The as-of read goes this many versions back from the head. */
  val AsOfLag = 6
  def checkPoint(key: Long, rows: Seq[Row], want: Option[(String, Long, String)]): Seq[String] = {
    val got = rows.map(r => (r.getAs[Long]("key"), r.getAs[String]("grp"), r.getAs[Long]("v"), r.getAs[String]("payload")))
    val exp = want.map(w => (key, w._1, w._2, w._3)).toSeq
    if (got == exp) Nil else Seq(s"got $got, expected $exp")
  }

  def checkGroups(got: Seq[(String, Long, Long)], ledger: collection.Map[Long, (String, Long, String)]): Seq[String] = {
    val want = ledger.values.groupBy(_._1).map { case (g, rs) => (g, rs.size.toLong, rs.map(_._2).sum) }.toSet
    val g = got.toSet
    if (g == want && got.size == want.size) Nil
    else ((want -- g).map(w => s"missing or wrong group $w") ++ (g -- want).map(x => s"unexpected $x")).toSeq
  }
}
