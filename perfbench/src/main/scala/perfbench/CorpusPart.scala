package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, ShingleIndex}

/** Plain-Scala restatement of the q35 near-duplicate definition: word
  * 3-shingle sets, document frequency over the corpus, "rare" shingles
  * (df in [2, 50]), Jaccard over rare sets, pairs at or above 0.5. */
object NearDup {
  val MinJaccard = 0.5

  def shingles(text: String): Set[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < 3) Set.empty else (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
  }

  def rare(df: Long): Boolean = df >= 2 && df <= 50

  /** All pairs (d1 < d2) -> jaccard. */
  def pairs(sets: Map[Long, Set[String]]): Map[(Long, Long), Double] = {
    val df = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    for ((d, s) <- sets; g <- s) df.getOrElseUpdate(g, mutable.ArrayBuffer()) += d
    val rareDocs = df.filter { case (_, ds) => rare(ds.size.toLong) }
    val n = mutable.HashMap[Long, Int]().withDefaultValue(0)
    val shared = mutable.HashMap[(Long, Long), Int]().withDefaultValue(0)
    for ((_, ds) <- rareDocs) {
      val s = ds.sorted
      s.foreach(d => n(d) += 1)
      for (i <- s.indices; j <- i + 1 until s.size) shared((s(i), s(j))) += 1
    }
    val out = shared.collect {
      case (k @ (a, b), c) if c.toDouble / (n(a) + n(b) - c) >= MinJaccard => k -> c.toDouble / (n(a) + n(b) - c)
    }
    out.toMap
  }

  /** Admission verdicts of `batch` against `index`: (new, old) -> jaccard,
    * rare by the document frequency of the union. */
  def admit(
      index: Map[Long, Set[String]],
      indexDf: collection.Map[String, Int],
      postings: collection.Map[String, Seq[Long]],
      batch: Map[Long, Set[String]]
  ): Map[(Long, Long), Double] = {
    val batchDf = mutable.HashMap[String, Int]().withDefaultValue(0)
    for (s <- batch.values; g <- s) batchDf(g) += 1
    def isRare(g: String) = rare(indexDf.getOrElse(g, 0).toLong + batchDf(g))
    val out = mutable.HashMap[(Long, Long), Double]()
    for ((d, s) <- batch) {
      val mine = s.filter(isRare)
      val shared = mutable.HashMap[Long, Int]().withDefaultValue(0)
      for (g <- mine; o <- postings.getOrElse(g, Nil)) shared(o) += 1
      for ((o, c) <- shared) {
        val j = c.toDouble / (mine.size + index(o).count(isRare) - c)
        if (j >= MinJaccard) out((d, o)) = j
      }
    }
    out.toMap
  }

  def compare(what: String, got: Map[(Long, Long), Double], want: Map[(Long, Long), Double]): Seq[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = (got.keySet & want.keySet).filter(k => math.abs(got(k) - want(k)) > 1e-12)
    missing.take(3).map(k => s"$what: pair $k (jaccard ${want(k)}) not reported").toSeq ++
      extra.take(3).map(k => s"$what: pair $k reported, jaccard below threshold or no shared rare shingle") ++
      wrong.take(3).map(k => s"$what: pair $k jaccard ${got(k)}, expected ${want(k)}")
  }
}

/** The corpus operators: the exact-Jaccard near-dup pass (q35), the
  * shingle and IVF index builds, incremental admission batches and
  * top-k vector probes, over a corpus with planted near-dup clusters
  * and planted vector neighbours.
  *
  * Set-up builds the serving shingle and IVF indexes. A round runs the
  * batch phase (the q35 pass and both index builds, into scratch
  * directories) and one admission batch against the serving shingle
  * index (the `ingest` samples), then `probesPerRound` top-k probes of
  * the serving IVF index at `nprobe` [[CorpusPart.Nprobe]] (the `query`
  * samples). Admission only reads the serving index, so every round
  * sees the same state. The part runs in traced runs only, at one size
  * (the constants in [[CorpusPart$]]). */
final class CorpusPart(ctx: Ctx) extends Part {
  import CorpusPart._
  private val spark = ctx.spark
  import spark.implicits._

  private val dir = Part.inputDir(ctx, "corpus", Sizes)
  private val state = ctx.work.resolve("state/corpus")
  private val rng0 = new SplittableRandom(ctx.seed * 131 + 3)

  // -- the generator's model ------------------------------------------------
  private val vocab: Vector[String] = (0 until Vocab).map(i => s"w${Integer.toString(i * 7919 % 104729, 36)}").toVector
  private val zipf: Array[Double] = {
    val w = (1 to Vocab).map(i => 1.0 / i).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }
  private def word(rng: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipf, rng.nextDouble())
    vocab(math.min(Vocab - 1, if (i >= 0) i else -i - 1))
  }
  private def freshDoc(rng: SplittableRandom): String =
    (0 until MinWords + rng.nextInt(MaxWords - MinWords + 1)).map(_ => word(rng)).mkString(" ")
  private def mutate(text: String, rng: SplittableRandom): String =
    text.split(" ").map(w => if (rng.nextInt(100) < 4) word(rng) else w).mkString(" ")

  private val planted = Clusters * DupsPerCluster
  private val texts: Vector[String] = {
    val originals = (0 until Docs - planted).map(_ => freshDoc(rng0)).toVector
    originals ++ (0 until planted).map(i => mutate(originals(i / DupsPerCluster * 7 % originals.size), rng0))
  }
  private val origin: Vector[Int] = // the doc each planted copy was made from
    (0 until Docs).map(i => if (i < Docs - planted) i else (i - (Docs - planted)) / DupsPerCluster * 7 % (Docs - planted)).toVector
  private val centers = Vector.fill(Centers)(Vector.fill(Dim)(rng0.nextDouble() * 2 - 1))
  private val vecs: Vector[Vector[Double]] = {
    val own = (0 until Docs - planted).map { _ =>
      val c = centers(rng0.nextInt(Centers))
      c.map(_ + rng0.nextGaussian() * 0.3)
    }.toVector
    // a planted copy's vector is a near neighbour of its origin's
    own ++ (Docs - planted until Docs).map(i => own(origin(i)).map(_ + rng0.nextGaussian() * 0.01))
  }
  private val queryVecs: Vector[Vector[Double]] =
    Vector.fill(64)(vecs(rng0.nextInt(Docs)).map(_ + rng0.nextGaussian() * 0.02))
  private val QueryBase = 20000000L

  private lazy val sets: Map[Long, Set[String]] = texts.indices.map(i => i.toLong -> NearDup.shingles(texts(i))).toMap
  private lazy val reference = NearDup.pairs(sets)
  private var pairsReported = 0
  private lazy val indexDf: collection.Map[String, Int] = {
    val m = mutable.HashMap[String, Int]().withDefaultValue(0)
    for (s <- sets.values; g <- s) m(g) += 1
    m
  }
  private lazy val postings: collection.Map[String, Seq[Long]] = {
    val m = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    for ((d, s) <- sets; g <- s) m.getOrElseUpdate(g, mutable.ArrayBuffer()) += d
    m.map { case (k, v) => k -> v.toSeq }
  }

  private def admitBatch(round: Int, i: Int): Map[Long, String] = {
    val rng = new SplittableRandom(ctx.seed * 1000003L + round * 7919L + i)
    (0 until AdmitBatch).map { j =>
      val id = 10000000L + (round * 100 + i) * 1000L + j
      id -> (if (rng.nextInt(10) < 3) mutate(texts(rng.nextInt(Docs)), rng) else freshDoc(rng))
    }.toMap
  }

  private def queries(round: Int, i: Int): Seq[Int] = {
    val rng = new SplittableRandom(ctx.seed * 1000033L + round * 7919L + i)
    (0 until QueriesPerProbe).map(_ => rng.nextInt(queryVecs.size)).distinct
  }
  private def queryDf(qs: Seq[Int]): DataFrame = qs.map(q => (QueryBase + q, queryVecs(q))).toDF("q_id", "qv")

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < a.size) { dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1 }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
  private def exactTopK(q: Int): Seq[(Long, Double)] =
    vecs.indices.map(i => (i.toLong, cosine(queryVecs(q), vecs(i)))).sortBy(x => (-x._2, x._1)).take(TopK)

  // -- files ---------------------------------------------------------------

  def generate(): Unit = {
    val done = dir.resolve("complete")
    if (!Files.exists(done)) {
      Part.deleteTree(dir)
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, math.sqrt(v.map(x => x * x).sum)) }.toDF("vec_id", "v", "norm")
        .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
      Files.write(done, Array.emptyByteArray)
    }
  }

  private def docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
  private def emb = spark.read.parquet(dir.resolve("embeddings.parquet").toString)
  private val shingleServing = state.resolve("shingle").toString
  private val ivfServing = state.resolve("ivf").toString
  private val q35 = graft.queries.Dedup.defs.find(_.name == "q35_ngram_jaccard").get.fn

  def prepare(r: Rec): Unit = {
    Part.deleteTree(state)
    ShingleIndex.build(docs, shingleServing)
    IvfIndex.build(emb, ivfServing, k = Cells)
  }

  private def pairsOf(rows: Array[Row]): Map[(Long, Long), Double] =
    rows.map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap

  def round(r: Rec, index: Int): Unit = {
    val scratch = state.resolve(s"round-$index")
    ctx.op(r, "dedup.pairs", "ingest")(q35(spark, dir.toString).collect()).foreach { rows =>
      pairsReported = rows.length
      ctx.expect("q35_ngram_jaccard", NearDup.compare("q35", pairsOf(rows), reference))
    }
    ctx.op(r, "shingleindex.build", "ingest")(ShingleIndex.build(docs, scratch.resolve("shingle").toString))
    ctx.op(r, "ivfindex.build", "ingest")(IvfIndex.build(emb, scratch.resolve("ivf").toString, k = Cells))
    Part.deleteTree(scratch)

    val batch = admitBatch(index, 0)
    val df = batch.toSeq.toDF("doc_id", "text")
    ctx.op(r, "shingleindex.admit", "ingest")(ShingleIndex.admit(spark, shingleServing, df, NearDup.MinJaccard).collect())
      .foreach { rows =>
        val want = NearDup.admit(sets, indexDf, postings, batch.map { case (k, t) => k -> NearDup.shingles(t) })
        ctx.expect(s"ShingleIndex.admit($index)", NearDup.compare("admit", pairsOf(rows), want))
      }

    for (i <- 0 until ProbesPerRound) {
      val qs = queries(index, i)
      ctx.op(r, "ivfindex.probe", "query")(IvfIndex.probe(spark, ivfServing, queryDf(qs), Nprobe, TopK).collect())
        .foreach(rows => ctx.expect(s"IvfIndex.probe($index/$i)", checkProbe(qs, rows.toSeq)))
    }
  }

  /** Every returned neighbour carries its exact cosine, ranks run 1..k in
    * descending cosine, and each query gets k neighbours. */
  private def checkProbe(qs: Seq[Int], rows: Seq[Row]): Seq[String] = {
    val byQ = rows.groupBy(_.getLong(0))
    val out = mutable.ArrayBuffer[String]()
    for (q <- qs) {
      val rs = byQ.getOrElse(QueryBase + q, Nil).sortBy(_.getLong(1))
      if (rs.size != TopK) out += s"query $q: ${rs.size} neighbours, expected ${TopK}"
      if (rs.map(_.getLong(1)) != (1 to rs.size).map(_.toLong)) out += s"query $q: ranks ${rs.map(_.getLong(1))}"
      if (rs.map(_.getDouble(3)) != rs.map(_.getDouble(3)).sorted.reverse) out += s"query $q: cosines not descending"
      for (x <- rs) {
        val v = x.getLong(2)
        if (v < 0 || v >= Docs || cosine(queryVecs(q), vecs(v.toInt)) != x.getDouble(3))
          out += s"query $q: neighbour $v cosine ${x.getDouble(3)} is not its cosine"
      }
    }
    out.toSeq
  }

  /** Exhaustive probe (every cell) against brute force. */
  private def exhaustive(qs: Seq[Int]): Seq[Row] =
    IvfIndex.probe(spark, ivfServing, queryDf(qs), Cells, TopK).collect().toSeq

  private def checkExact(qs: Seq[Int], rows: Seq[Row]): Seq[String] = {
    val byQ = rows.groupBy(_.getLong(0))
    qs.flatMap { q =>
      val got = byQ.getOrElse(QueryBase + q, Nil).sortBy(_.getLong(1)).map(x => (x.getLong(2), x.getDouble(3)))
      if (got == exactTopK(q)) None else Some(s"query $q: exhaustive probe $got, brute force ${exactTopK(q)}")
    }
  }

  def check(r: Rec): Unit = {
    val qs = queryVecs.indices.take(16)
    val rows = exhaustive(qs)
    ctx.expect("IvfIndex.probe(nprobe = all cells)", checkExact(qs, rows))
    if (rows.nonEmpty) {
      val bad = rows.updated(0, Row(rows.head.getLong(0), rows.head.getLong(1), (rows.head.getLong(2) + 1) % Docs, rows.head.getDouble(3)))
      ctx.mustReject("IvfIndex.probe", checkExact(qs, bad) ++ checkProbe(qs, bad))
    }
    val pairs = reference
    val plantedFound = (Docs - planted until Docs).count(i =>
      pairs.contains((math.min(origin(i), i).toLong, math.max(origin(i), i).toLong)))
    if (planted > 0 && plantedFound < planted / 2)
      ctx.problem(s"only $plantedFound of $planted planted near-duplicates reach the threshold; the generator is off")
    if (pairs.nonEmpty) {
      ctx.mustReject("q35", NearDup.compare("q35", pairs.tail, pairs))
      val (k, j) = pairs.head
      ctx.mustReject("q35", NearDup.compare("q35", pairs.updated(k, j - 0.01), pairs))
    }
  }

  override def traceExtras(r: Rec): Map[String, Double] = {
    val qs = queryVecs.indices
    val probed = IvfIndex.probe(spark, ivfServing, queryDf(qs), Nprobe, TopK).collect().toSeq.groupBy(_.getLong(0))
    val hits = qs.map(q => (probed.getOrElse(QueryBase + q, Nil).map(_.getLong(2)).toSet & exactTopK(q).map(_._1).toSet).size).sum
    val cached = docs.cache()
    cached.count()
    def rate(e: String): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        cached.select(sum(size(expr(e)))).head()
        (System.nanoTime() - t0) / 1e9
      }
      Docs / Stats.median(ts)
    }
    val native = rate("word_shingles(text, 3)")
    val interpreted = rate(
      "array_distinct(transform(sequence(1, size(split(text, ' ')) - 2), " +
        "i -> concat_ws(' ', slice(split(text, ' '), i, 3))))")
    cached.unpersist()
    Map(
      "ivfindex.recall_at_k" -> hits.toDouble / (qs.size * TopK),
      "functions.word_shingles_rows_s" -> native,
      "functions.word_shingles_ref_rows_s" -> interpreted,
      "dedup.pairs_reported" -> pairsReported.toDouble
    )
  }
}

object CorpusPart {

  /** 400 documents of 60-120 words from a Zipf vocabulary of 5,000
    * words, 20 planted near-duplicate clusters; 16-dimension embeddings
    * around 12 centres, indexed in 8 IVF cells; admission batches of 10
    * documents; 3 probes a round of 4 queries for the top 10. */
  val Docs = 400
  val MinWords = 60
  val MaxWords = 120
  val Vocab = 5000
  val Clusters = 20
  val Dim = 16
  val Centers = 12
  val Cells = 8
  val AdmitBatch = 10
  val ProbesPerRound = 3
  val QueriesPerProbe = 4
  val TopK = 10
  private val Sizes = (Docs, MinWords, MaxWords, Vocab, Clusters, Dim, Centers, Cells)

  /** Copies planted per near-duplicate cluster, beside its original. */
  val DupsPerCluster = 2

  /** IVF cells probed per query in the timed probes. */
  val Nprobe = 2
}
