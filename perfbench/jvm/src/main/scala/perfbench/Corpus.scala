package perfbench

import graft.operators.{Dedup, Pipeline, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.control.NonFatal

object CorpusData {
  /** A doc before ids are assigned: text, vector, and the planted group it
    * belongs to per stage (-1 = none). */
  final case class Doc(text: String, vec: Array[Float], lowQuality: Boolean,
                       exactGroup: Int, nearGroup: Int, semGroup: Int)
}

/** A seeded pretraining corpus with planted structure, and the survivors
  * each stage must leave.  Every planted group keeps its smallest id. */
final class CorpusData(seed: Long, nDocs: Int) {
  import CorpusData.Doc
  val Dim = 64
  private val rng = new java.util.SplittableRandom(seed)
  private val vocab: IndexedSeq[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 4000).map(_ => Iterator.fill(3 + rng.nextInt(7))(letters(rng.nextInt(26))).mkString)
  }
  private def word(): String = vocab((vocab.size * math.pow(rng.nextDouble(), 2)).toInt)
  private def words(n: Int): Array[String] = Array.fill(n)(word())
  private def cleanText(): Array[String] = words(60 + rng.nextInt(81))
  private def vector(): Array[Float] = {
    val v = Array.fill(Dim)(rng.nextDouble() * 2 - 1)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private val docs: IndexedSeq[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    val nExact = nDocs / 40
    val nNear = nDocs / 50
    val nSem = nDocs / 40
    val nLow = nDocs / 16
    for (g <- 0 until nExact) {
      val t = cleanText().mkString(" ")
      for (_ <- 0 until 2 + rng.nextInt(3)) out += Doc(t, vector(), false, g, -1, -1)
    }
    for (g <- 0 until nNear) {
      // skewed cluster sizes: many pairs, a few clusters of up to 30
      val size = math.min(30, 1 + (1.0 / math.pow(1 - rng.nextDouble(), 1.2)).toInt)
      val base = cleanText()
      out += Doc(base.mkString(" "), vector(), false, -1, g, -1)
      for (_ <- 1 until math.max(2, size)) {
        val v = base.clone()
        v(rng.nextInt(v.length)) = word() + "q" // one replaced word, never equal to the original
        out += Doc(v.mkString(" "), vector(), false, -1, g, -1)
      }
    }
    for (g <- 0 until nSem) {
      val v = vector()
      for (_ <- 0 until 2 + rng.nextInt(4)) out += Doc(cleanText().mkString(" "), v, false, -1, -1, g)
    }
    for (i <- 0 until nLow) {
      val t = if (i % 2 == 0) words(10 + rng.nextInt(31)).mkString(" ") // too short
              else words(60 + rng.nextInt(41)).map(_ + "!!").mkString(" ") // punctuation-heavy
      out += Doc(t, vector(), true, -1, -1, -1)
    }
    while (out.size < nDocs) out += Doc(cleanText().mkString(" "), vector(), false, -1, -1, -1)
    // ids in a seeded random order, so planted groups spread over the id range
    val perm = out.indices.toArray
    for (i <- perm.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    perm.toIndexedSeq.map(out)
  }
  val size: Int = docs.size

  val schema: StructType = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false), StructField("vec", ArrayType(FloatType, false), false)))
  def rows: Seq[Row] = docs.indices.map(i => Row(i.toLong, docs(i).text, docs(i).vec.toSeq))

  private def losers(group: Doc => Int, among: Set[Long]): Set[Long] =
    among.toSeq.filter(i => group(docs(i.toInt)) >= 0).groupBy(i => group(docs(i.toInt)))
      .values.flatMap(ids => ids.sorted.tail).toSet

  val afterQuality: Set[Long] = docs.indices.filterNot(docs(_).lowQuality).map(_.toLong).toSet
  val afterExact: Set[Long] = afterQuality -- losers(_.exactGroup, afterQuality)
  val afterNear: Set[Long] = afterExact -- losers(_.nearGroup, afterExact)
  val afterSemantic: Set[Long] = afterNear -- losers(_.semGroup, afterNear)
  /** Two near-duplicate clusters, for the checker's self-test. */
  def nearClusters: Seq[Seq[Long]] =
    afterExact.toSeq.filter(i => docs(i.toInt).nearGroup >= 0).groupBy(i => docs(i.toInt).nearGroup)
      .values.map(_.sorted).toSeq.sortBy(_.head).take(2)

  /** (chunks, tokens) of the pack stage's input, chunked at `width`/`stride`
    * characters with whitespace token counts. */
  def chunkTotals(ids: Set[Long], width: Int, stride: Int): (Long, Long) = {
    var chunks, tokens = 0L
    ids.foreach { i =>
      val t = docs(i.toInt).text
      val n = 1 + (math.max(t.length - width, 0) + stride - 1) / stride
      for (c <- 0 until n) {
        chunks += 1
        tokens += t.substring(c * stride, math.min(t.length, c * stride + width))
          .split(" ").count(_.nonEmpty)
      }
    }
    (chunks, tokens)
  }
}

/** `corpus`: an LLM-pretraining pass over the seeded corpus.  One round is
  * one pass of five stages, each a public operator call whose result is
  * materialized (a local checkpoint the next stage reads):
  * quality gate, exact dedup, near dedup, semantic dedup, chunk and pack.
  * Every stage counts as one operation and its output is checked against
  * the generator's planted ground truth in the same round.  The unit
  * operation is the whole pass, the sum of its stages' fastest runs (the
  * stages' costs differ tenfold, so a median over stages would flip
  * between the cheap and the dear ones). */
final class Corpus(spark: SparkSession, tracer: Tracer, seed: Long, out: String)
    extends Workload {
  val NDocs = 2000
  val Budget = 512L
  val Width = 500
  val Stride = 400
  private val data = new CorpusData(seed, NDocs)
  private val inputPath = s"$out/corpus-input"
  private val stageNames = Seq("quality", "exact_dedup", "near_dedup", "semantic_dedup", "pack")
  private var nearCounts: Option[(Long, Long)] = None

  /** The source frame of the last stage, whose execution carries the
    * pack stage's observed chunk metrics. */
  private var lastSource: DataFrame = _

  /** One stage: build (the operator call), plan, exec (eager local checkpoint). */
  private def stage(name: String)(build: => DataFrame): DataFrame =
    timed[DataFrame](name)(tracer.span(s"stage:$name") {
      val df = tracer.span("build")(build)
      tracer.span("plan")(df.queryExecution.executedPlan)
      lastSource = df
      tracer.span("exec")(df.localCheckpoint(eager = true))
    })

  private def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** Rejections of one stage's survivors, or None when they are right. */
  private def idCheck(name: String, got: Set[Long], want: Set[Long]): Option[String] =
    if (got == want) None
    else Some(s"$name: ${(want -- got).size} planted survivors missing, " +
      s"${(got -- want).size} documents that should be gone remain")

  /** Rejections of the packed sequences. */
  private def packCheck(bins: Seq[(Long, Long, Long)], observedTokens: Long,
                        want: (Long, Long)): Option[String] = {
    val (wantChunks, wantTokens) = want
    var prefix = 0L
    val misplaced = bins.sortBy(_._1).count { case (bin, _, tokens) =>
      val bad = prefix < bin * Budget || prefix >= (bin + 1) * Budget
      prefix += tokens
      bad
    }
    val chunks = bins.map(_._2).sum
    val tokens = bins.map(_._3).sum
    if (misplaced > 0) Some(s"pack: $misplaced sequences start outside their $Budget-token window")
    else if (chunks != wantChunks || tokens != wantTokens)
      Some(s"pack: $chunks chunks / $tokens tokens packed, want $wantChunks / $wantTokens")
    else if (observedTokens != tokens) Some(s"pack: chunks carry $observedTokens tokens, packs $tokens")
    else None
  }

  /** The quality gate: 50 or more tokens, punctuation ratio at most 0.1. */
  private def gated(docs: DataFrame): DataFrame = {
    val sig = TextAnalysis.qualitySignals(col("text")).toMap
    docs.filter(sig("n_tokens") >= 50 && sig("punct_ratio") <= 0.1)
  }

  private def pass(): Seq[Option[String]] = {
    Main.cleanBlocks(spark)
    val q = stage("quality")(gated(spark.read.parquet(inputPath)))
    val qIds = ids(q)
    val e = stage("exact_dedup")(Dedup.deduplicated(q, col("text"), col("doc_id")))
    val eIds = ids(e)
    val n = stage("near_dedup")(Dedup.nearDedupCorpus(e, col("text"), col("doc_id")))
    val nIds = ids(n)
    val s = stage("semantic_dedup")(Dedup.semanticDedup(n, "doc_id", "vec", 0, 0.95))
    val sIds = ids(s)
    val p = stage("pack")(Pipeline.pretrainCorpusObserved(s, col("doc_id"), col("text"),
      width = Width, stride = Stride, budget = Budget))
    val observed = lastSource.queryExecution.observedMetrics.get("chunks")
      .map(_.getLong(1)).getOrElse(-1L)
    val bins = p.select("bin_id", "n_chunks", "sum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Seq(idCheck("quality", qIds, data.afterQuality),
      idCheck("exact_dedup", eIds, data.afterExact),
      idCheck("near_dedup", nIds, data.afterNear),
      idCheck("semantic_dedup", sIds, data.afterSemantic),
      packCheck(bins, observed, data.chunkTotals(sIds, Width, Stride)))
  }

  def setup(): Unit = {
    spark.createDataFrame(java.util.Arrays.asList(data.rows: _*), data.schema)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(inputPath)
    Main.log(s"corpus written: ${data.size} docs")
    pass()
  }

  def unitOpS(fastest: collection.Map[String, Double]): Double = fastest.values.sum

  def round(r: Int): Unit = {
    val verdicts = pass()
    attempted += verdicts.size
    verdicts.flatten.foreach(fail)
    items += data.size
  }

  def check(): Seq[String] = {
    if (tracer.on) nearCounts = try {
      val e = Dedup.deduplicated(gated(spark.read.parquet(inputPath)), col("text"), col("doc_id"))
      val pairs = Dedup.verifiedPairs(e, col("text"), col("doc_id"))
      Some((pairs.count(), pairs.filter(col("jaccard") >= 0.8).count()))
    } catch { case NonFatal(_) => None }
    // self-test: the near-dup checker must reject two planted clusters merged into one
    data.nearClusters match {
      case Seq(_, second) =>
        val merged = data.afterNear - second.head
        if (idCheck("near_dedup", merged, data.afterNear).isEmpty)
          Seq("self-test: the near-dup checker accepted two merged clusters")
        else Nil
      case _ => Seq("self-test: fewer than two planted near-duplicate clusters")
    }
  }

  override def figures: Map[String, Any] = Map(
    "docs" -> data.size,
    "survivors" -> Map("quality" -> data.afterQuality.size, "exact_dedup" -> data.afterExact.size,
      "near_dedup" -> data.afterNear.size, "semantic_dedup" -> data.afterSemantic.size))

  override def layerFigures(t: Tracer): Map[String, Double] = {
    val stages = stageNames.map(s => s"stage.${s}_s" -> t.wall(s"stage:$s")).toMap
    stages ++ nearCounts.toSeq.flatMap { case (cand, ver) =>
      Seq("near.candidate_pairs" -> cand.toDouble, "near.verified_pairs" -> ver.toDouble,
        "near.verify_yield" -> ver.toDouble / math.max(cand, 1L))
    }
  }
}
