package graft

import org.apache.spark.sql.functions._
import graft.core.EzFrame
import graft.sources.CommentedCsv

/** The reference's canonical end-to-end workflow (README.md:101–116,
  * SURVEY.md §7.3): read a commented-header CSV, set an alias, run
  * `selectWhere` with a NumPy expression through the alias, take
  * stats, write back out, and query the round-tripped file. */
class CanonicalWorkflowSpec extends SparkSpec {
  import spark.implicits._

  test("README slice: csv -> alias -> selectWhere -> stats -> write -> reread") {
    // a stellar-photometry-shaped table (FIXTURES.md §2)
    val phot = Seq(
      (1.0, 3.80, 2.1, 2.5), // 10**3.8 = 6310 K, J>2 -> selected
      (2.0, 3.90, 2.9, 1.5), // J too small
      (3.0, 3.65, 1.2, 3.5), // 10**3.65 = 4467 K -> too cool
      (4.0, 3.75, 1.8, 2.2)) // 5623 K, J>2 -> selected
      .toDF("M_ini", "logTe", "logL", "J")
    val src = tempFile("canon", ".csv").toString
    CommentedCsv.write(
      EzFrame(phot).setHeader("NAME", "phot").setUnit("logTe", "dex(K)"), src)

    val t = CommentedCsv.read(spark, src).setAlias("logT", "logTe")
    val q = t.selectWhere("logT logL", "(J > 2) & (10 ** logT > 5000)")
    assert(q.columns == Seq("logTe", "logL"))
    assert(q.count() == 2)

    val st = q.stats().collect().map(r => r.getAs[String]("column") -> r.getAs[Double]("mean")).toMap
    assert(math.abs(st("logTe") - 3.775) < 1e-9)
    assert(math.abs(st("logL") - 1.95) < 1e-9)

    val out = tempFile("canon_out", ".csv").toString
    CommentedCsv.write(q, out)
    val back = CommentedCsv.read(spark, out)
    assert(back.count() == 2)
    assert(back.columns == Seq("logTe", "logL"))
  }

  test("grouped facet analysis (README astro example shape)") {
    val cat = Seq(
      (1, 0.5), (1, 0.7), (1, 0.9), (2, 1.5), (2, 1.7))
      .toDF("BRK", "AV")
    val facets = graft.plot.Plotter(EzFrame(cat))
      .groupby("BRK").hist("AV", bins = 4)
    assert(facets.facets.size == 2)
    val counts = facets.facets.map(_._2.data.map(_("count").asInstanceOf[Long]).sum)
    assert(counts == Seq(3L, 2L))
    // norm transform on the aggregated grid
    val normed = facets.facets.head._2.normalized("count", "log")
    assert(normed.data.nonEmpty)
  }

  test("training-corpus slice: sample -> gate -> near-dedup clusters -> cap -> pack -> vocab") {
    // the round-5 pipeline surface composed end to end on the real
    // sf0.001 corpus: every stage is the operator a 100 TB run would
    // use, and each invariant below would catch a composition break
    import graft.operators.{Dedup, Packing, Scale, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val total = docs.count()

    // deterministic subsample + quality/repetition gate
    val sampled = Scale.sampleByHash(docs, col("doc_id"), 900)
    val rep = TextAnalysis.repetitionSignals(sampled, col("doc_id"), col("text"))
      .filter(col("dup_token_ratio") < 0.95)
      .select(col("doc_id").as("rid"))
    val gated = sampled.join(rep, col("doc_id") === col("rid"), "left_semi")
    assert(gated.count() > 0 && gated.count() <= total)

    // near-dup pairs -> transitive clusters -> keep longest per cluster
    val deduped = Dedup.nearDedupCorpus(gated, col("text"), col("doc_id"),
      minJaccard = 0.5, keepBy = Seq(length(col("text")).desc))
    val nDeduped = deduped.count()
    assert(nDeduped > 0 && nDeduped <= gated.count())

    // per-source cap, then pack into 512-token bins (a doc lands in
    // the bin of its starting offset, so a bin can overshoot by at
    // most one document's tokens minus one)
    val capped = Scale.capPerKey(deduped, "source", col("doc_id"), n = 20)
    val packed = Packing.sequentialBins(capped, col("doc_id"),
      TextAnalysis.tokenCount(col("text")), budget = 512L)
    val binTotals = packed.groupBy(col("bin_id"))
      .agg(sum(col("pack_weight")).as("tok")).collect().map(_.getLong(1))
    val maxDoc = packed.agg(max(col("pack_weight"))).head().getLong(0)
    assert(binTotals.nonEmpty)
    assert(binTotals.forall(_ <= 512L + maxDoc - 1),
      "bins bounded by budget plus one straddling document")
    assert(binTotals.sum == packed.agg(sum(col("pack_weight"))).head().getLong(0))

    // corpus vocabulary off the final kept set
    val vocab = TextAnalysis.topTerms(capped, col("text"), k = 10).collect()
    assert(vocab.length == 10)
    assert(vocab.map(_.getLong(1)).toSeq == vocab.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("modern pretraining slice: near-dedup -> semantic dedup -> DSIR select -> BPE tokenize") {
    // the round-8 surface composed end to end on real sf0.001 data:
    // text-level near-dedup, then embedding-level SemDeDup over the
    // survivors' vectors, then DSIR selection toward the English
    // subset, then train-and-apply BPE on what remains — the
    // 2024-era pipeline tiers in execution order, every stage the
    // operator a 100 TB run would use
    import graft.operators.{Dedup, Dsir, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    val textDeduped = Dedup.nearDedupCorpus(docs, col("text"), col("doc_id"),
      minJaccard = 0.5)
    val n1 = textDeduped.count()
    assert(n1 > 0 && n1 < docs.count(), "text near-dedup must drop something here")

    // embeddings are keyed by vec_id = doc_id in the fixtures; only
    // survivors' vectors enter the semantic tier
    val survEmb = emb.join(textDeduped.select(col("doc_id").as("kid")),
      col("vec_id") === col("kid"), "left_semi")
    val semKept = Dedup.semanticDedup(survEmb, "vec_id", "embedding",
      k = 8, threshold = 0.35)
    val n2 = semKept.count()
    assert(n2 > 0 && n2 < n1, "semantic tier must find duplicates text hashing cannot")

    val corpus2 = textDeduped.join(semKept.select(col("vec_id").as("sid")),
      col("doc_id") === col("sid"), "left_semi")
    val selected = Dsir.resample(corpus2, col("doc_id"), col("text"),
      docs.filter(col("lang") === "en"), col("text"),
      keep = math.max(1, (n2 / 2).toInt), buckets = 256)
    val n3 = selected.count()
    assert(n3 == math.max(1, (n2 / 2).toInt), "DSIR keeps exactly the asked slice")
    // selection is toward the target: kept docs skew more English
    // than the pool they were drawn from
    def enFrac(df: org.apache.spark.sql.DataFrame): Double = {
      val n = df.count().toDouble
      df.filter(col("lang") === "en").count() / math.max(n, 1.0)
    }
    assert(enFrac(selected) >= enFrac(corpus2),
      s"DSIR must not select AWAY from the target: ${enFrac(selected)} vs ${enFrac(corpus2)}")

    // tokenizer: train on the final corpus, apply to the same corpus
    val merges = TextAnalysis.bpeTopMerges(selected, col("text"), rounds = 12)
    val toks = TextAnalysis.bpeEncode(selected, col("doc_id"), col("text"), merges)
    assert(toks.count() == n3)
    // BPE compresses: fewer tokens than characters, at least as many
    // as whitespace words
    val agg = toks.agg(sum(col("n_tokens"))).head().getLong(0)
    val chars = selected.agg(sum(length(TextAnalysis.normalize(col("text")))))
      .head().getLong(0)
    val words = selected.select(explode(split(TextAnalysis.normalize(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0).count()
    assert(agg < chars && agg >= words,
      s"token count $agg must sit between words $words and chars $chars")

    // LM-quality gate over the selected corpus (CCNet tier): drop the
    // rare-token tail, then fix the training order deterministically
    import graft.operators.Scale
    val lm = TextAnalysis.unigramLogLik(selected, col("doc_id"), col("text"))
    val cut = lm.agg(expr("percentile_approx(avg_logp, 0.1, 10000)")).head().getDouble(0)
    val kept = selected.join(
      lm.filter(col("avg_logp") >= cut).select(col("doc_id").as("qid")),
      col("doc_id") === col("qid"), "left_semi")
    val n4 = kept.count()
    assert(n4 > 0 && n4 <= n3, "LM gate keeps the prose, drops the tail")

    val ordered = Scale.deterministicShuffle(kept, col("doc_id"), shards = 4)
    assert(ordered.count() == n4, "shuffle is a bijection on the kept corpus")
    val again = Scale.deterministicShuffle(kept, col("doc_id"), shards = 4)
      .select("doc_id", "shard", "pos").collect().toSet
    assert(ordered.select("doc_id", "shard", "pos").collect().toSet == again,
      "training order reproducible run to run")
  }
}
