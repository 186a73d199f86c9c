package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Similarity
import graft.SparkEntry.{t, tfan}

/** Sampling and data-mixing slots: hash splits, stratified and weighted
  * samples, per-key caps, shuffles, mixing weights, leakage-safe splits
  * and curricula. */
object SamplingSlots {

  def slots: Seq[Slot] = Seq(

    // M6 deterministic stratified sampling: downsample dominant 'en' to
    // 300 permille, 'de' to 500, keep tail languages whole — a pure
    // filter with the stable md5-bucket contract (no RNG)
    Slot("q73_stratified_sample",
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000 <
        |CASE WHEN lang = 'en' THEN 300 WHEN lang = 'de' THEN 500 ELSE 1000 END""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.sampleStratified(d, col("doc_id"), col("lang"),
          Map("en" -> 300, "de" -> 500))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // M6 per-domain cap (corpus-bias control: at most 15 docs per
    // source, deterministic md5-order pick, bounded below the shuffle
    // by the custom TopKPerKey operator)
    Slot("q76_cap_per_key",
      """WITH r AS (SELECT doc_id, source, lang,
        |row_number() OVER (PARTITION BY source
        |ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT, doc_id) AS rn
        |FROM documents)
        |SELECT doc_id, source, lang FROM r WHERE rn <= 15""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.capPerKey(d, "source", col("doc_id"), n = 15)
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // M6 quality-weighted deterministic sampling: keep probability
    // proportional to doc length (capped at 1) — no RNG, stable rows
    Slot("q81_weighted_sample",
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000 AS DOUBLE)
        |< greatest(0.0, least(1.0, CAST(n_chars AS DOUBLE) / 400.0)) * 1000.0""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.sampleByWeight(d, col("doc_id"),
          least(lit(1.0), col("n_chars").cast(DoubleType) / 400.0))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // M6 temperature-based data-mixing weights: source s gets
    // n_s^alpha / sum_t n_t^alpha (alpha = 0.5 — the multilingual
    // flattening temperature); one count agg + a broadcast total
    Slot("q83_mix_weights",
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (SELECT sum(power(CAST(n_docs AS DOUBLE), 0.5)) AS ptot FROM c)
        |SELECT source, n_docs,
        |round(power(CAST(n_docs AS DOUBLE), 0.5) / ptot, 6) AS weight
        |FROM c, t""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.mixtureWeights(d, col("source"), alpha = 0.5)
    }),

    // M6 deterministic training-order shuffle: md5-keyed shard + rank —
    // reproducible global randomization with one hash exchange, no RNG,
    // no global sort
    Slot("q99_corpus_shuffle",
      // shuffle mirror: the shared md5-prefix key (12 hex chars), shard =
      // key mod 64, rank within shard by (key, doc_id)
      """WITH k AS (SELECT doc_id,
        |('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hk FROM documents)
        |SELECT doc_id, hk % 64 AS shard,
        |CAST(row_number() OVER (PARTITION BY hk % 64 ORDER BY hk, doc_id) AS BIGINT) AS pos
        |FROM k""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.Scale.deterministicShuffle(d, col("doc_id"), shards = 64)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Curriculum ordering: quality-descending shards from exact rank
    // fences (shard 0 = top scores), md5-tiebroken rank within shard —
    // the deterministic easy->hard read order.
    Slot("q113_curriculum",
      // curriculum mirror: same exact-rank fences (smallest value whose
      // cumulative count reaches ceil(s*n/shards)), same md5 tiebreak
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v, count(*) AS k FROM documents GROUP BY 1),
        |cc AS (SELECT v, sum(k) OVER (ORDER BY v) AS cum FROM c),
        |f AS (SELECT s.s AS s,
        |(SELECT min(v) FROM cc WHERE cum >= (SELECT ceil(s.s * n / 8.0) FROM nn)) AS fence
        |FROM (SELECT unnest(range(1, 8)) AS s) s),
        |b AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v,
        |7 - (SELECT count(*) FROM f WHERE f.fence < CAST(d.n_chars AS DOUBLE)) AS shard
        |FROM documents d)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |CAST(row_number() OVER (PARTITION BY shard ORDER BY v DESC,
        |('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT, doc_id) AS BIGINT) AS pos
        |FROM b""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.Scale.curriculumOrder(d, col("doc_id"), col("n_chars"), shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Budget-aware temperature mixing, MATERIALIZED: per-source token
    // mass ^ alpha -> budget share -> deterministic md5 keep filter
    // (q83 computes the weights; this actually selects the corpus).
    // fan-out REVERTED (r22, verdict #1/#3): kept in r21 without a
    // substantiating number; the isolated alternating A/B (ABProbe,
    // 8 rounds) reads med 1.04 s WITH the exchange vs 0.51 s without —
    // the 32-way exchange costs ~2× the single-task work it spreads
    Slot("q112_budget_mix",
      // budget-mix mirror: identical mass^alpha share, rounded keep
      // probability, and the shared md5-permille membership contract
      """WITH s AS (SELECT source, sum(CAST(n_chars AS DOUBLE)) AS tok
        |FROM documents GROUP BY source),
        |w AS (SELECT source, pow(tok, 0.5) AS p, tok FROM s),
        |t AS (SELECT sum(p) AS ptot FROM w),
        |k AS (SELECT source, round(least(1.0, 2000000.0 * (p / ptot) / tok), 6) AS keep
        |FROM w, t),
        |f AS (SELECT d.source AS source, d.n_chars FROM documents d
        |JOIN k ON d.source = k.source
        |WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000)::DOUBLE
        |< keep * 1000.0)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM f GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.Scale.mixSample(d, col("doc_id"), col("source"), col("n_chars"),
          alpha = 0.5, budgetTokens = 2000000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // Leakage-safe split: the split key is the near-dup CLUSTER id
    // (connected component), not the document id — no cluster ever
    // straddles train/val/test, so an eval row can't have a
    // near-duplicate in train.  Same pair graph as q69; the oracle
    // extends that recursive-CTE CC with the shared md5-bucket fences.
    Slot("q108_leakage_split",
      // leakage-split mirror: q69's recursive-CTE components + the
      // shared md5-bucket fences applied to the COMPONENT id
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a, v b
        |WHERE a.vec_id < b.vec_id
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT vec_id AS node, vec_id AS reach FROM v
        |UNION
        |SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
        |comp AS (SELECT node, min(reach) AS component FROM r GROUP BY node),
        |b AS (SELECT node,
        |('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |FROM comp)
        |SELECT node AS vec_id,
        |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |ELSE 'test' END AS split FROM b""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      val pairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.35)
        .select(col("id_a"), col("id_b"))
      operators.Scale.leakageSafeSplit(e.select(col("vec_id")), "vec_id", pairs)
    }),

    // M6 deterministic hash split (train/val/test by md5 of the doc id —
    // stable under corpus growth, no RNG)
    Slot("q63_hash_split",
      """WITH b AS (SELECT n_chars,
        |('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |ELSE 'test' END AS split,
        |count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val bucket = graft.functions.WindowHash.md5Prefix(
        col("doc_id").cast(StringType), 6) % 100
      d.withColumn("split",
          when(bucket < 80, lit("train")).when(bucket < 90, lit("val")).otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),
  )
}
