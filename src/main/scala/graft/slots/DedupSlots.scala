package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.SparkEntry.{t, tfan, scratchDir}
import MinHashSql.mhLanesCtes

/** Deduplication slots: exact, MinHash-LSH and SimHash near-dup,
  * verified and incremental pipelines, connected components, exact-
  * substring spans and semantic dedup.
  * `perfbench/suite_slots.tsv` tags this family `dedup`. */
object DedupSlots {

  def slots: Seq[Slot] = Seq(

    // M6 exact dedup by content hash
    Slot("q18_dedup_exact",
      "SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id FROM documents GROUP BY 1")((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.exact(d, col("text"), col("doc_id"))
    }),

    // M6 MinHash+LSH near-dup candidates — PORTABLE md5-hex lanes so
    // DuckDB mirrors the minima/banding term-for-term (the xxhash64
    // kernel path stays the library default; this query gates the
    // operator end to end against a real SQL oracle)
    Slot("q26_minhash_lsh",
      // Portable-minhash mirror (q26/q40/q86): one 32-bit md5-derived
      // base hash per shingle, k affine permutations mod a >2^32 prime —
      // the same constants Spark uses, so min/banding/equality match
      // term-for-term.  Lanes/bands CTEs are MATERIALIZED: DuckDB
      // re-inlines a CTE per reference, and the lane aggregate is the
      // expensive part.
      s"""$mhLanesCtes
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT p.id_a, p.id_b,
        |round(count(*) FILTER (WHERE la.mh = lb.mh) / 32.0, 6) AS est_jaccard
        |FROM pairs p JOIN lanes la ON la.doc_id = p.id_a
        |JOIN lanes lb ON lb.doc_id = p.id_b AND lb.lane = la.lane
        |GROUP BY p.id_a, p.id_b""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.minhashLsh(d, col("text"), col("doc_id"), portableHash = true)
    }),

    // M6 SimHash fingerprints (rows-only)
    // M6 SimHash fingerprints — PORTABLE 60-bit md5 variant so the
    // fingerprint VALUES themselves oracle-check (the 64-bit xxhash
    // kernel stays the library default)
    Slot("q27_simhash",
      // Portable-simhash fingerprint values (the q67 construction's fp
      // stage, surfaced directly)
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |tok AS (SELECT doc_id, tok FROM
        |(SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm)
        |WHERE length(tok) > 0),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
        |votes AS (SELECT doc_id, b,
        |sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |FROM th, (SELECT unnest(range(0, 60)) AS b) GROUP BY doc_id, b)
        |SELECT doc_id,
        |CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.simhash(d, col("text"), col("doc_id"), portableHash = true)
    }),

    // M6 verified dedup pipeline: LSH candidates -> estimate prune ->
    // exact n-gram Jaccard (rows-only).  The est_jaccard >= 0.5 prune is
    // the load-bearing scale step: banding at (b=8, r=4) has threshold
    // t = (1/b)^(1/r) ~= 0.59, so candidates far below it are collision
    // noise the full-signature estimate (free, already computed) rejects
    // without touching the texts — at sf0.1 this is 237k pairs -> 2.7k,
    // and only the survivors pay the exact shingle-set verification.
    Slot("q40_dedup_verified",
      // q26's pairs pruned at est >= 0.5, then EXACT distinct-shingle-set
      // jaccard (the hash never reaches the verify arithmetic)
      s"""$mhLanesCtes
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
        |est AS (SELECT p.id_a, p.id_b FROM cand p
        |JOIN lanes la ON la.doc_id = p.id_a
        |JOIN lanes lb ON lb.doc_id = p.id_b AND lb.lane = la.lane
        |GROUP BY p.id_a, p.id_b
        |HAVING count(*) FILTER (WHERE la.mh = lb.mh) / 32.0 >= 0.5),
        |sets AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
        |inter AS (SELECT e.id_a, e.id_b, count(*) AS ni FROM est e
        |JOIN sets sa ON sa.doc_id = e.id_a
        |JOIN sets sb ON sb.doc_id = e.id_b AND sb.s = sa.s
        |GROUP BY e.id_a, e.id_b)
        |SELECT e.id_a, e.id_b,
        |round(COALESCE(i.ni, 0) / greatest(za.n + zb.n - COALESCE(i.ni, 0), 1), 6) AS jaccard
        |FROM est e
        |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        |JOIN sz za ON za.doc_id = e.id_a
        |JOIN sz zb ON zb.doc_id = e.id_b""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.verifiedPairs(d, col("text"), col("doc_id"), minEst = 0.5,
          portableHash = true)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
    }),

    // M6 SimHash bit-band near-dup pairs (exact recall for hamming <=
    // bands-1 by pigeonhole) — PORTABLE 60-bit md5 fingerprints so the
    // per-bit votes, banding, and hamming verify all mirror in SQL
    Slot("q67_simhash_neardup",
      // Portable-simhash mirror (q67): 60-bit fingerprint from the first
      // 15 hex digits of md5(token); per-bit ±1 votes, vote > 0 → bit 1;
      // 4 bands of 15 bits; hamming verify <= 3
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |tok AS (SELECT doc_id, tok FROM
        |(SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm)
        |WHERE length(tok) > 0),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
        |votes AS (SELECT doc_id, b,
        |sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |FROM th, (SELECT unnest(range(0, 60)) AS b) GROUP BY doc_id, b),
        |fp AS MATERIALIZED (SELECT doc_id,
        |CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS f
        |FROM votes GROUP BY doc_id),
        |banded AS MATERIALIZED (SELECT doc_id, f,
        |(b * 32768 + ((f >> CAST(b * 15 AS INT)) & 32767)) AS band_key
        |FROM fp, (SELECT unnest(range(0, 4)) AS b))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
        |FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 3""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.simhashNearDup(d, col("text"), col("doc_id"), bands = 4, maxHamming = 3,
        portableHash = true)
    }),

    // M6 connected components over the exact cosine near-dup pair graph
    // (threshold 0.35 yields multi-hop clusters at sf0.01 — max
    // component 59 nodes, far beyond any single candidate pair, so the
    // transitive closure is genuinely exercised); component = min
    // reachable id, singleton nodes included as their own component
    Slot("q69_dedup_components",
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a, v b
        |WHERE a.vec_id < b.vec_id
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT vec_id AS node, vec_id AS reach FROM v
        |UNION
        |SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src)
        |SELECT node, min(reach) AS component FROM r GROUP BY node""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      val pairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.35)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(e.select(col("vec_id").as("nid")), "nid", pairs)
    }),

    // M6 end-to-end near-dup dedup: LSH candidates -> Jaccard verify ->
    // connected components -> keep min-id winner per cluster.  Rows-only
    // (MinHash needs xxhash64); snapshot-pinned at sf0.01.  Text column
    // dropped from the output so the fixture stays small.
    // flagship: PORTABLE candidate banding so the whole pipeline —
    // candidates → exact-jaccard verify → connected components →
    // min-id winners — mirrors in one recursive-CTE DuckDB oracle
    Slot("q70_neardup_corpus",
      // The flagship end-to-end near-dedup, mirrored whole: portable
      // banding -> exact jaccard >= 0.5 -> recursive-CTE reachability
      // (the q77 oracle pattern) -> keep docs that are their component's
      // minimum.  WITH RECURSIVE heads the shared CTE prefix.
      s"""${mhLanesCtes.replaceFirst("WITH norm", "WITH RECURSIVE norm")}
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
        |sets AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS ni FROM cand c
        |JOIN sets sa ON sa.doc_id = c.id_a
        |JOIN sets sb ON sb.doc_id = c.id_b AND sb.s = sa.s
        |GROUP BY c.id_a, c.id_b),
        |ver AS MATERIALIZED (SELECT c.id_a, c.id_b FROM cand c
        |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        |JOIN sz za ON za.doc_id = c.id_a
        |JOIN sz zb ON zb.doc_id = c.id_b
        |WHERE round(COALESCE(i.ni, 0) / greatest(za.n + zb.n - COALESCE(i.ni, 0), 1), 6) >= 0.5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM ver
        |UNION SELECT id_b, id_a FROM ver),
        |r AS (SELECT src AS node, src AS reach FROM e
        |UNION SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
        |losers AS (SELECT node FROM r GROUP BY node HAVING min(reach) < node)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT node FROM losers)""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.nearDedupCorpus(d, col("text"), col("doc_id"), minJaccard = 0.5,
          portableHash = true)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // M6 duplicate-cluster size distribution over the q69 component
    // graph: how many clusters of each size the near-dup graph contains
    Slot("q77_cluster_sizes",
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
        |sz AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
        |SELECT sz AS cluster_size, count(*) AS n_clusters FROM sz GROUP BY sz""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      val pairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.35)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(e.select(col("vec_id").as("nid")), "nid", pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // M6 exact-substring dedup signal: 60-char normalized windows
    // repeated across >= 2 distinct documents (one explode into one
    // hash aggregate on the span md5)
    Slot("q79_repeated_spans",
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 58)) AS p
        |FROM norm WHERE length(t) >= 60),
        |spans AS (SELECT doc_id, md5(substr(t, p, 60)) AS h FROM pos)
        |SELECT h AS span_hash, count(DISTINCT doc_id) AS n_docs,
        |count(*) AS n_occurrences, min(doc_id) AS first_doc
        |FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.repeatedSpans(d, col("text"), col("doc_id"), width = 60, minDocs = 2,
        portableHash = true)
    }),

    // M6 corpus snapshot diff (dataset versioning): synthesize a new
    // generation (removals, text revisions, additions) and classify
    // every doc by fingerprint — added/removed/changed/unchanged
    Slot("q80_corpus_diff", {
      // the q21 fingerprint contract incl. the raw-text fallback for
      // empty-normalizing documents
      val norm = "trim(regexp_replace(regexp_replace(lower(text)," +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      val fp = s"md5(CASE WHEN length($norm) > 0 THEN $norm " +
        "ELSE chr(0) || 'raw' || chr(0) || text END)"
      s"""WITH newg AS (
         |SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' revised' ELSE text END AS text
         |FROM documents WHERE doc_id % 17 <> 0
         |UNION ALL
         |SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 19 = 0),
         |ofp AS (SELECT doc_id, $fp AS fp, TRUE AS in_old FROM documents),
         |nfp AS (SELECT doc_id, $fp AS fp, TRUE AS in_new FROM newg)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |CASE WHEN o.in_old IS NULL THEN 'added' WHEN n.in_new IS NULL THEN 'removed'
         |WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged' ELSE 'changed' END AS status
         |FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id""".stripMargin.replace("\n", " ")
    })((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val newGen = d.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.corpusDiff(d, newGen, col("doc_id"), col("text"))
    }),

    // M6 INCREMENTAL near-dup: a daily batch (doc_id % 10 == 0) LSH-joins
    // a precomputed band index of the full corpus — the historical text
    // is never re-read.  Self-matches filtered (batch ⊂ corpus).
    // PORTABLE md5 band keys → full DuckDB oracle.
    Slot("q86_minhash_index",
      // q26's machinery against a precomputed index side: batch = doc_id
      // % 10 = 0, pairs keep BOTH orders minus self-matches
      s"""$mhLanesCtes
        |pairs AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id
        |FROM bands a JOIN bands b ON a.bk = b.bk
        |WHERE a.doc_id % 10 = 0 AND a.doc_id <> b.doc_id)
        |SELECT p.batch_id, p.index_id,
        |round(count(*) FILTER (WHERE la.mh = lb.mh) / 32.0, 6) AS est_jaccard
        |FROM pairs p JOIN lanes la ON la.doc_id = p.batch_id
        |JOIN lanes lb ON lb.doc_id = p.index_id AND lb.lane = la.lane
        |GROUP BY p.batch_id, p.index_id""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val idx = Dedup.minhashBandIndex(d, col("text"), col("doc_id"), portableHash = true)
      Dedup.minhashLshAgainstIndex(
          d.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"), idx,
          portableHash = true)
        .filter(col("batch_id") =!= col("index_id"))
    }),

    // M6 exact-substring dedup ACTION (Lee et al. removal policy): cut
    // cross-document repeated 60-char spans from every non-first doc.
    // Oracle-checkable: the OUTPUT carries no hash (lengths + counts
    // only), so DuckDB mirrors the span grouping on the raw span TEXT
    // while Spark groups on xxhash64 — identical absent a 64-bit
    // collision (bound D²/2⁶⁵, negligible at any test scale).  The
    // cleaned text reduces to its length to keep outputs small.
    Slot("q88_span_removal",
      // span grouping on the raw span TEXT (Spark groups on xxhash64 —
      // equal absent collisions); covered length of the union of sorted
      // equal-width cut windows = per-position min(60, next - pos).
      // `spans`/`norm` are referenced twice -> MATERIALIZED (DuckDB
      // re-inlines CTEs by default; the window explode is the expensive
      // part and must run once).
      """WITH norm AS MATERIALIZED (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 58)) AS p
        |FROM norm WHERE length(t) >= 60),
        |spans AS MATERIALIZED (SELECT doc_id, CAST(p AS BIGINT) AS p, substr(t, p, 60) AS s
        |FROM pos),
        |ev AS (SELECT s, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
        |FROM spans GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |cutpos AS (SELECT sp.doc_id, sp.p FROM spans sp JOIN ev e ON sp.s = e.s
        |WHERE sp.doc_id <> e.first_doc),
        |cov AS (SELECT doc_id, least(60,
        |coalesce(lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p, 60)) AS c
        |FROM cutpos),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS covered,
        |CAST(count(*) AS BIGINT) AS n_cut FROM cov GROUP BY doc_id)
        |SELECT n.doc_id, CAST(length(n.t) - coalesce(a.covered, 0) AS BIGINT) AS n_chars_clean,
        |coalesce(a.n_cut, 0) AS n_spans_cut
        |FROM norm n LEFT JOIN agg a ON n.doc_id = a.doc_id""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.removeRepeatedSpans(d, col("text"), col("doc_id"), width = 60, minDocs = 2)
        .select(col("doc_id"), length(col("text_clean")).cast(LongType).as("n_chars_clean"),
          col("n_spans_cut"))
    }),

    // M6 SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    // k-means cells bound the pairwise search, within-cell cosine >=
    // 0.35 pairs -> connected components -> min-id representative.
    // Same k/iters geometry as q72, so the oracle reuses its unrolled
    // two-round Lloyd chain.
    Slot("q96_semantic_dedup",
      // SemDeDup mirror: q72's unrolled two-round Lloyd chain -> final
      // centroids (round-2 means, empty cells keep round-1) -> argmin
      // cells -> within-cell cosine pairs -> recursive-CTE components ->
      // keep ids that reach nothing smaller
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |WHERE embedding IS NOT NULL),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM v
        |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c0),
        |s1 AS (SELECT cid, i, avg(x) AS m FROM
        |(SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM a1 WHERE rn = 1)
        |GROUP BY cid, i),
        |c1m AS (SELECT cid, list(m ORDER BY i) AS cv FROM s1 GROUP BY cid),
        |c1 AS (SELECT cid, cv FROM c1m UNION ALL
        |SELECT cid, cv FROM c0 WHERE cid NOT IN (SELECT cid FROM c1m)),
        |a2 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c1),
        |s2 AS (SELECT cid, i, avg(x) AS m FROM
        |(SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM a2 WHERE rn = 1)
        |GROUP BY cid, i),
        |c2m AS (SELECT cid, list(m ORDER BY i) AS cv FROM s2 GROUP BY cid),
        |c2 AS (SELECT cid, cv FROM c2m UNION ALL
        |SELECT cid, cv FROM c1 WHERE cid NOT IN (SELECT cid FROM c2m)),
        |a3 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c2),
        |cells AS MATERIALIZED (SELECT vec_id, v, cid FROM a3 WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM cells a
        |JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |WHERE isfinite(round(list_cosine_similarity(a.v, b.v), 6))
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT src AS node, src AS reach FROM e
        |UNION SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
        |losers AS (SELECT node FROM r GROUP BY node HAVING min(reach) < node)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT node FROM losers)""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Dedup.semanticDedup(e, "vec_id", "embedding", k = 8, threshold = 0.35)
        .select(col("vec_id"))
    }),

    // §2.12 incremental semantic dedup (the embedding member of the
    // store-once/merge-later family, next to q86 minhash bands and
    // q122 span evidence): even vec_ids play the standing KEPT store,
    // odd ids the arriving batch, cells FROZEN at 8 literal one-hot
    // centroids — the exact literals the oracle carries, so the
    // DuckDB mirror replays the identical argmin assignment, pair
    // set (store×store excluded), components, and verdicts (any
    // store member kills the whole component; min batch id wins the
    // batch-only ones).  vec_id < 800 covers the whole sf0.01 gate
    // corpus and keeps the bench slot flat at scale.
    Slot("q127_semdedup_incr", {
      // q127: the full incremental flow replayed in SQL — the same 8
      // one-hot centroid literals (built by the same Scala expression),
      // the same argmin tie rule (distance then cid, mirroring
      // nearestCell), pairs with the store×store quadrant excluded,
      // recursive-CTE reachability for components, and the
      // store-contaminates / min-batch-wins verdicts
      val centLits = (0 until 8).map(j =>
        s"($j, [${(0 until 64).map(d => if (d == 8 * j) "1.0" else "0.0").mkString(", ")}]::DOUBLE[])")
        .mkString(", ")
      s"""WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |WHERE embedding IS NOT NULL AND vec_id < 800),
         |cents(cid, cv) AS (VALUES $centLits),
         |a AS (SELECT vec_id, v, cid,
         |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
         |FROM v CROSS JOIN cents),
         |cells AS MATERIALIZED (SELECT vec_id, v, cid FROM a WHERE rn = 1),
         |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM cells x
         |JOIN cells y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |WHERE NOT (x.vec_id % 2 = 0 AND y.vec_id % 2 = 0)
         |AND isfinite(round(list_cosine_similarity(x.v, y.v), 6))
         |AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.30),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |r AS (SELECT src AS node, src AS reach FROM e
         |UNION SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
         |lab AS (SELECT node, min(reach) AS comp FROM r GROUP BY node),
         |allv AS (SELECT vec_id AS node FROM v),
         |lab2 AS (SELECT node, coalesce(comp, node) AS comp FROM allv LEFT JOIN lab USING (node)),
         |st AS (SELECT comp, max(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS has_store,
         |min(CASE WHEN node % 2 = 1 THEN node END) AS min_batch FROM lab2 GROUP BY comp)
         |SELECT node AS vec_id FROM lab2 JOIN st USING (comp)
         |WHERE node % 2 = 1 AND has_store = 0 AND node = min_batch
         |UNION ALL SELECT vec_id FROM embeddings
         |WHERE embedding IS NULL AND vec_id % 2 = 1 AND vec_id < 800""".stripMargin.replace("\n", " ")
    })((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings").df.filter(col("vec_id") < 800)
      val store = e.filter(col("vec_id") % 2 === 0)
      val batch = e.filter(col("vec_id") % 2 === 1)
      val cents = (0 until 8)
        .map(j => (j.toLong, Seq.tabulate(64)(d => if (d == 8 * j) 1.0 else 0.0)))
        .toDF("vec_id", "embedding")
      operators.Dedup.semanticDedupIncremental(
          store, batch, cents, "vec_id", "embedding", threshold = 0.30)
        .select(col("vec_id"))
    }),

    // M6 incremental exact-substring accounting (the span member of
    // the store-once/merge-later family, alongside q86 minhash bands
    // and q118/q119/q120 sketches): the corpus arrives as three
    // doc-disjoint ingest batches, each scanned ONCE into a stored
    // span-evidence parquet; the global repeated-span report is then
    // computed from the stored evidence alone.  A span unique within
    // every single batch but present in two of them is only
    // discoverable at the merge — the case a per-batch minDocs filter
    // would silently lose, and exactly what the oracle (q79's
    // whole-corpus SQL) verifies.
    Slot("q122_span_accounting",
      // span-accounting mirror: q79's whole-corpus repeated-span SQL —
      // the three-batch evidence store + merge must be invisible
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents WHERE doc_id < 2500),
        |pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 58)) AS p
        |FROM norm WHERE length(t) >= 60),
        |spans AS (SELECT doc_id, md5(substr(t, p, 60)) AS h FROM pos)
        |SELECT h AS span_hash, count(DISTINCT doc_id) AS n_docs,
        |count(*) AS n_occurrences, min(doc_id) AS first_doc
        |FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replace("\n", " "))((s, dir) => {
      // doc_id < 2500 slice (the q34b/q34c precedent): covers the
      // whole sf0.01 gate corpus while keeping the bench slot's
      // three-batch store+merge under the suite-tail budget at sf0.1
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 2500)
      // the store-once/merge-later family DOGFOODS the store it
      // recommends: each ingest batch lands as a ManifestStore
      // commitAppend (write-ahead data + atomic manifest publish,
      // schema gated at the commit), and the merge reads the LATEST
      // SNAPSHOT — never a raw directory listing that could observe a
      // torn write.  A fresh per-invocation root keeps the slot
      // idempotent when Bench re-runs it in one JVM (appends to a
      // shared root would compound evidence across runs).
      // reclaim prior invocations' stores first (their readers are
      // done — Bench/Verify collect a slot's result before the next
      // invocation starts), so repeated runs in one JVM hold ONE store
      // on disk, not one per run
      val evBase = new java.io.File(scratchDir("q122_evidence"))
      Option(evBase.listFiles).foreach(_.filter(_.getName.startsWith("store_"))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly))
      val root = s"$evBase/store_" +
        java.util.UUID.randomUUID().toString.take(8)
      // the three ingests are independent (doc-disjoint batches into
      // one root): STAGE them concurrently — guide §2.6, each batch's
      // evidence-aggregation job back-fills cores the previous one's
      // stragglers free — then PUBLISH serially (manifest renames,
      // milliseconds).  Wall ≈ max of the three scans, not their sum;
      // same three write jobs, same committed rows (the batch tag is
      // an explicit literal, so commit order is invisible to the
      // merge).
      sources.ManifestStore.stageAndCommit(s, root, (0 until 3).map { b =>
        s"batch$b" -> (() => operators.Dedup.spanEvidenceBatch(
            d.filter(pmod(col("doc_id"), lit(3)) === b),
            col("text"), col("doc_id"), width = 60)
          .withColumn("batch", lit(b)))
      })
      operators.Dedup.mergeSpanEvidence(
        sources.ManifestStore.read(s, root), minDocs = 2)
    }),
  )
}
