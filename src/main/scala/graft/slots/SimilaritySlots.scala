package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity}
import graft.SparkEntry.{t, tfan}

/** Vector-similarity slots: brute-force and LSH ANN, embedding near-dup
  * pairs, IVF and product quantization, k-means, mean pooling and kNN
  * graphs.
  * `perfbench/suite_slots.tsv` tags this family `similarity`. */
object SimilaritySlots {

  /** Unrolled left-to-right dot of the embedding list `e` against a
    * literal hyperplane — the exact fold VectorSim.dot runs, term for
    * term, so every sign bit (and with it every LSH bucket) matches
    * the Spark plan bit-for-bit.  Double.toString round-trips, so the
    * SQL literal parses back to the identical IEEE value. */
  private def dotSql(plane: Seq[Double]): String =
    plane.zipWithIndex.map { case (w, i) => s"e[${i + 1}]*($w)" }.mkString(" + ")

  /** The packed sign-bit signature of one seeded hyperplane table, as
    * a SQL expression over `e` (mirrors Similarity.lshSignature). */
  private def sigSql(planes: Int, dim: Int, seed: Int): String =
    graft.operators.Similarity.planeVecs(planes, dim, seed).zipWithIndex.map {
      case (pv, p) => s"(CASE WHEN ${dotSql(pv)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  def slots: Seq[Slot] = Seq(

    // M6 brute-force cosine top-k (ANN correctness baseline)
    Slot("q23_ann_cosine",
      """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |list_cosine_similarity(c.v, p.v) AS cs,
        |row_number() OVER (PARTITION BY p.vec_id ORDER BY list_cosine_similarity(c.v, p.v) DESC, c.vec_id) AS rank
        |FROM p, c WHERE p.vec_id <> c.vec_id)
        |SELECT probe_id, corpus_id, round(cs, 6) AS cos_sim, rank FROM s WHERE rank <= 5""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = t(s, dir, "embeddings").df
      val probes = e.filter(col("vec_id") < 20)
      Similarity.bruteForceTopK(e, probes, "vec_id", "embedding", 5)
        .withColumn("rank", col("rank").cast(LongType))
    }),

    // M6 LSH-bucketed ANN, the 100 TB scale path (rows-only)
    Slot("q28_ann_lsh",
      // Hyperplane-LSH mirrors (q28/q49): the planes are fixed seeded
      // literals on the Spark side, so the oracle embeds the SAME
      // doubles and reproduces every bucket exactly — no portable
      // variant needed, the signature never reaches the output
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (SELECT vec_id, e, ${sigSql(6, 64, 42)} AS sig FROM v),
        |scored AS (SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
        |round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
        |FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
        |r AS (SELECT probe_id, corpus_id, cos_sim,
        |row_number() OVER (PARTITION BY probe_id
        |ORDER BY cos_sim DESC, corpus_id) AS rank FROM scored)
        |SELECT probe_id, corpus_id, cos_sim, rank FROM r WHERE rank <= 5""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Similarity.lshTopK(e, "vec_id", "embedding", 5, planes = 6)
    }),

    // M6 IVF coarse quantization: nearest-centroid assignment
    Slot("q47_ann_ivf",
      """WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
        |FROM embeddings WHERE vec_id < 16),
        |s AS (SELECT e.vec_id AS vid, c.centroid_id,
        |list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist,
        |row_number() OVER (PARTITION BY e.vec_id
        |ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.centroid_id) AS rn
        |FROM embeddings e, c)
        |SELECT vid, centroid_id, round(dist, 6) AS dist FROM s WHERE rn = 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = t(s, dir, "embeddings").df
      val cents = e.filter(col("vec_id") < 16)
      Similarity.ivfAssign(e, cents, "vec_id", "embedding")
    }),

    // M6 embedding-cosine near-dup candidate pairs (LSH path; rows-only)
    Slot("q49_embedding_neardup",
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings WHERE embedding IS NOT NULL),
        |s0 AS (SELECT vec_id, e, ${sigSql(5, 64, 42)} AS sig FROM v),
        |s1 AS (SELECT vec_id, e, ${sigSql(5, 64, 43)} AS sig FROM v),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
        |FROM s0 a JOIN s0 b ON a.sig = b.sig AND a.vec_id < b.vec_id
        |UNION SELECT a.vec_id, b.vec_id,
        |round(list_cosine_similarity(a.e, b.e), 6)
        |FROM s1 a JOIN s1 b ON a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos_sim FROM p
        |WHERE cos_sim >= 0.2 AND isfinite(cos_sim)""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df
      Dedup.embeddingNearDup(e, "vec_id", "embedding", threshold = 0.2, planes = 5)
    }),

    // M6 exact near-dup pairs: the brute-force oracle twin of the
    // LSH-bucketed q49 (same semantics, O(n²) — verification scale only)
    Slot("q58_neardup_exact",
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a, v b WHERE a.vec_id < b.vec_id
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.2""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.2)
    }),

    // M6 k-means centroid training (Lloyd's, 2 rounds, deterministic
    // md5-order init, lowest-cid argmin tiebreak) — trains the IVF
    // coarse quantizer; output unpivoted to (centroid_id, dim, coord)
    Slot("q72_kmeans",
      // mirrors kmeansFit's empty-cell contract too: a centroid that
      // loses every member keeps its previous position (c1's UNION ALL
      // fallback) and reports n_members = 0 (the `kept` branch)
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
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
        |s2 AS (SELECT cid, i, avg(x) AS m, count(*) AS n FROM
        |(SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM a2 WHERE rn = 1)
        |GROUP BY cid, i),
        |out2 AS (SELECT cid AS centroid_id, i AS dim, round(m, 6) AS coord, n AS n_members FROM s2),
        |kept AS (SELECT cid AS centroid_id, i AS dim, round(x, 6) AS coord,
        |CAST(0 AS BIGINT) AS n_members
        |FROM (SELECT cid, unnest(cv) AS x, unnest(range(len(cv))) AS i FROM c1
        |WHERE cid NOT IN (SELECT DISTINCT cid FROM s2)))
        |SELECT * FROM out2 UNION ALL SELECT * FROM kept""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Similarity.kmeansFit(e, "vec_id", "embedding", k = 8, iters = 2)
        .select(col("centroid_id"), col("n_members"), posexplode(col("centroid")))
        .select(col("centroid_id"), col("pos").cast(LongType).as("dim"),
          round(col("col"), 6).as("coord"), col("n_members"))
    }),

    // M6 embedding mean-pooling per label (chunk->document pooling
    // shape); unpivoted for the oracle like q72
    Slot("q75_mean_pool",
      """SELECT CAST(label AS BIGINT) AS group_id, i AS dim, round(avg(x), 6) AS coord,
        |count(*) AS n_members FROM
        |(SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |unnest(range(len(embedding))) AS i FROM embeddings WHERE embedding IS NOT NULL)
        |GROUP BY label, i""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Similarity.meanPool(e, col("label"), col("embedding"))
        .select(col("group_id"), col("n_members"), posexplode(col("vec")))
        .select(col("group_id").cast(LongType).as("group_id"),
          col("pos").cast(LongType).as("dim"),
          round(col("col"), 6).as("coord"), col("n_members"))
    }),

    // M6 product-quantization encode (m=4 subspaces, k=8 seed
    // codewords): the vector-compression companion to q47's IVF —
    // assignment is a pure projection over literal codewords
    Slot("q87_pq_encode",
      // mirrors pqEncode: same md5-order seed draw as q72, list slicing
      // per subspace, l2 argmin with the lowest-cid tiebreak
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |WHERE embedding IS NOT NULL),
        |seeds AS (SELECT vec_id AS cid, v AS cv FROM v
        |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
        |subs AS (SELECT unnest(range(4)) AS sub),
        |pairs AS (SELECT t.vec_id, s.sub, c.cid,
        |list_distance(t.v[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)],
        |c.cv[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)]) AS d
        |FROM v t CROSS JOIN subs s CROSS JOIN seeds c),
        |r AS (SELECT vec_id, sub, cid, d,
        |row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn FROM pairs)
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub_id, cid AS code_cid,
        |round(d, 6) AS dist FROM r WHERE rn = 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df
      Similarity.pqEncode(e, "vec_id", "embedding", m = 4, k = 8)
    }),

    // M6 PQ ADC top-k search (probes = 3 corpus vectors): per-probe
    // lookup tables over the q87 codebook, corpus scored by summing m
    // table entries — no vector math in the corpus scan
    Slot("q89_pq_adc_topk", {
      // mirrors pqTopK term-for-term: the q87 code assignment, per-probe
      // LUT d² = pow(list_distance, 2) (sqrt-then-square, exactly the
      // Spark side's arithmetic), and the FIXED fold ((d²0+d²1)+d²2)+d²3
      // — a grouped SUM would sum in engine order and could flip
      // equal-code ties by an ulp
      val sl = (a: String) =>
        s"$a[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |WHERE embedding IS NOT NULL),
         |seeds AS (SELECT vec_id AS cid, v AS cv FROM v
         |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
         |subs AS (SELECT unnest(range(4)) AS sub),
         |asg AS MATERIALIZED (SELECT vec_id, sub, cid AS code FROM (
         |SELECT t.vec_id, s.sub, c.cid,
         |row_number() OVER (PARTITION BY t.vec_id, s.sub
         |ORDER BY list_distance(${sl("t.v")}, ${sl("c.cv")}), c.cid) AS rn
         |FROM v t CROSS JOIN subs s CROSS JOIN seeds c) WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM v WHERE vec_id < 3),
         |lut AS MATERIALIZED (SELECT p.probe_id, s.sub, c.cid,
         |pow(list_distance(${sl("p.pv")}, ${sl("c.cv")}), 2) AS d2
         |FROM probes p CROSS JOIN subs s CROSS JOIN seeds c),
         |a0 AS (SELECT vec_id, code FROM asg WHERE sub = 0),
         |a1 AS (SELECT vec_id, code FROM asg WHERE sub = 1),
         |a2 AS (SELECT vec_id, code FROM asg WHERE sub = 2),
         |a3 AS (SELECT vec_id, code FROM asg WHERE sub = 3),
         |scored AS (SELECT l0.probe_id, a0.vec_id AS corpus_id,
         |((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS adc2
         |FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |JOIN lut l0 ON l0.sub = 0 AND l0.cid = a0.code
         |JOIN lut l1 ON l1.sub = 1 AND l1.cid = a1.code AND l1.probe_id = l0.probe_id
         |JOIN lut l2 ON l2.sub = 2 AND l2.cid = a2.code AND l2.probe_id = l0.probe_id
         |JOIN lut l3 ON l3.sub = 3 AND l3.cid = a3.code AND l3.probe_id = l0.probe_id
         |WHERE a0.vec_id <> l0.probe_id),
         |r AS (SELECT probe_id, corpus_id, adc2,
         |row_number() OVER (PARTITION BY probe_id ORDER BY adc2, corpus_id) AS rank
         |FROM scored)
         |SELECT probe_id, corpus_id, round(sqrt(adc2), 6) AS adc_dist,
         |CAST(rank AS INT) AS rank FROM r WHERE rank <= 5""".stripMargin.replace("\n", " ")
    })((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Similarity.pqTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
        m = 4, k = 8, topK = 5)
    }),

    // M6 composed IVF+PQ search (the billion-scale recipe): coarse
    // cells from 4 md5-order sampled centroids, nprobe=2, ADC scoring
    // over the q87 codebook — corpus scanned once for cells + codes
    Slot("q91_ivfpq_topk", {
      // q89's fixed-fold ADC restricted to nprobe=2 coarse cells from 4
      // md5-order sampled centroids (full-vector argmin assignment,
      // centroid-id tiebreaks — mirrors ivfPqTopK)
      val sl = (a: String) =>
        s"$a[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |WHERE embedding IS NOT NULL),
         |seeds AS (SELECT vec_id AS cid, v AS cv FROM v
         |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
         |cents AS (SELECT vec_id AS centroid_id, v AS cent FROM v
         |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 4),
         |subs AS (SELECT unnest(range(4)) AS sub),
         |ccells AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
         |SELECT t.vec_id, c.centroid_id,
         |row_number() OVER (PARTITION BY t.vec_id
         |ORDER BY list_distance(t.v, c.cent), c.centroid_id) AS rn
         |FROM v t CROSS JOIN cents c) WHERE rn = 1),
         |pcells AS MATERIALIZED (SELECT probe_id, centroid_id FROM (
         |SELECT p.vec_id AS probe_id, c.centroid_id,
         |row_number() OVER (PARTITION BY p.vec_id
         |ORDER BY list_distance(p.v, c.cent), c.centroid_id) AS rn
         |FROM v p CROSS JOIN cents c WHERE p.vec_id < 3) WHERE rn <= 2),
         |asg AS MATERIALIZED (SELECT vec_id, sub, cid AS code FROM (
         |SELECT t.vec_id, s.sub, c.cid,
         |row_number() OVER (PARTITION BY t.vec_id, s.sub
         |ORDER BY list_distance(${sl("t.v")}, ${sl("c.cv")}), c.cid) AS rn
         |FROM v t CROSS JOIN subs s CROSS JOIN seeds c) WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM v WHERE vec_id < 3),
         |lut AS MATERIALIZED (SELECT p.probe_id, s.sub, c.cid,
         |pow(list_distance(${sl("p.pv")}, ${sl("c.cv")}), 2) AS d2
         |FROM probes p CROSS JOIN subs s CROSS JOIN seeds c),
         |a0 AS (SELECT vec_id, code FROM asg WHERE sub = 0),
         |a1 AS (SELECT vec_id, code FROM asg WHERE sub = 1),
         |a2 AS (SELECT vec_id, code FROM asg WHERE sub = 2),
         |a3 AS (SELECT vec_id, code FROM asg WHERE sub = 3),
         |scored AS (SELECT l0.probe_id, a0.vec_id AS corpus_id,
         |((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS adc2
         |FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |JOIN ccells cc USING (vec_id)
         |JOIN lut l0 ON l0.sub = 0 AND l0.cid = a0.code
         |JOIN pcells pc ON pc.centroid_id = cc.centroid_id AND pc.probe_id = l0.probe_id
         |JOIN lut l1 ON l1.sub = 1 AND l1.cid = a1.code AND l1.probe_id = l0.probe_id
         |JOIN lut l2 ON l2.sub = 2 AND l2.cid = a2.code AND l2.probe_id = l0.probe_id
         |JOIN lut l3 ON l3.sub = 3 AND l3.cid = a3.code AND l3.probe_id = l0.probe_id
         |WHERE a0.vec_id <> l0.probe_id),
         |r AS (SELECT probe_id, corpus_id, adc2,
         |row_number() OVER (PARTITION BY probe_id ORDER BY adc2, corpus_id) AS rank
         |FROM scored)
         |SELECT probe_id, corpus_id, round(sqrt(adc2), 6) AS adc_dist,
         |CAST(rank AS INT) AS rank FROM r WHERE rank <= 5""".stripMargin.replace("\n", " ")
    })((s, dir) => {
      val e = t(s, dir, "embeddings").df
      val key = graft.functions.WindowHash.md5Prefix(col("vec_id").cast(StringType), 6)
      val cents = e.filter(col("embedding").isNotNull)
        .orderBy(key.asc, col("vec_id").asc).limit(4)
      Similarity.ivfPqTopK(e, cents, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", m = 4, k = 8, topK = 5, nprobe = 2)
    }),

    // PRODUCTION kNN path, driver-gated (round-13 verdict #3): the
    // LSH-bucketed knnGraph actually runs in this slot (q110 runs the
    // exact twin).  Output is an invariant table the oracle can check:
    // 'exact_edges' is independently recomputed by DuckDB's window
    // formulation, and the remaining rows are literal-pinned booleans
    // computed from the REAL approx run — every approx edge must be a
    // genuine pair with the true rounded cosine (containment), no
    // source may exceed k edges, no self edges, and recall against the
    // exact twin must clear the floor.  A production-path regression
    // (collapsed recall, wrong cosine, k overflow) hash-mismatches.
    Slot("q110b_knn_production",
      // production-knn mirror: DuckDB independently recomputes the exact
      // twin's edge count; the invariant rows (containment, k bound,
      // recall floor, no self edges) are literal-pinned — they are
      // COMPUTED from the real LSH run on the Spark side, so a production
      // regression flips a value and hash-mismatches
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 700),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT src, row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM p)
        |SELECT 'bad_cosine_edges' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'exact_edges', (SELECT count(*) FROM r WHERE rn <= 5)
        |UNION ALL SELECT 'over_k_sources', 0
        |UNION ALL SELECT 'recall_ge_300x', 1
        |UNION ALL SELECT 'self_edges', 0""".stripMargin.replace("\n", " "))((s, dir) => {
      // 700-vector slice (was 1000; round-14 verdict #5): the gate's
      // deliberate O(n²) oracle dominates the bench suite's tail, and
      // the invariants (exact cosine parity, k-bound, self-edge-free,
      // recall floor) carry identical power at ~half the pair count
      val e = t(s, dir, "embeddings").df.filter(col("vec_id") < 700)
      // ONE returned plan (round-16): the five invariant metrics used
      // to be five sequential driver actions — each a scheduling round
      // trip over the same persisted frames — costing ~2 s of pure job
      // latency on the bench box.  As a union of aggregates over the
      // persisted approx/allPairs frames, the caller's single write
      // materializes everything in one job; the caches are scoped to
      // the action (Bench clears the block manager between queries).
      val approx = Similarity.knnGraph(e, "vec_id", "embedding", k = 5, tables = 4)
        .persist()
      // ONE O(n²) pair pass feeds both the containment reference and
      // the exact twin (knnGraphExact would recompute the same pairs)
      val allPairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = -1.0)
        .persist()
      val exact = Similarity.knnFromPairs(allPairs, k = 5)
        .select(col("src"), col("dst")).persist()
      // two warm-up probes: the union below reads every cache from
      // several branches at once — on COLD caches those branches race
      // and recompute the LSH/O(n²) pipelines concurrently; two probe
      // jobs (approx; exact, which materializes allPairs transitively)
      // pin the caches so the final job is pure cached-read aggregation
      approx.count()
      exact.count()
      val canon = approx.select(
        least(col("src"), col("dst")).as("id_a"),
        greatest(col("src"), col("dst")).as("id_b"), col("cos_sim"))
      val badCosine = canon.alias("c")
        .join(allPairs.alias("p"), Seq("id_a", "id_b"), "left")
        .filter(col("p.cos_sim").isNull || col("c.cos_sim") =!= col("p.cos_sim"))
        .agg(count(lit(1)).as("v")).select(lit("bad_cosine_edges").as("metric"),
          col("v").as("value"))
      val exactEdges = exact.agg(count(lit(1)).as("v"))
        .select(lit("exact_edges").as("metric"), col("v").as("value"))
      val overK = approx.groupBy(col("src")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 5).agg(count(lit(1)).as("v"))
        .select(lit("over_k_sources").as("metric"), col("v").as("value"))
      // floor 0.30: measured 0.44 at both sf0.001 and sf0.01 (random
      // near-orthogonal embeddings are the LSH-hostile regime; the
      // floor detects recall collapse, not day-to-day jitter)
      val recall = approx.join(exact, Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(lit("recall_ge_300x").as("metric"),
          when(col("n_exact") === 0L ||
            col("n_hit").cast(DoubleType) / col("n_exact") >= 0.30, 1L)
            .otherwise(0L).as("value"))
      val selfEdges = approx.filter(col("src") === col("dst"))
        .agg(count(lit(1)).as("v"))
        .select(lit("self_edges").as("metric"), col("v").as("value"))
      badCosine.union(exactEdges).union(overK).union(recall).union(selfEdges)
    }),

    // kNN graph (top-k neighbors per vector — the input to graph-based
    // curation).  Driver slot uses the EXACT twin so the oracle is a
    // plain self-join + window; the LSH-bucketed production path is
    // recall- and plan-gated in SimilaritySpec.
    Slot("q110_knn_graph",
      // knn-graph mirror: all-pairs cosine + per-source window top-5,
      // ranked by the rounded similarity with dst as the tiebreak
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT src, dst, cos_sim,
        |row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM p)
        |SELECT src, dst, cos_sim FROM r WHERE rn <= 5""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      Similarity.knnGraphExact(e, "vec_id", "embedding", k = 5)
    }),

    // Mutual-kNN refinement: keep an edge only when BOTH endpoints
    // rank each other in their top-k — the symmetrization that strips
    // hub-induced one-way edges before graph clustering.
    Slot("q111_mutual_knn",
      // mutual-knn mirror: the top-5 window ranking from both sides,
      // kept only where the edge is reciprocal, reported once (src < dst)
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT src, dst, cos_sim,
        |row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM p),
        |k AS (SELECT src, dst, cos_sim FROM r WHERE rn <= 5)
        |SELECT f.src AS src, f.dst AS dst, f.cos_sim AS cos_sim
        |FROM k f JOIN k b ON f.src = b.dst AND f.dst = b.src
        |WHERE f.src < f.dst""".stripMargin.replace("\n", " "))((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      Similarity.mutualKnn(Similarity.knnGraphExact(e, "vec_id", "embedding", k = 5))
    }),
  )
}
