package graft
package slots

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextAnalysis
import graft.SparkEntry.{t, tfan}
import MinHashSql.mhPermValues

/** Text-curation slots: quality signals, language id, fingerprints,
  * tokenization and BPE, PII, chunking, packing, contamination and
  * decontamination, sentence signals and DSIR.
  * `perfbench/suite_slots.tsv` tags this family `text`. */
object TextSlots {

  /** Unrolled-round SQL oracle for the iterative BPE trainer (the
    * q72/q96 pattern: one CTE block per training round, each block's
    * argmax embedded as scalar subqueries in the next round's merge
    * application).  Vocab state lives in a symbol STRING with
    * double-space separators and single sentinel spaces — under that
    * invariant plain left-to-right `replace(' l  r ', ' lr ')` is
    * EXACTLY the trainer's left-to-right non-overlapping merge (each
    * match consumes one boundary space from each side, so back-to-back
    * occurrences still match, while overlapping ones can't).  CTEs are
    * MATERIALIZED: every round reads the previous vocab twice (pair
    * count + merge apply), and DuckDB inlines plain CTEs — 12 rounds
    * would otherwise expand to 2^12 corpus scans. */
  private def bpeMergesOracleSql(rounds: Int): String = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val head =
      s"WITH words AS (SELECT unnest(string_split($norm, ' ')) AS w FROM documents), " +
      "v0 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS wcount, " +
      "' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS syms " +
      "FROM words WHERE length(w) > 0 GROUP BY w)"
    val blocks = (1 to rounds).map { k =>
      val p = k - 1
      s", p$k AS (SELECT l, r, CAST(sum(wcount) AS BIGINT) AS n FROM (" +
        s"SELECT wcount, unnest(toks[1:len(toks)-1]) AS l, unnest(toks[2:len(toks)]) AS r " +
        s"FROM (SELECT wcount, string_split(trim(syms), '  ') AS toks FROM v$p)) GROUP BY l, r), " +
        s"m$k AS MATERIALIZED (SELECT CAST($k AS BIGINT) AS merge_rank, l, r, n FROM p$k " +
        s"ORDER BY n DESC, l ASC, r ASC LIMIT 1), " +
        s"v$k AS MATERIALIZED (SELECT wcount, replace(syms, " +
        s"' ' || (SELECT l FROM m$k) || '  ' || (SELECT r FROM m$k) || ' ', " +
        s"' ' || (SELECT l FROM m$k) || (SELECT r FROM m$k) || ' ') AS syms FROM v$p)"
    }.mkString
    val union = (1 to rounds).map(k => s"SELECT * FROM m$k").mkString(" UNION ALL ")
    head + blocks +
      s""" SELECT merge_rank, l AS "left", r AS "right", n AS pair_count FROM ($union)"""
  }

  /** q93/q94 preamble: the fixture text carries no punctuation, so
    * sentence structure is synthesized deterministically — a period
    * appended to every 8th token (0-based index lambda; the oracle
    * mirrors it with a 1-based range transform). */
  private def withSentences(d: DataFrame): DataFrame =
    d.withColumn("text",
      array_join(transform(split(col("text"), " "),
        (tok, i) => when((i + 1) % 8 === 0, concat(tok, lit("."))).otherwise(tok)), " "))

  def slots: Seq[Slot] = Seq(

    // M6 text quality signals
    Slot("q19_text_quality",
      """SELECT doc_id,
        |CAST(length(text) AS BIGINT) AS n_chars,
        |CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST((length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
        |round((CAST((length(text) - length(replace(text, '.', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ',', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '!', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '?', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ';', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ':', ''))) AS BIGINT))
        |/ CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
        |round((CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) / 4 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) / 3 AS BIGINT))
        |/ CAST(greatest(CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST((length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', ''))) AS BIGINT) + 1 END, 1) AS DOUBLE), 6) AS stop_ratio,
        |round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |/ CAST(greatest(CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST((length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', ''))) AS BIGINT) + 1 END, 1) AS DOUBLE), 6) AS avg_token_len
        |FROM documents""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val sig = TextAnalysis.qualitySignals(col("text"))
      d.select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
    }),

    // M6 language identification (stopword-evidence heuristic)
    Slot("q20_langid", {
      val padded = "(' ' || text || ' ')"
      def score(markers: Seq[String]): String =
        markers.map(m => s"CAST((length($padded) - length(replace($padded, '$m', ''))) / ${m.length} AS BIGINT)").mkString(" + ")
      val scores = TextAnalysis.langMarkers.map { case (lang, ms) => lang -> score(ms) }
      val pairs = scores.map { case (l, sc) => s"($sc) AS s_$l" }.mkString(", ")
      val m = scores.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val cases = scores.map { case (l, _) => s"WHEN s_$l = m AND m > 0 THEN '$l'" }.mkString(" ")
      s"WITH sc AS (SELECT doc_id, $pairs FROM documents), mm AS (SELECT doc_id, s_en, s_es, s_de, s_fr, $m AS m FROM sc) " +
        s"SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM mm"
    })((s, dir) => {
      val d = t(s, dir, "documents").df
      d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
    }),

    // M6 document fingerprint (normalized md5)
    Slot("q21_text_fingerprint",
      // mirrors TextAnalysis.fingerprint including the raw-text fallback
      // for documents that normalize to empty (CJK/punctuation-only —
      // absent from this corpus, but the oracle states the full contract)
      """SELECT doc_id, md5(CASE WHEN length(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) > 0
        |THEN trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))
        |ELSE chr(0) || 'raw' || chr(0) || text END) AS fp FROM documents""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      d.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // M6 BPE-ish subword token counting
    Slot("q48_bpe_tokens",
      """SELECT doc_id, CAST(len(regexp_extract_all(lower(text),
        |' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      d.select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
    }),

    // M6 sequence packing (concatenate-and-chunk into 512-token training
    // sequences) — distributed prefix sum, no single-partition window
    Slot("q60_pack_bins",
      """WITH w AS (SELECT doc_id,
        |CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST(length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', '')) AS BIGINT) + 1 END AS n_tokens
        |FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM w)
        |SELECT CAST(floor(start_tok / 512.0) AS BIGINT) AS bin_id,
        |count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Packing.packSummary(d, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), budget = 512L)
    }),

    // M6 TF-IDF top terms per document (rank on the rounded score so
    // the float ordering is oracle-stable; term tiebreak)
    Slot("q61_tfidf_topk",
      """WITH toks AS (SELECT doc_id, term FROM (
        |SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS term FROM documents)
        |WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM (
        |SELECT tf.doc_id, tf.term, tf.tf, d.df,
        |round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf,
        |row_number() OVER (PARTITION BY tf.doc_id
        |ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) DESC, tf.term) AS rank
        |FROM tf JOIN d USING (term) CROSS JOIN n) s
        |WHERE rank <= 3""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val toks = d.select(col("doc_id"),
          explode(split(TextAnalysis.normalize(col("text")), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val total = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(total))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6))
      // top-3 bounded BELOW the shuffle by the partial TopKPerKey
      // operator (the rankPerProbe pattern): the row_number window
      // alone would shuffle and fully sort every (doc, term) score;
      // the rank is recomputed over the ≤ 3·|docs| survivors with the
      // identical ordering/tiebreak, so the rows and ranks are
      // unchanged (r21; plan: full-stream Window → TopKPerKey + small
      // Window)
      val top = graft.plans.TopK.perKeyOrdered(scored, Seq("doc_id"),
        Seq("tfidf" -> true, "term" -> false), 3)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
      top.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
    }),

    // M6 PII scan: deterministic synthetic PII injected per doc id, then
    // regex match counts — gates cross-engine regex semantics end to end
    Slot("q62_pii_scan",
      """WITH aug AS (SELECT doc_id, text
        ||| CASE WHEN doc_id % 7 = 0
        |THEN ' contact support+' || CAST(doc_id AS VARCHAR) || '@example-mail.com now'
        |ELSE '' END
        ||| CASE WHEN doc_id % 11 = 0
        |THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today'
        |ELSE '' END AS t FROM documents)
        |SELECT doc_id,
        |CAST(length(regexp_extract_all(lower(t), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |CAST(length(regexp_extract_all(lower(t), '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |(length(regexp_extract_all(lower(t), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) > 0
        |OR length(regexp_extract_all(lower(t), '[0-9]{3}-[0-9]{4}')) > 0) AS has_pii
        |FROM aug""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact support+"), col("doc_id").cast(StringType),
            lit("@example-mail.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-01"),
            lpad((col("doc_id") % 100).cast(StringType), 2, "0"),
            lit(" today"))).otherwise(lit("")))
      val sig = TextAnalysis.piiSignals(aug)
      d.select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
    }),

    // M6 document chunking (RAG/training windows: 500 chars, stride 400)
    // with per-chunk fingerprints for chunk-level dedup
    Slot("q64_chunking",
      """WITH e AS (SELECT doc_id, text,
        |unnest(generate_series(0, (greatest(length(text) - 500, 0) + 399) // 400)) AS chunk_id
        |FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, chunk_id, chunk_id * 400 AS chunk_start,
        |CAST(length(substr(text, CAST(chunk_id * 400 + 1 AS INTEGER), 500)) AS BIGINT) AS chunk_len,
        |md5(substr(text, CAST(chunk_id * 400 + 1 AS INTEGER), 500)) AS fp
        |FROM e""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Chunking.chunkFingerprints(d, col("doc_id"), col("text"),
        width = 500, stride = 400)
    }),

    // M6 benchmark-contamination check: n-gram containment of (synthetic)
    // eval items — prefixes of every 97th doc — against the whole corpus;
    // bench shingle sets broadcast, corpus never shuffles
    Slot("q65_contamination",
      """WITH nd AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nt FROM documents),
        |dsh AS (SELECT DISTINCT doc_id, sh FROM (
        |SELECT doc_id, substr(nt, CAST(i AS INTEGER), 5) AS sh FROM (
        |SELECT doc_id, nt, unnest(generate_series(1, length(nt) - 4)) AS i FROM nd) x) y),
        |bench AS (SELECT doc_id AS bench_id, trim(substr(nt, 1, 120)) AS bt
        |FROM nd WHERE doc_id % 97 = 0),
        |bsh AS (SELECT DISTINCT bench_id, sh FROM (
        |SELECT bench_id, substr(bt, CAST(i AS INTEGER), 5) AS sh FROM (
        |SELECT bench_id, bt, unnest(generate_series(1, length(bt) - 4)) AS i FROM bench) x) y),
        |bsz AS (SELECT bench_id, count(*) AS sz FROM bsh GROUP BY 1),
        |ov AS (SELECT d.doc_id, b.bench_id, count(*) AS n_overlap
        |FROM dsh d JOIN bsh b USING (sh) GROUP BY 1, 2)
        |SELECT ov.doc_id, ov.bench_id, ov.n_overlap,
        |round(ov.n_overlap / CAST(bsz.sz AS DOUBLE), 6) AS containment
        |FROM ov JOIN bsz USING (bench_id)
        |WHERE round(ov.n_overlap / CAST(bsz.sz AS DOUBLE), 6) >= 0.8""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bid"),
          substring(TextAnalysis.normalize(col("text")), 1, 120).as("btext"))
      graft.operators.Contamination.containment(
        d, col("doc_id"), col("text"), bench, col("bid"), col("btext"),
        n = 5, threshold = 0.8)
    }),

    // M6 flagship composition: quality gate -> PII scrub -> exact dedup
    // -> chunk -> pack, ONE Catalyst plan, oracle-verified end to end
    Slot("q66_corpus_pipeline",
      """WITH q AS (SELECT doc_id, text,
        |CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST(length(regexp_replace(trim(text), ' +', ' ', 'g'))
        |- length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', '')) AS BIGINT) + 1 END AS n_tokens,
        |round((CAST((length(text) - length(replace(text, '.', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ',', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '!', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '?', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ';', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ':', ''))) AS BIGINT))
        |/ CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio
        |FROM documents),
        |f AS (SELECT doc_id,
        |regexp_replace(regexp_replace(text,
        |'(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |'[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text
        |FROM q WHERE n_tokens >= 50 AND punct_ratio <= 0.1),
        |d AS (SELECT * FROM f WHERE doc_id IN
        |(SELECT min(doc_id) FROM f GROUP BY md5(text))),
        |e AS (SELECT doc_id, text,
        |unnest(generate_series(0, (greatest(length(text) - 500, 0) + 399) // 400)) AS chunk_id
        |FROM d WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, chunk_id,
        |substr(text, CAST(chunk_id * 400 + 1 AS INTEGER), 500) AS ct FROM e),
        |tk AS (SELECT doc_id, chunk_id,
        |CASE WHEN length(regexp_replace(trim(ct), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST(length(regexp_replace(trim(ct), ' +', ' ', 'g'))
        |- length(replace(regexp_replace(trim(ct), ' +', ' ', 'g'), ' ', '')) AS BIGINT) + 1 END AS chunk_tokens
        |FROM c),
        |p AS (SELECT doc_id, chunk_tokens,
        |COALESCE(SUM(chunk_tokens) OVER (ORDER BY doc_id, chunk_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM tk)
        |SELECT CAST(floor(start_tok / 512.0) AS BIGINT) AS bin_id,
        |count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
        |CAST(sum(chunk_tokens) AS BIGINT) AS sum_tokens, min(doc_id) AS first_doc
        |FROM p GROUP BY 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Pipeline.pretrainCorpus(d, col("doc_id"), col("text"))
    }),

    // M6 Gopher-style repetition quality filters: duplicate-token,
    // duplicate-2-gram, and top-token frequency ratios per document
    Slot("q71_repetition",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |b AS (SELECT doc_id, l,
        |CASE WHEN len(l) >= 2
        |THEN 1.0 - len(list_distinct(list_transform(range(1, len(l)),
        |i -> l[i] || ' ' || l[i+1])))::DOUBLE / (len(l) - 1)
        |ELSE 0.0 END AS d2raw FROM t),
        |ex AS (SELECT doc_id, d2raw, unnest(l) AS token FROM b),
        |g1 AS (SELECT doc_id, d2raw, token, count(*) AS cnt FROM ex GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |round(1.0 - count(*)::DOUBLE / sum(cnt), 6) AS dup_token_ratio,
        |round(min(d2raw), 6) AS dup_2gram_ratio,
        |round(max(cnt)::DOUBLE / sum(cnt), 6) AS top_token_ratio
        |FROM g1 GROUP BY doc_id""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.repetitionSignals(d, col("doc_id"), col("text"))
    }),

    // M6 tokenizer-vocabulary extraction: exact global top-50 terms by
    // frequency with a deterministic term tiebreak (TakeOrdered top-k,
    // no global sort)
    Slot("q74_vocab_topk",
      """SELECT term, count(*) AS n FROM
        |(SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY n DESC, term ASC LIMIT 50""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.topTerms(d, col("text"), k = 50)
    }),

    // M6 token-entropy quality signal (fused TokenStats kernel —
    // scan-stage, zero shuffle): low entropy = boilerplate/degenerate
    // repetition, the distribution view of the q71 ratio filters
    Slot("q85_token_entropy",
      // mirrors the TokenStats kernel's algebraic form term-for-term:
      // entropy = ln(n)/ln(2) - sum(cnt * ln(cnt)/ln(2)) / n
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS cnt FROM ex GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |sum(cnt * (ln(cnt) / ln(2))) AS sclc FROM g GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |round(ln(n_tokens) / ln(2) - sclc / n_tokens, 6) AS token_entropy
        |FROM d""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.tokenEntropy(d, col("doc_id"), col("text"))
    }),

    // M6 Bloom-sketch contamination prefilter (the zero-join tier
    // before q65's exact containment): benchmark = 80-char prefixes of
    // docs 3 and 17; threshold-derived suspect cut.  PORTABLE bloom —
    // md5-permutation lane bits, so the oracle reproduces the sketch
    // (false positives included) bit-for-bit.
    Slot("q90_bloom_prefilter",
      // Portable-bloom mirror: rebuild the sketch's exact bit positions
      // (affine-permutation lanes of md5-window hashes, optimal m/k from
      // the same ceil/floor arithmetic) and count per-doc shingles whose
      // k lanes are ALL set — false positives reproduce too
      s"""WITH bnorm AS (SELECT trim(regexp_replace(regexp_replace(lower(substr(text, 1, 80)),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents WHERE doc_id IN (3, 17)),
        |bh AS (SELECT t, ('0x' || substr(md5(substr(t, CAST(p AS INT), 20)), 1, 8))::BIGINT AS h
        |FROM (SELECT t, unnest(range(1, length(t) - 18)) AS p FROM bnorm WHERE length(t) >= 20)),
        |bitem AS (SELECT t, count(DISTINCT h) AS nb FROM bh GROUP BY t),
        |bhd AS (SELECT DISTINCT h FROM bh),
        |prm AS (SELECT cnt, greatest(64, CAST(ceil(-(cnt * ln(0.01)) / (ln(2)*ln(2))) AS BIGINT)) AS m
        |FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM bhd)),
        |prm2 AS (SELECT m, least(32, greatest(1,
        |CAST(floor((CAST(m AS DOUBLE)/cnt)*ln(2) + 0.5) AS BIGINT))) AS k FROM prm),
        |bits AS (SELECT DISTINCT ((a*h + b) % 4294967311) % m AS pos
        |FROM bhd, (VALUES $mhPermValues) perm(lane, a, b), prm2 WHERE lane < k),
        |cut AS (SELECT greatest(1, CAST(floor(0.8 * min(nb)) AS BIGINT)) AS cut FROM bitem),
        |dnorm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |dh AS (SELECT DISTINCT doc_id,
        |('0x' || substr(md5(substr(t, CAST(p AS INT), 20)), 1, 8))::BIGINT AS h
        |FROM (SELECT doc_id, t, unnest(range(1, length(t) - 18)) AS p FROM dnorm
        |WHERE length(t) >= 20)),
        |dsz AS (SELECT doc_id, count(*) AS n_shingles FROM dh GROUP BY doc_id),
        |dl AS (SELECT doc_id, h, lane, ((a*h + b) % 4294967311) % m AS pos
        |FROM dh, (VALUES $mhPermValues) perm(lane, a, b), prm2 WHERE lane < k),
        |hits AS (SELECT doc_id, h FROM dl JOIN bits ON bits.pos = dl.pos
        |GROUP BY doc_id, h HAVING count(*) = (SELECT k FROM prm2)),
        |sus AS (SELECT doc_id, count(*) AS n_suspect FROM hits GROUP BY doc_id)
        |SELECT z.doc_id, z.n_shingles, COALESCE(s.n_suspect, 0) AS n_suspect,
        |(SELECT cut FROM cut) AS cut
        |FROM dsz z LEFT JOIN sus s ON s.doc_id = z.doc_id
        |WHERE COALESCE(s.n_suspect, 0) >= (SELECT cut FROM cut)""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val bench = d.filter(col("doc_id").isin(3L, 17L))
        .select((col("doc_id") + 100000L).as("bid"),
          substring(col("text"), 1, 80).as("btext"))
      graft.operators.Contamination.bloomPrefilter(
        d, col("doc_id"), col("text"), bench, col("btext"),
        n = 20, threshold = 0.8, fpp = 0.01, portableHash = true)
    }),

    // M6 BPE merge training (tokenizer induction): first 12 merges
    // over the word-frequency vocab, deterministic tiebreaks.
    // Rows-only (iterative argmax); snapshot-pinned at sf0.01.
    Slot("q92_bpe_merges",
      bpeMergesOracleSql(12))((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.bpeTopMerges(d, col("text"), rounds = 12)
    }),

    // M6 sentence-shape quality signal: per-doc sentence count and
    // mean/max sentence length.  The fixture text has no punctuation,
    // so sentence structure is synthesized deterministically first
    // (a period after every 8th token — index-lambda transform,
    // mirrored 1:1 in the oracle), like q80 synthesizes its new
    // generation inline.
    Slot("q93_sentence_stats",
      """WITH d2 AS (SELECT doc_id, array_to_string(list_transform(
        |range(1, len(string_split(text, ' ')) + 1),
        |i -> CASE WHEN i % 8 = 0 THEN string_split(text, ' ')[i] || '.'
        |ELSE string_split(text, ' ')[i] END), ' ') AS text FROM documents),
        |s AS (SELECT doc_id, trim(u.s) AS sentence FROM (
        |SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+\s+')) AS s
        |FROM d2) u WHERE length(trim(u.s)) > 0)
        |SELECT doc_id, count(*) AS n_sentences,
        |round(avg(length(sentence)), 6) AS avg_sentence_chars,
        |CAST(max(length(sentence)) AS BIGINT) AS max_sentence_chars
        |FROM s GROUP BY doc_id""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.sentenceStats(withSentences(d), col("doc_id"), col("text"))
    }),

    // M6 sentence-level boilerplate: sentences repeated across >= 2
    // distinct docs by normalized fingerprint — the sentence-granular
    // complement of q79's fixed-width spans (same synthesized
    // sentence structure as q93)
    Slot("q94_repeated_sentences", {
      val fp = "md5(trim(regexp_replace(regexp_replace(lower(sentence)," +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
      s"""WITH d2 AS (SELECT doc_id, array_to_string(list_transform(
         |range(1, len(string_split(text, ' ')) + 1),
         |i -> CASE WHEN i % 8 = 0 THEN string_split(text, ' ')[i] || '.'
         |ELSE string_split(text, ' ')[i] END), ' ') AS text FROM documents),
         |s AS (SELECT doc_id, trim(u.s) AS sentence FROM (
         |SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+\\s+')) AS s
         |FROM d2) u WHERE length(trim(u.s)) > 0)
         |SELECT $fp AS sentence_fp, count(DISTINCT doc_id) AS n_docs,
         |count(*) AS n_occurrences, min(doc_id) AS first_doc
         |FROM s WHERE length(trim(regexp_replace(regexp_replace(lower(sentence),
         |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) > 0
         |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replace("\n", " ")
    })((s, dir) => {
      val d = tfan(s, dir, "documents").df
      TextAnalysis.repeatedSentences(withSentences(d), col("doc_id"), col("text"),
        minDocs = 2)
    }),

    // M6 DSIR importance scores (Xie et al. 2023): how much each doc
    // resembles the English-subset target in hashed unigram+bigram
    // space — the domain-selection tier between dedup and tokenization
    Slot("q97_dsir_scores",
      // DSIR mirror: hashed unigram+bigram buckets (md5 32-bit prefix
      // mod 512), add-one-smoothed target (lang='en') and raw bucket
      // distributions, per-doc sum of c * (ln p - ln q)
      """WITH norm AS (SELECT doc_id, lang, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |toks AS (SELECT doc_id, lang,
        |list_filter(string_split(t, ' '), x -> length(x) > 0) AS ts FROM norm),
        |live AS (SELECT doc_id, lang, ts FROM toks WHERE len(ts) > 0),
        |grams AS (SELECT doc_id, lang, unnest(list_concat(ts,
        |CASE WHEN len(ts) > 1 THEN [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]
        |ELSE [] END)) AS g FROM live),
        |b AS (SELECT doc_id, lang,
        |(('0x' || substr(md5(g), 1, 8))::BIGINT % 512) AS bucket FROM grams),
        |cf AS MATERIALIZED (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
        |tf AS (SELECT bucket, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bucket),
        |grid AS (SELECT unnest(range(0, 512)) AS bucket),
        |p AS (SELECT g.bucket,
        |ln((COALESCE(tf.c, 0) + 1.0) / ((SELECT sum(c) FROM tf) + 512.0)) AS lp
        |FROM grid g LEFT JOIN tf ON tf.bucket = g.bucket),
        |qb AS (SELECT bucket, sum(c) AS n FROM cf GROUP BY bucket),
        |q AS (SELECT g.bucket,
        |ln((COALESCE(qb.n, 0) + 1.0) / ((SELECT sum(n) FROM qb) + 512.0)) AS lq
        |FROM grid g LEFT JOIN qb ON qb.bucket = g.bucket),
        |scored AS (SELECT cf.doc_id,
        |round(sum(cf.c * (p.lp - q.lq)), 6) AS logw FROM cf
        |JOIN p ON p.bucket = cf.bucket JOIN q ON q.bucket = cf.bucket
        |GROUP BY cf.doc_id)
        |SELECT d.doc_id, COALESCE(s.logw, 0.0) AS logw
        |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""".stripMargin.replace("\n", " "))((s, dir) => {
      // target = the English slice of the SAME corpus → the fused
      // one-pass variant (both distributions from one tokenization;
      // parity with the generic two-frame path is spec-pinned)
      val d = tfan(s, dir, "documents").df
      graft.operators.Dsir.scoresForSlice(d, col("doc_id"), col("text"),
        col("lang") === "en", buckets = 512)
    }),

    // M6 unigram-LM quality scoring (the CCNet-style perplexity filter,
    // Wenzek et al. 2020, at order 0): corpus-trained token frequencies,
    // mean token log-prob per document
    Slot("q98_unigram_loglik",
      // unigram-LM mirror: same normalize/tokenize chain as q61/q74,
      // count-aggregate LM, per-doc mean token log-prob
      """WITH toks AS (SELECT doc_id, term FROM (
        |SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS term FROM documents)
        |WHERE length(term) > 0),
        |c AS (SELECT term, count(*) AS tc FROM toks GROUP BY 1),
        |n AS (SELECT sum(tc) AS ttot FROM c)
        |SELECT doc_id, count(*) AS n_tokens,
        |round(avg(ln(tc / ttot)), 6) AS avg_logp
        |FROM toks JOIN c USING (term) CROSS JOIN n
        |GROUP BY doc_id""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.TextAnalysis.unigramLogLik(d, col("doc_id"), col("text"))
    }),

    // M6 benchmark DECONTAMINATION action (the removal q65's detection
    // feeds): every 50-char window of a doc that appears in the
    // benchmark (q65's bench: 120-char normalized prefixes of docs
    // with doc_id % 97 == 0) is cut via the SpanCut kernel.  Output
    // reduces the cleaned text to its length, like q88; the oracle
    // mirrors the whole surgery through the covered-length union
    // arithmetic on raw span TEXT.
    Slot("q123_bench_decontam",
      // bench-decontam mirror: q88's covered-length union arithmetic
      // with the evidence side being the benchmark's distinct 50-char
      // spans (on raw span TEXT; Spark matches rolling hashes — equal
      // absent collisions, the q88 contract)
      """WITH norm AS MATERIALIZED (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |bt AS (SELECT trim(substr(t, 1, 120)) AS b FROM norm WHERE doc_id % 97 = 0),
        |ev AS (SELECT DISTINCT substr(b, p, 50) AS s FROM
        |(SELECT b, unnest(range(1, length(b) - 48)) AS p FROM bt WHERE length(b) >= 50)),
        |spans AS (SELECT doc_id, CAST(p AS BIGINT) AS p, substr(t, p, 50) AS s FROM
        |(SELECT doc_id, t, unnest(range(1, length(t) - 48)) AS p
        |FROM norm WHERE length(t) >= 50)),
        |cutpos AS (SELECT doc_id, p FROM spans WHERE s IN (SELECT s FROM ev)),
        |cov AS (SELECT doc_id, least(50,
        |coalesce(lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p, 50)) AS c
        |FROM cutpos),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS covered,
        |CAST(count(*) AS BIGINT) AS n_cut FROM cov GROUP BY doc_id)
        |SELECT n.doc_id, CAST(length(n.t) - coalesce(a.covered, 0) AS BIGINT) AS n_chars_clean,
        |coalesce(a.n_cut, 0) AS n_spans_cut
        |FROM norm n LEFT JOIN agg a ON n.doc_id = a.doc_id""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select(substring(TextAnalysis.normalize(col("text")), 1, 120).as("btext"))
      operators.Contamination.removeBenchmarkSpans(
          d, col("doc_id"), col("text"), bench, col("btext"), width = 50)
        .select(col("doc_id"),
          length(col("text_clean")).cast(LongType).as("n_chars_clean"),
          col("n_spans_cut"))
    }),
  )
}
