package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Jobs.describing

/** Deduplication operators for training-data pipelines (beyond-reference
  * extension, SURVEY.md §7.2 M6).  All variants are shuffle-on-key
  * designs that scale to 100 TB: no pairwise O(n²) comparisons except
  * inside LSH candidate buckets, whose size is bounded by band width.
  */
object Dedup {

  /** Exact dedup by content hash.  One shuffle on the 128-bit hash;
    * keeps the lowest id per group (deterministic winner).  NULL text
    * is absence of evidence, not identical content — null-text rows
    * are excluded from the grouping entirely (md5(null) is null, and
    * grouping on it would collapse every failed-extraction doc into
    * one "duplicate" cluster; corpusDiff documents the same rule). */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.filter(text.isNotNull)
      .groupBy(md5(text.cast(BinaryType)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("keep_id"))

  /** The deduplicated corpus itself: keeps exactly the winner row of
    * each content group (semi join against the winners — no row data
    * moves through the aggregation).  Null-text rows carry no dedup
    * evidence and pass through untouched. */
  def deduplicated(df: DataFrame, text: Column, id: Column): DataFrame = {
    val winners = exact(df, text, id).select(col("keep_id"))
    df.join(winners, id === col("keep_id"), "left_semi")
      .unionByName(df.filter(text.isNull))
  }

  /** Exact near-dup on normalized text (case/punct-insensitive). */
  def exactNormalized(df: DataFrame, text: Column, id: Column): DataFrame =
    df.filter(text.isNotNull) // null text: no evidence — same rule as exact()
      .groupBy(TextAnalysis.fingerprint(text).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("keep_id"))

  /** MinHash signature: k independent hash functions simulated by
    * seeding xxhash64 with the permutation index; signature[i] =
    * min over shingles of xxhash64(i, shingle).  Pure Column ops.
    *
    * NOTE: apply this to a *materialized* shingle column reference.
    * Inlining a whole shingle-computation expression k times makes
    * Catalyst's project-collapse blow the tree up k-fold (observed:
    * ~10 min of optimizer time at k=32).  [[minhashSignatures]] below
    * is the explode/groupBy formulation that avoids the hazard. */
  def minhashSignature(shingleArr: Column, k: Int = 32): Column = {
    // an EMPTY shingle array must yield a null signature, not an array
    // of k nulls: the all-null array passes isNotNull filters, and
    // banding it is worse — xxhash64 skips null inputs, so every short
    // doc would share identical band keys in every band, forming one
    // quadratic all-pairs bucket (the sibling kernels minhashSig /
    // portableMinhashSig return null for this case)
    when(size(shingleArr) > 0,
      array((0 until k).map { i =>
        array_min(transform(shingleArr, s => xxhash64(lit(i), s)))
      }: _*))
  }

  /** MinHash signatures in ONE codegen'd pass — no explode, no
    * shuffle: the fused [[graft.functions.MinHash]] kernel folds every
    * shingle hash into k running minima inside the scan stage.  Docs
    * shorter than the shingle width yield no signature (same contract
    * as the r3 explode/groupBy formulation, which produced no rows for
    * them); output is bit-for-bit identical (spec-pinned).
    *
    * Scale: candidate generation now reads the corpus once and shuffles
    * only (doc_id, 256B signature) into the band join — the ~L rows per
    * doc the r3 version pushed through a hash aggregate are gone. */
  def minhashSignatures(df: DataFrame, text: Column, id: Column,
                        shingleSize: Int, k: Int): DataFrame =
    df.select(id.as("doc_id"),
        graft.functions.MinHash.minhashSig(TextAnalysis.normalize(text), shingleSize, k).as("sig"))
      .filter(col("sig").isNotNull)

  /** The r3 explode + single-groupBy formulation (one row per
    * (doc, shingle), k `min` aggregates).  Kept as the independent
    * reference implementation the fused kernel is spec-verified
    * against. */
  private[graft] def minhashSignaturesExploded(df: DataFrame, text: Column, id: Column,
                                               shingleSize: Int, k: Int): DataFrame = {
    val exploded = TextAnalysis.shingleHashes(df, text, id, shingleSize)
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"h$i"))
    exploded.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + LSH banding: `bands` bands of `rowsPerBand` hashes; docs
    * sharing any band signature become candidate pairs.
    *
    * Scale path: explode is bands-per-doc (small constant), the shuffle
    * key is (band index, band signature) — uniformly distributed by
    * hashing — and the O(|bucket|²) pair expansion only happens inside
    * buckets, which stay tiny for non-duplicate corpora.
    *
    * @return candidate pairs (id_a < id_b) with estimated jaccard from
    *         full-signature agreement.
    */
  /** Signatures + exploded band keys — the shared candidate-generation
    * shape behind [[minhashLsh]] (self-join) and the incremental
    * [[minhashBandIndex]]/[[minhashLshAgainstIndex]] pair.
    *
    * Each band's signature slice folds into ONE long key (band index
    * mixed in): an array-typed join key cannot hash-join (Spark falls
    * back to a nested-loop — observed 5x wall time); a long key
    * shuffles and hash-joins normally.  Hash collisions only add
    * candidates, which the jaccard verification stage filters anyway. */
  private def mhBanded(df: DataFrame, text: Column, id: Column,
                       shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSignatures(df, text, id, shingleSize, bands * rowsPerBand)
    sigs.select(col("doc_id"), col("sig"),
      explodedBandKeys(col("sig"), bands, rowsPerBand, portable = false).as("band_key"))
  }

  /** Exploded band-key expression over a signature-array column — the
    * shared key shape of [[mhBanded]], [[portableBanded]] and the
    * fused prep frame in [[nearDedupCorpus]].  Non-portable keys fold
    * each band's lanes into one xxhash64 long (an array-typed join key
    * cannot hash-join); portable keys are md5 hex of the lanes joined
    * by '|' with the band index appended, mirrored in oracle SQL. */
  private[graft] def explodedBandKeys(sig: Column, bands: Int, rowsPerBand: Int,
                               portable: Boolean): Column =
    if (portable)
      explode(array((0 until bands).map { b =>
        md5(concat_ws("|",
          (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => element_at(sig, i + 1)) :+
            lit(b.toString): _*).cast(BinaryType))
      }: _*))
    else
      explode(array((0 until bands).map { b =>
        xxhash64(((0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
          :+ lit(b)): _*)
      }: _*))

  /** Drop band buckets whose population exceeds `maxBucket` BEFORE the
    * self-join squares them (0 = unbounded).  A duplicate cluster of
    * size m collides in nearly every band, so candidate pairs grow
    * with m² — the round-8 skew rehearsal measured 29× wall time when
    * every cluster grew 5× (BASELINE.md).  Oversized buckets are
    * boilerplate-driven; capping them is the standard production
    * mitigation (after exact dedup, which collapses identical copies
    * outright).  The population count groups on the SAME band key the
    * self-join shuffles on, so the filter adds no new exchange shape —
    * and recall inside surviving buckets is untouched. */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) banded
    else {
      val small = banded.groupBy(col("band_key"))
        .agg(count(lit(1)).as("_bn")).filter(col("_bn") <= maxBucket)
        .select(col("band_key"))
      banded.join(small, Seq("band_key"), "left_semi")
    }

  /** Raw band-collision pairs — one row per (pair, colliding band),
    * NO distinct and no signature columns: the candidate feed for a
    * consumer that dedups pairs itself (ngramJaccard's input distinct
    * does), sparing the pair-keyed exchange [[minhashLsh]] spends on
    * its distinct and the per-collision-row signature-agreement
    * kernel. */
  private[graft] def mhCollisionPairs(df: DataFrame, text: Column, id: Column,
                                      shingleSize: Int, bands: Int,
                                      rowsPerBand: Int, maxBucket: Int = 0): DataFrame = {
    val banded = capBuckets(mhBanded(df, text, id, shingleSize, bands, rowsPerBand), maxBucket)
    banded.alias("a").join(banded.alias("b"), col("a.band_key") === col("b.band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
  }

  /** PORTABLE minhash permutation family, the classic universal-hash
    * construction (Broder): shingle → 32-bit base hash `H` (first 8
    * hex digits of md5, parseable by any engine), lane i =
    * min((aᵢ·H + bᵢ) mod P) with P = 4294967311 (prime > 2³²) and
    * fixed constants aᵢ < 2³⁰ (so aᵢ·H < 2⁶² — no 64-bit overflow on
    * ANY engine's checked arithmetic) derived once from
    * md5("a&lt;i&gt;")/md5("b&lt;i&gt;").  [[portablePerms]] is the
    * shared constant table SparkEntry's oracle SQL interpolates, so
    * both engines run literally the same integer arithmetic.  ONE md5
    * per shingle window — the md5-per-(window, lane) formulation
    * measured ~10× the whole query. */
  private[graft] val portableP: Long = graft.functions.WindowHash.portableP
  private[graft] def portablePerms: IndexedSeq[(Long, Long)] =
    graft.functions.WindowHash.portablePerms

  /** Portable minhash signatures over the permutation family above —
    * the fused [[graft.functions.WindowHash.portableMinhashSig]]
    * kernel (one scan-stage pass, zero shuffle).
    *
    * @return (doc_id, sig array&lt;long&gt; of k lane minima) — docs
    *         shorter than the shingle width yield no row, the
    *         [[minhashSignatures]] contract */
  private[graft] def portableMinhashLanes(df: DataFrame, text: Column, id: Column,
                                          shingleSize: Int, k: Int): DataFrame =
    df.select(id.as("doc_id"),
        graft.functions.WindowHash.portableMinhashSig(
          TextAnalysis.normalize(text), shingleSize, k).as("sig"))
      .filter(col("sig").isNotNull)

  /** The explode + k-min-aggregate formulation — kept as the
    * independent reference the fused kernel is spec-verified
    * against (the [[minhashSignaturesExploded]] pattern). */
  private[graft] def portableMinhashLanesExploded(df: DataFrame, text: Column, id: Column,
                                                  shingleSize: Int, k: Int): DataFrame = {
    require(k <= portablePerms.size, s"portable minhash supports k <= ${portablePerms.size}")
    val normed = df.select(id.as("doc_id"), TextAnalysis.normalize(text).as("norm"))
    val sh = normed.filter(length(col("norm")) >= shingleSize)
      .select(col("doc_id"),
        explode(graft.functions.WindowHash.md5WindowHashes(col("norm"), shingleSize)).as("h"))
    val mins = (0 until k).map { i =>
      val (a, b) = portablePerms(i)
      min((lit(a) * col("h") + lit(b)) % lit(portableP)).as(s"mh$i")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** Portable twin of [[mhBanded]]: band key = md5 hex of the band's
    * lanes joined by '|' with the band index appended (mirrored in SQL
    * as `md5(string_agg(mh, '|' ORDER BY lane) || '|' || band)`). */
  private def portableBanded(df: DataFrame, text: Column, id: Column,
                             shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val lanes = portableMinhashLanes(df, text, id, shingleSize, bands * rowsPerBand)
    lanes.select(col("doc_id"), col("sig"),
      explodedBandKeys(col("sig"), bands, rowsPerBand, portable = true).as("band_key"))
  }

  // portable signatures are array<long> exactly like the xxhash64
  // family, so the codegen'd VectorSim.agreeCount kernel serves BOTH —
  // the interpreted zip_with fold this file once used for the portable
  // arms cost ~µs per band-collision row inside the distinct grouping
  // key (the exact penalty the non-portable branch's comment
  // documents), for zero portability benefit: the agree count never
  // reaches the oracle SQL, only its value does.

  def minhashLsh(df: DataFrame, text: Column, id: Column,
                 shingleSize: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
                 portableHash: Boolean = false, maxBucket: Int = 0): DataFrame = {
    if (portableHash) {
      val banded = capBuckets(
        portableBanded(df, text, id, shingleSize, bands, rowsPerBand), maxBucket)
      return banded.alias("a").join(banded.alias("b"), col("a.band_key") === col("b.band_key"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(graft.functions.VectorSim.agreeCount(col("a.sig"), col("b.sig"))
            .cast(DoubleType) / lit(bands * rowsPerBand), 6).as("est_jaccard"))
        .distinct()
    }
    val banded = capBuckets(mhBanded(df, text, id, shingleSize, bands, rowsPerBand), maxBucket)
    // true self-join (identical projections on both sides) so the
    // shuffle below the join canonicalizes equal and ReusedExchange
    // computes the whole signature pipeline once, not twice
    banded.alias("a").join(banded.alias("b"), col("a.band_key") === col("b.band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      // full-signature agreement via a codegen'd kernel expression:
      // this lands in the self-join condition and the distinct grouping
      // key, evaluated once per band-collision row — an interpreted
      // zip_with there costs ~µs/row, and an unrolled element_at tree
      // keeps codegen but blows the expression tree up k-fold (both
      // measured slower; see functions/VectorSim.scala)
      .withColumn("est_jaccard",
        round(graft.functions.VectorSim.agreeCount(col("sig_a"), col("sig_b"))
          .cast(DoubleType) / lit(bands * rowsPerBand), 6))
      .select("id_a", "id_b", "est_jaccard")
      .distinct()
  }

  /** Candidate generation + estimate pruning + EXACT n-gram Jaccard in
    * ONE fused pass: signatures AND exact shingle-hash sets come from a
    * single persisted corpus scan (the [[nearDedupCorpus]] prep shape),
    * the free full-signature estimate rejects band-collision noise
    * before any text is touched, and only the survivors pay the exact
    * set-intersection kernel.  Semantics are exactly
    * `minhashLsh(...).filter(est_jaccard >= minEst)` piped through
    * [[ngramJaccard]] (identical arithmetic, spec-pinned) at HALF the
    * corpus scans and roughly half the sequential jobs.
    *
    * EAGER: the verified pair frame — duplicate-proportional, never
    * corpus-proportional, since collision noise dies at the estimate —
    * is checkpointed before the prep cache is released, so the
    * caller's actions read the checkpoint, not the corpus.
    * `reliableDir` as in [[connectedComponents]].
    *
    * @return (id_a, id_b, jaccard) — [[ngramJaccard]]'s contract */
  def verifiedPairs(df: DataFrame, text: Column, id: Column,
                    shingleSize: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
                    minEst: Double = 0.0, portableHash: Boolean = false,
                    maxBucket: Int = 0,
                    reliableDir: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val k = bands * rowsPerBand
    val normed = TextAnalysis.normalize(text)
    val sigExpr =
      if (portableHash) graft.functions.WindowHash.portableMinhashSig(normed, shingleSize, k)
      else graft.functions.MinHash.minhashSig(normed, shingleSize, k)
    val prep = df.select(id.as("doc_id"), sigExpr.as("sig"),
        graft.functions.MinHash.shingleHashSet(normed, shingleSize).as("hs"))
      .filter(col("sig").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val banded = capBuckets(
        prep.select(col("doc_id"), col("sig"),
          explodedBandKeys(col("sig"), bands, rowsPerBand, portableHash).as("band_key")),
        maxBucket)
      val est =
        round(graft.functions.VectorSim.agreeCount(col("a.sig"), col("b.sig"))
          .cast(DoubleType) / lit(k), 6)
      val cand = banded.alias("a").join(banded.alias("b"), col("a.band_key") === col("b.band_key"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), est.as("est_jaccard"))
        .distinct() // est is pair-determined, so this is the minhashLsh distinct
        .filter(col("est_jaccard") >= minEst)
      // every cand endpoint is in prep by construction (inner joins
      // drop nothing); arithmetic is ngramJaccard's exactly
      val verified = exactJaccardOfPairs(cand, prep)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      reliableDir.foreach { dir =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      }
      if (reliableDir.isDefined) verified.checkpoint(eager = true)
      else verified.localCheckpoint(eager = true)
    } finally prep.unpersist(blocking = false)
  }

  /** MinHash band-key index of an existing corpus, for INCREMENTAL
    * dedup: compute once per corpus generation and save (bucketed by
    * `band_key` via [[Scale.writeBucketed]] to make the daily-batch
    * join exchange-free on the index side), then each new batch joins
    * against it with [[minhashLshAgainstIndex]] — the historical
    * corpus text is never re-read, only its (id, signature, band key)
    * rows.  Geometry (shingleSize/bands/rowsPerBand) must match
    * between index and query; [[minhashLshAgainstIndex]] fails fast on
    * the first joined row whose signature lengths disagree. */
  def minhashBandIndex(df: DataFrame, text: Column, id: Column,
                       shingleSize: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
                       portableHash: Boolean = false): DataFrame =
    (if (portableHash) portableBanded(df, text, id, shingleSize, bands, rowsPerBand)
     else mhBanded(df, text, id, shingleSize, bands, rowsPerBand))
      .select(col("doc_id").as("index_id"), col("sig").as("index_sig"), col("band_key"),
        // full geometry metadata, carried WITH the index: a same-k
        // bands/rowsPerBand split (4x8 vs 8x4) or a shingleSize
        // mismatch folds different signature slices per band — ~zero
        // band-key collisions, and the signature-LENGTH probe in
        // [[minhashLshAgainstIndex]] cannot see it (k is equal).  The
        // probe checks this column when present.
        lit(s"$shingleSize:$bands:$rowsPerBand:" + (if (portableHash) "p" else "x"))
          .as("index_geom"))

  /** Near-dup candidates of a NEW batch against an existing
    * [[minhashBandIndex]]: the batch pays signature computation and
    * one band-key join; the index side is pre-computed.  Returns
    * (batch_id, index_id) candidate pairs with estimated jaccard —
    * batch docs also present in the index match themselves, so filter
    * `batch_id =!= index_id` when querying a corpus against its own
    * index.  Verification against full text (ngramJaccard) remains
    * the caller's second stage, exactly as with [[minhashLsh]]. */
  def minhashLshAgainstIndex(batch: DataFrame, text: Column, id: Column,
                             index: DataFrame, shingleSize: Int = 5,
                             bands: Int = 8, rowsPerBand: Int = 4,
                             portableHash: Boolean = false): DataFrame = {
    val b = if (portableHash) portableBanded(batch, text, id, shingleSize, bands, rowsPerBand)
            else mhBanded(batch, text, id, shingleSize, bands, rowsPerBand)
    // eager geometry probe: a mismatched index produces essentially
    // ZERO band-key collisions, so the per-row assert below would
    // never evaluate and the operator would return a silently
    // near-empty candidate set — probe one index row up front and fail
    // fast instead.  Indexes built by [[minhashBandIndex]] carry FULL
    // geometry metadata (shingleSize/bands/rowsPerBand/hash family —
    // a same-k 4x8 vs 8x4 split or a shingle mismatch is invisible to
    // the signature-length check); legacy geom-less indexes fall back
    // to the k-length probe.
    if (index.columns.contains("index_geom")) {
      val want = s"$shingleSize:$bands:$rowsPerBand:" + (if (portableHash) "p" else "x")
      index.select(col("index_geom")).limit(1).collect().headOption.foreach { r =>
        require(r.getString(0) == want,
          s"minhash index geometry mismatch: batch is '$want' " +
            s"(shingleSize:bands:rowsPerBand:hashFamily) but the index was built " +
            s"with '${r.getString(0)}' — rebuild one side to match")
      }
    } else index.select(size(col("index_sig"))).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == bands * rowsPerBand,
        s"minhash index geometry mismatch: batch k=${bands * rowsPerBand} " +
          s"!= index signature length ${r.getInt(0)} — rebuild the index with " +
          "the same shingleSize/bands/rowsPerBand")
    }
    val agree = graft.functions.VectorSim.agreeCount(col("sig"), col("index_sig"))
    b.join(index.drop("index_geom"), Seq("band_key"))
      .select(col("doc_id").as("batch_id"), col("index_id"),
        col("sig"), col("index_sig"))
      // geometry guard: a mismatched index (different k) would survive
      // the band join only on hash coincidence and then divide a
      // min-length agree count by the wrong k — silently near-empty
      // WRONG results.  Fail loudly on the first joined row instead;
      // the assert is folded INTO the kept expression (a standalone
      // dropped column would be pruned and never evaluate).
      .withColumn("est_jaccard",
        when(assert_true(size(col("sig")) === size(col("index_sig")),
            lit(s"minhash index geometry mismatch: batch k=${bands * rowsPerBand} " +
              "!= index signature length — rebuild the index with the same " +
              "shingleSize/bands/rowsPerBand")).isNull,
          round(agree.cast(DoubleType) / lit(bands * rowsPerBand), 6)))
      .select(col("batch_id"), col("index_id"), col("est_jaccard"))
      .distinct()
  }

  /** SimHash (64-bit): per-token hash votes on each bit; the sign of
    * the per-bit sum forms the fingerprint.
    *
    * Fused one-pass formulation: the whole fingerprint is computed by a
    * codegen'd kernel ([[graft.functions.SimHash]]) inside the scan
    * stage — ZERO shuffle.  The r4 explode + 64-aggregate groupBy
    * ([[simhashExploded]], kept as the spec twin) pushed one row per
    * token through a hash aggregate just to sum bit votes; at 100 TB
    * that shuffle IS the fingerprinting cost.  Output is bit-for-bit
    * identical (spec-pinned); docs whose normalized text has no token
    * yield no row, exactly as the groupBy formulation. */
  def simhash(df: DataFrame, text: Column, id: Column,
              portableHash: Boolean = false): DataFrame =
    if (portableHash) portableSimhash(df, text, id)
    else df.select(id.as("doc_id"),
        graft.functions.SimHash.simhash64(TextAnalysis.normalize(text)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** The r4 explode + single-groupBy formulation (one row per
    * (doc, token), 64 vote-sum aggregates).  Kept as the independent
    * reference implementation the fused kernel is spec-verified
    * against. */
  private[graft] def simhashExploded(df: DataFrame, text: Column, id: Column): DataFrame = {
    val tokens = df.select(id.as("doc_id"),
      explode(split(TextAnalysis.normalize(text), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = tokens.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { i =>
      // 1L << 63 is Long.MinValue — the sign bit of the 64-bit fingerprint
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** PORTABLE 60-bit simhash: per-token hash = the first 15 hex digits
    * of `md5(token)` parsed as an integer (60 bits keeps the parse
    * inside a signed 64-bit value on ANY engine — `('0x' || substr
    * (md5(tok), 1, 15))::BIGINT` in DuckDB, `conv(substr(md5(tok), 1,
    * 15), 16, 10)` here), then the usual per-bit ±1 votes with the
    * [[simhashExploded]] tie rule (vote > 0 → bit 1).  One explode +
    * 60 sum-aggregates — the slow portable twin for oracle-gated
    * queries; [[simhash]]'s fused 64-bit kernel is the production
    * path. */
  private[graft] def portableSimhash(df: DataFrame, text: Column, id: Column): DataFrame = {
    val tokens = df.select(id.as("doc_id"),
      explode(split(TextAnalysis.normalize(text), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      // fused md5-prefix kernel (r22): bit-identical to
      // conv(substring(md5(tok), 1, 15), 16, 10)::BIGINT, one digest
      // pass per token instead of hex-string + substring + base-16 parse
      .withColumn("h", graft.functions.WindowHash.md5Prefix(col("tok"), 15))
    val bitSums = (0 until 60).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = tokens.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 60).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** Hamming distance between two simhash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash bit-band LSH near-dup pairs: the 64-bit fingerprint splits
    * into `bands` contiguous bit bands; docs sharing ANY band's exact
    * bits become candidates, verified by full hamming distance ≤
    * `maxHamming`.  The band key is EXACT (band index in the high bits,
    * band bits below — no hashing), so by pigeonhole a pair within
    * hamming d < bands differs in at most d bands and MUST agree on at
    * least one: recall is exact for `maxHamming ≤ bands - 1` (the
    * defaults), spec-verified against brute-force hamming.
    *
    * Scale shape mirrors [[minhashLsh]]: fingerprints are a zero-shuffle
    * codegen'd kernel in the scan stage, the explode is `bands` rows per
    * doc (small constant), the ONLY data shuffle is the band-key
    * self-join (a long key — hash-joinable, uniformly distributed for
    * non-degenerate corpora), and the O(|bucket|²) expansion happens
    * only inside band-collision buckets.  The self-join canonicalizes
    * equal on both sides so ReusedExchange computes the fingerprint
    * pipeline once.
    *
    * @return candidate pairs (id_a < id_b) with their full hamming
    *         distance, deduplicated across bands.
    */
  def simhashNearDup(df: DataFrame, text: Column, id: Column,
                     bands: Int = 4, maxHamming: Int = 3,
                     portableHash: Boolean = false, maxBucket: Int = 0): DataFrame = {
    val fpBits = if (portableHash) 60 else 64
    require(bands >= 2 && bands <= 32 && fpBits % bands == 0,
      s"bands must be a divisor of $fpBits in [2, 32], got $bands")
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val width = fpBits / bands
    val mask = (1L << width) - 1L // width <= 32, no overflow
    val fps = if (portableHash) portableSimhash(df, text, id) else simhash(df, text, id)
    // maxBucket: the same quadratic-bucket mitigation the minhash
    // family exposes (capBuckets) — boilerplate/template corpora put
    // thousands of near-identical fingerprints in one exact band
    // bucket, and the self-join below squares it
    val banded = capBuckets(fps.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map { b =>
        lit(b.toLong << width) +
          shiftrightunsigned(col("simhash"), b * width).bitwiseAND(lit(mask))
      }: _*)).as("band_key")), maxBucket)
    banded.alias("a").join(banded.alias("b"), col("a.band_key") === col("b.band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).cast(IntegerType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: vectors whose cosine
    * similarity ≥ threshold.  Scale path is LSH-bucketed (only
    * intra-bucket pairs are ever scored) with OR-amplification across
    * `tables` independent hyperplane sets for recall; every colliding
    * pair is scored and threshold-filtered directly — no top-k window,
    * so a duplicate cluster of any size reports ALL its pairs.  Exact
    * brute force is available via [[Similarity.bruteForceTopK]] for
    * verification.
    *
    * `planes = 0` (default) derives the plane count from the corpus
    * count ([[Similarity.planesFor]]) so bucket population stays
    * bounded at any corpus scale; pass a positive value to pin the
    * geometry. */
  def embeddingNearDup(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.95, planes: Int = 0,
                       tables: Int = 2, corpusCount: Long = -1L): DataFrame =
    Similarity.lshPairs(corpus, idCol, vecCol, planes = planes, tables = tables,
        corpusCount = corpusCount)
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))

  /** N-gram Jaccard similarity for a candidate pair set: exact set
    * overlap of (hashed) character shingles.  Meant to *verify* LSH
    * candidates, not to run all-pairs.
    *
    * Fused-kernel formulation: each candidate doc is reduced to its
    * sorted distinct shingle-hash SET in one codegen'd pass
    * ([[graft.functions.MinHash.shingleHashSetData]]), and each pair
    * pays ONE merge-walk intersection.  The r3 version exploded every
    * candidate doc into (pair, hash) rows and pushed them through two
    * hash aggregates — millions of grouping keys just to compute set
    * sizes; all of that is now a per-row kernel call.  Output is
    * value-identical (spec-pinned against the exploded formulation).
    *
    * Scale shape: only candidate docs are ever shingled (semi-join
    * against the pair id set first — verification cost is proportional
    * to the candidates, not the corpus).  The `repartition(id)` before
    * the per-doc kernel matters at every scale: candidate docs may
    * live in a handful of input splits (locally: one small parquet
    * file = ONE partition), and the shingle+sort pass is the heavy
    * part.  `sets` is referenced by both the id_a and id_b joins, but
    * the two probe exchanges hash the same key (sid) over the same
    * child, so ReusedExchange computes the set pipeline once.
    *
    * Pairs where one side has no shingles (normalized text shorter
    * than n, or id absent from `docs`) report jaccard 0; pairs where
    * BOTH sides are empty/absent are dropped — exactly the exploded
    * formulation's inner-join semantics. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, id: Column, text: Column,
                   n: Int = 5): DataFrame = {
    // the r3 groupBy collapsed duplicate input pairs; keep that contract
    val p = pairs.select(col("id_a"), col("id_b")).distinct()
    // no distinct on the endpoint feed: a semi join dedups its build
    // side in the hash table — an explicit distinct would buy nothing
    // but one more exchange
    val candIds = p
      .select(explode(array(col("id_a"), col("id_b"))).as("cand_id"))
    val sets = docs.join(candIds, id === col("cand_id"), "left_semi")
      .repartition(id)
      .select(id.as("sid"),
        graft.functions.MinHash.shingleHashSet(TextAnalysis.normalize(text), n).as("hs"))
      .filter(col("hs").isNotNull)
    // reference `sets` exactly ONCE: melt each pair into two
    // (pair, doc, side) rows, join the set pipeline a single time on
    // doc_id, and fold the two sides' arrays back in one groupBy (at
    // most one non-null per side per pair -> first(ignoreNulls) is
    // deterministic).  A two-join formulation streams the heavy set
    // pipeline twice (the tiny pair side broadcasts, so there is no
    // exchange to reuse); this shape pays one pair-keyed shuffle of
    // the candidate arrays instead.
    val members = p.select(col("id_a"), col("id_b"),
        explode(array(
          struct(col("id_a").as("doc_id"), lit(0).as("side")),
          struct(col("id_b").as("doc_id"), lit(1).as("side")))).as("m"))
      .select(col("id_a"), col("id_b"), col("m.doc_id"), col("m.side"))
    members.join(sets, col("doc_id") === col("sid"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(when(col("side") === 0, col("hs")), ignoreNulls = true).as("hs_a"),
           first(when(col("side") === 1, col("hs")), ignoreNulls = true).as("hs_b"))
      .withColumn("sz_a", coalesce(size(col("hs_a")), lit(0)).cast(LongType))
      .withColumn("sz_b", coalesce(size(col("hs_b")), lit(0)).cast(LongType))
      .withColumn("n_inter",
        when(col("hs_a").isNotNull && col("hs_b").isNotNull,
          graft.functions.MinHash.intersectCount(col("hs_a"), col("hs_b")))
          .otherwise(lit(0L)))
      .withColumn("jaccard", round(col("n_inter").cast(DoubleType) /
        greatest(col("sz_a") + col("sz_b") - col("n_inter"), lit(1L)).cast(DoubleType), 6))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Snapshot diff for dataset versioning: classify every document as
    * added / removed / changed / unchanged between two corpus
    * generations by content fingerprint (normalized md5) — the audit a
    * training-data pipeline runs between crawls before deciding what
    * to re-process.  One fingerprint projection per side (computed in
    * the scan stage) and a single full outer join on the id; row text
    * never crosses the shuffle, only (id, 32-byte fingerprint).
    *
    * Row presence is carried by EXPLICIT flags, never inferred from
    * fingerprint nullness: a NULL-text document fingerprints to NULL,
    * and treating that as "row absent" would classify a doc present in
    * both generations as 'added' (and a null→non-null text edit as
    * 'added' instead of 'changed').  Fingerprints compare null-safely
    * (<=>), so two NULL-text generations of a doc are 'unchanged'.
    *
    * @return (doc_id, status) with status in
    *         {added, removed, changed, unchanged} */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, id: Column, text: Column): DataFrame = {
    val o = oldDf.select(id.as("doc_id"), TextAnalysis.fingerprint(text).as("old_fp"),
      lit(true).as("in_old"))
    val n = newDf.select(id.as("doc_id"), TextAnalysis.fingerprint(text).as("new_fp"),
      lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("old_fp") <=> col("new_fp"), "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"))
  }

  /** Cross-document repeated substring spans — the exact-substring
    * dedup signal (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): every width-`width` character window of
    * the normalized text that appears in at least `minDocs` distinct
    * documents, summarized per span.  The removal policy (cut the
    * span, keep the first doc's copy) is the caller's — this operator
    * produces the evidence.
    *
    * Scale shape: one explode (length − width + 1 rows per doc, the
    * inherent cost of exact-substring analysis) into ONE hash
    * aggregate keyed by the span md5 — uniformly distributed, map-side
    * combined; output is only the repeated spans, never the position
    * list.  A suffix-array formulation finds arbitrary-length repeats
    * but needs a global sort of every suffix; fixed-width windows keep
    * the pass embarrassingly shuffle-friendly and are how the signal
    * is deployed in practice (pick width = the minimum span worth
    * cutting).
    *
    * Window hashes come from the O(len)-per-doc rolling kernel
    * ([[graft.functions.WindowHash]]) — the substr+xxhash64 per window
    * it replaces cost O(len·width + len²) per doc and was the
    * dominant term of the whole query (see the kernel's scaladoc).
    *
    * `portableHash = false` (default) keys spans by the 64-bit lane-1
    * rolling hash — the fast production path; `true` reports md5 hex
    * so a SQL oracle can mirror the hash.  COLLISION BOUND: with a
    * 64-bit hash, false merges become likely past the birthday bound
    * (~10⁹ distinct windows, i.e. a few TB of text) — and a fixed-base
    * polynomial hash additionally admits crafted collisions; for huge
    * or adversarial corpora use `portableHash = true`, since a
    * collision here manufactures dedup evidence that the hash-only
    * output cannot reveal.
    *
    * The portable path is TWO-PHASE: windows group on a cheap 128-bit
    * key (both rolling lanes — ≈ D²/2¹²⁸ for natural text, beyond any
    * corpus), and only the few SURVIVING spans pay the md5: each group
    * keeps its minimal (doc, pos) exemplar, and a second bounded pass
    * re-extracts those spans and md5s them.  md5-hexing every window
    * (and shuffling 32-char hex keys) cost ~5× the whole query; the
    * exemplar re-extraction is proportional to the *repeated* spans
    * only.
    *
    * @return (span_hash, n_docs, n_occurrences, first_doc) */
  def repeatedSpans(df: DataFrame, text: Column, id: Column,
                    width: Int = 60, minDocs: Int = 2,
                    portableHash: Boolean = false): DataFrame = {
    require(width >= 1 && minDocs >= 1, s"width/minDocs must be >= 1")
    import graft.functions.WindowHash
    // a null id carries no document identity: such rows are excluded
    // from evidence ENTIRELY (both arms), which also makes the portable
    // arm's two-level rewrite unconditionally equivalent to
    // countDistinct — with nulls admitted, level-2 count(1) would count
    // a null-doc group countDistinct ignores (r21 verdict)
    val normed = df.select(id.as("doc_id"), TextAnalysis.normalize(text).as("norm"))
      .filter(col("doc_id").isNotNull)
    val cnt = length(col("norm")) - lit(width - 1)
    val live = normed.filter(cnt >= 1)
    if (!portableHash) {
      live
        .select(col("doc_id"),
          explode(WindowHash.windowHashes(col("norm"), width)).as("span_hash"))
        .groupBy(col("span_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             count(lit(1)).as("n_occurrences"),
             min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= minDocs)
    } else {
      // both lanes fused in one codegen'd struct-array kernel so a
      // single posexplode carries (pos, h1, h2).  The exemplar is kept
      // as EXPLICIT two-level primitive aggregates — per-(span, doc)
      // count + min pos, then per-span count / sum / min / min_by —
      // instead of one countDistinct + min(struct(doc_id, pos)): a
      // STRUCT aggregation buffer is not hash-aggregable, so the
      // struct-min form planned the whole corpus-wide window stream
      // through SortAggregate (three full sorts of every window row,
      // r21 plan capture); all-primitive buffers keep both levels in
      // HashAggregate.  Same shuffle count and bytes, no sorts.
      // Equivalence: per (h1, h2), lexicographic min of (doc_id, pos)
      // = (min doc_id, min pos within that doc) = (first_doc,
      // min_by(minpos, doc_id)); doc_id is unique per group after the
      // first level, so min_by has no ties.
      val survivors = live
        .select(col("doc_id"),
          posexplode(WindowHash.windowHashPairs(col("norm"), width)).as(Seq("pos0", "hs")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"),
          col("hs.h1").as("h1"), col("hs.h2").as("h2"))
        .groupBy(col("h1"), col("h2"), col("doc_id"))
        .agg(count(lit(1)).as("occ"), min(col("pos")).as("minpos"))
        .groupBy(col("h1"), col("h2"))
        .agg(count(lit(1)).as("n_docs"),
             coalesce(sum(col("occ")), lit(0L)).as("n_occurrences"),
             min(col("doc_id")).as("first_doc"),
             min_by(col("minpos"), col("doc_id")).as("ex_pos"))
        .filter(col("n_docs") >= minDocs)
      // bounded second pass: re-extract each surviving span from its
      // exemplar doc and md5 it — survivors are few, so they broadcast
      // and the corpus scan streams past without shuffling
      survivors
        .join(normed.select(col("doc_id").as("ex_doc"), col("norm")),
          col("first_doc") === col("ex_doc"))
        .select(
          md5(col("norm").substr(col("ex_pos"), lit(width)).cast(BinaryType)).as("span_hash"),
          col("n_docs"), col("n_occurrences"), col("first_doc"))
    }
  }

  /** Exact-substring dedup REMOVAL — the action [[repeatedSpans]]
    * produces evidence for (Lee et al.: cut the repeated span, keep
    * the FIRST document's copy): every width-`width` normalized-text
    * window appearing in ≥ `minDocs` distinct documents is cut from
    * every document except the span's first (minimum-id) one;
    * overlapping cut windows merge into one range.
    *
    * Returns the cleaned NORMALIZED text (the span definition lives on
    * the normalized form; cutting raw text would need a char-alignment
    * map the normalizer does not keep).  Docs with nothing to cut pass
    * through with their normalized text intact.
    *
    * Scale shape: the span EVIDENCE (distinct-doc count, first doc per
    * span hash) comes from a two-level distinct aggregate — partial
    * (h, doc) dedup map-side, then one (h, doc)-pair shuffle — exactly
    * [[repeatedSpans]]' shape; the window stream then joins against
    * that evidence and only SURVIVING windows (repeated span, non-first
    * doc) reach the per-doc position aggregate.  The evidence frame is
    * proportional to the *repeated* spans, so AQE turns the join into
    * a broadcast and the corpus-wide window stream never shuffles on
    * the span hash at all — the previous formulation's window-function
    * pass sorted EVERY (h, doc, positions) row by the span hash,
    * paying a corpus-wide sort (and the boilerplate key's skew) to
    * compute evidence that is tiny (r7 bench: 6.1 s → this shape plus
    * the rolling-hash kernel ≈ 2.4–3.1 s at sf0.1; the remaining cost
    * is the evidence aggregate over ~1M mostly-unique hashes, not the
    * hashing).  A corpus whose repeated-span evidence outgrows the
    * broadcast threshold degrades to a shuffled join WITH AQE skew
    * splitting — still strictly less data motion than the former
    * corpus-wide window sort.  The window pipeline is computed twice
    * (evidence pass + join pass); it is scan + one O(len) rolling-hash
    * kernel pass ([[graft.functions.WindowHash]]) + posexplode with no
    * shuffle feeding it, so recompute beats materializing a
    * corpus-sized frame.  Per-doc surgery is one sorted position list
    * into the codegen'd [[graft.functions.SpanCut]] kernel.  Span
    * matching uses the 64-bit lane-1 rolling hash (the collision bound
    * at [[repeatedSpans]] applies — a false merge would cut a
    * non-repeated span).
    *
    * @return (doc_id, text_clean, n_spans_cut) */
  def removeRepeatedSpans(df: DataFrame, text: Column, id: Column,
                          width: Int = 60, minDocs: Int = 2): DataFrame = {
    require(width >= 1 && minDocs >= 2, s"width >= 1 and minDocs >= 2 required")
    val normed = df.select(id.as("doc_id"), TextAnalysis.normalize(text).as("norm"))
    val cnt = length(col("norm")) - lit(width - 1)
    val windows = normed.filter(cnt >= 1)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHash.windowHashes(col("norm"), width))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("h"))
    // single-distinct-column aggregate -> Spark plans it two-level
    // (no Expand): partial (h, doc) dedup + partial min map-side
    val evidence = windows
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
    val hits = windows
      .join(evidence, Seq("h"))
      .filter(col("doc_id") =!= col("first_doc"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("cut_positions"),
           count(lit(1)).as("n_spans_cut"))
    applySpanCuts(normed, hits, width)
  }

  /** The per-doc cut surgery shared by [[removeRepeatedSpans]] and
    * [[graft.operators.Contamination.removeBenchmarkSpans]]: left-join
    * the (doc_id, cut_positions, n_spans_cut) hits frame back onto the
    * normalized (doc_id, norm) docs and cut — the 1-based position
    * convention, the coalesce-0 n_spans_cut contract, and the
    * untouched-doc passthrough live HERE, once (two hand-kept copies
    * could drift on any of those). */
  private[operators] def applySpanCuts(normed: DataFrame, hits: DataFrame,
                                       width: Int): DataFrame =
    normed.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cut_positions").isNotNull,
            graft.functions.SpanCut.cutSpans(col("norm"), col("cut_positions"), width))
          .otherwise(col("norm")).as("text_clean"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"))

  /** Per-batch exact-substring span EVIDENCE, mergeable across
    * doc-disjoint batches — the incremental-accounting member of the
    * span family, completing the pattern the engine already ships for
    * MinHash bands (incremental band index), HLL, GK, and SpaceSaving:
    * each ingest batch is scanned ONCE, its evidence is STORED, and
    * every later question is a merge of stored evidence — the corpus
    * is never re-read.
    *
    * Why the evidence cannot pre-filter on `minDocs`: a span unique in
    * batch A and unique in batch B is REPEATED globally — only the
    * merge can see that — so the batch frame keeps every span with its
    * counts (one row per DISTINCT span in the batch, each carrying the
    * 60-char exemplar text so the merged output can emit the portable
    * md5 without revisiting any document).
    *
    * CONTRACT: batches must be doc-disjoint (each document's text
    * processed in exactly ONE batch — the natural per-day / per-source
    * ingest shape).  Then `count(DISTINCT doc)` per span SUMS across
    * batches, occurrences sum, and first_doc is the min — exactly what
    * [[mergeSpanEvidence]] computes.  Span identity is the fused
    * two-lane rolling hash (h1, h2); the collision bound documented at
    * [[repeatedSpans]] applies.
    *
    * Output: (h1, h2, span, n_docs, n_occurrences, first_doc). */
  def spanEvidenceBatch(df: DataFrame, text: Column, id: Column,
                        width: Int = 60): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    // null ids excluded, same contract (and for the same two-level
    // count(1)-vs-countDistinct reason) as [[repeatedSpans]]
    val normed = df.select(id.as("doc_id"), TextAnalysis.normalize(text).as("norm"))
      .filter(col("doc_id").isNotNull)
    val live = normed.filter(length(col("norm")) - lit(width - 1) >= 1)
    // explicit two-level primitive aggregates (count/min per (span,
    // doc), then count/sum/min/min_by per span) rather than
    // countDistinct + min(struct): the struct buffer forced the whole
    // window stream through SortAggregate — all-primitive buffers keep
    // both levels in HashAggregate with the same shuffle bytes (see
    // the twin rewrite in [[repeatedSpans]] for the equivalence note).
    val agg = live
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHash.windowHashPairs(col("norm"), width))
          .as(Seq("pos0", "hs")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        col("hs.h1").as("h1"), col("hs.h2").as("h2"))
      .groupBy(col("h1"), col("h2"), col("doc_id"))
      .agg(count(lit(1)).as("occ"), min(col("pos")).as("minpos"))
      .groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("n_docs"),
           coalesce(sum(col("occ")), lit(0L)).as("n_occurrences"),
           min(col("doc_id")).as("first_doc"),
           min_by(col("minpos"), col("doc_id")).as("ex_pos"))
    // one exemplar extraction per distinct span: the (doc, pos) min is
    // deterministic, and the join streams the batch's docs past the
    // aggregated evidence
    agg.join(normed.select(col("doc_id").as("ex_doc"), col("norm")),
        col("first_doc") === col("ex_doc"))
      .select(col("h1"), col("h2"),
        col("norm").substr(col("ex_pos"), lit(width)).as("span"),
        col("n_docs"), col("n_occurrences"), col("first_doc"))
  }

  /** Compact STORED span evidence into ONE evidence row per span —
    * the GENERATION merge: the output keeps the full evidence schema
    * (h1, h2, span, summed counts, min first_doc) and applies NO
    * minDocs cut, so it can be stored and merged again with later
    * batches indefinitely (the algebra is associative, and a span
    * whose doc count only crosses the threshold in a later generation
    * is preserved).  [[mergeSpanEvidence]] is the terminal REPORT.
    * Publish each generation's evidence through
    * [[graft.sources.ManifestStore]] (atomic, versioned, exactly-once
    * per stream batch) rather than raw directory appends, which a
    * concurrent reader can observe torn. */
  def compactSpanEvidence(stored: DataFrame): DataFrame = {
    requireSpanEvidenceSchema(stored)
    stored.groupBy(col("h1"), col("h2"))
      .agg(min(col("span")).as("span"),
           sum(col("n_docs")).as("n_docs"),
           sum(col("n_occurrences")).as("n_occurrences"),
           min(col("first_doc")).as("first_doc"))
      .select(col("h1"), col("h2"), col("span"),
        col("n_docs"), col("n_occurrences"), col("first_doc"))
  }

  private def requireSpanEvidenceSchema(stored: DataFrame): Unit = {
    // fail loudly on a frame that is not span evidence (extra columns
    // like a batch tag are fine; missing ones are silent-corruption
    // bait under groupBy's analysis errors).  In particular a
    // mergeSpanEvidence REPORT (span_hash, no h1/h2/span) is not
    // re-mergeable — store compactSpanEvidence output instead.
    val needed = Seq("h1", "h2", "span", "n_docs", "n_occurrences", "first_doc")
    val missing = needed.filterNot(c => stored.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"stored frame is missing span-evidence columns: ${missing.mkString(", ")}" +
        " — merge generations with compactSpanEvidence output, not the final report")
  }

  /** Merge STORED span evidence (any number of doc-disjoint batches
    * and/or [[compactSpanEvidence]] generations) into the TERMINAL
    * global repeated-span report: same schema and portable md5
    * span_hash as [[repeatedSpans]] with `portableHash = true`,
    * computed from the stored table alone.  The report drops the
    * (h1, h2, span) evidence columns and applies the minDocs cut, so
    * it is NOT itself re-mergeable — keep the compacted evidence when
    * later generations are expected. */
  def mergeSpanEvidence(stored: DataFrame, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    requireSpanEvidenceSchema(stored)
    stored.groupBy(col("h1"), col("h2"))
      .agg(sum(col("n_docs")).as("n_docs"),
           sum(col("n_occurrences")).as("n_occurrences"),
           min(col("first_doc")).as("first_doc"),
           min(col("span")).as("span"))
      .filter(col("n_docs") >= minDocs)
      .select(md5(col("span").cast(BinaryType)).as("span_hash"),
        col("n_docs"), col("n_occurrences"), col("first_doc"))
  }

  /** Connected components of the near-dup pair graph by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round a node takes the minimum label among itself and its
    * neighbors; at the fixpoint every node carries the minimum id of
    * its component (labels only ever decrease, so the fixpoint is
    * exact, not approximate).  This is the step that turns PAIRS
    * (minhashLsh / simhashNearDup / embeddingNearDup output) into
    * dedup decisions — transitive duplicates (a~b, b~c) land in one
    * cluster even when a~c was never a candidate pair.
    *
    * Scale posture: each round shuffles only (node, label) rows —
    * label propagation over edges, never materializing a component's
    * member list anywhere — and ends with a POINTER JUMP
    * (label(v) := label(label(v)), valid because every label is itself
    * a node id), which cuts the round count from the graph diameter to
    * ~log(diameter), the same doubling that makes Kiveris et al.'s
    * large-star/small-star converge fast.  `localCheckpoint` after
    * every round cuts the lineage so round N's plan does not replay
    * rounds 1..N-1 (superseded checkpoint blocks are dropped by the
    * context cleaner once unreferenced); the convergence probe is a
    * scan of the round's already-checkpointed frame, not an extra
    * join.
    *
    * `nodes` should be the full corpus id set — ids appearing only in
    * `pairs` are unioned in defensively, and ids in no pair stay
    * singleton components (their own label).  Convergence detection is
    * exact (a changed-label probe join, not a checksum) and works for
    * any orderable id type.
    *
    * Superseded rounds are freed EAGERLY: once round N's probe has
    * materialized round N's checkpoint, round N-1's blocks can never
    * be read again, so they are unpersisted immediately instead of
    * waiting for the ContextCleaner to GC the frame reference — under
    * a long multi-query run the dead rounds' MEMORY_AND_DISK blocks
    * otherwise pile up in the block manager and evict everything that
    * runs after them.  Only the final round's blocks survive (the
    * returned frame reads them).
    *
    * `reliableDir` trades speed for fault tolerance: `localCheckpoint`
    * (the default) stores round blocks on executors — an executor loss
    * mid-iteration kills the job unreconstructably, because the
    * lineage was truncated.  A real-cluster 100 TB run should pass a
    * DFS path here: rounds then checkpoint reliably via
    * `setCheckpointDir`, surviving executor loss, at the cost of one
    * extra computation of each round's frame when the checkpoint files
    * are written (Spark re-evaluates an unpersisted RDD at
    * checkpoint-write time; files are cleaned by the ContextCleaner
    * when `spark.cleaner.referenceTracking.cleanCheckpoints` is set).
    *
    * The DRIVER TIER: the pair set is duplicate *evidence* — its size
    * is proportional to the duplicates found, not to the corpus — so
    * for most corpora it is orders of magnitude smaller than the node
    * set.  When it fits under `driverPairLimit` (probed with a
    * limit-collect, the same driver-bounded-loop contract as the BPE
    * merge trainer), the components are solved in one union-find pass
    * on the driver and the (endpoint → label) map — still tiny —
    * broadcasts back over the node set: ZERO iterative Spark jobs,
    * zero checkpoints, zero block-manager churn.  A corpus whose pair
    * graph exceeds the bound (billions of near-dup pairs at 100 TB)
    * falls through to the distributed loop automatically.  Both tiers
    * compute the identical labeling (spec-pinned against each other);
    * `driverPairLimit = 0` forces the distributed loop.  Each
    * distributed round runs its jobs under the description
    * `connectedComponents round <i>` (i from 1), so a listener counts
    * the rounds a call took; the driver tier runs no round.
    *
    * @param nodes  one row per corpus id (extra columns ignored)
    * @param idCol  id column name in `nodes`
    * @param pairs  undirected edges as columns `id_a`, `id_b`
    * @param reliableDir  DFS checkpoint dir for fault-tolerant rounds;
    *                     None (default) = executor-local checkpoints
    * @param driverPairLimit  max pair count solved driver-side; above
    *                         it the distributed loop runs
    * @return (node, component) — component is the min id reachable
    */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
                          maxIter: Int = 50,
                          reliableDir: Option[String] = None,
                          driverPairLimit: Int = 2000000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Materialize the caller's pair pipeline ONCE: pairs is typically
    // an expensive plan (LSH candidates + Jaccard verification), and
    // it is referenced by both edge directions and the node set — four
    // unpersisted references would re-run the whole pipeline four
    // times (observed 4x wall time on the end-to-end near-dedup).
    // a pair with a null endpoint carries no linkage evidence — and
    // worse, the symmetrized edge join would emit spurious
    // (node = null, component) rows while silently dropping the
    // non-null direction
    val p0 = pairs.select(col("id_a"), col("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // driver tier: orderable-primitive ids only (the union-find min
    // must reproduce the column ordering exactly; integral natural
    // order and UTF8 byte order do — a Double column's NaN ordering
    // would not, so anything else takes the distributed loop)
    val idTypes = p0.schema.fields.map(_.dataType).toSeq
    val driverOrderable = idTypes.distinct.sizeIs == 1 && isDriverOrderable(idTypes.head)
    if (driverOrderable && driverPairLimit > 0) {
      val sample = collectPairsIfSmall(p0, driverPairLimit)
      sample.foreach { rows =>
        try return driverComponents(nodes, idCol, rows, idTypes.head)
        finally p0.unpersist(blocking = false)
      }
      // over the bound: the partitions the probe computed are already
      // cached; the loop below reuses them and computes the rest
    }
    // symmetrized edges, reused each round -> persist serialized (the
    // left join below keeps every node, so no self-loops are needed)
    // STATIC across rounds, so cache it already hash-partitioned on
    // the join key: distinct() leaves the frame partitioned on
    // (src, dst), which does NOT satisfy the per-round join on src —
    // every round would re-exchange the full edge set (measured: the
    // dominant term of the cc rehearsal's per-round shuffle).  With
    // the explicit repartition the cached relation's outputPartitioning
    // matches the join, and each round exchanges only the (node, comp)
    // labels, which change per round and cannot be avoided.
    val edges = p0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // src of the symmetrized edges covers every pair endpoint
    val ids = nodes.select(col(idCol).as("node"))
      .union(edges.select(col("src").as("node")))
      .distinct()
    // respect a checkpoint dir the caller's session already configured:
    // overriding it here would be a session-global side effect that
    // outlives this operator call (checkpoints still land somewhere
    // reliable either way, which is all `reliableDir` promises)
    reliableDir.foreach { dir =>
      val sc = nodes.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    }
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (reliableDir.isDefined) df.checkpoint(eager) else df.localCheckpoint(eager)
    // the executor-resident blocks behind a localCheckpoint'd frame:
    // the frame's plan IS a LogicalRDD over the checkpointed RDD, so
    // unpersisting that RDD frees the round's blocks (reliable
    // checkpoints keep nothing in the block manager — nothing to free)
    def freeBlocks(df: DataFrame): Unit =
      if (reliableDir.isEmpty)
        df.queryExecution.analyzed.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false); ()
          case _ => ()
        }
    try {
      var labels = ckpt(ids.select(col("node"), col("node").as("comp")), eager = true)
      var prevRound: DataFrame = labels
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // min label over {self} ∪ neighbors in ONE aggregate: the
        // neighbor-labels stream unions with the labels themselves
        // (flagged), and a single groupBy(node) takes the min while
        // re-emitting the node's own previous label off the flagged
        // row (exactly one per node) for the fixpoint probe — isolated
        // nodes survive via their own row.  The nbrMin-aggregate +
        // left-join formulation computes the same labeling with one
        // more join per round (measured slower).
        val nbrLabels = edges.join(labels, col("src") === col("node"))
          .select(col("dst").as("node"), col("comp").as("cand"), lit(false).as("self"))
        val merged = labels
          .select(col("node"), col("comp").as("cand"), lit(true).as("self"))
          .union(nbrLabels)
          .groupBy(col("node"))
          .agg(min(col("cand")).as("c2"),
            max(when(col("self"), col("cand"))).as("comp"))
          .select(col("node"), col("comp"), col("c2"))
        // pointer jump: c3 = c2-label-of-c2 THROUGH THE MERGED labeling
        // (not the stale pre-merge one — jumping through `labels` was
        // measured to double the round count: it misses everything this
        // round's neighbor-min just learned).  Every label IS a node id
        // and labels only decrease, so the jump is monotone and exact.
        val reps = merged.select(col("node").as("rnode"), col("c2").as("rcomp"))
        val jumped0 = merged.join(reps, col("c2") === col("rnode"), "left")
          .select(col("node"), col("comp"),
            least(col("c2"), coalesce(col("rcomp"), col("c2"))).as("c3"))
        // LAZY checkpoint: the convergence probe right below is the
        // round's first action, so it both materializes the checkpoint
        // and answers the fixpoint question in ONE job (an eager
        // checkpoint spent a separate job per round just materializing)
        val jumped = ckpt(jumped0, eager = false)
        // exact fixpoint probe on the checkpointed frame: labels only
        // decrease, so "no change this round" IS the global fixpoint
        converged = describing(nodes.sparkSession, s"connectedComponents round ${iter + 1}") {
          jumped.filter(col("c3") =!= col("comp")).limit(1).count() == 0L
        }
        // this round is materialized -> the previous round's blocks
        // are unreachable from here on; free them now, not at GC time
        freeBlocks(prevRound)
        prevRound = jumped
        labels = jumped.select(col("node"), col("c3").as("comp"))
        iter += 1
      }
      // returning a half-propagated labeling would silently split real
      // clusters (and keepComponentWinners would then keep duplicate
      // docs) — refuse instead.  With pointer jumping, rounds scale
      // with log(diameter), so the default 50 covers any real graph.
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
            "raise maxIter (rounds needed ~ log2 of the graph diameter)")
      labels.select(col("node"), col("comp").as("component"))
    } finally { edges.unpersist(); p0.unpersist(); () }
  }

  /** Driver-tier components: one union-find pass over the collected
    * pair rows, then the (endpoint → min-label) map — proportional to
    * the *duplicates*, not the corpus — broadcasts over the node set.
    * Roots always link larger-under-smaller, so every root is the
    * minimum id of its set by induction and the labeling is exactly
    * the distributed loop's fixpoint.  String ids compare in UTF-8
    * byte order (Spark's StringType ordering), not UTF-16 code-unit
    * order — they differ above U+E000. */
  /** Id types whose driver-side `Comparable`/UTF-8 ordering reproduces
    * Spark's column ordering exactly (the driver-tier contract). */
  private def isDriverOrderable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Limit-probe of the pair frame: `Some(rows)` when the pair count
    * fits `limit` with no null endpoint, `None` otherwise (the
    * partitions the probe computed stay cached for the caller's
    * fallback).
    *
    * ONE job, not CollectLimitExec's incremental scale-up: the default
    * limit execution probes 1 partition, then 4x more each round — 3-4
    * sequential jobs on a corpus-sized pipeline, each a scheduling
    * round trip driver-machine contention amplifies (the r11 q70
    * record).  Overriding `initialNumPartitions` for just this collect
    * makes the limit read every partition in a single job; the bound
    * still caps what reaches the driver.
    *
    * The override lives on a throwaway CHILD session (isolated SQLConf,
    * shared SparkContext and cache), never on the caller's session — a
    * concurrent query on the same session must not observe the
    * override, and two threads entering here must not race a
    * save/restore of shared conf.  Re-binding the plan through
    * `p0.rdd` keeps the lineage (and any persisted upstream frame the
    * caller relies on) intact. */
  private def collectPairsIfSmall(p0: DataFrame, limit: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val child = p0.sparkSession.newSession()
    child.conf.set("spark.sql.limit.initialNumPartitions", Int.MaxValue)
    val sample = child.createDataFrame(p0.rdd, p0.schema).limit(limit + 1).collect()
    if (sample.length <= limit && !sample.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      Some(sample)
    else None
  }

  /** Union-find over collected pair rows; roots always link
    * larger-under-smaller so every root is the minimum id of its set
    * (String ids in UTF-8 byte order, Spark's StringType ordering). */
  private def ufBuild(pairRows: Array[org.apache.spark.sql.Row]): java.util.HashMap[Any, Any] = {
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val parent = new java.util.HashMap[Any, Any]()
    pairRows.foreach { row =>
      val (ra, rb) = (ufRoot(parent, row.get(0)), ufRoot(parent, row.get(1)))
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    parent
  }

  /** Root of `x` with path compression (inserts unseen ids as their
    * own root). */
  private def ufRoot(parent: java.util.HashMap[Any, Any], x: Any): Any = {
    if (!parent.containsKey(x)) { parent.put(x, x); x }
    else {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression keeps repeat finds near O(1)
      while (c != r) { val p = parent.get(c); parent.put(c, r); c = p }
      r
    }
  }

  private def driverComponents(nodes: DataFrame, idCol: String,
                               pairRows: Array[org.apache.spark.sql.Row],
                               idType: DataType): DataFrame = {
    val parent = ufBuild(pairRows)
    def root(x: Any): Any = ufRoot(parent, x)
    val spark = nodes.sparkSession
    val schema = StructType(Seq(
      StructField("node", idType), StructField("comp", idType)))
    val labelRows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach { k =>
      labelRows.add(org.apache.spark.sql.Row(k, root(k))); ()
    }
    val labels = spark.createDataFrame(labelRows, schema)
    // same node universe as the loop: corpus ids ∪ pair endpoints,
    // deduplicated; endpoints missing a label keep their own id
    nodes.select(col(idCol).as("node"))
      .union(labels.select(col("node")))
      .distinct()
      .join(broadcast(labels), Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("component"))
  }

  /** Keeps exactly one canonical row per duplicate cluster: the
    * component label IS the minimum member id
    * ([[connectedComponents]]'s fixpoint), so the winners are the rows
    * whose id equals their component — a semi join, no row data ever
    * enters the clustering. */
  def keepComponentWinners(df: DataFrame, id: Column, components: DataFrame): DataFrame = {
    val winners = components
      .filter(col("node") === col("component"))
      .select(col("node").as("win_id"))
    df.join(winners, id === col("win_id"), "left_semi")
  }

  /** Like [[keepComponentWinners]] but with a caller-chosen canonical
    * row per cluster (e.g. keep the LONGEST document, not the lowest
    * id): rows join their component label and a window partitioned by
    * component ranks them by `order` (ties broken by id for
    * determinism).  One extra shuffle on the component key versus the
    * min-id semi join — use when the canonical-choice policy matters
    * more than the cheapest plan. */
  def keepComponentWinnersBy(df: DataFrame, id: Column, components: DataFrame,
                             order: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(order :+ id.asc: _*)
    df.join(components, id === col("node"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("node", "component", "_rn")
  }

  /** End-to-end near-duplicate dedup: MinHash-LSH candidates → exact
    * n-gram Jaccard verification ≥ `minJaccard` → connected components
    * over the verified pair graph → keep the min-id winner per cluster.
    * Composes the scale-shaped pieces above: candidate generation reads
    * the corpus once, verification cost is proportional to candidates,
    * clustering shuffles only (id, label) rows, and the final keep is a
    * semi join.
    *
    * `keepBy` selects the canonical row per cluster (e.g.
    * `Seq(length(col("text")).desc)` keeps the longest); empty (the
    * default) keeps the min id via the cheaper semi join.
    * `reliableDir` passes through to [[connectedComponents]] — a real
    * cluster run should set it so executor loss mid-clustering is
    * survivable.
    *
    * Min-id keeps ride the DRIVER TIER one step further than
    * [[connectedComponents]]: once the verified pairs are on the
    * driver, the rows to DROP are exactly the union-find endpoints
    * whose root is not themselves — no (node, label) frame, no label
    * broadcast-join over the corpus, no winner filter; just one
    * broadcast anti join of the corpus against the loser set.  Every
    * Spark job is a scheduling round trip a busy driver pays dearly
    * for — this path runs ~4 fewer jobs than composing
    * [[connectedComponents]] + [[keepComponentWinners]] (same rows,
    * spec-pinned against that composition).  Loser count is bounded by
    * the pair count (≤ `driverPairLimit`); a corpus whose pair graph
    * exceeds the bound falls through to the distributed composition
    * automatically. */
  def nearDedupCorpus(df: DataFrame, text: Column, id: Column,
                      shingleSize: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
                      minJaccard: Double = 0.8, keepBy: Seq[Column] = Nil,
                      reliableDir: Option[String] = None,
                      driverPairLimit: Int = 2000000,
                      portableHash: Boolean = false,
                      maxBucket: Int = 0): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // FUSED prep frame — the r12 job-graph flattening: ONE corpus scan
    // computes BOTH the signature lanes (candidate generation) and the
    // exact distinct-shingle hash set (verification) from the same
    // normalize pass, persisted so candidate-gen and verify read the
    // cache instead of each re-scanning + re-shingling the corpus (the
    // pre-r12 shape ran ngramJaccard's semi-join + repartition +
    // melt/groupBy chain on a second scan — ~4 more sequential jobs,
    // which driver-machine contention amplified 3-4x in the r11 bench
    // record).  Cache footprint is ≤ 8·L bytes per doc (the shingle
    // set) at MEMORY_AND_DISK_SER — spill-safe; for corpora where that
    // footprint dominates, compose mhCollisionPairs + ngramJaccard
    // manually (they remain the candidate-only-shingling pieces).
    // est_jaccard is never computed — exact Jaccard decides.
    val k = bands * rowsPerBand
    val normed = TextAnalysis.normalize(text)
    val sigExpr =
      if (portableHash) graft.functions.WindowHash.portableMinhashSig(normed, shingleSize, k)
      else graft.functions.MinHash.minhashSig(normed, shingleSize, k)
    val prep = df.select(id.as("doc_id"), sigExpr.as("sig"),
        graft.functions.MinHash.shingleHashSet(normed, shingleSize).as("hs"))
      .filter(col("sig").isNotNull) // docs shorter than the shingle width: no evidence
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val banded = capBuckets(
      prep.select(col("doc_id"),
        explodedBandKeys(col("sig"), bands, rowsPerBand, portableHash).as("band_key")),
      maxBucket)
    // true self-join (identical projections) so the band_key exchange
    // canonicalizes equal and ReusedExchange materializes it once
    val cand = banded.alias("a").join(banded.alias("b"), col("a.band_key") === col("b.band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct() // BEFORE the verify kernel: a duplicate cluster collides in ~every band
    // verify straight off the cache: two joins of the (small) distinct
    // pair frame against prep — AQE broadcasts the pair side locally,
    // and at scale both prep probes hash the same key over the same
    // cached child.  Every cand endpoint is in prep by construction
    // (inner joins drop nothing); arithmetic is ngramJaccard's exactly.
    val verified = exactJaccardOfPairs(cand, prep)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"))
    // keepMinIdWinners' driver-tier collect (or connectedComponents'
    // eager checkpoint loop) has materialized everything that reads
    // prep by the time it returns — the lazily-returned frame only
    // re-scans the raw corpus for the anti/semi join
    if (keepBy.isEmpty) {
      val out = keepMinIdWinners(df, id, verified, driverPairLimit, reliableDir)
      prep.unpersist(blocking = false)
      return out
    }
    val comps = connectedComponents(df.select(id.as("nid")), "nid", verified,
      reliableDir = reliableDir, driverPairLimit = driverPairLimit)
    val out = keepComponentWinnersBy(df, id, comps, keepBy)
    prep.unpersist(blocking = false)
    out
  }

  /** ONE definition of the exact-Jaccard verification kernel shared by
    * [[verifiedPairs]] and [[nearDedupCorpus]]: join the candidate
    * (id_a, id_b) frame against the cached (doc_id, hs) shingle sets
    * on both endpoints and compute [[ngramJaccard]]'s exact arithmetic
    * (a drift in the rounding or the ≥1 denominator guard would
    * otherwise desynchronize the two spec-pinned callers).  Every cand
    * endpoint must exist in `prep` — both callers build cand from prep
    * via inner joins. */
  private def exactJaccardOfPairs(cand: DataFrame, prep: DataFrame): DataFrame =
    cand
      .join(prep.select(col("doc_id").as("sid_a"), col("hs").as("hs_a")),
        col("id_a") === col("sid_a"))
      .join(prep.select(col("doc_id").as("sid_b"), col("hs").as("hs_b")),
        col("id_b") === col("sid_b"))
      .withColumn("sz_a", size(col("hs_a")).cast(LongType))
      .withColumn("sz_b", size(col("hs_b")).cast(LongType))
      .withColumn("n_inter", graft.functions.MinHash.intersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", round(col("n_inter").cast(DoubleType) /
        greatest(col("sz_a") + col("sz_b") - col("n_inter"), lit(1L)).cast(DoubleType), 6))

  /** Min-id keep over a duplicate-pair graph with the driver-tier
    * loser anti-join fast path (see [[nearDedupCorpus]]'s scaladoc):
    * when the pairs fit the driver bound, the rows to DROP are the
    * union-find endpoints whose root isn't themselves — one broadcast
    * anti join, no label frame; otherwise the distributed
    * [[connectedComponents]] + [[keepComponentWinners]] composition
    * runs.  Shared by [[nearDedupCorpus]] and [[semanticDedup]]. */
  private[graft] def keepMinIdWinners(df: DataFrame, id: Column, pairs: DataFrame,
                                      driverPairLimit: Int = 2000000,
                                      reliableDir: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairIdTypes = pairs.select(col("id_a"), col("id_b"))
      .schema.fields.map(_.dataType).toSeq
    if (driverPairLimit > 0 &&
        pairIdTypes.distinct.sizeIs == 1 && isDriverOrderable(pairIdTypes.head)) {
      val p0 = pairs.select(col("id_a"), col("id_b"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      collectPairsIfSmall(p0, driverPairLimit) match {
        case Some(rows) =>
          p0.unpersist(blocking = false)
          val parent = ufBuild(rows)
          val loserRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
          parent.keySet().forEach { k =>
            if (ufRoot(parent, k) != k) { loserRows.add(org.apache.spark.sql.Row(k)); () }
          }
          val losers = df.sparkSession.createDataFrame(loserRows,
            StructType(Seq(StructField("lose_id", pairIdTypes.head))))
          // null-id rows never match a semi join's winner list — the
          // anti join must not resurrect them
          return df.filter(id.isNotNull)
            .join(broadcast(losers), id === col("lose_id"), "left_anti")
        case None => // pair graph too big: distributed composition below
          val comps = connectedComponents(df.select(id.as("nid")), "nid", p0,
            reliableDir = reliableDir, driverPairLimit = 0)
          try return keepComponentWinners(df, id, comps)
          finally p0.unpersist(blocking = false)
      }
    }
    // forward the caller's bound: driverPairLimit = 0 means FORCE the
    // distributed loop (connectedComponents' documented contract) —
    // defaulting here would silently re-enable the driver tier with
    // 2M pairs exactly when the caller forbade driver collection
    val comps = connectedComponents(df.select(id.as("nid")), "nid", pairs,
      reliableDir = reliableDir, driverPairLimit = driverPairLimit)
    keepComponentWinners(df, id, comps)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-duplicate removal over an EMBEDDING column — the
    * modality where MinHash/SimHash see nothing (paraphrases,
    * translations, re-renders).  The paper's core trick bounds the
    * quadratic pair search with k-means cells: only INTRA-CLUSTER
    * pairs are ever cosine-scored; pairs ≥ `threshold` form the
    * duplicate graph, connected components make the decision
    * transitive, and the min-id representative per semantic cluster
    * survives.
    *
    * Scale shape: centroids are the driver-bounded k-means state
    * ([[Similarity.kmeansFit]]), the cell assignment is a literal
    * argmin projection (ZERO shuffle at any corpus size — the
    * ivfAssign shape), the ONLY corpus shuffle is the within-cell
    * self-join on the cell id (ReusedExchange computes the assignment
    * pipeline once), whose quadratic expansion is bounded per cell by
    * choosing k ≈ n / targetCell — the same population discipline as
    * the LSH buckets.  Clustering then shuffles (id, label) pairs
    * only, riding [[keepMinIdWinners]]'s driver tier when the pair
    * graph is small.
    *
    * Rows with null vectors carry no similarity evidence and are KEPT
    * (never silently dropped).
    *
    * @return the kept rows of `corpus` (one representative per
    *         semantic duplicate cluster) */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, threshold: Double, iters: Int = 2,
                    driverPairLimit: Int = 2000000,
                    targetCell: Int = 250, corpusCount: Long = -1L): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must lie in [-1, 1], got $threshold")
    require(k >= 0, s"k must be >= 0 (0 = auto from corpus size), got $k")
    require(targetCell >= 1, s"targetCell must be positive, got $targetCell")
    // k = 0 ⇒ population discipline as the DEFAULT, not documentation:
    // k ≈ n/targetCell keeps per-cell occupancy (the quadratic pair
    // term) constant at any corpus size — the same auto-resolution
    // convention as lshPairs' planes=0 (the r18 25× suite run measured
    // the fixed-k alternative at 32× wall for 25× data; the
    // disciplined path is 3.4×, BASELINE.md semdedup rehearsal)
    // clamp to the assignment tier's own centroid bound
    // ([[Similarity.MaxCentroids]]): past ~MaxCentroids*targetCell rows
    // the population discipline saturates (cells grow instead) rather
    // than training a centroid set collectCentroidLits would reject
    // AFTER the k-means fit was already paid
    val kEff =
      if (k > 0) k
      else {
        val n = if (corpusCount >= 0) corpusCount else corpus.count()
        math.max(8L, n / targetCell).min(Similarity.MaxCentroids.toLong).toInt
      }
    val cents = Similarity.kmeansFit(corpus, idCol, vecCol, kEff, iters)
      .select(col("centroid_id").as(idCol), col("centroid").as(vecCol))
    // squared norm once per row, not 3·d flops per pair — the
    // intra-cell scorer is SemDeDup's hot loop; bit-identical values
    // (see Similarity.exactPairs' equivalence note)
    val cells = Similarity.cellAssigned(corpus, cents, idCol, vecCol)
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
    val denom = sqrt(col("a.n2")) * sqrt(col("b.n2"))
    val pairs = cells.alias("a").join(cells.alias("b"), col("a.cell") === col("b.cell"))
      .filter(col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        round(when(denom === 0.0, lit(Double.NaN))
          .otherwise(graft.functions.VectorSim.dot(col("a.v"), col("b.v")) / denom), 6)
          .as("cos_sim"))
      // NaN (zero-norm) sorts greater than every double — drop, never
      // let it pass a >= threshold gate
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"))
    keepMinIdWinners(corpus, col(idCol), pairs, driverPairLimit)
  }

  /** Incremental SemDeDup: dedup a NEW batch of embeddings against an
    * existing KEPT store under FIXED cells — the embedding member of
    * the store-once/merge-later family (q86 minhash bands, q122 span
    * evidence, q118–q120 sketch columns).  Ingest day N never
    * re-scores the store against itself: cells come from the provided
    * `centroids` (train once — e.g. [[Similarity.kmeansFit]] on the
    * first corpus — then FREEZE, so assignment stays reproducible
    * across ingests), only pairs with at least one batch endpoint are
    * cosine-scored (store×store is resolved by construction), and a
    * batch row survives iff its duplicate component contains NO store
    * row and it is the minimum batch id in the component.  The
    * survivors are exactly the rows to APPEND to the store.
    *
    * Scale shape: assignment is a literal argmin projection on both
    * sides (zero shuffle, the ivfAssign shape); the within-cell join
    * excludes the store×store quadrant, so its quadratic term is
    * per-cell batch×(store+batch) — bounded by the same population
    * discipline as [[semanticDedup]] (grow the centroid count with
    * the store); components ride [[connectedComponents]] (driver
    * union-find for small pair graphs, log-diameter loop above).
    *
    * Divergence contract vs a full batch [[semanticDedup]] over the
    * union (inherent to ANY incremental dedup): a batch row similar
    * only to a REMOVED earlier duplicate — not to its surviving
    * representative — is KEPT here (the removed row is gone, so no
    * edge exists), where the full run would have linked them
    * transitively.  Spec-pinned in both directions.
    *
    * Publish the survivors (and the persisted-cell store generally)
    * through [[graft.sources.ManifestStore]] — a raw directory append
    * is torn-readable by a concurrent consumer; the manifest commit
    * is atomic, idempotent per stream batch, and versioned.
    *
    * Batch rows with null vectors carry no similarity evidence and
    * are KEPT; null-id rows are dropped (the [[keepMinIdWinners]]
    * convention).
    *
    * @return the surviving rows of `batch` */
  def semanticDedupIncremental(store: DataFrame, batch: DataFrame, centroids: DataFrame,
                               idCol: String, vecCol: String, threshold: Double,
                               driverPairLimit: Int = 2000000,
                               storeCellCol: Option[String] = None): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must lie in [-1, 1], got $threshold")
    // storeCellCol: the store's cell assignments PERSISTED from earlier
    // ingests (they are stable while the centroids stay frozen), so the
    // per-ingest assignment cost is batch-only instead of re-walking
    // the whole store every generation — the amortized-flat ingest
    // pattern the `semincr` rehearsal measures.  Reassign (and drop
    // the column for one call) after any centroid refit.
    val s = storeCellCol match {
      case Some(c) =>
        store.select(col(idCol).as("vid"), Similarity.asDouble(col(vecCol)).as("v"),
            col(c).cast("long").as("cell"))
          .filter(col("v").isNotNull)
          .withColumn("st", lit(true))
      case None =>
        Similarity.cellAssigned(store, centroids, idCol, vecCol)
          .withColumn("st", lit(true))
    }
    val b = Similarity.cellAssigned(batch, centroids, idCol, vecCol)
      .withColumn("st", lit(false))
    // squared norm once per row (store + batch), not 3·d flops per
    // pair — same carried-norm scorer as semanticDedup/exactPairs
    val all = s.unionByName(b)
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
    val denom = sqrt(col("a.n2")) * sqrt(col("b.n2"))
    val pairs = all.alias("a").join(all.alias("b"),
        col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid") &&
          !(col("a.st") && col("b.st")))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        round(when(denom === 0.0, lit(Double.NaN))
          .otherwise(graft.functions.VectorSim.dot(col("a.v"), col("b.v")) / denom), 6)
          .as("cos_sim"))
      // NaN (zero-norm) sorts greater than every double — drop, never
      // let it pass a >= threshold gate
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"))
    // node universe: the BATCH only — connectedComponents unions pair
    // endpoints in defensively, so every store row that shares an edge
    // with the batch is present, and a store row in NO pair is a
    // singleton that can never be a loser (the !st filter) nor affect
    // has_store.  Passing the full store+batch id set here made every
    // ingest distinct/shuffle the ENTIRE store for the node universe —
    // store-proportional work per generation, the exact growth the
    // amortized-flat ingest contract (and the `semincr` rehearsal)
    // rules out.
    val comps = connectedComponents(b.select(col("vid").as("nid")), "nid", pairs,
      driverPairLimit = driverPairLimit)
    val tagged = comps.join(all.select(col("vid"), col("st")), col("node") === col("vid"))
    // per-component verdicts: any store member contaminates the whole
    // component (store rows are immutable survivors — min-id cannot
    // overrule them); among batch-only components the min id wins
    val stats = tagged.groupBy(col("component"))
      .agg(max(when(col("st"), 1).otherwise(0)).as("has_store"),
        min(when(!col("st"), col("node"))).as("min_batch"))
    val losers = tagged.filter(!col("st")).join(stats, "component")
      .filter(col("has_store") === 1 || col("node") =!= col("min_batch"))
      .select(col("node").as("lose_id"))
    batch.filter(col(idCol).isNotNull)
      .join(losers, col(idCol) === col("lose_id"), "left_anti")
  }

  /** The r3 explode + two-groupBy Jaccard (kept as the independent
    * reference implementation the fused kernel is spec-verified
    * against). */
  private[graft] def ngramJaccardExploded(pairs: DataFrame, docs: DataFrame,
                                          id: Column, text: Column,
                                          n: Int = 5): DataFrame = {
    val members = pairs.select(col("id_a"), col("id_b"),
        explode(array(
          struct(col("id_a").as("doc_id"), lit(0).as("side")),
          struct(col("id_b").as("doc_id"), lit(1).as("side")))).as("m"))
      .select(col("id_a"), col("id_b"), col("m.doc_id"), col("m.side"))
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("cand_id")).distinct()
    val candDocs = docs.join(candIds, id === col("cand_id"), "left_semi")
      .repartition(id)
    val sh = TextAnalysis.shingleHashes(candDocs, text, id, n)
    val perHash = members.join(sh, Seq("doc_id"))
      .groupBy(col("id_a"), col("id_b"), col("h"))
      .agg(max(when(col("side") === 0, 1).otherwise(0)).as("in_a"),
           max(when(col("side") === 1, 1).otherwise(0)).as("in_b"))
    perHash
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("in_a")).as("sz_a"), sum(col("in_b")).as("sz_b"),
           sum(col("in_a") * col("in_b")).as("n_inter"))
      .withColumn("jaccard", round(col("n_inter").cast(DoubleType) /
        greatest(col("sz_a") + col("sz_b") - col("n_inter"), lit(1)).cast(DoubleType), 6))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
