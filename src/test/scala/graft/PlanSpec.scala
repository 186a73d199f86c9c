package graft

import org.apache.spark.sql.functions._
import graft.core.EzFrame

/** Plan-quality gates: these tests pin the *physical plan* properties
  * that make the engine viable at 100 TB — predicate pushdown into the
  * parquet scan, column pruning, broadcast joins for small dims, and
  * whole-stage codegen coverage.  A regression here is a performance
  * bug even when results stay correct. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val li = EzFrame.readParquet(spark, s"$sf/lineitem.parquet")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("translated predicate pushes down to the parquet scan") {
    val q = li.selectWhere("l_quantity l_extendedprice", "l_discount > 0.05")
    val plan = planOf(q.df)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(l_discount,0.05)") && pushed.contains("IsNotNull(l_discount)"),
      s"filter not pushed:\n$plan")
  }

  test("projection prunes the scan schema to referenced columns") {
    val q = li.selectWhere("l_quantity l_extendedprice", "l_discount > 0.05")
    val plan = planOf(q.df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_returnflag"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("small dimension joins broadcast; fact side never broadcasts") {
    val plan = planOf(SparkEntry.queries("q03_join_star")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in star query:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "degenerate nested-loop join present")
  }

  test("q124 part-dimension join broadcasts; fact side pays no pre-join exchange") {
    val df = SparkEntry.queries("q124_part_dim_join")(spark, sf)
    df.collect() // finalize AQE
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"part dimension not broadcast:\n$plan")
    assert(plan.contains("partial_sum"), "map-side combine missing on the revenue rollup")
    // the ONLY shuffle is the (p_brand, p_type) aggregate exchange —
    // the fact scan feeds the broadcast probe directly.  Count inside
    // the FINAL plan only: AdaptiveSparkPlan's toString repeats the
    // whole tree under '== Initial Plan ==' and would double-count
    val finalPlan = plan.split("== Initial Plan ==").head
    val shuffles = finalPlan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") && !l.contains("ReusedExchange"))
    assert(shuffles <= 1, s"expected at most the aggregate exchange, got $shuffles:\n$finalPlan")
  }

  test("aggregation is partial+final hash agg inside whole-stage codegen") {
    val df = SparkEntry.queries("q02_agg_pricing")(spark, sf)
    df.collect() // finalize the AQE plan so codegen stages are visible
    val plan = planOf(df)
    assert(plan.contains("*("), s"no whole-stage-codegen stages:\n$plan") // '*(n)' marks codegen
    assert(plan.contains("partial_sum"), "map-side partial aggregation missing")
    assert(plan.contains("HashAggregate"), "expected hash aggregation")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planOf(SparkEntry.queries("q04_sort_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k plan:\n$plan")
  }

  test("IVF cell assignment is a pure projection — no exchange at any corpus size") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val assigned = graft.operators.Similarity.ivfAssign(
      e, e.filter(col("vec_id") < 16), "vec_id", "embedding")
    assert(graft.operators.Scale.isExchangeFree(assigned),
      s"ivfAssign must be shuffle-free (literal argmin):\n${planOf(assigned)}")
  }

  test("IVF search plans never exchange on the corpus id") {
    // the round-6 scale-killer: assignment via crossJoin + row_number
    // shuffled |corpus|·|centroids| rows on corpus_id; the literal
    // argmin must leave NO corpus_id exchange anywhere in the plan
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = e.filter(col("vec_id") < 16)
    val probes = e.filter(col("vec_id") < 3)
    for ((name, df) <- Seq(
        "ivfTopK" -> graft.operators.Similarity.ivfTopK(
          e, cents, probes, "vec_id", "embedding", k = 5),
        "ivfPqTopK" -> graft.operators.Similarity.ivfPqTopK(
          e, cents.limit(4), probes, "vec_id", "embedding",
          m = 4, k = 8, topK = 5, nprobe = 2))) {
      df.collect() // finalize AQE
      val plan = planOf(df)
      assert(!plan.contains("hashpartitioning(corpus_id"),
        s"$name shuffles on corpus_id:\n$plan")
    }
  }

  test("LSH band join is a hash or sort-merge join on a scalar key") {
    val d = EzFrame.readParquet(spark, s"$sf/documents.parquet").df
    val plan = planOf(graft.operators.Dedup.minhashLsh(d, col("text"), col("doc_id")))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH candidate join degenerated:\n$plan")
  }

  test("semanticDedup: cell assignment is a pure projection; one corpus shuffle") {
    // the only corpus exchange is the within-cell self-join on the
    // cell id — the k-means argmin itself must never shuffle, and the
    // self-join's two sides must reuse one exchange
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Similarity.kmeansFit(e, "vec_id", "embedding", k = 4, iters = 1)
      .select(col("centroid_id").as("vec_id"), col("centroid").as("embedding"))
    val cells = graft.operators.Similarity.cellAssigned(e, cents, "vec_id", "embedding")
    val assignPlan = planOf(cells)
    assert(!assignPlan.contains("Exchange"),
      s"cell assignment must be a pure projection:\n$assignPlan")
    val pairs = cells.alias("a").join(cells.alias("b"), col("a.cell") === col("b.cell"))
      .filter(col("a.vid") < col("b.vid"))
    val joinPlan = planOf(pairs)
    // small corpus: broadcast one side (zero shuffles); large corpus:
    // a shuffled self-join whose exchange canonicalizes and reuses —
    // either way never a cartesian and never more than one cell
    // exchange per side
    assert(!joinPlan.contains("CartesianProduct") &&
      !joinPlan.contains("BroadcastNestedLoopJoin"),
      s"cell self-join degenerated:\n$joinPlan")
    assert(joinPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2 &&
      (joinPlan.contains("ReusedExchange") || joinPlan.contains("BroadcastHashJoin")),
      s"self-join must broadcast or reuse one cell exchange:\n$joinPlan")
  }

  test("semanticDedupIncremental with stored cells: batch-only assignment, no store argmin") {
    // the amortized-ingest claim (BASELINE.md semincr): with
    // storeCellCol the STORE side contributes a plain parquet scan of
    // (id, vec, cell) — no argmin projection over the store, no
    // exchange before the within-cell join's own — and the batch side
    // is the only argmin.  A plan that re-derives the store's cells
    // would silently reintroduce the per-ingest store walk.
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Similarity.kmeansFit(e, "vec_id", "embedding", k = 4, iters = 1)
      .select(col("centroid_id").as("vec_id"), col("centroid").as("embedding"))
    val store = graft.operators.Similarity.cellAssigned(
        e.filter(col("vec_id") % 2 === 0), cents, "vec_id", "embedding")
      .select(col("vid").as("vec_id"), col("v").as("embedding"), col("cell"))
      .cache()
    store.count() // materialize: the stored-cell frame, as parquet would be
    val batch = e.filter(col("vec_id") % 2 === 1)
    val kept = graft.operators.Dedup.semanticDedupIncremental(
      store, batch, cents, "vec_id", "embedding", 0.3, storeCellCol = Some("cell"))
    val plan = planOf(kept)
    // (that the store side truly reads the STORED column — no argmin
    // recompute — is pinned functionally in DedupSpec's exiled-cell
    // test: a recompute would overwrite the exiled cell and change
    // the verdicts.  Plan-text argmin counting is unreliable here:
    // long expressions truncate in the printed tree.)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental cell join degenerated:\n$plan")
    val keptNoSeam = graft.operators.Dedup.semanticDedupIncremental(
      store, batch, cents, "vec_id", "embedding", 0.3)
    val a = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    val b = keptNoSeam.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "seam changed the decision")
    store.unpersist()
  }

  test("DSArtist viewport predicates reach the parquet scan") {
    // every zoom/pan re-issues the raster aggregation; the viewport
    // filter must prune row groups AT THE SCAN, or deep zooms over
    // 100 TB would re-read the whole corpus per interaction.  Axes
    // must be the RAW double columns: a numeric-widening cast (long →
    // double) wraps the attribute and blocks parquet pushdown
    val li2 = spark.read.parquet(s"$sf/lineitem.parquet")
    val q = graft.operators.Binned.raster(li2,
      col("l_quantity"), col("l_extendedprice"),
      5.0, 40.0, 1000.0, 50000.0, widthPx = 16, heightPx = 16)
    val plan = planOf(q)
    // the rendered PushedFilters list truncates; the leading entries
    // plus the full Filter node prove all four range predicates exist
    // and reach the scan
    assert(plan.contains("GreaterThanOrEqual(l_quantity,5.0)") &&
      plan.contains(">= 1000.0") && plan.contains("<= 50000.0"),
      s"viewport range not pushed to the scan:\n$plan")
  }

  test("zone search pushes both range predicates into the scan") {
    val q = li.df
      .filter(col("l_quantity") >= 10 && col("l_quantity") <= 20)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(q)
    assert(plan.contains("GreaterThanOrEqual(l_quantity,10.0)") &&
      plan.contains("LessThanOrEqual(l_quantity,20.0)"), s"range not pushed:\n$plan")
  }
  test("minhash signatures compute in the scan stage: no exchange, no aggregate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Dedup.minhashSignatures(
      docs, col("text"), col("doc_id"), 5, 32))
    assert(plan.contains("minhash_sig"), s"fused kernel missing:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"signature pipeline shuffles or aggregates:\n$plan")
  }

  test("media decode is a scan-stage codegen expression: no exchange, no aggregate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(docs.select(col("doc_id"),
      graft.operators.Multimodal.decodeMedia(
        graft.operators.Multimodal.synthMedia(col("doc_id"), col("n_chars"))).as("m")))
    assert(plan.contains("decode_media"), s"codegen'd decode expression missing:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"per-row codec work must stay in the scan stage (100 TB = map-only):\n$plan")
  }

  test("zOrderBy: one range exchange, in-partition sort, never SinglePartition") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(pmod(col("l_partkey"), lit(256)).cast(org.apache.spark.sql.types.LongType).as("x"),
        pmod(col("l_suppkey"), lit(256)).cast(org.apache.spark.sql.types.LongType).as("y"))
    val plan = planOf(graft.operators.Layout.zOrderBy(df, Seq(col("x"), col("y")), 8, 16))
    assert("rangepartitioning".r.findAllIn(plan).size == 1,
      s"exactly one range exchange expected (the clustered-write cost at any scale):\n$plan")
    assert(!plan.contains("hashpartitioning") && !plan.contains("SinglePartition"),
      s"no extra shuffle, no single-partition cliff:\n$plan")
    // the sort must be partition-local (global=false), not a global sort
    assert("Sort \\[__zorder[^\\]]*\\], false".r.findFirstIn(plan).isDefined,
      s"in-partition sort on the interleaved key expected:\n$plan")
  }

  test("chunking is shuffle-free: scan -> generate -> project") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Chunking.chunkFingerprints(
      docs, col("doc_id"), col("text"), 500, 400))
    assert(!plan.contains("Exchange"), s"chunking shuffles:\n$plan")
  }

  test("repetition signals: fused kernel — zero exchanges, zero generates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.TextAnalysis.repetitionSignals(
      docs, col("doc_id"), col("text")))
    assert(!plan.contains("Exchange"),
      s"fused token_stats must be a scan-stage projection (no shuffle):\n$plan")
    assert(!plan.contains("Generate"),
      s"fused token_stats must not explode tokens:\n$plan")
    assert(plan.contains("token_stats"), s"kernel expression missing:\n$plan")
  }

  test("token entropy: fused kernel — zero exchanges, zero generates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.TextAnalysis.tokenEntropy(
      docs, col("doc_id"), col("text")))
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"tokenEntropy must be a scan-stage projection:\n$plan")
  }

  test("mixture weights: one count-agg exchange plus a broadcast total") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Scale.mixtureWeights(docs, col("source"), 0.5))
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, // per-source agg + its reuse under the total
      s"expected only the source-count aggregation to shuffle:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoop"),
      s"the 1-row total must broadcast, not shuffle:\n$plan")
  }

  test("vocab top-k compiles to TakeOrderedAndProject over the count agg") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.TextAnalysis.topTerms(docs, col("text"), 50))
    assert(plan.contains("TakeOrderedAndProject"), s"global sort instead of top-k:\n$plan")
    assert(plan.contains("partial_count"), s"map-side combine missing:\n$plan")
  }

  test("hash sampling stays a scan-stage filter: no exchange, no aggregate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Scale.sampleStratified(
      docs, col("doc_id"), col("lang"), Map("en" -> 300)))
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"sampling should be a pure filter:\n$plan")
  }

  test("deterministicShuffle: one shard exchange + in-shard sort, never SinglePartition") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Scale.deterministicShuffle(docs, col("doc_id"), 64))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly the shard exchange:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"a global sort/window would serialize the corpus:\n$plan")
    assert(plan.contains("Window"), s"per-shard rank missing:\n$plan")
  }

  test("unigramLogLik: vocab-side join, broadcast 1-row total, no driver loop") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.TextAnalysis.unigramLogLik(
      docs, col("doc_id"), col("text")))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoop"),
      s"the 1-row total must broadcast:\n$plan")
    // term-count agg + token-count join + final doc agg; partials on
    assert(plan.contains("partial_count"), s"map-side combine missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbroadcast cross join:\n$plan")
  }

  test("portable span family plans hash-aggregable: no SortAggregate (r21)") {
    // the r20 shape aggregated min(struct(doc_id, pos)) — a struct
    // buffer is not hash-aggregable, so the corpus-wide window stream
    // was planned through SortAggregate (full sorts of every window
    // row).  The r21 two-level primitive form (count/min per (span,
    // doc), then count/sum/min/min_by per span) must stay in
    // HashAggregate end to end.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (plan <- Seq(
        planOf(graft.operators.Dedup.repeatedSpans(
          docs, col("text"), col("doc_id"), portableHash = true)),
        planOf(graft.operators.Dedup.spanEvidenceBatch(
          docs, col("text"), col("doc_id"), width = 60)))) {
      assert(!plan.contains("SortAggregate"),
        s"struct/sort-based aggregation crept back into the span path:\n$plan")
      assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    }
  }

  test("repeated spans: one generate, two-level distinct agg, two exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Dedup.repeatedSpans(
      docs, col("text"), col("doc_id")))
    assert(plan.linesIterator.count(_.contains("Generate")) == 1,
      s"expected a single explode:\n$plan")
    // count(distinct doc_id) plans as a (hash, doc_id) partial level
    // then the hash level — exactly two exchanges, both behind
    // map-side partial aggregation
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"unexpected exchange count:\n$plan")
    assert(plan.contains("partial_count"), s"map-side combine missing:\n$plan")
  }

  test("removeBenchmarkSpans broadcasts the bench evidence; no span-hash corpus shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(substring(col("text"), 1, 120).as("btext"))
    val plan = planOf(graft.operators.Contamination.removeBenchmarkSpans(
      docs, col("doc_id"), col("text"), bench, col("btext"), width = 50))
    // the semi-join against the benchmark's distinct hash set must be
    // a broadcast — a sort-merge/shuffled-hash semi would shuffle the
    // corpus-wide window stream on the span hash
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"bench evidence must broadcast into a semi join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus window stream shuffled on the span hash:\n$plan")
    // exactly one corpus-side explode feeds the surgery
    assert(plan.linesIterator.count(l => l.contains("Generate") && l.contains("doc_id")) == 1,
      s"expected a single corpus-side explode:\n$plan")
  }

  test("span evidence batches: a single explode per batch, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Dedup.spanEvidenceBatch(
      docs, col("text"), col("doc_id"), width = 60))
    assert(plan.linesIterator.count(_.contains("Generate")) == 1,
      s"expected a single explode:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbroadcast cross join:\n$plan")
    assert(plan.contains("partial_count"), s"map-side combine missing:\n$plan")
  }

  test("capPerKey bounds rows below the shuffle via the partial TopKPerKey") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.operators.Scale.capPerKey(
      docs, "source", col("doc_id"), 5))
    assert(plan.linesIterator.count(_.contains("TopKPerKey")) == 2,
      s"expected partial+final TopKPerKey instances:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly the key exchange:\n$plan")
  }

  test("contamination broadcasts the bench side; the corpus never shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bid"), col("text").as("btext"))
    val plan = planOf(graft.operators.Contamination.containment(
      docs, col("doc_id"), col("text"), bench, col("bid"), col("btext")))
    assert(plan.contains("BroadcastExchange"), s"bench side not broadcast:\n$plan")
    // the only exchange is the broadcast of the tiny bench side
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("Exchange rangepartitioning"),
      s"corpus shuffles:\n$plan")
  }

  test("q70 near-dedup end-to-end runs a bounded job graph (contention armor)") {
    // The r11 bench record inflated q70 3.4x over its local floor purely
    // through sequential-job scheduling overhead on a loaded driver
    // machine (VERDICT r11) — the defense is a SHALLOW job graph, which
    // this gate pins: the fused r12 shape (one persisted prep scan
    // feeding candidate-gen AND verify, single-job pair collect) runs
    // ~13 jobs end-to-end at any SF (AQE stage + broadcast-build jobs
    // included).  A regression back to the re-scan/re-shingle
    // composition lands near ~20; the bound sits between, with slack
    // for AQE jitter but none for an extra corpus scan.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      graft.operators.Dedup.nearDedupCorpus(docs, col("text"), col("doc_id"),
          minJaccard = 0.5, portableHash = true)
        .select(col("doc_id"))
        .write.format("noop").mode("overwrite").save()
      // the listener bus is async: poll until the count holds still
      var last = -1
      var spins = 0
      while (spins < 100 && last != jobCount.get) {
        last = jobCount.get; Thread.sleep(30); spins += 1
      }
      assert(jobCount.get <= 16,
        s"q70 job graph grew to ${jobCount.get} jobs — an extra sequential stage " +
          "re-amplifies under driver-machine contention (r11 record); keep the " +
          "prep frame fused and the pair collect single-job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("join family: small sides stay BroadcastHashJoin under AQE, stats off") {
    // the 100x-scale failure mode is a small side silently growing past
    // autoBroadcastJoinThreshold and the join degrading to a full
    // sort-merge on a (possibly skewed) key — pin the FINAL AQE plan,
    // with CBO statistics off, so the broadcast decision demonstrably
    // rests on file-size estimates alone (what a fresh 1000-executor
    // cluster with no ANALYZE-collected stats would see).  The skewed
    // 5x rehearsal (BASELINE.md round-13) shows why this matters: with
    // orders/customer/nation broadcast, the 1200x-hot o_custkey never
    // shuffles at all.
    val savedCbo = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "false")
    try {
      for (q <- Seq("q03_join_star", "q55_ezframe_join")) {
        val df = SparkEntry.queries(q)(spark, sf)
        df.collect() // finalize AQE so the executed join nodes are real
        val plan = planOf(df)
        assert(plan.contains("BroadcastHashJoin"),
          s"$q lost its broadcast join under AQE:\n$plan")
        assert(!plan.contains("SortMergeJoin"),
          s"$q degraded to sort-merge at dim scale:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$q has a degenerate nested-loop join:\n$plan")
      }
    } finally spark.conf.set("spark.sql.cbo.enabled", savedCbo)
  }
  test("round-13 slots: mix broadcast-joins its stats; split and cone stay bounded") {
    // q112 budget mix: the per-source keep frame rides a broadcast —
    // the corpus never shuffles for the join
    val mix = SparkEntry.queries("q112_budget_mix")(spark, sf)
    val mixPlan = planOf(mix)
    assert(mixPlan.contains("BroadcastHashJoin"), s"mix stats not broadcast:\n$mixPlan")
    assert(!mixPlan.contains("CartesianProduct"), "mix plan degenerated to cartesian")
    // q107/q109 cone slots: pure scan shapes, no exchange before filter
    Seq("q107_cone_sql", "q109_healpix_cone").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q gained a shuffle:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$q degenerated:\n$plan")
    }
    // q113 curriculum: fences are literals (no fence join), so the
    // only exchange is the hash partition on `shard` under the rank
    // window — never a global range sort
    val cur = SparkEntry.queries("q113_curriculum")(spark, sf)
    val curPlan = planOf(cur)
    assert(curPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"curriculum must shuffle exactly once, on shard:\n$curPlan")
    assert(!curPlan.contains("Exchange rangepartitioning") && !curPlan.contains("Join"),
      s"curriculum gained a sort/join:\n$curPlan")
  }

  test("bucketed+sorted twin: the window's Exchange AND Sort both disappear (r22, guide §6)") {
    // r21 verdict #8: the window family (q09/q25/q33/q115/q116) pays
    // one Exchange + one Sort per window because the events corpus is
    // a plain parquet file.  A bucketed-by-user, sorted-by-(user, ts)
    // twin table persists exactly the partitioning+ordering the window
    // requires, so BOTH disappear from the plan — the layout decision
    // a 100 TB events store would make at write time (guide §6:
    // partitioning and sort order on write determine what readers can
    // skip).  One file per bucket is load-bearing: the writer-side
    // repartition on the bucket column gives each bucket one task and
    // therefore one file, which is the condition under which the scan
    // reports its sort order.
    import spark.implicits._
    // ts strictly increasing => unique within every user: the window
    // order is total, so plain-vs-twin results compare deterministically
    val ev = (0 until 2000).map { i =>
      (i.toLong % 37, 1700000000L + i.toLong * 7L, i.toLong)
    }.toDF("user_id", "ts", "value")
    val tbl = "r22_twin_events"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      ev.repartition(4, col("user_id"))
        .write.bucketBy(4, "user_id").sortBy("user_id", "ts")
        .option("path", tempDir("graft_twin").toString)
        .saveAsTable(tbl)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      def plan(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.executedPlan.toString
      val plain = ev.withColumn("prev", lag(col("value"), 1).over(w))
      val plainPlan = plan(plain)
      assert(plainPlan.contains("Exchange hashpartitioning") && plainPlan.contains("Sort ["),
        s"plain plan lost its expected shuffle+sort:\n$plainPlan")
      // the scan reports its sort order only under the opt-in flag
      // (SPARK-28595 made it conditional because the guarantee relies
      // on one file per bucket, which this writer establishes) — the
      // conf a production reader of such a layout would set
      withSQLConf("spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        val twin = spark.table(tbl).withColumn("prev", lag(col("value"), 1).over(w))
        val twinPlan = plan(twin)
        assert(!twinPlan.contains("Exchange hashpartitioning"),
          s"twin plan still shuffles — bucketing not recognized:\n$twinPlan")
        assert(!twinPlan.contains("Sort ["),
          s"twin plan still sorts — one-file-per-bucket sort order not recognized:\n$twinPlan")
        // layout must be invisible in the result (the oracle-green
        // analog); ts is strictly increasing so the window order is
        // total and the comparison deterministic
        val a = twin.select(col("user_id"), col("ts"), col("value"), col("prev"))
          .collect().map(_.toString).sorted
        val b = plain.select(col("user_id"), col("ts"), col("value"), col("prev"))
          .collect().map(_.toString).sorted
        assert(a.sameElements(b), "twin window result diverged from the plain window")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl"); ()
    }
  }
}

class GroupedFnSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.Row

  test("flatMapGroups: arbitrary per-group function over shuffled groups") {
    val ez = EzFrame(Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v"))
    val out = ez.flatMapGroups("k",
      StructType(Seq(StructField("k", StringType), StructField("span", DoubleType)))) {
      (key, rows) =>
        val vs = rows.map(_.getDouble(1)).toSeq
        Iterator(Row(key.head.toString, vs.max - vs.min))
    }
    val m = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map("a" -> 2.0, "b" -> 0.0))
  }

  test("custom Aggregators: weighted and geometric mean, NaN-aware") {
    import graft.functions.Aggregators
    val df = Seq((1.0, 1.0), (3.0, 3.0), (Double.NaN, 5.0)).toDF("x", "w")
    val r = df.agg(
      Aggregators.weightedMean(col("x"), col("w")).as("wm"),
      Aggregators.geometricMean(col("x")).as("gm")).collect().head
    assert(math.abs(r.getDouble(0) - 2.5) < 1e-12) // (1*1 + 3*3) / 4
    assert(math.abs(r.getDouble(1) - math.sqrt(3.0)) < 1e-12)
  }

  test("elementwise lifts a scalar function (UDF escape hatch)") {
    import graft.functions.Aggregators
    val f = Aggregators.elementwise((s: String) => s.length)
    val n = Seq("abc", "de").toDF("s").select(f(col("s")).as("n"))
      .collect().map(_.getInt(0))
    assert(n.toSeq == Seq(3, 2))
  }

  test("vector kernels run as codegen'd expressions, not interpreted HOFs") {
    import graft.functions.VectorSim
    // range-based input: a local Seq would constant-fold the whole
    // projection into a LocalTableScan and bypass codegen entirely
    val df = spark.range(100).selectExpr(
      "array(cast(id as double), cast(id + 1 as double)) as a",
      "array(cast(id as double), cast(id + 1 as double)) as b",
      "array(id, id) as sa", "array(id, id + 1) as sb")
    val q = df.select(VectorSim.cosine(col("a"), col("b")).as("cs"),
      VectorSim.agreeCount(col("sa"), col("sb")).as("agree"))
    val plan = q.queryExecution.executedPlan.toString
    // the kernel expressions appear inside a whole-stage-codegen'd
    // Project (the `*(n)` prefix) — no zip_with/aggregate lambda nodes
    // anywhere in the plan
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("vector_cosine") && plan.contains("array_agree_count"), plan)
    assert(!plan.contains("lambdafunction"), plan)
    val rows = q.collect()
    // identical vectors -> cosine 1; [id,id] vs [id,id+1] agree on 1 slot
    assert(rows.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
    assert(rows.forall(_.getLong(1) == 1L))
    // zero-norm vector -> NaN, not an ANSI error
    val z = spark.range(1).selectExpr("array(0.0d, 0.0d) as a", "array(1.0d, 1.0d) as b")
      .select(VectorSim.cosine(col("a"), col("b"))).collect().head.getDouble(0)
    assert(z.isNaN)
  }

}
