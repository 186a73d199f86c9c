package graft

import org.apache.spark.sql.functions._
import graft.sources.ManifestStore

class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  private def withRoot(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_manifest").toFile
    try body(tmp.getAbsolutePath)
    finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  /** Descriptions of the jobs `body` runs ("" for an undescribed job). */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async: poll until the count holds still
      var last = -1
      var spins = 0
      while (spins < 100 && last != seen.size) { last = seen.size; Thread.sleep(30); spins += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.toArray(Array.empty[String]).toSeq
  }

  private def rowGroups(path: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
    try reader.getFooter.getBlocks.size finally reader.close()
  }

  /** One single-file append of rows [lo, hi) with decimal, timestamp and
    * string columns beside the id. */
  private def typedBatch(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id"),
      (col("id") % 1000 / 4).cast("decimal(12,2)").as("price"),
      timestamp_seconds(col("id") * 3607).as("ts"),
      concat(lit("k"), (col("id") % 13).cast("string")).as("tag")).repartition(1)

  private val CopyJob = "ManifestStore.compact: copy row groups"
  private val RewriteJob = "ManifestStore.compact: rewrite"

  test("compact copies row groups of one writer shape: rows, schema and footers survive, twice over") {
    withRoot { root =>
      val rows = ManifestStore.MinCopyRowsPerGroup * 3
      for (b <- 0 until 3) ManifestStore.commitAppend(spark, root, typedBatch(b * rows, (b + 1) * rows), s"b$b")
      val inputs = ManifestStore.files(spark, root)
      val want = ManifestStore.read(spark, root).orderBy("id").collect().toSeq
      val storeSchema = ManifestStore.read(spark, root).schema
      val fileSchema = spark.read.parquet(inputs: _*).schema
      assert(fileSchema.map(_.dataType).toSet.exists(_.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
      val jobs = jobsDuring(ManifestStore.compact(spark, root))
      assert(jobs == Seq(CopyJob), s"the copy path runs one job and no other: $jobs")
      val merged = ManifestStore.files(spark, root)
      assert(merged.size == 1 && merged.head.contains("v3-compact"))
      // a re-encode would write one row group; a copy keeps every input's
      assert(rowGroups(merged.head) == inputs.map(rowGroups).sum)
      for ((df, what) <- Seq(ManifestStore.read(spark, root) -> "ManifestStore.read",
                             spark.read.parquet(merged: _*) -> "inferred read")) {
        assert(df.schema == (if (what == "inferred read") fileSchema else storeSchema), what)
        assert(df.orderBy("id").collect().toSeq == want, what)
      }
      // a compacted file merges again: the rewriter's own
      // original.created.by key does not push it to the re-encode
      ManifestStore.commitAppend(spark, root, typedBatch(3 * rows, 4 * rows), "b3")
      val again = ManifestStore.files(spark, root)
      assert(jobsDuring(ManifestStore.compact(spark, root)) == Seq(CopyJob))
      val twice = ManifestStore.files(spark, root)
      assert(twice.size == 1 && rowGroups(twice.head) == again.map(rowGroups).sum)
      assert(spark.read.parquet(twice: _*).schema == fileSchema)
      assert(ManifestStore.read(spark, root).count() == 4 * rows)
    }
  }

  test("compact re-encodes, without an inference job, bins of mixed column order or small row groups") {
    val rows = ManifestStore.MinCopyRowsPerGroup
    val cases = Seq(
      // the append gate accepts a reordered batch; the parquet schemas differ
      "column order" -> Seq(typedBatch(0, rows), typedBatch(rows, 2 * rows).select("tag", "ts", "price", "id")),
      "small row groups" -> Seq(typedBatch(0, rows / 4), typedBatch(rows / 4, rows / 2)))
    for ((what, batches) <- cases) withRoot { root =>
      batches.zipWithIndex.foreach { case (df, i) => ManifestStore.commitAppend(spark, root, df, s"b$i") }
      val want = ManifestStore.read(spark, root).orderBy("id").collect().toSeq
      val schema = ManifestStore.read(spark, root).schema
      val jobs = jobsDuring(ManifestStore.compact(spark, root))
      assert(jobs == Seq(CopyJob, RewriteJob), s"$what: declined copy, then the rewrite alone: $jobs")
      val merged = ManifestStore.files(spark, root)
      assert(merged.map(rowGroups).sum == 1, what)
      assert(ManifestStore.read(spark, root).schema == schema, what)
      assert(ManifestStore.read(spark, root).orderBy("id").collect().toSeq == want, what)
    }
  }

  test("append commits version, reads see exactly the committed snapshot") {
    withRoot { root =>
      assert(ManifestStore.currentVersion(spark, root).isEmpty)
      val v0 = ManifestStore.commitAppend(spark, root, Seq(1L, 2L, 3L).toDF("x"), "day0")
      val v1 = ManifestStore.commitAppend(spark, root, Seq(4L, 5L).toDF("x"), "day1")
      assert(v0 == 0L && v1 == 1L)
      assert(ManifestStore.currentVersion(spark, root).contains(1L))
      // snapshot isolation / time travel: v0 is still exactly day0
      val at0 = ManifestStore.read(spark, root, Some(0L)).as[Long].collect().sorted.toSeq
      val at1 = ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq
      assert(at0 == Seq(1L, 2L, 3L) && at1 == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("stageAppend/commitStaged: staged data invisible until publish; equals commitAppend (r22)") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "day0")
      val st = ManifestStore.stageAppend(spark, root, Seq(2L, 3L).toDF("x"), "day1")
      // staged but unpublished: readers see only the committed snapshot
      assert(ManifestStore.read(spark, root).as[Long].collect().toSeq == Seq(1L))
      assert(ManifestStore.currentVersion(spark, root).contains(0L))
      val v = ManifestStore.commitStaged(spark, root, st)
      assert(v == 1L)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // the staged dir was renamed into the canonical versioned shape:
      // no 'staged-' dirs survive a publish
      val dataDirs = new java.io.File(s"$root/data").listFiles.map(_.getName).toSeq
      assert(!dataDirs.exists(_.startsWith("staged-")), s"staged debris: $dataDirs")
      assert(dataDirs.count(_.startsWith("v1-day1-")) == 1)
    }
  }

  test("concurrent stageAppend + serialized commitStaged: all batches land, no recompute race (r22)") {
    withRoot { root =>
      // the q122 shape: N independent ingests staged concurrently,
      // published serially — every row lands exactly once regardless
      // of stage completion order
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val staged = (0 until 3).map { b =>
          pool.submit(new java.util.concurrent.Callable[ManifestStore.Staged] {
            def call(): ManifestStore.Staged =
              ManifestStore.stageAppend(spark, root,
                Seq(b * 10L, b * 10L + 1L).toDF("x"), s"batch$b")
          })
        }
        staged.foreach(f => ManifestStore.commitStaged(spark, root, f.get()))
      } finally pool.shutdown()
      assert(ManifestStore.currentVersion(spark, root).contains(2L))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        Seq(0L, 1L, 10L, 11L, 20L, 21L))
    }
  }

  test("commitStaged survives an optimistic-concurrency loss without rewriting data (r22)") {
    withRoot { root =>
      val st = ManifestStore.stageAppend(spark, root, Seq(7L).toDF("x"), "late")
      // another committer wins versions 0 and 1 while 'late' is staged
      ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "fast0")
      ManifestStore.commitAppend(spark, root, Seq(2L).toDF("x"), "fast1")
      val v = ManifestStore.commitStaged(spark, root, st)
      assert(v == 2L)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 7L))
    }
  }

  test("commitStaged that exhausts its retries leaves a handle vacuum spares, and it commits later") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "day0")
      val schema = ManifestStore.schemaOf(spark, root).get
      // a rival publisher republishes the current file list as fast as
      // it can, so a commitStaged with no retries loses its race for
      // the next version; the loop stops once one commitStaged lost
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val rival = new Thread(() => {
        try while (!stop.get()) {
          val cur = ManifestStore.currentVersion(spark, root).get
          try ManifestStore.publish(spark, root, cur + 1, schema, ManifestStore.files(spark, root, Some(cur)))
          catch { case _: java.util.ConcurrentModificationException => () }
        } catch { case t: Throwable => failure.set(t) }
      })
      var conflict: Option[ManifestStore.StagedCommitConflict] = None
      var won = Seq.empty[Long]
      rival.start()
      try {
        var round = 0
        while (conflict.isEmpty && round < 50) {
          val st = ManifestStore.stageAppend(spark, root, Seq(100L + round).toDF("x"), "late")
          try { ManifestStore.commitStaged(spark, root, st, maxRetries = 0); won :+= 100L + round }
          catch { case e: ManifestStore.StagedCommitConflict => conflict = Some(e) }
          round += 1
        }
      } finally { stop.set(true); rival.join() }
      assert(failure.get() == null, s"the rival publisher failed: ${failure.get()}")
      assert(conflict.nonEmpty, "the rival never won a race in 50 rounds")
      val handle = conflict.get.staged
      assert(new java.io.File(handle.dir).getName.startsWith("staged-late-"))
      // the orphan sweep deletes unreferenced v<N> dirs below the
      // retained version; a lost handle must not carry such a name
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(new java.io.File(handle.dir).exists, "vacuum must spare a handle that just lost its race")
      ManifestStore.commitStaged(spark, root, handle)
      val lost = 100L + won.size
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == (1L +: won :+ lost).sorted)
    }
  }

  test("commitStaged schema-gates against the schema stored at publish time (r22)") {
    withRoot { root =>
      val st = ManifestStore.stageAppend(spark, root, Seq(1L).toDF("x"), "first")
      // a different-schema table gets committed first: the staged
      // batch must be rejected at publish, data preserved for an
      // explicit migration decision
      ManifestStore.commitAppend(spark, root, Seq("a").toDF("s"), "other")
      val e = intercept[IllegalArgumentException](
        ManifestStore.commitStaged(spark, root, st))
      assert(e.getMessage.contains("schema drift"))
      assert(ManifestStore.read(spark, root).schema.fieldNames.toSeq == Seq("s"))
    }
  }

  test("vacuum sweeps only AGED staged dirs (a live stager's write is never touched) (r22)") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "day0")
      val fresh = ManifestStore.stageAppend(spark, root, Seq(2L).toDF("x"), "fresh")
      val stale = ManifestStore.stageAppend(spark, root, Seq(3L).toDF("x"), "stale")
      // age the stale dir past the 1-hour gate
      new java.io.File(stale.dir).setLastModified(
        System.currentTimeMillis() - 2 * 3600L * 1000)
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(new java.io.File(fresh.dir).exists, "fresh staged dir must survive vacuum")
      assert(!new java.io.File(stale.dir).exists, "aged staged dir must be reclaimed")
      // the fresh one still commits fine after the vacuum
      ManifestStore.commitStaged(spark, root, fresh)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("uncommitted data files are unobservable (the torn-read the directory store had)") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "day0")
      // an in-flight writer's files: in data/, but referenced by no manifest
      Seq(99L).toDF("x").write.parquet(s"$root/data/v1-inflight")
      assert(ManifestStore.read(spark, root).as[Long].collect().toSeq == Seq(1L))
      // the directory listing WOULD have seen the torn state
      val torn = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/data").as[Long].collect().toSet
      assert(torn == Set(1L, 99L))
    }
  }

  test("compact rewrites the current set only; pinned readers and row content survive; vacuum reclaims") {
    withRoot { root =>
      // many tiny commits = many tiny files
      for (d <- 0 until 6)
        ManifestStore.commitAppend(spark, root,
          spark.range(d * 100, (d + 1) * 100).toDF("x").repartition(4), s"day$d")
      val before = ManifestStore.files(spark, root).size
      assert(before >= 24)
      val vc = ManifestStore.compact(spark, root, targetFileBytes = 1L << 20)
      assert(vc == 6L)
      val after = ManifestStore.files(spark, root)
      assert(after.size < before && after.forall(_.contains("v6-compact")))
      // content identical through the rewrite
      val want = (0L until 600L).toSeq
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want)
      // a pinned pre-compaction reader still resolves its old files
      assert(ManifestStore.read(spark, root, Some(5L)).as[Long]
        .collect().sorted.toSeq == want)
      // vacuum to the newest 1 version: the old tiny files are deleted,
      // their manifests dropped, the current version unharmed
      val deleted = ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(deleted.nonEmpty && deleted.forall(!_.contains("v6-compact")))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want)
      assertThrows[IllegalArgumentException](
        ManifestStore.files(spark, root, Some(0L))) // vacuumed manifest is gone
    }
  }

  test("schema drift is rejected at the commit that introduces it, named in the error") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq((1L, "a")).toDF("id", "text"), "day0")
      // the committed schema is recorded and readable
      val stored = ManifestStore.schemaOf(spark, root).get
      assert(stored.fieldNames.sorted.toSeq == Seq("id", "text"))
      // a renamed column must fail LOUDLY at commit time — a silent
      // append would only surface at some later read as null columns
      val drift = intercept[IllegalArgumentException](
        ManifestStore.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "body"), "day1"))
      assert(drift.getMessage.contains("schema drift") && drift.getMessage.contains("body"))
      // ...and the failed commit left no new version and no data dir
      assert(ManifestStore.currentVersion(spark, root).contains(0L))
      assert(!new java.io.File(s"$root/data").listFiles.exists(_.getName.startsWith("v1-day1")))
      // a type change fails too; field ORDER does not matter
      assertThrows[IllegalArgumentException](
        ManifestStore.commitAppend(spark, root, Seq((2, "b")).toDF("id", "text"), "day1"))
      ManifestStore.commitAppend(spark, root,
        Seq(("c", 3L)).toDF("text", "id").select(col("text"), col("id")), "day1")
      assert(ManifestStore.read(spark, root).count() == 2)
      // compaction carries the schema through
      ManifestStore.compact(spark, root, 1L << 20)
      assert(ManifestStore.schemaOf(spark, root).get.fieldNames.sorted.toSeq == Seq("id", "text"))
    }
  }

  test("commitStreamBatch: exactly-once through foreachBatch, replays are no-ops, torn writes redo") {
    withRoot { root =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          ManifestStore.commitStreamBatch(df.sparkSession, root, df, id); ()
        }.start()
      try {
        input.addData(1L, 2L); q.processAllAvailable()
        input.addData(3L); q.processAllAvailable()
      } finally q.stop()
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      val vBefore = ManifestStore.currentVersion(spark, root).get
      // a REPLAY of batch 1 (the failure-recovery path foreachBatch
      // takes): same batchId, possibly different plan — must be a
      // no-op returning the original version, never a duplicate
      val replayed = ManifestStore.commitStreamBatch(spark, root, Seq(3L).toDF("value"), 1L)
      assert(replayed <= vBefore &&
        ManifestStore.currentVersion(spark, root).contains(vBefore))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // a TORN pre-publish write (crash between data write and
      // publish): data dir exists, no manifest lists it — the retry
      // must clear and commit it exactly once
      Seq(9L).toDF("value").write.parquet(s"$root/data/batch7")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      ManifestStore.commitStreamBatch(spark, root, Seq(9L).toDF("value"), 7L)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 9L))
    }
  }

  test("commitReplace migrates the table (and schema) explicitly; pinned readers survive") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq((1L, "a")).toDF("id", "text"), "day0")
      ManifestStore.commitReplace(spark, root, Seq((1L, 2L)).toDF("id", "tokens"), "migrate")
      assert(ManifestStore.schemaOf(spark, root).get.fieldNames.sorted.toSeq == Seq("id", "tokens"))
      // the append gate now enforces the MIGRATED schema
      assertThrows[IllegalArgumentException](
        ManifestStore.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "text"), "old"))
      ManifestStore.commitAppend(spark, root, Seq((2L, 4L)).toDF("id", "tokens"), "new")
      assert(ManifestStore.read(spark, root).count() == 2)
      // a reader pinned before the migration still sees the old world
      assert(ManifestStore.read(spark, root, Some(0L)).columns.sorted.toSeq == Seq("id", "text"))
      assert(ManifestStore.schemaOf(spark, root, Some(0L)).get.fieldNames.contains("text"))
    }
  }

  test("model fuzz: random append/compact/vacuum sequences always read back the committed multiset") {
    withRoot { root =>
      val rnd = new scala.util.Random(42) // seeded: deterministic everywhere
      var model = Vector.empty[Long] // every value ever committed
      var nextVal = 0L
      // one pinned old version + its expected content, valid until a
      // vacuum may have dropped it
      var pinned: Option[(Long, Vector[Long])] = None
      for (step <- 0 until 30) {
        val op = rnd.nextInt(10)
        if (op < 6 || model.isEmpty) {
          val batch = Vector.fill(rnd.nextInt(5) + 1) { nextVal += 1; nextVal }
          val v = ManifestStore.commitAppend(spark, root, batch.toDF("x"), s"s$step")
          model ++= batch
          if (pinned.isEmpty && rnd.nextBoolean()) pinned = Some((v, model))
        } else if (op < 8) {
          ManifestStore.compact(spark, root, 1L << 20)
        } else {
          ManifestStore.vacuum(spark, root, keepVersions = 2)
          pinned = None // the pinned version may be gone now
        }
        val got = ManifestStore.read(spark, root).as[Long].collect().sorted.toVector
        assert(got == model.sorted, s"step $step: latest snapshot diverged from the model")
        pinned.foreach { case (v, want) =>
          val at = ManifestStore.read(spark, root, Some(v)).as[Long].collect().sorted.toVector
          assert(at == want.sorted, s"step $step: pinned version $v diverged")
        }
      }
      assert(model.nonEmpty && ManifestStore.currentVersion(spark, root).nonEmpty)
    }
  }

  test("model fuzz: stream batches, replays, maintenance, and hint crashes keep exactly-once") {
    // small ledger bound so the fuzz exercises pruning + floor paths
    val saved = ManifestStore.MaxLedgerEntries
    ManifestStore.MaxLedgerEntries = 3
    try withRoot { root =>
      val rnd = new scala.util.Random(19) // seeded: deterministic everywhere
      var model = Vector.empty[Long]
      var nextVal = 0L
      var nextBatch = 0L
      for (step <- 0 until 40) {
        val op = rnd.nextInt(10)
        if (op < 4 || model.isEmpty) { // new micro-batch
          val batch = Vector.fill(rnd.nextInt(4) + 1) { nextVal += 1; nextVal }
          ManifestStore.commitStreamBatch(spark, root, batch.toDF("x"), nextBatch)
          nextBatch += 1
          model ++= batch
        } else if (op < 6 && nextBatch > 0) {
          // replay within the stream's legal window (the checkpoint
          // re-delivers recent batches only — always inside the
          // retained ledger tail here): MUST be a pure no-op
          val b = nextBatch - 1 - rnd.nextInt(math.min(2L, nextBatch).toInt)
          ManifestStore.commitStreamBatch(spark, root, Seq(-999L).toDF("x"), b)
        } else if (op < 7) {
          val batch = Vector.fill(rnd.nextInt(4) + 1) { nextVal += 1; nextVal }
          ManifestStore.commitAppend(spark, root, batch.toDF("x"), s"s$step")
          model ++= batch
        } else if (op < 8) {
          ManifestStore.compact(spark, root, 1L << 20)
        } else if (op < 9) {
          ManifestStore.vacuum(spark, root, keepVersions = 2)
        } else { // crash a hint: both are rebuildable by contract
          val victim = if (rnd.nextBoolean()) "_batches" else "_latest"
          new java.io.File(s"$root/_manifests/$victim").delete()
        }
        val got = ManifestStore.read(spark, root).as[Long].collect().sorted.toVector
        assert(got == model.sorted,
          s"step $step: snapshot diverged from the model (exactly-once or hint-crash recovery broke)")
      }
      assert(nextBatch > 5, "fuzz should have committed several stream batches")
    } finally ManifestStore.MaxLedgerEntries = saved
  }

  test("replay after compact+vacuum is still a no-op (durable ledger, not data-dir inference)") {
    withRoot { root =>
      // commit batches 0 and 1 through the sink step
      ManifestStore.commitStreamBatch(spark, root, Seq(1L, 2L).toDF("x"), 0L)
      ManifestStore.commitStreamBatch(spark, root, Seq(3L).toDF("x"), 1L)
      // maintenance runs between the commit and a crash-recovery
      // replay: compaction rewrites batch 1's files into v2-compact,
      // vacuum then deletes the original batch dirs entirely — the
      // r18 probe (scan manifests for the data-dir marker) would now
      // misclassify the replay as a torn write and DOUBLE the rows
      ManifestStore.compact(spark, root, 1L << 20)
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(!new java.io.File(s"$root/data/batch1").exists(),
        "precondition: vacuum removed the batch dir, so only the ledger can identify the replay")
      val v = ManifestStore.commitStreamBatch(spark, root, Seq(3L).toDF("x"), 1L)
      assert(v == 1L)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // ...and the ledger survives even a crash-lost entry: drop it,
      // the manifest #batch headers rebuild the verdict (batch 1's
      // manifest was vacuumed, but so was every version a healthy
      // stream could still replay — commit a FRESH batch 2, crash the
      // ledger, replay batch 2: the header scan finds it)
      ManifestStore.commitStreamBatch(spark, root, Seq(7L).toDF("x"), 2L)
      new java.io.File(s"$root/_manifests/_batches").delete()
      val v2 = ManifestStore.commitStreamBatch(spark, root, Seq(7L).toDF("x"), 2L)
      assert(ManifestStore.read(spark, root, Some(v2)).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 7L))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 7L))
    }
  }

  test("losing compaction reclaims its rewrite; vacuum sweeps crash orphans but never in-flight dirs") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L, 2L).toDF("x"), "day0")
      // the REAL race: two compactions of the same current version.
      // Both read current = 0 and target v1; the uuid data-dir tail
      // keeps their rewrites from colliding (and keeps crash debris
      // from blocking retries), the manifest rename decides the race,
      // and the loser must reclaim its never-referenced rewrite.
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Long, String]]()
      val threads = (0 until 2).map { _ =>
        new Thread(() => {
          barrier.await()
          try outcomes.add(Left(ManifestStore.compact(spark, root, 1L << 20)))
          catch { case _: java.util.ConcurrentModificationException => outcomes.add(Right("lost")) }
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val (wins, losses) = outcomes.toArray.toSeq.partition(_.isInstanceOf[Left[_, _]])
      assert(wins == Seq(Left(1L)) && losses.size == 1,
        s"expected exactly one winner of v1 and one loud loser, got $outcomes")
      val v1Dirs = new java.io.File(s"$root/data").listFiles.filter(_.getName.startsWith("v1-compact"))
      assert(v1Dirs.length == 1, "a losing compaction must not leak its never-referenced rewrite")
      // crash orphan: a dir from a committer that died pre-publish,
      // below the retention horizon — vacuum sweeps it once the
      // retained manifests reference nothing in it
      Seq(99L).toDF("x").write.parquet(s"$root/data/v0-crashed")
      // in-flight dir AT/ABOVE the horizon and an unledgered batch
      // dir: both must survive vacuum
      Seq(98L).toDF("x").write.parquet(s"$root/data/v7-inflight")
      Seq(97L).toDF("x").write.parquet(s"$root/data/batch42")
      ManifestStore.commitAppend(spark, root, Seq(3L).toDF("x"), "day1")
      ManifestStore.commitAppend(spark, root, Seq(4L).toDF("x"), "day2")
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(!new java.io.File(s"$root/data/v0-crashed").exists(), "crash orphan swept")
      assert(new java.io.File(s"$root/data/v7-inflight").exists(), "in-flight dir untouched")
      assert(new java.io.File(s"$root/data/batch42").exists(), "unledgered batch dir untouched")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    }
  }

  test("discovery is O(1): a long commit history resolves through the pointer, not a listing") {
    withRoot { root =>
      for (i <- 0 until 3) // establish the root + pointer
        ManifestStore.commitAppend(spark, root, Seq(i.toLong).toDF("x"), s"w$i")
      val before = ManifestStore.listingFallbacks.get()
      for (i <- 3 until 40)
        ManifestStore.commitAppend(spark, root, Seq(i.toLong).toDF("x"), s"w$i")
      (0 until 50).foreach(_ => ManifestStore.currentVersion(spark, root))
      assert(ManifestStore.listingFallbacks.get() == before,
        "commits and reads on a pointed root must never fall back to a directory listing")
      assert(ManifestStore.currentVersion(spark, root).contains(39L))
      // a corrupt pointer degrades to the listing, not to a wrong answer
      val out = new java.io.FileWriter(s"$root/_manifests/_latest"); out.write("garbage"); out.close()
      assert(ManifestStore.currentVersion(spark, root).contains(39L))
      assert(ManifestStore.listingFallbacks.get() > before)
      // a STALE (but parseable) pointer forward-probes to the truth
      val out2 = new java.io.FileWriter(s"$root/_manifests/_latest"); out2.write("35"); out2.close()
      val b2 = ManifestStore.listingFallbacks.get()
      assert(ManifestStore.currentVersion(spark, root).contains(39L))
      assert(ManifestStore.listingFallbacks.get() == b2)
    }
  }

  test("distinct runIds own disjoint batch-id namespaces (multi-pipeline ingest, Delta txnAppId shape)") {
    withRoot { root =>
      ManifestStore.commitStreamBatch(spark, root, Seq(1L).toDF("x"), 0L, Some("runA"))
      // same run: replays stay no-ops, new batches flow
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(1L).toDF("x"), 0L, Some("runA")) == 0L)
      ManifestStore.commitStreamBatch(spark, root, Seq(2L).toDF("x"), 1L, Some("runA"))
      // a SECOND pipeline reusing id 0 is its own namespace: the batch
      // COMMITS (the pre-multi-run store dropped it as a replay of
      // runA's 0 — silent data loss for the second pipeline)
      val vB = ManifestStore.commitStreamBatch(spark, root, Seq(9L).toDF("x"), 0L, Some("runB"))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
      // ...and runB's OWN replay of id 0 is a no-op
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(-1L).toDF("x"), 0L, Some("runB")) == vB)
      // the unarmed "" namespace is separate from both
      ManifestStore.commitStreamBatch(spark, root, Seq(7L).toDF("x"), 0L)
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(-1L).toDF("x"), 0L) ==
        ManifestStore.currentVersion(spark, root).get)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 7L, 9L))
      // the ledger holds all three namespaces independently
      assert(ManifestStore.batchLedger(spark, root, "runA").keySet == Set(0L, 1L))
      assert(ManifestStore.batchLedger(spark, root, "runB").keySet == Set(0L))
      assert(ManifestStore.batchLedger(spark, root).keySet == Set(0L))
      // replay classification survives the ledger hint being lost:
      // the manifest '#batch' headers carry the run name too
      new java.io.File(s"$root/_manifests/_batches").delete()
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(-1L).toDF("x"), 1L, Some("runA")) > 0L)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 7L, 9L))
      // a runId that is not path-safe still gets a stable data-dir tag
      ManifestStore.commitStreamBatch(spark, root, Seq(11L).toDF("x"), 0L, Some("run C/é"))
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(-1L).toDF("x"), 0L, Some("run C/é")) ==
        ManifestStore.batchLedger(spark, root, "run C/é")(0L))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 7L, 9L, 11L))
    }
  }

  test("two concurrent armed streams into one root: every (run, batch) lands exactly once") {
    withRoot { root =>
      // the multi-pipeline ingest shape: two live streams interleave
      // micro-batches against one root.  Values encode (run, batch) so
      // the final multiset proves exactly-once per namespace: run A
      // commits batch b as 1000+b, run B as 2000+b, ids overlapping.
      val perRun = 8
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(("A", 1000L), ("B", 2000L)).map { case (run, base) =>
        new Thread(() => {
          try {
            for (b <- 0 until perRun) {
              ManifestStore.commitStreamBatch(spark, root,
                Seq(base + b).toDF("x"), b.toLong, Some(s"run$run"))
              // interleaved replays of an earlier batch: must stay no-ops
              if (b > 0)
                ManifestStore.commitStreamBatch(spark, root,
                  Seq(-1L).toDF("x"), (b - 1).toLong, Some(s"run$run"))
            }
          } catch { case t: Throwable => errors.add(t); () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, s"no stream may die on the version race: ${errors.toArray.toSeq}")
      val want = ((0 until perRun).map(1000L + _) ++ (0 until perRun).map(2000L + _)).sorted
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want,
        "both streams' batches must land exactly once each")
      assert(ManifestStore.batchLedger(spark, root, "runA").keySet == (0L until perRun.toLong).toSet)
      assert(ManifestStore.batchLedger(spark, root, "runB").keySet == (0L until perRun.toLong).toSet)
      // crash-recovery replays across BOTH runs after the race: no-ops
      for (b <- 0 until perRun; run <- Seq("runA", "runB"))
        ManifestStore.commitStreamBatch(spark, root, Seq(-1L).toDF("x"), b.toLong, Some(run))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want)
      // ...and maintenance across both namespaces keeps the multiset
      ManifestStore.compact(spark, root, 1L << 20)
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want)
      for (b <- 0 until perRun; run <- Seq("runA", "runB"))
        ManifestStore.commitStreamBatch(spark, root, Seq(-1L).toDF("x"), b.toLong, Some(run))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want)
    }
  }

  test("below-floor replay is a known-committed no-op, never a torn-write redo or duplicate append") {
    val saved = ManifestStore.MaxLedgerEntries
    ManifestStore.MaxLedgerEntries = 3
    try withRoot { root =>
      (0L until 8L).foreach(b =>
        ManifestStore.commitStreamBatch(spark, root, Seq(b).toDF("x"), b))
      val want = (0L until 8L).toSeq
      // ids 0..4 are pruned off the bounded tail (floor = 5); their
      // manifests are still present, so first pin the PURE floor arm:
      assert(ManifestStore.batchLedger(spark, root).keySet == Set(5L, 6L, 7L))
      val vBefore = ManifestStore.currentVersion(spark, root).get
      // a crash-recovery replay from a restored old checkpoint backup —
      // batchId BELOW the prune floor.  The id was once ledgered and
      // committed; re-committing would duplicate every row.
      val v0 = ManifestStore.commitStreamBatch(spark, root, Seq(0L).toDF("x"), 0L)
      assert(v0 == vBefore, "below-floor replay must return the current version, not commit")
      assert(ManifestStore.currentVersion(spark, root).contains(vBefore))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want)
      // its data dir must NOT have been torn-write-deleted either
      assert(new java.io.File(s"$root/data/batch0").exists(),
        "a known-committed batch dir must never be cleared as a torn write")
      // now the harsher shape: compact + vacuum destroy the batch dirs
      // AND the old manifests — only the floor can classify the replay
      ManifestStore.compact(spark, root, 1L << 20)
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(!new java.io.File(s"$root/data/batch1").exists(),
        "precondition: vacuum reclaimed the below-floor batch dir")
      val v1 = ManifestStore.commitStreamBatch(spark, root, Seq(1L).toDF("x"), 1L)
      assert(v1 == ManifestStore.currentVersion(spark, root).get)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want,
        "below-floor replay after vacuum must not duplicate the batch")
      // the floor arm is per-namespace: an ARMED run with untouched ids
      // is unaffected by the unarmed floor
      ManifestStore.commitStreamBatch(spark, root, Seq(100L).toDF("x"), 0L, Some("runZ"))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == (want :+ 100L))
    } finally ManifestStore.MaxLedgerEntries = saved
  }

  test("ledger writes MERGE under the per-root lock: a stale writer cannot drop folded ids") {
    withRoot { root =>
      // the vacuum-fold vs live-stream race, made deterministic: the
      // fold lands (run "", id 5) -> v3; a per-batch writer holding a
      // PRE-fold read then writes only its own entry.  A replacing
      // write would destroy the folded id just as vacuum deletes the
      // manifests that were its only other record; the merge keeps it.
      ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "seed")
      ManifestStore.writeLedger(spark, root, Map(("" , 5L) -> 3L), 3L)
      assert(ManifestStore.batchLedger(spark, root) == Map(5L -> 3L))
      ManifestStore.writeLedger(spark, root, Map(("runA", 0L) -> 4L), 4L)
      assert(ManifestStore.batchLedger(spark, root) == Map(5L -> 3L),
        "a write that did not know the folded id must not drop it")
      assert(ManifestStore.batchLedger(spark, root, "runA") == Map(0L -> 4L))
    }
  }

  test("a ledger truncated at a line boundary reads as corrupt, not valid-but-short") {
    withRoot { root =>
      ManifestStore.commitStreamBatch(spark, root, Seq(1L).toDF("x"), 0L)
      ManifestStore.commitStreamBatch(spark, root, Seq(2L).toDF("x"), 1L)
      assert(ManifestStore.batchLedger(spark, root).keySet == Set(0L, 1L))
      // simulate the non-atomic overwrite torn read: drop the LAST
      // entry line but keep every header intact — the one torn shape
      // that still parses cleanly line-by-line
      val p = s"$root/_manifests/_batches"
      val lines = scala.io.Source.fromFile(p).getLines().toList
      val torn = lines.filterNot(_.startsWith("#")).dropRight(1)
      val out = new java.io.PrintWriter(p)
      lines.filter(_.startsWith("#")).foreach(out.println); torn.foreach(out.println)
      out.close()
      // the '#n' count disagrees -> the whole hint is treated as
      // corrupt -> replay classification falls back to the manifest
      // headers (truth) instead of trusting the short entry list
      assert(ManifestStore.batchLedger(spark, root).isEmpty,
        "a count-mismatched ledger must read as corrupt (empty), never as a subset")
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(2L).toDF("x"), 1L) == 1L,
        "replay must still be recognized through the header fallback")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("vacuum folds dropped '#batch' headers into the ledger: replay survives ledger loss + vacuum") {
    withRoot { root =>
      ManifestStore.commitStreamBatch(spark, root, Seq(1L, 2L).toDF("x"), 0L)
      ManifestStore.commitStreamBatch(spark, root, Seq(3L).toDF("x"), 1L)
      ManifestStore.compact(spark, root, 1L << 20)
      // the DOUBLE failure: the ledger hint is lost, THEN vacuum drops
      // the batch manifests (whose headers were the remaining truth)
      new java.io.File(s"$root/_manifests/_batches").delete()
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      // the fold preserved the mapping at the instant the headers died
      assert(ManifestStore.batchLedger(spark, root) == Map(0L -> 0L, 1L -> 1L))
      val v = ManifestStore.commitStreamBatch(spark, root, Seq(3L).toDF("x"), 1L)
      assert(v == 1L, "replay after ledger loss + vacuum must still be a no-op")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    }
  }

  test("replay NEVER deletes a batch dir the current manifest references (pre-ledger stores)") {
    withRoot { root =>
      // simulate a store written by a release that predates '#batch'
      // headers and the ledger: data in a batchId-keyed dir, manifest
      // listing it, no header, no ledger
      val dataDir = s"$root/data/batch7"
      Seq(1L, 2L).toDF("x").write.parquet(dataDir)
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val parts = fsys.listStatus(new org.apache.hadoop.fs.Path(dataDir)).toSeq
        .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      ManifestStore.publish(spark, root, 0L, Seq(1L).toDF("x").schema, parts)
      // replay of batch 7: ledger misses, header scan misses — the
      // old code classified this as a torn write, deleted the LIVE
      // dir, and republished dead paths; the guard must instead
      // recognize the current manifest references it
      val v = ManifestStore.commitStreamBatch(spark, root, Seq(1L, 2L).toDF("x"), 7L)
      assert(v == 0L, "pre-ledger committed batch must be recognized, not redone")
      assert(new java.io.File(dataDir).exists(), "a referenced data dir must never be deleted")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      // ...and the guard re-seeded the ledger: the next replay is one read
      assert(ManifestStore.batchLedger(spark, root) == Map(7L -> 0L))
    }
  }

  test("bounded ledger: pruning keeps a monotonic floor; vacuum reclaims below-floor batch dirs") {
    val saved = ManifestStore.MaxLedgerEntries
    ManifestStore.MaxLedgerEntries = 3
    try withRoot { root =>
      (0L until 6L).foreach(b =>
        ManifestStore.commitStreamBatch(spark, root, Seq(b).toDF("x"), b))
      // only the newest 3 ids survive in the hint; replays of RETAINED
      // ids stay one-read no-ops
      assert(ManifestStore.batchLedger(spark, root).keySet == Set(3L, 4L, 5L))
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(4L).toDF("x"), 4L) == 4L)
      // compact rewrites every batch's files; vacuum may now reclaim
      // the below-floor batch dirs (ledgered ones were already
      // reclaimable) — nothing is lost because nothing references them
      ManifestStore.compact(spark, root, 1L << 20)
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      (0 until 6).foreach(b => assert(!new java.io.File(s"$root/data/batch$b").exists(),
        s"batch$b dir should be reclaimed (ledgered or below the pruned floor)"))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        (0L until 6L).toSeq)
      // a pruned id whose files ARE still referenced is recognized via
      // the guard, never re-deleted: rebuild that shape explicitly
      val dataDir = s"$root/data/batch0"
      Seq(9L).toDF("x").write.parquet(dataDir)
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val parts = fsys.listStatus(new org.apache.hadoop.fs.Path(dataDir)).toSeq
        .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      val cur = ManifestStore.files(spark, root)
      ManifestStore.publish(spark, root,
        ManifestStore.currentVersion(spark, root).get + 1,
        Seq(9L).toDF("x").schema, cur ++ parts)
      ManifestStore.commitStreamBatch(spark, root, Seq(9L).toDF("x"), 0L)
      assert(new java.io.File(dataDir).exists(),
        "a referenced below-floor batch dir must never be deleted on replay")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        ((0L until 6L) :+ 9L).toSeq)
    } finally ManifestStore.MaxLedgerEntries = saved
  }

  test("500-version history: discovery stays pointer-resolved, commits on top stay flat") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq(0L).toDF("x"), "seed")
      // drive the version counter to 500 through the REAL publish path
      // (manifest write + atomic rename + pointer refresh) without
      // paying 500 parquet jobs — the O(1)-discovery contract under
      // test is about manifest-HISTORY length, not data volume
      val files0 = ManifestStore.files(spark, root)
      val schema = Seq(0L).toDF("x").schema
      (1L to 500L).foreach(v => ManifestStore.publish(spark, root, v, schema, files0))
      val before = ManifestStore.listingFallbacks.get()
      assert(ManifestStore.currentVersion(spark, root).contains(500L))
      // a real commit on top of the 500-version history, then reads:
      // none of it may regress to a directory listing
      val v = ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "tail")
      assert(v == 501L)
      (0 until 20).foreach(_ => ManifestStore.currentVersion(spark, root))
      assert(ManifestStore.listingFallbacks.get() == before,
        "a 500-version history must resolve through the pointer, never a listing")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    }
  }

  test("racing committers of the same version: exactly one wins, no torn manifest") {
    withRoot { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L).toDF("x"), "day0")
      // drive the REAL race at the publish primitive: both committers
      // read current = 0 and target version 1; the second publish of
      // v1 must lose LOUDLY (FileContext.rename refuses the existing
      // target — plain FileSystem.rename on the local fs would have
      // silently overwritten the winner)
      val keep = ManifestStore.files(spark, root)
      val schema = ManifestStore.schemaOf(spark, root).get
      ManifestStore.publish(spark, root, 1L, schema, keep) // the winner
      assertThrows[java.util.ConcurrentModificationException](
        ManifestStore.publish(spark, root, 1L, schema, keep ++ Seq("phantom.parquet")))
      // the loser's throw left the winner's manifest intact
      assert(ManifestStore.files(spark, root, Some(1L)) == keep)
      assert(ManifestStore.read(spark, root).as[Long].collect().toSeq == Seq(1L))
    }
  }

  test("arming a root with unarmed history: adoptUnarmedHistory prevents the replay duplicate") {
    // Unarmed history (pre-namespace releases, or an unarmed
    // foreachBatch being upgraded) is attributed to run "" by headers
    // and ledger alike.  First the CONTROL: an armed replay of such an
    // id misses every classification arm and re-commits — this is the
    // documented hazard adoptUnarmedHistory exists for, pinned here so
    // a future change that silently alters the classification shows up.
    withRoot { root =>
      ManifestStore.commitStreamBatch(spark, root, Seq(1L).toDF("x"), 0L)
      ManifestStore.commitStreamBatch(spark, root, Seq(2L).toDF("x"), 1L)
      // ledger lost (it is a hint); only the run-less headers survive
      new java.io.File(s"$root/_manifests/_batches").delete()
      ManifestStore.commitStreamBatch(spark, root, Seq(2L).toDF("x"), 1L, Some("runX"))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 2L),
        "control: an armed replay of unadopted unarmed history re-commits (the hazard)")
    }
    // the HEAL: adopt first, then the armed replay is a no-op and new
    // armed batches flow
    withRoot { root =>
      ManifestStore.commitStreamBatch(spark, root, Seq(1L).toDF("x"), 0L)
      ManifestStore.commitStreamBatch(spark, root, Seq(2L).toDF("x"), 1L)
      new java.io.File(s"$root/_manifests/_batches").delete()
      assert(ManifestStore.adoptUnarmedHistory(spark, root, "runX") == 2)
      val v = ManifestStore.commitStreamBatch(spark, root, Seq(-1L).toDF("x"), 1L, Some("runX"))
      assert(v == ManifestStore.batchLedger(spark, root, "runX")(1L))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L),
        "adopted history classifies armed replays as no-ops")
      // the unarmed namespace's own records are untouched by adoption
      assert(ManifestStore.batchLedger(spark, root).keySet == Set(0L, 1L))
      // new armed batches land normally after adoption
      ManifestStore.commitStreamBatch(spark, root, Seq(3L).toDF("x"), 2L, Some("runX"))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // idempotent: re-adoption (e.g. a retried upgrade script) adds
      // nothing new and changes no classification
      assert(ManifestStore.adoptUnarmedHistory(spark, root, "runX") == 2)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    }
    // adoption carries the unarmed prune floor: ids below it classify
    // as known-committed in the adopted namespace too
    val saved = ManifestStore.MaxLedgerEntries
    ManifestStore.MaxLedgerEntries = 2
    try withRoot { root =>
      (0L until 5L).foreach(b =>
        ManifestStore.commitStreamBatch(spark, root, Seq(b).toDF("x"), b))
      // unarmed floor = 3 (ids 0..2 aged off the bounded tail)
      ManifestStore.compact(spark, root, 1L << 20)
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(ManifestStore.adoptUnarmedHistory(spark, root, "runY") >= 1)
      val want = (0L until 5L).toSeq
      val vCur = ManifestStore.currentVersion(spark, root).get
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(0L).toDF("x"), 0L,
        Some("runY")) == vCur,
        "a below-floor id must classify as known-committed in the adopted namespace")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == want)
    } finally ManifestStore.MaxLedgerEntries = saved
  }

  test("adoptUnarmedHistory vs a LIVE unarmed committer: locked adoption loses nothing (r21)") {
    // The r20 advice finding: adoption read the ledger/headers OUTSIDE
    // the per-root lock, so an in-process unarmed commit landing
    // between the read and the write was preserved but silently
    // unadopted.  The sequence now holds the per-root lock end to end,
    // so every interleaving serializes per id into committed-before
    // (attributed) or committed-after (preserved as ''-history, picked
    // up by the documented re-run).  Pin: a live unarmed committer
    // races one adoption; afterwards NO id is lost — one re-adoption
    // attributes the complete unarmed history and the data holds
    // exactly one copy per batch.
    withRoot { root =>
      ManifestStore.commitStreamBatch(spark, root, Seq(0L).toDF("x"), 0L)
      val n = 12
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val committer = new Thread(() => {
        try (1 to n).foreach { b =>
          ManifestStore.commitStreamBatch(spark, root, Seq(b.toLong).toDF("x"), b.toLong); ()
        } catch { case t: Throwable => failure.set(t) }
      })
      committer.start()
      val first = ManifestStore.adoptUnarmedHistory(spark, root, "runY")
      committer.join()
      assert(failure.get() == null, s"concurrent unarmed committer failed: ${failure.get()}")
      assert(first >= 1, "at least the pre-existing unarmed id must be attributed")
      val second = ManifestStore.adoptUnarmedHistory(spark, root, "runY")
      assert(second == n + 1,
        s"re-adoption must attribute the COMPLETE unarmed history, got $second of ${n + 1}")
      assert(ManifestStore.batchLedger(spark, root, "runY").keySet == (0L to n.toLong).toSet)
      // the unarmed namespace's own records stay intact through both adoptions
      assert(ManifestStore.batchLedger(spark, root).keySet == (0L to n.toLong).toSet)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        (0L to n.toLong))
    }
  }
}
