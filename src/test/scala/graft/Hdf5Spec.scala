package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EzFrame
import graft.sources.{Hdf5, Hdf5Write}

/** HDF5 format tests.  No native HDF5 library exists in this
  * environment, so coverage is three-legged:
  *   1. writer→reader round trips (both table layouts),
  *   2. byte-level golden assertions against the published spec
  *      (superblock fields at documented offsets),
  *   3. a hand-crafted chunked+filtered file assembled in the test
  *      directly from the spec, exercising the chunk B-tree walk and
  *      the deflate/shuffle filter chain the writer never emits.
  */
object Hdf5Spec {
  /** UDF calls seen in partition 1 (local mode: one JVM, one counter). */
  val partOneCalls = new java.util.concurrent.atomic.AtomicInteger
}

class Hdf5Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempFile("graft_h5", ".h5").toString

  test("compound round trip: types and values") {
    val df = Seq(
      (1L, 1, 1.5, 2.5f, true, "alpha", Seq(1.0f, 2.0f)),
      (2L, -7, -0.25, 0.5f, false, "bet", Seq(3.0f, 4.0f)),
      (3L, 42, 1e300, 3.25f, true, "c", Seq(5.0f, 6.0f)))
      .toDF("id", "n", "x", "f", "flag", "name", "vec")
    val path = tmp()
    Hdf5Write.write(EzFrame(df), path)
    val back = Hdf5.read(spark, path)
    assert(back.schema("id").dataType == LongType)
    assert(back.schema("n").dataType == IntegerType)
    assert(back.schema("x").dataType == DoubleType)
    assert(back.schema("f").dataType == FloatType)
    assert(back.schema("flag").dataType == ByteType) // HDF5 has no bool; int8
    assert(back.schema("name").dataType == StringType)
    assert(back.schema("vec").dataType.isInstanceOf[ArrayType])
    val rows = back.df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getInt(1)).toSeq == Seq(1, -7, 42))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5, -0.25, 1e300))
    assert(rows.map(_.getFloat(3)).toSeq == Seq(2.5f, 0.5f, 3.25f))
    assert(rows.map(_.getByte(4)).toSeq == Seq(1.toByte, 0.toByte, 1.toByte))
    assert(rows.map(_.getString(5)).toSeq == Seq("alpha", "bet", "c"))
    assert(rows.map(_.getSeq[Float](6)).toSeq ==
      Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f), Seq(5.0f, 6.0f)))
  }

  test("vaex column layout round trip with auto-detection") {
    val df = Seq(
      (10L, 0.5, "aa"), (20L, 1.5, "b"), (30L, -2.5, "ccc"))
      .toDF("key", "val", "tag")
    val path = tmp()
    Hdf5Write.writeColumns(EzFrame(df), path)
    // metadata shape: /table/columns/<name>/data
    val meta = Hdf5.scan(path)
    assert(meta.datasets.map(_.path).toSet ==
      Set("/table/columns/key/data", "/table/columns/val/data", "/table/columns/tag/data"))
    val back = Hdf5.read(spark, path) // no key: detect the columnar group
    assert(back.df.columns.sorted.toSeq == Seq("key", "tag", "val"))
    val rows = back.df.orderBy("key").collect()
    assert(rows.map(_.getLong(rows.head.fieldIndex("key"))).toSeq == Seq(10L, 20L, 30L))
    assert(rows.map(_.getDouble(rows.head.fieldIndex("val"))).toSeq == Seq(0.5, 1.5, -2.5))
    assert(rows.map(_.getString(rows.head.fieldIndex("tag"))).toSeq == Seq("aa", "b", "ccc"))
  }

  test("vaex layout: 2-D array column round trips") {
    val df = Seq((1L, Seq(0.5f, 1.5f, 2.5f)), (2L, Seq(3.5f, 4.5f, 5.5f)))
      .toDF("id", "emb")
    val path = tmp()
    Hdf5Write.writeColumns(EzFrame(df), path)
    val back = Hdf5.read(spark, path)
    val rows = back.df.orderBy("id").collect()
    val got = rows.map(_.getSeq[Float](rows.head.fieldIndex("emb"))).toSeq
    assert(got == Seq(Seq(0.5f, 1.5f, 2.5f), Seq(3.5f, 4.5f, 5.5f)))
  }

  test("distributed read partitions the row range") {
    val df = (0 until 1000).map(i => (i.toLong, i * 0.5)).toDF("i", "x")
    val path = tmp()
    Hdf5Write.write(EzFrame(df), path)
    val back = Hdf5.read(spark, path, partitions = 7)
    assert(back.df.rdd.getNumPartitions == 7)
    assert(back.df.count() == 1000)
    assert(back.df.agg(sum("i")).head.getLong(0) == 499500L)
    assert(back.df.agg(sum("x")).head.getDouble(0) == 249750.0)
  }

  test("golden bytes: superblock v0 layout per spec") {
    val df = Seq((1L, 2.0)).toDF("a", "b")
    val path = tmp()
    Hdf5Write.write(EzFrame(df), path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // format signature (spec III.A)
    assert(bytes.take(8).toSeq ==
      Seq(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte, '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte))
    assert(bytes(8) == 0) // superblock version 0
    assert(bytes(13) == 8 && bytes(14) == 8) // offset/length sizes
    // end-of-file address (offset 40 in a v0 superblock) == file length
    val eof = java.nio.ByteBuffer.wrap(bytes, 40, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    assert(eof == bytes.length.toLong)
  }

  test("reader handles a hand-crafted chunked dataset with deflate+shuffle") {
    val values = (0 until 10).map(_ * 3 + 1) // int32 data, 3 chunks of 4
    val path = tmp()
    writeChunkedFixture(path, values, chunkRows = 4,
      filters = Seq(2 -> Seq(4), 1 -> Seq(6))) // shuffle(4) then deflate(level 6)
    val back = Hdf5.read(spark, path, key = "/d")
    val got = back.df.orderBy("d").collect().map(_.getInt(0)).toSeq
    assert(got == values)
  }

  test("reader handles plain chunked (no filters)") {
    val values = (0 until 11).map(i => i * 7 - 3)
    val path = tmp()
    writeChunkedFixture(path, values, chunkRows = 4, filters = Nil)
    val back = Hdf5.read(spark, path, key = "/d")
    assert(back.df.orderBy("d").collect().map(_.getInt(0)).toSeq == values.sorted)
  }

  test("scan reports dataset metadata") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    val path = tmp()
    Hdf5Write.write(EzFrame(df), path)
    val meta = Hdf5.scan(path)
    assert(meta.datasets.length == 1)
    val d = meta.datasets.head
    assert(d.path == "/data")
    assert(d.dims == Seq(2L))
    val c = d.dtype.asInstanceOf[Hdf5.Compound]
    assert(c.members.map(_.name) == Seq("k", "s"))
    assert(c.members.head.dtype == Hdf5.FixedPoint(8, signed = true, le = true))
  }

  // ================================================================
  test("array-of-string columns keep full element width (not the array length)") {
    // 2-element arrays of 7-char strings: the element width must come
    // from string length, not be truncated to the array length (2)
    val df = Seq(
      (1L, Seq("alpha-1", "alpha-2")),
      (2L, Seq("beta-01", "x"))).toDF("id", "tags")
    val path = tmp()
    Hdf5Write.write(EzFrame(df), path)
    val back = Hdf5.read(spark, path).df.orderBy("id").collect()
    assert(back(0).getSeq[String](1) == Seq("alpha-1", "alpha-2"))
    assert(back(1).getSeq[String](1) == Seq("beta-01", "x"))
    val path2 = tmp()
    Hdf5Write.writeColumns(EzFrame(df), path2)
    val back2 = Hdf5.read(spark, path2).df.orderBy("id").collect()
    assert(back2(0).getSeq[String](1) == Seq("alpha-1", "alpha-2"))
  }

  test("vlen string dataset reads through the global heap (h5py str default)") {
    val path = tmp()
    val strings = Seq("alpha", "", "a much longer string that crosses 8-byte padding", "βeta")
    writeVlenFixture(path, strings)
    val ez = Hdf5.read(spark, path)
    assert(ez.columns == Seq("d"))
    assert(ez.schema("d").dataType == StringType)
    assert(ez.df.collect().map(_.getString(0)).toSeq == strings)
  }

  test("enum datatype (class 8) decodes codes to category strings") {
    // codes deliberately non-contiguous; row with code 7 has no member
    // -> null (reference restores a pandas Categorical from the codes;
    // unknown codes have no category)
    val path = tmp()
    writeEnumFixture(path,
      members = Seq("low" -> 2L, "mid" -> 5L, "high" -> 9L),
      codes = Seq(5, 2, 9, 7, 2))
    val back = Hdf5.read(spark, path, key = "/d")
    assert(back.schema("d").dataType == org.apache.spark.sql.types.StringType)
    val got = back.df.collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("mid"), Some("low"), Some("high"), None, Some("low")))
  }

  test("vlen SEQUENCE datatype raises the documented error") {
    val path = tmp()
    writeVlenFixture(path, Seq("x"), vlenType = 0)
    val err = intercept[Exception](Hdf5.read(spark, path))
    assert(err.getMessage.contains("SEQUENCE"))
  }

  test("CHUNKED vlen string dataset resolves the global heap too") {
    // h5py chunks vlen datasets whenever compression/chunking is on —
    // the chunked decode branch must thread the heap like contiguous
    val path = tmp()
    val strings = Seq("first", "second value", "", "third-π")
    writeVlenFixture(path, strings, chunked = true)
    val ez = Hdf5.read(spark, path)
    assert(ez.df.collect().map(_.getString(0)).toSeq == strings)
  }

  test("vlen-string WRITE round-trips through the global heap (both layouts)") {
    // h5py's default layout for str columns — now writable, not just
    // readable.  Mixed lengths, empty, unicode, and one string past the
    // 64 KiB collection target so the spool emits MULTIPLE collections.
    val big = "x" * 70000
    val strings = Seq("alpha", "", "βeta π", big, "tail-after-big")
    val df = strings.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "name")
    val path = tmp()
    Hdf5Write.write(EzFrame(df), path, vlenStrings = true)
    val back = Hdf5.read(spark, path).df.orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq == strings)
    // column layout too
    val path2 = tmp()
    Hdf5Write.writeColumns(EzFrame(df), path2, vlenStrings = true)
    val back2 = Hdf5.read(spark, path2).df.orderBy("id").collect()
    assert(back2.map(_.getString(1)).toSeq == strings)
    // vlen files carry no width padding: the data region is 16 bytes/row
    // regardless of string length (the 70k string lives in the heap)
    assert(new java.io.File(path).length() <
      new java.io.File({ val p = tmp(); Hdf5Write.write(EzFrame(df), p); p }).length() * 2)
  }

  test("a vlen write that fails in its data pass leaves no spool file (both layouts)") {
    // `name` throws in partition 1 on its second evaluation there: the
    // header pass evaluates it once per row, so the failure lands in the
    // data pass, after partition 0's strings went to the spool
    val perPart = 4
    val name = udf { (id: Long) =>
      if (org.apache.spark.TaskContext.getPartitionId() == 1 &&
          Hdf5Spec.partOneCalls.incrementAndGet() > perPart)
        throw new IllegalStateException("injected data-pass failure")
      s"name$id"
    }
    val writers = Seq[(String, (EzFrame, String) => Unit)](
      "table" -> ((ez, p) => Hdf5Write.write(ez, p, vlenStrings = true)),
      "columns" -> ((ez, p) => Hdf5Write.writeColumns(ez, p, vlenStrings = true)))
    for ((layout, write) <- writers) {
      Hdf5Spec.partOneCalls.set(0)
      val df = spark.range(0, 2 * perPart, 1, 2).select(col("id"), name(col("id")).as("name"))
      val leaked = IoSpec.newStagingDirs("graft_vlen") {
        val e = intercept[org.apache.spark.SparkException](write(EzFrame(df), tmp()))
        assert(e.getMessage.contains("injected data-pass failure"), e.getMessage)
      }
      assert(leaked.isEmpty, s"$layout layout left spool files behind: $leaked")
    }
  }

  test("chunked + shuffle + deflate WRITE round-trips and actually compresses") {
    val df = (0 until 5000).map(i => (i.toLong, i * 0.5, s"name$i")).toDF("id", "v", "s")
    val path = tmp()
    Hdf5Write.writeChunked(EzFrame(df), path, chunkRows = 1200) // 5 chunks, last partial
    val back = Hdf5.read(spark, path).df.orderBy("id").collect()
    assert(back.length == 5000)
    assert(back(4999).getLong(0) == 4999L && back(4999).getDouble(1) == 2499.5)
    assert(back(4999).getString(2) == "name4999")
    // highly regular data must deflate well below the contiguous size
    val plain = tmp()
    Hdf5Write.write(EzFrame(df), plain)
    assert(new java.io.File(path).length() < new java.io.File(plain).length() / 2,
      s"chunked file not compressed: ${new java.io.File(path).length()} vs ${new java.io.File(plain).length()}")
    // no-shuffle variant decodes too (single-filter pipeline branch)
    val path2 = tmp()
    Hdf5Write.writeChunked(EzFrame(df), path2, chunkRows = 5000, shuffle = false)
    assert(Hdf5.read(spark, path2).df.count() == 5000)
  }

  test("corrupt global-heap sizes fail clean, not with a multi-GB allocation") {
    // patch the GCOL collection size to a hostile value: the reader must
    // throw the parser's IllegalArgumentException, not attempt the
    // allocation (OOM) or NegativeArraySizeException
    def corrupt(patch: java.nio.ByteBuffer => Unit): Exception = {
      val path = tmp()
      writeVlenFixture(path, Seq("alpha", "beta"))
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val gcol = bytes.indexOfSlice("GCOL".getBytes("US-ASCII"))
      assert(gcol > 0)
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.position(gcol); patch(bb)
      java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
      intercept[Exception](Hdf5.read(spark, path).df.collect())
    }
    // collection size below the 16-byte header -> negative body size
    val e1 = corrupt(bb => bb.putLong(bb.position() + 8, 8L))
    // collection size of several exabytes -> truncated-Int allocation
    val e2 = corrupt(bb => bb.putLong(bb.position() + 8, 0x7fffffff0000L))
    // object size larger than the remaining body
    val e3 = corrupt(bb => bb.putLong(bb.position() + 16 + 8, 1L << 40))
    Seq(e1, e2, e3).foreach { e =>
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("global heap"), s"unexpected failure: $msgs")
    }
  }

  test("dense (fractal-heap) group links resolve: depth-0 name index") {
    // h5py past the compact-link threshold (or track_order/libver
    // latest): links live in a fractal heap indexed by a v2 B-tree
    val path = tmp()
    val names = (0 until 20).map(i => f"ds$i%02d")
    writeDenseGroupFixture(path, names, depth1 = false)
    val meta = Hdf5.scan(path)
    assert(meta.datasets.map(_.path).toSet == names.map("/" + _).toSet)
    assert(meta.datasets.forall(_.dims == Seq(2L)))
    // values decode through the normal read path
    val ez = Hdf5.read(spark, path)
    assert(ez.columns.toSet == names.toSet)
    val r0 = ez.df.orderBy(names.head).collect()
    assert(r0.length == 2)
  }

  test("dense group links resolve through a depth-1 v2 B-tree (BTIN + leaves)") {
    val path = tmp()
    val names = (0 until 21).map(i => f"ds$i%02d")
    writeDenseGroupFixture(path, names, depth1 = true)
    val meta = Hdf5.scan(path)
    assert(meta.datasets.map(_.path).toSet == names.map("/" + _).toSet)
  }

  // ================================================================
  // fixture: dense-storage group — root OH carries a Link Info message
  // (0x0002) pointing at an FRHP fractal heap (direct root block) whose
  // managed objects are serialized link messages, indexed by a BTHD v2
  // B-tree (record type 5).  Hand-assembled from spec III.G / III.A.2;
  // name hashes are fake (the reader enumerates, never probes by hash).
  // ================================================================
  private def writeDenseGroupFixture(path: String, names: Seq[String],
                                     depth1: Boolean): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    def u1(v: Int): Unit = out.write(v & 0xff)
    def u2(v: Int): Unit = { u1(v); u1(v >> 8) }
    def u4(v: Long): Unit = { u1(v.toInt); u1((v >> 8).toInt); u1((v >> 16).toInt); u1((v >> 24).toInt) }
    def u8(v: Long): Unit = { u4(v & 0xffffffffL); u4(v >>> 32) }
    def undef(): Unit = u8(-1L)

    // ---- layout plan (sequential, addresses precomputed)
    val sbSize = 96L
    val dsStride = 16L + 96L // 2 int64 values + OH(v1, 3 messages)
    def dataAddr(i: Int) = sbSize + i * dsStride
    def ohAddr(i: Int) = dataAddr(i) + 16
    val frhpAddr = sbSize + names.length * dsStride
    val fhdbAddr = frhpAddr + 146
    val blockSize = 512L
    val bthdAddr = fhdbAddr + blockSize
    val bthdSize = 38L
    val recSize = 11 // hash u4 + heap ID (1 + offset u4 + length u2)
    def btlfSize(n: Int) = 6L + n * recSize + 4
    // depth-1 split: leaf1 + separator record + leaf2
    val (leaf1N, leaf2N) = (names.length / 2, names.length - names.length / 2 - 1)
    val btlf1Addr = bthdAddr + bthdSize
    val btlf2Addr = btlf1Addr + btlfSize(if (depth1) leaf1N else names.length)
    val btinAddr = btlf2Addr + (if (depth1) btlfSize(leaf2N) else 0L)
    val btinSize = if (depth1) 6L + recSize + 2 * 9 + 4 else 0L
    val rootOHAddr = btinAddr + btinSize
    val eof = rootOHAddr + 16 + 32

    // link message bytes: v1, flags 0 (1-byte name length), name, OH addr
    def linkMsg(name: String, oh: Long): Array[Byte] = {
      val nb = name.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(3 + nb.length + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte); bb.put(0.toByte); bb.put(nb.length.toByte)
      bb.put(nb); bb.putLong(oh)
      bb.array()
    }
    val msgs = names.zipWithIndex.map { case (n, i) => linkMsg(n, ohAddr(i)) }
    // heap offsets include the direct-block header (spec: offsets address
    // the managed space, whose first bytes are the block header)
    val fhdbHdr = 4 + 1 + 8 + 4 // sig + version + heap hdr addr + 4-byte block offset
    val heapOffs = msgs.scanLeft(fhdbHdr.toLong)(_ + _.length)
    require(heapOffs.last <= blockSize, "fixture: links overflow one direct block")

    // ---- superblock v0 (root STE cache type 0: links come from the OH)
    out.write(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    u1(0); u1(0); u1(0); u1(0); u1(0)
    u1(8); u1(8); u1(0)
    u2(4); u2(16)
    u4(0)
    u8(0L); undef(); u8(eof); undef()
    u8(0L)
    u8(rootOHAddr)
    u4(0); u4(0) // cache type 0
    undef(); undef()

    // ---- datasets: 16 bytes of data + OH(dataspace, datatype int64, layout)
    names.indices.foreach { i =>
      u8(i.toLong); u8(i * 100L) // the two values
      u1(1); u1(0); u2(3); u4(1); u4(80); u4(0)
      u2(0x0001); u2(16); u4(0) // dataspace v1 rank 1, dim = 2
      u1(1); u1(1); u1(0); (0 until 5).foreach(_ => u1(0))
      u8(2L)
      u2(0x0003); u2(16); u4(0) // datatype: int64 LE signed
      u1(0x10); u1(0x08); u1(0); u1(0)
      u4(8); u2(0); u2(64)
      u4(0) // pad the 12-byte body to the declared 16
      u2(0x0008); u2(24); u4(0) // layout v3 contiguous
      u1(3); u1(1)
      u8(dataAddr(i)); u8(16L)
      (0 until 6).foreach(_ => u1(0))
    }

    // ---- FRHP header (heap ID len 7 = 1 + offset 4 + length 2)
    out.write("FRHP".getBytes("US-ASCII"))
    u1(0)
    u2(7) // heap ID length
    u2(0) // no I/O filters
    u1(0) // flags: no checksummed blocks
    u4(4096) // max size of managed objects -> 2-byte ID length field
    u8(0L); undef() // next huge id, huge btree
    u8(blockSize - heapOffs.last); undef() // free space, fs manager
    u8(blockSize); u8(blockSize) // managed space, allocated
    u8(heapOffs.last) // direct block iterator offset
    u8(names.length.toLong) // managed objects
    u8(0L); u8(0L); u8(0L); u8(0L) // huge/tiny sizes+counts
    u2(4) // table width
    u8(blockSize) // starting block size
    u8(65536L) // maximum direct block size
    u2(32) // maximum heap size (bits) -> 4-byte offsets
    u2(1) // starting # rows in root indirect block
    u8(fhdbAddr)
    u2(0) // current rows = 0 -> root IS a direct block
    u4(0) // checksum (unverified by the reader)

    // ---- FHDB direct block: header + link messages, padded to 512
    out.write("FHDB".getBytes("US-ASCII"))
    u1(0)
    u8(frhpAddr)
    u4(0L) // block offset (4 bytes at 32-bit max heap size)
    msgs.foreach(out.write)
    (heapOffs.last until blockSize).foreach(_ => u1(0))

    // ---- BTHD v2 B-tree header (type 5: link name index)
    val rootNRec = if (depth1) 1 else names.length
    val rootAddr = if (depth1) btinAddr else btlf1Addr
    out.write("BTHD".getBytes("US-ASCII"))
    u1(0); u1(5)
    u4(512); u2(recSize)
    u2(if (depth1) 1 else 0) // depth
    u1(100); u1(40)
    u8(rootAddr)
    u2(rootNRec)
    u8(names.length.toLong)
    u4(0) // checksum

    def record(i: Int): Unit = {
      u4(i.toLong) // fake name hash (enumeration never probes)
      u1(0) // heap ID: version 0, managed
      u4(heapOffs(i)); u2(msgs(i).length)
    }
    def leaf(indices: Range): Unit = {
      out.write("BTLF".getBytes("US-ASCII"))
      u1(0); u1(5)
      indices.foreach(record)
      u4(0)
    }
    if (!depth1) leaf(names.indices)
    else {
      leaf(0 until leaf1N)
      leaf((leaf1N + 1) until names.length)
      out.write("BTIN".getBytes("US-ASCII"))
      u1(0); u1(5)
      record(leaf1N) // the separator record
      u8(btlf1Addr); u1(leaf1N) // child pointers: addr + 1-byte nrec
      u8(btlf2Addr); u1(leaf2N)
      u4(0) // checksum
    }

    // ---- root group OH: one Link Info message (dense storage)
    u1(1); u1(0); u2(1); u4(1); u4(32); u4(0)
    u2(0x0002); u2(24); u4(0)
    u1(0); u1(0) // version, flags (no creation order)
    u8(frhpAddr); u8(bthdAddr)
    (0 until 6).foreach(_ => u1(0))

    val bytes = out.toByteArray
    assert(bytes.length == eof, s"fixture layout drift: ${bytes.length} != $eof")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }

  // ================================================================
  // fixture: contiguous vlen-string dataset + GCOL global heap,
  // assembled from the spec text (h5py's default layout for str
  // columns — Hdf5Write never emits vlen, so this is hand-built)
  // ================================================================
  // fixture: contiguous int8-based ENUM dataset (datatype class 8, v1
  // encoding: base type, nul-terminated names padded to 8, then packed
  // code values) — what pytables emits for categorical columns
  private def writeEnumFixture(path: String, members: Seq[(String, Long)],
                               codes: Seq[Int]): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    def u1(v: Int): Unit = out.write(v & 0xff)
    def u2(v: Int): Unit = { u1(v); u1(v >> 8) }
    def u4(v: Long): Unit = { u1(v.toInt); u1((v >> 8).toInt); u1((v >> 16).toInt); u1((v >> 24).toInt) }
    def u8(v: Long): Unit = { u4(v & 0xffffffffL); u4(v >>> 32) }
    def undef(): Unit = u8(-1L)
    def pad8(n: Int): Int = (n + 7) / 8 * 8

    val namesBytes = members.map(_._1.getBytes("US-ASCII"))
    val dtBodyRaw = 8 + 12 + namesBytes.map(b => pad8(b.length + 1)).sum + members.size
    val dtBody = pad8(dtBodyRaw)

    // ---- layout plan
    val sbSize = 96L
    val rootOHAddr = sbSize
    val rootOHSize = 16L + 8 + 16
    val ohAddr = rootOHAddr + rootOHSize
    val ohSize = (16L + 8) + (8 + dtBody) + (24 + 8) // dataspace, datatype(enum), layout
    val heapAddr = ohAddr + 16 + ohSize
    val heapDataSize = 16L
    val snodAddr = heapAddr + 32 + heapDataSize
    val snodSize = 8L + 8 * 40
    val gBtreeAddr = snodAddr + snodSize
    val gBtreeSize = 24L + 8 * (2 * 4) + 8 * (2 * 4 + 1)
    val dataAddr = gBtreeAddr + gBtreeSize
    val eof = dataAddr + codes.length

    // ---- superblock v0
    out.write(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    u1(0); u1(0); u1(0); u1(0); u1(0)
    u1(8); u1(8); u1(0)
    u2(4); u2(16)
    u4(0)
    u8(0L); undef(); u8(eof); undef()
    u8(0L)
    u8(rootOHAddr)
    u4(1); u4(0)
    u8(gBtreeAddr); u8(heapAddr)

    // ---- root group object header (v1, one symbol-table message)
    u1(1); u1(0); u2(1); u4(1); u4(24); u4(0)
    u2(0x0011); u2(16); u4(0)
    u8(gBtreeAddr); u8(heapAddr)

    // ---- dataset object header (v1)
    u1(1); u1(0)
    u2(3)
    u4(1)
    u4(ohSize)
    u4(0)
    // dataspace v1 rank 1
    u2(0x0001); u2(16); u4(0)
    u1(1); u1(1); u1(0); (0 until 5).foreach(_ => u1(0))
    u8(codes.length.toLong)
    // datatype: class 8 (enum v1), base = int8 signed LE
    u2(0x0003); u2(dtBody); u4(0)
    u1(0x18); u1(members.size & 0xff); u1(members.size >> 8); u1(0)
    u4(1) // enum element size = base size
    u1(0x10); u1(0x08); u1(0); u1(0); u4(1); u2(0); u2(8) // base int8
    namesBytes.foreach { nb =>
      out.write(nb); u1(0)
      (nb.length + 1 until pad8(nb.length + 1)).foreach(_ => u1(0))
    }
    members.foreach { case (_, v) => u1(v.toInt) }
    (dtBodyRaw until dtBody).foreach(_ => u1(0))
    // layout v3 contiguous: 18 -> padded 24
    u2(0x0008); u2(24); u4(0)
    u1(3); u1(1)
    u8(dataAddr); u8(codes.length.toLong)
    (0 until 6).foreach(_ => u1(0))

    // ---- root group: heap, SNOD, btree (dataset name "d")
    out.write("HEAP".getBytes("US-ASCII"))
    u1(0); u1(0); u1(0); u1(0)
    u8(heapDataSize)
    undef()
    u8(heapAddr + 32)
    u8(0L)
    out.write('d'); u1(0); (0 until 6).foreach(_ => u1(0))
    out.write("SNOD".getBytes("US-ASCII"))
    u1(1); u1(0)
    u2(1)
    u8(8L); u8(ohAddr); u4(0); u4(0); (0 until 16).foreach(_ => u1(0))
    (0 until 7 * 40).foreach(_ => u1(0))
    out.write("TREE".getBytes("US-ASCII"))
    u1(0); u1(0)
    u2(1)
    undef(); undef()
    u8(0L); u8(snodAddr); u8(8L)
    (0 until (2 * 4 - 1) * 16).foreach(_ => u1(0))

    // ---- data: one int8 code per row
    codes.foreach(u1)

    val bytes = out.toByteArray
    assert(bytes.length == eof, s"fixture layout drift: ${bytes.length} != $eof")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }

  private def writeVlenFixture(path: String, strings: Seq[String], vlenType: Int = 1,
                               chunked: Boolean = false): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    def u1(v: Int): Unit = out.write(v & 0xff)
    def u2(v: Int): Unit = { u1(v); u1(v >> 8) }
    def u4(v: Long): Unit = { u1(v.toInt); u1((v >> 8).toInt); u1((v >> 16).toInt); u1((v >> 24).toInt) }
    def u8(v: Long): Unit = { u4(v & 0xffffffffL); u4(v >>> 32) }
    def undef(): Unit = u8(-1L)
    def pad8(n: Int): Int = (n + 7) / 8 * 8

    val utf8 = strings.map(_.getBytes("UTF-8"))
    val nonEmpty = utf8.zipWithIndex.filter(_._1.nonEmpty)
    val heapIdx: Map[Int, Int] = nonEmpty.map(_._2).zipWithIndex.map { case (r, i) => r -> (i + 1) }.toMap

    // ---- layout plan
    val sbSize = 96L
    val rootOHAddr = sbSize
    val rootOHSize = 16L + 8 + 16
    val ohAddr = rootOHAddr + rootOHSize
    // layout msg body: v3 contiguous 18 -> 24, v3 chunked rank-2 19 -> 24
    val ohSize = (16L + 8) + (16 + 8) + (24 + 8) // dataspace, datatype(vlen), layout
    // chunked: one full-size chunk + a 1-entry v1 B-tree between OH and GCOL
    val btreeAddr = ohAddr + 16 + ohSize
    val btreeSize = if (chunked) 24L + 2 * (8 + 8 * 2) + 8 else 0L
    val gcolAddr = btreeAddr + btreeSize
    val gcolObjBytes = nonEmpty.map { case (b, _) => 16 + pad8(b.length) }.sum
    val collSize = 16L + gcolObjBytes + 16 // header + objects + free-space object
    val heapAddr = gcolAddr + collSize
    val heapDataSize = 16L
    val snodAddr = heapAddr + 32 + heapDataSize
    val snodSize = 8L + 8 * 40
    val gBtreeAddr = snodAddr + snodSize
    val gBtreeSize = 24L + 8 * (2 * 4) + 8 * (2 * 4 + 1)
    val dataAddr = gBtreeAddr + gBtreeSize
    val eof = dataAddr + 16L * strings.length

    // ---- superblock v0
    out.write(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    u1(0); u1(0); u1(0); u1(0); u1(0)
    u1(8); u1(8); u1(0)
    u2(4); u2(16)
    u4(0)
    u8(0L); undef(); u8(eof); undef()
    u8(0L)
    u8(rootOHAddr)
    u4(1); u4(0)
    u8(gBtreeAddr); u8(heapAddr)

    // ---- root group object header (v1, one symbol-table message)
    u1(1); u1(0); u2(1); u4(1); u4(24); u4(0)
    u2(0x0011); u2(16); u4(0)
    u8(gBtreeAddr); u8(heapAddr)

    // ---- dataset object header (v1)
    u1(1); u1(0)
    u2(3)
    u4(1)
    u4(ohSize)
    u4(0)
    // dataspace v1 rank 1
    u2(0x0001); u2(16); u4(0)
    u1(1); u1(1); u1(0); (0 until 5).foreach(_ => u1(0))
    u8(strings.length.toLong)
    // datatype: class 9 (variable-length), type = vlenType (1 = string),
    // base type = 1-byte string
    u2(0x0003); u2(16); u4(0)
    u1(0x19); u1(vlenType); u1(0); u1(0)
    u4(16)
    u1(0x13); u1(0); u1(0); u1(0); u4(1)
    if (chunked) {
      // layout v3 chunked rank 2 (rows + element size): 19 -> padded 24
      u2(0x0008); u2(24); u4(0)
      u1(3); u1(2)
      u1(2) // dimensionality = rank + 1
      u8(btreeAddr)
      u4(strings.length.toLong); u4(16L) // chunk dims + element size
      (0 until 5).foreach(_ => u1(0))
    } else {
      // layout v3 contiguous: 18 -> padded 24
      u2(0x0008); u2(24); u4(0)
      u1(3); u1(1)
      u8(dataAddr); u8(16L * strings.length)
      (0 until 6).foreach(_ => u1(0))
    }

    // ---- chunk B-tree (type 1, level 0, single full chunk)
    if (chunked) {
      out.write("TREE".getBytes("US-ASCII"))
      u1(1); u1(0)
      u2(1)
      undef(); undef()
      u4(16L * strings.length) // stored chunk size (no filters)
      u4(0L) // filter mask
      u8(0L); u8(0L) // chunk offsets (row 0, elem 0)
      u8(dataAddr)
      // final key
      u4(0L); u4(0L); u8(strings.length.toLong); u8(0L)
    }

    // ---- global heap collection
    out.write("GCOL".getBytes("US-ASCII"))
    u1(1); u1(0); u1(0); u1(0)
    u8(collSize)
    nonEmpty.foreach { case (bytes, row) =>
      u2(heapIdx(row)); u2(1); u4(0)
      u8(bytes.length.toLong)
      out.write(bytes)
      (bytes.length until pad8(bytes.length)).foreach(_ => u1(0))
    }
    u2(0); u2(0); u4(0); u8(16L) // free-space object terminates the walk

    // ---- root group: heap, SNOD, btree (dataset name "d")
    out.write("HEAP".getBytes("US-ASCII"))
    u1(0); u1(0); u1(0); u1(0)
    u8(heapDataSize)
    undef()
    u8(heapAddr + 32)
    u8(0L)
    out.write('d'); u1(0); (0 until 6).foreach(_ => u1(0))
    out.write("SNOD".getBytes("US-ASCII"))
    u1(1); u1(0)
    u2(1)
    u8(8L); u8(ohAddr); u4(0); u4(0); (0 until 16).foreach(_ => u1(0))
    (0 until 7 * 40).foreach(_ => u1(0))
    out.write("TREE".getBytes("US-ASCII"))
    u1(0); u1(0)
    u2(1)
    undef(); undef()
    u8(0L); u8(snodAddr); u8(8L)
    (0 until (2 * 4 - 1) * 16).foreach(_ => u1(0))

    // ---- vlen references (len u4, collection addr u8, object idx u4)
    utf8.zipWithIndex.foreach { case (bytes, row) =>
      if (bytes.isEmpty) { u4(0L); u8(0L); u4(0L) }
      else { u4(bytes.length.toLong); u8(gcolAddr); u4(heapIdx(row).toLong) }
    }

    val bytes = out.toByteArray
    assert(bytes.length == eof, s"fixture layout drift: ${bytes.length} != $eof")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }

  // fixture builder: a minimal HDF5 file written from the spec text,
  // independent of Hdf5Write's code paths (different layout class,
  // chunked + filter pipeline + v1 chunk B-tree)
  // ================================================================
  private def writeChunkedFixture(path: String, values: Seq[Int], chunkRows: Int,
                                  filters: Seq[(Int, Seq[Int])]): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    def u1(v: Int): Unit = out.write(v & 0xff)
    def u2(v: Int): Unit = { u1(v); u1(v >> 8) }
    def u4(v: Long): Unit = { u1(v.toInt); u1((v >> 8).toInt); u1((v >> 16).toInt); u1((v >> 24).toInt) }
    def u8(v: Long): Unit = { u4(v & 0xffffffffL); u4(v >>> 32) }
    def undef(): Unit = u8(-1L)

    def applyFilters(data: Array[Byte]): Array[Byte] =
      filters.foldLeft(data) { case (d, (id, params)) =>
        id match {
          case 2 => // shuffle: interleave byte planes
            val sz = params.head
            val n = d.length / sz
            val o = new Array[Byte](d.length)
            for (i <- 0 until sz; j <- 0 until n) o(i * n + j) = d(j * sz + i)
            o
          case 1 => // deflate
            val def_ = new java.util.zip.Deflater(params.head)
            def_.setInput(d); def_.finish()
            val buf = new Array[Byte](d.length * 2 + 64)
            val n = def_.deflate(buf)
            def_.end()
            buf.take(n)
        }
      }

    // ---- chunk payloads (addresses fixed after metadata is laid out)
    val nChunks = (values.length + chunkRows - 1) / chunkRows
    val chunkPayloads = (0 until nChunks).map { c =>
      // chunks are always full-size; overhang padded (spec: edge chunks
      // are stored at full chunk size)
      val slice = (0 until chunkRows).map { i =>
        val idx = c * chunkRows + i
        if (idx < values.length) values(idx) else 0
      }
      val raw = new Array[Byte](chunkRows * 4)
      val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      slice.foreach(bb.putInt)
      applyFilters(raw)
    }

    // ---- layout plan (fixed-size blocks, so addresses are computable)
    val sbSize = 96L
    val rootOHAddr = sbSize // root group OH: 16 prefix + (8 + 16) symbol table msg
    val rootOHSize = 16L + 8 + 16
    val ohAddr = rootOHAddr + rootOHSize
    // messages: dataspace(v1, rank1) 16, datatype(int32) 12->16 padded,
    // filter pipeline (sized below), layout v3 chunked rank2 = 1+1+1+8+4+4 = 19 -> 24
    val filterBody: Array[Byte] = if (filters.isEmpty) Array.empty else {
      val b = new java.io.ByteArrayOutputStream()
      def fu1(v: Int): Unit = b.write(v & 0xff)
      def fu2(v: Int): Unit = { fu1(v); fu1(v >> 8) }
      def fu4(v: Int): Unit = { fu2(v & 0xffff); fu2(v >>> 16) }
      fu1(1); fu1(filters.length) // version 1, nfilters
      fu2(0); fu4(0) // reserved
      filters.foreach { case (id, params) =>
        fu2(id); fu2(0) // name length 0
        fu2(0) // flags
        fu2(params.length)
        params.foreach(fu4)
        if (params.length % 2 == 1) fu4(0) // v1 pads odd client counts
      }
      b.toByteArray
    }
    val msgSizes = Seq(
      16, // dataspace: 1+1+1+5 + 8
      16, // datatype int32: 8 header + 4 props = 12 -> padded 16
      (if (filters.isEmpty) 0 else (filterBody.length + 7) / 8 * 8),
      24) // layout v3 chunked: 19 -> 24
      .filter(_ > 0)
    val ohSize = msgSizes.map(_ + 8L).sum
    val btreeAddr = ohAddr + 16 + ohSize
    // chunk B-tree node: 24 header + (nChunks+1) keys * (8 + 16) + nChunks * 8 children
    val keyBytes = 8 + 8 * 2 // size+mask (8) + 2 offsets (rank+1 = 2)
    val btreeSize = 24L + (nChunks + 1) * keyBytes + nChunks * 8
    // root group symbol table: heap + SNOD + btree
    val heapAddr = btreeAddr + btreeSize
    val heapDataSize = 16L // "" + "d"
    val snodAddr = heapAddr + 32 + heapDataSize
    val snodSize = 8L + 8 * 40
    val gBtreeAddr = snodAddr + snodSize
    val gBtreeSize = 24L + 8 * (2 * 4) + 8 * (2 * 4 + 1)
    var dataAddr = gBtreeAddr + gBtreeSize
    val chunkAddrs = chunkPayloads.map { p =>
      val a = dataAddr; dataAddr += p.length; a
    }
    val eof = dataAddr

    // ---- superblock v0
    out.write(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    u1(0); u1(0); u1(0); u1(0); u1(0)
    u1(8); u1(8); u1(0)
    u2(4); u2(16)
    u4(0)
    u8(0L); undef(); u8(eof); undef()
    u8(0L) // root link name offset
    u8(rootOHAddr)
    u4(1); u4(0)
    u8(gBtreeAddr); u8(heapAddr)

    // ---- root group object header (v1, one symbol-table message)
    u1(1); u1(0)
    u2(1)
    u4(1)
    u4(24)
    u4(0) // pad
    u2(0x0011); u2(16); u4(0)
    u8(gBtreeAddr); u8(heapAddr)

    // ---- dataset object header (v1)
    u1(1); u1(0)
    u2(msgSizes.length)
    u4(1)
    u4(ohSize)
    u4(0) // pad
    // dataspace
    u2(0x0001); u2(16); u4(0)
    u1(1); u1(1); u1(0); (0 until 5).foreach(_ => u1(0))
    u8(values.length.toLong)
    // datatype: int32 LE signed
    u2(0x0003); u2(16); u4(0)
    u1(0x10); u1(0x08); u1(0); u1(0)
    u4(4)
    u2(0); u2(32)
    u4(0) // pad 12 -> 16
    // filter pipeline
    if (filters.nonEmpty) {
      val padded = (filterBody.length + 7) / 8 * 8
      u2(0x000B); u2(padded); u4(0)
      out.write(filterBody)
      (filterBody.length until padded).foreach(_ => u1(0))
    }
    // layout v3 chunked
    u2(0x0008); u2(24); u4(0)
    u1(3); u1(2)
    u1(2) // dimensionality = rank + 1
    u8(btreeAddr)
    u4(chunkRows.toLong); u4(4L) // chunk dims + element size
    u1(0); u1(0); u1(0); u1(0); u1(0) // pad 19 -> 24

    // ---- chunk B-tree (type 1, level 0)
    out.write("TREE".getBytes("US-ASCII"))
    u1(1); u1(0)
    u2(nChunks)
    undef(); undef()
    (0 until nChunks).foreach { c =>
      u4(chunkPayloads(c).length.toLong) // stored chunk size
      u4(0L) // filter mask
      u8(c.toLong * chunkRows); u8(0L)
      u8(chunkAddrs(c))
    }
    // final key
    u4(0L); u4(0L); u8(values.length.toLong); u8(0L)

    // ---- root group: heap, SNOD, btree
    out.write("HEAP".getBytes("US-ASCII"))
    u1(0); u1(0); u1(0); u1(0)
    u8(heapDataSize)
    undef()
    u8(heapAddr + 32)
    u8(0L) // "" at offset 0
    out.write('d'); u1(0); (0 until 6).foreach(_ => u1(0)) // "d" at offset 8
    out.write("SNOD".getBytes("US-ASCII"))
    u1(1); u1(0)
    u2(1)
    u8(8L); u8(ohAddr); u4(0); u4(0); (0 until 16).foreach(_ => u1(0))
    (0 until 7 * 40).foreach(_ => u1(0))
    out.write("TREE".getBytes("US-ASCII"))
    u1(0); u1(0)
    u2(1)
    undef(); undef()
    u8(0L); u8(snodAddr); u8(8L)
    (0 until (2 * 4 - 1) * 16).foreach(_ => u1(0))

    // ---- chunk data
    chunkPayloads.foreach(out.write)

    val bytes = out.toByteArray
    assert(bytes.length == eof, s"fixture layout drift: ${bytes.length} != $eof")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }
}
