package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array_max, coalesce, count, length, lit, max, transform, size => asize}
import org.apache.spark.sql.types._
import scala.collection.mutable
import graft.core.EzFrame

/** HDF5 writer: emits the v0-superblock / v1-object-header / symbol-table
  * subset of the HDF5 file format specification that [[Hdf5]] reads and
  * that libhdf5-based tools accept (the reference writes HDF5 via
  * pytables/h5py, ezdata/simpletable.py:1767–1770 and the vaex column
  * layout in dask/hdf5.py:377–458).
  *
  * Two table layouts:
  *  - [[write]]: one contiguous compound-type dataset `data` under the
  *    root (pytables-table flavor),
  *  - [[writeColumns]]: the vaex layout `/table/columns/<name>/data`
  *    with one contiguous 1-D (or 2-D for fixed-width array columns)
  *    dataset per column.
  *
  * The sink is single-file; memory is bounded — the schema pass computes
  * counts/widths with one aggregate, rows then stream through
  * `toLocalIterator` (never a whole-table collect).
  */
object Hdf5Write {

  private val Undef = 0xFFFFFFFFFFFFFFFFL

  // ---------------------------------------------------------------- output
  private trait Sink {
    def addr: Long
    def u1(v: Int): Unit
    def put(b: Array[Byte]): Unit
    def zeros(n: Int): Unit
    def u2(v: Int): Unit = { u1(v); u1(v >> 8) }
    def u4(v: Long): Unit = { u1(v.toInt); u1((v >> 8).toInt); u1((v >> 16).toInt); u1((v >> 24).toInt) }
    def u8(v: Long): Unit = { u4(v & 0xffffffffL); u4(v >>> 32) }
    def placeholderU8(): Long = { val at = addr; u8(0L); at }
    def patchU8(at: Long, v: Long): Unit
  }

  /** In-memory sink used only to size encoded metadata (datatypes). */
  private final class MemOut extends Sink {
    private var n = 0L
    def addr: Long = n
    def u1(v: Int): Unit = n += 1
    def put(b: Array[Byte]): Unit = n += b.length
    def zeros(c: Int): Unit = n += c
    def patchU8(at: Long, v: Long): Unit =
      throw new UnsupportedOperationException("MemOut cannot patch")
  }

  /** Sequential file writer with u8 back-patching (seek + rewrite).
    * Keeps driver memory O(one row): table data streams straight to
    * disk; only bounded metadata is built in memory. */
  private final class Out(path: String) extends Sink {
    private val raf = new java.io.RandomAccessFile(path, "rw")
    raf.setLength(0)
    private var pos = 0L
    private val one = new Array[Byte](8)
    def addr: Long = pos
    def u1(v: Int): Unit = { one(0) = (v & 0xff).toByte; raf.write(one, 0, 1); pos += 1 }
    def put(b: Array[Byte]): Unit = { raf.write(b); pos += b.length }
    def zeros(n: Int): Unit = { if (n > 0) { raf.write(new Array[Byte](n)); pos += n } }
    def patchU8(at: Long, v: Long): Unit = {
      raf.seek(at)
      var i = 0
      while (i < 8) { one(i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
      raf.write(one, 0, 8)
      raf.seek(pos)
    }
    def patchBytes(at: Long, b: Array[Byte]): Unit = {
      raf.seek(at); raf.write(b); raf.seek(pos)
    }
    def close(): Unit = raf.close()
  }

  /** Vlen-string staging for the global heap (spec III.E).  GCOL
    * collections must not interleave with the contiguous dataset bytes,
    * but the 16-byte references ARE the dataset bytes — so strings
    * captured during the data stream spool to a temp file, and after the
    * data region closes [[drainTo]] re-reads the spool, emits bounded
    * GCOL collections, and back-patches each contributing row's
    * reference slot (length u4, collection address u8, object index u4).
    * Driver memory is O(one collection); the spool is disk.  Empty
    * strings never touch the heap (their all-zero slot already decodes
    * as "" — Hdf5.scala:694). */
  private final class VlenSpool {
    private var file: java.io.File = _
    private var out: java.io.DataOutputStream = _
    private var n = 0L
    def add(slotAddr: Long, bytes: Array[Byte]): Unit = if (bytes.nonEmpty) {
      if (out == null) {
        file = java.io.File.createTempFile("graft_vlen", ".spool")
        out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(file)))
      }
      out.writeLong(slotAddr); out.writeInt(bytes.length); out.write(bytes)
      n += 1
    }
    def drainTo(o: Out, targetBytes: Int = 64 * 1024): Unit = {
      if (out == null) return
      out.close()
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(file)))
      try {
        var buf = new java.io.ByteArrayOutputStream()
        val pending = mutable.ArrayBuffer.empty[(Long, Int, Int)] // slotAddr, idx, len
        def flush(): Unit = if (pending.nonEmpty) {
          val addr = o.addr
          val collSize = 16L + buf.size + 16L // header + objects + free-space object
          o.put("GCOL".getBytes("US-ASCII"))
          o.u1(1); o.u1(0); o.u1(0); o.u1(0)
          o.u8(collSize)
          o.put(buf.toByteArray)
          o.u2(0); o.u2(0); o.u4(0); o.u8(16L) // object 0 terminates the walk
          val slot = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          pending.foreach { case (slotAddr, idx, len) =>
            slot.clear()
            slot.putInt(len); slot.putLong(addr); slot.putInt(idx)
            o.patchBytes(slotAddr, slot.array())
          }
          buf = new java.io.ByteArrayOutputStream()
          pending.clear()
        }
        var i = 0L
        while (i < n) {
          val slotAddr = in.readLong()
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          val idx = pending.length + 1
          val hdr = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          hdr.putShort(idx.toShort); hdr.putShort(1); hdr.putInt(0)
          hdr.putLong(len.toLong)
          buf.write(hdr.array()); buf.write(bytes)
          buf.write(new Array[Byte]((8 - (len % 8)) % 8))
          pending += ((slotAddr, idx, len))
          // u2 object index caps a collection at 65534 live objects
          if (buf.size >= targetBytes || pending.length == 0xfffe) flush()
          i += 1
        }
        flush()
      } finally in.close()
    }
    /** Close and delete the spool file.  Every writer calls this in a
      * `finally`, so a row loop that throws leaves no file behind. */
    def close(): Unit = {
      if (out != null) out.close()
      if (file != null) file.delete()
    }
  }

  // ---------------------------------------------------------------- dtypes

  private def dtypeOf(dt: DataType, strWidth: Int, arrWidth: Int): Hdf5.Dtype = dt match {
    case ByteType => Hdf5.FixedPoint(1, signed = true, le = true)
    case ShortType => Hdf5.FixedPoint(2, signed = true, le = true)
    case IntegerType => Hdf5.FixedPoint(4, signed = true, le = true)
    case LongType => Hdf5.FixedPoint(8, signed = true, le = true)
    case BooleanType => Hdf5.FixedPoint(1, signed = true, le = true) // 0/1 byte
    case FloatType => Hdf5.FloatPoint(4, le = true)
    case DoubleType => Hdf5.FloatPoint(8, le = true)
    case StringType => Hdf5.FixedString(math.max(1, strWidth))
    case ArrayType(el, _) =>
      Hdf5.ArrayOf(dtypeOf(el, strWidth, 0), Seq(math.max(1, arrWidth)))
    case other => throw new IllegalArgumentException(s"cannot write $other to HDF5")
  }

  private def encodeDatatype(o: Sink, dt: Hdf5.Dtype): Unit = dt match {
    case Hdf5.FixedPoint(sz, signed, le) =>
      o.u1(0x10) // v1, class 0
      o.u1((if (le) 0 else 1) | (if (signed) 0x08 else 0))
      o.u1(0); o.u1(0)
      o.u4(sz)
      o.u2(0); o.u2(sz * 8) // bit offset, precision
    case Hdf5.FloatPoint(sz, le) =>
      o.u1(0x11) // v1, class 1
      o.u1(if (le) 0x20 else 0x21) // byte order LE + mantissa-normalization "msb set"
      o.u1(if (sz == 4) 31 else 63) // sign bit location
      o.u1(0)
      o.u4(sz)
      o.u2(0); o.u2(sz * 8)
      if (sz == 4) { o.u1(23); o.u1(8); o.u1(0); o.u1(23); o.u4(127) }
      else { o.u1(52); o.u1(11); o.u1(0); o.u1(52); o.u4(1023) }
    case Hdf5.FixedString(sz) =>
      o.u1(0x13) // v1, class 3
      o.u1(0) // null-terminated, ASCII
      o.u1(0); o.u1(0)
      o.u4(sz)
    case Hdf5.VlenString(_) =>
      o.u1(0x19) // v1, class 9 (variable-length)
      o.u1(0x01) // type = string, null-terminate padding
      o.u1(0); o.u1(0)
      o.u4(16) // reference size: length u4 + heap address u8 + index u4
      encodeDatatype(o, Hdf5.FixedString(1)) // base type: 1-byte string
    case Hdf5.ArrayOf(base, dims) =>
      o.u1(0x2a) // v2, class 10
      o.u1(0); o.u1(0); o.u1(0)
      o.u4(dims.product * base.size)
      o.u1(dims.length); o.u1(0); o.u1(0); o.u1(0)
      dims.foreach(d => o.u4(d))
      dims.foreach(_ => o.u4(0)) // v2 permutation indices
      encodeDatatype(o, base)
    case Hdf5.Compound(members, size) =>
      o.u1(0x16) // v1, class 6
      o.u1(members.length & 0xff); o.u1((members.length >> 8) & 0xff); o.u1(0)
      o.u4(size)
      members.foreach { m =>
        val nameBytes = m.name.getBytes("US-ASCII")
        o.put(nameBytes); o.u1(0)
        var n = nameBytes.length + 1
        while (n % 8 != 0) { o.u1(0); n += 1 }
        o.u4(m.offset)
        // members are pre-flattened: ArrayOf is encoded via the v1 member
        // dims so that the widest range of readers accepts it
        val (dims, base) = m.dtype match {
          case Hdf5.ArrayOf(b, ds) => (ds, b)
          case other => (Nil, other)
        }
        o.u1(dims.length); o.u1(0); o.u1(0); o.u1(0)
        o.u4(0); o.u4(0) // permutation + reserved
        (0 until 4).foreach(i => o.u4(if (i < dims.length) dims(i) else 0))
        encodeDatatype(o, base)
      }
  }

  private def datatypeSize(dt: Hdf5.Dtype): Int = {
    val o = new MemOut
    encodeDatatype(o, dt)
    o.addr.toInt
  }

  // ---------------------------------------------------------------- object headers

  private final case class Msg(typ: Int, body: Sink => Unit, bodySize: Int)

  private def writeOHv1(o: Sink, msgs: Seq[Msg]): Long = {
    val at = o.addr
    val paddedSizes = msgs.map(m => (m.bodySize + 7) / 8 * 8)
    val hdrSize = msgs.zip(paddedSizes).map { case (_, s) => 8 + s }.sum
    o.u1(1); o.u1(0)
    o.u2(msgs.length)
    o.u4(1) // ref count
    o.u4(hdrSize)
    o.zeros(4) // pad to 8-aligned message start
    msgs.zip(paddedSizes).foreach { case (m, padded) =>
      o.u2(m.typ); o.u2(padded)
      o.u1(0); o.u1(0); o.u1(0); o.u1(0)
      val before = o.addr
      m.body(o)
      val wrote = (o.addr - before).toInt
      require(wrote == m.bodySize, s"msg 0x${m.typ.toHexString}: declared ${m.bodySize}, wrote $wrote")
      o.zeros(padded - wrote)
    }
    at
  }

  /** Write heap + SNOD + B-tree for a group's children; children OH
    * addresses must already be known.  Returns (btreeAddr, heapAddr). */
  private def writeSymbolTable(o: Sink, children: Seq[(String, Long)], leafK: Int): (Long, Long) = {
    require(children.length <= 2 * leafK, s"${children.length} links exceed one symbol node (2k=${2 * leafK})")
    val sorted = children.sortBy(_._1)
    // local heap: offset 0 holds the empty string; names 8-aligned after
    val nameOffsets = mutable.LinkedHashMap.empty[String, Long]
    var off = 8L
    sorted.foreach { case (name, _) =>
      nameOffsets(name) = off
      off += (name.length + 1 + 7) / 8 * 8
    }
    val dataSize = off
    val heapAddr = o.addr
    o.put("HEAP".getBytes("US-ASCII"))
    o.u1(0); o.u1(0); o.u1(0); o.u1(0)
    o.u8(dataSize)
    o.u8(Undef) // no free list
    val dataAddrAt = o.placeholderU8()
    val dataAddr = o.addr
    o.patchU8(dataAddrAt, dataAddr)
    o.zeros(8) // the empty string at offset 0
    sorted.foreach { case (name, _) =>
      val b = name.getBytes("US-ASCII")
      o.put(b); o.u1(0)
      var n = b.length + 1
      while (n % 8 != 0) { o.u1(0); n += 1 }
    }
    // symbol node
    val snodAddr = o.addr
    o.put("SNOD".getBytes("US-ASCII"))
    o.u1(1); o.u1(0)
    o.u2(sorted.length)
    sorted.foreach { case (name, oh) =>
      o.u8(nameOffsets(name))
      o.u8(oh)
      o.u4(0); o.u4(0) // cache type 0
      o.zeros(16)
    }
    o.zeros((2 * leafK - sorted.length) * 40)
    // B-tree node (group, level 0, 1 child)
    val btreeAddr = o.addr
    o.put("TREE".getBytes("US-ASCII"))
    o.u1(0); o.u1(0)
    o.u2(1)
    o.u8(Undef); o.u8(Undef)
    o.u8(0L) // key 0: offset of "" (smallest)
    o.u8(snodAddr)
    o.u8(nameOffsets(sorted.last._1)) // key 1: greatest name
    o.zeros((2 * leafK - 1) * 16)
    (btreeAddr, heapAddr)
  }

  private def writeGroupOH(o: Sink, btree: Long, heap: Long): Long =
    writeOHv1(o, Seq(Msg(0x0011, out => { out.u8(btree); out.u8(heap) }, 16)))

  private def writeDatasetOH(o: Sink, dims: Seq[Long], dtype: Hdf5.Dtype,
                             dataAddr: Long, dataSize: Long): Long = {
    val dtSize = datatypeSize(dtype)
    writeOHv1(o, Seq(
      Msg(0x0001, out => {
        out.u1(1); out.u1(dims.length); out.u1(0)
        out.zeros(5)
        dims.foreach(out.u8)
      }, 8 + 8 * dims.length),
      Msg(0x0003, out => encodeDatatype(out, dtype), dtSize),
      Msg(0x0008, out => {
        out.u1(3); out.u1(1) // v3, contiguous
        out.u8(dataAddr); out.u8(dataSize)
      }, 18)))
  }

  // ---------------------------------------------------------------- value packing

  private def packValue(bb: java.nio.ByteBuffer, dt: Hdf5.Dtype, v: Any): Unit = dt match {
    case Hdf5.FixedPoint(1, _, _) => bb.put(v match {
      case null => 0.toByte
      case b: Boolean => if (b) 1.toByte else 0.toByte
      case b: Byte => b
      case n: Number => n.byteValue()
    })
    case Hdf5.FixedPoint(2, _, _) => bb.putShort(v match {
      case null => 0.toShort
      case n: Number => n.shortValue()
    })
    case Hdf5.FixedPoint(4, _, _) => bb.putInt(v match {
      case null => 0
      case n: Number => n.intValue()
    })
    case Hdf5.FixedPoint(8, _, _) => bb.putLong(v match {
      case null => 0L
      case n: Number => n.longValue()
    })
    case Hdf5.FloatPoint(4, _) => bb.putFloat(v match {
      case null => Float.NaN
      case n: Number => n.floatValue()
    })
    case Hdf5.FloatPoint(8, _) => bb.putDouble(v match {
      case null => Double.NaN
      case n: Number => n.doubleValue()
    })
    case Hdf5.FixedString(sz) =>
      val s = if (v == null) "" else v.toString
      val b = s.getBytes("UTF-8").take(sz)
      bb.put(b)
      (b.length until sz).foreach(_ => bb.put(0.toByte))
    case Hdf5.VlenString(_) =>
      // 16-byte placeholder reference; the VlenHeap back-patches it when
      // the string's bytes land in a GCOL collection (empty stays zero)
      bb.putInt(0); bb.putLong(0L); bb.putInt(0)
    case Hdf5.ArrayOf(base, dims) =>
      val want = dims.product
      val items: Seq[Any] = v match {
        case null => Nil
        case s: scala.collection.Seq[_] => s.toSeq
        case a: Array[_] => a.toSeq
        case other => Seq(other)
      }
      (0 until want).foreach { i =>
        packValue(bb, base, if (i < items.length) items(i) else null)
      }
    case c: Hdf5.Compound =>
      throw new IllegalArgumentException("nested compound write not supported")
    case other => throw new IllegalArgumentException(s"pack $other")
  }

  // ---------------------------------------------------------------- width scan

  /** One aggregate pass: row count + max string/array widths. */
  /** One aggregate pass for everything the header needs up front: row
    * count, per-column string width / array element count, and — for
    * array-of-string columns — the widest string INSIDE the arrays
    * (the element count must not double as the character width, or
    * elements silently truncate). */
  private def widths(df: DataFrame): (Long, Map[String, Int], Map[String, Int]) = {
    val aggs = df.schema.fields.flatMap { f =>
      f.dataType match {
        case StringType =>
          Seq(coalesce(max(length(df(f.name))), lit(1)).as(s"w_${f.name}"))
        case ArrayType(StringType, _) =>
          Seq(coalesce(max(asize(df(f.name))), lit(1)).as(s"w_${f.name}"),
            coalesce(max(array_max(transform(df(f.name), e => length(e)))), lit(1))
              .as(s"sw_${f.name}"))
        case ArrayType(_, _) =>
          Seq(coalesce(max(asize(df(f.name))), lit(1)).as(s"w_${f.name}"))
        case _ => Nil
      }
    }
    val r = df.agg(count(lit(1)).as("n"), aggs.toIndexedSeq: _*).head()
    val n = r.getLong(r.fieldIndex("n"))
    def get(name: String): Int = math.max(1, r.getAs[Number](name).intValue())
    val m = df.schema.fields.flatMap { f =>
      f.dataType match {
        case StringType | ArrayType(_, _) => Some(f.name -> get(s"w_${f.name}"))
        case _ => None
      }
    }.toMap
    val inner = df.schema.fields.flatMap { f =>
      f.dataType match {
        case ArrayType(StringType, _) => Some(f.name -> get(s"sw_${f.name}"))
        case _ => None
      }
    }.toMap
    (n, m, inner)
  }

  // ---------------------------------------------------------------- public API

  /** Single compound-type dataset `data` at the root (pytables-table
    * flavor).  Rows stream through `toLocalIterator`.
    *
    * `vlenStrings = true` writes top-level string columns as
    * variable-length strings through a GCOL global heap — byte-exact
    * with what h5py emits for `str` columns — instead of max-width
    * fixed strings (no width scan, no padding; strings inside array
    * columns stay fixed-width). */
  def write(ez: EzFrame, path: String, vlenStrings: Boolean = false): Unit = {
    val df = ez.df
    val (nRows, w, innerW) = widths(df)
    var offAcc = 0
    val members = df.schema.fields.map { f =>
      val strW = f.dataType match {
        case ArrayType(StringType, _) => innerW.getOrElse(f.name, 1)
        case _ => w.getOrElse(f.name, 1)
      }
      val dt = f.dataType match {
        case StringType if vlenStrings => Hdf5.VlenString(16)
        case other => dtypeOf(other, strW, w.getOrElse(f.name, 1))
      }
      val m = Hdf5.Member(f.name, offAcc, dt)
      offAcc += dt.size
      m
    }
    val compound = Hdf5.Compound(members.toIndexedSeq, offAcc)
    val rowSize = offAcc
    val vlenMembers = members.zipWithIndex.collect {
      case (m, i) if m.dtype.isInstanceOf[Hdf5.VlenString] => (m, i)
    }

    val o = new Out(path)
    try writeSuperblockV0(o, leafK = 4) { (o, patchRoot) =>
      // data first (address needed by the dataset OH)
      val dataAddr = o.addr
      val spool = new VlenSpool
      // stream rows straight into the buffer
      val bb = java.nio.ByteBuffer.allocate(rowSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var written = 0L
      try {
        val it = df.toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          bb.clear()
          val rowAddr = o.addr
          members.zipWithIndex.foreach { case (m, i) => packValue(bb, m.dtype, r.get(i)) }
          o.put(bb.array())
          vlenMembers.foreach { case (m, i) =>
            val v = r.get(i)
            if (v != null) spool.add(rowAddr + m.offset, v.toString.getBytes("UTF-8"))
          }
          written += 1
        }
        spool.drainTo(o) // GCOL collections land after the data region
      } finally spool.close()
      require(written == nRows, s"row count changed between passes: $nRows -> $written")
      val dsOH = writeDatasetOH(o, Seq(nRows), compound, dataAddr, nRows * rowSize)
      val (btree, heap) = writeSymbolTable(o, Seq("data" -> dsOH), leafK = 4)
      val rootOH = writeGroupOH(o, btree, heap)
      patchRoot(rootOH, btree, heap)
    } finally o.close()
  }

  /** Vaex column layout: `/table/columns/<name>/data`, one contiguous
    * dataset per column (ezdata dask/hdf5.py:377–458).  Column data is
    * fetched one column at a time (select + toLocalIterator), so driver
    * memory stays O(one column partition). */
  def writeColumns(ez: EzFrame, path: String, vlenStrings: Boolean = false): Unit = {
    val df = ez.df
    val (nRows, w, innerW) = widths(df)
    val leafK = math.max(4, (df.schema.length + 1) / 2)
    val o = new Out(path)
    try writeSuperblockV0(o, leafK) { (o, patchRoot) =>
      val colGroups = df.schema.fields.map { f =>
        val width = w.getOrElse(f.name, 1)
        val (elemDt, dims) = f.dataType match {
          case ArrayType(el, _) =>
            (dtypeOf(el, innerW.getOrElse(f.name, width), 0), Seq(nRows, width.toLong))
          case StringType if vlenStrings => (Hdf5.VlenString(16): Hdf5.Dtype, Seq(nRows))
          case other => (dtypeOf(other, width, 0), Seq(nRows))
        }
        val rowWidth = if (dims.length > 1) dims(1).toInt else 1
        val rowBytes = rowWidth * elemDt.size
        val dataAddr = o.addr
        val spool = new VlenSpool
        val isVlen = elemDt.isInstanceOf[Hdf5.VlenString]
        val bb = java.nio.ByteBuffer.allocate(rowBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var colRows = 0L
        try {
          val it = df.select(df(f.name)).toLocalIterator()
          while (it.hasNext) {
            val v = it.next().get(0)
            bb.clear()
            val rowAddr = o.addr
            f.dataType match {
              case ArrayType(el, _) =>
                packValue(bb, Hdf5.ArrayOf(elemDt, Seq(rowWidth)), v)
              case _ => packValue(bb, elemDt, v)
            }
            o.put(bb.array())
            if (isVlen && v != null) spool.add(rowAddr, v.toString.getBytes("UTF-8"))
            colRows += 1
          }
          spool.drainTo(o)
        } finally spool.close()
        // each column is a separate job over a separate scan: a retry or
        // nondeterministic plan yielding a different count would declare
        // dims=nRows over misaligned bytes — a silently corrupt file
        require(colRows == nRows,
          s"column '${f.name}' produced $colRows rows between the header pass " +
            s"($nRows) and the data pass; the input plan must be deterministic")
        val dsOH = writeDatasetOH(o, dims, elemDt, dataAddr, nRows * rowBytes)
        val (bt, hp) = writeSymbolTable(o, Seq("data" -> dsOH), leafK)
        f.name -> writeGroupOH(o, bt, hp)
      }
      val (cbt, chp) = writeSymbolTable(o, colGroups.toIndexedSeq, leafK)
      val columnsOH = writeGroupOH(o, cbt, chp)
      val (tbt, thp) = writeSymbolTable(o, Seq("columns" -> columnsOH), leafK)
      val tableOH = writeGroupOH(o, tbt, thp)
      val (rbt, rhp) = writeSymbolTable(o, Seq("table" -> tableOH), leafK)
      val rootOH = writeGroupOH(o, rbt, rhp)
      patchRoot(rootOH, rbt, rhp)
    } finally o.close()
  }

  /** Chunked + compressed variant of [[write]]: the single compound
    * dataset `data`, split into `chunkRows`-row chunks, each run
    * through (optional) byte-shuffle then deflate — the layout
    * h5py/pytables emit with `compression='gzip'` (+`shuffle=True`),
    * and what [[Hdf5.read]]'s chunked/filtered path consumes.  Chunks
    * are indexed by a single level-0 v1 B-tree node, which bounds one
    * file at 256 chunks — auto chunkRows targets ~4 MiB of raw rows
    * per chunk, so the bound is ~1 GiB raw per file before callers
    * must raise `chunkRows` (this is an export surface; the analytics
    * path is parquet).  Vlen strings are not supported here (h5py
    * never compresses the heap side either — use fixed widths). */
  def writeChunked(ez: EzFrame, path: String, chunkRows: Int = 0,
                   deflateLevel: Int = 6, shuffle: Boolean = true): Unit = {
    val df = ez.df
    val (nRows, w, innerW) = widths(df)
    var offAcc = 0
    val members = df.schema.fields.map { f =>
      val strW = f.dataType match {
        case ArrayType(StringType, _) => innerW.getOrElse(f.name, 1)
        case _ => w.getOrElse(f.name, 1)
      }
      val dt = dtypeOf(f.dataType, strW, w.getOrElse(f.name, 1))
      val m = Hdf5.Member(f.name, offAcc, dt)
      offAcc += dt.size
      m
    }
    val compound = Hdf5.Compound(members.toIndexedSeq, offAcc)
    val rowSize = offAcc
    val maxChunks = 256
    val cr =
      if (chunkRows > 0) chunkRows
      else math.max(1L, math.max(4L * 1024 * 1024 / math.max(1, rowSize),
        (nRows + maxChunks - 1) / maxChunks)).min(math.max(1L, nRows)).toInt
    require((nRows + cr - 1) / math.max(1, cr) <= maxChunks,
      s"$nRows rows at $cr rows/chunk exceed $maxChunks chunks (one B-tree " +
        s"node); raise chunkRows")

    def deflate(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(deflateLevel)
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](65536)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    // byte-shuffle to plane-major (the exact inverse of Hdf5.defilter's
    // de-interleave): plane i of the row bytes becomes contiguous
    def shuffleBytes(data: Array[Byte]): Array[Byte] = {
      val sz = rowSize
      if (sz <= 1) data
      else {
        val n = data.length / sz
        val out = new Array[Byte](data.length)
        var i = 0
        while (i < sz) {
          var j = 0
          while (j < n) { out(i * n + j) = data(j * sz + i); j += 1 }
          i += 1
        }
        System.arraycopy(data, n * sz, out, n * sz, data.length - n * sz)
        out
      }
    }

    val o = new Out(path)
    try writeSuperblockV0(o, leafK = 4) { (o, patchRoot) =>
      val chunkBuf = java.nio.ByteBuffer.allocate(cr * rowSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val chunks = mutable.ListBuffer.empty[(Long, Long, Int)] // rowOff, addr, storedSize
      def flushChunk(rowsIn: Int, rowOff: Long): Unit = if (rowsIn > 0) {
        // chunks are always FULL size; the tail past nRows is zero fill
        java.util.Arrays.fill(chunkBuf.array(), rowsIn * rowSize, cr * rowSize, 0.toByte)
        val staged = if (shuffle) shuffleBytes(chunkBuf.array()) else chunkBuf.array()
        val packed = deflate(staged)
        chunks += ((rowOff, o.addr, packed.length))
        o.put(packed)
      }
      val it = df.toLocalIterator()
      var written = 0L
      while (it.hasNext) {
        val r = it.next()
        if (written % cr == 0) chunkBuf.clear()
        members.zipWithIndex.foreach { case (m, i) => packValue(chunkBuf, m.dtype, r.get(i)) }
        written += 1
        if (written % cr == 0) flushChunk(cr, written - cr)
      }
      flushChunk((written % cr).toInt, written - written % cr)
      require(written == nRows, s"row count changed between passes: $nRows -> $written")

      // chunk index: one level-0 v1 B-tree node (type 1)
      val btreeAddr = o.addr
      o.put("TREE".getBytes("US-ASCII"))
      o.u1(1); o.u1(0)
      o.u2(chunks.length)
      o.u8(Undef); o.u8(Undef)
      chunks.foreach { case (rowOff, addr, size) =>
        o.u4(size); o.u4(0) // stored size, filter mask
        o.u8(rowOff); o.u8(0L) // chunk offsets (row, element)
        o.u8(addr)
      }
      // final key: one past the last chunk's offsets
      o.u4(0); o.u4(0)
      o.u8(chunks.length.toLong * cr); o.u8(0L)

      val dtSize = datatypeSize(compound)
      val filterBody = 8 + (if (shuffle) 16 else 0) + 16
      val dsOH = writeOHv1(o, Seq(
        Msg(0x0001, out => {
          out.u1(1); out.u1(1); out.u1(0)
          out.zeros(5)
          out.u8(nRows)
        }, 16),
        Msg(0x0003, out => encodeDatatype(out, compound), dtSize),
        Msg(0x000B, out => { // filter pipeline v1, write order
          out.u1(1); out.u1(if (shuffle) 2 else 1)
          out.u2(0); out.u4(0)
          if (shuffle) {
            out.u2(2); out.u2(0); out.u2(0); out.u2(1) // shuffle, 1 value
            out.u4(rowSize); out.u4(0) // element size + odd-count pad
          }
          out.u2(1); out.u2(0); out.u2(0); out.u2(1) // deflate, 1 value
          out.u4(deflateLevel); out.u4(0)
        }, filterBody),
        Msg(0x0008, out => {
          out.u1(3); out.u1(2) // v3, chunked
          out.u1(2) // dimensionality = rank + 1
          out.u8(btreeAddr)
          out.u4(cr); out.u4(rowSize) // chunk dims + element size
        }, 19)))
      val (btree, heap) = writeSymbolTable(o, Seq("data" -> dsOH), leafK = 4)
      val rootOH = writeGroupOH(o, btree, heap)
      patchRoot(rootOH, btree, heap)
    } finally o.close()
  }

  // superblock v0 with patched root entry + EOF
  private def writeSuperblockV0(o: Out, leafK: Int)(
      body: (Out, (Long, Long, Long) => Unit) => Unit): Unit = {
    o.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    o.u1(0) // superblock v0
    o.u1(0); o.u1(0); o.u1(0) // freespace ver, root STE ver, reserved
    o.u1(0) // shared header ver
    o.u1(8); o.u1(8) // sizes
    o.u1(0)
    o.u2(leafK); o.u2(16) // group leaf/internal k
    o.u4(0) // consistency flags
    o.u8(0L) // base address
    o.u8(Undef) // free space
    val eofAt = o.placeholderU8()
    o.u8(Undef) // driver info
    // root symbol table entry
    o.u8(0L) // link name offset
    val rootOHAt = o.placeholderU8()
    o.u4(1); o.u4(0) // cache type 1 (stab cached)
    val btreeAt = o.placeholderU8()
    val heapAt = o.placeholderU8()
    body(o, (rootOH, btree, heap) => {
      o.patchU8(rootOHAt, rootOH)
      o.patchU8(btreeAt, btree)
      o.patchU8(heapAt, heap)
    })
    o.patchU8(eofAt, o.addr)
  }

}
