package graft
package slots

import org.apache.spark.sql.functions._
import graft.SparkEntry.t

/** Multimodal slots: synthesized WAV/FLAC/MP4/bitstream containers and
  * cross-format image and audio near-dup.
  * `perfbench/suite_slots.tsv` tags this family `multimodal`. */
object MultimodalSlots {

  /** BMP pixel-array order (bottom-up rows, BGR) → image-order packed
    * RGB24, so the q95 JPEG members encode the IDENTICAL image the BMP
    * member carries. */
  private def bmpPxToRgb(px: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](64 * 3)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val src = ((7 - y) * 8 + x) * 3
        val dst = (y * 8 + x) * 3
        out(dst) = px(src + 2)
        out(dst + 1) = px(src + 1)
        out(dst + 2) = px(src)
        x += 1
      }
      y += 1
    }
    out
  }

  def slots: Seq[Slot] = Seq(

    // M6 multimodal: arithmetic-synthesized REAL containers (WAV for
    // even ids, BMP for odd — Multimodal.synthMedia) through the
    // production decoders + frame explode.  Every decoded field
    // (dims, sample counts, duration, rms, peak, channel means) is
    // integer/float arithmetic on (doc_id, n_chars), so the oracle
    // mirrors the whole pipeline in SQL — decode included.
    Slot("q34_multimodal",
      // Mirrors Multimodal.synthMedia's arithmetic AND the decoded
      // metadata: WAV rms/peak re-derived from the same sample formula,
      // BMP channel means from the same pixel formula (y = p div w,
      // x = p mod w), container sizes from the RIFF/BMP layouts, and
      // explodeFrames' ceil-division tiling (frame width = ceil(L/4),
      // n_frames = ceil(L / frameW), total bytes = L).
      """WITH wav AS (SELECT doc_id, 64 + (n_chars % 64) AS n
        |FROM documents WHERE doc_id % 2 = 0),
        |ws AS (SELECT doc_id, n, unnest(range(n)) AS i FROM wav),
        |wavs AS MATERIALIZED (SELECT doc_id, n,
        |sqrt(avg(pow((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0, 2))) AS rms,
        |max(abs((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0)) AS peak
        |FROM ws GROUP BY doc_id, n),
        |bmp AS (SELECT doc_id, 4 + (doc_id % 5) AS w, 3 + (doc_id % 4) AS h
        |FROM documents WHERE doc_id % 2 = 1),
        |px AS (SELECT doc_id, w, h, unnest(range(w*h)) AS p FROM bmp),
        |bmps AS MATERIALIZED (SELECT doc_id, w, h,
        |avg((doc_id*7 + (p // w)*31 + (p % w)*13) % 256) AS mr,
        |avg((doc_id*7 + (p // w)*31 + (p % w)*13 + 97) % 256) AS mg,
        |avg((doc_id*7 + (p // w)*31 + (p % w)*13 + 194) % 256) AS mb
        |FROM px GROUP BY doc_id, w, h),
        |sized AS (
        |SELECT doc_id, 'audio/wav' AS mime, NULL::INT AS width, NULL::INT AS height,
        |8000::INT AS sample_rate, n::BIGINT AS n_samples,
        |round(n / 8000.0, 6) AS dur, round(rms, 6) AS rms, round(peak, 6) AS peak,
        |NULL::DOUBLE AS mean_r, NULL::DOUBLE AS mean_g, NULL::DOUBLE AS mean_b,
        |(44 + 2*n)::BIGINT AS payload_bytes FROM wavs
        |UNION ALL
        |SELECT doc_id, 'image/bmp', w::INT, h::INT, NULL::INT, NULL::BIGINT,
        |NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
        |round(mr, 6), round(mg, 6), round(mb, 6),
        |(54 + (((w*3 + 3) // 4) * 4) * h)::BIGINT FROM bmps)
        |SELECT doc_id, mime, width, height, sample_rate, n_samples, dur, rms, peak,
        |mean_r, mean_g, mean_b, payload_bytes,
        |CAST(ceil(payload_bytes / ceil(payload_bytes / 4.0)) AS BIGINT) AS n_frames,
        |payload_bytes AS total_bytes
        |FROM sized""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val m = d.select(col("doc_id"), col("n_chars"),
          operators.Multimodal.synthMedia(col("doc_id"), col("n_chars")).as("payload"))
        .withColumn("dec", operators.Multimodal.decodeMedia(col("payload")))
      operators.Multimodal.explodeFrames(m, "payload", maxFrames = 4)
        .groupBy(col("doc_id"), col("dec.mime").as("mime"),
          col("dec.width").as("width"), col("dec.height").as("height"),
          col("dec.sample_rate").as("sample_rate"), col("dec.n_samples").as("n_samples"),
          round(col("dec.duration_s"), 6).as("dur"), round(col("dec.rms"), 6).as("rms"),
          round(col("dec.peak"), 6).as("peak"),
          round(col("dec.mean_r"), 6).as("mean_r"), round(col("dec.mean_g"), 6).as("mean_g"),
          round(col("dec.mean_b"), 6).as("mean_b"),
          col("dec.size_bytes").as("payload_bytes"))
        .agg(count(lit(1)).as("n_frames"), sum(length(col("frame"))).as("total_bytes"))
    }),

    // q34 twin for the FLAC tier, ORACLE-EXACT: the same closed-form
    // PCM16 signal as synthWav's arithmetic, but shipped through a REAL
    // compressed FLAC container (fixed/constant/verbatim subframes,
    // Rice residuals, CRC'd frames).  FLAC is lossless, so decodeMedia
    // must recover the arithmetic EXACTLY — DuckDB recomputes
    // rms/peak/duration from the closed form while Spark runs the full
    // encoder+decoder round trip per row.
    Slot("q34b_flac_meta",
      // q34b: FLAC is lossless, so the decoded stream IS the closed-form
      // signal — the oracle recomputes rms/peak/duration from the same
      // arithmetic synthWav uses, with the container constants pinned to
      // what the encoder wrote (mono, 8 kHz, 16-bit)
      """WITH f AS (SELECT doc_id, 64 + (n_chars % 64) AS n
        |FROM documents WHERE doc_id < 200),
        |fs AS (SELECT doc_id, n, unnest(range(n)) AS i FROM f),
        |agg AS (SELECT doc_id, n,
        |sqrt(avg(pow((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0, 2))) AS rms,
        |max(abs((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0)) AS peak
        |FROM fs GROUP BY doc_id, n)
        |SELECT doc_id, 'audio/flac' AS mime, 1::INT AS channels,
        |8000::INT AS sample_rate, 16::INT AS bits, n::BIGINT AS n_samples,
        |round(n / 8000.0, 6) AS dur, round(rms, 6) AS rms, round(peak, 6) AS peak
        |FROM agg""".stripMargin)((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 200)
      val mkFlac = udf((docId: Long, nChars: Long) => {
        val n = (64 + math.floorMod(nChars, 64)).toInt
        val pcm = Array.tabulate(n)(i =>
          (math.floorMod(docId * 131 + i * 17, 65536) - 32768).toShort)
        graft.functions.Flac.encodeFlac(pcm, channels = 1, sampleRate = 8000, blockSize = 64)
      })
      d.select(col("doc_id"),
          operators.Multimodal.decodeMedia(mkFlac(col("doc_id"), col("n_chars"))).as("m"))
        .select(col("doc_id"), col("m.mime").as("mime"),
          col("m.channels").as("channels"), col("m.sample_rate").as("sample_rate"),
          col("m.bits").as("bits"), col("m.n_samples").as("n_samples"),
          round(col("m.duration_s"), 6).as("dur"),
          round(col("m.rms"), 6).as("rms"), round(col("m.peak"), 6).as("peak"))
    }),

    // q34 twin for the ISOBMFF tier, ORACLE-EXACT: the same closed-form
    // PCM16 signal shipped through a REAL MP4 container (ftyp/mdat/moov
    // with full stsd/stsc/stsz/stco chunk maps), alternating the
    // QuickTime sowt (little-endian) and twos (big-endian) sample
    // entries by doc parity so BOTH demux arms sit under the oracle.
    // PCM is lossless, so decodeMedia must recover the arithmetic
    // exactly — DuckDB recomputes rms/peak/duration from the closed
    // form while Spark runs the full mux+demux round trip per row.
    Slot("q34c_mp4_meta",
      // q34c: PCM-in-MP4 is raw sample bytes behind ISOBMFF chunk maps —
      // identical closed-form recomputation, mime/container aside; the
      // sowt/twos split is a byte-order detail the oracle never sees
      """WITH f AS (SELECT doc_id, 64 + (n_chars % 64) AS n
        |FROM documents WHERE doc_id < 200),
        |fs AS (SELECT doc_id, n, unnest(range(n)) AS i FROM f),
        |agg AS (SELECT doc_id, n,
        |sqrt(avg(pow((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0, 2))) AS rms,
        |max(abs((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0)) AS peak
        |FROM fs GROUP BY doc_id, n)
        |SELECT doc_id, 'audio/mp4' AS mime, 1::INT AS channels,
        |8000::INT AS sample_rate, 16::INT AS bits, n::BIGINT AS n_samples,
        |round(n / 8000.0, 6) AS dur, round(rms, 6) AS rms, round(peak, 6) AS peak
        |FROM agg""".stripMargin)((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 200)
      val mkMp4 = udf((docId: Long, nChars: Long) => {
        val n = (64 + math.floorMod(nChars, 64)).toInt
        val pcm = Array.tabulate(n)(i =>
          (math.floorMod(docId * 131 + i * 17, 65536) - 32768).toShort)
        graft.functions.Mp4.encodeMp4Pcm(pcm, channels = 1, sampleRate = 8000,
          bigEndian = docId % 2 == 1)
      })
      d.select(col("doc_id"),
          operators.Multimodal.decodeMedia(mkMp4(col("doc_id"), col("n_chars"))).as("m"))
        .select(col("doc_id"), col("m.mime").as("mime"),
          col("m.channels").as("channels"), col("m.sample_rate").as("sample_rate"),
          col("m.bits").as("bits"), col("m.n_samples").as("n_samples"),
          round(col("m.duration_s"), 6).as("dur"),
          round(col("m.rms"), 6).as("rms"), round(col("m.peak"), 6).as("peak"))
    }),

    // M6 multimodal image near-dup, CROSS-FORMAT: deterministic 8x8
    // images per doc (class = doc_id % 20 fixes the pixels; the class
    // member index perturbs ONE pixel) land in a DIFFERENT container
    // per member — 24-bit BMP, baseline JPEG (q100), progressive/SOF2
    // JPEG (q100) — then per-channel color-histogram embeddings
    // ([[Multimodal.imageEmbedding]] decodes all three) pair them at
    // exact cosine: image dedup IS embedding dedup after the content
    // projection, regardless of container.  Rows-only (codecs +
    // histogram not SQL-expressible); snapshot-pinned.
    // Cross-format image near-dup, ORACLE-EXACT end to end (r18
    // verdict #3): the three members of class c carry the SAME
    // closed-form 8×8 image — byte k (image-order RGB) is
    // (c*12 + k%13) % 256, xor 128 at k = member*3 — shipped through
    // three REAL lossless containers: member 0 as 24-bit BMP
    // (bottom-up BGR storage), member 1 as PNG (zlib IDAT, real
    // CRCs), member 2 as GIF89a (LZW, global palette).  Lossless
    // decode means DuckDB recomputes the whole decode → 16-bin/channel
    // histogram → cosine-pair pipeline from arithmetic while Spark
    // runs the REAL codecs.  The lossy JPEG arms (DCT rounding has no
    // honest closed-form mirror) live in q95d under the golden
    // snapshot instead — the per-arm split the oracle documents.
    Slot("q95_image_neardup",
      // q95: cross-format (BMP/PNG/GIF) image near-dup recomputed from
      // the closed-form pixel arithmetic — byte k (IMAGE-order RGB) of
      // doc d is (d%20)*12 + k%13, xor 128 at k=(d/20)*3; all three
      // containers are lossless so every member decodes to exactly
      // these bytes; k%3 = 0/1/2 maps to embedding channel block 0/1/2;
      // bin = v/16; weights = count/64 pixels; the cosine and its
      // round-then-threshold match exactPairs exactly.  (q95d, the
      // lossy-JPEG arm, stays under the golden snapshot: DCT rounding
      // has no honest closed-form mirror.)
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |px AS (SELECT i.doc_id, k.k,
        |  CASE WHEN k.k = (i.doc_id // 20) * 3
        |       THEN xor(((i.doc_id % 20) * 12 + (k.k % 13)) % 256, 128)
        |       ELSE ((i.doc_id % 20) * 12 + (k.k % 13)) % 256 END AS v
        |FROM ids i, generate_series(0, 191) AS k(k)),
        |emb AS (SELECT doc_id, (k % 3) * 16 + (v // 16) AS dim,
        |  count(*) / 64.0 AS w
        |FROM px GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(w * w) AS s FROM emb GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb, sum(a.w * b.w) AS dot
        |FROM emb a JOIN emb b ON a.dim = b.dim AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT p.pa AS id_a, p.pb AS id_b,
        |  round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) AS cos_sim
        |FROM pairs p
        |JOIN norms na ON na.doc_id = p.pa
        |JOIN norms nb ON nb.doc_id = p.pb
        |WHERE round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) >= 0.95""".stripMargin)((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkImage = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val rgb = Array.tabulate(192)(k => (((cls * 12 + k % 13) % 256).toByte))
        rgb(member * 3) = (rgb(member * 3) ^ 0x80).toByte // one-pixel tweak
        member match {
          case 0 =>
            // image-order RGB → BMP storage (bottom-up rows, BGR)
            val px = new Array[Byte](192)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                val src = (y * 8 + x) * 3
                val dst = ((7 - y) * 8 + x) * 3
                px(dst) = rgb(src + 2); px(dst + 1) = rgb(src + 1); px(dst + 2) = rgb(src)
                x += 1
              }
              y += 1
            }
            val stride = 8 * 3 // 24 bytes per row, already 4-aligned
            val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
            bb.putInt(0).putInt(54).putInt(40).putInt(8).putInt(8)
            bb.putShort(1).putShort(24).putInt(0).putInt(stride * 8)
            bb.putInt(2835).putInt(2835).putInt(0).putInt(0)
            bb.put(px)
            bb.array()
          case 1 => graft.functions.MediaCodecs.pngEncodeRgb(8, 8, rgb)
          case _ => graft.functions.MediaCodecs.gifEncodeRgb(8, 8, rgb)
        }
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.imageEmbedding(mkImage(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),

    // The LOSSY arm of cross-format image near-dup: BMP + baseline
    // JPEG + progressive JPEG (quality 100) of a seeded-random image.
    // DCT rounding has no honest closed-form SQL mirror, so this slot
    // is rows-only and byte-pinned by the golden snapshot — the
    // documented per-arm exception to q95's oracle.
    Slot("q95d_jpeg_neardup", None)((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkImage = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val rnd = new scala.util.Random(cls)
        val px = Array.fill(64 * 3)(rnd.nextInt(256).toByte)
        px(member * 3) = (px(member * 3) ^ 0x80).toByte // one-pixel tweak
        member match {
          case 0 => // 24-bit BMP (bottom-up rows, BGR)
            val stride = 8 * 3 // 24 bytes per row, already 4-aligned
            val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
            bb.putInt(0).putInt(54).putInt(40).putInt(8).putInt(8)
            bb.putShort(1).putShort(24).putInt(0).putInt(stride * 8)
            bb.putInt(2835).putInt(2835).putInt(0).putInt(0)
            bb.put(px)
            bb.array()
          case 1 => graft.functions.Jpeg.jpegEncodeRgb(8, 8, bmpPxToRgb(px), quality = 100)
          case _ => graft.functions.Jpeg.jpegEncodeRgbProgressive(8, 8, bmpPxToRgb(px), quality = 100)
        }
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.imageEmbedding(mkImage(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),

    // q95 twin, ORACLE-EXACT (the q34 discipline): the BMP arm of image
    // near-dup with CLOSED-FORM pixels — byte k of doc d is
    // (d%20)*12 + k%13, xor 128 at k = (d/20)*3 — so DuckDB can
    // recompute the whole decode → 16-bin/channel histogram → cosine
    // pair pipeline from arithmetic while Spark runs the REAL container
    // codec (BMP encode, MediaCodecs decode, imageEmbedding,
    // exactPairs).  Classes occupy ~1-bin-wide disjoint value bands, so
    // the answer is exactly the 3 within-class member pairs per class;
    // only the compressed-format arm (PNG/JPEG entropy coding) stays
    // beyond a SQL oracle in q95 itself.
    Slot("q95b_bmp_neardup",
      // q95b: the BMP arm recomputed from the closed-form pixel
      // arithmetic — byte k of doc d is (d%20)*12 + k%13, xor 128 at
      // k=(d/20)*3; BMP stores BGR so byte k%3 = 0/1/2 maps to embedding
      // channel block 2/1/0; bin = v/16; weights = count/64 pixels; the
      // cosine and its round-then-threshold match exactPairs exactly
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |px AS (SELECT i.doc_id, k.k,
        |  CASE WHEN k.k = (i.doc_id // 20) * 3
        |       THEN xor(((i.doc_id % 20) * 12 + (k.k % 13)) % 256, 128)
        |       ELSE ((i.doc_id % 20) * 12 + (k.k % 13)) % 256 END AS v
        |FROM ids i, generate_series(0, 191) AS k(k)),
        |emb AS (SELECT doc_id,
        |  (CASE k % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END) * 16 + (v // 16) AS dim,
        |  count(*) / 64.0 AS w
        |FROM px GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(w * w) AS s FROM emb GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb, sum(a.w * b.w) AS dot
        |FROM emb a JOIN emb b ON a.dim = b.dim AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT p.pa AS id_a, p.pb AS id_b,
        |  round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) AS cos_sim
        |FROM pairs p
        |JOIN norms na ON na.doc_id = p.pa
        |JOIN norms nb ON nb.doc_id = p.pb
        |WHERE round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) >= 0.95""".stripMargin)((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkBmp = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val px = Array.tabulate(192)(k => ((cls * 12 + k % 13) % 256).toByte)
        px(member * 3) = (px(member * 3) ^ 0x80).toByte
        val stride = 8 * 3
        val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
        bb.putInt(0).putInt(54).putInt(40).putInt(8).putInt(8)
        bb.putShort(1).putShort(24).putInt(0).putInt(stride * 8)
        bb.putInt(2835).putInt(2835).putInt(0).putInt(0)
        bb.put(px)
        bb.array()
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.imageEmbedding(mkBmp(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),

    // audio near-dup ACROSS CONTAINERS, ORACLE-EXACT: class c of 20
    // owns the amplitude band [-30000+3000c, -28500+3000c); member m of
    // 3 negates sample index m.  Member 0 ships as WAV, member 1 as
    // FLAC, member 2 as FLAC-verbatim — three different byte streams of
    // the same (lossless) signal, so the 32-bin amplitude embeddings
    // collapse cross-container and pairs are exactly the within-class
    // member pairs.  The histogram binning is pure integer arithmetic
    // (bin = (v + 32768) / 2048), so DuckDB mirrors the whole
    // decode → embed → cosine pipeline from the closed form.
    Slot("q95c_audio_neardup",
      // q95c: amplitude-histogram binning is exact integer arithmetic —
      // x = v/32768, bin = floor((x+1)/2*32) = (v+32768)/2048 — and FLAC
      // decode is lossless, so the oracle recomputes the cross-container
      // audio embeddings and cosine pairs entirely from the closed form
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |s AS (SELECT i.doc_id,
        |  CASE WHEN g.i = (i.doc_id // 20)
        |       THEN -(-30000 + (i.doc_id % 20) * 3000 + (g.i * 37) % 1500)
        |       ELSE -30000 + (i.doc_id % 20) * 3000 + (g.i * 37) % 1500 END AS v
        |FROM ids i, generate_series(0, 79) AS g(i)),
        |emb AS (SELECT doc_id, least(31, (v + 32768) // 2048) AS bin,
        |  count(*) / 80.0 AS w
        |FROM s GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(w * w) AS sq FROM emb GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb, sum(a.w * b.w) AS dot
        |FROM emb a JOIN emb b ON a.bin = b.bin AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT p.pa AS id_a, p.pb AS id_b,
        |  round(p.dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) AS cos_sim
        |FROM pairs p
        |JOIN norms na ON na.doc_id = p.pa
        |JOIN norms nb ON nb.doc_id = p.pb
        |WHERE round(p.dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) >= 0.95""".stripMargin)((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkAudio = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val pcm = Array.tabulate(80) { i =>
          val v = -30000 + cls * 3000 + (i * 37) % 1500
          (if (i == member) -v else v).toShort
        }
        member match {
          case 0 =>
            val bb = java.nio.ByteBuffer.allocate(44 + 2 * pcm.length)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * pcm.length)
              .put("WAVE".getBytes("US-ASCII"))
            bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
              .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
            bb.put("data".getBytes("US-ASCII")).putInt(2 * pcm.length)
            pcm.foreach(bb.putShort(_))
            bb.array()
          case 1 => graft.functions.Flac.encodeFlac(pcm, 1, 8000, blockSize = 64)
          case _ => graft.functions.Flac.encodeFlac(pcm, 1, 8000, blockSize = 64,
            forceVerbatim = true)
        }
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.audioEmbedding(mkAudio(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),
  )
}
