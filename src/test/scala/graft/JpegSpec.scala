package graft

import org.apache.spark.sql.functions._

import graft.ops.JpegOps

/** Baseline-JPEG decoder conformance: pixels must MATCH the JDK's own
  * (libjpeg-derived, islow-IDCT) decoder on streams written by the
  * JDK's own encoder — a cross-implementation check on the full
  * marker/Huffman/dequant/IDCT pipeline, not a self-round-trip.
  */
class JpegSpec extends SparkTestBase {

  import spark.implicits._

  private def encode(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    bi.getRaster.setDataElements(0, 0, w, h, px)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", bos))
    bos.toByteArray
  }

  private def imageIoDecode(jpeg: Array[Byte]): (Int, Int, Array[Byte]) = {
    val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    val w = bi.getWidth; val h = bi.getHeight
    val px = new Array[Byte](w * h)
    bi.getRaster.getDataElements(0, 0, w, h, px)
    (w, h, px)
  }

  // a mix of block-aligned and ragged dims, smooth and harsh content
  private val fixtures: Seq[(Int, Int, Int => Byte)] = Seq(
    (8, 8, i => i.toByte),                          // single block, ramp
    (16, 16, i => ((i * 7) % 256).toByte),          // aligned grid
    (13, 7, i => ((i * i + 3 * i) % 256).toByte),   // ragged, busy
    (31, 17, i => (128 + 100 * math.sin(i / 3.0)).toInt.toByte), // smooth
    (64, 48, i => (if ((i / 8 + i / (64 * 8)) % 2 == 0) 32 else 224).toByte),
    (1, 1, _ => 77.toByte),                          // degenerate dims
    (9, 25, i => ((i * 131) % 256).toByte))

  test("readMeta parses SOF0 dims from ImageIO-written JPEGs") {
    fixtures.foreach { case (w, h, f) =>
      val jpeg = encode(w, h, Array.tabulate(w * h)(f))
      val m = JpegOps.readMeta(jpeg)
      assert((m.width, m.height, m.precision, m.nComponents) == ((w, h, 8, 1)))
    }
  }

  test("decodeGray8Baseline matches the JDK decoder pixel-for-pixel") {
    fixtures.foreach { case (w, h, f) =>
      val jpeg = encode(w, h, Array.tabulate(w * h)(f))
      val (iw, ih, ipx) = imageIoDecode(jpeg)
      val img = JpegOps.decodeGray8Baseline(jpeg)
      assert((img.width, img.height) == ((iw, ih)))
      val deltas = img.pixels.zip(ipx).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff)) }
      assert(deltas.forall(_ == 0),
        s"${w}x$h: max pixel delta ${deltas.max} (${deltas.count(_ > 0)} diffs)")
    }
  }

  test("decode rejects out-of-profile and corrupt streams by name") {
    // RGB JPEG: 3 components — must throw, not misread luma silently
    val rgb = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "jpg", bos)
    val e1 = intercept[IllegalArgumentException](
      JpegOps.decodeGray8Baseline(bos.toByteArray))
    assert(e1.getMessage.contains("grayscale"))
    intercept[IllegalArgumentException](
      JpegOps.decodeGray8Baseline("definitely not a jpeg".getBytes))
    intercept[IllegalArgumentException](
      JpegOps.readMeta(Array[Byte](0xff.toByte, 0xd8.toByte, 0, 0)))
    // PNG bytes into the JPEG decoder: named error
    val png = graft.ops.PngOps.encodeGray8(4, 4, Array.fill(16)(9.toByte))
    intercept[IllegalArgumentException](JpegOps.decodeGray8Baseline(png))
  }

  test("our encoder's streams decode identically in OUR decoder and the JDK's") {
    // the reverse-direction conformance check: bytes WE author must be
    // readable by an independent production decoder, bit-for-bit equal
    // to our own decode — including with restart markers, which
    // ImageIO's writer never emits (this is the only way to exercise
    // the RSTn resync path against a second implementation)
    fixtures.foreach { case (w, h, f) =>
      Seq(0, 3).foreach { rst =>
        val px = Array.tabulate(w * h)(f)
        val jpeg = graft.ops.JpegOps.encodeGray8Baseline(w, h, px, rst)
        val mine = graft.ops.JpegOps.decodeGray8Baseline(jpeg)
        val (iw, ih, ipx) = imageIoDecode(jpeg)
        assert((mine.width, mine.height) == ((w, h)))
        assert((iw, ih) == ((w, h)))
        assert(mine.pixels.toSeq == ipx.toSeq,
          s"${w}x$h rst=$rst: our decode != ImageIO decode of OUR stream")
        // flat quant 2 bounds the reconstruction error: FDCT|IDCT are
        // near-exact, quantization is the only loss
        val maxDelta = mine.pixels.zip(px).map { case (a, b) =>
          math.abs((a & 0xff) - (b & 0xff)) }.max
        assert(maxDelta <= 16, s"${w}x$h rst=$rst: lossy delta $maxDelta")
      }
    }
  }

  test("block-constant rasters round-trip the lossy codec EXACTLY (m13's oracle contract)") {
    // the m13 fixture shape: constant 8×8 blocks are DC-only spectra,
    // flat quant 2 keeps the DC integer, and the islow IDCT of a
    // DC-only block reproduces the constant — so decode∘encode must
    // be the IDENTITY (not merely close) on every block value, in
    // both our decoder and the JDK's, with and without restarts.
    // This identity is what licenses m13's SQL oracle to recompute
    // the phash from the raw block values.
    val probes = Seq[Int => Byte](
      b => Seq(0, 255, 128, 1)(b).toByte,          // extremes
      b => Seq(127, 129, 64, 192)(b).toByte,       // around the level shift
      b => (b * 85).toByte,                        // spread
      _ => 0.toByte,                               // all-black
      _ => 255.toByte)                             // all-white
    probes.foreach { f =>
      Seq(0, 2).foreach { rst =>
        val px = JpegOps.blockConstantRaster16(f)
        val jpeg = JpegOps.encodeGray8Baseline(16, 16, px, rst)
        val mine = JpegOps.decodeGray8Baseline(jpeg)
        assert(mine.pixels.toSeq == px.toSeq,
          s"rst=$rst: our decode is not the identity on block-constant input")
        val (_, _, ipx) = imageIoDecode(jpeg)
        assert(ipx.toSeq == px.toSeq,
          s"rst=$rst: JDK decode is not the identity on block-constant input")
      }
    }
    // exhaustive single-value sweep: every possible block value 0..255
    // must survive the round trip (DC magnitudes up to category 11)
    (0 to 255).foreach { v =>
      val px = JpegOps.blockConstantRaster16(_ => v.toByte)
      val jpeg = JpegOps.encodeGray8Baseline(16, 16, px, 2)
      assert(JpegOps.decodeGray8Baseline(jpeg).pixels.toSeq == px.toSeq,
        s"block value $v did not round-trip")
    }
  }

  test("m12/m13 plumbing: meta + phash over the documents fixture") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 13 + 1).cast("int").as("w"),
        (col("doc_id") % 7 + 1).cast("int").as("h"))
      .limit(20)
    val jpegs = JpegOps.textToJpeg(docs, "doc_id", "text", "w", "h")
    val meta = JpegOps.jpegMeta(jpegs, "id", "jpeg")
      .select($"id", $"width", $"height")
      .as[(Long, Int, Int)].collect()
    assert(meta.nonEmpty)
    meta.foreach { case (id, w, h) =>
      assert(w == (id % 13 + 1).toInt && h == (id % 7 + 1).toInt) }
    val ph = JpegOps.jpegPhash(jpegs, "id", "jpeg").collect()
    assert(ph.length == meta.length)
  }

  test("m13 fixture rule: jpegPhash over own-encoded block-constant JPEGs " +
    "equals the kernel phash of the raw block grid") {
    import graft.ops.PhashKernel
    // the full Spark path (encode → entropy decode → IDCT → 8x8 grid
    // sample → DCT kernel) must equal the pure function of the text —
    // the same identity m13's SQL oracle recomputes
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(50)
    val jpegs = JpegOps.textToJpegOwn(docs, "doc_id", "text")
    val got = JpegOps.jpegPhash(jpegs, "id", "jpeg")
      .select($"id", $"sh").as[(Long, Long)].collect().toMap
    val texts = docs.as[(Long, String)].collect()
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      val cps = Option(text).getOrElse("").codePoints().toArray
      val n = cps.length.toLong
      def blockVal(b: Int): Long =
        if (n > 0) (cps(((b * n) / 4).toInt) % 256).toLong else 0L
      // grid cell (gy, gx) samples pixel (2gy, 2gx) → block (gy/4)*2+(gx/4)
      val grid = Array.tabulate(64) { c =>
        blockVal((c / 8 / 4) * 2 + (c % 8 / 4))
      }
      assert(got(id) == PhashKernel.phash56FromGrid(grid), s"doc $id")
    }
  }
}
