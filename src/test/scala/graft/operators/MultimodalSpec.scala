package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Multimodal decode: real container-format header parsing (PNG/APNG,
  * JPEG, GIF, WAV — tiny real byte fixtures built from the published
  * layouts), the `F!` fixture contract, rolling checksum, frame sampling
  * bounds. The decode oracle in graft.queries.MediaQueries covers the SQL-derivable
  * features; the real-format branches and the checksum are pinned here.
  */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-multimodal-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("decodeBytes parses the F! fixture header and rolls a stable checksum") {
    // header: 'F','!', width=258 (0x02,0x01), height=64, frames=3
    val bytes = Array[Byte]('F', '!', 2, 1, 64, 0, 3, 0, 'p', 'a', 'y')
    val (n, sum, (mime, w, h, f)) = Multimodal.decodeBytes(bytes)
    assert(n == 11 && mime == "image/fake" && w == 258 && h == 64 && f == 3)
    val expected = bytes.foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff))
    assert(sum == expected)
    // headerless bytes: octet-stream, zero dims, frames floor to 1
    val (_, _, (m2, w2, _, f2)) = Multimodal.decodeBytes(Array[Byte](1, 2))
    assert(m2 == "application/octet-stream" && w2 == 0 && f2 == 1)
  }

  private def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  test("decodeBytes parses PNG IHDR dimensions and APNG acTL frames") {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] =
      be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++ be32(0) // CRC unchecked
    val ihdr = chunk("IHDR",
      be32(640) ++ be32(480) ++ Array[Byte](8, 6, 0, 0, 0))
    val png = sig ++ ihdr ++ chunk("IDAT", Array[Byte](1, 2, 3)) ++
      chunk("IEND", Array.emptyByteArray)
    val (_, _, (mime, w, h, f)) = Multimodal.decodeBytes(png)
    assert(mime == "image/png" && w == 640 && h == 480 && f == 1)
    // APNG: acTL (num_frames=5) between IHDR and IDAT
    val apng = sig ++ ihdr ++ chunk("acTL", be32(5) ++ be32(0)) ++
      chunk("IDAT", Array[Byte](1))
    val (_, _, (_, w2, _, f2)) = Multimodal.decodeBytes(apng)
    assert(w2 == 640 && f2 == 5)
  }

  test("decodeBytes scans JPEG markers to SOF0 for dimensions") {
    def seg(marker: Int, data: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        (((data.length + 2) >> 8) & 0xff).toByte, ((data.length + 2) & 0xff).toByte) ++ data
    val jpeg =
      Array(0xff, 0xd8).map(_.toByte) ++                       // SOI
        seg(0xe0, "JFIF".getBytes ++ Array[Byte](0, 1, 1)) ++  // APP0
        seg(0xdb, Array.fill[Byte](64)(9)) ++                  // DQT
        seg(0xc0, Array[Byte](8) ++                            // SOF0: precision,
          Array[Byte]((300 >> 8).toByte, (300 & 0xff).toByte,  // height BE16
            (200 >> 8).toByte, (200 & 0xff).toByte, 3)) ++     // width BE16, ncomp
        Array(0xff, 0xd9).map(_.toByte)                        // EOI
    val (_, _, (mime, w, h, f)) = Multimodal.decodeBytes(jpeg)
    assert(mime == "image/jpeg" && w == 200 && h == 300 && f == 1)
  }

  test("decodeBytes parses GIF logical screen and counts image descriptors") {
    val gif = "GIF89a".getBytes("US-ASCII") ++
      le16(320) ++ le16(240) ++ Array[Byte](0x00, 0, 0) ++ // no global table
      // graphic control extension: introducer, label, sub-block(4), term
      Array(0x21, 0xf9, 4, 0, 0, 0, 0, 0).map(_.toByte) ++
      // image descriptor: 0x2C, left/top/w/h, packed=0, LZW min code, sub-block, term
      (Array(0x2c).map(_.toByte) ++ le16(0) ++ le16(0) ++ le16(320) ++ le16(240) ++
        Array[Byte](0, 2, 1, 0x41, 0)) ++
      (Array(0x2c).map(_.toByte) ++ le16(0) ++ le16(0) ++ le16(320) ++ le16(240) ++
        Array[Byte](0, 2, 1, 0x42, 0)) ++
      Array(0x3b.toByte)                                   // trailer
    val (_, _, (mime, w, h, f)) = Multimodal.decodeBytes(gif)
    assert(mime == "image/gif" && w == 320 && h == 240 && f == 2)
  }

  test("decodeBytes parses WAV fmt/data chunks into rate/channels/frames") {
    val fmtData = le16(1) ++ le16(2) ++ le32(44100) ++ le32(44100 * 4) ++
      le16(4) ++ le16(16) // PCM, stereo, 44.1kHz, blockAlign 4, 16-bit
    val data = Array.fill[Byte](40)(7) // 40 bytes / blockAlign 4 = 10 frames
    val wav = "RIFF".getBytes ++ le32(4 + 24 + 8 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(fmtData.length) ++ fmtData ++
      "data".getBytes ++ le32(data.length) ++ data
    val (_, _, (mime, rate, ch, frames)) = Multimodal.decodeBytes(wav)
    assert(mime == "audio/wav" && rate == 44100 && ch == 2 && frames == 10)
  }

  private def box(typ: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8) ++ typ.getBytes("US-ASCII") ++ payload

  test("decodeBytes walks ISO-BMFF boxes: mvhd duration/timescale, tkhd dims") {
    // mvhd v0: version+flags(4), created(4), modified(4), timescale(4), duration(4)
    val mvhd = box("mvhd", Array.fill[Byte](12)(0) ++ be32(600) ++ be32(7320)) // 12.2s
    // tkhd v0: version+flags(4) .. width/height 16.16 at payload offsets 76/80
    val tkhd = box("tkhd",
      Array.fill[Byte](76)(0) ++ be32(1920 << 16) ++ be32(1080 << 16))
    val mp4 = box("ftyp", "isom".getBytes ++ be32(512) ++ "isomiso2".getBytes) ++
      box("moov", mvhd ++ box("trak", tkhd)) ++
      box("mdat", Array.fill[Byte](16)(3))
    val (_, _, (mime, w, h, f)) = Multimodal.decodeBytes(mp4)
    assert(mime == "video/mp4" && w == 1920 && h == 1080 && f == 12)
    // mvhd v1: 64-bit duration, timescale at offset 20
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ Array.fill[Byte](16)(0) ++
      be32(1000) ++ be32(0) ++ be32(65500))
    val mp4v1 = box("ftyp", "isom".getBytes) ++ box("moov", mvhd1 ++ box("trak", tkhd))
    val (_, _, (_, w1, _, f1)) = Multimodal.decodeBytes(mp4v1)
    assert(w1 == 1920 && f1 == 65)
    // truncated after ftyp: still video/mp4, zero dims, frames floor 1
    val (_, _, (m2, w2, _, f2)) = Multimodal.decodeBytes(box("ftyp", "isom".getBytes))
    assert(m2 == "video/mp4" && w2 == 0 && f2 == 1)
  }

  test("decodePixels reads real PNG/JPEG/GIF pixels via ImageIO") {
    import spark.implicits._
    def solid(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, solid(4, 2, 0x804020, "png")),   // lossless: exact means
      (2L, solid(3, 3, 0x606060, "jpg")),   // lossy: tolerance
      (3L, solid(5, 1, 0xff0000, "gif")),   // palette: exact for primaries
      (4L, Array[Byte](9, 9, 9, 9)),        // garbage: not decodable
    ).toDF("media_id", "bytes")
    val rows = Multimodal.decodePixels(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val png = rows(1L)
    assert(png.getBoolean(1) && png.getInt(2) == 4 && png.getInt(3) == 2)
    assert(png.getDouble(4) == 0x80 && png.getDouble(5) == 0x40 &&
      png.getDouble(6) == 0x20)
    assert(math.abs(png.getDouble(7) -
      (0.299 * 0x80 + 0.587 * 0x40 + 0.114 * 0x20)) < 1e-9)
    val jpg = rows(2L)
    assert(jpg.getBoolean(1) && jpg.getInt(2) == 3)
    assert(math.abs(jpg.getDouble(4) - 0x60) < 3.0, "JPEG is lossy but close")
    val gif = rows(3L)
    assert(gif.getBoolean(1) && gif.getDouble(4) == 255.0 && gif.getDouble(6) == 0.0)
    assert(!rows(4L).getBoolean(1) && rows(4L).isNullAt(2) && rows(4L).isNullAt(7),
      "garbage bytes degrade to decode_ok=false with null stats")
  }

  test("syntheticImagesFromDocs round-trips exactly through decodePixels") {
    import spark.implicits._
    val docs = Seq((5L, "x"), (18L, "y"), (255L, "z")).toDF("doc_id", "text")
    val stats = Multimodal.decodePixels(Multimodal.syntheticImagesFromDocs(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.collect().map(_.getLong(0)).foreach { id =>
      val r = stats(id)
      assert(r.getBoolean(1), s"doc $id PNG must decode")
      assert(r.getInt(2) == (id % 16 + 1).toInt && r.getInt(3) == (id % 8 + 1).toInt)
      assert(r.getDouble(4) == ((id * 37) % 256).toDouble &&
        r.getDouble(5) == ((id * 59) % 256).toDouble &&
        r.getDouble(6) == ((id * 83) % 256).toDouble)
    }
  }

  private def gridPng(cells: Array[Int], b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      9 * b, 8 * b, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8 * b; x <- 0 until 9 * b) {
      val v = cells((y / b) * 9 + x / b)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash64 is invariant to uniform block scale (exact box downsample)") {
    import spark.implicits._
    val cells = Array.tabulate(72)(i => (i * 151 + 11) % 256)
    val media = Seq(1, 2, 3, 5)
      .map(b => (b.toLong, gridPng(cells, b))).toDF("media_id", "bytes")
    val hashes = Multimodal.dHash64(media).collect().map(_.getLong(1)).toSet
    assert(hashes.size == 1,
      "the same 9x8 grid at block sizes 1/2/3/5 must hash identically")
  }

  test("dHash64 drops undecodable bytes and sub-grid images") {
    import spark.implicits._
    val tiny = gridPng(Array.fill(72)(7), 1).take(20) // truncated PNG
    val media = Seq(
      (1L, Array[Byte](9, 9, 9)),                     // garbage
      (2L, tiny),                                     // corrupt stream
    ).toDF("media_id", "bytes")
    assert(Multimodal.dHash64(media).count() == 0)
    // an 8x8 image (narrower than the 9-wide grid) emits no row either
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val small = Seq((3L, bos.toByteArray)).toDF("media_id", "bytes")
    assert(Multimodal.dHash64(small).count() == 0)
  }

  test("imageDupPairs equals the banded brute force and finds planted near-dups") {
    import spark.implicits._
    val docs = spark.range(0, 200).toDF("doc_id")
    val media = Multimodal.syntheticGridImagesFromDocs(docs)
    val pairs = Multimodal.imageDupPairs(media, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // independent reference for the collapsed contract: identity classes
    // as (canonical = min id, member, 0) rows; canonicals of DISTINCT
    // hashes pair when they share >= 1 of the 4 16-bit bands with total
    // Hamming <= 8
    val hs = Multimodal.dHash64(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bands(h: Long): Seq[Long] =
      Seq(h & 0xffffL, (h >>> 16) & 0xffffL, (h >>> 32) & 0xffffL, (h >>> 48) & 0xffffL)
    val canon = hs.groupBy(_._2).map { case (h, m) => h -> m.keys.min }
    val classes = hs.toSeq.collect {
      case (id, h) if canon(h) != id => (canon(h), id, 0)
    }.toSet
    val repIds = canon.values.toSeq.sorted
    val repHash = canon.map { case (h, r) => r -> h }
    val brute = (for {
      a <- repIds; b <- repIds if a < b
      if bands(repHash(a)).zip(bands(repHash(b))).exists { case (x, y) => x == y }
      hd = java.lang.Long.bitCount(repHash(a) ^ repHash(b)) if hd <= 8
    } yield (a, b, hd)).toSet ++ classes
    assert(pairs == brute)
    // every planted perturbation (d-1, d) for d % 50 == 1 is a pair at
    // Hamming <= 1 (cell 0 feeds exactly one gradient comparison)
    (0L until 200L).filter(_ % 50 == 1).foreach { d =>
      val p = pairs.find(p => p._1 == d - 1 && p._2 == d)
      assert(p.isDefined && p.get._3 <= 1, s"planted pair (${d - 1}, $d)")
    }
  }

  test("a 100-image identical class emits linearly, not quadratically") {
    import spark.implicits._
    // 100 byte-identical copies of one image + 3 distinct images: the
    // identity class must emit exactly 99 (canonical, member, 0) rows —
    // NOT C(100,2) = 4950 clique pairs — and the band join must see one
    // representative, so no member id other than the canonical appears
    // in any cross-signature pair
    val one = gridPng(Array.tabulate(72)(i => (i * 37) % 256), 2)
    val others = Seq(500L, 501L, 502L).map(d =>
      d -> gridPng(Array.tabulate(72)(i => ((i + d.toInt) * 53) % 256), 1))
    val media = ((0L until 100L).map(_ -> one) ++ others)
      .toDF("media_id", "bytes")
    val pairs = Multimodal.imageDupPairs(media, maxHamming = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val classRows = pairs.filter(p => p._1 == 0L && p._3 == 0)
    assert(classRows.map(_._2).toSet == (1L until 100L).toSet,
      "identity class must be the canonical star 0 -> {1..99}")
    val nonCanonMembers = (1L until 100L).toSet
    assert(!pairs.exists(p => p._3 > 0 &&
      (nonCanonMembers(p._1) || nonCanonMembers(p._2))),
      "non-canonical members must never reach the band join")
    // total pair count is linear: 99 class rows + at most C(4,2) rep pairs
    assert(pairs.length <= 99 + 6, s"got ${pairs.length} pairs")
  }

  test("decodeBytes parses the three WebP container variants") {
    import spark.implicits._
    val docs = Seq(300L, 301L, 302L, 303L, 304L, 305L).toDF("doc_id")
    val got = Multimodal.decode(Multimodal.syntheticWebpFromDocs(docs))
      .select(col("media_id"), col("n_bytes"), col("meta.mime"),
        col("meta.width"), col("meta.height"), col("meta.n_frames"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    (300L to 305L).foreach { id =>
      val w = (id % 300 + 1).toInt; val h = (id % 200 + 1).toInt
      val frames = if (id % 3 == 2) (id % 5 + 1).toInt else 1
      val bytes = (id % 3) match {
        case 0 => 26; case 1 => 30; case _ => 30 + 8 * frames
      }
      assert(got(id) == ((bytes, "image/webp", w, h, frames)), s"id=$id")
    }
    // truncation degrades to zero dims, and a VP8 chunk missing its
    // start code is not trusted
    val trunc = new java.io.ByteArrayOutputStream()
    trunc.write("RIFF".getBytes("US-ASCII"))
    trunc.write(Array[Byte](4, 0, 0, 0)); trunc.write("WEBP".getBytes("US-ASCII"))
    val (_, _, (m1, w1, _, _)) = Multimodal.decodeBytes(trunc.toByteArray)
    assert(m1 == "image/webp" && w1 == 0)
    val bad = new java.io.ByteArrayOutputStream()
    bad.write("RIFF".getBytes("US-ASCII")); bad.write(Array[Byte](22, 0, 0, 0))
    bad.write("WEBPVP8 ".getBytes("US-ASCII")); bad.write(Array[Byte](10, 0, 0, 0))
    bad.write(new Array[Byte](10)) // zeroed payload: no 9d 01 2a start code
    val full = Multimodal.decodeBytes(bad.toByteArray)
    assert(full._3._1 == "image/webp" && full._3._2 == 0,
      "missing 9d 01 2a start code must not yield dims")
  }

  test("truncated VP8L keeps zero dims (no +1 bias on a short read) and " +
      "VP8X canvas overwrites frame dims on malformed chunk order") {
    // VP8L whose 0x2f signature survives but whose packed dim field is cut
    val t = new java.io.ByteArrayOutputStream()
    t.write("RIFF".getBytes("US-ASCII")); t.write(Array[Byte](14, 0, 0, 0))
    t.write("WEBPVP8L".getBytes("US-ASCII")); t.write(Array[Byte](5, 0, 0, 0))
    t.write(0x2f); t.write(0x07) // only 1 of 4 dim bytes present
    val r1 = Multimodal.decodeBytes(t.toByteArray)
    assert(r1._3 == (("image/webp", 0, 0, 1)),
      s"truncated VP8L must not decode 1x1, got ${r1._3}")
    // malformed order: VP8 frame chunk FIRST, then VP8X — canvas is
    // authoritative and must overwrite the frame dims
    val o = new java.io.ByteArrayOutputStream()
    o.write("RIFF".getBytes("US-ASCII")); o.write(Array[Byte](40, 0, 0, 0))
    o.write("WEBP".getBytes("US-ASCII"))
    o.write("VP8 ".getBytes("US-ASCII")); o.write(Array[Byte](10, 0, 0, 0))
    o.write(Array[Byte](0, 0, 0)); o.write(0x9d); o.write(0x01); o.write(0x2a)
    o.write(5); o.write(0); o.write(7); o.write(0) // frame dims 5x7
    o.write("VP8X".getBytes("US-ASCII")); o.write(Array[Byte](10, 0, 0, 0))
    o.write(Array[Byte](0, 0, 0, 0))
    o.write(9); o.write(0); o.write(0)  // canvas w-1 = 9
    o.write(19); o.write(0); o.write(0) // canvas h-1 = 19
    val r2 = Multimodal.decodeBytes(o.toByteArray)
    assert(r2._3 == (("image/webp", 10, 20, 1)),
      s"VP8X canvas must be authoritative, got ${r2._3}")
  }

  test("decodeBytes parses the three compressed-audio container variants") {
    import spark.implicits._
    val docs = (300L to 311L).toDF("doc_id")
    val got = Multimodal.decode(Multimodal.syntheticAudioFormatsFromDocs(docs))
      .select(col("media_id"), col("n_bytes"), col("meta.mime"),
        col("meta.width"), col("meta.height"), col("meta.n_frames"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    val rateList = Array(8000, 16000, 22050, 24000, 32000, 44100, 48000)
    val kbpsList = Array(32, 40, 48, 56, 64)
    val mrates = Array(44100, 48000, 32000)
    (300L to 311L).foreach { id =>
      val k = id / 3
      val want = (id % 3) match {
        case 0 => ((42, "audio/flac", rateList((k % 7).toInt),
          (k % 2 + 1).toInt, (id % 90000 + 1000).toInt))
        case 1 =>
          val kbps = kbpsList((k % 5).toInt); val sec = (k % 2 + 1).toInt
          ((kbps * 125 * sec + (if (id % 6 == 4) 20 else 0), "audio/mpeg",
            mrates((k % 3).toInt), if (k % 2 == 1) 1 else 2, sec))
        case _ => ((87, "audio/ogg", rateList((k % 7).toInt),
          (k % 2 + 1).toInt, (id % 50000 + 500).toInt))
      }
      assert(got(id) == want, s"id=$id")
    }
  }

  test("MP3 header tables: V2/V2.5 rows, free/bad bitrate and reserved " +
      "version degrade to zero dims; ID3-only file degrades") {
    def mp3(b1: Int, b2: Int, b3: Int, pad: Int): Array[Byte] =
      (Array(0xff, b1, b2, b3) ++ Array.fill(pad)(0)).map(_.toByte)
    // V2 (01? no — bits 10) Layer III 64 kbps idx=8? V2 L3 row:
    // 8,16,24,32,40,48,56,64... idx 8 = 64 kbps; sr idx 0 = 22050
    val v2 = Multimodal.decodeBytes(mp3(0xf3, 0x80, 0x00, 64 * 125 - 4))
    assert(v2._3 == (("audio/mpeg", 22050, 2, 1)), s"got ${v2._3}")
    // V2.5 (bits 00) Layer III idx 8 = 64 kbps; sr idx 2 = 8000; mono
    val v25 = Multimodal.decodeBytes(mp3(0xe3, 0x88, 0xc0, 2 * 64 * 125 - 4))
    assert(v25._3 == (("audio/mpeg", 8000, 1, 2)), s"got ${v25._3}")
    // V1 Layer I idx 14 = 448 kbps; sr idx 1 = 48000
    val l1 = Multimodal.decodeBytes(mp3(0xff, 0xe4, 0x00, 448 * 125 - 4))
    assert(l1._3 == (("audio/mpeg", 48000, 2, 1)), s"got ${l1._3}")
    // free-format (idx 0) and bad (idx 15) bitrates: no duration, no dims
    assert(Multimodal.decodeBytes(mp3(0xfb, 0x00, 0x00, 100))._3 ==
      (("audio/mpeg", 0, 0, 1)))
    assert(Multimodal.decodeBytes(mp3(0xfb, 0xf0, 0x00, 100))._3 ==
      (("audio/mpeg", 0, 0, 1)))
    // reserved version bits (01) are not trusted
    assert(Multimodal.decodeBytes(mp3(0xeb, 0x80, 0x00, 100))._3 ==
      (("audio/mpeg", 0, 0, 1)))
    // an ID3 tag with no frame after it degrades, not throws
    val id3 = Array('I', 'D', '3', 3, 0, 0, 0, 0, 0, 10).map(_.toByte) ++
      new Array[Byte](10)
    assert(Multimodal.decodeBytes(id3)._3 == (("audio/mpeg", 0, 0, 1)))
  }

  test("FLAC >2^31-sample STREAMINFO saturates n_frames at Int.MaxValue " +
      "instead of wrapping negative") {
    // fLaC + last-block STREAMINFO (type 0, len 34): rate 44100,
    // 2 channels, total samples = 0x3_0000_0000 (≈ 81h @ 44.1 kHz)
    val b = new Array[Byte](4 + 4 + 34)
    "fLaC".getBytes("US-ASCII").copyToArray(b, 0)
    b(4) = 0x80.toByte; b(5) = 0; b(6) = 0; b(7) = 34
    val s = 8 // STREAMINFO payload start
    b(s + 10) = 0x0a; b(s + 11) = 0xc4.toByte       // rate 44100 (20 bits)
    b(s + 12) = (0x40 | (1 << 1)).toByte            // rate low nibble | ch-1=1
    b(s + 13) = 0x03                                 // samples bits 35..32
    val r = Multimodal.decodeBytes(b)
    assert(r._3 == (("audio/flac", 44100, 2, Int.MaxValue)), s"got ${r._3}")
  }

  test("FLAC/OGG malformed containers degrade to zeros, never throw") {
    // fLaC magic with a truncated STREAMINFO
    val f = "fLaC".getBytes("US-ASCII") ++ Array[Byte](0x80.toByte, 0, 0, 34, 1, 2)
    assert(Multimodal.decodeBytes(f)._3 == (("audio/flac", 0, 0, 1)))
    // OggS page whose packet is not a Vorbis identification header
    val o = new java.io.ByteArrayOutputStream()
    o.write("OggS".getBytes("US-ASCII")); o.write(0); o.write(2)
    (0 until 20).foreach(_ => o.write(0)) // granule+serial+seq+crc
    o.write(1); o.write(3); o.write("xyz".getBytes("US-ASCII"))
    assert(Multimodal.decodeBytes(o.toByteArray)._3 == (("audio/ogg", 0, 0, 1)))
  }

  test("decodeBytes degrades truncated real-format headers to zero dims") {
    val (_, _, (m1, w1, _, _)) = Multimodal.decodeBytes(
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)) // sig only
    assert(m1 == "image/png" && w1 == 0)
    val (_, _, (m2, w2, _, _)) = Multimodal.decodeBytes(
      Array(0xff, 0xd8, 0xff).map(_.toByte)) // SOI only
    assert(m2 == "image/jpeg" && w2 == 0)
    val (_, _, (m3, _, _, f3)) = Multimodal.decodeBytes(
      "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("ISO-8859-1"))
    assert(m3 == "audio/wav" && f3 == 1)
  }

  test("decode runs partition-wise and matches the per-byte checksum") {
    import spark.implicits._
    val docs = Seq((1L, "hello media"), (2L, "x")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val decoded = Multimodal.decode(Multimodal.fakeMediaFromDocs(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    // recompute expected checksum from the same fake-header contract
    def fake(nChars: Int, text: String): Array[Byte] =
      Array[Byte]('F', '!', (nChars % 256).toByte, ((nChars / 256) % 256).toByte,
        64, 0, (nChars % 7 + 1).toByte, 0) ++ text.getBytes("UTF-8")
    val b1 = fake(11, "hello media")
    assert(decoded(1L).getAs[Int]("n_bytes") == b1.length)
    assert(decoded(1L).getAs[Long]("checksum") ==
      b1.foldLeft(0L)((a, b) => a * 31 + (b & 0xff)))
    assert(decoded(1L).getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("width") == 11)
  }

  test("sampleFrames emits at most maxFrames evenly spaced indexes") {
    import spark.implicits._
    val docs = Seq((1L, "a" * 20)).toDF("doc_id", "text") // n_frames = 20%7+1 = 7
      .withColumn("n_chars", length(col("text")).cast("long"))
    val frames = Multimodal.sampleFrames(
      Multimodal.decode(Multimodal.fakeMediaFromDocs(docs)), maxFrames = 4)
      .select("frame_index").collect().map(_.getInt(0)).toSeq
    assert(frames == Seq(0, 1, 3, 5)) // i * 7/4 truncated, 4 frames
  }
}
