package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: images/audio/video as opaque `BINARY`
  * columns with typed metadata structs.
  *
  * [[decodeBytes]] is a real container-format header parser — magic-byte
  * sniffing plus dimension/frame extraction for PNG (incl. APNG frame
  * counts), JPEG (SOF scan), GIF, and WAV, all from the published byte
  * layouts of those formats. It extracts METADATA, not pixels/samples: a
  * full pixel decode needs a codec library, and the `bytes → features`
  * signature is exactly where one would slot in. The `F!` branch is the
  * deterministic test-fixture format [[fakeMediaFromDocs]] emits so the
  * pipeline has SQL-derivable data to run against in this container.
  *
  * Scale notes: decode runs per-partition with no shuffle; metadata
  * extraction keeps binary columns out of the shuffle path (only small
  * structs survive projection); frame sampling multiplies rows by
  * `maxFrames` at most, declared up front.
  */
object Multimodal {

  /** Typed metadata carried alongside media bytes. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Schema of a decoded-features row. */
  def decodedSchema(idType: DataType): StructType = StructType(Seq(
    StructField("media_id", idType),
    StructField("n_bytes", IntegerType),
    StructField("checksum", LongType),
    StructField("meta", mediaMetaSchema)))

  /** Container-format metadata decode: sniffs the magic bytes and parses
    * the published header layout of the matched format. Returns
    * (n_bytes, rolling checksum, (mime, width, height, n_frames)).
    *
    * Formats (all pure public byte-format knowledge — no codec library):
    *  - PNG (`\x89PNG\r\n\x1a\n`): IHDR width/height (big-endian 32-bit at
    *    chunk offsets 0/4); APNG `acTL` chunk, when present before IDAT,
    *    supplies n_frames.
    *  - JPEG (`FF D8 FF`): marker-segment scan to the first SOFn
    *    (C0–CF minus C4/C8/CC) for height/width (big-endian 16-bit);
    *    stops at SOS.
    *  - GIF (`GIF87a`/`GIF89a`): logical-screen width/height
    *    (little-endian 16-bit); block walk counting image descriptors
    *    (0x2C) for n_frames, honoring global/local color tables and
    *    sub-block chains.
    *  - WAV (`RIFF....WAVE`): from `fmt `, width := sample rate and
    *    height := channel count (the schema's spatial fields repurposed —
    *    documented mapping, audio has no pixels); n_frames := `data` size
    *    / block align (the real sample-frame count).
    *  - WebP (`RIFF....WEBP`): VP8 lossy (start-code check + 14-bit LE
    *    dims), VP8L lossless (0x2f signature + packed 14-bit dims), and
    *    VP8X extended (24-bit LE canvas dims; animation flag → one ANMF
    *    chunk per frame).
    *  - MP4/ISO-BMFF (`....ftyp`): box walk into moov/trak/mdia; `mvhd`
    *    timescale+duration (version 0 and 1 layouts), first video
    *    `tkhd`'s 16.16 fixed-point width/height; n_frames := whole
    *    seconds of duration (documented mapping — true frame counts
    *    live in the `stts` sample table).
    *  - FLAC (`fLaC`): STREAMINFO metadata block — 20-bit rate, 3-bit
    *    channels−1, 36-bit total samples; width := rate, height :=
    *    channels, n_frames := total samples (exact).
    *  - OGG (`OggS`): Vorbis identification header (0x01`vorbis`) in the
    *    first page for rate/channels; n_frames := the LAST page's
    *    granule position (total PCM samples per RFC 3533).
    *  - MP3 (`ID3` tag or `FF Ex` frame sync): ID3v2 syncsafe skip +
    *    bounded sync scan, then version/layer/bitrate/samplerate from
    *    the published header tables; width := rate, height := channels,
    *    n_frames := whole seconds of CBR audio (documented estimate).
    *  - `F!`: the deterministic test-fixture header of
    *    [[fakeMediaFromDocs]] (w, h, frames as 16-bit LE at offsets 2/4/6).
    *  - anything else: `application/octet-stream`, zero dims, 1 frame.
    *
    * Truncated/corrupt headers degrade to zero dims rather than throwing —
    * at corpus scale a malformed file must not kill the partition.
    */
  def decodeBytes(bytes: Array[Byte]): (Int, Long, (String, Int, Int, Int)) = {
    val n = bytes.length
    def at(i: Int): Int = if (i >= 0 && i < n) bytes(i) & 0xff else -1
    def u16le(i: Int): Int = if (i + 2 <= n) at(i) | (at(i + 1) << 8) else 0
    def u16be(i: Int): Int = if (i + 2 <= n) (at(i) << 8) | at(i + 1) else 0
    def u32be(i: Int): Long =
      if (i + 4 <= n) ((at(i).toLong << 24) | (at(i + 1) << 16) | (at(i + 2) << 8) | at(i + 3)) else 0L
    def u32le(i: Int): Long =
      if (i + 4 <= n) (at(i).toLong | (at(i + 1).toLong << 8) | (at(i + 2).toLong << 16) | (at(i + 3).toLong << 24)) else 0L
    def ascii(i: Int, s: String): Boolean =
      i + s.length <= n && s.indices.forall(k => at(i + k) == s.charAt(k))
    var checksum = 0L
    var i = 0
    while (i < n) { checksum = checksum * 31 + (bytes(i) & 0xff); i += 1 }

    val meta: (String, Int, Int, Int) =
      if (n >= 8 && at(0) == 0x89 && ascii(1, "PNG") &&
          at(4) == 0x0d && at(5) == 0x0a && at(6) == 0x1a && at(7) == 0x0a) {
        // chunk walk: IHDR dims; APNG acTL frame count (only valid pre-IDAT)
        var w = 0; var h = 0; var frames = 1
        var p = 8
        var done = false
        while (!done && p + 8 <= n) {
          val len = u32be(p)
          if (ascii(p + 4, "IHDR")) { w = u32be(p + 8).toInt; h = u32be(p + 12).toInt }
          else if (ascii(p + 4, "acTL")) frames = math.max(u32be(p + 8).toInt, 1)
          else if (ascii(p + 4, "IDAT") || ascii(p + 4, "IEND")) done = true
          if (len < 0 || len > Int.MaxValue - 12) done = true // corrupt length
          else p += 12 + len.toInt                            // len + type + data + CRC
        }
        ("image/png", w, h, frames)
      } else if (n >= 3 && at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) {
        var w = 0; var h = 0
        var p = 2
        var done = false
        while (!done && p + 1 < n) {
          if (at(p) != 0xff) p += 1 // tolerate stray fill bytes
          else {
            val m = at(p + 1)
            if (m == 0xff) p += 1 // fill byte before marker
            else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) p += 2 // standalone
            else {
              val segLen = u16be(p + 2)
              val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
              if (isSof) { h = u16be(p + 5); w = u16be(p + 7); done = true }
              else if (m == 0xda || segLen < 2) done = true // SOS / corrupt
              else p += 2 + segLen
            }
          }
        }
        ("image/jpeg", w, h, 1)
      } else if (ascii(0, "GIF87a") || ascii(0, "GIF89a")) {
        val w = u16le(6); val h = u16le(8)
        // logical screen descriptor: packed byte at 10; global color table
        // size = 3 * 2^(N+1) when flag 0x80 set
        var p = 13
        if (n > 10 && (at(10) & 0x80) != 0) p += 3 * (1 << ((at(10) & 0x07) + 1))
        var frames = 0
        var done = false
        def skipSubBlocks(): Unit = {
          var sz = at(p)
          while (sz > 0) { p += 1 + sz; sz = at(p) }
          p += 1 // terminator 0x00 (or EOF: at() = -1 exits the loop)
        }
        while (!done && p < n) at(p) match {
          case 0x2c => // image descriptor: 9 bytes + optional local table + LZW
            frames += 1
            val packed = at(p + 9)
            p += 10
            if (packed >= 0 && (packed & 0x80) != 0) p += 3 * (1 << ((packed & 0x07) + 1))
            p += 1 // LZW minimum code size
            skipSubBlocks()
          case 0x21 => p += 2; skipSubBlocks() // extension: introducer + label
          case 0x3b => done = true             // trailer
          case _    => done = true             // corrupt — stop, keep count
        }
        ("image/gif", w, h, math.max(frames, 1))
      } else if (ascii(0, "RIFF") && ascii(8, "WAVE")) {
        var rate = 0; var channels = 0; var blockAlign = 0; var dataSize = 0L
        var p = 12
        var done = false
        while (!done && p + 8 <= n) {
          val size = u32le(p + 4)
          if (ascii(p, "fmt ")) {
            channels = u16le(p + 10); rate = u32le(p + 12).toInt
            blockAlign = u16le(p + 20)
          } else if (ascii(p, "data")) { dataSize = size; done = true }
          if (size < 0 || size > Int.MaxValue) done = true
          else p += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
        val frames = if (blockAlign > 0) (dataSize / blockAlign).toInt else 0
        ("audio/wav", rate, channels, math.max(frames, 1))
      } else if (ascii(0, "RIFF") && ascii(8, "WEBP")) {
        // WebP — the dominant crawl image format (RIFF container; published
        // layouts: VP8 bitstream RFC 6386 §9.1, WebP container spec):
        //   VP8  (lossy):    3-byte frame tag, 0x9d 0x01 0x2a start code,
        //                    then 14-bit LE width and height
        //   VP8L (lossless): 0x2f signature, then width-1 / height-1 as
        //                    two 14-bit fields packed LE
        //   VP8X (extended): 4 flag/reserved bytes, then 24-bit LE
        //                    canvas width-1 / height-1; the animation
        //                    flag (0x02) means one ANMF chunk per frame
        def u24le(i: Int): Int =
          if (i + 3 <= n) at(i) | (at(i + 1) << 8) | (at(i + 2) << 16) else 0
        var w = 0; var h = 0; var frames = 0; var animated = false
        var p = 12
        var done = false
        while (!done && p + 8 <= n) {
          val size = u32le(p + 4)
          if (ascii(p, "VP8 ") && w == 0) {
            // dim fields must be fully present: a truncated payload would
            // decode 0-extended garbage instead of the documented 0-dims
            if (p + 18 <= n &&
                at(p + 11) == 0x9d && at(p + 12) == 0x01 && at(p + 13) == 0x2a) {
              w = u16le(p + 14) & 0x3fff; h = u16le(p + 16) & 0x3fff
            }
          } else if (ascii(p, "VP8L") && w == 0) {
            // same bounds rule: the 4-byte packed dim field must be whole,
            // or the +1 bias would turn a truncated read into 1×1
            if (p + 13 <= n && at(p + 8) == 0x2f) {
              val b = u32le(p + 9)
              w = (b & 0x3fff).toInt + 1; h = ((b >> 14) & 0x3fff).toInt + 1
            }
          } else if (ascii(p, "VP8X")) {
            // canvas dims are AUTHORITATIVE: a well-formed file leads with
            // VP8X, and on a malformed one (frame chunk first) the canvas
            // still overwrites the frame dims — matching the container
            // spec's precedence, not first-writer-wins
            animated = (at(p + 8) & 0x02) != 0
            if (p + 18 <= n) { w = u24le(p + 12) + 1; h = u24le(p + 15) + 1 }
          } else if (ascii(p, "ANMF")) frames += 1
          if (size < 0 || size > Int.MaxValue) done = true
          else p += 8 + size.toInt + (size.toInt & 1)
        }
        ("image/webp", w, h, if (animated) math.max(frames, 1) else 1)
      } else if (ascii(0, "fLaC")) {
        // FLAC (published layout, xiph.org format spec): metadata blocks
        // [last(1)|type(7)][u24be length][payload]; STREAMINFO (type 0,
        // 34 B) carries rate (20 bits), channels-1 (3), bps-1 (5), total
        // samples (36) bit-packed from byte offset 10. Same spatial-field
        // repurposing as WAV: width := rate, height := channels,
        // n_frames := total samples (EXACT for FLAC, unlike the MP3
        // duration estimate).
        var rate = 0; var channels = 0; var samples = 0L
        var p = 4
        var done = false
        while (!done && p + 4 <= n) {
          val head = at(p)
          val len = (at(p + 1) << 16) | (at(p + 2) << 8) | at(p + 3)
          if ((head & 0x7f) == 0 && len >= 34 && p + 4 + 18 <= n) {
            val b = p + 4
            rate = (at(b + 10) << 12) | (at(b + 11) << 4) | (at(b + 12) >> 4)
            channels = ((at(b + 12) >> 1) & 0x7) + 1
            samples = ((at(b + 13) & 0x0f).toLong << 32) |
              (at(b + 14).toLong << 24) | (at(b + 15) << 16) |
              (at(b + 16) << 8) | at(b + 17)
          }
          if ((head & 0x80) != 0 || head < 0 || len < 0) done = true
          else p += 4 + len
        }
        // 36-bit sample counts can exceed Int.MaxValue (~13.5h @44.1k):
        // saturate instead of wrapping negative (which max(...,1) would
        // silently collapse to 1)
        ("audio/flac", rate, channels,
          math.max(math.min(samples, Int.MaxValue.toLong).toInt, 1))
      } else if (ascii(0, "OggS")) {
        // OGG (published layout, RFC 3533): pages are
        // [OggS][ver][type][granule u64le][serial u32le][seq u32le]
        // [crc u32le][nsegs][segtable][payload]; the first packet of a
        // Vorbis stream is the identification header 0x01"vorbis" with
        // channels (u8) and rate (u32le); the LAST page's granule is the
        // total PCM sample count. width := rate, height := channels,
        // n_frames := final granule.
        var rate = 0; var channels = 0; var granule = 0L
        var p = 0
        var first = true
        var done = false
        while (!done && ascii(p, "OggS") && p + 27 <= n) {
          val nsegs = at(p + 26)
          if (nsegs < 0) done = true
          else {
            var payload = 0
            var k = 0
            while (k < nsegs) { payload += math.max(at(p + 27 + k), 0); k += 1 }
            val body = p + 27 + nsegs
            // page granule (u64le) — track the last page's value
            val g = u32le(p + 6) | (u32le(p + 10) << 32)
            if (g >= 0) granule = g
            if (first && at(body) == 0x01 && ascii(body + 1, "vorbis") &&
                body + 16 <= n) {
              channels = at(body + 11)
              rate = u32le(body + 12).toInt
            }
            first = false
            p = body + payload
          }
        }
        // the granule is u64: saturate >2^31 sample streams, don't wrap
        ("audio/ogg", rate, channels,
          math.max(math.min(granule, Int.MaxValue.toLong).toInt, 1))
      } else if (n >= 12 && u32be(0) >= 8 && ascii(4, "ftyp")) {
        // ISO-BMFF (MP4/MOV/3GP): [size:u32be][type:4cc][payload] box
        // sequence; size==1 → u64 largesize follows the type, size==0 →
        // box runs to EOF. moov/trak are containers; mvhd carries
        // timescale+duration (offsets differ by version byte), tkhd
        // carries 16.16 fixed-point width/height at the end of its
        // payload. Published byte layout (ISO/IEC 14496-12).
        var w = 0; var h = 0; var durSec = 0L
        def walk(start: Long, end: Long, depth: Int): Unit = {
          var p = start
          while (p + 8 <= end && depth < 8) {
            val size0 = u32be(p.toInt)
            var header = 8L
            val boxEnd =
              if (size0 == 0L) end
              else if (size0 == 1L && p + 16 <= end) {
                header = 16L
                val hi = u32be(p.toInt + 8); val lo = u32be(p.toInt + 12)
                math.min(p + ((hi << 32) | lo), end)
              } else math.min(p + size0, end)
            if (boxEnd <= p + 7) return // corrupt size — stop, keep fields
            val t = p.toInt + 4
            if (ascii(t, "moov") || ascii(t, "trak") || ascii(t, "mdia"))
              walk(p + header, boxEnd, depth + 1)
            else if (ascii(t, "mvhd")) {
              val b = (p + header).toInt
              val version = at(b)
              if (version == 1) {
                val ts = u32be(b + 20)
                val dur = (u32be(b + 24) << 32) | u32be(b + 28)
                if (ts > 0) durSec = dur / ts
              } else {
                val ts = u32be(b + 12); val dur = u32be(b + 16)
                if (ts > 0) durSec = dur / ts
              }
            } else if (ascii(t, "tkhd") && w == 0) {
              val b = (p + header).toInt
              val off = if (at(b) == 1) b + 88 else b + 76
              val tw = (u32be(off) >> 16).toInt; val th = (u32be(off + 4) >> 16).toInt
              if (tw > 0 && th > 0) { w = tw; h = th } // first VIDEO track
            }
            p = boxEnd
          }
        }
        walk(0L, n.toLong, 0)
        // n_frames := whole seconds of mvhd duration (documented mapping —
        // a real frame count needs the stts sample table; same spirit as
        // WAV's rate/channels repurposing of the spatial fields)
        ("video/mp4", w, h, math.max(durSec.toInt, 1))
      } else if (ascii(0, "ID3") ||
          (n >= 4 && at(0) == 0xff && (at(1) & 0xe0) == 0xe0)) {
        // MP3 (published layout, ISO/IEC 11172-3 + the de-facto ID3v2
        // spec): optional ID3v2 tag [ID3][ver u16][flags][syncsafe u32
        // size] skipped (+10 footer when flag 0x10), then the first
        // frame header FF Ex: version (2 bits: V1/V2/V2.5), layer (2),
        // bitrate index (4) and samplerate index (2) looked up in the
        // published tables, channel mode (2 bits, mode 3 = mono).
        // width := samplerate, height := channels; n_frames := whole
        // seconds of CBR audio from the tag end — bytes*8/bitrate (a
        // documented ESTIMATE; exact counts need the full frame walk).
        var off = 0
        if (ascii(0, "ID3") && n >= 10) {
          val size = ((at(6) & 0x7f) << 21) | ((at(7) & 0x7f) << 14) |
            ((at(8) & 0x7f) << 7) | (at(9) & 0x7f)
          off = 10 + size + (if ((at(5) & 0x10) != 0) 10 else 0)
        }
        // scan (bounded) for the frame sync — crawl files carry junk
        // between tag and first frame
        while (off + 4 <= n &&
          !(at(off) == 0xff && (at(off + 1) & 0xe0) == 0xe0)) off += 1
        var rate = 0; var channels = 0; var seconds = 0
        if (off + 4 <= n) {
          val b1 = at(off + 1); val b2 = at(off + 2); val b3 = at(off + 3)
          val version = (b1 >> 3) & 0x3 // 0=V2.5, 2=V2, 3=V1 (1 reserved)
          val layer = (b1 >> 1) & 0x3   // 1=III, 2=II, 3=I (0 reserved)
          val brIdx = (b2 >> 4) & 0xf
          val srIdx = (b2 >> 2) & 0x3
          // published bitrate tables (kbps); row 0 = free, row 15 = bad
          val v1 = Array(
            Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448, 0),
            Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384, 0),
            Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0))
          val v2 = Array(
            Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256, 0),
            Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0),
            Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0))
          val rates = Array(
            Array(11025, 12000, 8000),   // V2.5
            Array(0, 0, 0),              // reserved
            Array(22050, 24000, 16000),  // V2
            Array(44100, 48000, 32000))  // V1
          if (version != 1 && layer != 0 && srIdx != 3 &&
              brIdx != 0 && brIdx != 15) {
            val table = if (version == 3) v1 else v2
            val kbps = table(3 - layer)(brIdx)
            rate = rates(version)(srIdx)
            channels = if (((b3 >> 6) & 0x3) == 3) 1 else 2
            if (kbps > 0)
              seconds = (((n - off).toLong * 8L) / (kbps * 1000L)).toInt
          }
        }
        ("audio/mpeg", rate, channels, math.max(seconds, 1))
      } else if (n >= 2 && at(0) == 'F'.toInt && at(1) == '!'.toInt) {
        ("image/fake", u16le(2), u16le(4), math.max(u16le(6), 1))
      } else ("application/octet-stream", 0, 0, 1)

    (n, checksum, meta)
  }

  /** Decode a binary column partition-wise (no shuffle, no Python): the
    * Scala analog of a pandas-UDF `mapInPandas` decode stage.
    */
  def decode(media: DataFrame, idCol: String = "media_id", bytesCol: String = "bytes"): DataFrame = {
    val idType = media.schema(idCol).dataType
    val out = decodedSchema(idType)
    val idIdx = media.schema.fieldIndex(idCol)
    val bIdx = media.schema.fieldIndex(bytesCol)
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val (n, sum, (mime, w, h, f)) = decodeBytes(bytes)
        Row(r.get(idIdx), n, sum, Row(mime, w, h, f))
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Frame sampling for "video" media: emit up to `maxFrames` evenly-spaced
    * frame indexes per media row (explode — the only row-multiplying step,
    * bounded by construction). The frame decode itself is the same stub.
    */
  def sampleFrames(decoded: DataFrame, maxFrames: Int = 4): DataFrame =
    decoded.select(
      col("media_id"), col("meta"),
      explode(expr(
        s"""transform(
           |  sequence(0, least(meta.n_frames - 1, ${maxFrames - 1})),
           |  i -> CAST(i * greatest(meta.n_frames / $maxFrames, 1) AS INT))""".stripMargin))
        .as("frame_index"))

  /** Schema of a pixel-stats row ([[decodePixels]]). */
  def pixelStatsSchema(idType: DataType): StructType = StructType(Seq(
    StructField("media_id", idType),
    StructField("decode_ok", BooleanType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("mean_luma", DoubleType)))

  /** REAL pixel decode via JDK ImageIO (PNG/JPEG/GIF/BMP — ships with the
    * JDK, no external codec dependency): per-image width/height,
    * per-channel means, and Rec.601 mean luma
    * (0.299 R + 0.587 G + 0.114 B). This is the `bytes → features` slot
    * [[decodeBytes]] (the cheap header-metadata default) leaves open,
    * made real end-to-end.
    *
    * Same scale posture as [[decode]]: runs per-partition via
    * mapPartitions, binary never shuffles, only the small stats rows
    * survive projection. Pixels are read one ROW at a time (bulk
    * `getRGB` per scanline), so peak memory is O(width), not
    * O(width*height). Undecodable/truncated/non-image bytes degrade to
    * `decode_ok = false` with null stats — a malformed file must not
    * kill the partition.
    */
  def decodePixels(media: DataFrame, idCol: String = "media_id",
      bytesCol: String = "bytes"): DataFrame = {
    val idType = media.schema(idCol).dataType
    val out = pixelStatsSchema(idType)
    val idIdx = media.schema.fieldIndex(idCol)
    val bIdx = media.schema.fieldIndex(bytesCol)
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx)
        val bytes = r.getAs[Array[Byte]](bIdx)
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: Exception => null } // corrupt stream: not decodable
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
          Row(id, false, null, null, null, null, null, null)
        else {
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          val line = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, line, 0, w)
            var x = 0
            while (x < w) {
              val p = line(x)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              x += 1
            }
            y += 1
          }
          val npx = w.toLong * h
          val mr = sr.toDouble / npx; val mg = sg.toDouble / npx
          val mb = sb.toDouble / npx
          Row(id, true, w, h, mr, mg, mb,
            0.299 * mr + 0.587 * mg + 0.114 * mb)
        }
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Synthetic REAL-PNG media from the documents fixture: each doc_id
    * becomes a solid-color PNG (dims and RGB derived arithmetically from
    * doc_id), encoded per-partition with ImageIO. Solid color + lossless
    * PNG means every [[decodePixels]] statistic is exactly computable in
    * SQL from doc_id alone — which is what lets the driver oracle-gate a
    * real codec round-trip (encode and decode both go through ImageIO).
    */
  def syntheticImagesFromDocs(docs: DataFrame): DataFrame = {
    val idIdx = docs.schema.fieldIndex("doc_id")
    val out = StructType(Seq(
      StructField("media_id", docs.schema("doc_id").dataType),
      StructField("bytes", BinaryType)))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val w = (id % 16 + 1).toInt; val h = (id % 8 + 1).toInt
        val rgb = (((id * 37) % 256).toInt << 16) |
          (((id * 59) % 256).toInt << 8) | ((id * 83) % 256).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(r.get(idIdx), bos.toByteArray)
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Schema of a [[dHash64]] row. */
  def dHashSchema(idType: DataType): StructType = StructType(Seq(
    StructField("media_id", idType),
    StructField("dhash", LongType)))

  /** Perceptual difference-hash (dHash) over REAL decoded pixels: ImageIO
    * decode → box-average downsample to a 9-wide × 8-tall luma grid →
    * 64 horizontal gradient bits (bit j*8+i set iff grid(i+1,j) >
    * grid(i,j)). The canonical LAION-style image near-dup key: the hash
    * survives re-encoding, uniform rescaling, and small brightness-
    * preserving edits, because it encodes luma GRADIENTS, not values.
    *
    * Arithmetic is integer-exact end-to-end so a second engine can
    * reproduce it from the generator contract: per-pixel luma is
    * (299·R + 587·G + 114·B) / 1000 floored (identity on grayscale),
    * each target cell averages (floored) the source pixels whose
    * (x·9/W, y·8/H) floor-map lands in it — for W,H exact multiples of
    * 9,8 that is an exact block mean, which is what lets the DuckDB
    * oracle pin a real decode→resize→hash chain byte-for-byte
    * ([[syntheticGridImagesFromDocs]]).
    *
    * Same scale posture as [[decodePixels]]: per-partition mapPartitions,
    * binary never shuffles, one scanline buffer (peak memory O(width)),
    * only (id, 64-bit hash) rows survive. Undecodable bytes or images
    * smaller than the 9×8 grid emit NO row (a degenerate hash of
    * nothing would pair all such images together — the null-text
    * contract of the text signature family).
    */
  def dHash64(media: DataFrame, idCol: String = "media_id",
      bytesCol: String = "bytes"): DataFrame = {
    val out = dHashSchema(media.schema(idCol).dataType)
    val idIdx = media.schema.fieldIndex(idCol)
    val bIdx = media.schema.fieldIndex(bytesCol)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](bIdx)
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: Exception => null }
        if (img == null || img.getWidth < 9 || img.getHeight < 8) Iterator.empty
        else {
          val w = img.getWidth; val h = img.getHeight
          val sums = new Array[Long](72)
          val counts = new Array[Int](72)
          val line = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, line, 0, w)
            val ty = (y.toLong * 8 / h).toInt
            var x = 0
            while (x < w) {
              val p = line(x)
              val luma = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff)
                + 114 * (p & 0xff)) / 1000
              val c = ty * 9 + (x.toLong * 9 / w).toInt
              sums(c) += luma; counts(c) += 1
              x += 1
            }
            y += 1
          }
          val grid = new Array[Long](72)
          var c = 0
          while (c < 72) { grid(c) = sums(c) / counts(c); c += 1 }
          var sig = 0L
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 8) {
              if (grid(j * 9 + i + 1) > grid(j * 9 + i)) sig |= 1L << (j * 8 + i)
              i += 1
            }
            j += 1
          }
          Iterator.single(Row(r.get(idIdx), sig))
        }
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Image near-duplicate pairs — the multimodal sibling of the text
    * SimHash relation (`Dedup.simhashPairs`, same Hamming-band LSH
    * discipline: 4 bands of 16 bits as join buckets, exact popcount
    * verification on candidates). The emitted relation is DETERMINISTIC
    * by contract: each identity class (equal [[dHash64]]) appears as
    * `(canonical = min id, member, hamming = 0)` rows, and canonicals
    * of DISTINCT signatures pair when they share ≥ 1 band AND total
    * Hamming ≤ `maxHamming` — banding is part of the operator's
    * semantics (Hamming-ball LSH), not a recall gamble, so a second
    * engine computes the identical set.
    *
    * At 100 TB: the hash is row-local (one decode pass, binary never
    * shuffles); the join carries only (id, 64-bit hash) rows keyed on
    * bounded 16-bit band values — never all-pairs; bit_count runs
    * codegen'd on the candidates.
    */
  def imageDupPairs(media: DataFrame, maxHamming: Int = 8,
      idCol: String = "media_id", bytesCol: String = "bytes"): DataFrame = {
    require(maxHamming >= 0, "non-negative maxHamming required")
    // two consumers (rep aggregate + class join) under different
    // exchanges would re-run the whole decode+dHash pass — materialize
    // it once (the Dedup.minhashPairs r16 discipline)
    val sh = Materialize.pin(dHash64(media, idCol, bytesCol))
    // signature-identical collapse (the Dedup.simhashPairs discipline):
    // k byte-identical images — logos, icons, ubiquitous in crawls —
    // share all 4 bands; only ONE representative per distinct dHash
    // enters the band join, and the identity class is emitted as linear
    // (canonical, member, 0) rows, keeping both the output and the
    // join's hottest buckets linear in class size. Cross-signature
    // pairs (hamming >= 1 by construction) join between canonicals;
    // connectivity matches the full quadratic relation exactly.
    val rep = sh.groupBy(col("dhash")).agg(min(col("media_id")).as("__rep"))
    val classes = sh.join(rep, Seq("dhash"))
      .filter(col("media_id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("media_id").as("id_b"),
        expr("CAST(0 AS INT)").as("hamming"))
    val reps = rep.select(col("__rep").as("media_id"), col("dhash"))
    val bandRows = reps.select(col("media_id"), col("dhash"),
      posexplode(expr(
        "array(dhash & 65535, shiftright(dhash, 16) & 65535, " +
          "shiftright(dhash, 32) & 65535, shiftright(dhash, 48) & 65535)"))
        .as(Seq("__band", "__bucket")))
    val repPairs = bandRows.as("a").join(bandRows.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        expr("CAST(bit_count(a.dhash ^ b.dhash) AS INT)").as("hamming"))
      // filter BEFORE the pair dedup: hamming is a pure function of the
      // pair, so the dedup exchange only carries surviving candidates
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
    classes.unionByName(repPairs)
  }

  /** Synthetic grid PNGs with PLANTED near-duplicates — the image-dedup
    * analog of [[syntheticImagesFromDocs]]: each doc_id becomes a
    * grayscale PNG of 9×8 equal-valued blocks (block size 1–3 from
    * doc_id % 3 + 1, so [[dHash64]]'s downsample path is exercised at
    * three scales and is exact at all of them). Cell values come from
    * md5(base ':' blk) hex pairs — reproducible in any engine with md5.
    * Every doc_id ≡ 1 (mod 50) reuses the grid of doc_id − 1 with cell 0
    * luma flipped to 255 − v: a one-cell perturbation that moves at most
    * ONE gradient bit (cell 0 feeds only the (0,0)→(1,0) comparison), so
    * the planted pair is a guaranteed near-dup at Hamming ≤ 1 while
    * unrelated grids stay far apart — and, because cells are
    * arithmetically derivable from doc_id, the DuckDB oracle recomputes
    * the exact pair relation without decoding a single byte.
    */
  def syntheticGridImagesFromDocs(docs: DataFrame): DataFrame = {
    val idIdx = docs.schema.fieldIndex("doc_id")
    val out = StructType(Seq(
      StructField("media_id", docs.schema("doc_id").dataType),
      StructField("bytes", BinaryType)))
    docs.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(idIdx)
        val base = if (id % 50 == 1) id - 1 else id
        val cells = new Array[Int](72)
        var blk = 0
        while (blk < 5) {
          md.reset()
          val digest = md.digest(s"$base:$blk".getBytes("UTF-8"))
          var o = 0
          while (o < 16 && blk * 16 + o < 72) {
            cells(blk * 16 + o) = digest(o) & 0xff
            o += 1
          }
          blk += 1
        }
        if (id % 50 == 1) cells(0) = 255 - cells(0)
        val b = (id % 3 + 1).toInt
        val img = new java.awt.image.BufferedImage(
          9 * b, 8 * b, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 8 * b) {
          var x = 0
          while (x < 9 * b) {
            val v = cells((y / b) * 9 + x / b)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(r.get(idIdx), bos.toByteArray)
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Synthetic WebP containers from the documents fixture — REAL
    * RIFF/WEBP headers (the dominant crawl image format) whose every
    * field is arithmetic on doc_id, so the DuckDB oracle recomputes the
    * decode output without touching a byte while the engine walks the
    * actual container ([[decodeBytes]]'s WebP branch). Three variants
    * cycle by doc_id % 3:
    *   0 → VP8L lossless: 0x2f signature + 14-bit-packed (w−1, h−1),
    *       declared size 5 with the RIFF odd-size pad byte (26 bytes);
    *   1 → VP8 lossy: 3-byte frame tag + 0x9d 0x01 0x2a start code +
    *       14-bit LE dims (30 bytes);
    *   2 → VP8X animated canvas (flag 0x02, 24-bit LE w−1/h−1) followed
    *       by (doc_id % 5 + 1) empty ANMF chunks (30 + 8·frames bytes).
    * Dims: w = doc_id % 300 + 1, h = doc_id % 200 + 1 (inside 14 bits).
    */
  def syntheticWebpFromDocs(docs: DataFrame): DataFrame = {
    val idIdx = docs.schema.fieldIndex("doc_id")
    val out = StructType(Seq(
      StructField("media_id", docs.schema("doc_id").dataType),
      StructField("bytes", BinaryType)))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val w = (id % 300 + 1).toInt; val h = (id % 200 + 1).toInt
        val bos = new java.io.ByteArrayOutputStream()
        def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
        def u32le(v: Int): Unit = {
          bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
          bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
        }
        def u24le(v: Int): Unit = {
          bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
          bos.write((v >> 16) & 0xff)
        }
        (id % 3) match {
          case 0 => // VP8L
            tag("RIFF"); u32le(18); tag("WEBP")
            tag("VP8L"); u32le(5)
            bos.write(0x2f)
            u32le((w - 1) | ((h - 1) << 14))
            bos.write(0) // RIFF odd-size pad
          case 1 => // VP8 lossy
            tag("RIFF"); u32le(22); tag("WEBP")
            tag("VP8 "); u32le(10)
            bos.write(0); bos.write(0); bos.write(0) // frame tag
            bos.write(0x9d); bos.write(0x01); bos.write(0x2a)
            bos.write(w & 0xff); bos.write((w >> 8) & 0xff)
            bos.write(h & 0xff); bos.write((h >> 8) & 0xff)
          case _ => // VP8X animated
            val frames = (id % 5 + 1).toInt
            tag("RIFF"); u32le(22 + 8 * frames); tag("WEBP")
            tag("VP8X"); u32le(10)
            bos.write(0x02); bos.write(0); bos.write(0); bos.write(0)
            u24le(w - 1); u24le(h - 1)
            (0 until frames).foreach { _ => tag("ANMF"); u32le(0) }
        }
        Row(r.get(idIdx), bos.toByteArray)
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Synthetic compressed-audio containers from the documents fixture —
    * REAL FLAC / MP3 / OGG headers (the q_webp_decode discipline: the
    * engine walks actual container bytes, the oracle recomputes every
    * output from doc_id arithmetic without touching a byte). Variants
    * cycle by doc_id % 3, with k = doc_id / 3 driving the fields so
    * same-variant docs still differ:
    *   0 → FLAC: fLaC magic + last-flagged STREAMINFO (34 B) —
    *       rate = rateList(k % 7), channels = k % 2 + 1, bps 16,
    *       total samples = doc_id % 90000 + 1000; 42 bytes.
    *   1 → MP3: V1 Layer III frame header — bitrate index k % 5 + 1
    *       (32..64 kbps keeps the sf3 fixture lean; MultimodalSpec
    *       covers the full published table incl. V2/V2.5), samplerate
    *       index k % 3, mono when k % 2 = 1 — padded with zero bytes
    *       to EXACTLY (k % 2 + 1) seconds at the declared
    *       bitrate (bitrate·125·seconds bytes total, so the engine's
    *       bytes·8/bitrate estimate is oracle-exact); doc_id % 6 == 4
    *       prepends a 20-byte ID3v2 tag (10 header + 10 payload),
    *       pinning the syncsafe skip.
    *   2 → OGG: a BOS page whose single packet is the Vorbis
    *       identification header (rate = rateList(k % 7), channels =
    *       k % 2 + 1) + an EOS page with granule = doc_id % 50000 + 500
    *       (the total-sample contract); 58 + 29 = 87 bytes.
    */
  def syntheticAudioFormatsFromDocs(docs: DataFrame): DataFrame = {
    val idIdx = docs.schema.fieldIndex("doc_id")
    val out = StructType(Seq(
      StructField("media_id", docs.schema("doc_id").dataType),
      StructField("bytes", BinaryType)))
    val rateList = Array(8000, 16000, 22050, 24000, 32000, 44100, 48000)
    val v1l3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val k = id / 3
        val bos = new java.io.ByteArrayOutputStream()
        def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
        def u32le(v: Long): Unit = {
          bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
          bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
        }
        (id % 3) match {
          case 0 => // FLAC
            val rate = rateList((k % 7).toInt)
            val channels = (k % 2 + 1).toInt
            val samples = id % 90000 + 1000
            tag("fLaC")
            bos.write(0x80); bos.write(0); bos.write(0); bos.write(34)
            bos.write(0x10); bos.write(0); bos.write(0x10); bos.write(0) // blocksizes
            (0 until 6).foreach(_ => bos.write(0)) // frame sizes
            bos.write(rate >> 12)
            bos.write((rate >> 4) & 0xff)
            bos.write(((rate & 0xf) << 4) | ((channels - 1) << 1) | (15 >> 4))
            bos.write(((15 & 0xf) << 4) | ((samples >> 32) & 0xf).toInt)
            bos.write(((samples >> 24) & 0xff).toInt)
            bos.write(((samples >> 16) & 0xff).toInt)
            bos.write(((samples >> 8) & 0xff).toInt)
            bos.write((samples & 0xff).toInt)
            (0 until 16).foreach(_ => bos.write(0)) // MD5
          case 1 => // MP3
            val brIdx = (k % 5 + 1).toInt
            val srIdx = (k % 3).toInt
            val seconds = (k % 2 + 1).toInt
            val mono = k % 2 == 1
            if (id % 6 == 4) { // ID3v2 tag: 10-byte header + 10-byte payload
              tag("ID3"); bos.write(3); bos.write(0); bos.write(0)
              bos.write(0); bos.write(0); bos.write(0); bos.write(10)
              (0 until 10).foreach(_ => bos.write(0))
            }
            bos.write(0xff); bos.write(0xfb) // sync + V1 + Layer III
            bos.write((brIdx << 4) | (srIdx << 2))
            bos.write(if (mono) 0xc0 else 0x00)
            val total = v1l3(brIdx) * 125 * seconds // bitrate·1000/8 · s
            (0 until total - 4).foreach(_ => bos.write(0))
          case _ => // OGG: BOS page w/ Vorbis id header + EOS page
            val rate = rateList((k % 7).toInt)
            val channels = (k % 2 + 1).toInt
            val granule = id % 50000 + 500
            val serial = id % 100000
            tag("OggS"); bos.write(0); bos.write(0x02)
            u32le(0L); u32le(0L) // granule 0
            u32le(serial); u32le(0L); u32le(0L) // serial, seq, crc
            bos.write(1); bos.write(30) // one 30-byte segment
            bos.write(0x01); tag("vorbis")
            u32le(0L) // vorbis version
            bos.write(channels)
            u32le(rate.toLong)
            u32le(0L); u32le(0L); u32le(0L) // bitrates
            bos.write(0x66); bos.write(0x01) // blocksizes + framing
            tag("OggS"); bos.write(0); bos.write(0x04)
            u32le(granule & 0xffffffffL); u32le(granule >> 32)
            u32le(serial); u32le(1L); u32le(0L)
            bos.write(1); bos.write(1) // one 1-byte segment
            bos.write(0)
        }
        Row(r.get(idIdx), bos.toByteArray)
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Build a fake media table from the documents fixture: text bytes with
    * the `F!` fixture header prepended. Deterministic; exists so the
    * multimodal plumbing has SQL-derivable data to run against (the
    * real-format branches of [[decodeBytes]] are covered by byte-fixture
    * specs — this container ships no image/audio files).
    */
  def fakeMediaFromDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      // header: 'F','!', width(LE16)=n_chars, height(LE16)=64, frames(LE16)
      expr(
        """concat(
          |  unhex('4621'),
          |  unhex(lpad(hex(n_chars % 256), 2, '0')),
          |  unhex(lpad(hex(CAST(n_chars / 256 AS INT) % 256), 2, '0')),
          |  unhex('4000'),
          |  unhex(lpad(hex(n_chars % 7 + 1), 2, '0')),
          |  unhex('00'),
          |  encode(text, 'utf-8'))""".stripMargin).as("bytes"))
}
