package graft.plans

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class AvHeaderSpec extends SparkSpec {

  import spark.implicits._

  private def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def be32(v: Int) = Array(((v >> 24) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def ascii(s: String) = s.getBytes("US-ASCII")

  /** A complete PCM WAV: `ch` channels at `rate` Hz, 16-bit, `ds` data
    * bytes (optionally padded short to model truncation).
    */
  private def wavBytes(ch: Int, rate: Int, ds: Int, actualData: Int): Array[Byte] = {
    val br = ch * rate * 2
    ascii("RIFF") ++ le32(36 + ds) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(ch) ++ le32(rate) ++
      le32(br) ++ le16(ch * 2) ++ le16(16) ++
      ascii("data") ++ le32(ds) ++ Array.fill[Byte](actualData)(0)
  }

  private def mp4Bytes(timescale: Int, units: Int, mdatClaim: Int,
      mdatActual: Int): Array[Byte] =
    be32(16) ++ ascii("ftyp") ++ ascii("isom") ++ be32(0) ++
      be32(36) ++ ascii("moov") ++
      be32(28) ++ ascii("mvhd") ++ be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(units) ++
      be32(mdatClaim) ++ ascii("mdat") ++ Array.fill[Byte](mdatActual)(0)

  test("parse: WAV fmt/data algebra, MP4 mvhd, truncation, garbage, null") {
    // 2ch 16kHz 16-bit, 64000 data bytes -> 64000*1000/64000 = 1000 ms
    assert(AvHeader.parse(wavBytes(2, 16000, 64000, 64000)) ==
      AvHeader.Parsed("wav", 2, 16000, 1000L, truncated = false))
    // headers promise 64000 data bytes, stream carries half
    assert(AvHeader.parse(wavBytes(2, 16000, 64000, 32000)) ==
      AvHeader.Parsed("wav", 2, 16000, 1000L, truncated = true))
    // odd data size exercises the word-alignment pad in the chunk walk
    assert(AvHeader.parse(wavBytes(1, 8000, 16001, 16002)) ==
      AvHeader.Parsed("wav", 1, 8000, 1000L, truncated = false))
    // RIFF signature but no WAVE/fmt: no fields, truncated
    assert(AvHeader.parse(ascii("RIFF") ++ le32(100) ++ ascii("WAVE")) ==
      AvHeader.Parsed("wav", -1, -1, -1L, truncated = true))

    // timescale 600, 1800 units -> 3000 ms
    assert(AvHeader.parse(mp4Bytes(600, 1800, 16, 8)) ==
      AvHeader.Parsed("mp4", -1, -1, 3000L, truncated = false))
    // mdat promises 1000 bytes, carries 4
    assert(AvHeader.parse(mp4Bytes(600, 1800, 1000, 4)) ==
      AvHeader.Parsed("mp4", -1, -1, 3000L, truncated = true))
    // ftyp only, no moov: mp4, no duration, truncated
    assert(AvHeader.parse(be32(16) ++ ascii("ftyp") ++ ascii("isom") ++ be32(0)) ==
      AvHeader.Parsed("mp4", -1, -1, -1L, truncated = true))
    // mvhd VERSION 1: 64-bit times — timescale at +16, u64 duration at
    // +20 of the post-version payload (box: 8 hdr + 4 ver + 8+8 times +
    // 4 ts + 8 dur = 40)
    val mvhdV1 = be32(40) ++ ascii("mvhd") ++
      Array[Byte](1, 0, 0, 0) ++ // version 1 + flags
      be32(0) ++ be32(0) ++ be32(0) ++ be32(0) ++ // ctime, mtime (u64 each)
      be32(90000) ++ be32(0) ++ be32(270000) // timescale; u64 duration
    val v1 = be32(16) ++ ascii("ftyp") ++ ascii("isom") ++ be32(0) ++
      be32(48) ++ ascii("moov") ++ mvhdV1
    assert(AvHeader.parse(v1) ==
      AvHeader.Parsed("mp4", -1, -1, 3000L, truncated = false))

    assert(AvHeader.parse("not media at all".getBytes("UTF-8")).format == "unknown")
    assert(AvHeader.parse(null).format == "unknown")
  }

  test("adversarial sizes and random fuzz: parse always terminates, never throws") {
    // 32-bit sizes near 4G are positive Longs but negative Ints — an
    // un-clamped narrowing would walk the chunk/box cursor backwards
    // forever (the classic parser DoS on untrusted corpus blobs)
    def le32raw(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val hugeWav = ascii("RIFF") ++ le32(100) ++ ascii("WAVE") ++
      ascii("junk") ++ le32raw(0xFFFFFFFFL) ++ Array.fill[Byte](16)(0)
    assert(AvHeader.parse(hugeWav).format == "wav") // terminates
    val negWav = ascii("RIFF") ++ le32(100) ++ ascii("WAVE") ++
      ascii("junk") ++ le32raw(0x80000007L) ++ Array.fill[Byte](16)(0)
    assert(AvHeader.parse(negWav).format == "wav")
    val hugeMp4 = be32(16) ++ ascii("ftyp") ++ ascii("isom") ++ be32(0) ++
      Array[Byte](0x90.toByte, 0, 0, 0) ++ ascii("mdat") ++ Array.fill[Byte](8)(0)
    assert(AvHeader.parse(hugeMp4) ==
      AvHeader.Parsed("mp4", -1, -1, -1L, truncated = true))
    // moov child with a huge size: inner walk must clamp too
    val hugeChild = be32(16) ++ ascii("ftyp") ++ ascii("isom") ++ be32(0) ++
      be32(24) ++ ascii("moov") ++
      Array[Byte](0x90.toByte, 0, 0, 0) ++ ascii("free") ++ be32(0) ++ be32(0)
    assert(AvHeader.parse(hugeChild).format == "mp4")
    // deterministic byte-soup fuzz across both parsers, seeded with
    // magic prefixes so the format branches actually execute
    val rnd = new scala.util.Random(42)
    val prefixes = Seq(Array.emptyByteArray,
      ascii("RIFF"), ascii("RIFF") ++ le32(1000) ++ ascii("WAVE"),
      be32(16) ++ ascii("ftyp"))
    for (_ <- 1 to 2000) {
      val body = Array.fill[Byte](rnd.nextInt(64))(rnd.nextInt.toByte)
      val bytes = prefixes(rnd.nextInt(prefixes.length)) ++ body
      AvHeader.parse(bytes) // must return, whatever the bytes
    }
  }

  test("SQL registration: graft_av_header(blob)") {
    Seq((1L, wavBytes(2, 16000, 64000, 64000))).toDF("id", "blob")
      .createOrReplaceTempView("av_t")
    val r = spark.sql(
      "SELECT graft_av_header(blob).duration_ms AS d, graft_av_header(blob).format AS f FROM av_t")
      .head()
    assert(r.getLong(0) == 1000L && r.getString(1) == "wav")
  }

  test("expression surface + withMediaMeta: real WAV/MP4 duration, stub elsewhere") {
    val df = Seq(
      (1L, wavBytes(2, 16000, 64000, 64000)),
      (2L, mp4Bytes(600, 3000, 16, 8)),
      (3L, "plain text".getBytes("UTF-8")),
    ).toDF("id", "blob")
    val out = df.select($"id", Multimodal.avHeader($"blob").as("h"))
      .select($"id", $"h.format", $"h.channels", $"h.sample_rate",
        $"h.duration_ms", $"h.truncated")
      .orderBy($"id").collect()
    assert(out(0).toSeq == Seq(1L, "wav", 2, 16000, 1000L, false))
    assert(out(1).toSeq == Seq(2L, "mp4", null, null, 5000L, false))
    assert(out(2).toSeq == Seq(3L, "unknown", null, null, null, null))

    val meta = Multimodal.withMediaMeta(spark, df, "blob", "audio")
      .select($"id", $"media_meta.format", $"media_meta.duration_ms",
        $"media_meta.is_corrupt")
      .orderBy($"id").collect()
    assert(meta(0).toSeq == Seq(1L, "riff", 1000L, false))
    assert(meta(1).toSeq == Seq(2L, "mp4", 5000L, false))
    // unknown container keeps the stub's fake duration (non-zero for audio)
    assert(meta(2).getString(1) == "unknown" && meta(2).getLong(2) >= 1000L)
  }
}
