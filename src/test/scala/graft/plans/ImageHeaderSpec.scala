package graft.plans

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class ImageHeaderSpec extends SparkSpec {

  import spark.implicits._

  // a real, complete 1x1 PNG (the canonical 68-byte transparent pixel)
  private val realPng: Array[Byte] = java.util.Base64.getDecoder.decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")

  private def jpegBytes(w: Int, h: Int, withEoi: Boolean): Array[Byte] = {
    def hx(s: String) = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val sof = hx("FFC0001108") ++
      Array(((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
        ((w >> 8) & 0xff).toByte, (w & 0xff).toByte) ++
      hx("03012200021101031101")
    hx("FFD8") ++ hx("FFE000104A46494600010100000100010000") ++ sof ++
      hx("FFDA0008010100003F00") ++ hx("ABCDEF") ++
      (if (withEoi) hx("FFD9") else Array.emptyByteArray)
  }

  private def gifBytes(w: Int, h: Int, withTrailer: Boolean): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++
      Array((w & 0xff).toByte, ((w >> 8) & 0xff).toByte,
        (h & 0xff).toByte, ((h >> 8) & 0xff).toByte, 0.toByte, 0.toByte, 0.toByte) ++
      (if (withTrailer) Array(0x3b.toByte) else Array.emptyByteArray)

  test("parse: real PNG, synthetic JPEG/GIF, truncation, garbage, null") {
    val p = ImageHeader.parse(realPng)
    assert(p == ImageHeader.Parsed("png", 1, 1, truncated = false))
    // PNG missing its IEND tail is truncated but still has dims
    assert(ImageHeader.parse(realPng.dropRight(12)) ==
      ImageHeader.Parsed("png", 1, 1, truncated = true))
    // PNG signature with a cut-off header: no dims, truncated
    assert(ImageHeader.parse(realPng.take(12)) ==
      ImageHeader.Parsed("png", -1, -1, truncated = true))

    assert(ImageHeader.parse(jpegBytes(640, 480, withEoi = true)) ==
      ImageHeader.Parsed("jpeg", 640, 480, truncated = false))
    assert(ImageHeader.parse(jpegBytes(640, 480, withEoi = false)) ==
      ImageHeader.Parsed("jpeg", 640, 480, truncated = true))
    // SOI + APP0 only (cut before any SOF): jpeg, no dims, truncated
    assert(ImageHeader.parse(jpegBytes(9, 9, withEoi = true).take(20)) ==
      ImageHeader.Parsed("jpeg", -1, -1, truncated = true))

    assert(ImageHeader.parse(gifBytes(320, 200, withTrailer = true)) ==
      ImageHeader.Parsed("gif", 320, 200, truncated = false))
    assert(ImageHeader.parse(gifBytes(320, 200, withTrailer = false)) ==
      ImageHeader.Parsed("gif", 320, 200, truncated = true))

    assert(ImageHeader.parse("just some text".getBytes("UTF-8")).format == "unknown")
    assert(ImageHeader.parse(Array[Byte](1, 2)).format == "unknown")
    assert(ImageHeader.parse(null).format == "unknown")
  }

  test("expression surface: struct fields, null propagation, codegen path") {
    val df = Seq(
      (1L, realPng),
      (2L, jpegBytes(1024, 768, withEoi = true)),
      (3L, gifBytes(12, 34, withTrailer = false)),
      (4L, "not an image".getBytes("UTF-8")),
      (5L, null.asInstanceOf[Array[Byte]]),
    ).toDF("id", "blob")
    val out = df.select($"id", Multimodal.imageHeader($"blob").as("hdr"))
      .select($"id", $"hdr.format", $"hdr.width", $"hdr.height", $"hdr.truncated")
      .orderBy($"id")
      .collect()
    assert(out(0).toSeq == Seq(1L, "png", 1, 1, false))
    assert(out(1).toSeq == Seq(2L, "jpeg", 1024, 768, false))
    assert(out(2).toSeq == Seq(3L, "gif", 12, 34, true))
    assert(out(3).toSeq == Seq(4L, "unknown", null, null, null))
    assert(out(4).toSeq == Seq(5L, null, null, null, null))
  }

  test("random fuzz: parse always terminates, never throws") {
    val rnd = new scala.util.Random(42)
    def hx(s: String) = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val prefixes = Seq(Array.emptyByteArray, hx("89504E470D0A1A0A"),
      hx("FFD8FF"), "GIF89a".getBytes("US-ASCII"))
    for (_ <- 1 to 2000) {
      val body = Array.fill[Byte](rnd.nextInt(64))(rnd.nextInt.toByte)
      ImageHeader.parse(prefixes(rnd.nextInt(prefixes.length)) ++ body)
    }
  }

  test("SQL registration: graft_image_header(blob)") {
    Seq((1L, realPng)).toDF("id", "blob").createOrReplaceTempView("ih_t")
    val r = spark.sql(
      "SELECT graft_image_header(blob).width AS w, graft_image_header(blob).format AS f FROM ih_t")
      .head()
    assert(r.getInt(0) == 1 && r.getString(1) == "png")
  }

  test("withMediaMeta: image containers decode for real; non-images keep the stub contract") {
    val df = Seq(
      (1L, realPng),
      (2L, jpegBytes(800, 600, withEoi = false)),
      (3L, "plain text bytes standing in for a blob".getBytes("UTF-8")),
    ).toDF("id", "blob")
    val out = Multimodal.withMediaMeta(spark, df, "blob", "image")
      .select($"id", $"media_meta.format", $"media_meta.width",
        $"media_meta.height", $"media_meta.is_corrupt")
      .orderBy($"id").collect()
    assert(out(0).toSeq == Seq(1L, "png", 1, 1, false))
    // truncated jpeg: real dims, flagged corrupt
    assert(out(1).toSeq == Seq(2L, "jpeg", 800, 600, true))
    // unknown container: stub path — fake dims, not corrupt (>= 8 bytes)
    assert(out(2).getString(1) == "unknown")
    assert(!out(2).getBoolean(4))
    assert(out(2).getInt(2) >= 160) // stub dimension range
  }
}
