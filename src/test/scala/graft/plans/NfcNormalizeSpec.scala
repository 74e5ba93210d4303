package graft.plans

import graft.SparkSpec
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._

class NfcNormalizeSpec extends SparkSpec {

  import spark.implicits._

  private val combining = "café Å ö" // acute, ring, diaeresis
  private val composed = "café Å ö"

  test("compute: composes combining marks; identity (no copy) on normalized text") {
    import org.apache.spark.unsafe.types.UTF8String
    assert(NfcNormalize.compute(UTF8String.fromString(combining)).toString == composed)
    val already = UTF8String.fromString(composed)
    assert(NfcNormalize.compute(already) eq already) // no-copy fast path
    assert(NfcNormalize.compute(UTF8String.fromString("plain")).toString == "plain")
    // idempotent
    assert(NfcNormalize.compute(UTF8String.fromString(composed)).toString == composed)
  }

  test("column surface: normalization changes dedup identity exactly as intended") {
    val df = Seq(
      (1L, combining), (2L, composed), (3L, "plain"), (4L, null.asInstanceOf[String]),
    ).toDF("id", "text")
    val out = df.select($"id", T.normalizeNfc($"text").as("nfc"),
        length($"text").as("raw_len"), length(T.normalizeNfc($"text")).as("nfc_len"))
      .orderBy($"id").collect()
    assert(out(0).getString(1) == composed)
    assert(out(0).getInt(2) == 11 && out(0).getInt(3) == 8) // 3 marks composed away
    assert(out(1).getString(1) == composed)
    assert(out(2).getString(1) == "plain")
    assert(out(3).isNullAt(1))
    // the motivating property: the two encodings of the same visible
    // text fingerprint identically AFTER normalization, not before
    val fps = df.filter($"id" <= 2)
      .select(T.contentFingerprint($"text").as("raw_fp"),
        T.contentFingerprint(T.normalizeNfc($"text")).as("nfc_fp"))
      .collect()
    assert(fps(0).getString(0) != fps(1).getString(0),
      "un-normalized encodings must differ (or the test proves nothing)")
    assert(fps(0).getString(1) == fps(1).getString(1),
      "normalized encodings must fingerprint identically")
  }

  test("SQL registration: graft_nfc(text)") {
    Seq((1L, combining)).toDF("id", "text").createOrReplaceTempView("nfc_t")
    assert(spark.sql("SELECT graft_nfc(text) AS n FROM nfc_t").head().getString(0)
      == composed)
  }
}
