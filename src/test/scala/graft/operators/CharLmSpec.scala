package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class CharLmSpec extends SparkSpec {

  import spark.implicits._

  private def hashes(s: String, k: Int): Seq[Long] = {
    val df = Seq(Tuple1(s)).toDF("t")
    df.select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.CharNgramHashes(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            col("t").cast("string")), k)).as("h"))
      .collect().head.getSeq[Long](0)
  }

  test("CharNgramHashes: windows are code points; hash == h60 of the substring") {
    // each window hash must equal h60 of the window string — the
    // contract that makes it md5(substr(...)) in DuckDB
    val s = "abcd"
    assert(hashes(s, 3) == Seq("abc", "bcd").map(graft.functions.AuditableHash.h60))
    assert(hashes(s, 2) == Seq("ab", "bc", "cd").map(graft.functions.AuditableHash.h60))
    // multi-byte code points count as ONE character each (é = 2 bytes,
    // 語 = 3 bytes, 😀 = 4 bytes / a surrogate PAIR in UTF-16 — code
    // point semantics must not split it)
    val u = "é語😀x"
    assert(hashes(u, 2) ==
      Seq("é語", "語😀", "😀x").map(graft.functions.AuditableHash.h60))
    // shorter than k → empty; k == length → one window
    assert(hashes("ab", 3).isEmpty)
    assert(hashes("ab", 2) == Seq(graft.functions.AuditableHash.h60("ab")))
    assert(hashes("", 1).isEmpty)
  }

  test("CharLmScore kernel == the composed per-window sum; NULL/short contracts") {
    val w3 = IndexedSeq.tabulate(64)(b => (b * 37 % 101) - 50L)
    val w2 = IndexedSeq.tabulate(32)(b => (b * 13 % 53) - 26L)
    def reference(s: String): Long = {
      val cps = s.codePoints().toArray
      (0 to cps.length - 3).map { i =>
        val t3 = new String(cps, i, 3)
        val t2 = new String(cps, i, 2)
        w3((graft.functions.AuditableHash.h60(t3) % 64).toInt) -
          w2((graft.functions.AuditableHash.h60(t2) % 32).toInt)
      }.sum
    }
    val docs = Seq("hello world", "aé語😀bé", "xy", "", "  a  ")
    val got = docs.map(Tuple1(_)).toDF("t")
      .select(col("t"), org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.CharLmScore(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            col("t").cast("string")), w3, w2)).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    docs.foreach(d => assert(got(d) == reference(d), s"doc '$d'"))
    assert(got("xy") == 0L, "< 3 chars scores 0")
    // NULL text → NULL
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("t")
      .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.CharLmScore(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            col("t").cast("string")), w3, w2)).as("s"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("fit + score: clean text outscores mojibake/gibberish per window") {
    val clean = (0 until 30).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog number $i"))
    val curated = clean.toDF("doc_id", "text")
    val model = CharLm.fit(curated, "text", dim3 = 2048, dim2 = 2048)
    val probe = Seq(
      (100L, "the quick brown dog jumps over the lazy fox"), // in-domain
      (101L, "q9Ã¼Ã¶zq xq9Ã¼j wÃ¶zq9 qjx zwq Ã¼9 qxjz")     // mojibake
    ).toDF("doc_id", "text")
    val got = CharLm.score(probe, "text", model)
      .select($"doc_id", expr("lm_score div n_tri").as("avg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(100L) > got(101L),
      s"clean text must average higher log-prob: $got")
  }

  test("perplexityBuckets: terciles match the driver-side reference; edge docs routed") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (100001L, "ab"),                      // unjudgeable → tail, NULL avg
        (100002L, null.asInstanceOf[String])  // NULL → NULL bucket
      ).toDF("doc_id", "text"))
    val model = CharLm.fit(docs.filter($"doc_id" % 10 === 0), "text")
    val got = CharLm.perplexityBuckets(docs, "text", "doc_id", model)
      .select($"doc_id", $"lm_avg", $"ppl_bucket")
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.toString.toLong), Option(r.getString(2))))
      .toMap
    assert(got(100001L) == (None, Some("tail")))
    assert(got(100002L) == (None, None))
    // reference terciles from a driver-side sort
    val ranked = got.toSeq
      .collect { case (id, (Some(avg), _)) => (id, avg) }
      .sortBy { case (id, avg) => (-avg, id) }
    val n = ranked.length
    ranked.zipWithIndex.foreach { case ((id, _), idx) =>
      val expect = if (idx + 1 <= n / 3) "head"
        else if (idx + 1 <= 2 * n / 3) "middle" else "tail"
      assert(got(id)._2.contains(expect),
        s"doc $id rank ${idx + 1}/$n: expected $expect, got ${got(id)._2}")
    }
    // the split is balanced: |head| = n/3, |middle| = n/3 (±rounding)
    val sizes = got.values.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    assert(sizes("head") == n / 3)
    assert(sizes("middle") == 2 * n / 3 - n / 3)
  }

  test("CharLmScoreMulti == N single-model kernels on real text + edges") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val m1 = CharLm.fit(docs.filter($"doc_id" % 3 === 0), "text", 256, 256)
    val m2 = CharLm.fit(docs.filter($"doc_id" % 3 === 1), "text", 256, 256)
    val multi = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CharLmScoreMulti(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          lower($"text").cast("string")),
        Seq(m1.w3, m2.w3), Seq(m1.w2, m2.w2)))
    // element k of the multi kernel == the single-model kernel
    val single1 = CharLm.score(docs, "text", m1)
      .select($"doc_id", $"lm_score").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val single2 = CharLm.score(docs, "text", m2)
      .select($"doc_id", $"lm_score").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    docs.withColumn("m", multi).select($"doc_id", $"m").collect().foreach { r =>
      val id = r.getLong(0)
      val m = Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Long]])
      assert(m.map(_.head) == single1(id), s"doc $id model 1")
      assert(m.map(_.last) == single2(id), s"doc $id model 2")
    }
  }

  test("classifyLanguage: separable alphabets recover perfectly held-out; edge docs und") {
    // the harness corpus's lang labels are random over identical
    // vocabulary (no char-level signal), so accuracy is asserted on a
    // SEPARABLE fixture: three languages over disjoint alphabets
    val alphabets = Seq(
      "la" -> "abcdef", "lb" -> "ghijkl", "lc" -> "tuvwxy")
    def word(alpha: String, seed: Int): String =
      (0 until 5).map(i => alpha((seed * 31 + i * 7) % alpha.length)).mkString
    val docs = (for {
      ((lang, alpha), li) <- alphabets.zipWithIndex
      d <- 0 until 40
    } yield ((li * 40 + d).toLong, lang,
      (0 until 12).map(w => word(alpha, d * 13 + w)).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val models = alphabets.map { case (l, _) =>
      l -> CharLm.fit(
        docs.filter($"lang" === l && $"doc_id" % 2 === 0), "text", 512, 512)
    }
    val out = CharLm.classifyLanguage(docs, "text", models).cache()
    val held = out.filter($"doc_id" % 2 === 1)
    assert(held.count() > 0)
    assert(held.filter($"lid_pred" =!= $"lang").count() == 0,
      "disjoint alphabets must classify perfectly")
    // und edges: short / NULL / empty text never gets a language
    val edge = CharLm.classifyLanguage(
      Seq((1L, "ab"), (2L, null.asInstanceOf[String]), (3L, "")).toDF("doc_id", "text"),
      "text", models)
    assert(edge.filter($"lid_pred" === "und").count() == 3)
    assert(edge.filter($"lid_avg".isNotNull).count() == 0)
    out.unpersist()
  }

  test("fitMany == per-slice fit for every group") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text", $"lang")
    val many = CharLm.fitMany(docs, "text", "lang", 512, 512)
    assert(many.nonEmpty)
    many.foreach { case (g, m) =>
      val single = CharLm.fit(docs.filter($"lang" === g), "text", 512, 512)
      assert(m.w3 == single.w3 && m.w2 == single.w2, s"group $g drifted")
    }
  }

  test("fitMany: driver budget breach fails loudly, not as an OOM") {
    import spark.implicits._
    // 1000 groups of short text: cells ≈ groups × distinct buckets —
    // far over a 100-cell budget, and the failure must name the knob
    val many = (0 until 1000).map(i => (s"g$i", "abcdef")).toDF("grp", "text")
    val e = intercept[IllegalArgumentException] {
      CharLm.fitMany(many, "text", "grp", dim3 = 64, dim2 = 64, maxCells = 100)
    }
    assert(e.getMessage.contains("maxCells"), e.getMessage)
    // the same corpus fits fine under the default budget
    val ok = CharLm.fitMany(many.filter($"grp".isin("g0", "g1")), "text", "grp",
      dim3 = 64, dim2 = 64)
    assert(ok.keySet == Set("g0", "g1"))
  }

  test("SQL registration: graft_char_ngrams(text, k)") {
    val got = spark.sql(
      "SELECT graft_char_ngrams('abc', 2) AS h").collect().head.getSeq[Long](0)
    assert(got == Seq("ab", "bc").map(graft.functions.AuditableHash.h60))
  }
}
