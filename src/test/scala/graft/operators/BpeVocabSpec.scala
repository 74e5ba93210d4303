package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BpeVocabSpec extends SparkSpec {

  import spark.implicits._

  /** Single-node reference BPE over a (word -> count) map: the
    * textbook sequential algorithm, shared-nothing from the operator's
    * distributed path.
    */
  private def referenceBpe(counts: Map[String, Long],
      k: Int): Seq[(Int, String, String, Long)] = {
    var seg: Map[Vector[String], Long] = counts.map { case (w, c) =>
      (w.map(_.toString).toVector :+ BpeVocab.EndOfWord) -> c
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (i <- 1 to k) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      seg.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => pc((a, b)) = pc.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (pc.nonEmpty) {
        val ((a, b), c) = pc.toSeq.minBy { case ((x, y), n) => (-n, s"$x $y") }
        out += ((i, s"$a $b", a + b, c))
        seg = seg.map { case (syms, cnt) =>
          // left-to-right non-overlapping merge with the engine's
          // documented `replace` quirk: a match may not START at the
          // position right after a merge (its leading space was the
          // previous merge's consumed trailing space), so in
          // "a b a b" only the first occurrence merges this pass
          val res = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          var forbid = -1
          while (j < syms.length) {
            if (j + 1 < syms.length && j != forbid &&
                syms(j) == a && syms(j + 1) == b) {
              res += a + b; j += 2; forbid = j
            } else { res += syms(j); j += 1 }
          }
          res.toVector -> cnt
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select($"doc_id", $"text")

  test("distributed train == single-node reference BPE (8 merges, real corpus)") {
    val counts = BpeVocab.wordCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = referenceBpe(counts, 8)
    val got = BpeVocab.train(spark, docs, "text", 8)
      .orderBy($"rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    assert(got.size == 8)
    // partitioning-invariant: the learned vocabulary is a pure
    // function of the corpus
    val again = BpeVocab.train(spark, docs.repartition(13), "text", 8)
      .orderBy($"rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(again == got)
  }

  test("sequential training is prefix-stable: train(k) == train(K).take(k)") {
    // the q180 fertility-sweep contract: one training at the largest
    // dial serves every smaller dial by slicing the merge sequence —
    // exact because batchSize = 1 picks the global argmax one merge at
    // a time, so merge i is a function of merges 1..i-1 only, never of
    // numMerges
    val full = BpeVocab.collectMerges(BpeVocab.train(spark, docs, "text", 16))
    for (k <- Seq(2, 8)) {
      val small = BpeVocab.collectMerges(BpeVocab.train(spark, docs, "text", k))
      assert(small == full.take(k), s"prefix property broke at k=$k")
    }
  }

  /** Engine vs reference at `numMerges`, reporting the first diverging
    * rank instead of a full-trace dump.
    */
  private def trainMatchesReference(corpus: org.apache.spark.sql.DataFrame,
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    val counts = BpeVocab.wordCounts(corpus, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = referenceBpe(counts, numMerges)
    val got = BpeVocab.train(spark, corpus, "text", numMerges)
      .orderBy($"rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"first divergence at rank ${i + 1}: engine=$g reference=$e")
    }
    assert(got.size == expected.size,
      s"engine stopped at ${got.size}, reference at ${expected.size}")
    got
  }

  test("sf0.01 trains to pair exhaustion; == single-node reference the whole way") {
    // the synthetic sf tables draw from a ~100-word lexicon, so the
    // pair supply dries up near rank ~106 — the test pins that the
    // engine and reference agree merge-for-merge to EXHAUSTION and
    // that train stops gracefully rather than erroring (the
    // fully-merged single-symbol words are the sequence(1,0) edge)
    val big = Tables.documents(spark, "/root/testdata/sf0.01")
      .select($"doc_id", $"text")
    val got = trainMatchesReference(big, 512)
    assert(got.size >= 100, s"expected ~106 merges to exhaustion, got ${got.size}")
  }

  test("512-merge training: constant-depth plan on a wide-vocabulary corpus") {
    // the scale criterion: the per-merge replace chain this replaced
    // grew the plan one node per merge (O(V²) string work, JIT/codegen
    // blowup at real vocabulary sizes); the BpeApplyMerges kernel keeps
    // ONE plan node whatever the merge count, so 512 merges must both
    // finish and agree with the sequential single-node reference.
    // The sf tables' lexicon is too small to feed 512 merges, so the
    // corpus is a seeded synthetic one with ~8k word types.
    val rnd = new scala.util.Random(7)
    def word = {
      val n = 2 + rnd.nextInt(9)
      String.valueOf(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    val lexicon = Array.fill(8000)(word)
    // zipf-ish draw: low ids dominate, so pair counts are well spread
    val docs = Seq.tabulate(2000) { i =>
      val words = Seq.fill(40)(
        lexicon(math.min((8000 * math.pow(rnd.nextDouble(), 3)).toInt, 7999)))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val got = trainMatchesReference(docs, 512)
    assert(got.size == 512, s"train stopped early at ${got.size} merges")
    // the 512-rule model segments the corpus (one kernel node again)
    val seg = BpeVocab.segment(docs.limit(200), "text", "doc_id",
      got.map(m => (m._2, m._3)))
    assert(seg.filter($"n_bpe_tokens" > 0).count() == 200)
  }

  test("batched training: fewer rounds, argmax-first, near-sequential merge set, lossless segment") {
    // same seeded wide-vocabulary corpus as the 512-merge test: the sf
    // lexicon is too small for interesting batches
    val rnd = new scala.util.Random(7)
    def word = {
      val n = 2 + rnd.nextInt(9)
      String.valueOf(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    val lexicon = Array.fill(8000)(word)
    val corpus = Seq.tabulate(2000) { i =>
      val words = Seq.fill(40)(
        lexicon(math.min((8000 * math.pow(rnd.nextDouble(), 3)).toInt, 7999)))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

    val (seqDf, seqRounds) =
      BpeVocab.trainWithRounds(spark, corpus, "text", 64, batchSize = 1)
    val (batDf, batRounds) =
      BpeVocab.trainWithRounds(spark, corpus, "text", 64, batchSize = 8)
    def trace(df: org.apache.spark.sql.DataFrame) = df.orderBy($"rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val sq = trace(seqDf)
    val bt = trace(batDf)
    assert(sq.size == 64 && bt.size == 64)
    assert(bt.map(_._1) == (1 to 64), "batched ranks must stay contiguous")
    // the wall-clock claim: one aggregate per ROUND, not per merge
    assert(seqRounds == 64, s"sequential ran $seqRounds rounds")
    assert(batRounds <= 16, s"batched(8) ran $batRounds rounds for 64 merges")
    // round 1's first pick is the true global argmax by construction
    assert(bt.head == sq.head)
    // set divergence is real but bounded (sequential spends much of a
    // 64-merge budget on chained successor pairs that batching defers
    // a round; observed 38/64 on this deterministic corpus — pinned
    // with margin)
    val overlap = sq.map(_._2).toSet.intersect(bt.map(_._2).toSet).size
    assert(overlap >= 32, s"only $overlap/64 merges shared with sequential")
    // what actually matters for a tokenizer: the batched vocabulary
    // compresses the corpus nearly as well as the sequential one.
    // 64 merges is the WORST case for batching — every deferred
    // successor pair is a large fraction of the budget — and the
    // observed gap is 6.6% (463313 vs 434606); at 256 merges it is
    // 0.66% (one-off measured on this corpus), shrinking toward real
    // vocabulary sizes
    def totalTokens(m: org.apache.spark.sql.DataFrame) =
      BpeVocab.segment(corpus, "text", "doc_id", BpeVocab.collectMerges(m))
        .agg(sum($"n_bpe_tokens")).head().getLong(0)
    val (seqTok, batTok) = (totalTokens(seqDf), totalTokens(batDf))
    assert(batTok <= (seqTok * 1.10).toLong,
      s"batched vocab compresses to $batTok tokens vs sequential $seqTok")
    // a batched vocabulary is still a valid BPE model: segmentation
    // reconstructs the tokenization losslessly
    val seg = BpeVocab.segment(corpus.limit(100), "text", "doc_id",
      BpeVocab.collectMerges(batDf))
    val bad = seg.filter($"bpe_tokens".isNotNull)
      .withColumn("rebuilt",
        regexp_replace(concat_ws("", $"bpe_tokens"),
          java.util.regex.Pattern.quote(BpeVocab.EndOfWord), " "))
      .withColumn("expect",
        concat(concat_ws(" ",
          graft.functions.TextFunctions.tokens(lower($"text"))), lit(" ")))
      .filter(not($"rebuilt" === $"expect"))
    assert(bad.count() == 0, bad.select("doc_id").limit(5).collect().mkString(","))
  }

  test("segment: subwords concatenate back to the word; merged symbols appear; determinism") {
    val merges = BpeVocab.collectMerges(BpeVocab.train(spark, docs, "text", 8))
    val segged = BpeVocab.segment(docs, "text", "doc_id", merges).cache()
    try {
      // lossless: per doc, joining subwords and dropping the markers
      // reconstructs the lowercased tokenization
      val bad = segged.filter($"bpe_tokens".isNotNull)
        .withColumn("rebuilt",
          regexp_replace(concat_ws("", $"bpe_tokens"),
            java.util.regex.Pattern.quote(BpeVocab.EndOfWord), " "))
        .withColumn("expect",
          concat(concat_ws(" ",
            graft.functions.TextFunctions.tokens(lower($"text"))), lit(" ")))
        .filter(not($"rebuilt" === $"expect"))
      assert(bad.count() == 0, bad.select("doc_id").limit(5).collect().mkString(","))
      // the learned merges are actually used
      val mergedSyms = merges.map(_._2).toSet
      val used = segged.select(explode($"bpe_tokens").as("t"))
        .filter($"t".isin(mergedSyms.toSeq: _*)).count()
      assert(used > 0, "no merged symbol appears in any segmentation")
      // repartition-invariant
      val again = BpeVocab.segment(docs.repartition(13), "text", "doc_id", merges)
        .select($"doc_id", $"bpe_tokens").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val first = segged.select($"doc_id", $"bpe_tokens").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(again == first)
    } finally segged.unpersist()
  }
}
