package graft.operators

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction at corpus scale — the
  * tokenizer-training step of an LLM data pipeline (Sennrich et al.
  * 2016's subword BPE, the algorithm behind the GPT-2/RoBERTa-family
  * vocabularies). Given a corpus, learn the `numMerges`
  * highest-frequency symbol merges; given the learned merges, segment
  * text into subword tokens.
  *
  * Scale shape — the corpus is touched ONCE: [[wordCounts]] collapses
  * it to the word-TYPE table `(word, cnt)` (one tokenize + one hash
  * aggregate — at 100 TB the type table is millions of rows where the
  * corpus is trillions of tokens, the classic type/token gap that
  * makes BPE training tractable). Every merge iteration is then one
  * aggregate over the type table: explode each word's CURRENT
  * segmentation into adjacent symbol pairs weighted by `cnt`, pick the
  * global argmax (a 1-row driver action per iteration — the bounded
  * IvfIndex-codebook discipline), and apply the merge as a narrow
  * `replace` on the segmentation column. `numMerges` iterations =
  * `numMerges` aggregates over the type table, never a second corpus
  * pass — and [[train]]'s `batchSize` collapses that to
  * ~`numMerges / batchSize` aggregates by learning a round's top
  * symbol-disjoint pairs together (exact at `batchSize = 1`; the
  * batched divergence contract is on [[train]]).
  *
  * Determinism (what makes q100 oracle-exact): ties in pair frequency
  * break on the pair string ascending; the segmentation is the
  * space-delimited symbol string `" c1 c2 … </w> "` and merge
  * application is standard left-to-right non-overlapping string
  * replace — bit-identical in Spark and DuckDB. Vocabulary admits
  * `^[a-z]+$` word types of the lowercased tokenization (BPE trainers
  * normalize; out-of-alphabet tokens pass through [[segment]]
  * unsplit), so the char-exploding regex never meets a multi-byte
  * codepoint and the two engines' regex semantics cannot diverge.
  *
  * Merge application is ONE plan node whatever the merge count:
  * [[graft.plans.BpeApplyMerges]] applies the accumulated ranked list
  * per evaluation (rank-heap inside, O(word²) per word independent of
  * vocabulary size), replacing the earlier per-merge
  * `withColumn(replace…)` chain whose plan depth, serialized lineage,
  * and re-evaluated string work all grew linearly per merge — the
  * O(V²) shape that capped training at demo scale. BpeVocabSpec
  * trains 512 merges at sf0.01 under this form; q100/q101's 8-merge
  * oracles are unchanged (BpeApplySpec proves the kernel ==
  * replace-chain differentially).
  *
  * Divergence from reference (Sennrich et al. 2016) BPE, deliberate:
  * a merge pass is ONE non-overlapping left-to-right `replace`, so in
  * `" a b a b "` the second occurrence's leading space is the first's
  * consumed trailing space and only the first merges in that pass
  * (the pair can then win a later iteration again). Reference BPE
  * (regex sub with lookaround) merges all non-overlapping occurrences
  * per pass. Spark and DuckDB agree exactly — that is what keeps the
  * oracles hash-exact — but a model trained HERE segments
  * repeated-pair words slightly differently than a Sennrich-trained
  * model would, and vice versa; import external vocabularies with
  * that in mind.
  */
object BpeVocab {

  /** End-of-word marker symbol (its own symbol in every segmentation,
    * as in the original BPE formulation — lets merges distinguish
    * word-final from word-internal contexts).
    */
  val EndOfWord = "</w>"

  /** The word-type table `(word, cnt)` — the ONE corpus pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(T.tokens(lower(col(textCol)))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial segmentation column: `" c1 c2 … cn </w> "`. */
  private def initialSeg(word: org.apache.spark.sql.Column) =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "), lit(EndOfWord + " "))

  /** Adjacent-pair counts of the current segmentations, weighted by
    * word count: `(p = "a b", c)`.
    */
  private def pairCounts(seg: DataFrame): DataFrame =
    seg.select(col("cnt"), split(trim(col("s")), " ").as("l"))
      // fully-merged words (one symbol) have no pairs — and
      // sequence(1, 0) would DESCEND [1, 0], not produce empty
      .filter(size(col("l")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "j -> concat(element_at(l, j), ' ', element_at(l, j + 1)))")).as("p"))
      .groupBy("p").agg(sum(col("cnt")).as("c"))

  /** Learn the top `numMerges` merges. Returns `(rank, pair, merged,
    * cnt)` — rank 1-based in learned order, `pair` the space-joined
    * symbol pair, `merged` its concatenation, `cnt` the pair's
    * weighted frequency AT MERGE TIME (the training trace, so two runs
    * are comparable merge-by-merge). Stops early if no pair is left
    * (fully merged vocabulary).
    *
    * `batchSize` is the wall-clock lever for real vocabularies: the
    * default 1 is EXACT Sennrich BPE (one aggregate over the type
    * table per merge — at 32k merges that is 32k sequential Spark
    * jobs, hours of scheduler overhead whatever the data size).
    * Measured (one-off, 16k-type corpus, local[32]): 512 merges in
    * 83.8 s sequential vs 6.4 s at `batchSize = 16` (45 rounds) —
    * 13×, and the per-round cost is flat, so a 32k-merge vocabulary
    * drops from hours to minutes.
    * `batchSize = k` learns up to k merges per aggregate by greedy
    * selection down the round's frequency ranking, admitting a pair
    * only if its two symbols AND its merged output are disjoint from
    * every symbol already selected this round: merges over disjoint
    * symbols commute, and each admitted pair's observed count is
    * still its true count when its turn comes (a merge only perturbs
    * pair counts adjacent to its own symbols). The round's first pair
    * is always admissible, so progress — and the exact global argmax
    * as the next merge — is guaranteed every round.
    *
    * Approximation contract, documented rather than hidden: batching
    * is exact UNLESS a pair CREATED by an earlier in-batch merge
    * (e.g. `("ab", c)` after `(a, b) → ab`) would have out-ranked a
    * later in-batch selection at its sequential turn — those pairs
    * don't exist in the round's count table, so the greedy pass
    * cannot see them. They are never lost, only delayed to the next
    * round's table; the learned merge SET can differ slightly in
    * membership and order from `batchSize = 1` (the standard trade of
    * every batched BPE trainer — and unavoidable beyond the first
    * pick, since a merge's successor pair inherits its full count and
    * its merged symbol, so it both out-ranks the round's later picks
    * and conflicts with its own creator). BpeVocabSpec pins what DOES
    * hold: `batchSize = 1` equals the single-node reference
    * merge-for-merge, each batched round's first pick is the true
    * global argmax, round count ≈ numMerges / batchSize, the batched
    * vocabulary compresses the corpus within a few percent of the
    * sequential one at equal size, and segmentation under it remains
    * lossless.
    *
    * `batchSize` must be at least 1; every SparkEntry query (q100,
    * q101, q180) trains at the exact default.
    */
  def train(spark: SparkSession, docs: DataFrame, textCol: String,
      numMerges: Int, batchSize: Int = 1): DataFrame =
    trainWithRounds(spark, docs, textCol, numMerges, batchSize)._1

  /** [[train]] plus the number of aggregate rounds it ran — the
    * observable the batching spec locks (`private[graft]`: rounds are
    * a scheduling detail, not part of the model artifact).
    */
  private[graft] def trainWithRounds(spark: SparkSession, docs: DataFrame,
      textCol: String, numMerges: Int, batchSize: Int = 1): (DataFrame, Int) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val w = wordCounts(docs, textCol)
    // the type table materializes ONCE; each iteration re-reads this
    // cache through a single [[graft.plans.BpeApplyMerges]] node
    // carrying the merges learned so far — constant plan depth, so no
    // lineage checkpointing is needed even at 32k merges (the kernel's
    // rank-heap makes the per-row cost independent of the list length)
    val seg0 = w.withColumn("s", initialSeg(col("word"))).cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rounds = 0
    try {
      var done = false
      while (merges.size < numMerges && !done) {
        val k = math.min(batchSize, numMerges - merges.size)
        // candidate window: conflicts skip down the ranking, so fetch
        // a few × k (bounded driver collect — the IvfIndex-codebook
        // discipline; an under-filled round just runs one more round)
        // 16× window: symbol conflicts concentrate in the head of the
        // ranking (hot symbols own the top pairs), so a narrow window
        // saturates well short of k admitted — measured at 32k merges /
        // k=512: 4× fetched ran 465 rounds (~70 admitted/round), 16×
        // runs far fewer for a still-bounded 8k-row collect
        val fetch = math.max(16 * k, 8)
        val top = pairCounts(applyMerges(seg0,
            merges.map(m => (m._2, m._3)).toSeq))
          .orderBy(col("c").desc, col("p").asc).limit(fetch).collect()
        rounds += 1
        if (top.isEmpty) done = true
        else {
          val touched = scala.collection.mutable.Set.empty[String]
          var selected = 0
          var j = 0
          while (j < top.length && selected < k) {
            val pair = top(j).getString(0)
            val sp = pair.indexOf(' ')
            val x = pair.substring(0, sp)
            val y = pair.substring(sp + 1)
            val merged = x + y
            if (!touched(x) && !touched(y) && !touched(merged)) {
              merges += ((merges.size + 1, pair, merged, top(j).getLong(1)))
              touched += x; touched += y; touched += merged
              selected += 1
            }
            j += 1
          }
        }
      }
      import spark.implicits._
      (merges.toSeq.toDF("rank", "pair", "merged", "cnt"), rounds)
    } finally seg0.unpersist()
  }

  /** `seg` with the ranked `merges` applied to its `s` column — one
    * [[graft.plans.BpeApplyMerges]] node (no-op passthrough for an
    * empty list).
    */
  private def applyMerges(seg: DataFrame, merges: Seq[(String, String)]): DataFrame =
    if (merges.isEmpty) seg
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      seg.withColumn("s", ColumnBridge.column(
        graft.plans.BpeApplyMerges(ColumnBridge.expression(col("s")), merges)))
    }

  /** Collected merge rules in rank order — the bounded model artifact
    * (`numMerges` rows) [[segment]] embeds in its plan.
    */
  def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy(col("rank")).select("pair", "merged").collect()
      .map(r => r.getString(0) -> r.getString(1)).toIndexedSeq

  /** Segment text with learned merges: `df` + `bpe_tokens`
    * (array<string>) + `n_bpe_tokens`. The distributed shape mirrors
    * training: distinct word TYPES segment once (the ranked replace
    * chain runs over the type table, not the corpus), then the
    * corpus's tokens join the type→subwords map and re-assemble in
    * position order — one explode, one join (broadcast when the
    * vocabulary is small), one doc-id aggregate. Out-of-alphabet
    * tokens pass through as single unsplit symbols.
    */
  def segment(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(T.tokens(lower(col(textCol)))).as(Seq("pos", "word")))
    val types = toks.select(col("word")).distinct()
      .withColumn("s",
        when(col("word").rlike("^[a-z]+$"), initialSeg(col("word")))
          // out-of-alphabet: one unsplit symbol + the marker (symbol
          // boundaries are spaces, so no learned [a-z] pair can match)
          .otherwise(concat(lit(" "), col("word"), lit(" " + EndOfWord + " "))))
    val segged = applyMerges(types, merges)
      .select(col("word"), split(trim(col("s")), " ").as("subwords"))
    toks.join(segged, Seq("word"))
      .groupBy(col(idCol))
      .agg(flatten(array_sort(collect_list(struct(col("pos"), col("subwords"))))
        .getField("subwords")).as("bpe_tokens"))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
      .join(df, Seq(idCol), "right")
  }
}
