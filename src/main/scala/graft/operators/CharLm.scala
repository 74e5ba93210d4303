package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Character-n-gram language-model perplexity gate — the CCNet quality
  * stage (Wenzek et al. 2019: score every crawled document with a
  * language model trained on a curated corpus, split the crawl into
  * head / middle / tail perplexity terciles, keep the head). Where the
  * classifier ([[QualityModel]]) and DSIR ([[Dsir]]) rank documents by
  * WORD features, the char-LM catches what word models can't see —
  * mojibake, encoding damage, gibberish, wrong-language text — because
  * a trigram model trained on clean text assigns such strings
  * vanishingly small probability.
  *
  * The model is a hashed add-one-smoothed character-trigram LM:
  * `p̂(c | ab) = (ct3[h(abc)] + 1) / (ct2[h(ab)] + d3)`, fit from two
  * bucket-count aggregates over the curated slice (each shuffles ≤ dim
  * rows; the collects are the operator's documented 2×dim driver
  * budget). Scoring embeds both fixed-point log-weight vectors in ONE
  * native codegen kernel ([[graft.plans.CharLmScore]]) — the
  * code-point walk runs once for both window sizes, no explode, no
  * join, a pure narrow map over the corpus scan. Terciles use the
  * windowless global rank ([[Dsir.globalRank]]).
  *
  * Everything is exact integer arithmetic on the [[Dsir.log2Fp]]
  * fixed-point log2, so the q115 DuckDB oracle re-derives the model,
  * the scores, AND the tercile assignment hash-exactly.
  */
object CharLm {

  /** A fitted hashed char-LM: `w3[b] = log2fp(ct3[b]+1)`,
    * `w2[b] = log2fp(ct2[b]+dim3)` — a document's kernel score is then
    * `Σ log2 p̂` in 2^-10 units (≤ 0 for any window the smoothing
    * dominates; magnitudes grow with document length, which is why
    * ranking uses the per-window mean).
    */
  final case class Model(w3: IndexedSeq[Long], w2: IndexedSeq[Long]) {
    require(w3.nonEmpty && w2.nonEmpty, "model dims must be >= 1")
  }

  private def charNgrams(text: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CharNgramHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          text.cast("string")), k))

  /** BOTH n-gram orders' bucket tags off one row — the one-scan fit
    * column (r15): each row explodes its 3- and 2-char window hashes
    * tagged by order, so ONE aggregate pass serves both count tables.
    * The per-(k, bucket) counts are identical to one
    * `explode(charNgrams(_, k)) % dim` aggregate per order (the struct
    * tagging does not change either window multiset); what the fusion
    * removes is the SECOND scan of the input — which for the
    * perplexity fit includes re-running the upstream LID-restriction
    * kernel over the sample.
    */
  private def taggedNgrams(textCol: String, dim3: Int, dim2: Int): Column = {
    val t = lower(col(textCol))
    explode(concat(
      transform(charNgrams(t, 3),
        h => struct((h % dim3).as("bucket"), lit(3).as("k"))),
      transform(charNgrams(t, 2),
        h => struct((h % dim2).as("bucket"), lit(2).as("k")))))
  }

  /** Fit the trigram model on a curated slice. `dim2`/`dim3` size the
    * two hash tables (collision rate vs plan-embedded weight size).
    * One scan + one aggregate for both orders ([[taggedNgrams]]); the
    * collect stays the documented ≤ dim3 + dim2 driver budget.
    */
  def fit(curated: DataFrame, textCol: String,
      dim3: Int = 4096, dim2: Int = 4096): Model = {
    require(dim3 >= 1 && dim2 >= 1, "dims must be >= 1")
    val rows = curated.select(taggedNgrams(textCol, dim3, dim2).as("kb"))
      .groupBy(col("kb.k").as("k"), col("kb.bucket").as("bucket"))
      .agg(count(lit(1)).as("ct"))
      .collect()
    val c3 = new Array[Long](dim3)
    val c2 = new Array[Long](dim2)
    rows.foreach { r =>
      val arr = if (r.getInt(0) == 3) c3 else c2
      arr(r.getLong(1).toInt) = r.getLong(2)
    }
    Model(IndexedSeq.tabulate(dim3)(b => Dsir.log2Fp(c3(b) + 1)),
      IndexedSeq.tabulate(dim2)(b => Dsir.log2Fp(c2(b) + dim3)))
  }

  /** Fit MANY models in one pass — the language-ID shape: per-group
    * counts come from TWO aggregates over the whole curated slice
    * (`groupBy(group, bucket)`, ≤ groups·dim rows each) instead of two
    * aggregates PER model, so fitting N language models costs the same
    * two corpus scans as fitting one. Counts per group are identical
    * to [[fit]] on that group's slice (same explode, same buckets), so
    * swapping sequential fits for this changes nothing downstream.
    * Groups with NULL key are skipped; the returned map's models are
    * exactly `fit(slice(g))` for each group g present.
    */
  def fitMany(curated: DataFrame, textCol: String, groupCol: String,
      dim3: Int = 4096, dim2: Int = 4096,
      maxCells: Int = 4 << 20): Map[String, Model] = {
    require(dim3 >= 1 && dim2 >= 1, "dims must be >= 1")
    require(maxCells >= 1, "maxCells must be >= 1")
    // DRIVER BUDGET (the Dsir "documented 2×dim collect" discipline):
    // the collect is ≤ groups·dim (group, bucket, count) rows per
    // n-gram order. Nothing upstream caps the group count, so a
    // caller fitting per-domain models over thousands of domains
    // would otherwise discover the limit as a driver OOM — the
    // limit+require fails LOUDLY at `maxCells` rows PER ORDER (default
    // 4M ≈ 1k groups at dim 4096) without materializing meaningfully
    // past the budget. Fit in group chunks (union the returned maps)
    // or raise maxCells deliberately if the budget is really wanted.
    // Both orders ride ONE scan + ONE aggregate ([[taggedNgrams]],
    // r15 — was one scan per order), so the transient collect holds
    // both orders' cells (≤ 2·maxCells + 2 rows).
    val rows = curated
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        taggedNgrams(textCol, dim3, dim2).as("kb"))
      .select(col("__g"), col("kb.k").as("k"), col("kb.bucket").as("bucket"))
      .groupBy(col("__g"), col("k"), col("bucket")).agg(count(lit(1)).as("ct"))
      .limit(2 * maxCells + 2)
      .collect()
    def countsOf(k: Int, dim: Int): Map[String, Array[Long]] = {
      val ofK = rows.filter(_.getInt(1) == k)
      require(ofK.length <= maxCells,
        s"CharLm.fitMany driver budget exceeded: more than maxCells=" +
          s"$maxCells (group, bucket) cells at dim $dim — fit in group " +
          "chunks and merge the maps, or raise maxCells deliberately " +
          "(the collect is driver-resident)")
      ofK.groupBy(_.getString(0)).map { case (g, rs) =>
        val dense = new Array[Long](dim)
        rs.foreach(r => dense(r.getLong(2).toInt) = r.getLong(3))
        g -> dense
      }
    }
    val c3 = countsOf(3, dim3)
    val c2 = countsOf(2, dim2)
    (c3.keySet ++ c2.keySet).map { g =>
      val d3 = c3.getOrElse(g, new Array[Long](dim3))
      val d2 = c2.getOrElse(g, new Array[Long](dim2))
      g -> Model(
        IndexedSeq.tabulate(dim3)(b => Dsir.log2Fp(d3(b) + 1)),
        IndexedSeq.tabulate(dim2)(b => Dsir.log2Fp(d2(b) + dim3)))
    }.toMap
  }

  /** `df` + `n_tri` (trigram-window count; NULL text → NULL) +
    * `lm_score` (fixed-point `Σ log2 p̂`; NULL text → NULL, < 3 chars
    * → 0) — one narrow kernel pass over `lower(text)`.
    */
  def score(df: DataFrame, textCol: String, model: Model): DataFrame = {
    val t = col(textCol)
    val scoreCol = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CharLmScore(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          lower(t).cast("string")), model.w3, model.w2))
    df.withColumn("n_tri",
        when(t.isNull, lit(null).cast("long"))
          .otherwise(greatest(length(lower(t)) - 2, lit(0)).cast("long")))
      .withColumn("lm_score", scoreCol)
  }

  /** Char-LM language identification — the CCNet LID recipe: fit one
    * trigram LM per language on a curated labeled slice, score every
    * document under ALL of them, predict the argmax of the per-window
    * mean log2-probability. Catches what the marker-word
    * [[graft.functions.TextFunctions.langId]] can't (no marker hits,
    * non-Latin scripts, short-token text) because the signal is the
    * whole character distribution.
    *
    * One narrow kernel pass: [[graft.plans.CharLmScoreMulti]] walks
    * the code points ONCE and accumulates all N models (the per-window
    * md5 digests dominate; N lookups are free by comparison), so LID
    * against any model count still rides the corpus scan shuffle-free.
    * The argmax is `array_max` over `struct(avg, -modelIdx)` — exact
    * integer comparison, ties to the FIRST model in `models` order.
    * Documents with no trigram window (or NULL text) predict `und`.
    *
    * Output: `df` + `n_tri` + `lid_pred` + `lid_avg` (the winner's
    * truncating-division per-window mean; NULL for `und`).
    */
  def classifyLanguage(df: DataFrame, textCol: String,
      models: Seq[(String, Model)]): DataFrame = {
    require(models.nonEmpty, "need at least one language model")
    val t = col(textCol)
    val scoresCol = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.CharLmScoreMulti(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          lower(t).cast("string")),
        models.map(_._2.w3), models.map(_._2.w2)))
    val nTri = when(t.isNull, lit(null).cast("long"))
      .otherwise(greatest(length(lower(t)) - 2, lit(0)).cast("long"))
    val withScores = df
      .withColumn("n_tri", nTri)
      .withColumn("__scores", scoresCol)
    val cands = array(models.indices.map(i =>
      struct(
        expr(s"element_at(__scores, ${i + 1}) div n_tri").as("avg"),
        lit(-i).as("ni"))): _*)
    // the ANSI `div` inside cands must not evaluate on n_tri = 0/NULL
    // rows (division by zero throws): the when() branches evaluate
    // lazily, so the whole argmax sits under the guard
    val best = when(col("n_tri") > 0, array_max(cands))
    withScores
      .withColumn("__best", best)
      .withColumn("lid_pred",
        when(col("__best").isNull, lit("und"))
          .otherwise(element_at(
            typedLit(models.map(_._1)), -col("__best.ni") + 1)))
      .withColumn("lid_avg", col("__best.avg"))
      .drop("__scores", "__best")
  }

  /** The CCNet split: `df` + `n_tri` + `lm_score` + `lm_avg`
    * (per-window mean, truncating division — the length-normalized
    * log2-probability, i.e. negated bits-per-window) + `ppl_bucket`
    * (`head` = best third by `(lm_avg desc, keyCol)`, then `middle`,
    * then `tail`). Documents with no trigram window (< 3 chars) can't
    * be judged and go to `tail` with NULL `lm_avg`; NULL text stays
    * NULL-bucketed. The rank is [[Dsir.globalRank]] — no global
    * window, two tercile cuts from the same pass.
    */
  def perplexityBuckets(df: DataFrame, textCol: String, keyCol: String,
      model: Model): DataFrame = {
    val scored = score(df, textCol, model)
    val nullAvg = lit(null).cast("long")
    // branch predicates deliberately reference text/n_tri, NEVER
    // lm_score: lm_score IS NULL ⟺ text IS NULL by the kernel's
    // contract, but a filter on the kernel column would re-evaluate
    // the (expensive) trigram walk on a full corpus scan PER BRANCH —
    // on the text predicates, the kernel runs once over the ranked
    // slice (materialized inside globalRank) and only on the
    // few/cheap rows of the two edge branches
    val rankable = scored.filter(col(textCol).isNotNull && col("n_tri") > 0)
      .withColumn("lm_avg", expr("lm_score div n_tri"))
    val (ranked, n) = Dsir.globalRank(rankable,
      Seq(col("lm_avg").desc, col(keyCol)), "__rank")
    ranked
      .withColumn("ppl_bucket",
        when(col("__rank") <= n / 3, lit("head"))
          .when(col("__rank") <= 2 * n / 3, lit("middle"))
          .otherwise(lit("tail")))
      .drop("__rank")
      .unionByName(scored.filter(col(textCol).isNull)
        .withColumn("lm_avg", nullAvg)
        .withColumn("ppl_bucket", lit(null).cast("string")))
      .unionByName(scored.filter(col(textCol).isNotNull && col("n_tri") === 0)
        .withColumn("lm_avg", nullAvg)
        .withColumn("ppl_bucket", lit("tail")))
  }
}
