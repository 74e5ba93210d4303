package graft.streaming

import graft.operators.{Dedup, IvfIndex, SubstringDedup}
import graft.sources.Zone
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming incremental near-duplicate detection: documents arrive as
  * a stream; each micro-batch computes its MinHash signatures, joins
  * its NARROW band rows against the PERSISTED two-table index
  * ([[Dedup.signatures]] + [[Dedup.signatureBands]] via
  * [[Dedup.minHashLshIncremental]] — only new×index and new×new pairs,
  * never a corpus recompute), appends the pairs to the pair log, and
  * extends both index tables. At 100 TB this is the shape that keeps
  * daily dedup cost proportional to the increment: the bands table is
  * band-partitioned parquet carrying no signature payload, and
  * signatures move only per candidate pair.
  *
  * Every sink here runs through [[CorpusStream.exactlyOnce]] (or, where
  * the operator keeps its own cursor, plain [[CorpusStream.availableNow]]).
  */
object CorpusStream {

  /** The package's one streaming-sink scaffold: `body(batch, id)` per
    * micro-batch of `df` under `checkpointDir`, `Trigger.AvailableNow`
    * (process everything available, then stop — the daily cron batch).
    * At-least-once on its own: callers either merge idempotently or go
    * through [[exactlyOnce]].
    */
  private[streaming] def availableNow(df: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, bid: Long) => body(batch, bid) }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[availableNow]] made exactly-once without consumer cooperation:
    * foreachBatch is at-least-once, so `body` (a) writes every state
    * table through [[Zone.appendBatch]] — rows land in a
    * `__batch_id=<id>` partition via dynamic overwrite, making a
    * replayed batch REWRITE its own partition with the same
    * deterministic values instead of appending duplicates — and
    * (b) this wrapper records the batch in the `_committed` marker under
    * `markerDir` ([[Zone.markBatchCommitted]]) as the LAST write, so a
    * replay of any batch id at or below the marker is a pure no-op that
    * never calls `body`. A crash at any point either replays into an
    * idempotent overwrite (before the marker) or skips (after it); state
    * tables are value-identical under kill-and-replay (CorpusStreamSpec
    * proves it by deleting the newest checkpoint commit and re-running).
    * `body` reads its own state through [[Zone.readBatchedBefore]] at
    * the batch id, so a replay never sees its own pre-crash appends.
    */
  private[streaming] def exactlyOnce(spark: SparkSession, df: DataFrame,
      markerDir: String, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    availableNow(df, checkpointDir) { (batch, bid) =>
      if (!Zone.lastCommittedBatch(spark, markerDir).exists(_ >= bid)) {
        body(batch, bid)
        Zone.markBatchCommitted(spark, markerDir, bid)
      }
    }

  /** @param docs        streaming DataFrame with `idCol` + `textCol`
    * @param indexDir    two-table signature index — `sigs/` (id, sig)
    *                    and `bands/` (id, band, band_key), created on
    *                    the first batch; also holds the job's
    *                    `_committed` marker
    * @param pairsDir    near-dup pair log (batch-partitioned)
    */
  def runIncrementalNearDup(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      pairsDir: String,
      checkpointDir: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): StreamingQuery =
    exactlyOnce(spark, docs, indexDir, checkpointDir) { (batch, bid) =>
      val newSigs = Dedup.signatures(
        batch, textCol, idCol, shingleSize, numHashes).cache()
      val newBands = Dedup.signatureBands(newSigs, numHashes, bands)
      try {
        // snapshot-isolated index read (__batch_id < bid): a replay
        // must not see the batch's own pre-crash appends
        val pairs = (Zone.readBatchedBefore(spark, s"$indexDir/bands", bid),
            Zone.readBatchedBefore(spark, s"$indexDir/sigs", bid)) match {
          case (Some(idxBands), Some(idxSigs)) =>
            Dedup.minHashLshIncremental(idxBands, idxSigs,
              newBands, newSigs, numHashes, threshold)
          case _ => // first batch: the increment IS the corpus
            Dedup.minHashLshIncremental(newBands.limit(0), newSigs.limit(0),
              newBands, newSigs, numHashes, threshold)
        }
        Zone.appendBatch(pairs, pairsDir, bid)
        // sigs BEFORE bands: a sig row without band rows is inert
        // (generates no candidates), while a band row whose sig is
        // missing would make later batches' pair verification drop
        // the pair silently — so a crash between the two writes must
        // leave the harmless orphan, not the dangerous one. (With
        // idempotent batch partitions the replay heals either way;
        // the ordering keeps the mid-crash state harmless even
        // BEFORE the replay runs.)
        Zone.appendBatch(newSigs, s"$indexDir/sigs", bid)
        Zone.appendBatch(newBands, s"$indexDir/bands", bid)
      } finally newSigs.unpersist()
    }

  /** Streaming incremental SimHash near-dup — the same micro-batch
    * discipline as [[runIncrementalNearDup]] over the ONE-table
    * [[Dedup.simHashChunks]] index (the 8-byte signature rides the
    * chunk rows, so each batch is one pair append + one index append).
    * Exactly-once via [[exactlyOnce]], marker under `indexDir`.
    */
  def runIncrementalSimHash(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      pairsDir: String,
      checkpointDir: String,
      maxHamming: Int = 3): StreamingQuery =
    exactlyOnce(spark, docs, indexDir, checkpointDir) { (batch, bid) =>
      val newChunks = Dedup.simHashChunks(
        Dedup.simHashDf(batch, textCol, idCol)).cache()
      try {
        // first batch: the increment IS the corpus
        val idx = Zone.readBatchedBefore(spark, indexDir, bid)
          .getOrElse(newChunks.limit(0))
        Zone.appendBatch(
          Dedup.simHashIncremental(idx, newChunks, maxHamming), pairsDir, bid)
        Zone.appendBatch(newChunks, indexDir, bid)
      } finally newChunks.unpersist()
    }

  /** Streaming incremental embedding near-dup — the same micro-batch
    * discipline over the two-table embedding LSH index
    * ([[Dedup.embeddingIndex]]): each batch's NARROW bucket rows join
    * the persisted index, vectors fetch per candidate pair, pairs
    * append to the log, both index tables extend. Write order: vectors
    * BEFORE buckets — a vector row with no bucket rows is inert, a
    * bucket row with no vector would silently drop pairs in later
    * batches' verification (the replay heals either way; the ordering
    * keeps the mid-crash state harmless before it runs). The hyperplane
    * `seed` is the frozen codebook; changing it mid-stream is a
    * rebuild, not an increment. Exactly-once via [[exactlyOnce]].
    */
  def runIncrementalEmbeddingNearDup(
      spark: SparkSession,
      vectors: DataFrame,
      vecCol: String,
      idCol: String,
      indexDir: String,
      pairsDir: String,
      checkpointDir: String,
      dim: Int,
      minCosine: Double = 0.9,
      bits: Int = 8,
      tables: Int = 8,
      seed: Long = 42L): StreamingQuery =
    exactlyOnce(spark, vectors, indexDir, checkpointDir) { (batch, bid) =>
      val (newBk0, newV0) = Dedup.embeddingIndex(
        batch, vecCol, idCol, dim, bits, tables, seed)
      val (newBk, newV) = (newBk0.cache(), newV0.cache())
      try {
        val pairs = (Zone.readBatchedBefore(spark, s"$indexDir/buckets", bid),
            Zone.readBatchedBefore(spark, s"$indexDir/vecs", bid)) match {
          case (Some(idxBk), Some(idxV)) =>
            Dedup.embeddingNearDupIncremental(idxBk, idxV, newBk, newV, minCosine)
          case _ => // first batch: the increment IS the corpus
            Dedup.embeddingNearDupIncremental(
              newBk.limit(0), newV.limit(0), newBk, newV, minCosine)
        }
        Zone.appendBatch(pairs, pairsDir, bid)
        Zone.appendBatch(newV, s"$indexDir/vecs", bid)
        Zone.appendBatch(newBk, s"$indexDir/buckets", bid)
      } finally { newBk.unpersist(); newV.unpersist() }
    }

  /** Streaming IVF index maintenance — the ANN side of the same
    * discipline: the first micro-batch bootstraps the two-table index
    * ([[IvfIndex.buildIndex]] — codebook + cells); every later batch is
    * ONE [[IvfIndex.assignIncrement]] narrow map against the PERSISTED
    * codebook and a cells append. Queries probe the persisted tables on
    * demand ([[IvfIndex.probe]]); codebook drift under a shifting
    * distribution is a scheduled [[IvfIndex.rebuild]], never something
    * the stream pays for.
    *
    * Exactly-once matters MORE here than for the pair logs: probe has
    * no per-id dedup, so a duplicated cell row would take two top-k
    * slots and displace a real neighbor. The batch-partitioned cells
    * append + `_committed` marker close that: a replayed batch
    * overwrites its own cells partition, never duplicates it.
    *
    * Crash ordering inside the bootstrap batch: centroids commit BEFORE
    * cells. A centroid table with no cells makes the replay take the
    * incremental branch — which assigns the same batch against the same
    * frozen codebook and lands exactly the rows the crashed buildIndex
    * would have — while cells referencing a centroid table that never
    * landed would poison every later probe.
    */
  def runIncrementalAnnIndex(
      spark: SparkSession,
      vectors: DataFrame,
      vecCol: String,
      idCol: String,
      indexDir: String,
      checkpointDir: String,
      nCentroids: Int = 16): StreamingQuery =
    exactlyOnce(spark, vectors, indexDir, checkpointDir) { (batch, bid) =>
      val centsDir = s"$indexDir/centroids"
      val cellsDir = s"$indexDir/cells"
      Zone.readIfExists(spark, centsDir) match {
        case Some(cents) =>
          Zone.appendBatch(
            IvfIndex.assignIncrement(batch, idCol, vecCol, cents), cellsDir, bid)
        case None => // first batch bootstraps the codebook
          val (cents, cells) = IvfIndex.buildIndex(batch, idCol, vecCol, nCentroids)
          Zone.overwriteInPlace(spark, cents, centsDir)
          Zone.appendBatch(cells, cellsDir, bid)
      }
    }

  /** Streaming SemDeDup — semantic-dedup verdicts as the corpus
    * streams: maintains the ANN family's `(centroids, cells)` index
    * (first batch bootstraps the frozen codebook, exactly
    * [[runIncrementalAnnIndex]] — the two twins share state layout)
    * and additionally logs each micro-batch's
    * [[Dedup.semDedupOnCells]] verdicts against index ∪ batch
    * cell-mates. Cells read through [[Zone.readBatchedBefore]], so a
    * replayed batch probes only cells from batches before itself and
    * its verdicts recompute value-identically; the assignment runs
    * once per batch and feeds both the verdicts and the cells append.
    * Exactly-once via [[exactlyOnce]].
    */
  def runIncrementalSemDedup(
      spark: SparkSession,
      vectors: DataFrame,
      vecCol: String,
      idCol: String,
      indexDir: String,
      verdictsDir: String,
      checkpointDir: String,
      nCentroids: Int = 16,
      minCosine: Double = 0.5): StreamingQuery =
    exactlyOnce(spark, vectors, indexDir, checkpointDir) { (batch, bid) =>
      val centsDir = s"$indexDir/centroids"
      val cellsDir = s"$indexDir/cells"
      Zone.readIfExists(spark, centsDir) match {
        case Some(cents) =>
          val newCells = IvfIndex
            .assignIncrement(batch, idCol, vecCol, cents).cache()
          try {
            val prior = Zone.readBatchedBefore(spark, cellsDir, bid)
              .getOrElse(newCells.limit(0))
            Zone.appendBatch(
              Dedup.semDedupOnCells(prior, newCells, idCol, minCosine),
              verdictsDir, bid)
            Zone.appendBatch(newCells, cellsDir, bid)
          } finally newCells.unpersist()
        case None => // first batch bootstraps the codebook
          val (cents, cells0) = IvfIndex.buildIndex(batch, idCol, vecCol, nCentroids)
          val cells = cells0.cache()
          try {
            Zone.overwriteInPlace(spark, cents, centsDir)
            Zone.appendBatch(
              Dedup.semDedupOnCells(cells.limit(0), cells, idCol, minCosine),
              verdictsDir, bid)
            Zone.appendBatch(cells, cellsDir, bid)
          } finally cells.unpersist()
      }
    }

  /** Streaming incremental substring-span dedup — the positional
    * family member: each micro-batch marks its non-canonical k-token
    * spans against the persisted shingle postings index
    * ([[SubstringDedup.nonCanonicalSpansIncremental]] — one semi-join,
    * no corpus recompute), appends the spans to the span log, and
    * extends the index with its own distinct (hash, doc) postings
    * ([[SubstringDedup.shinglePostings]] — the attributed shape the
    * batch path persists, so the two paths share state and deletion
    * stays an anti-join on `doc_id`). Batches re-appending postings an
    * earlier batch already holds is harmless — the probe is a
    * semi-join and the operator is spec'd robust to a non-distinct
    * index; compaction may dedupe at leisure. Batch ids must ride the
    * family's monotonic-doc-id contract. Exactly-once via
    * [[exactlyOnce]].
    */
  def runIncrementalSpans(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      spansDir: String,
      checkpointDir: String,
      k: Int = 8): StreamingQuery =
    exactlyOnce(spark, docs, indexDir, checkpointDir) { (batch, bid) =>
      // cached: the batch feeds both the span marking and the
      // index-extension hash pass (family style — one compute per
      // micro-batch)
      val b = batch.cache()
      try {
        val newHashes = SubstringDedup.shinglePostings(b, textCol, idCol, k)
        // first batch: the increment IS the corpus
        val idx = Zone.readBatchedBefore(spark, indexDir, bid)
          .getOrElse(newHashes.limit(0))
        Zone.appendBatch(SubstringDedup.nonCanonicalSpansIncremental(
          idx, b, textCol, idCol, k), spansDir, bid)
        Zone.appendBatch(newHashes, indexDir, bid)
      } finally b.unpersist()
    }

  /** Streaming paragraph dedup — the continuous form of the
    * [[Dedup.paraPostings]] index: each micro-batch rebuilds its
    * documents against the persisted postings
    * ([[Dedup.paragraphDedupIncremental]] — election work restricted
    * to the batch's digests), appends the rebuilt docs to the dedup
    * log, and extends the postings. Exactly-once via [[exactlyOnce]].
    */
  def runIncrementalParagraphs(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      dedupDir: String,
      checkpointDir: String,
      sep: String = "\n\n"): StreamingQuery =
    exactlyOnce(spark, docs, indexDir, checkpointDir) { (batch, bid) =>
      val b = batch.cache()
      try {
        val newPostings = Dedup.paraPostings(b, textCol, idCol, sep)
        // first batch: the increment IS the corpus
        val idx = Zone.readBatchedBefore(spark, indexDir, bid)
          .getOrElse(newPostings.limit(0))
        Zone.appendBatch(Dedup.paragraphDedupIncremental(
          idx, b, textCol, idCol, sep), dedupDir, bid)
        Zone.appendBatch(newPostings, indexDir, bid)
      } finally b.unpersist()
    }

  /** Streaming BM25 search-index maintenance — the simplest member of
    * the index family: postings `(id, term, tf, dl)` and doc lengths
    * `(id, dl)` are both ADDITIVE over disjoint doc ids
    * ([[graft.operators.Bm25]]'s contract), so each micro-batch
    * appends its own rows and touches nothing else — no incremental
    * join, no state rewrite. Queries probe the accumulated tables via
    * [[graft.operators.Bm25.searchPostings]] (the lens table doubles
    * as the N/avgdl meta source). Exactly-once via [[exactlyOnce]].
    * Write order: lens BEFORE postings — a crash between the
    * two leaves a doc that counts toward N/avgdl but can't match
    * (indistinguishable from an empty doc, harmless until the replay
    * heals it), while the opposite orphan would score the doc under a
    * meta that excludes it.
    */
  def runIncrementalSearchIndex(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      checkpointDir: String): StreamingQuery =
    exactlyOnce(spark, docs, indexDir, checkpointDir) { (batch, bid) =>
      val b = batch.cache()
      try {
        Zone.appendBatch(
          graft.operators.Bm25.docLens(b, textCol, idCol),
          s"$indexDir/lens", bid)
        Zone.appendBatch(
          graft.operators.Bm25.postings(b, textCol, idCol),
          s"$indexDir/postings", bid)
      } finally b.unpersist()
    }

  /** Streaming PQ-codes maintenance — the vector twin of
    * [[runIncrementalSearchIndex]]: codes `(id, codes, distortion)`
    * are a pure per-row function of (vector, codebook) and therefore
    * ADDITIVE over disjoint ids, so each micro-batch encodes itself
    * against the FROZEN codebook and appends — no incremental join,
    * no state rewrite (the [[graft.operators.Pq.readIndex]]
    * frozen-codebook discipline: a re-sampled codebook would silently
    * re-define every already-written code). The codebook table writes
    * ONCE, before the stream's first start (crash-safe swap), so a crash
    * can never leave codes that predate their codebook; a restart finds
    * it present and refuses any `cb` that differs from it. Queries probe
    * via [[graft.operators.Pq.searchAdc]] over the accumulated codes.
    * Exactly-once via [[exactlyOnce]].
    */
  def runIncrementalPqCodes(
      spark: SparkSession,
      docs: DataFrame,
      vecCol: String,
      idCol: String,
      cb: graft.operators.Pq.Codebook,
      indexDir: String,
      checkpointDir: String): StreamingQuery = {
    val cbDir = s"$indexDir/codebook"
    Zone.readIfExists(spark, cbDir) match {
      case Some(existing) =>
        require(graft.operators.Pq.codebookFromDf(existing) == cb,
          s"PQ codes at $indexDir were encoded with another codebook " +
            "— a new codebook is a rebuild into a fresh indexDir")
      case None =>
        Zone.overwriteInPlace(spark, graft.operators.Pq.codebookDf(spark, cb), cbDir)
    }
    exactlyOnce(spark, docs, indexDir, checkpointDir) { (batch, bid) =>
      Zone.appendBatch(
        graft.operators.Pq.encode(batch, idCol, vecCol, cb),
        s"$indexDir/codes", bid)
    }
  }

  /** Streaming sketch-table maintenance — the metrics twin of
    * [[runIncrementalSearchIndex]] for the mergeable sketch family:
    * each micro-batch appends its own bounded sketch rows (a theta
    * bottom-k of `keyCol` and a quantile-sketch struct of `valueCol`
    * per group), and READERS merge: both states are canonical
    * functions of the union multiset/set, so
    * `merge(batch sketches) == sketch(whole stream)` exactly
    * (CorpusStreamSpec) — the daily-distinct / daily-percentile
    * dashboards ride the accumulated table with no corpus replay.
    * Appends are per-batch-sized (≤ groups × (k + 1) rows each), so
    * the state grows with BATCH COUNT, not data; fold it down any
    * time with [[compactSketchState]] (merge-rewrite, value-identical
    * by the canonical-merge property). Exactly-once via
    * [[exactlyOnce]].
    */
  def runIncrementalSketches(
      spark: SparkSession,
      docs: DataFrame,
      groupCols: Seq[String],
      keyCol: String,
      valueCol: String,
      stateDir: String,
      checkpointDir: String,
      k: Int = 256): StreamingQuery = {
    // both aggregators must accept k, and the violation must surface
    // HERE, not mid-batch after the theta append already landed
    require(k >= 16, s"k must be >= 16 (the QuantileSketch floor), got $k")
    exactlyOnce(spark, docs, stateDir, checkpointDir) { (batch, bid) =>
      val b = batch.cache()
      try {
        Zone.appendBatch(
          graft.operators.ThetaSketch.sketch(b, groupCols, keyCol, k),
          s"$stateDir/theta", bid)
        val agg = udaf(new graft.operators.QuantileSketch.Agg(k),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        // NULL keys and failed value casts must drop BEFORE the
        // non-nullable (Long, Long) input encoder, or one bad row
        // kills the stream (the theta leg's sketch() filters too).
        // try_cast, not cast: Spark 4 ANSI mode makes a plain cast
        // THROW on malformed input — a poison-pill row would fail
        // the batch on every replay forever
        Zone.appendBatch(
          b.withColumn("__h", graft.functions.AuditableHash.h60(col(keyCol)))
            .withColumn("__v", expr(s"try_cast(`$valueCol` AS BIGINT)"))
            .filter(col("__h").isNotNull && col("__v").isNotNull)
            .groupBy(groupCols.map(col): _*)
            .agg(agg(col("__h"), col("__v")).as("sk"))
            .select(groupCols.map(col) ++ Seq(col("sk.n").as("n"),
              col("sk.level").as("level"), col("sk.hashes").as("hashes"),
              col("sk.values").as("values")): _*),
          s"$stateDir/quantile", bid)
      } finally b.unpersist()
    }
  }

  /** Merged views of a [[runIncrementalSketches]] state: the theta
    * rows re-trimmed and the quantile structs re-aggregated — each
    * equal to the one-shot sketch of every COMMITTED batch's input
    * (canonical merge). Reads go through [[Zone.readBatchedBefore]]
    * restricted to `marker + 1`, so a crash's orphan partition (appends
    * landed, `_committed` not yet written) is invisible — the restart
    * replays that batch idempotently, and a premature read here must
    * not count it. Returns (theta, quantile) frames. Before the stream
    * has WRITTEN anything this throws `IllegalStateException`
    * (deliberately fail-loud: group-column types are only knowable from
    * written data, so an invented empty frame would flip schema on the
    * first commit); once an append exists but no batch has committed
    * yet, the frames are typed and empty.
    */
  def readMergedSketches(spark: SparkSession, stateDir: String,
      groupCols: Seq[String], k: Int = 256): (DataFrame, DataFrame) =
    readMergedUpTo(spark, stateDir,
      Zone.lastCommittedBatch(spark, stateDir).map(_ + 1).getOrElse(0L),
      groupCols, k)

  private def readMergedUpTo(spark: SparkSession, stateDir: String,
      upTo: Long, groupCols: Seq[String], k: Int): (DataFrame, DataFrame) = {
    def committed(sub: String): DataFrame =
      Zone.readBatchedBefore(spark, s"$stateDir/$sub", upTo)
        // fail loudly rather than invent a wrongly-typed empty frame:
        // group-column types are only knowable from written data, and a
        // silently STRING-typed empty would flip schema on first commit
        .getOrElse(throw new IllegalStateException(
          s"no sketch state under $stateDir/$sub — the stream has not " +
            "written yet (read after the first committed batch)"))
    val theta = graft.operators.ThetaSketch.merge(
      committed("theta"))(groupCols, k)
    val mergeAgg = udaf(new graft.operators.QuantileSketch.MergeAgg(k),
      org.apache.spark.sql.Encoders.product[
        graft.operators.QuantileSketch.QSketch])
    val quant = committed("quantile")
      .groupBy(groupCols.map(col): _*)
      .agg(mergeAgg(col("n"), col("level"), col("hashes"), col("values"))
        .as("sk"))
    (theta, quant)
  }

  /** Fold the accumulated per-batch sketch rows into a FRESH state dir
    * (value-identical — canonical merge over committed batches),
    * resetting growth to one batch's footprint. Compaction writes a
    * NEW directory rather than rewriting in place: an in-place swap
    * racing a live stream can permanently drop a batch that commits
    * between the merged read and the swap, and a mid-swap crash would
    * need the overwrite-recovery dance on a dir other readers use.
    * Protocol: STOP the stream, compact to `newStateDir`, restart the
    * stream against `newStateDir` (same checkpoint — source offsets
    * live there, and the carried-over committed marker keeps replay
    * ids monotonic). The old dir stays untouched until the caller
    * removes it.
    */
  def compactSketchState(spark: SparkSession, stateDir: String,
      newStateDir: String, groupCols: Seq[String], k: Int = 256): Unit = {
    // FRESH means fresh: an existing target (including the source dir
    // under an aliased spelling, or a rerun against a live target)
    // would mix stale partitions with the fold and could move the
    // committed marker BACKWARD
    require(!Zone.exists(spark, newStateDir),
      s"compaction target $newStateDir already exists — " +
        "compact to a fresh directory (see scaladoc)")
    val marker = Zone.lastCommittedBatch(spark, stateDir).getOrElse {
      return // nothing committed: nothing to compact
    }
    // the bound is read ONCE and used for both the fold and the new
    // marker: a batch committing mid-compaction (protocol violation)
    // must not be folded under an older marker and then replayed twice
    val (theta, quant) = readMergedUpTo(spark, stateDir, marker + 1,
      groupCols, k)
    val flat = quant.select(groupCols.map(col) ++ Seq(col("sk.n").as("n"),
      col("sk.level").as("level"), col("sk.hashes").as("hashes"),
      col("sk.values").as("values")): _*)
    Zone.appendBatch(theta, s"$newStateDir/theta", marker)
    Zone.appendBatch(flat, s"$newStateDir/quantile", marker)
    Zone.markBatchCommitted(spark, newStateDir, marker)
  }

  /** Streaming maintenance of the round-13 advisory state legs — the
    * foreachBatch twin of [[graft.jobs.CorpusJob.runIncremental]]'s
    * mixloss/skew/bloom fold (r13 verdict task 2; every other state
    * family already had one): per micro-batch,
    *
    *  - `mixloss/` — per-`lang_pred` loss sufficient statistics
    *    ([[graft.operators.DomainMixture.lossStats]] over the same
    *    narrow text-stats map the batch job's annotate runs; the
    *    chars-per-token Q10 proxy, `length(text)·1024 div n_tokens`),
    *  - `skew/{theta,cm,cands}` — the content_fp skew-sketch frames
    *    ([[graft.operators.Salting.skewStateFrames]]),
    *  - `bloom/` — the batch's shingle filter words
    *    ([[graft.operators.PortableBloom.shingleSketch]]).
    *
    * All three are batch-sized aggregates over the increment (domain
    * rows / sketch cells / ≤ m/32 words — never corpus-sized), landing
    * as `__batch_id` partitions under [[exactlyOnce]].
    * Replay semantics differ BY LEG and the discipline covers the
    * strictest: mixloss sums and CM cells are additive — a replayed
    * append double-counts, so they NEED the idempotent
    * partition-overwrite + marker gate; the bloom leg's word-wise OR
    * is IDEMPOTENT, so it would be replay-safe even without the gate
    * (the weaker requirement — CorpusStreamSpec proves it by folding a
    * batch's words twice and getting the same filter). Parameters pin
    * the state via a 1-row `advmeta` table written with batch 0 and
    * validated every batch (the bloommeta/skew-meta discipline).
    *
    * Read back with [[readMergedAdvisories]]; canonical merges make
    * the folded state equal the batch job's one-shot fold over the
    * same documents (value-identical — CorpusStreamSpec pins all three
    * legs against [[graft.jobs.CorpusJob.runIncremental]]'s folded
    * tables).
    */
  def runIncrementalAdvisories(
      spark: SparkSession,
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      shingleSize: Int = 3,
      bloomM: Int = graft.operators.PortableBloom.DefaultM,
      bloomK: Int = graft.operators.PortableBloom.DefaultK,
      thetaK: Int = 256,
      hhK: Int = 64): StreamingQuery = {
    import graft.functions.{TextFunctions => T}
    exactlyOnce(spark, docs, stateDir, checkpointDir) { (batch, bid) =>
      import spark.implicits._
      Zone.readIfExists(spark, s"$stateDir/advmeta") match {
        case Some(mdf) =>
          val r = mdf.head()
          require(r.getAs[Int]("shingle_n") == shingleSize &&
            r.getAs[Int]("m") == bloomM && r.getAs[Int]("k") == bloomK &&
            r.getAs[Int]("theta_k") == thetaK && r.getAs[Int]("hh_k") == hhK,
            s"advisory state at $stateDir was written with other parameters " +
              "— mismatched sketch bits/cells would merge into noise")
        case None =>
          // through the temp-and-rename swap (ADVICE r14): a plain
          // overwrite crashing mid-write leaves a partial dir the
          // replay's readIfExists then reads (or dies on) with no
          // self-healing path; the swap is all-or-nothing
          Zone.overwriteInPlace(spark,
            Seq((shingleSize, bloomM, bloomK, thetaK, hhK))
              .toDF("shingle_n", "m", "k", "theta_k", "hh_k"),
            s"$stateDir/advmeta")
      }
      val b = batch.select(col("doc_id"), col("text")).cache()
      try {
        // mixloss: the SAME narrow per-row map the batch job's
        // annotate derives lang_pred / n_tokens from — no LSH or
        // canonical state needed, so the streamed leg stays pure
        val perDoc = b
          .withColumn("__tstats", T.textStats(col("text")))
          .withColumn("n_tokens", T.tokenCountFrom(col("__tstats")).cast("long"))
          .withColumn("lang_pred", T.langIdFrom(col("__tstats")))
          .withColumn("__loss_fp",
            when(col("n_tokens") > 0,
              expr("length(text) * 1024L div n_tokens"))
              .otherwise(lit(0L)))
        Zone.appendBatch(graft.operators.DomainMixture.lossStats(
          perDoc, "lang_pred", "__loss_fp"), s"$stateDir/mixloss", bid)
        val (t, c, k2) = graft.operators.Salting.skewStateFrames(
          b.withColumn("content_fp", T.contentFingerprint(col("text")))
            .select(col("content_fp")),
          Seq("content_fp"), thetaK, hhK)
        Zone.appendBatch(t, s"$stateDir/skew/theta", bid)
        Zone.appendBatch(c, s"$stateDir/skew/cm", bid)
        Zone.appendBatch(k2, s"$stateDir/skew/cands", bid)
        Zone.appendBatch(graft.operators.PortableBloom.shingleSketch(
          b, "text", "doc_id", shingleSize, bloomM, bloomK),
          s"$stateDir/bloom", bid)
      } finally b.unpersist()
    }
  }

  /** Merged views of a [[runIncrementalAdvisories]] state — each leg
    * folded by its canonical merge (loss stats re-sum, theta rows
    * re-trim, CM cells re-sum, candidates union-distinct, bloom words
    * re-OR), each equal to the batch job's one-shot fold of every
    * COMMITTED batch's input. Reads restrict to `marker + 1`
    * ([[Zone.readBatchedBefore]]), so a crash's orphan partition is
    * invisible until its replay commits. Returns
    * `(mixloss, bloomWords, (theta, cm, cands))`. Throws
    * `IllegalStateException` before the stream has written anything
    * (the readMergedSketches fail-loud contract).
    */
  def readMergedAdvisories(spark: SparkSession, stateDir: String):
      (DataFrame, DataFrame, (DataFrame, DataFrame, DataFrame)) = {
    val upTo = Zone.lastCommittedBatch(spark, stateDir).map(_ + 1).getOrElse(0L)
    def committed(sub: String): DataFrame =
      Zone.readBatchedBefore(spark, s"$stateDir/$sub", upTo)
        .getOrElse(throw new IllegalStateException(
          s"no advisory state under $stateDir/$sub — the stream has not " +
            "written yet (read after the first committed batch)"))
    val thetaK = Zone.readIfExists(spark, s"$stateDir/advmeta")
      .map(_.head().getAs[Int]("theta_k")).getOrElse(256)
    val mixloss = committed("mixloss").groupBy(col("domain"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_loss_fp")).as("sum_loss_fp"))
    val bloom = graft.operators.PortableBloom.merge(committed("bloom"))(Nil)
    val skew = (
      graft.operators.ThetaSketch.merge(committed("skew/theta"))(Seq.empty, thetaK),
      graft.operators.CountMin.merge(committed("skew/cm"))(Seq.empty),
      committed("skew/cands").distinct())
    (mixloss, bloom, skew)
  }

  /** Streaming CURATION — the continuous form of the full ordered
    * pipeline ([[graft.jobs.CorpusJob.runCurationIncremental]]'s
    * micro-batch twin): each batch runs the nine stages against the
    * FROZEN [[graft.jobs.CorpusJob.fitCurationState]] state
    * (models/cutoff/rates/codebook — the CCNet operating discipline, so
    * every narrow stage is a pure map) and probes the three dedup
    * families increment-sized against `bootstrap ∪ own batches < bid`.
    * [[graft.jobs.CorpusJob.fitCurationState]] MUST have run first —
    * the frozen scalars are read unconditionally.
    *
    * State layout: the bootstrap tables stay where the batch path put
    * them (`stateDir/curation/{paras,shingles,cells}` — immutable
    * plain parquet); this stream's own appends live under
    * `stateDir/curation/stream/…` in `__batch_id` partitions. The
    * split is what makes the exactly-once contract compose with a
    * batch-written bootstrap: the bootstrap needs no batch isolation
    * (it never replays), while the stream side runs under
    * [[exactlyOnce]] with its marker in `stateDir/curation/stream`.
    * Verdicts append under `stream/annotated` BEFORE the postings
    * extensions, mirroring the batch twin's materialize-then-extend
    * order. Doc ids must grow monotonically across batches (the
    * family's daily-append contract); domains absent from the frozen
    * rate table drop as `sampled_out` — re-fit state to admit them.
    */
  def runIncrementalCuration(
      spark: SparkSession,
      docs: DataFrame,
      stateDir: String,
      checkpointDir: String,
      cfg: graft.jobs.CorpusJob.CurationConfig =
        graft.jobs.CorpusJob.CurationConfig(),
      blocked: Option[DataFrame] = None,
      embeddings: Option[DataFrame] = None): StreamingQuery = {
    val dir = s"$stateDir/curation"
    val sDir = s"$dir/stream"
    exactlyOnce(spark, docs, sDir, checkpointDir) { (batch, bid) =>
      val st = graft.jobs.CorpusJob.loadCurationState(spark, stateDir, cfg)
      // prior index = immutable bootstrap ∪ this stream's committed
      // batches (snapshot-isolated at bid)
      def prior(name: String): Option[DataFrame] = {
        val boot = Zone.readIfExists(spark, s"$dir/$name")
        val mine = Zone.readBatchedBefore(spark, s"$sDir/$name", bid)
        (boot, mine) match {
          case (Some(b), Some(m)) => Some(b.unionByName(m))
          case (b, m) => b.orElse(m)
        }
      }
      val out = graft.jobs.CorpusJob.curateCore(batch, cfg, blocked,
        embeddings, Some(st), Zone.readIfExists(spark, s"$dir/cents"),
        prior("paras"), prior("shingles"), prior("cells"))
      Zone.appendBatch(out.annotated, s"$sDir/annotated", bid)
      Zone.appendBatch(out.newParas, s"$sDir/paras", bid)
      Zone.appendBatch(out.newShingles, s"$sDir/shingles", bid)
      out.newCells.foreach(Zone.appendBatch(_, s"$sDir/cells", bid))
    }
  }

  /** Streaming training-shard export — the continuous form of the
    * export family's tail: each micro-batch rides
    * [[graft.operators.Sharding.continueShards]], continuing the
    * token cumsum from the persisted cursor so the shard one
    * micro-batch leaves part-filled keeps filling in the next.
    * Exactly-once comes from the operator itself, not [[exactlyOnce]]:
    * the cursor swap is the committed marker (any batch id ≤ the
    * committed one no-ops — streaming batch ids are monotonic by
    * construction) and the shard rows write under
    * `(__batch_id, shard_id)` with dynamic overwrite, so a replay
    * rewrites its own partitions byte-identically. Same state layout
    * as the batch path — the two share `stateDir`.
    */
  def runIncrementalShards(
      spark: SparkSession,
      docs: DataFrame,
      keyCol: String,
      tokensCol: String,
      stateDir: String,
      checkpointDir: String,
      shardTokens: Long,
      salt: String = "shard"): StreamingQuery =
    availableNow(docs, checkpointDir) { (batch, bid) =>
      graft.operators.Sharding.continueShards(
        spark, batch, stateDir, keyCol, tokensCol, shardTokens,
        batchId = bid, salt = salt)
    }

  /** Streaming sequence-packing export — [[runIncrementalShards]]'s
    * twin over [[graft.operators.Sharding.continuePack]]: each
    * micro-batch extends the global token stream from the persisted
    * cursor, so context-window blocks keep filling across micro-batch
    * seams. Exactly-once comes from the operator (cursor swap = the
    * committed marker; `__batch_id` dynamic-overwrite partitions).
    */
  def runIncrementalPack(
      spark: SparkSession,
      docs: DataFrame,
      keyCol: String,
      tokensCol: String,
      stateDir: String,
      checkpointDir: String,
      blockTokens: Long,
      salt: String = "pack"): StreamingQuery =
    availableNow(docs, checkpointDir) { (batch, bid) =>
      graft.operators.Sharding.continuePack(
        spark, batch, stateDir, keyCol, tokensCol, blockTokens,
        batchId = bid, salt = salt)
    }
}
