package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, SubstringDedup}
import org.apache.spark.sql.functions._

class CorpusStreamSpec extends SparkSpec with StreamReplay {
  import spark.implicits._

  /** Row-value MULTISET of a state table (minus bookkeeping columns) —
    * duplicates from a replayed append would change the counts even
    * where the value SET is stable. Arrays normalize to Lists (raw
    * Array equality is reference identity and would never compare).
    */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toList.map(norm)
    case s: scala.collection.Seq[_] => s.toList.map(norm)
    case r: org.apache.spark.sql.Row => r.toSeq.toList.map(norm)
    case x => x
  }
  private def multiset(dir: String): Map[Any, Int] = {
    val df = graft.sources.Zone.readBatched(spark, dir).get
    df.collect().map(r => norm(r)).groupBy(identity)
      .map { case (k, v) => k -> v.size }
  }

  test("exactlyOnce: a throwing body leaves no marker and replays; batch " +
      "ids at or below the marker never reach the body") {
    import graft.sources.Zone
    import scala.jdk.CollectionConverters._
    val base = tmpDir("exactlyonce")
    val (inDir, state) = (s"$base/in", s"$base/state")
    Seq(1L, 2L).toDF("x").coalesce(1).write.parquet(inDir)
    Seq(3L).toDF("x").coalesce(1).write.mode("append").parquet(inDir)
    // the body runs on the driver's stream thread: plain shared state
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var failAt: Option[Long] = Some(1L)
    def start() = CorpusStream.exactlyOnce(spark,
        spark.readStream.schema("x BIGINT").option("maxFilesPerTrigger", 1)
          .parquet(inDir), state, s"$base/ckpt") { (batch, bid) =>
      calls.add(bid)
      Zone.appendBatch(batch, state, bid)
      if (failAt.contains(bid)) throw new IllegalStateException(s"crash in $bid")
    }
    def seen = calls.asScala.toList
    def rows = Zone.readBatched(spark, state).get.as[Long].collect().sorted.toList

    // batch 1's body throws after its append: no marker for it
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      start().awaitTermination()
    }
    assert(seen == List(0L, 1L))
    assert(Zone.lastCommittedBatch(spark, state).contains(0L))

    // the restart replays batch 1 through the body; its partition
    // rewrites itself, so no row doubles
    failAt = None
    start().awaitTermination()
    assert(seen == List(0L, 1L, 1L))
    assert(Zone.lastCommittedBatch(spark, state).contains(1L))
    assert(rows == List(1L, 2L, 3L))

    // a replayed batch AT the marker never calls the body
    dropNewestCommit(s"$base/ckpt")
    start().awaitTermination()
    assert(seen == List(0L, 1L, 1L))

    // nor does a new batch BELOW it (marker ahead of the checkpoint)
    Zone.markBatchCommitted(spark, state, 5L)
    Seq(4L).toDF("x").coalesce(1).write.mode("append").parquet(inDir)
    start().awaitTermination()
    assert(seen == List(0L, 1L, 1L))
    assert(Zone.lastCommittedBatch(spark, state).contains(5L))
    assert(rows == List(1L, 2L, 3L))
  }

  test("streamed increments produce exactly the batch pair set; index accumulates") {
    val base = tmpDir("corpusstream")
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")

    // arrival order: three slices land as separate parquet files
    val inDir = s"$base/in"
    corpus.filter($"doc_id" % 3 === 0).write.parquet(inDir)
    corpus.filter($"doc_id" % 3 === 1).write.mode("append").parquet(inDir)
    corpus.filter($"doc_id" % 3 === 2).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1) // force multiple micro-batches
      .parquet(inDir)
    val q = CorpusStream.runIncrementalNearDup(spark, stream,
      "text", "doc_id", s"$base/index", s"$base/pairs", s"$base/ckpt",
      threshold = 0.2)
    q.awaitTermination()

    // union of per-batch increments == one-shot batch pairs, exactly
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("id_a", "id_b").agg(max("est_jaccard").as("est"))
    val streamed = canon(spark.read.parquet(s"$base/pairs"))
    val batch = canon(Dedup.minHashLsh(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.2))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")

    // both index tables now hold every document
    val sigs = spark.read.parquet(s"$base/index/sigs")
    assert(sigs.select("id").distinct().count() == corpus.count())
    val bands = spark.read.parquet(s"$base/index/bands")
    assert(bands.select("id").distinct().count() == corpus.count())
    assert(!bands.columns.contains("sig"), "band index must stay narrow")

    // exactly-once: kill-and-replay the newest batch with the committed
    // marker ALSO gone (crash landed between the appends and the
    // marker) — the replayed appends overwrite their own __batch_id
    // partition, so every state table is value-identical INCLUDING
    // duplicate counts
    val before = Seq(s"$base/pairs", s"$base/index/sigs", s"$base/index/bands")
      .map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    val q2 = CorpusStream.runIncrementalNearDup(spark, spark.readStream
        .schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "text", "doc_id", s"$base/index", s"$base/pairs", s"$base/ckpt",
      threshold = 0.2)
    q2.awaitTermination()
    val after = Seq(s"$base/pairs", s"$base/index/sigs", s"$base/index/bands")
      .map(multiset)
    assert(after == before, "kill-and-replay changed state tables")

    // and a replay of a FULLY committed batch (marker present) is a
    // no-op too: the marker now records the replayed batch
    assert(graft.sources.Zone.lastCommittedBatch(spark, s"$base/index").nonEmpty)
  }

  test("streaming simhash increments == batch pair set; one-table index accumulates") {
    val base = tmpDir("simhashstream")
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val inDir = s"$base/in"
    corpus.filter($"doc_id" % 3 === 0).write.parquet(inDir)
    corpus.filter($"doc_id" % 3 === 1).write.mode("append").parquet(inDir)
    corpus.filter($"doc_id" % 3 === 2).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = CorpusStream.runIncrementalSimHash(spark, stream,
      "text", "doc_id", s"$base/index", s"$base/pairs", s"$base/ckpt")
    q.awaitTermination()

    // collected-set compare (pair lists are tiny at this SF): exceptAll's
    // ReplicateRows rewrite mis-binds over these frames in Spark 4
    // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) — value equality is the same
    // assertion without the fragile plan shape
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = key(spark.read.parquet(s"$base/pairs"))
    val batch = key(Dedup.simHashPairs(corpus, "text", "doc_id", maxHamming = 3))
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")

    // the single index table holds every document's 4 chunk rows + sig
    // (read through readBatched: the __batch_id partition column is
    // sink bookkeeping, not index schema)
    val idx = graft.sources.Zone.readBatched(spark, s"$base/index").get
    assert(idx.select("id").distinct().count() == corpus.count())
    assert(idx.count() == corpus.count() * 4)
    assert(idx.columns.toSet == Set("id", "sim", "chunk", "chunk_val"))

    // exactly-once: kill-and-replay the newest batch with the marker
    // gone — pair log and index value-identical including duplicate counts
    val before = Seq(s"$base/pairs", s"$base/index").map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    CorpusStream.runIncrementalSimHash(spark, spark.readStream
        .schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "text", "doc_id", s"$base/index", s"$base/pairs", s"$base/ckpt")
      .awaitTermination()
    assert(Seq(s"$base/pairs", s"$base/index").map(multiset) == before,
      "kill-and-replay changed state tables")
  }

  test("streaming BM25 index: probe == one-shot search; kill-and-replay " +
      "value-identical") {
    val base = tmpDir("bm25stream")
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val inDir = s"$base/in"
    corpus.filter($"doc_id" % 3 === 0).write.parquet(inDir)
    corpus.filter($"doc_id" % 3 === 1).write.mode("append").parquet(inDir)
    corpus.filter($"doc_id" % 3 === 2).write.mode("append").parquet(inDir)

    def start() = CorpusStream.runIncrementalSearchIndex(spark,
      spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      "text", "doc_id", s"$base/index", s"$base/ckpt")
    start().awaitTermination()

    val q = Seq("dup", "vector", "merge", "zzz")
    def probe() = graft.operators.Bm25.searchPostings(
        graft.sources.Zone.readBatched(spark, s"$base/index/postings").get,
        graft.sources.Zone.readBatched(spark, s"$base/index/lens").get,
        "doc_id", q, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val oneShot = graft.operators.Bm25
      .search(corpus, "text", "doc_id", q, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(probe().sorted == oneShot.sorted)

    // exactly-once: crash before the marker, replay, value-identical
    val before = Seq(s"$base/index/postings", s"$base/index/lens").map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    start().awaitTermination()
    val after = Seq(s"$base/index/postings", s"$base/index/lens").map(multiset)
    assert(after == before, "kill-and-replay changed the search index")
    assert(probe().sorted == oneShot.sorted)
  }

  test("streaming PQ codes: probe == one-shot ADC; frozen codebook " +
      "survives restart; kill-and-replay value-identical") {
    val base = tmpDir("pqstream")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val cb = graft.operators.Pq.train(emb, "vec_id", "embedding", 8, 16)
    val inDir = s"$base/in"
    emb.filter($"vec_id" % 3 === 0).write.parquet(inDir)
    emb.filter($"vec_id" % 3 === 1).write.mode("append").parquet(inDir)
    emb.filter($"vec_id" % 3 === 2).write.mode("append").parquet(inDir)

    def start() = CorpusStream.runIncrementalPqCodes(spark,
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      "embedding", "vec_id", cb, s"$base/index", s"$base/ckpt")
    start().awaitTermination()

    val (cbBack, codes) = (
      graft.operators.Pq.codebookFromDf(
        spark.read.parquet(s"$base/index/codebook")),
      graft.sources.Zone.readBatched(spark, s"$base/index/codes").get)
    assert(cbBack == cb, "codebook must round-trip the stream state")
    val q = emb.filter($"vec_id" < 5)
    def probe() = graft.operators.Pq.searchAdc(
        codes.drop("__batch_id"), q, "vec_id", "embedding", cb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = graft.operators.Pq.searchAdc(
        graft.operators.Pq.encode(emb, "vec_id", "embedding", cb),
        q, "vec_id", "embedding", cb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(probe().sorted == oneShot.sorted)

    val before = multiset(s"$base/index/codes")
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    start().awaitTermination()
    assert(multiset(s"$base/index/codes") == before,
      "kill-and-replay changed the codes table")

    // the codebook is frozen: a restart with a differently trained one
    // refuses before touching state (it would redefine every code)
    val cb2 = graft.operators.Pq.train(emb.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", 8, 16)
    assert(cb2 != cb)
    intercept[IllegalArgumentException] {
      CorpusStream.runIncrementalPqCodes(spark,
        spark.readStream.schema(emb.schema).parquet(inDir),
        "embedding", "vec_id", cb2, s"$base/index", s"$base/ckpt")
    }
    assert(graft.operators.Pq.codebookFromDf(
      spark.read.parquet(s"$base/index/codebook")) == cb)
    assert(multiset(s"$base/index/codes") == before)
  }

  test("streaming spans: monotonic micro-batches == one-shot span set; replay idempotent") {
    val base = tmpDir("spanstream")
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    // the span family's contract is MONOTONIC daily ids — slice by id
    // range (not % 3) and land each slice as ONE file so arrival order
    // follows id order
    val maxId = corpus.agg(org.apache.spark.sql.functions.max($"doc_id"))
      .head().getLong(0)
    val (c1, c2) = (maxId / 3, 2 * maxId / 3)
    val inDir = s"$base/in"
    corpus.filter($"doc_id" <= c1).coalesce(1).write.parquet(inDir)
    corpus.filter($"doc_id" > c1 && $"doc_id" <= c2).coalesce(1)
      .write.mode("append").parquet(inDir)
    corpus.filter($"doc_id" > c2).coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = CorpusStream.runIncrementalSpans(spark, stream,
      "text", "doc_id", s"$base/index", s"$base/spans", s"$base/ckpt", k = 8)
    q.awaitTermination()

    // union of per-batch spans == the one-shot full-corpus build
    // (collected-set compare — the exceptAll gotcha, as above)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "span_start", "span_end", "span_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = key(spark.read.parquet(s"$base/spans"))
    val batch = key(SubstringDedup.nonCanonicalSpans(corpus, "text", "doc_id", 8))
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")

    // index accumulates the corpus's distinct hash set (per-batch
    // appends may overlap — distinct-on-read is the contract)
    val idx = graft.sources.Zone.readBatched(spark, s"$base/index").get
    assert(idx.select("shingle_h").distinct().count() ==
      SubstringDedup.shingleIndex(corpus, "text", "doc_id", 8).count())

    // exactly-once: kill-and-replay the newest batch with the marker
    // gone — state tables value-identical including duplicate counts
    val before = Seq(s"$base/spans", s"$base/index").map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    val q2 = CorpusStream.runIncrementalSpans(spark, spark.readStream
        .schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "text", "doc_id", s"$base/index", s"$base/spans", s"$base/ckpt", k = 8)
    q2.awaitTermination()
    val after = Seq(s"$base/spans", s"$base/index").map(multiset)
    assert(after == before, "kill-and-replay changed state tables")
  }

  test("streaming shard export == one-shot day-major assignment; kill-and-replay value-identical") {
    import org.apache.spark.sql.expressions.Window
    val base = tmpDir("shardstream")
    val budget = 2000L
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("n_tokens",
        graft.functions.TextFunctions.tokenCount($"text").cast("long"))
      .select($"doc_id", $"n_tokens")
    val n = docs.agg(max($"doc_id")).head().getLong(0)
    val (c1, c2) = (n / 3, 2 * n / 3)
    val inDir = s"$base/in"
    docs.filter($"doc_id" <= c1).coalesce(1).write.parquet(inDir)
    docs.filter($"doc_id" > c1 && $"doc_id" <= c2).coalesce(1)
      .write.mode("append").parquet(inDir)
    docs.filter($"doc_id" > c2).coalesce(1).write.mode("append").parquet(inDir)

    val q = CorpusStream.runIncrementalShards(spark, spark.readStream
        .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "doc_id", "n_tokens", s"$base/state", s"$base/ckpt", budget)
    q.awaitTermination()

    // == the one-shot cumsum under micro-batch-major order. File-source
    // ordering note: batches arrive in file order = the three writes
    val u = graft.functions.AuditableHash.h60(
      concat(lit("shard:"), $"doc_id".cast("string")))
    val day = when($"doc_id" <= c1, 0).when($"doc_id" <= c2, 1).otherwise(2)
    val w = Window.orderBy(day, u, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val reference = docs
      .withColumn("cum", sum($"n_tokens").over(w))
      .withColumn("shard_id", floor(($"cum" - $"n_tokens") / budget).cast("long"))
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(s"$base/state/shards")
      .select($"doc_id", $"shard_id".cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == reference)

    // kill-and-replay the newest batch: the cursor marker short-circuits
    // and the dynamic-overwrite partitions rewrite byte-identically
    val before = multiset(s"$base/state/shards")
    dropNewestCommit(s"$base/ckpt")
    val q2 = CorpusStream.runIncrementalShards(spark, spark.readStream
        .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "doc_id", "n_tokens", s"$base/state", s"$base/ckpt", budget)
    q2.awaitTermination()
    assert(multiset(s"$base/state/shards") == before,
      "kill-and-replay changed the shard table")
    assert(spark.read.parquet(s"$base/state/_cursor").head().getLong(0) ==
      docs.agg(sum($"n_tokens")).head().getLong(0))
  }

  test("streaming pack export == one-shot day-major packing; kill-and-replay value-identical") {
    import org.apache.spark.sql.expressions.Window
    val base = tmpDir("packstream")
    val b = 512L
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("n_tokens",
        graft.functions.TextFunctions.tokenCount($"text").cast("long"))
      .select($"doc_id", $"n_tokens")
    val n = docs.agg(max($"doc_id")).head().getLong(0)
    val (c1, c2) = (n / 3, 2 * n / 3)
    val inDir = s"$base/in"
    docs.filter($"doc_id" <= c1).coalesce(1).write.parquet(inDir)
    docs.filter($"doc_id" > c1 && $"doc_id" <= c2).coalesce(1)
      .write.mode("append").parquet(inDir)
    docs.filter($"doc_id" > c2).coalesce(1).write.mode("append").parquet(inDir)

    val q = CorpusStream.runIncrementalPack(spark, spark.readStream
        .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "doc_id", "n_tokens", s"$base/state", s"$base/ckpt", b)
    q.awaitTermination()

    val u = graft.functions.AuditableHash.h60(
      concat(lit("pack:"), $"doc_id".cast("string")))
    val day = when($"doc_id" <= c1, 0).when($"doc_id" <= c2, 1).otherwise(2)
    val w = Window.orderBy(day, u, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val reference = docs
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", ($"cum" - $"n_tokens").as("tok_start"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(s"$base/state/packed")
      .select($"doc_id", $"tok_start")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == reference)

    val before = multiset(s"$base/state/packed")
    dropNewestCommit(s"$base/ckpt")
    val q2 = CorpusStream.runIncrementalPack(spark, spark.readStream
        .schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "doc_id", "n_tokens", s"$base/state", s"$base/ckpt", b)
    q2.awaitTermination()
    assert(multiset(s"$base/state/packed") == before,
      "kill-and-replay changed the packed map")
  }

  test("streaming embedding increments == batch LSH pair set; two-table index accumulates") {
    val base = tmpDir("embstream")
    val emb0 = graft.Tables.embeddings(spark, sfDir())
      .select("vec_id", "embedding")
    // plant exact copies of a few vectors under fresh ids (landing in
    // other slices than their originals): the fixture's vectors are
    // near-orthogonal, and without these the pair log stays empty
    val emb = emb0.unionByName(emb0.filter($"vec_id" < 12)
      .withColumn("vec_id", $"vec_id" + 1000000L))
    val inDir = s"$base/in"
    emb.filter($"vec_id" % 3 === 0).write.parquet(inDir)
    emb.filter($"vec_id" % 3 === 1).write.mode("append").parquet(inDir)
    emb.filter($"vec_id" % 3 === 2).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = CorpusStream.runIncrementalEmbeddingNearDup(spark, stream,
      "embedding", "vec_id", s"$base/index", s"$base/pairs", s"$base/ckpt",
      dim = 64, minCosine = 0.5)
    q.awaitTermination()

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // readBatched: a pair log whose every batch had zero rows holds no
    // data files at all (None ⇒ the empty set)
    val streamed = graft.sources.Zone.readBatched(spark, s"$base/pairs")
      .map(key).getOrElse(Set.empty)
    val batch = key(Dedup.embeddingNearDupLsh(emb, "embedding", "vec_id",
      minCosine = 0.5, dim = 64))
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty, "the planted copies must pair")

    val buckets = spark.read.parquet(s"$base/index/buckets")
    assert(buckets.select("id").distinct().count() == emb.count())
    assert(!buckets.columns.contains("qv"), "bucket index must stay narrow")
    assert(spark.read.parquet(s"$base/index/vecs").count() == emb.count())

    // exactly-once: kill-and-replay the newest batch with the marker
    // gone — pair log and both index tables value-identical
    val tables = Seq(s"$base/pairs", s"$base/index/vecs", s"$base/index/buckets")
    val before = tables.map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    CorpusStream.runIncrementalEmbeddingNearDup(spark, spark.readStream
        .schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "embedding", "vec_id", s"$base/index", s"$base/pairs", s"$base/ckpt",
      dim = 64, minCosine = 0.5).awaitTermination()
    assert(tables.map(multiset) == before, "kill-and-replay changed state tables")
  }

  test("streaming IVF maintenance: cells == frozen-codebook batch assignment; probe works") {
    val base = tmpDir("ivfstream")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val inDir = s"$base/in"
    emb.filter($"vec_id" % 3 === 0).write.parquet(inDir)
    emb.filter($"vec_id" % 3 === 1).write.mode("append").parquet(inDir)
    emb.filter($"vec_id" % 3 === 2).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = CorpusStream.runIncrementalAnnIndex(spark, stream,
      "embedding", "vec_id", s"$base/index", s"$base/ckpt", nCentroids = 8)
    q.awaitTermination()

    val cents = spark.read.parquet(s"$base/index/centroids")
    assert(cents.count() == 8)
    // streamed cells == the whole corpus assigned against the persisted
    // codebook in one shot (the incremental==batch property, end-to-end)
    def cellKey(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "centroid_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val streamed = spark.read.parquet(s"$base/index/cells")
    assert(streamed.count() == emb.count())
    assert(cellKey(streamed) ==
      cellKey(graft.operators.IvfIndex.assignIncrement(emb, "vec_id", "embedding", cents)))
    // and the persisted tables serve probes directly
    val hits = graft.operators.IvfIndex.probe(streamed, cents,
      emb.filter($"vec_id" < 3), "embedding", "vec_id", k = 5)
    assert(hits.count() == 15)

    // exactly-once where it bites hardest (probe has no per-id dedup —
    // a duplicated cell row would displace a real neighbor): replay the
    // newest batch with the marker gone; the cells partition overwrites
    // itself, so the count cannot double
    val cellsBefore = multiset(s"$base/index/cells")
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    val q2 = CorpusStream.runIncrementalAnnIndex(spark, spark.readStream
        .schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "embedding", "vec_id", s"$base/index", s"$base/ckpt", nCentroids = 8)
    q2.awaitTermination()
    assert(multiset(s"$base/index/cells") == cellsBefore,
      "ANN cells replay duplicated rows")
    assert(spark.read.parquet(s"$base/index/cells").count() == emb.count())
  }

  test("streaming SemDeDup: verdicts == frozen-codebook one-shot; kill-and-replay value-identical") {
    val base = tmpDir("semdedupstream")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    // monotonic id slices (the semantic-dedup verdict contract)
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val (c1, c2) = (maxId / 3, 2 * maxId / 3)
    val inDir = s"$base/in"
    emb.filter($"vec_id" <= c1).coalesce(1).write.parquet(inDir)
    emb.filter($"vec_id" > c1 && $"vec_id" <= c2).coalesce(1)
      .write.mode("append").parquet(inDir)
    emb.filter($"vec_id" > c2).coalesce(1).write.mode("append").parquet(inDir)

    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = CorpusStream.runIncrementalSemDedup(spark, stream(),
      "embedding", "vec_id", s"$base/index", s"$base/verdicts",
      s"$base/ckpt", nCentroids = 8, minCosine = 0.2)
    q.awaitTermination()

    // union of per-batch verdicts == the one-shot semantic dedup with
    // the SAME bootstrapped codebook over the whole corpus
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id", "sem_dup", "nn_cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
          Option(r.get(3)))).toSet
    val cents = spark.read.parquet(s"$base/index/centroids")
    val oneShot = key(graft.operators.Dedup.semDedupOnCells(
      graft.operators.IvfIndex
        .assignIncrement(emb, "vec_id", "embedding", cents).limit(0),
      graft.operators.IvfIndex
        .assignIncrement(emb, "vec_id", "embedding", cents),
      "vec_id", minCosine = 0.2))
    val streamed = key(spark.read.parquet(s"$base/verdicts"))
    assert(streamed == oneShot, s"streamed=${streamed.size} oneShot=${oneShot.size}")
    assert(streamed.exists(_._3), "expected at least one semantic dup")

    // exactly-once: kill-and-replay the newest batch — verdicts AND
    // cells value-identical including duplicate counts
    val before = Seq(s"$base/verdicts", s"$base/index/cells").map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    val q2 = CorpusStream.runIncrementalSemDedup(spark, stream(),
      "embedding", "vec_id", s"$base/index", s"$base/verdicts",
      s"$base/ckpt", nCentroids = 8, minCosine = 0.2)
    q2.awaitTermination()
    assert(Seq(s"$base/verdicts", s"$base/index/cells").map(multiset) == before,
      "kill-and-replay changed state tables")
  }

  test("streaming paragraphs: monotonic micro-batches == one-shot rebuild; replay idempotent") {
    val base = tmpDir("parastream")
    // plant cross-doc paragraph structure (shared header + text slices)
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"text".isNotNull)
      .select($"doc_id", concat_ws("\n\n",
        lit("hdr"), substring($"text", 1, 50),
        substring($"text", 51, 50)).as("body"))
    // paragraph family contract: MONOTONIC ids — slice by id range,
    // one file per slice so arrival order follows id order
    val maxId = corpus.agg(max($"doc_id")).head().getLong(0)
    val (c1, c2) = (maxId / 3, 2 * maxId / 3)
    val inDir = s"$base/in"
    corpus.filter($"doc_id" <= c1).coalesce(1).write.parquet(inDir)
    corpus.filter($"doc_id" > c1 && $"doc_id" <= c2).coalesce(1)
      .write.mode("append").parquet(inDir)
    corpus.filter($"doc_id" > c2).coalesce(1).write.mode("append").parquet(inDir)

    val q = CorpusStream.runIncrementalParagraphs(spark, spark.readStream
        .schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "body", "doc_id", s"$base/index", s"$base/dedup", s"$base/ckpt")
    q.awaitTermination()

    // union of per-batch rebuilds == the one-shot full-corpus build
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text_dedup", "n_paras", "n_kept", "n_dropped")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val streamed = key(spark.read.parquet(s"$base/dedup"))
    val batch = key(Dedup.paragraphDedup(corpus, "body", "doc_id"))
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    // dedup actually fired across batches (the shared header survives
    // only in the very first doc)
    assert(spark.read.parquet(s"$base/dedup")
      .filter($"n_dropped" > 0).count() > 0)

    // index accumulates every non-empty paragraph occurrence
    val idx = graft.sources.Zone.readBatched(spark, s"$base/index").get
    assert(multiset(s"$base/index").values.forall(_ == 1))
    assert(idx.count() ==
      Dedup.paraPostings(corpus, "body", "doc_id").count())

    // exactly-once: kill-and-replay the newest batch with the marker
    // gone — state tables value-identical including duplicate counts
    val before = Seq(s"$base/dedup", s"$base/index").map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/index")
    val q2 = CorpusStream.runIncrementalParagraphs(spark, spark.readStream
        .schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      "body", "doc_id", s"$base/index", s"$base/dedup", s"$base/ckpt")
    q2.awaitTermination()
    val after = Seq(s"$base/dedup", s"$base/index").map(multiset)
    assert(after == before, "kill-and-replay changed state tables")
  }

  test("streaming curation: micro-batches == curateWithState one-shot; kill-and-replay value-identical") {
    import graft.jobs.CorpusJob
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
      .withColumn("host",
        concat(lit("h"), $"doc_id" % 7, lit(".example.com")))
    val emb = graft.Tables.embeddings(spark, dir)
      .select($"vec_id".as("doc_id"), $"embedding")
    val bl = Seq("h3.example.com").toDF("domain")
    val cfg = CorpusJob.CurationConfig(budgetTokens = 20000L)
    val n = docs.agg(max($"doc_id")).head().getLong(0)
    val base = tmpDir("curstream")
    val state = s"$base/state"
    // bootstrap on the first third, then stream the rest as two
    // monotonic-id micro-batches (one file per slice, arrival = id order)
    val annA = CorpusJob.fitCurationState(spark,
        docs.filter($"doc_id" <= n / 3), state, cfg, Some(bl), Some(emb))
      .collect().map(_.toString).toSeq
    val inDir = s"$base/in"
    docs.filter($"doc_id" > n / 3 && $"doc_id" <= 2 * n / 3)
      .coalesce(1).write.parquet(inDir)
    docs.filter($"doc_id" > 2 * n / 3)
      .coalesce(1).write.mode("append").parquet(inDir)
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = CorpusStream.runIncrementalCuration(spark, stream(), state,
      s"$base/ckpt", cfg, Some(bl), Some(emb))
    q.awaitTermination()

    // bootstrap verdicts ∪ streamed per-batch verdicts == the one-shot
    // composition under the same frozen state (the family's reference
    // form, CorpusJobSpec's batch-twin oracle)
    val streamed = graft.sources.Zone
      .readBatched(spark, s"$state/curation/stream/annotated").get
      .drop("__batch_id").collect().map(_.toString).toSeq
    val st = CorpusJob.loadCurationState(spark, state, cfg)
    val cents = spark.read.parquet(s"$state/curation/cents")
    val ref = CorpusJob.curateWithState(docs, st, cfg, Some(bl), Some(emb),
        Some(cents))
      .collect().map(_.toString).toSeq
    assert((annA ++ streamed).sorted == ref.sorted,
      s"bootstrap (${annA.size}) + streamed (${streamed.size}) != one-shot (${ref.size})")

    // exactly-once: kill-and-replay the newest batch with the marker
    // gone — every stream state table value-identical, duplicate counts
    // included
    val tables = Seq("annotated", "paras", "shingles", "cells")
      .map(t => s"$state/curation/stream/$t")
    val before = tables.map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$state/curation/stream")
    val q2 = CorpusStream.runIncrementalCuration(spark, stream(), state,
      s"$base/ckpt", cfg, Some(bl), Some(emb))
    q2.awaitTermination()
    assert(tables.map(multiset) == before,
      "kill-and-replay changed curation stream state")

    // takedown over the stream tables is PARTITION-SCOPED: deleting
    // docs from the first streamed batch rewrites only its
    // __batch_id=0 partitions — every batch-1 file stays
    // byte-identical (sha256 audit trail)
    val annDir = s"$state/curation/stream/annotated"
    def shas(d: String) = graft.operators.Sharding.fileHashes(spark, d)
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    val before1 = shas(annDir).filter(_._1.startsWith("__batch_id=1"))
    val tomb = graft.sources.Zone.readBatched(spark, annDir).get
      .filter($"doc_id" > n / 3 && $"doc_id" <= 2 * n / 3)
      .select($"doc_id").limit(3).localCheckpoint(true)
    val nTomb = tomb.count()
    assert(nTomb > 0, "need stream-batch-0 docs to take down")
    val removed = graft.jobs.CorpusJob.deleteCurationDocs(spark, tomb, state)
    assert(removed >= nTomb, s"expected >= $nTomb rows removed, got $removed")
    assert(graft.sources.Zone.readBatched(spark, annDir).get
      .join(tomb, Seq("doc_id"), "left_semi").count() == 0)
    val after1 = shas(annDir).filter(_._1.startsWith("__batch_id=1"))
    assert(after1 == before1, "untouched batch partitions must stay byte-identical")
  }

  test("streaming sketches: merged state == one-shot over the whole " +
      "stream; kill-and-replay value-identical; compaction preserves " +
      "the merged values") {
    val base = tmpDir("sketchstream")
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderpriority"), col("o_custkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val inDir = s"$base/in"
    orders.filter($"o_custkey" % 3 === 0).write.parquet(inDir)
    orders.filter($"o_custkey" % 3 === 1).write.mode("append").parquet(inDir)
    orders.filter($"o_custkey" % 3 === 2).write.mode("append").parquet(inDir)

    val k = 64
    def start() = CorpusStream.runIncrementalSketches(spark,
      spark.readStream.schema(orders.schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      Seq("o_orderpriority"), "o_custkey", "cents",
      s"$base/state", s"$base/ckpt", k)
    start().awaitTermination()

    def snapshot(): (Seq[String], Seq[String]) = {
      val (theta, quant) = CorpusStream.readMergedSketches(spark,
        s"$base/state", Seq("o_orderpriority"), k)
      (graft.operators.ThetaSketch.estimate(theta, Seq("o_orderpriority"), k)
        .orderBy($"o_orderpriority").collect().map(_.toString).toSeq,
       quant.select($"o_orderpriority", $"sk.n", $"sk.level",
          graft.operators.QuantileSketch.sampleXor($"sk").as("xh"),
          graft.operators.QuantileSketch.estimate($"sk", 50).as("p50"))
        .orderBy($"o_orderpriority").collect().map(_.toString).toSeq)
    }
    val streamed = snapshot()

    // one-shot over the whole input — canonical merge makes them equal
    val wholeTheta = graft.operators.ThetaSketch.estimate(
      graft.operators.ThetaSketch.sketch(orders, Seq("o_orderpriority"),
        "o_custkey", k), Seq("o_orderpriority"), k)
      .orderBy($"o_orderpriority").collect().map(_.toString).toSeq
    val qAgg = udaf(new graft.operators.QuantileSketch.Agg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    val wholeQuant = orders
      .groupBy($"o_orderpriority")
      .agg(qAgg(graft.functions.AuditableHash.h60($"o_custkey"),
        $"cents").as("sk"))
      .select($"o_orderpriority", $"sk.n", $"sk.level",
        graft.operators.QuantileSketch.sampleXor($"sk").as("xh"),
        graft.operators.QuantileSketch.estimate($"sk", 50).as("p50"))
      .orderBy($"o_orderpriority").collect().map(_.toString).toSeq
    assert(streamed._1 == wholeTheta)
    assert(streamed._2 == wholeQuant)

    // exactly-once: crash before the marker, replay, value-identical
    val before = Seq(s"$base/state/theta", s"$base/state/quantile").map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/state")
    start().awaitTermination()
    assert(Seq(s"$base/state/theta", s"$base/state/quantile").map(multiset)
      == before, "kill-and-replay changed the sketch state")
    assert(snapshot() == streamed)

    // compaction folds the per-batch rows into a FRESH dir, values
    // unchanged; the old dir is untouched
    CorpusStream.compactSketchState(spark, s"$base/state",
      s"$base/state2", Seq("o_orderpriority"), k)
    def snapshot2(): (Seq[String], Seq[String]) = {
      val (theta, quant) = CorpusStream.readMergedSketches(spark,
        s"$base/state2", Seq("o_orderpriority"), k)
      (graft.operators.ThetaSketch.estimate(theta, Seq("o_orderpriority"), k)
        .orderBy($"o_orderpriority").collect().map(_.toString).toSeq,
       quant.select($"o_orderpriority", $"sk.n", $"sk.level",
          graft.operators.QuantileSketch.sampleXor($"sk").as("xh"),
          graft.operators.QuantileSketch.estimate($"sk", 50).as("p50"))
        .orderBy($"o_orderpriority").collect().map(_.toString).toSeq)
    }
    assert(snapshot2() == streamed)
    assert(snapshot() == streamed)
    // the compacted state is ONE batch partition per table (count the
    // actual __batch_id partition directories, not a row-count tautology)
    def nPartitions(dir: String) = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("__batch_id="))
    assert(nPartitions(s"$base/state2/theta") == 1)
    assert(nPartitions(s"$base/state2/quantile") == 1)
    assert(nPartitions(s"$base/state/theta") == 3) // originals untouched
    // a reused compaction target is refused (fresh-dir contract)
    intercept[IllegalArgumentException] {
      CorpusStream.compactSketchState(spark, s"$base/state",
        s"$base/state2", Seq("o_orderpriority"), k)
    }

    // an ORPHAN partition (appends landed, marker not yet advanced) is
    // invisible to readers until its batch commits
    graft.sources.Zone.appendBatch(
      spark.range(1).select(lit("9-FAKE").as("o_orderpriority"),
        lit(123L).as("h")),
      s"$base/state/theta", 99L)
    assert(snapshot() == streamed, "uncommitted partition leaked into reads")
  }

  test("streaming advisories (r13 legs): merged mixloss/skew/bloom == the " +
      "batch job's folded state; kill-and-replay value-identical; bloom " +
      "OR survives an UNGATED re-fold; parameter mismatch refuses") {
    import graft.operators.PortableBloom
    val base = tmpDir("corpusadv")
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val inDir = s"$base/in"
    corpus.filter($"doc_id" % 3 === 0).write.parquet(inDir)
    corpus.filter($"doc_id" % 3 === 1).write.mode("append").parquet(inDir)
    corpus.filter($"doc_id" % 3 === 2).write.mode("append").parquet(inDir)
    def start() = CorpusStream.runIncrementalAdvisories(spark,
      spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      s"$base/state", s"$base/ckpt")
    start().awaitTermination()

    // the batch twin: CorpusJob folds the same three slices daily
    val jobState = s"$base/job"
    val cfg = graft.jobs.CorpusJob.Config(nearDupThreshold = 0.5,
      maintainMixtureState = true, maintainSkewState = true,
      maintainBloomState = true)
    (0 to 2).foreach { i =>
      graft.jobs.CorpusJob.runIncremental(spark,
        corpus.filter($"doc_id" % 3 === i), jobState, cfg, Some(s"d$i"))
    }
    def snapshot(): (Map[String, (Long, Long)], Seq[Long], Seq[String],
        Set[String], Set[String]) = {
      val (mix, bloom, (theta, cm, cands)) =
        CorpusStream.readMergedAdvisories(spark, s"$base/state")
      (mix.collect().map(r =>
          r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap,
        PortableBloom.collectWords(bloom).toSeq,
        theta.orderBy(theta.columns.map(col): _*).collect()
          .map(_.toString).toSeq,
        cm.collect().map(_.toString).toSet,
        cands.collect().map(_.toString).toSet)
    }
    val streamed = snapshot()
    assert(streamed._1 == spark.read.parquet(s"$jobState/folded/mixloss")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap,
      "streamed mixloss diverged from the batch fold")
    assert(streamed._2 == PortableBloom.collectWords(
      spark.read.parquet(s"$jobState/folded/bloom")).toSeq,
      "streamed bloom filter diverged from the batch fold (bit-for-bit)")
    val foldedTheta = spark.read.parquet(s"$jobState/folded/skew/theta")
    assert(streamed._3 == foldedTheta.orderBy(foldedTheta.columns.map(col): _*)
      .collect().map(_.toString).toSeq,
      "streamed theta rows diverged from the batch fold")
    assert(streamed._4 == spark.read.parquet(s"$jobState/folded/skew/cm")
      .collect().map(_.toString).toSet,
      "streamed CountMin cells diverged from the batch fold")
    assert(streamed._5 == spark.read.parquet(s"$jobState/folded/skew/cands")
      .collect().map(_.toString).toSet,
      "streamed candidate set diverged from the batch fold")

    // exactly-once for the legs that NEED it (mixloss sums, CM cells):
    // crash before the marker, replay, every table value-identical
    val tables = Seq("mixloss", "skew/theta", "skew/cm", "skew/cands", "bloom")
      .map(t => s"$base/state/$t")
    val before = tables.map(multiset)
    simulateCrashBeforeCommit(s"$base/ckpt", s"$base/state")
    start().awaitTermination()
    assert(tables.map(multiset) == before,
      "kill-and-replay changed the advisory state")
    assert(snapshot() == streamed)

    // the bloom leg's WEAKER requirement, demonstrated directly:
    // word-wise OR is idempotent, so re-folding a batch's words WITHOUT
    // any gate is a bit-level no-op (the property the additive legs lack)
    val doubled = PortableBloom.merge(
      graft.sources.Zone.readBatched(spark, s"$base/state/bloom").get,
      PortableBloom.shingleSketch(
        corpus.filter($"doc_id" % 3 === 0), "text", "doc_id", 3))(Nil)
    assert(PortableBloom.collectWords(doubled).toSeq == streamed._2,
      "an ungated bloom re-fold must be a bit-level no-op")

    // parameter pin: a restart at different sketch parameters refuses
    // the moment it sees a NEW batch (committed batches no-op on the
    // marker gate first — that path never touches the state)
    corpus.filter($"doc_id" % 3 === 0).limit(5)
      .write.mode("append").parquet(inDir)
    val bad = CorpusStream.runIncrementalAdvisories(spark,
      spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      s"$base/state", s"$base/ckpt", shingleSize = 5)
    val e = intercept[Exception] { bad.awaitTermination() }
    assert(e.getMessage.contains("other parameters") ||
      Option(e.getCause).exists(_.getMessage.contains("other parameters")))
  }
}
