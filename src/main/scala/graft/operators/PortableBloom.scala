package graft.operators

import graft.functions.AuditableHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Portable Bloom filter: approximate set MEMBERSHIP as an
  * engine-neutral *table* of integer bit-words — completing the sketch
  * lattice ([[HllSketch]] answers "how many distinct", [[CountMin]]
  * "how often", [[ThetaSketch]] "how many in the intersection",
  * [[QuantileSketch]] "what value at rank p"; this answers "have we
  * seen THIS one") (Bloom, "Space/time trade-offs in hash coding with
  * allowable errors", CACM 1970).
  *
  * The engine already has [[BloomJoin]] for join pruning — that one
  * rides Spark's opaque `util.sketch` blob (engine-specific, like
  * q34's HLL++ bytes) and lives and dies inside one JVM's plans. This
  * operator is its persistent, auditable sibling, built for the
  * membership sets a 100 TB curation pipeline must MAINTAIN:
  *
  *  - **Benchmark-shingle decontamination at any benchmark size**
  *    ([[Decontaminate.overlap]] broadcasts the eval set's distinct
  *    shingles — right for a few-MB eval suite, impossible when the
  *    "do not train on this" set is 10⁹ shingles. m bits with k probes
  *    bound the memory at m/8 bytes regardless of set size, the Dolma
  *    design: Soldaini et al. 2024, §2.2, deduplicate 3T tokens
  *    against a fixed-size Bloom.) False positives only — a Bloom
  *    NEVER misses a real hit, so decontamination stays sound: FPs
  *    drop extra clean documents (a bounded recall tax, never leakage).
  *  - **Mergeable daily state**: bit-words OR cell-wise — associative,
  *    commutative, idempotent — so per-day/per-source filters roll up
  *    by `bit_or` without rescanning history, and REPLAYED days fold
  *    in as no-ops (idempotence is the property the counting sketches
  *    lack: re-adding a day double-counts a CountMin, but ORing the
  *    same bits twice is the same filter — the natural fit for the
  *    at-least-once delivery a crawl pipeline actually has).
  *  - **Auditability**: positions come from the [[AuditableHash]]
  *    universal family (constants derived from literal strings
  *    `bloom:a:i` / `bloom:b:i`, same discipline as [[CountMin]]), so
  *    the DuckDB oracle rebuilds the identical words and the gate
  *    hash-matches the filter itself, not just a summary (q194–q197).
  *
  * Layout: bit position `p_i(v) = ((a_i·h30(v) + b_i) mod P) mod m`
  * for i < k; the m bits pack into ⌈m/32⌉ words of 32 bits each
  * stored as BIGINT rows `(word INT, bits BIGINT)` — 32-bit words keep
  * every value positive and every shift below any engine's signed-64
  * edge cases. Only words with at least one set bit materialize as
  * rows. False-positive rate after n insertions: (1 − e^(−kn/m))^k —
  * at the default m=16384, k=4 that is ~0.24% at n = m/8 = 2048 keys
  * and ~2.4% at n = m/4; size m to the set, the geometry persists in
  * the state meta so a mismatched read fails loudly.
  *
  * Scale shape: the sketch is ≤ m/32 rows (512 at the default) no
  * matter how many keys went in — it collects to the driver as a
  * bounded `Array[Long]` (the codebook discipline) and probes embed it
  * in-plan ([[probe]]): membership on the 100 TB scan side is pure
  * per-row arithmetic inside whole-stage codegen, NO join, NO shuffle,
  * no broadcast of the raw key set.
  */
object PortableBloom {

  /** Bits per packed word (32: positive in BIGINT, shift-safe). */
  val BitsPerWord: Int = 32

  /** Default filter size in bits (512 words). */
  val DefaultM: Int = 16384

  /** Default number of hash probes. */
  val DefaultK: Int = 4

  /** Multiplier of hash row i: `h60("bloom:a:i") mod (2^30−1) + 1`. */
  def bloomA(i: Int): Long = AuditableHash.h60(s"bloom:a:$i") % (AuditableHash.M30 - 1) + 1

  /** Offset of hash row i: `h60("bloom:b:i") mod P`. */
  def bloomB(i: Int): Long = AuditableHash.h60(s"bloom:b:$i") % AuditableHash.P

  /** Bit position of hash row i from a PRE-REDUCED 30-bit hash column —
    * the form every plan below feeds (the md5 runs ONCE per row in a
    * projection; the k probe positions are integer multiply-adds over
    * the shared hash, not k md5 calls). a·h < 2^60, +b < 2^60+2^31 —
    * no signed-64 wrap under ANSI mode.
    */
  def posFromHash(i: Int, h: Column, m: Int): Column =
    ((lit(bloomA(i)) * h + lit(bloomB(i))) % lit(AuditableHash.P)) % lit(m.toLong)

  /** The geometry tag [[sketch]] stamps on the `bits` column — (m, k)
    * as column METADATA, so it rides the frame through select/filter
    * and parquet round-trips without changing the data (the gate
    * hashes are untouched). Geometry-free helpers like [[stats]]
    * ignore it; every PROBE surface validates it: bits set under one
    * geometry probed under another produce silent FALSE NEGATIVES —
    * the one failure mode that breaks decontamination soundness
    * (ADVICE r13). Mirrors [[writeState]]'s meta-table discipline at
    * the frame level.
    */
  private def geomMetadata(m: Int, k: Int): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("bloom_m", m.toLong).putLong("bloom_k", k.toLong).build()

  /** The (m, k) a sketch frame's `bits` column carries (attached by
    * [[sketch]], propagated by [[merge]], preserved by parquet); None
    * for frames that predate the tagging or lost it to a re-aggregate.
    */
  def frameGeometry(df: DataFrame): Option[(Int, Int)] =
    df.schema.fields.find(_.name == "bits").flatMap { f =>
      if (f.metadata.contains("bloom_m") && f.metadata.contains("bloom_k"))
        Some((f.metadata.getLong("bloom_m").toInt, f.metadata.getLong("bloom_k").toInt))
      else None
    }

  private def requireGeometry(df: DataFrame, m: Int, k: Int, what: String): Unit =
    frameGeometry(df).foreach { case (sm, sk) =>
      require(sm == m && sk == k,
        s"$what: sketch carries geometry m=$sm/k=$sk but is being probed " +
          s"with m=$m/k=$k — mismatched positions would produce silent false negatives")
    }

  /** `1L << (pos mod 32)` with a column shift amount (the Scala
    * `shiftleft` wrapper only takes a literal Int; the catalyst
    * expression takes any child — same codegen either way).
    */
  private def maskOf(pos: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      ColumnBridge.expression(lit(1L)),
      ColumnBridge.expression((pos % lit(BitsPerWord.toLong)).cast("int"))))
  }

  /** Build the filter table: one row per (groupCols, word) with the
    * OR of all set bits. One shuffle keyed on (group, word); `bit_or`
    * partially aggregates map-side, so the exchange is bounded at
    * ⌈m/32⌉ rows per group per task regardless of input size. NULL
    * values carry no membership claim and are skipped (they could
    * never probe true).
    */
  def sketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      m: Int = DefaultM, k: Int = DefaultK): DataFrame = {
    require(m % BitsPerWord == 0 && m > 0, s"m must be a positive multiple of $BitsPerWord, got $m")
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    val probes = (0 until k).map { i =>
      val pos = posFromHash(i, col("__h"), m)
      struct(shiftright(pos, 5).cast("int").as("word"), maskOf(pos).as("mask"))
    }
    df.filter(col(valueCol).isNotNull)
      // ONE md5 per row here; the k positions above are multiply-adds
      .select(groupCols.map(col) :+ AuditableHash.base30(col(valueCol)).as("__h"): _*)
      .select(groupCols.map(col) :+ explode(array(probes: _*)).as("wm"): _*)
      .groupBy(groupCols.map(col) :+ col("wm.word").as("word"): _*)
      .agg(expr("bit_or(wm.mask)").as("bits", geomMetadata(m, k)))
  }

  /** Merge filters built with the same (m, k): word-wise OR.
    * Associative, commutative, idempotent — daily partitions roll up
    * exactly, and replaying a day is a no-op. Inputs carrying a
    * geometry tag must agree (ORing words from two geometries is
    * noise, not a filter); the common tag propagates to the output
    * only when EVERY input carries it — an untagged input (pre-r14
    * state, or a frame that lost the tag to a re-aggregate) makes no
    * geometry claim, so stamping the mix with the tagged inputs'
    * (m, k) would launder unvalidated bits into state downstream
    * probes then treat as validated (ADVICE r14). A mixed merge
    * yields an untagged output, which keeps the probes' bounds-check
    * backstop live instead of a false validation.
    */
  def merge(sketches: DataFrame*)(groupCols: Seq[String]): DataFrame = {
    val geoms = sketches.flatMap(frameGeometry).distinct
    require(geoms.size <= 1,
      s"merging sketches with mismatched geometries ${geoms.mkString(", ")} — " +
        "bits set under different (m, k) OR into noise")
    val allTagged = sketches.forall(frameGeometry(_).isDefined)
    val merged = sketches.reduce(_ unionByName _)
      .groupBy((groupCols :+ "word").map(col): _*)
    geoms.headOption match {
      case Some((m, k)) if allTagged =>
        merged.agg(expr("bit_or(bits)").as("bits", geomMetadata(m, k)))
      case _ => merged.agg(expr("bit_or(bits)").as("bits"))
    }
  }

  /** Occupancy summary per group: rows (words with ≥1 set bit) and
    * total set bits — the load-factor dial (FP rate rises with
    * bits_set/m; past ~half full, grow m and rebuild).
    */
  def stats(sketchDf: DataFrame, groupCols: Seq[String]): DataFrame =
    sketchDf.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_words_set"),
        sum(bit_count(col("bits")).cast("long")).as("bits_set"))

  /** The lifecycle decision for a MAINTAINED filter (r13 verdict task
    * 4 — the auto-salt discipline applied to membership state):
    * membership bits are not subtractive, so adds only RAISE occupancy
    * (FP rate tracks the load factor: past ~half full, the (1−e^(−kn/m))^k
    * curve climbs fast) and takedowns leave bits claiming membership
    * for deleted keys (sound — FPs never leak — but an accumulating
    * recall tax). Rebuild when either dial trips: occupancy at/past
    * `loadFactor` of m, or takedown volume since the last build
    * at/past `takedownLimit` (any physical-delete pass is the natural
    * moment to stop claiming deleted membership). An empty filter
    * never needs a rebuild; a fresh lightly-loaded one with no
    * takedowns never trips either dial.
    */
  def needsRebuild(sketchDf: DataFrame, m: Int = DefaultM,
      takedownsSinceBuild: Long = 0L, loadFactor: Double = 0.5,
      takedownLimit: Long = 1L): Boolean = {
    require(loadFactor > 0.0 && loadFactor <= 1.0,
      s"loadFactor must be in (0, 1], got $loadFactor")
    require(takedownLimit >= 1L, s"takedownLimit must be >= 1, got $takedownLimit")
    if (takedownsSinceBuild >= takedownLimit) true
    else {
      val s = stats(sketchDf, Nil).collect()
      s.nonEmpty && s.head.getAs[Long]("bits_set").toDouble / m >= loadFactor
    }
  }

  /** Join-side membership probe for GROUPED filters: appends `member`
    * (1/0) to `keys` — 1 iff all k bits are set in that group's
    * filter. The sketch side is ≤ groups × m/32 rows → broadcasts;
    * the keys side explodes k-fold, aggregates straight back on the
    * key columns. A key probed against a group with no filter rows is
    * a clean miss (empty filter contains nothing). For ungrouped
    * hot-path probes prefer [[probe]] — no join at all.
    */
  def mightContain(sketchDf: DataFrame, keys: DataFrame, groupCols: Seq[String],
      valueCol: String, m: Int = DefaultM, k: Int = DefaultK): DataFrame = {
    requireGeometry(sketchDf, m, k, "mightContain")
    val probes = keys
      .select(keys.columns.map(col) :+ AuditableHash.base30(col(valueCol)).as("__h"): _*)
      .select(keys.columns.map(col) :+
        explode(array((0 until k).map { i =>
          val pos = posFromHash(i, col("__h"), m)
          struct(shiftright(pos, 5).cast("int").as("word"), maskOf(pos).as("mask"))
        }: _*)).as("wm"): _*)
      .select(keys.columns.map(col) :+ col("wm.word").as("word") :+ col("wm.mask").as("mask"): _*)
    probes.join(broadcast(sketchDf), groupCols :+ "word", "left")
      .withColumn("__hit",
        when(coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask")) =!= 0L, 1).otherwise(0))
      .groupBy(keys.columns.map(col): _*)
      .agg(min(col("__hit")).as("__m"))
      // three-valued like [[probe]]: a NULL key makes no membership
      // claim — member=0 here would read as a definite "not in set"
      // and a dedup gate would admit NULL-keyed rows unconditionally
      .withColumn("member",
        when(col(valueCol).isNull, lit(null).cast("int")).otherwise(col("__m")))
      .drop("__m")
  }

  /** An UNGROUPED filter pulled to the driver as a dense word array —
    * bounded at ⌈m/32⌉ longs (the codebook discipline; 4 KiB at the
    * default), the form [[probe]] embeds in-plan.
    */
  def collectWords(sketchDf: DataFrame, m: Int = DefaultM): Array[Long] = {
    // a tagged frame validates m directly (k is the probe's business);
    // the bounds check below remains the untagged frames' backstop —
    // it catches a SMALLER true m only when a high word happens to be
    // set, which is exactly the silent-false-negative gap the tag closes
    frameGeometry(sketchDf).foreach { case (sm, _) =>
      require(sm == m,
        s"collectWords: sketch carries geometry m=$sm but was read with m=$m — " +
          "probes at the wrong positions would produce silent false negatives")
    }
    val words = new Array[Long](m / BitsPerWord)
    sketchDf.select(col("word"), col("bits")).collect().foreach { r =>
      val w = r.getInt(0)
      require(w >= 0 && w < words.length,
        s"word index $w outside [0, ${words.length}) — sketch built with a different m than $m")
      words(w) |= r.getLong(1)
    }
    words
  }

  /** The hot-path membership probe: a pure Column over an embedded
    * word array — `element_at(words, word+1) & mask ≠ 0` for all k
    * rows, per-row arithmetic inside whole-stage codegen. This is what
    * sits on the 100 TB scan: no join, no shuffle, no broadcast
    * variable lifecycle — the filter rides the plan like
    * [[graft.plans.BloomMightContain]]'s blob, but as portable
    * integer rows any engine can re-derive. NULL probes NULL (no
    * membership claim), the three-valued convention filters compose
    * with.
    */
  def probe(words: Array[Long], m: Int = DefaultM, k: Int = DefaultK)(v: Column): Column =
    probeFromHash(words, m, k)(AuditableHash.base30(v))

  /** [[probe]] over a pre-projected [[AuditableHash.base30]] hash
    * column — the hot-path form: the md5 runs once per row in the
    * caller's projection; this Column is k element_at+mask tests of
    * integer multiply-adds over the shared hash.
    */
  def probeFromHash(words: Array[Long], m: Int = DefaultM, k: Int = DefaultK)(h: Column): Column = {
    require(words.length == m / BitsPerWord,
      s"word array has ${words.length} words; m=$m needs ${m / BitsPerWord}")
    val arr = typedlit(words.toSeq)
    (0 until k).map { i =>
      val pos = posFromHash(i, h, m)
      (element_at(arr, shiftright(pos, 5).cast("int") + 1)
        .bitwiseAND(maskOf(pos)) =!= 0L)
    }.reduce(_ && _)
  }

  // ---- persisted state (the daily-maintenance surface) -------------------

  /** Write (or append a day into) a filter state dir. The geometry
    * (m, k) pins the dir via a 1-row meta table — written on build,
    * validated on every append and read, because bits set under one
    * geometry are noise under another (the [[Salting.writeSkewState]]
    * discipline). A (re)build swaps words AND meta through ONE atomic
    * [[graft.sources.Zone.overwriteAllInPlace]] rename (ADVICE r13:
    * sequential writes left a crash window where meta claimed the new
    * geometry over old-geometry words — corrupt state readers would
    * trust). Appends are plain parquet appends of the increment's
    * word rows; readers OR on read, so append-then-read equals
    * rebuild-from-everything EXACTLY (OR associativity + idempotence
    * — PortableBloomSpec pins it).
    */
  def writeState(df: DataFrame, valueCol: String, dir: String,
      m: Int = DefaultM, k: Int = DefaultK, overwrite: Boolean = true): Unit = {
    val spark = df.sparkSession
    val words = sketch(df, Nil, valueCol, m, k)
    readStateMeta(spark, dir) match {
      case Some((sm, sk)) if !overwrite =>
        require(sm == m && sk == k,
          s"bloom state at $dir was written with m=$sm/k=$sk; " +
            s"appending with m=$m/k=$k would corrupt it")
        words.write.mode("append").parquet(s"$dir/words")
      case _ =>
        import spark.implicits._
        graft.sources.Zone.overwriteAllInPlace(spark,
          Seq("words" -> words, "meta" -> Seq((m, k)).toDF("m", "k")), dir)
    }
  }

  /** Fold a daily increment into existing state (validated append). */
  def appendState(df: DataFrame, valueCol: String, dir: String,
      m: Int = DefaultM, k: Int = DefaultK): Unit =
    writeState(df, valueCol, dir, m, k, overwrite = false)

  /** The state's geometry `(m, k)`, validated to exist — reading bits
    * without their geometry is meaningless, so a dir without meta
    * fails loudly rather than guessing defaults.
    */
  def readStateMeta(spark: SparkSession, dir: String): Option[(Int, Int)] = {
    // probe the ROOT first: promotes a crashed writeState swap
    // (delete-then-rename window) before any sub-table read
    graft.sources.Zone.exists(spark, dir)
    graft.sources.Zone.readIfExists(spark, s"$dir/meta").map { mdf =>
      val r = mdf.head()
      (r.getAs[Int]("m"), r.getAs[Int]("k"))
    }
  }

  /** Read a state dir back as ONE merged filter table (word-wise OR
    * over however many appends landed) plus its geometry. State-sized
    * work — the corpus is never touched.
    */
  def readMergedState(spark: SparkSession, dir: String): (DataFrame, Int, Int) = {
    val (m, k) = readStateMeta(spark, dir).getOrElse(
      throw new IllegalStateException(s"no bloom state meta at $dir"))
    (merge(spark.read.parquet(s"$dir/words"))(Nil), m, k)
  }

  /** [[writeState]] over a document table's word shingles — the form a
    * curation pipeline maintains daily ("every shingle the corpus has
    * already absorbed" / "every shingle of the do-not-train set"):
    * shingling rides the same one-pass native kernel as the dedup
    * family, and the state the day leaves behind is ≤ m/32 word rows.
    */
  def writeShingleState(docs: DataFrame, textCol: String, idCol: String,
      dir: String, n: Int = 3, m: Int = DefaultM, k: Int = DefaultK,
      overwrite: Boolean = true): Unit =
    writeState(Dedup.shingleRows(docs, textCol, idCol, Nil, n), "shingle",
      dir, m, k, overwrite)

  /** Daily-increment fold of [[writeShingleState]]. */
  def appendShingleState(docs: DataFrame, textCol: String, idCol: String,
      dir: String, n: Int = 3, m: Int = DefaultM, k: Int = DefaultK): Unit =
    writeShingleState(docs, textCol, idCol, dir, n, m, k, overwrite = false)

  // ---- the decontamination composition ------------------------------------

  /** A document table's word-shingle filter as sketch rows — the
    * frame-level form state maintainers fold (`bit_or` is idempotent,
    * so no distinct pass is needed before the sketch).
    */
  def shingleSketch(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, m: Int = DefaultM, k: Int = DefaultK): DataFrame =
    sketch(Dedup.shingleRows(docs, textCol, idCol, Nil, n),
      Nil, "shingle", m, k)

  /** A benchmark's shingle set as a driver-held word array — the
    * "do not train on this" filter [[contaminationByBloom]] probes.
    */
  def benchmarkFilter(benchmark: DataFrame, textCol: String, idCol: String,
      n: Int = 3, m: Int = DefaultM, k: Int = DefaultK): Array[Long] =
    collectWords(shingleSketch(benchmark, textCol, idCol, n, m, k), m)

  /** [[Decontaminate.overlap]]'s scale path: per corpus document, how
    * many of its distinct shingles hit a benchmark Bloom — `(idCol,
    * n_shingles, n_bloom_hits)`. The filter embeds in-plan
    * ([[probe]]), so the corpus side is one shingling pass + one
    * aggregate keyed on doc id; nothing benchmark-sized ships
    * anywhere. `n_bloom_hits ≥` the exact overlap count always (no
    * false negatives), so a threshold on the Bloom ratio drops a
    * SUPERSET of the truly contaminated documents — sound for
    * decontamination, with the FP tax bounded by the filter's load
    * factor.
    */
  def contaminationByBloom(corpus: DataFrame, words: Array[Long],
      textCol: String, idCol: String, n: Int = 3,
      m: Int = DefaultM, k: Int = DefaultK): DataFrame =
    Dedup.shingleRows(corpus, textCol, idCol, Nil, n)
      // md5 once per shingle; the aggregate probes the shared hash
      .select(col("id"), AuditableHash.base30(col("shingle")).as("__h"))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(probeFromHash(words, m, k)(col("__h")), 1L).otherwise(0L))
          .as("n_bloom_hits"))
}
