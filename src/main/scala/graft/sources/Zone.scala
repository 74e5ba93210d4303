package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-zone primitives shared by the jobs and the audit store. */
object Zone {

  /** Read a table directory, or None if it doesn't exist yet.
    *
    * Existence is checked explicitly (Hadoop FS): a blanket
    * `catch { _ => empty }` around the read would also swallow corrupt
    * footers and transient IO errors — and the caller's subsequent
    * overwrite would silently wipe the accumulated table. Real read
    * errors must propagate.
    */
  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rewriteTmp(dir: String) = dir + "__rewrite"

  /** Crash recovery for [[overwriteInPlace]]: if the target vanished
    * mid-swap but the completed rewrite temp survives, promote it.
    * Called from every existence probe so readers self-heal.
    */
  private def recover(spark: SparkSession, dir: String): Unit = {
    val target = new Path(dir)
    val tmp = new Path(rewriteTmp(dir))
    val f = fs(spark, target)
    if (!f.exists(target) && f.exists(tmp)) f.rename(tmp, target)
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    recover(spark, dir)
    val path = new Path(dir)
    fs(spark, path).exists(path)
  }

  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(spark.read.parquet(dir)) else None

  /** [[readIfExists]] with the table's schema pinned: no schema
    * discovery (a schema-less parquet read runs a one-task footer-merge
    * job on every read), and columns come back in `schema`'s order.
    */
  def readIfExists(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] =
    if (exists(spark, dir)) Some(spark.read.schema(schema).parquet(dir)) else None

  /** Overwrite `dir` with `df` when `df`'s plan reads from `dir`
    * itself (parquet can't overwrite its own input): materialize fully
    * to a temp sibling, then swap via delete+rename. The swap is two
    * metadata ops, not a re-write — a crash between them leaves the
    * completed temp on disk, and [[recover]] promotes it on the next
    * read (the old read-back-and-rewrite approach could crash mid-write
    * and leave only a truncated target).
    */
  def overwriteInPlace(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    val tmp = new Path(rewriteTmp(dir))
    val target = new Path(dir)
    val f = fs(spark, target)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (f.exists(target)) f.delete(target, true)
    require(f.rename(tmp, target), s"atomic swap failed: $tmp -> $target")
  }

  /** [[overwriteInPlace]] for a ROOT of several sibling tables with ONE
    * atomic rename: every frame lands under `root__rewrite/<name>`,
    * then the whole root swaps. Either all tables advance together or
    * none does — the multi-table transactionality two sequential
    * [[overwriteInPlace]] calls cannot give (a crash between their
    * renames leaves table A folded and table B not, which is exactly
    * how an additive fold double-counts on replay). Input plans may
    * read the current tables under `root`; a mid-write crash leaves
    * only the staging root (deleted on the next attempt), and a crash
    * between delete and rename is healed by [[recover]] on the next
    * existence probe of `root` — callers should probe the ROOT (not a
    * subtable) first so the promotion fires.
    */
  def overwriteAllInPlace(spark: SparkSession,
      tables: Seq[(String, DataFrame)], root: String): Unit = {
    val tmp = new Path(rewriteTmp(root))
    val target = new Path(root)
    val f = fs(spark, target)
    // leftover staging from a crashed PREVIOUS attempt: safe to drop —
    // if the target were missing (crash between delete and rename),
    // the caller's exists() probe already promoted the staging root
    if (f.exists(tmp)) f.delete(tmp, true)
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(new Path(tmp, name).toString)
    }
    if (f.exists(target)) f.delete(target, true)
    require(f.rename(tmp, target), s"atomic swap failed: $tmp -> $target")
  }

  // ---- idempotent micro-batch appends --------------------------------------

  /** Idempotent micro-batch append for `foreachBatch` sinks: rows land
    * under a `__batch_id=<id>` partition via DYNAMIC partition
    * overwrite, so a REPLAYED batch (foreachBatch is at-least-once —
    * a crash after the append but before the streaming checkpoint
    * commits re-runs the batch) rewrites its own partition with the
    * same deterministic values instead of appending duplicates. Other
    * batches' partitions are untouched. This is what upgrades the pair
    * logs' "consumers dedupe on their keys" contract to true
    * exactly-once state, and what keeps a replayed IVF cells append
    * from double-inserting a vector into the probe ranking.
    *
    * The partition directory name contains `=`, so Spark's hidden-path
    * rule keeps it listable despite the leading underscore; read the
    * table back through [[readBatched]] to drop the bookkeeping column.
    */
  def appendBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write
      .partitionBy("__batch_id")
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dir)

  /** A batch-partitioned table dir that exists but holds NO data files
    * yet: every batch so far had zero rows — a zero-row dynamic
    * partition overwrite creates no partition dirs, unlike the plain
    * append's schema-bearing empty file. Distinguished from corrupt
    * footers (which must propagate) by the error class.
    */
  private def readBatchedRaw(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!exists(spark, dir)) None
    else try Some(spark.read.parquet(dir))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
    }

  /** [[readIfExists]] for tables written by [[appendBatch]]: drops the
    * `__batch_id` bookkeeping partition column so consumers see the
    * logical schema. None when the table has no data yet (including
    * the all-batches-were-empty case).
    */
  def readBatched(spark: SparkSession, dir: String): Option[DataFrame] =
    readBatchedRaw(spark, dir).map(df =>
      if (df.columns.contains("__batch_id")) df.drop("__batch_id") else df)

  /** [[readBatched]] restricted to batches BEFORE `batchId` — the
    * snapshot a foreachBatch body must read of its OWN state tables:
    * a replayed batch already appended its `__batch_id=<id>` partition
    * before the crash, and an unfiltered read would hand the recompute
    * an index containing the batch's own rows (duplicating every
    * per-pair signature fetch, among other corruption). The filter is
    * on the partition column, so it prunes files, not rows.
    */
  def readBatchedBefore(spark: SparkSession, dir: String,
      batchId: Long): Option[DataFrame] =
    readBatchedRaw(spark, dir).map(df =>
      if (df.columns.contains("__batch_id"))
        df.filter(org.apache.spark.sql.functions.col("__batch_id") < batchId)
          .drop("__batch_id")
      else df)

  /** Remove every row of `dir` whose `idName` equals a key in `del`
    * (single-column frame of long keys) — the takedown primitive for
    * attributed state tables. Two layouts, one contract:
    *
    *   - a PLAIN table rewrites whole through the [[overwriteInPlace]]
    *     atomic swap (the anti-joined survivor set materializes to the
    *     temp sibling before the target is touched);
    *   - a BATCH-PARTITIONED table ([[appendBatch]] layout) rewrites
    *     ONLY the `__batch_id` partitions containing hits, with the
    *     redact-shards crash contract: partitions the redaction leaves
    *     EMPTY are removed FIRST (their every row is a deleted doc, so
    *     directory removal IS the redaction, and dynamic overwrite
    *     would never rewrite a zero-row partition), then the
    *     partially-hit partitions dynamic-overwrite idempotently. A
    *     takedown against years of accumulated batches touches the
    *     handful of partitions the docs landed in, never the table.
    *
    * Idempotent: a replay finds no hits and returns 0. Returns rows
    * removed.
    */
  def redactByKey(spark: SparkSession, dir: String, del: DataFrame,
      idName: String): Long = {
    import org.apache.spark.sql.functions.col
    if (!exists(spark, dir)) return 0L
    val allOpt =
      try Some(spark.read.parquet(dir))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }
    allOpt match {
      case None => 0L
      case Some(all) =>
        val delKeys = del.select(col(del.columns.head).cast("long").as("__del"))
        def hits(df: DataFrame) =
          df.join(delKeys, df(idName).cast("long") === col("__del"), "left_semi")
        def survivors(df: DataFrame) =
          df.join(delKeys, df(idName).cast("long") === col("__del"), "left_anti")
        if (all.columns.contains("__batch_id")) {
          val affected = hits(all)
            .select(col("__batch_id").cast("long")).distinct()
            .collect().map(_.getLong(0))
          if (affected.isEmpty) 0L
          else {
            // read ONLY the affected partition directories (basePath
            // keeps the partition column) — physical pruning by
            // construction, so the rewrite reads takedown-sized input
            // no matter how many batches the table has accumulated
            val inAffected = spark.read.option("basePath", dir)
              .parquet(affected.map(b => s"$dir/__batch_id=$b"): _*)
            val removed = hits(inAffected).count()
            // materialize before touching the directory: the plan reads
            // the same files it overwrites (affected partitions only)
            val kept = survivors(inAffected).localCheckpoint(true)
            val live = kept.select(col("__batch_id").cast("long"))
              .distinct().collect().map(_.getLong(0)).toSet
            val f = fs(spark, new Path(dir))
            affected.filterNot(live).foreach(b =>
              f.delete(new Path(s"$dir/__batch_id=$b"), true))
            kept.write.partitionBy("__batch_id").mode("overwrite")
              .option("partitionOverwriteMode", "dynamic").parquet(dir)
            removed
          }
        } else {
          val removed = hits(all).count()
          if (removed > 0) overwriteInPlace(spark, survivors(all), dir)
          removed
        }
    }
  }

  private def committedPath(dir: String) = s"$dir/_committed"

  /** Highest streaming batch id whose sink writes ALL completed, or
    * None before the first commit. The marker directory starts with
    * `_`, so parquet listings of the surrounding state root never see
    * it. Batch ids are monotonic within a checkpoint, so `marker >= id`
    * means batch `id` fully committed.
    */
  def lastCommittedBatch(spark: SparkSession, dir: String): Option[Long] =
    readIfExists(spark, committedPath(dir)).map(_.head().getLong(0))

  /** Record `batchId` as fully committed — call LAST in a foreachBatch,
    * after every table append; the write is crash-safe via the same
    * temp-and-rename swap as [[overwriteInPlace]]. A replay that finds
    * the marker skips the whole batch body; a crash BEFORE the marker
    * replays the appends, which [[appendBatch]] makes idempotent —
    * together: exactly-once through any crash point.
    */
  def markBatchCommitted(spark: SparkSession, dir: String, batchId: Long): Unit =
    overwriteInPlace(spark,
      spark.range(1).select(
        org.apache.spark.sql.functions.lit(batchId).as("batch_id")),
      committedPath(dir))

  // ---- versioned snapshots -----------------------------------------------

  private def versionDir(root: String, v: Long) = s"$root/v=$v"

  /** Published snapshot versions under `root`, ascending. */
  def snapshotVersions(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val f = fs(spark, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .sorted
  }

  /** Append-only snapshot publish: write `df` as version
    * `max(existing)+1` and return the version. Old versions stay
    * readable forever (until [[expireSnapshots]]) — the training-data
    * reproducibility contract: a run that records its snapshot version
    * can be re-executed bit-identically months later, while daily
    * pipelines keep publishing.
    *
    * Publication is ATOMIC via the same temp-then-rename swap as
    * [[overwriteInPlace]]: the parquet write lands in a staging dir
    * whose name [[snapshotVersions]] never matches, and only the final
    * rename makes `v=N` listable — so a concurrent reader can never
    * observe a half-committed version, and a crashed write leaves only
    * ignorable staging debris (cleared by the next publish), never a
    * corrupt *published* version.
    */
  def writeSnapshot(spark: SparkSession, df: DataFrame, root: String): Long = {
    val v = snapshotVersions(spark, root).lastOption.getOrElse(0L) + 1
    val staging = new Path(s"$root/__staging_v$v")
    val target = new Path(versionDir(root, v))
    val f = fs(spark, staging)
    if (f.exists(staging)) f.delete(staging, true) // debris from a crashed publish
    df.write.mode("overwrite").parquet(staging.toString)
    require(f.rename(staging, target), s"atomic snapshot publish failed: $staging -> $target")
    v
  }

  /** Read a pinned snapshot version, or the latest when `version` is
    * None. Throws on an empty store or a missing pinned version.
    */
  def readSnapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v=$v not found under $root (have ${vs.mkString(",")})")
    spark.read.parquet(versionDir(root, v))
  }

  /** Retention GC: drop all but the newest `keep` versions. */
  def expireSnapshots(spark: SparkSession, root: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least one snapshot")
    val vs = snapshotVersions(spark, root)
    val drop = vs.dropRight(keep)
    drop.foreach { v =>
      val p = new Path(versionDir(root, v))
      fs(spark, p).delete(p, true)
    }
    drop
  }

  /** Compact a parquet zone's small files — the daily-micro-batch
    * pathology at scale: a year of small appends turns every scan into
    * a file-listing + task-scheduling storm. Rewrites the directory to
    * `ceil(bytes / targetBytes)` files via `coalesce` (merges read
    * partitions — no shuffle; row order within files changes, content
    * doesn't) behind the crash-safe [[overwriteInPlace]] swap. No-op
    * when the zone is already at or below the target file count.
    * Returns the resulting data-file count.
    *
    * Flat (unpartitioned) zone directories only: partition
    * subdirectories are not listed, so a partitioned zone no-ops —
    * compact those per partition (the unit of overwrite anyway).
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val target = new Path(dir)
    val f = fs(spark, target)
    val dataFiles = f.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val want = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (dataFiles.length <= want) dataFiles.length
    else {
      overwriteInPlace(spark, spark.read.parquet(dir).coalesce(want), dir)
      f.listStatus(target)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
  }

  /** [[compact]] for a Hive-partitioned zone (`source=/date=` layout):
    * walks to the leaf partition directories (the unit of dynamic
    * overwrite anyway) and compacts each independently. Returns
    * (partitionsTouched, partitionsRewritten).
    */
  def compactPartitioned(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    def leaves(p: Path): Seq[Path] = {
      val children = f.listStatus(p).filter(_.isDirectory).map(_.getPath)
      if (children.isEmpty) Seq(p) else children.toIndexedSeq.flatMap(leaves)
    }
    val parts = leaves(rootPath).filter(p =>
      f.listStatus(p).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
    var rewritten = 0
    parts.foreach { p =>
      val before = f.listStatus(p)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (compact(spark, p.toString, targetBytes) < before) rewritten += 1
    }
    (parts.size, rewritten)
  }

  /** Bucketed catalog table: pre-partition on `keys` at write time so
    * every later equi-join or aggregation on those keys runs with ZERO
    * exchange — the answer to "this daily fact↔fact join shuffles 100 TB
    * every run". Both join sides bucketed `buckets`-ways on the same
    * keys ⇒ Catalyst plans a sort-merge join over the existing file
    * buckets (PlanQualitySpec asserts the shuffle-free plan). `sortBy`
    * additionally pre-orders within buckets, shaving the SMJ sort.
    *
    * Bucket metadata lives in the session catalog (`saveAsTable` — a
    * bare parquet path has nowhere to record it). Choose `buckets` ≈
    * cluster cores × small integer; it is fixed at write time, so size
    * for the table's target scale, not today's.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  // ---- JDBC sink (S7) ------------------------------------------------------

  /** Relational batch-insert sink — the literal form of the reference's
    * staging loader, which executemany-INSERTs scraped rows into MySQL
    * (`staging/staging_loader.py:81-85`; SURVEY marks the JDBC sink
    * optional, parquet being the warehouse zone format here).
    *
    * Thin facade over Spark's JDBC writer, with the two knobs that
    * matter pinned to sane defaults: `batchsize` (rows per
    * PreparedStatement batch — the reference's ~10 rows/s came from
    * row-at-a-time commits) and a `maxConnections` cap via
    * `repartition` (every task opens one connection; an uncapped
    * 1000-task write is a connection-pool DoS on the receiving database
    * — the DB is the bottleneck at any cluster size, so fewer, fatter
    * writers win). Repartition, NOT coalesce: coalesce propagates the
    * reduced parallelism UPSTREAM — the whole pipeline producing `df`
    * would run in `maxConnections` tasks — while repartition pays one
    * round-robin shuffle of the final rows and leaves the upstream
    * computation at full width. Executors write partitions in parallel;
    * rows never route through the driver.
    *
    * `mode="overwrite"` + `truncate=true` is the reference's
    * truncate-then-load (S8, `import_date_dim.py`'s TRUNCATE TABLE):
    * keeps the table's DDL and indexes, replaces the rows.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      mode: String = "append", batchSize: Int = 1000, maxConnections: Int = 8,
      truncate: Boolean = false,
      props: java.util.Properties = new java.util.Properties): Unit =
    df.repartition(maxConnections).write
      .mode(mode)
      .option("batchsize", batchSize.toString)
      .option("truncate", truncate.toString)
      .option("isolationLevel", "READ_COMMITTED")
      .jdbc(url, table, props)

  /** Column-selective JDBC upsert — [[graft.operators.Upsert]]'s U3
    * semantics (`INSERT … ON DUPLICATE KEY UPDATE job_title, salary,
    * posted_time, date_id`, `staging/staging_transformer_v2.py:134-151`)
    * against a real relational target, via the standard stage-then-merge
    * pattern:
    *
    *  1. the batch collapses to its latest row per key
    *     ([[graft.operators.LatestPerKey]], same `incomingOrder`
    *     contract as the parquet Upsert — MySQL applies a duplicated
    *     key sequentially, last writer wins; SQL MERGE instead ERRORS
    *     on a doubly-matched target row, so the dedup is load-bearing)
    *     and stages through [[writeJdbc]] — parallel batched writers
    *     into `<table>__stage`, rows never touching the driver;
    *  2. one `MERGE INTO` statement runs inside the database: matched
    *     keys update ONLY `refreshCols`, unmatched keys insert whole.
    *     The single statement is atomic in the target DB, and re-running
    *     the whole call with the same batch is idempotent (same values
    *     land); a crash between stage and merge leaves only a staging
    *     table the next run overwrites;
    *  3. the staging table drops.
    *
    * NULL keys: `ON t.k = s.k` never matches NULL — faithfully MySQL,
    * where NULLs never collide on a UNIQUE key, so a NULL-keyed row
    * always inserts (the parquet [[graft.operators.Upsert]] instead
    * matches null-safely; documented divergence, each faithful to its
    * own storage contract). Targets are MERGE-capable engines (Derby
    * here; MySQL itself would use the reference's own
    * `ON DUPLICATE KEY UPDATE` via a rewritten statement).
    */
  def writeJdbcUpsert(df: DataFrame, url: String, table: String,
      key: String, refreshCols: Seq[String],
      incomingOrder: Seq[org.apache.spark.sql.Column],
      batchSize: Int = 1000, maxConnections: Int = 8,
      props: java.util.Properties = new java.util.Properties): Unit = {
    val stage = s"${table}__stage"
    val latest = graft.operators.LatestPerKey(df, Seq(key), incomingOrder)
    writeJdbc(latest, url, stage, mode = "overwrite",
      batchSize = batchSize, maxConnections = maxConnections, props = props)
    // Spark's JDBC writer creates columns as QUOTED identifiers
    // (preserving case), so the merge must quote them too — unquoted
    // names would upper-case and miss
    val cols = df.columns
    def q(c: String) = "\"" + c + "\""
    // Spark's Derby dialect maps StringType to CLOB, and Derby refuses
    // CLOB comparisons — string keys compare through a VARCHAR cast
    // (exact: Derby VARCHAR holds up to 32672 chars; a longer "key" is
    // a modeling bug)
    def k(alias: String) = df.schema(key).dataType match {
      case org.apache.spark.sql.types.StringType =>
        s"CAST($alias.${q(key)} AS VARCHAR(32672))"
      case _ => s"$alias.${q(key)}"
    }
    val merge =
      s"""MERGE INTO $table t USING $stage s ON ${k("t")} = ${k("s")}
         |WHEN MATCHED THEN UPDATE SET ${refreshCols.map(c => s"${q(c)} = s.${q(c)}").mkString(", ")}
         |WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
         |VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})""".stripMargin
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try {
        st.executeUpdate(merge)
        st.executeUpdate(s"DROP TABLE $stage")
      } finally st.close()
    } finally conn.close()
  }

  /** Matching read surface (S12/S13's remote-table pull collapses into
    * this + temp views). `partitionColumn`/bounds turn the read into
    * `numPartitions` parallel range scans instead of one connection
    * dragging the whole table.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    partitionColumn match {
      case Some((colName, lower, upper, n)) =>
        spark.read.jdbc(url, table, colName, lower, upper, n, props)
      case None => spark.read.jdbc(url, table, props)
    }
}
