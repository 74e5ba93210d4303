package graft.streaming

import graft.SparkSpec

/** Crash simulation shared by the streaming specs. Deletes go through
  * the Hadoop FS, which removes a file's `.crc` checksum sibling with
  * it: a plain `java.io.File.delete` leaves the sibling behind, and the
  * restart then refuses the checkpoint ("Multiple streaming queries are
  * concurrently using …/commits").
  */
trait StreamReplay { self: SparkSpec =>

  private def rmrf(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  /** Drop the newest streaming checkpoint commit, so a restart replays
    * that batch.
    */
  def dropNewestCommit(ckptDir: String): Unit = {
    val commits = new java.io.File(s"$ckptDir/commits")
      .listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    rmrf(s"$ckptDir/commits/${commits.max}")
  }

  /** Simulate a crash after the newest batch's state appends but BEFORE
    * the streaming checkpoint committed it: drop the newest checkpoint
    * commit (so restart replays that batch) and the sink's `_committed`
    * marker (so the replay cannot take the fast no-op path and must
    * prove the appends themselves are idempotent).
    */
  def simulateCrashBeforeCommit(ckptDir: String, markerRoot: String): Unit = {
    dropNewestCommit(ckptDir)
    rmrf(s"$markerRoot/_committed")
  }
}
