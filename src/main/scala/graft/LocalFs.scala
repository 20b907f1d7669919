package graft

import java.io.{File, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryException}

/** Local-filesystem helpers for the offline harness's file-based sinks
  * (one copy each: recursive delete, the crash-safe directory swap the
  * shard manifest and the radiation `Dir` sink use, and the one start
  * path of every checkpointed stream).
  */
object LocalFs {

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private[graft] val FsCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Whether `path` resolves to the local file system: by its own scheme,
    * or, without one, by the scheme of `conf`'s default file system. No
    * FileSystem is instantiated.
    */
  def isLocal(path: String, conf: Configuration): Boolean =
    Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Start `ds`'s stream, shaped by `configure`, with its checkpoint at
    * `checkpointDir`. The one start path of every checkpointed stream.
    *
    * Spark's default checkpoint manager for `file:` paths goes through
    * Hadoop's `FileContext`, whose local file system forks a `readlink`
    * process (no native Hadoop library) several times per rename of every
    * state-store delta, checksum and offset/commit-log entry. For a local
    * checkpoint, and unless the session names a manager of its own, the
    * query runs on Spark's FileSystem-based manager instead: on a local
    * file system both check that the destination is absent and then
    * rename, and both write the same `.crc` and checksum files, so a
    * checkpoint either one wrote restarts under the other. The setting
    * lives only until the query has started and built its sources: the
    * query clones the session when it is built and keeps the setting,
    * while the caller's session is restored even when `start()` throws.
    */
  def startStream[T](ds: Dataset[T], checkpointDir: String)(
      configure: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val spark = ds.sparkSession
    val w = configure(ds.writeStream).option("checkpointLocation", checkpointDir)
    StartLock.synchronized {
      if (spark.conf.getOption(CheckpointManagerKey).nonEmpty ||
          !isLocal(checkpointDir, spark.sparkContext.hadoopConfiguration)) w.start()
      else {
        spark.conf.set(CheckpointManagerKey, FsCheckpointManager)
        try {
          val q = w.start()
          // the query builds its sources (a file source's log among them)
          // from the caller's session on its own thread after `start()`
          // returns: keep the setting until it has; a failure there still
          // surfaces through the query, as before
          q match {
            case qw: StreamingQueryWrapper =>
              try qw.streamingQuery.awaitInitialization(SourcesInitMs)
              catch { case _: StreamingQueryException => () }
            case _ =>
          }
          q
        } finally spark.conf.unset(CheckpointManagerKey)
      }
    }
  }

  private val SourcesInitMs = 60000L
  // serializes the helper's set/unset of the session setting; not the
  // session's own monitor, which the query's thread may take (Scala lazy
  // vals) while the helper waits for it
  private object StartLock

  /** Replace directory `path` by directory `tmp` (on the same file system,
    * so each rename is atomic) with no instant at which neither copy is on disk:
    * `path` → `path.old`, `tmp` → `path`, then `.old` is deleted. A crash
    * between the two renames leaves only `.old`, which the next call
    * restores first. Every rename is checked: a failed swap-aside throws
    * with `path` untouched; a failed swap-in moves `.old` back to `path`
    * before throwing, so the original stays readable.
    */
  def swapIn(tmp: String, path: String): Unit = {
    val dir = new File(path)
    val old = aside(dir)
    // a crash between the two renames left only `.old`: restore it first
    if (!dir.exists() && old.exists()) rename(old, dir)
    rmrf(old)
    if (dir.exists()) rename(dir, old)
    if (!new File(tmp).renameTo(dir)) {
      if (old.exists()) rename(old, dir)
      throw new IOException(s"swap-in failed: $tmp -> $path")
    }
    rmrf(old)
  }

  private def aside(dir: File): File = new File(dir.getPath + ".old")

  private def rename(from: File, to: File): Unit =
    if (!from.renameTo(to)) throw new IOException(s"rename failed: $from -> $to")

  /** Recursive delete. Tolerates an entry vanishing mid-walk
    * (`listFiles` returns null for a concurrently-deleted directory).
    */
  def rmrf(f: File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(rmrf)
    }
    f.delete()
    ()
  }
}
