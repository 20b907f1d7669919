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

  /** The settings a query with a local checkpoint runs with ([[startStream]]). */
  private[graft] val LocalQuerySettings = Seq(
    CheckpointManagerKey -> FsCheckpointManager,
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

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
    * Without a native Hadoop library the local file system forks
    * processes. Spark's default checkpoint manager for `file:` paths goes
    * through Hadoop's `FileContext`, which forks a `readlink` several times
    * per rename of every state-store delta, checksum and offset/commit-log
    * entry; `RawLocalFileSystem` forks a `chmod` for every file it creates
    * with a mode and every directory it makes (state-store temp files,
    * parquet part files, the output committer's directories). So a query
    * with a local checkpoint runs with [[LocalQuerySettings]]: Spark's
    * FileSystem-based manager, and [[NioLocalFileSystem]] for `file:`
    * paths, which sets the same bits through `java.nio`. Hadoop caches one
    * file system per scheme and user whatever the configuration names, so
    * the settings also turn that cache off for `file:`: with it on, the
    * query would get the stock instance another caller cached. Both
    * managers and both file systems write the same files (`.crc` and
    * checksum files included), so a checkpoint written either way restarts
    * under the other. A key that the session or the Hadoop configuration
    * (`spark.hadoop.…`) already names keeps its value.
    *
    * The settings live only until the query has started and built its
    * sources: the query clones the session when it is built and keeps them
    * (every Hadoop configuration it makes copies them: its logs, state
    * stores and sinks), while the caller's session is restored even when
    * `start()` throws.
    */
  def startStream[T](ds: Dataset[T], checkpointDir: String)(
      configure: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val spark = ds.sparkSession
    val w = configure(ds.writeStream).option("checkpointLocation", checkpointDir)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    StartLock.synchronized {
      val unnamed =
        if (!isLocal(checkpointDir, hadoopConf)) Nil
        else LocalQuerySettings.filter { case (k, _) =>
          spark.conf.getOption(k).isEmpty && hadoopConf.get(k) == null
        }
      if (unnamed.isEmpty) w.start()
      else {
        unnamed.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val q = w.start()
          // the query builds its sources (a file source's log among them)
          // from the caller's session on its own thread after `start()`
          // returns: keep the settings until it has; a failure there still
          // surfaces through the query, as before
          q match {
            case qw: StreamingQueryWrapper =>
              try qw.streamingQuery.awaitInitialization(SourcesInitMs)
              catch { case _: StreamingQueryException => () }
            case _ =>
          }
          q
        } finally unnamed.foreach { case (k, _) => spark.conf.unset(k) }
      }
    }
  }

  /** Wait for a bounded (AvailableNow) query to finish, then stop it. The
    * timeout is checked: `awaitTermination(ms)` returning false means the
    * query is still writing, and a caller that went on would read a partial
    * output directory as the result. So a timeout throws, naming `stage`,
    * and the query is stopped either way.
    */
  def drain(q: StreamingQuery, stage: String, ms: Long = 300000L): Unit =
    try {
      if (!q.awaitTermination(ms))
        sys.error(s"$stage stream did not drain within ${ms / 1000} s")
    } finally q.stop()

  private val SourcesInitMs = 60000L
  // serializes the helper's set/unset of the session settings; not the
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
