package graft

import java.io.{File, IOException}

/** Local-filesystem helpers for the offline harness's file-based sinks
  * (one copy each: recursive delete, and the crash-safe directory swap
  * the shard manifest and the radiation `Dir` sink use).
  */
object LocalFs {

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
