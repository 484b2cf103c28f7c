package graft

import java.nio.channels.FileChannel
import java.nio.file.{Path, StandardOpenOption}

/** Exclusive lock on one lock file, for ledger read-modify-writes.
  * `FileChannel` locks are held per-JVM: a second thread in the same
  * JVM (parallel committers, streaming writers or two sessions of one
  * Spark app sharing a table) hits `OverlappingFileLockException`
  * instead of waiting. So same-JVM holders serialize on a monitor
  * keyed on the normalized lock-file path FIRST; the file lock then
  * only arbitrates across processes.
  */
private[graft] object FileLocks {
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def withLock[A](lockFile: Path)(f: => A): A = {
    val key = lockFile.toAbsolutePath.normalize.toString
    monitors.computeIfAbsent(key, _ => new Object).synchronized {
      val ch = FileChannel.open(lockFile,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try f finally lock.release()
      } finally ch.close()
    }
  }
}
