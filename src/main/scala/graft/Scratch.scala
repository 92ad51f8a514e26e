package graft

import java.io.File

/** The one owner of where the engine stages intermediate bytes on
  * disk (TIFF/KTX/N5/Zarr trees, table-format stores, streaming
  * checkpoints, persisted artifacts) and of when they go away.
  *
  * Root: `/dev/shm` when it is a writable directory, else
  * `java.io.tmpdir`. tmpfs because the host's disk stalls for seconds
  * at a time; `-Djava.io.tmpdir` moves the fallback. Spark's own
  * shuffle and spill directory, `graft-spark`, lives under the same
  * root.
  *
  * Names: `graft_<prefix>_<pid>_<n>`. PID alone collides when two
  * invocations of the same op overlap inside one JVM (e.g. parallel
  * test suites): both resolve the same staging dir and the first
  * finisher's cleanup deletes the other's staged parquet mid-read.
  * PID + a JVM-wide counter is unique per call while staying
  * process-scoped (leftover dirs from a crashed run are still
  * identifiable by PID).
  *
  * Lifetimes: [[withDir]] scopes a directory to one call and deletes
  * it whether the call returns or throws; [[keep]] hands out a
  * directory that lives until the JVM exits. Both are registered with
  * one shutdown hook, so a JVM that exits mid-op still reclaims them.
  * Handles that outlive one call (a staged store with a `drop()`) take
  * a [[path]] and call [[rm]] themselves.
  */
object Scratch {

  val root: String = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }

  private val pid = ProcessHandle.current().pid()
  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A fresh `root/graft_<prefix>_<pid>_<n>` path; nothing is created. */
  def path(prefix: String): String =
    s"$root/graft_${prefix}_${pid}_${counter.incrementAndGet()}"

  /** Recursive delete; a missing path is a no-op. */
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  def rm(path: String): Unit = rm(new File(path))

  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => live.forEach((p: String) => rm(p)),
      "graft-scratch-cleanup"))
  }

  /** Run `body` with a fresh scratch path and delete it afterwards,
    * also when `body` throws. The path does not exist when `body`
    * starts (a leftover of a killed JVM with the same pid is removed
    * first). Whatever `body` returns must not read the directory
    * lazily: checkpoint or collect first.
    */
  def withDir[T](prefix: String)(body: String => T): T = {
    val dir = path(prefix)
    live.add(dir)
    rm(dir)
    try body(dir)
    finally { rm(dir); live.remove(dir) }
  }

  /** A fresh scratch path deleted only at JVM shutdown. */
  def keep(prefix: String): String = {
    val dir = path(prefix)
    live.add(dir)
    dir
  }
}
