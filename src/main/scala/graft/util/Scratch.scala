package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicLong

/** JVM-scoped scratch space for session-temp parquet intermediates
  * (q69's corpus-build snapshot store, bench and probe corpora). All paths live under ONE per-JVM root that a shutdown
  * hook removes recursively, so repeated catalog passes / Verify runs no
  * longer leak parquet directories into /tmp (ADVICE r03).
  *
  * Two flavors:
  *  - [[dir]] — STABLE per name: the same name returns the same path, and
  *    callers write with mode("overwrite"), so N bench passes of the same
  *    query reuse one directory instead of accumulating N. Only safe when
  *    no previously returned DataFrame over that path is still live
  *    (true for the sequential bench/Verify passes that use it).
  *  - [[unique]] — fresh path per call, for intermediates whose consumers
  *    may overlap in time (e.g. two live CC assignments); still reclaimed
  *    at JVM exit by the root hook.
  */
object Scratch {

  private val seq = new AtomicLong(0L)

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    p
  }

  /** Stable scratch path for `name`; parent dirs created, leaf left for
    * the parquet writer (mode overwrite). */
  def dir(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    d.resolve("data").toString
  }

  /** Fresh scratch path on every call, removed with the root at exit. */
  def unique(prefix: String): String =
    dir(s"$prefix-${seq.incrementAndGet()}")

  /** Recursive delete, tolerant of concurrent disappearance. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      try {
        Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach { f =>
          try Files.deleteIfExists(f)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: java.io.IOException => () }
    }
}
