package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** The one owner of every directory the query layer derives from the
  * source tables: sink exports, commit-log fixtures, fold states and the
  * persisted IVF / PQ / MinHash / similarity-graph indexes.
  *
  * An entry is keyed on (name, sfDir) and tagged with the
  * [[Tables.fingerprint]] of the source table it was built from, so a
  * testdata regen mid-JVM misses and rebuilds instead of serving a
  * stale export. An entry's directory is `graft_<name>_<n>` under the
  * root, so a physical plan that scans it names the entry. The policy,
  * the same for every entry:
  *  - each JVM gets its own root under `java.io.tmpdir`, deleted at JVM
  *    exit — nothing is reused across JVMs. Per-call scratch
  *    directories ([[scratch]]) live under the same root, or under a
  *    second per-JVM root in /dev/shm, deleted the same way;
  *  - build new, publish, THEN reclaim the invalidated directory. A
  *    build that throws publishes nothing: its partial directory is
  *    dropped and the previous entry (and its directory) stays
  *    servable;
  *  - no map lock is held while a build runs (builds take seconds and
  *    some look up other entries first): one monitor per key
  *    serializes the builds of that key only.
  */
object Derived {

  private final case class Entry(fingerprint: String, path: String)

  private val entries = new ConcurrentHashMap[(String, String), Entry]()
  private val locks = new ConcurrentHashMap[(String, String), AnyRef]()
  private val seq = new AtomicLong()

  private lazy val root: Path = deletedAtExit(Files.createTempDirectory("graft_derived"))

  // Streaming checkpoints and outputs go to RAM-backed /dev/shm when it
  // is writable: streaming time is dominated by checkpoint fsync I/O,
  // which tmpfs makes free.
  private lazy val tmpfsRoot: Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      deletedAtExit(Files.createTempDirectory(shm, "graft_derived"))
    else root
  }

  private def deletedAtExit(r: Path): Path = {
    // after SparkContext shutdown (priority 50): no job reads it then
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => deleteRecursively(r.toString), 20)
    r
  }

  /** The directory for (`name`, `sfDir`), built by `build` (handed a
    * fresh empty directory) unless an entry for the current fingerprint
    * of `sfDir`'s `table` already exists.
    */
  def dir(name: String, sfDir: String, table: String)(build: String => Unit): String = {
    val key = (name, sfDir)
    val fp = Tables.fingerprint(sfDir, table)
    val hit = entries.get(key)
    if (hit != null && hit.fingerprint == fp) hit.path
    else locks.computeIfAbsent(key, _ => new Object).synchronized {
      val old = entries.get(key)
      if (old != null && old.fingerprint == fp) old.path
      else {
        val path = Files.createDirectory(
          root.resolve(s"graft_${name}_${seq.incrementAndGet()}")).toString
        try build(path)
        catch { case e: Throwable => deleteRecursively(path); throw e }
        entries.put(key, Entry(fp, path))
        if (old != null) deleteRecursively(old.path)
        path
      }
    }
  }

  /** A fresh, empty directory for one call's scratch output (a sink
    * round trip, a streaming checkpoint), under this JVM's root — under
    * /dev/shm when `tmpfs` and it is writable — so it is deleted at JVM
    * exit with the rest of the store.
    */
  def scratch(prefix: String, tmpfs: Boolean = false): String =
    Files.createTempDirectory(if (tmpfs) tmpfsRoot else root, prefix).toString

  /** The directory last built for (`name`, `sfDir`) in this JVM. */
  def path(name: String, sfDir: String): String = {
    val e = entries.get((name, sfDir))
    require(e != null,
      s"no derived '$name' directory for $sfDir in this JVM — run the " +
        "query that builds it before asking for its path")
    e.path
  }

  /** Best-effort recursive delete of a stale derived directory — a
    * leaked cache dir is waste, not corruption, so failures are
    * intentionally dropped here. The counting, failure-surfacing
    * variant lives in [[graft.sources.Fs.deleteRecursively]] (VACUUM
    * needs the accounting; cache cleanup does not).
    */
  private[graft] def deleteRecursively(path: String): Unit =
    try graft.sources.Fs.deleteRecursively(path)
    catch { case scala.util.control.NonFatal(_) => () }
}
