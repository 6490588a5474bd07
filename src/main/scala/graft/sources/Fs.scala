package graft.sources

/** Filesystem maintenance primitives for the storage layer (ref: n/a,
  * SURVEY §0). Lives in `sources/` because the commit-log's VACUUM is
  * the load-bearing caller: reclamation must COUNT what it deleted and
  * SURFACE what it could not (a silent best-effort delete under a
  * retention protocol is how formats end up double-billing storage),
  * unlike the derived-cache cleanup in [[graft.Derived]] where best-effort
  * is the right contract.
  */
object Fs {

  /** Recursively delete `path`. Returns (files+dirs actually deleted,
    * paths that FAILED to delete). A nonexistent path deletes nothing
    * and fails nothing (idempotent). Children are attempted deepest-
    * first; a failed child makes its parent fail too (non-empty dir),
    * and both are reported rather than swallowed.
    */
  def deleteRecursively(path: String): (Long, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) (0L, Seq.empty)
    else {
      // materialize the walk before deleting — deleting under a live
      // DirectoryStream is platform-dependent
      val all = {
        val st = java.nio.file.Files.walk(root)
        try st.iterator().asScala.toVector finally st.close()
      }
      var n = 0L
      val failed = Vector.newBuilder[String]
      all.reverse.foreach { p =>
        try { if (java.nio.file.Files.deleteIfExists(p)) n += 1 }
        catch { case scala.util.control.NonFatal(_) => failed += p.toString }
      }
      (n, failed.result())
    }
  }
}
