package graft.util

import java.nio.file.{Files, Path, Paths}

/** The disk side of derived-artifact caching. FixtureCache owns:
  *
  *  - STALENESS: [[sourceMtime]] (the mtime of a source table — the key
  *    of every tmp fixture and of GraftTvf's loop memo), [[stamp]] (the
  *    name an artifact derived from that table is published under; also
  *    Joins' bucketed-table names) and [[storeStamp]] (the change stamp
  *    of an arrival-store directory — GraftTvf's store memo and
  *    StreamOps' audit-validation cache).
  *  - PUBLICATION: [[buildOnce]], the one lock and the one
  *    staging-plus-atomic-rename publish of every tmp fixture — Scans'
  *    partitioned, z-ordered and format exports, IngestQ's bronze chain,
  *    Search's BM25 index and Streams' arrival stores.
  *
  * Discipline: `build` runs into a STAGING directory; publication is a
  * single atomic rename. A crash mid-build leaves only the staging dir,
  * which the next attempt clears before rebuilding — the published path
  * either exists complete or not at all, and no marker file is needed
  * (IngestQ's earlier marker-guarded build APPENDED onto a partial tree
  * after a kill between the write and the marker).
  * Two JVMs sharing java.io.tmpdir never overwrite each other's
  * published copy. Keyed on the source table's mtime so a regenerated
  * testdata dir rebuilds instead of serving stale fixtures. */
object FixtureCache {

  private val lock = new Object

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

  /** mtime of the table file `dir/<table>.parquet`. */
  def sourceMtime(dir: String, table: String): Long =
    Files.getLastModifiedTime(Paths.get(dir, s"$table.parquet")).toMillis

  /** Hex stamp of (`name`, `dir`, mtime of `srcTable`): a touched source
    * yields a new stamp, so nothing stale is ever served under it. */
  def stamp(dir: String, srcTable: String, name: String): String =
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        s"$name:$dir@${sourceMtime(dir, srcTable)}").toLong & 0xffffffffL)

  /** Change stamp of a STORE directory (batch_id=N partition layout):
    * recursive max mtime DOWN TO LEAF FILES, folded with the file count
    * and total byte size. mtime alone (even recursive) is blind to two
    * rewrites of the same partition inside the filesystem's mtime
    * granularity — a same-millisecond replay would serve a stale memo;
    * count+size make a content change distinguishable even in the same
    * tick (advice r16). Walk cost is a metadata listing of a
    * summary-sized store — never data-sized. An un-stat-able dir gets a
    * never-matching stamp, so no memo keyed on it is ever served. */
  def storeStamp(dir: String): String =
    try {
      var mx = 0L; var cnt = 0L; var bytes = 0L
      val s = Files.walk(Paths.get(dir))
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val c = it.next()
          val m = Files.getLastModifiedTime(c).toMillis
          if (m > mx) mx = m
          if (Files.isRegularFile(c)) { cnt += 1; bytes += Files.size(c) }
        }
      } finally s.close()
      s"$mx:$cnt:$bytes"
    } catch {
      // walk's lazy iteration surfaces I/O races as UncheckedIOException
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        s"unstat:${System.nanoTime()}"
    }

  /** Returns the published fixture root for (`name`, `dir`), building it
    * first if absent. `build` receives the staging root and must write
    * everything under it. */
  def buildOnce(dir: String, srcTable: String, name: String)
      (build: Path => Unit): String = {
    val out = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${name}_${stamp(dir, srcTable, name)}")
    lock.synchronized {
      if (!Files.exists(out)) {
        val staging = out.resolveSibling(out.getFileName.toString + ".staging")
        deleteRecursive(staging)
        Files.createDirectories(staging)
        build(staging)
        try Files.move(staging, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // another JVM published between our existence check and move —
          // its fixture is complete (publication is atomic); use it
          case _: java.nio.file.FileAlreadyExistsException
              | _: java.nio.file.DirectoryNotEmptyException =>
            deleteRecursive(staging)
        }
      }
    }
    out.toString
  }
}
