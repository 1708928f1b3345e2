package graft.io

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

/** The one guard for derived per-SF artifacts cached under `target/`
  * (bucketed twins, partitioned/zone-mapped/compacted event layouts,
  * Bloom indexes, media staging, edge lists, mirrors, the envelope
  * fixture, the scaled sf1 rung). Every builder is one [[ensure]] call.
  *
  * A fixture regenerated under a cached artifact must never serve stale
  * derived data into a value-oracled query while the oracle reads the
  * fresh table — a silent wrong answer. So freshness is a cheap
  * driver-side metadata walk of the SOURCE tables (file names, sizes,
  * mtimes — O(file count), the same listing any scan performs), stamped
  * next to the artifact as `loc/_FINGERPRINT`.
  *
  * The protocol, per artifact:
  *  1. lock: an OS file lock on the dot-named sibling `.<name>.lock`
  *     (never inside `loc`, which builds overwrite), taken behind a
  *     per-artifact monitor so threads of one JVM queue instead of
  *     tripping over the JVM-wide file lock. Two processes or threads
  *     never build one artifact at once; different artifacts never wait
  *     on each other, so nested builds (an artifact built from another)
  *     cannot deadlock.
  *  2. compare the stamp with [[fingerprint]] of the sources;
  *  3. on a mismatch delete the stamp,
  *  4. build in place,
  *  5. stamp. The stamp is the only ready marker: a crash anywhere
  *     before step 5 leaves the artifact unstamped, and the next call
  *     rebuilds it — one extra rebuild beats one stale read.
  *
  * Builds run IN PLACE, not staged and renamed like
  * [[Publish]]: zone-map and Bloom stats record absolute file paths and
  * bucketed tables record their catalog `LOCATION`, so an artifact
  * built elsewhere and moved would point at the wrong files. Readers
  * get the path only after the stamp is written.
  */
object DerivedCache {

  /** Fingerprint of the given source tables' on-disk files. */
  def fingerprint(dir: String, tables: Seq[String]): String = {
    def ls(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(ls)
      else Seq(f)
    val sig = tables.map { t =>
      val root = new java.io.File(dir, s"$t.parquet")
      if (!root.exists()) s"$t:absent"
      else ls(root).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .mkString(s"$t[", "|", "]")
    }.mkString(";")
    java.util.UUID.nameUUIDFromBytes(sig.getBytes("UTF-8")).toString
  }

  /** The artifact at `loc`, derived from the `sources` tables of `dir`:
    * under the artifact's lock, `build(loc)` runs iff the stamp does not
    * match the sources' current fingerprint, and each rebuild prints one
    * stderr line (artifact, source dir, build seconds). Returns `loc`.
    */
  def ensure(loc: String, dir: String, sources: Seq[String])(
      build: String => Unit): String = {
    withLock(Paths.get(loc).toAbsolutePath.normalize) {
      val fp = fingerprint(dir, sources)
      if (!isFresh(loc, fp)) {
        Files.deleteIfExists(stampPath(loc))
        val t0 = System.nanoTime()
        build(loc)
        stamp(loc, fp)
        System.err.println(f"[derived] rebuilt $loc from $dir in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    loc
  }

  private val monitors = new ConcurrentHashMap[Path, Object]()

  private def withLock(loc: Path)(body: => Unit): Unit = {
    val lockFile = loc.resolveSibling(s".${loc.getFileName}.lock")
    monitors.computeIfAbsent(loc, _ => new Object).synchronized {
      Files.createDirectories(lockFile.getParent)
      val ch = FileChannel.open(lockFile,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { ch.lock(); body }
      finally ch.close() // releases the file lock
    }
  }

  private def stampPath(loc: String) = Paths.get(loc, "_FINGERPRINT")

  private def isFresh(loc: String, fp: String): Boolean =
    Files.exists(stampPath(loc)) &&
      new String(Files.readAllBytes(stampPath(loc)), "UTF-8") == fp

  private def stamp(loc: String, fp: String): Unit = {
    Files.createDirectories(Paths.get(loc))
    Files.write(stampPath(loc), fp.getBytes("UTF-8"))
    ()
  }
}
