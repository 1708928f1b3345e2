package graft.io

import java.io.{File, IOException}
import java.nio.file.{FileVisitResult, Files, LinkOption, NoSuchFileException, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** Crash-safe publish of one directory by rename — the local stand-in
  * for a table format's commit, and the only code in the engine that
  * renames or recursively deletes a directory.
  *
  * A publish writes the next version of `live` to a staging sibling,
  * renames the live copy ASIDE, renames the staged copy in, and only
  * then deletes the aside copy. A crash at any point leaves either the
  * old version (restored by [[recover]]) or the new one on disk, never
  * neither. The naive order (delete live, then rename staged in) has a
  * window that destroys the directory outright; for a cumulative store
  * that is unrecoverable, because the checkpoint has already committed
  * the batches it was built from.
  *
  * Staging and aside copies are dot-prefixed siblings
  * (`.<name>.staged`, `.<name>.old`), so `spark.read.parquet(parent)`
  * never lists them (the Hadoop hidden-file rule) — a per-batch
  * `batch=<id>` directory can be published inside a live table.
  * Atomicity is the filesystem rename's: real on POSIX/HDFS; an object
  * store needs its table format's commit instead.
  */
object Publish {

  /** Where the next version of `live` is written before [[apply]]
    * publishes it.
    */
  def staging(live: String): String = sibling(live, "staged")

  /** Where the previous version of `live` sits between the two renames
    * of a publish.
    */
  def aside(live: String): String = sibling(live, "old")

  private def sibling(live: String, suffix: String): String = {
    val f = new File(live)
    val name = s".${f.getName}.$suffix"
    Option(f.getParent).fold(name)(p => s"$p/$name")
  }

  /** Publish a new version of `live`: clear staging debris, let `write`
    * fill the staging directory, then swap it in. Recovers before the
    * swap, so an aside copy left by a crash is restored, never mistaken
    * for debris.
    */
  def apply(live: String)(write: String => Unit): Unit = {
    val staged = staging(live)
    deleteTree(staged)
    write(staged)
    recover(live)
    val liveF = new File(live)
    val asideF = new File(aside(live))
    deleteTree(asideF.getPath) // debris from a crash after a commit
    if (liveF.exists() && !liveF.renameTo(asideF))
      throw new IOException(s"Publish: aside rename failed for $live")
    if (!new File(staged).renameTo(liveF)) {
      // put the previous version back before failing; the staged copy
      // belongs to an uncommitted batch and is rebuilt on replay
      asideF.renameTo(liveF)
      throw new IOException(s"Publish: commit rename failed for $live")
    }
    deleteTree(asideF.getPath)
  }

  /** Crash recovery, run before reading `live`: a missing live copy
    * with the aside copy present means a crash hit between the two
    * renames — restore the aside copy. (A crash after the commit rename
    * leaves stale aside debris; live wins because it exists, and the
    * next publish clears it.)
    */
  def recover(live: String): Unit = {
    val liveF = new File(live)
    val asideF = new File(aside(live))
    if (!liveF.exists() && asideF.exists() && !asideF.renameTo(liveF))
      throw new IOException(s"Publish: crash-recovery rename failed for $live")
  }

  /** Delete a directory tree (or a file); a missing path is a no-op.
    * Symbolic links are removed, never followed.
    */
  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS))
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          Files.deleteIfExists(f); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
          e match {
            case _: NoSuchFileException => FileVisitResult.CONTINUE
            case _ => throw e
          }
        override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
          if (e != null && !e.isInstanceOf[NoSuchFileException]) throw e
          Files.deleteIfExists(d); FileVisitResult.CONTINUE
        }
      })
    ()
  }
}
