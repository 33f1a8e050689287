package graft.tables

import java.nio.file.{Files, Path}

import scala.util.Using

/** Shared local-filesystem helpers for the table layer. Every
  * Files.walk/list stream is closed (they hold open DirectoryStreams —
  * leaking them across repeated maintenance cycles exhausts fds). */
private[graft] object FsUtil {

  /** All regular *.parquet files under `p` (empty if `p` is absent). */
  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Using.resource(Files.walk(p)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
        .toSeq
    }

  /** Immediate children of a directory (empty if absent). */
  def listDir(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Using.resource(Files.list(p)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
    }

  /** Newest mtime (epoch ms) of `p` or anything under it. A tree that
    * changes under the walk (a file vanishes) counts as changed now. */
  def newestMtime(p: Path): Long =
    try Using.resource(Files.walk(p)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(Files.getLastModifiedTime(_).toMillis).max
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        System.currentTimeMillis()
    }

  /** Recursive delete, deepest-first; no-op when absent. */
  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val all = Using.resource(Files.walk(p)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
    }
    all.reverse.foreach(Files.delete)
  }
}
