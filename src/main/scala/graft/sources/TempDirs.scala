package graft.sources

import java.nio.file.{Files, Path}

/** The temp dirs one ingest makes (an untarred bundle, a link dir),
  * so the caller that consumes the signals can delete them afterwards.
  * Every dir is named `graft_metrics_*` under `java.io.tmpdir`.
  */
private[graft] final class TempDirs {
  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  def create(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  /** Delete every dir made so far with its contents; links are removed,
    * never followed.
    */
  def deleteAll(): Unit = synchronized {
    made.foreach { d =>
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    made.clear()
  }
}
