package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-filesystem housekeeping shared by the copy pipeline (staging
  * cleanup, retention GC, temp-swap publish), the queries that persist
  * an index, and the dev tools. */
object FsUtil {

  /** Delete `p` and everything under it; a missing path is a no-op.
    * Symlinks are removed, never followed. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.iterator.asScala.toList.foreach(deleteRecursively)
      finally children.close()
    }
    Files.deleteIfExists(p); ()
  }

  private val onExit = scala.collection.mutable.HashSet.empty[String]

  /** Delete `path` when the JVM exits; registering a path twice adds
    * one hook, not two. */
  def deleteOnExit(path: String): Unit = onExit.synchronized {
    if (onExit.add(path)) Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(Paths.get(path))))
  }

  /** The scratch path of a query that persists an index (`name` keys the
    * query): the same path on every run within a JVM, so a bench or
    * verify loop overwrites one copy instead of accumulating one per
    * invocation; keyed on the sf dir AND the pid, so two concurrent JVMs
    * on the same sf never overwrite each other's files mid-query; and
    * deleted on exit, since every bench/verify run is a fresh pid. */
  def indexScratchDir(name: String, sfDir: String): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_${name}_idx_" +
      java.lang.Integer.toHexString(sfDir.hashCode) + "_" +
      java.lang.ProcessHandle.current().pid()
    deleteOnExit(path)
    path
  }
}
