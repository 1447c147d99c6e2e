package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The engine's scratch directories under `java.io.tmpdir`: staged
  * stream inputs, checkpoints and per-call outputs. Each one is made
  * here and deleted, recursively, when the JVM exits — not sooner,
  * because a query's result may still read its directory after the
  * call returns. A JVM that halts instead of exiting skips the
  * deletion. */
object WorkDirs {

  private val made = ConcurrentHashMap.newKeySet[Path]()

  private lazy val deleteAtExit: Unit = {
    sys.addShutdownHook(made.forEach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))
    ()
  }

  /** A new empty directory whose name starts with `prefix`. */
  def create(prefix: String): String = {
    deleteAtExit
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p.toString
  }

  /** True when `path` was made by [[create]] and awaits deletion. */
  private[graft] def registered(path: String): Boolean =
    made.contains(Paths.get(path))
}
