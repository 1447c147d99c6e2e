package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The engine's one holder of fitted state: models, indexes, pinned
  * intermediates, staged stream inputs and probed schemas that several
  * queries of one application share.
  *
  * An entry is found by (application id, owner, input paths, params)
  * and holds the fingerprint its inputs had when it was built: per
  * path, the total bytes and the newest mtime of everything under it.
  * A `get` that sees a different fingerprint rebuilds the value and
  * replaces the entry, so a rewritten input is never served a stale
  * model and the superseded entry does not linger. Entries of stopped
  * SparkContexts are dropped on every `get`.
  *
  * `owner` names one build recipe: two owners never share an entry,
  * even over the same inputs and params. `params` must hold every
  * argument of the recipe besides its inputs, with value equality.
  *
  * `build` runs outside the map's lock, through a per-entry lazy
  * holder: concurrent callers of one entry wait for a single build,
  * and a build may itself `get` another entry (the trained-langid
  * spine builds through the langid model). A build that throws drops
  * its entry, so the next `get` builds afresh. */
object FittedCache {

  private final case class Key(appId: String, owner: String,
      inputs: Seq[String], params: Seq[Any])

  private final class Entry(val stopped: () => Boolean,
      val fingerprint: Seq[(Long, Long)], build: () => Any) {
    lazy val value: Any = build()
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()

  def get[V](spark: SparkSession, owner: String, inputs: Seq[String],
      params: Seq[Any])(build: => V): V = {
    val sc = spark.sparkContext
    getFor(sc.applicationId, () => sc.isStopped, owner, inputs, params)(build)
  }

  /** [[get]] with the context given by its id and liveness check. */
  private[graft] def getFor[V](appId: String, stopped: () => Boolean,
      owner: String, inputs: Seq[String], params: Seq[Any])(build: => V): V = {
    entries.values.removeIf(_.stopped())
    val fp = inputs.map(fingerprint)
    val key = Key(appId, owner, inputs, params)
    val entry = entries.compute(key, (_, old) =>
      if (old != null && old.fingerprint == fp) old
      else new Entry(stopped, fp, () => build))
    try entry.value.asInstanceOf[V]
    catch { case e: Throwable => entries.remove(key, entry); throw e }
  }

  /** Live entries of `owner`, over every application and input. */
  private[graft] def entriesOf(owner: String): Int =
    entries.keySet.asScala.count(_.owner == owner)

  /** (total bytes of the files, newest mtime in micros) under `path`,
    * the path itself included; (0, 0) when it is missing. Entries that
    * vanish during the walk (an in-place rewrite racing it) are
    * skipped: the next `get` sees the settled files. */
  private[graft] def fingerprint(path: String): (Long, Long) =
    try {
      val walk = Files.walk(Paths.get(path))
      try walk.iterator.asScala.foldLeft((0L, 0L)) { case (acc @ (bytes, newest), p) =>
        try {
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          (bytes + (if (a.isRegularFile) a.size else 0L),
            math.max(newest, a.lastModifiedTime.to(java.util.concurrent.TimeUnit.MICROSECONDS)))
        } catch { case _: java.io.IOException => acc }
      } finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException |
           _: java.nio.file.DirectoryIteratorException => (0L, 0L)
    }
}
