package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** A (session, key)-keyed cache of one kind of shared artifact — a
  * persisted DataFrame, a trained model, a collected scalar or the path
  * of an on-disk layout — computed once and read by several queries.
  * Every instance registers itself with [[MaterializedCaches]], so one
  * [[MaterializedCaches.invalidateAll]] releases every artifact in the
  * engine.
  *
  * Staleness caveat, for every artifact kind: entries are keyed by path,
  * not by file content — if the parquet files under an sfDir are
  * rewritten while a JVM holds a cached entry, consumers keep reading
  * the stale DataFrame blocks, models, scalars and layouts until
  * [[MaterializedCaches.invalidateAll]] (or [[clear]]) is called. Tools
  * and tests that rewrite inputs must invalidate first; long-lived
  * multi-session apps should invalidate when retiring a session so the
  * strong session references and their storage blocks are released.
  */
final class SessionCache[V](val name: String) {
  private val m = TrieMap.empty[(SparkSession, String), V]
  MaterializedCaches.register(this)

  def getOrElseUpdate(key: (SparkSession, String), compute: => V): V =
    m.getOrElseUpdate(key, compute)

  /** Replace the entry: producers that deliberately re-train refresh it. */
  def put(key: (SparkSession, String), v: V): Unit = m.put(key, v)

  private[graft] def values: Seq[V] = m.values.toSeq

  /** Unpersist the values that are DataFrames and drop every entry (incl.
    * the strong SparkSession references). On-disk artifacts stay: their
    * directories belong to [[TempArtifacts]] or to the caller.
    */
  def clear(): Unit = {
    m.values.foreach {
      case df: DataFrame @unchecked =>
        try df.unpersist(blocking = false) catch { case _: Exception => () }
      case _ => ()
    }
    m.clear()
  }
}

/** Registry of every [[SessionCache]] in the engine, so one call releases
  * all shared artifacts (see the staleness caveat on [[SessionCache]]).
  */
object MaterializedCaches {
  private val all = TrieMap.empty[String, SessionCache[_]]

  private[graft] def register(c: SessionCache[_]): Unit = all.put(c.name, c)

  /** Forget every cached shared artifact across all modules, unpersisting
    * the DataFrames.
    */
  def invalidateAll(): Unit = all.values.foreach(_.clear())

  private[graft] def registered: Seq[String] = all.keys.toSeq.sorted

  /** Names of the registered caches that hold at least one entry. */
  private[graft] def holding: Seq[String] =
    all.values.filter(_.values.nonEmpty).map(_.name).toSeq.sorted

  /** Every DataFrame currently held by any [[SessionCache]] — the
    * protected set for the bench's between-queries storage janitor.
    */
  private[graft] def allDfs: Seq[DataFrame] =
    all.values.flatMap(_.values.collect { case df: DataFrame @unchecked => df }).toSeq
}

/** JVM-lifetime registry of temporary on-disk artifacts (the materialized
  * IVF-PQ index, the month-partitioned orders layout): [[create]] returns
  * a fresh temp directory AND registers it for recursive deletion by a
  * single shutdown hook, so repeated short-lived runs (tests, bench
  * iterations, the verify driver) do not accumulate orphaned index
  * directories in /tmp. `deleteOnExit` alone cannot do this — it deletes
  * only empty directories and would need every future file pre-registered.
  */
object TempArtifacts {
  private val dirs = TrieMap.empty[String, Unit]

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    dirs.keys.foreach { d =>
      try {
        val p = Path.of(d)
        if (Files.exists(p))
          Files.walk(p).sorted(Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
      } catch { case _: Exception => () } // best-effort: never fail shutdown
    }
  }, "graft-temp-artifacts-cleanup"))

  /** A fresh temp directory, registered for deletion at JVM exit. */
  def create(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.put(d, ())
    d
  }
}
