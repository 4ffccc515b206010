package graft.operators

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}

/** Derived operator state built once per (session, dir) — pipeline
  * labels, trained indexes, rewritten table layouts — and reused by
  * every later call: `memo(s, dir) { build }`. Builders materialize
  * eagerly (`localCheckpoint`, or a write to a [[Materialized.tempDir]]).
  *
  * Keys hold the SparkSession reference itself (reference equality —
  * SparkSession doesn't override equals), and one session-end
  * listener per session clears that session's entries from every
  * memo, so a stopped session's checkpoint blocks are released and
  * an identity-hash collision can never serve a stale frame bound to
  * a dead session (ADVICE r3). */
final class Materialized[T] private () {
  private val entries = TrieMap.empty[(SparkSession, String), T]
  Materialized.memos.add(this)

  def apply(s: SparkSession, dir: String)(build: => T): T = {
    Materialized.watch(s)
    entries.getOrElseUpdate((s, dir), build)
  }

  private def evict(s: SparkSession): Unit =
    entries.keys.filter(_._1 eq s).foreach(entries.remove)
}

object Materialized {
  private val memos =
    new java.util.concurrent.CopyOnWriteArrayList[Materialized[_]]()
  private val watched = TrieMap.empty[SparkSession, Unit]

  def apply[T](): Materialized[T] = new Materialized[T]

  private def watch(s: SparkSession): Unit =
    if (watched.putIfAbsent(s, ()).isEmpty)
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evict(s)
      })

  /** The session-end listener's body: clears `s`'s entries from
    * every memo. */
  private[graft] def evict(s: SparkSession): Unit = {
    memos.forEach(_.evict(s))
    watched.remove(s)
  }

  /** A fresh temp directory, removed with its contents at JVM exit. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit))
    p
  }
}
