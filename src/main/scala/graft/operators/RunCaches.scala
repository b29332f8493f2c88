package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.util.Try

/** Every session-scoped cache in the engine, and [[clearAll]], the one
  * reset that cold-measurement harnesses run so no warm survivor
  * flatters a sample.
  *
  * '''The versioned memo.''' A query function can run many times in one
  * session (bench passes, determinism re-runs, stream triggers), and a
  * persisted frame or a broadcast stays pinned until released, so a value
  * that several plan branches or runs share is memoized here. The key is
  * (session, logical key); the source version (an mtime from
  * [[srcVersion]], or a stream's per-batch stamp) is a separate `Long`,
  * never folded into the key string where it could be confused with path
  * bytes. Persisted frames ([[cachedFeature]]) and broadcasts
  * ([[cachedBroadcast]]) go through one implementation with these rules:
  *
  *  - One live entry per logical key. Another session's entry for the
  *    key, or this session's entry for an older version, is superseded
  *    before the caller builds: cycled sessions share one SparkContext,
  *    and the abandoned copy would otherwise stay pinned.
  *  - A hit only on the exact requested version. Serving a newer value to
  *    an older caller would mix versions within one query.
  *  - Versions are ordered, so the latest wins whatever order concurrent
  *    builds finish in: an older caller that finds a newer entry gets its
  *    own build back, not memoized, and the newer entry survives; of two
  *    builds of the same version the first published is kept and the
  *    loser destroyed.
  *  - Builds and releases run outside the lock: builds run jobs and read
  *    file footers, releases block on executors.
  *  - A superseded entry is released (a concurrent query may still be
  *    reading it); only an entry nobody holds, a race loser or anything
  *    [[clearAll]] drops, is destroyed.
  *  - Entries of stopped sessions are swept on every lookup.
  *  - `spark.graft.featureMemoLevel` names the frames' persist level
  *    (default MEMORY_AND_DISK); `NONE` turns the frame memo off for the
  *    session, building per call and persisting nothing, for corpora
  *    past the cluster's storage.
  *
  * The engine is single-driver: a live session reading a key while its
  * source is regenerated may see a recomputed frame, exactly as it would
  * reading the parquet files themselves.
  *
  * '''Held until clear.''' Values the engine hands out inside lazy frames
  * and so cannot free itself (converged connected-components checkpoints,
  * prefix-sum offset broadcasts) are listed with their release
  * ([[releaseAtClear]]) and freed by [[clearAll]]. */
object RunCaches {

  /** One versioned memo over values of type `V`: `release` lets go of a
    * superseded value a concurrent query may still read, `destroy` of a
    * value nobody holds. */
  private final class VersionedMemo[V](release: V => Unit, destroy: V => Unit) {
    private val entries = mutable.HashMap.empty[(SparkSession, String), (Long, V)]

    def getOrBuild(s: SparkSession, key: String, version: Long)(build: => V): V = {
      val (hit, superseded) = synchronized {
        entries.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
        val stale = entries.collect { case (k @ (sess, `key`), (ver, v))
          if !(sess eq s) || ver < version => (k, v) }.toList
        stale.foreach { case (k, _) => entries.remove(k) }
        (entries.get((s, key)).collect { case (`version`, v) => v }, stale.map(_._2))
      }
      superseded.foreach(v => Try(release(v)))
      hit.getOrElse {
        val fresh = build
        val (out, letGo) = synchronized {
          entries.get((s, key)) match {
            case Some((`version`, winner)) => (winner, () => destroy(fresh))
            case Some((ver, _)) if ver > version => (fresh, () => release(fresh))
            case older =>
              entries((s, key)) = (version, fresh)
              (fresh, () => older.foreach { case (_, v) => release(v) })
          }
        }
        Try(letGo())
        out
      }
    }

    /** Releases every entry whose key starts with `prefix` and fails
      * `spare`, in every session. */
    def evictPrefix(prefix: String, spare: String => Boolean): Unit = {
      val dropped = synchronized {
        val ks = entries.keys.filter { case (_, k) => k.startsWith(prefix) && !spare(k) }.toList
        ks.flatMap(entries.remove).map(_._2)
      }
      dropped.foreach(v => Try(release(v)))
    }

    def size: Int = synchronized(entries.size)

    def versionOf(s: SparkSession, key: String): Option[Long] =
      synchronized(entries.get((s, key)).map(_._1))

    /** Forgets every entry; returns their destroys, to run outside the lock. */
    def detachAll(): List[() => Unit] = synchronized {
      val vs = entries.values.map(_._2).toList
      entries.clear()
      vs.map(v => () => destroy(v))
    }
  }

  private val frames = new VersionedMemo[DataFrame](_.unpersist(), _.unpersist())
  private val broadcasts =
    new VersionedMemo[Broadcast[_]](_.unpersist(false), _.destroy())
  private val held = mutable.ListBuffer.empty[(AnyRef, () => Unit)]

  /** The memoized persisted frame for `key` at `version`, built by `build`
    * on a miss. See the object doc for the rules. */
  private[graft] def cachedFeature(s: SparkSession, key: String,
      version: Long = 0L)(build: => DataFrame): DataFrame = {
    val lvl = s.conf.get("spark.graft.featureMemoLevel", "MEMORY_AND_DISK")
    if (lvl.equalsIgnoreCase("NONE")) build
    else {
      val storage = StorageLevel.fromString(lvl.toUpperCase(java.util.Locale.ROOT))
      frames.getOrBuild(s, key, version)(build.persist(storage))
    }
  }

  /** The memoized broadcast for `key` at `version`, built by `build` on a
    * miss. */
  private[graft] def cachedBroadcast[T](s: SparkSession, key: String,
      version: Long)(build: => Broadcast[T]): Broadcast[T] =
    broadcasts.getOrBuild(s, key, version)(build).asInstanceOf[Broadcast[T]]

  /** Releases memoized frames whose key starts with `prefix`, sparing
    * those `spare` accepts, in every session. For families whose keys
    * embed a version identity (a split, an index path, a per-pair mtime):
    * when the identity moves, the old key can never match again, and its
    * frame would stay pinned until [[clearAll]]. `spare` is a predicate
    * because a family can keep several live keys per version. */
  private[operators] def evictFeaturePrefix(
      prefix: String, spare: String => Boolean): Unit =
    frames.evictPrefix(prefix, spare)

  /** Max mtime of `dir/<file>` (a file, or a directory and its direct
    * children): the version of every memo entry derived from that source.
    * Without it an in-place regeneration within one session would keep
    * serving the pre-regeneration frame.
    *
    * A store with no mtime surface (the `jdbc:` table-set locator, an
    * unparseable locator, a vanished path) fingerprints as a fresh
    * nanoTime, so memoization degrades to build-per-call instead of
    * failing; a vanished path still fails loudly at the read. A transient
    * error on a store that has mtimes propagates.
    * `Similarity.ensureVersionedIndex` does not share the fallback: an
    * index name must pin the corpus identity. */
  private[operators] def srcVersion(s: SparkSession, dir: String, file: String): Long =
    try {
      import org.apache.hadoop.fs.Path
      val src = new Path(s"$dir/$file")
      val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(src)
      if (st.isDirectory)
        (st.getModificationTime +:
          fs.listStatus(src).map(_.getModificationTime).toSeq).max
      else st.getModificationTime
    } catch {
      case _: java.io.FileNotFoundException => System.nanoTime()
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException => System.nanoTime()
      case _: IllegalArgumentException => System.nanoTime()
      case e: java.io.IOException
          if e.getMessage != null &&
            e.getMessage.contains("No FileSystem for scheme") =>
        System.nanoTime()
    }

  /** Lists `v` to be let go by `release` at the next [[clearAll]]. Only
    * for values every consumer has materialized by then: a lazy frame
    * reading `v` is not recomputable afterwards. */
  private[graft] def releaseAtClear(v: AnyRef)(release: => Unit): Unit =
    held.synchronized { held += ((v, () => release)) }

  /** Releases and forgets everything above. One failing release does not
    * skip the rest, but it is reported: a value left warm would make a
    * cold sample read as a speedup. */
  def clearAll(): Unit = {
    val listed = held.synchronized {
      val hs = held.toList
      held.clear()
      hs.map(_._2)
    }
    val releases = listed ++ frames.detachAll() ++ broadcasts.detachAll()
    val failed = releases.flatMap(r => Try(r()).failed.toOption)
    failed.headOption.foreach(t => System.err.println(
      s"[run-caches] ${failed.size} of ${releases.size} releases failed " +
        s"(state may stay warm): ${t.getMessage}"))
  }

  /** Live memoized frames, all sessions (spec hook). */
  private[graft] def featureCacheSize: Int = frames.size

  /** The version of session `s`'s live frame for `key` (spec hook). */
  private[graft] def featureVersionOf(s: SparkSession, key: String): Option[Long] =
    frames.versionOf(s, key)

  /** Kernel broadcasts listed for release at clear (spec hook). */
  private[graft] def kernelBroadcastCount: Int =
    held.synchronized(held.count(_._1.isInstanceOf[Broadcast[_]]))
}
