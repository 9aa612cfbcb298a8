package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** The ONE owner of run-scoped state: every persisted frame, broadcast or
  * checkpoint a query leaves behind for reuse lives here, and every
  * cold-measurement harness calls [[clearAll]] to release all of it —
  * a warm survivor silently contaminates the next timed run (the r12
  * review found the clear litany repeated at five harness sites, where
  * one forgotten line re-opened exactly that hole).
  *
  * Two kinds of state:
  *  - the version-keyed MEMO ([[cachedFeature]], [[cachedBroadcast]]):
  *    a query function can run many times in one session (bench passes,
  *    determinism re-runs, probe loops) and nothing in the QueryDef
  *    lifecycle releases what it persisted — without the memo each run
  *    would stack a new persisted frame or pinned broadcast for the
  *    session's lifetime;
  *  - the TRACKED releases ([[track]]): state a lazy returned frame still
  *    reads, so it cannot be freed eagerly (converged CC checkpoints, the
  *    prefix-sum kernel's offsets broadcasts) and is freed by the next
  *    harness reset instead.
  *
  * Memo rules, one implementation for every value kind:
  *  - one entry per LOGICAL key (query family + source dir + any split
  *    suffix); the version is the source fingerprint as its OWN field,
  *    never embedded in the key string (ADVICE r12: recovering it from
  *    `…@<mtime>` also stripped `@<digits>` inside dir paths);
  *  - a strictly NEWER version supersedes an older one; another
  *    session's entry for the key always yields (cycled sessions share
  *    one SparkContext, so a new session re-requesting a key would
  *    otherwise stack a second copy while the abandoned one stays pinned);
  *  - a hit only on the EXACT version: serving a newer entry to an
  *    older-fingerprint caller would let one mid-regeneration query mix
  *    newer cached inputs with older uncached ones — a version-torn read
  *    (ADVICE r13); the older caller builds its own, un-memoized;
  *  - the build runs OUTSIDE the lock (builds read parquet footers and
  *    may run whole jobs; holding the global lock through them would
  *    convoy every consumer), and a same-version race loser is discarded;
  *  - releases run outside the lock too (they block on executor-side
  *    removal); entries of stopped contexts are dropped unreleased —
  *    their context already freed everything.
  *
  * Each entry carries its own release: a DataFrame is unpersisted; a
  * Broadcast is `unpersist(false)` when superseded — a concurrent caller
  * may hold it mid-query, and destroy would fail that job where unpersist
  * only re-ships the value — and destroyed when cleared or when its build
  * lost the race (never handed to anyone). */
object RunCaches {

  /** `release(true)` = final (clear, race loss); `release(false)` =
    * superseded while a concurrent reader may still hold the value. */
  private final case class Entry(version: Long, value: AnyRef,
      release: Boolean => Unit)

  private val memo = scala.collection.mutable.HashMap.empty[(SparkSession, String), Entry]
  private val tracked =
    scala.collection.mutable.ArrayBuffer.empty[(String, SparkContext, () => Unit)]

  /** Memoized persisted frame for (`s`, `key`) at `version`.
    * `spark.graft.featureMemoLevel=NONE` turns the memo off per session —
    * the 100 TB relief valve: the frames are corpus-derived, and past
    * the cluster's aggregate storage the persist itself becomes the
    * failure where the unmemoized alternative is merely a second
    * pushdown-pruned scan. Any other value is a StorageLevel name for
    * the persist tier (default MEMORY_AND_DISK); an unknown one fails
    * loudly. `persist` itself is lazy registration, not a job. */
  private[graft] def cachedFeature(s: SparkSession, key: String,
      version: Long = 0L)(build: => DataFrame): DataFrame = {
    val lvl = s.conf.get("spark.graft.featureMemoLevel", "MEMORY_AND_DISK")
    if (lvl.equalsIgnoreCase("NONE")) build
    else {
      val storage = StorageLevel.fromString(lvl.toUpperCase(java.util.Locale.ROOT))
      memoize(s, key, version)(build.persist(storage))((df, _) => df.unpersist())
    }
  }

  /** Memoized broadcast of `build` for (`s`, `key`) at `version`. A
    * broadcast is pinned on driver and executors until destroyed, so an
    * unmemoized per-run broadcast leaks one copy per run. */
  private[operators] def cachedBroadcast[T: ClassTag](s: SparkSession,
      key: String, version: Long)(build: => T): Broadcast[T] =
    memoize(s, key, version)(s.sparkContext.broadcast(build))((b, destroy) =>
      if (destroy) b.destroy() else b.unpersist(false))

  private def memoize[V <: AnyRef](s: SparkSession, key: String, version: Long)(
      build: => V)(release: (V, Boolean) => Unit): V = {
    val k = (s, key)
    val (hit, stale) = synchronized {
      memo.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      // removals strictly BEFORE the hit lookup: a superseded entry of
      // this very (session, key) must not be returned and then released
      val staleKeys = memo.collect {
        case (sk @ (sess, k2), e) if k2 == key && (!(sess eq s) || e.version < version) => sk
      }.toList
      val gone = staleKeys.flatMap(memo.remove)
      (memo.get(k).filter(_.version == version).map(_.value), gone)
    }
    stale.foreach(e => scala.util.Try(e.release(false)))
    hit.map(_.asInstanceOf[V]).getOrElse {
      val v = build
      val fresh = Entry(version, v, destroy => release(v, destroy))
      // check-then-publish with the version ORDERED (mtimes or the
      // monotonic nanoTime fallback): a same-version duplicate loses and
      // is discarded; a strictly older stored entry is superseded; a
      // stale build that finds a fresher entry returns its own value
      // un-memoized rather than overwriting it (r13: last-publisher-wins)
      val (out, drop) = synchronized {
        memo.get(k) match {
          case Some(w) if w.version == version => (w.value, Some((fresh, true)))
          case Some(w) if w.version > version => (v, Some((fresh, false)))
          case other =>
            memo.update(k, fresh)
            (v, other.map((_, false)))
        }
      }
      drop.foreach { case (e, destroy) => scala.util.Try(e.release(destroy)) }
      out.asInstanceOf[V]
    }
  }

  /** [[graft.Tables.newestMtime]] of `dir/<file>` — the source
    * fingerprint every memo version uses. Without it an in-place corpus
    * regeneration within one session would keep serving the
    * pre-regeneration persisted frame.
    *
    * A store with NO mtime surface — the `jdbc:` table-set locator, an
    * unparseable locator, or a vanished path (which still fails loudly
    * at the read) — fingerprints as a fresh nanoTime: memoization
    * degrades to build-per-call instead of killing every dedup query on
    * a tier the read facade handles fine. A transient error on a store
    * that HAS an mtime surface propagates (r13: never silently collapse
    * the memo into rebuild-per-call thrash). */
  private[operators] def srcVersion(s: SparkSession, dir: String, file: String): Long =
    try graft.Tables.newestMtime(s, s"$dir/$file")
    catch {
      case _: java.io.FileNotFoundException => System.nanoTime()
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException => System.nanoTime()
      case _: IllegalArgumentException => System.nanoTime()
      case e: java.io.IOException
          if e.getMessage != null &&
            e.getMessage.contains("No FileSystem for scheme") =>
        System.nanoTime()
    }

  /** Releases every memo entry whose key starts with `prefix` and that
    * `spare` does not keep — the dead-key reclaim for families whose
    * keys embed a version identity (j1_fk_join's per-pair key, the
    * incrcand probe frames, the ingest split): once the version moves
    * the old key can never be matched again. ALL sessions' entries are
    * reclaimed (third r18 review: cycled sessions share one context).
    * `spare` is a predicate because a family can keep several live keys
    * per version.
    *
    * A concurrent LIVE session mid-query on a superseded key has its
    * frame released and recomputed against the regenerated source; the
    * engine is single-driver by design, and reads during a source
    * regeneration are undefined exactly as they are for the parquet
    * files themselves (ADVICE r19). */
  private[operators] def evictPrefix(prefix: String, spare: String => Boolean): Unit = {
    val gone = synchronized {
      val ks = memo.keys.filter { case (_, k) => k.startsWith(prefix) && !spare(k) }.toList
      ks.flatMap(memo.remove)
    }
    gone.foreach(e => scala.util.Try(e.release(false)))
  }

  /** Registers `release` for the next [[clearAll]]: state a lazily
    * returned frame still reads, so it cannot be freed eagerly. Only
    * safe to release once every consumer has materialized. */
  private[graft] def track(s: SparkSession, label: String)(release: () => Unit): Unit =
    synchronized { tracked += ((label, s.sparkContext, release)) }

  /** Live memo entries — spec surface for the featureMemoLevel relief
    * valve and the cross-session reclaim. */
  private[graft] def memoSize: Int = synchronized(memo.size)

  /** The live memo entry's version for `key` in session `s` — spec
    * surface for the stream path's batch-keyed stamps. */
  private[graft] def versionOf(s: SparkSession, key: String): Option[Long] =
    synchronized(memo.collectFirst { case ((sess, k), e) if (sess eq s) && k == key => e.version })

  /** Pending tracked releases under `label` — the leak-count spec hook. */
  private[graft] def trackedCount(label: String): Int =
    synchronized(tracked.count(_._1 == label))

  /** Releases everything: every memo entry (final release) and every
    * tracked release. One failure must not skip the rest — but it must
    * be LOUD: a silently-broken release leaves warm state, and the
    * cold-measurement harnesses would report deflated numbers
    * indistinguishable from a real speedup (r13 sweep). */
  def clearAll(): Unit = {
    val pending = synchronized {
      val live = memo.toList.collect {
        case ((sess, k), e) if !sess.sparkContext.isStopped => (k, () => e.release(true))
      } ++ tracked.collect { case (l, sc, f) if !sc.isStopped => (l, f) }
      memo.clear()
      tracked.clear()
      live
    }
    pending.foreach { case (name, f) =>
      scala.util.Try(f()).failed.foreach(t =>
        System.err.println(s"[run-caches] release '$name' failed " +
          s"(state may stay warm): ${t.getMessage}"))
    }
  }
}
