package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** Per-generation reuse of a standing store's RESOLVED probe state.
  *
  * A probe of a generational store first resolves its live state: the
  * committed batches' rows, each id at its max committed generation,
  * tombstones dropped (plus driver-side metadata such as the PQ
  * codebook). Committed generations are immutable, so that state only
  * changes when the ledger does. A view is therefore resolved ONCE per
  * committed generation and reused by every probe until the store's
  * [[Commits.Generation]] fingerprint moves:
  *
  *  - fingerprint match: the probe reads the cached view;
  *  - mismatch (any commit/uncommit/clear since, from this JVM or any
  *    other): the probe runs the store's resolution code once, persists
  *    the result at MEMORY_AND_DISK and replaces the old entry, whose
  *    frame is unpersisted without blocking.
  *
  * Entries are keyed by (store dir, view name), one per key, so a
  * churning store never holds two generations of one view. The cache is
  * bounded without a knob: at most [[MaxEntries]] entries, least
  * recently used evicted first; entries of a stopped SparkContext are
  * dropped; a frame whose cache entry vanished (`clearCache`) counts
  * as a miss. Views live in Spark block storage, never in store dirs.
  *
  * Each cached frame carries a one-off token column in its plan, so
  * Spark's CacheManager can never substitute it into another query: a
  * plan over a rebuilt store can equal a stale view's plan path for
  * path (same `b0` dirs, different bytes).
  *
  * A miss resolves the WHOLE view (every term, every bucket), where an
  * uncached probe pushed its term or bucket filter into the scan; it
  * pays off from the second probe of a generation. Stores whose
  * resolved view is too big to keep serve probes from the
  * bucketed/partitioned snapshot layouts instead.
  */
object LiveViews {

  /** Entry cap: a few views per store, dozens of stores per session. */
  val MaxEntries: Int = 64

  private final class Entry(val spark: SparkSession,
      val fingerprint: Seq[(String, Long)], val value: Any,
      val persisted: Option[DataFrame]) {
    def live: Boolean = !spark.sparkContext.isStopped &&
      persisted.forall(_.storageLevel != StorageLevel.NONE)
    def release(): Unit = if (!spark.sparkContext.isStopped)
      persisted.foreach(_.unpersist(blocking = false))
  }

  // Access-ordered: iteration starts at the least recently used entry.
  private val entries =
    new java.util.LinkedHashMap[(String, String), Entry](16, 0.75f, true)
  private val tokens = new java.util.concurrent.atomic.AtomicLong

  private val TokenCol = "__live_view"

  /** The cached frame `view` of the store at `dir` for generation
    * `gen`, resolving and persisting `resolve` on a miss.
    */
  def frame(spark: SparkSession, dir: String, view: String,
      gen: Commits.Generation)(resolve: => DataFrame): DataFrame =
    cached(spark, dir, view, gen) {
      val tagged = resolve
        .withColumn(TokenCol, lit(tokens.incrementAndGet()))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (tagged.drop(TokenCol), Some(tagged))
    }

  /** The cached driver-side value `view` of the store at `dir` for
    * generation `gen` (codebooks, centroids, corpus statistics).
    */
  def value[T](spark: SparkSession, dir: String, view: String,
      gen: Commits.Generation)(resolve: => T): T =
    cached(spark, dir, view, gen)((resolve, None))

  private def cached[T](spark: SparkSession, dir: String, view: String,
      gen: Commits.Generation)(resolve: => (T, Option[DataFrame])): T = {
    val key = (dir, view)
    val hit = entries.synchronized {
      entries.values.removeIf(_.spark.sparkContext.isStopped)
      Option(entries.get(key)).filter(e => (e.spark eq spark) &&
        e.fingerprint == gen.fingerprint && e.live)
    }
    hit.fold {
      // Resolve outside the lock: a miss may run Spark jobs, and other
      // stores' probes must not queue behind it.
      val (v, persisted) = resolve
      entries.synchronized {
        Option(entries.put(key,
          new Entry(spark, gen.fingerprint, v, persisted)))
          .foreach(_.release())
        val it = entries.values.iterator
        while (entries.size > MaxEntries) { it.next().release(); it.remove() }
      }
      v
    }(_.value.asInstanceOf[T])
  }
}
