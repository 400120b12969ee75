package graft.sources

import graft.SparkSpec
import graft.operators.{Search, Similarity}
import graft.streaming.Streams
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Coherence of the per-generation probe views ([[LiveViews]]): a probe
  * that warmed a store's views must answer exactly like a from-scratch
  * resolution after every public mutation, and a repeat probe of an
  * unchanged store must reuse the views (fewer Spark jobs).
  */
class LiveViewsSpec extends SparkSpec {
  import spark.implicits._

  private val Planes = 3
  private val Dims = 4
  private val CkDims = 16

  private def vecOf(id: Long, salt: Int): Seq[Float] =
    (0 until Dims).map(j => math.sin(id * 1.7 + j * 0.9 + salt).toFloat)

  private val words = Vector("alpha", "beta", "gamma", "delta", "river",
    "stone", "cloud", "ember", "frost", "grove", "harbor", "island")

  private def textOf(id: Long, salt: Int): String =
    (0 until 6 + (id % 4).toInt)
      .map(j => words(((id * 7 + j * (3 + salt)) % words.size).toInt))
      .mkString(" ")

  /** Stores of one fan-out family under `root`. */
  private final class Family(val root: String) {
    val store = s"$root/store"
    val index = s"$root/index"
    val ann = s"$root/ann"
    val pq = s"$root/pq"
    val chunks = s"$root/chunks"
    val ckvec = s"$root/ckvec"
  }

  private def ingest(f: Family, batchId: Long,
      docs: Seq[(Long, String, Seq[Float])]): Unit =
    Streams.fanoutIngestBatch(docs.toDF("doc_id", "text", "vec"), batchId,
      f.store, f.index, f.ann, "doc_id", "text", vecCol = Some("vec"),
      planes = Planes, dims = Dims, pqDir = Some(f.pq), pqM = 2,
      pqCodes = 2, chunkDir = Some(f.chunks), chunkWindow = 4,
      chunkOverlap = 1, chunkVecDir = Some(f.ckvec), chunkVecDims = CkDims,
      chunkVecM = 4, chunkVecCodes = 3, chunkVecCells = 2): Unit

  private val terms = Seq("alpha", "river", "frost")
  private val phrase = Seq("gamma", "delta")
  private def annQueries = Seq((-1L, vecOf(1L, 0)), (-2L, vecOf(4L, 0)))
    .toDF("id", "vec")

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** Every store probe of the family, as comparable row strings. */
  private def probes(f: Family): Map[String, () => Seq[String]] = Map(
    "bm25" -> (() => sorted(Search.bm25FromIndexTopK(spark, f.index,
      terms, 10))),
    "phrase" -> (() => sorted(Search.phraseFromIndexTopK(spark, f.index,
      phrase, 10))),
    "ann" -> (() => sorted(Similarity.annStoreTopK(spark, f.ann,
      annQueries, Planes, Dims, 5))),
    "pq" -> (() => sorted(Similarity.pqStoreTopK(spark, f.pq,
      annQueries, 5))),
    "pqRerank" -> (() => sorted(Similarity.pqStoreRerankTopK(spark, f.pq,
      annQueries, vecsDf, 4, 3))),
    "passage" -> (() => sorted(Streams.passageTopK(spark, f.ckvec,
      "alpha beta gamma delta", CkDims, 10, 5, nprobe = 2))))

  // The live corpus the stores should hold, as the spec's own ledger.
  private var live = Map.empty[Long, (String, Seq[Float])]
  private def vecsDf = live.toSeq.map { case (id, (_, v)) => (id, v) }
    .toDF("id", "vec")
  private def corpus = live.toSeq.map { case (id, (t, _)) => (id, t) }
    .toDF("doc_id", "text")

  /** Copy the family to a fresh root: the copy has no cached views, so
    * its probes resolve every generation from scratch.
    */
  private def coldCopy(f: Family): Family = {
    val to = java.nio.file.Files.createTempDirectory("live-views-cold")
    val from = java.nio.file.Paths.get(f.root)
    val s = java.nio.file.Files.walk(from)
    try s.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally s.close()
    new Family(to.toString)
  }

  private final class JobCounter extends SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      n.incrementAndGet(): Unit
  }

  /** Spark jobs `f` launches. */
  private def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val c = new JobCounter
    sc.addSparkListener(c)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, c.n.get)
    } finally sc.removeSparkListener(c)
  }

  /** Warm every probe of `f` (views cached), then check each against a
    * cold resolution, and the index probes against the scan path.
    */
  private def assertCoherent(f: Family, step: String): Unit = {
    val warm = probes(f).map { case (k, p) => k -> p() }
    val cold = probes(coldCopy(f)).map { case (k, p) => k -> p() }
    warm.keys.foreach { k =>
      assert(warm(k) == cold(k), s"$step: $k probe diverged from a cold " +
        s"resolution:\nwarm ${warm(k)}\ncold ${cold(k)}")
    }
    assert(warm("bm25") == sorted(Search.bm25TopK(corpus, "doc_id", "text",
      terms, 10)), s"$step: bm25 diverged from the scan path")
    assert(warm("phrase") == sorted(Search.phraseTopK(corpus, "doc_id",
      "text", phrase, 10)), s"$step: phrase diverged from the scan path")
    assert(Similarity.annStoreLiveIds(spark, f.ann).as[Long].collect()
      .toSet == live.keySet, s"$step: ANN membership")
    assert(Similarity.pqStoreLiveIds(spark, f.pq).as[Long].collect()
      .toSet == live.keySet, s"$step: PQ membership")
  }

  test("warmed probe views follow every mutation of the index, ANN, PQ " +
    "and chunk-vector stores") {
    val f = new Family(java.nio.file.Files
      .createTempDirectory("live-views").toString)
    def put(batchId: Long, ids: Seq[Long], salt: Int): Unit = {
      val docs = ids.map(id => (id, textOf(id, salt), vecOf(id, salt)))
      ingest(f, batchId, docs)
      live ++= docs.map { case (id, t, v) => id -> (t, v) }
    }
    live = Map.empty
    put(0L, 1L to 12L, 0)
    assertCoherent(f, "build")

    put(1L, Seq(13L, 14L), 0)
    assertCoherent(f, "append")

    put(2L, Seq(2L, 5L, 9L), 1)
    assertCoherent(f, "changed-content upsert")

    Streams.fanoutDeleteBatch(Seq(3L, 13L).toDF("doc_id"), 3L, f.store,
      f.index, f.ann, chunkDir = Some(f.chunks), pqDir = Some(f.pq),
      chunkVecDir = Some(f.ckvec))
    live --= Seq(3L, 13L)
    assertCoherent(f, "delete")

    def maintain(incremental: Boolean, maxBatches: Option[Int]): Unit =
      Streams.fanoutVacuum(spark, f.store, f.index, f.ann,
        incremental = incremental, chunkDir = Some(f.chunks),
        maxBatches = maxBatches, minDeadFraction = 0.0, pqDir = Some(f.pq),
        chunkVecDir = Some(f.ckvec)): Unit
    maintain(incremental = true, None)
    assertCoherent(f, "incremental vacuum")

    put(4L, Seq(7L, 15L), 2)
    maintain(incremental = true, Some(1))
    assert(Commits.committed(spark, f.index).size == 1)
    assertCoherent(f, "compaction")

    put(5L, Seq(1L), 3)
    maintain(incremental = false, None)
    assertCoherent(f, "full vacuum")

    Similarity.pqStoreReroute(spark, f.pq, cells = 2)
    Similarity.pqStoreReroute(spark, f.ckvec, cells = 3)
    assertCoherent(f, "PQ rebuild")

    // Delete and rebuild at the same paths: a new corpus whose fresh
    // ledger again holds batch 0, as the stale views' did.
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(f.root))
    live = Map.empty
    put(0L, 21L to 30L, 4)
    assertCoherent(f, "delete and rebuild")
  }

  test("a repeat probe of an unchanged store reuses its views") {
    val f = new Family(java.nio.file.Files
      .createTempDirectory("live-views-jobs").toString)
    live = (1L to 12L).map(id => id -> (textOf(id, 0), vecOf(id, 0))).toMap
    ingest(f, 0L, live.toSeq.map { case (id, (t, v)) => (id, t, v) })
    // A second generation, so every store's resolution runs its
    // per-id currency aggregate on a miss.
    val up = Seq(2L, 5L).map(id => (id, textOf(id, 1), vecOf(id, 1)))
    ingest(f, 1L, up)
    // Pinned hit-path job counts (local[4], 4 shuffle partitions).
    val hitJobs = Map("bm25" -> 4, "phrase" -> 2, "ann" -> 4, "pq" -> 4,
      "pqRerank" -> 7, "passage" -> 3)
    // Each probe on its own copy, so its first call resolves every view
    // it reads (probes of one store share views).
    val counted = probes(f).keys.map { k =>
      val p = probes(coldCopy(f))(k)
      val (miss, missJobs) = jobs(p())
      val (hit, hitN) = jobs(p())
      assert(hit == miss, s"$k: repeat probe changed its answer")
      k -> (missJobs, hitN)
    }
    counted.foreach { case (k, (missJobs, hitN)) =>
      assert(hitN < missJobs,
        s"$k: repeat probe launched $hitN jobs, first probe $missJobs")
    }
    assert(counted.map { case (k, (_, h)) => k -> h }.toMap == hitJobs,
      s"hit-path jobs (miss, hit): $counted")
  }

  test("the view cache stays bounded across 100 probed stores") {
    val base = java.nio.file.Files.createTempDirectory("live-views-many")
    val src = s"$base/src"
    Similarity.annStoreAppend((1L to 8L).map(id => (id, vecOf(id, 0)))
      .toDF("id", "vec"), src, Planes, Dims)
    val q = Seq((-1L, vecOf(1L, 0))).toDF("id", "vec")
    val before = spark.sparkContext.getPersistentRDDs.size
    val want = Similarity.annStoreTopK(spark, src, q, Planes, Dims, 3)
      .collect().toSeq
    (0 until 100).foreach { i =>
      val dir = s"$base/s$i"
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src),
        new java.io.File(dir))
      assert(Similarity.annStoreTopK(spark, dir, q, Planes, Dims, 3)
        .collect().toSeq == want)
    }
    val persisted = spark.sparkContext.getPersistentRDDs.size - before
    assert(persisted <= LiveViews.MaxEntries,
      s"$persisted persistent RDDs after probing 100 stores")
  }
}
