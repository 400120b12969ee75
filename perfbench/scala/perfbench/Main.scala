package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Search, Similarity}
import graft.pipeline.{Crawl, CrawlConfig, LocalFetcher}
import graft.sources.Commits
import graft.streaming.Streams

/** Closed-loop benchmark client: one thread drives one workload against
  * a local Spark session through the engine's public functions.
  *
  *   perfbench.Main --workload ingest|churn --seed N --seconds S
  *     --trace 0|1 --work DIR --out FILE
  *
  * Writes one JSON object to FILE: the run environment, the run record,
  * the end-to-end and per-layer metrics, and the check counts.
  */
object Main {
  // Sizes and why: BENCHMARK.json "workloads" and perfbench/README.md.
  val K = 10
  // A run's work is fixed, whatever --seconds says, so that store bytes,
  // generations and counts never depend on how fast the engine is.
  val Cycles = 1
  val IngestPages = 300
  val ChurnDocs = 1000
  val UpsertDocs = 30
  val TakedownDocs = 20
  val MaintenanceMaxBatches = 4
  val ScanChecks = 1
  val Planes = 8
  val Dims = 8
  val ChunkVecDims = 16
  val ChunkVecTrainPerMille = 250

  val Spans: Seq[String] = Seq(
    "pipeline.Crawl.run",
    "streaming.Streams.fanoutIngestBatchNeardupGated",
    "streaming.Streams.fanoutIngestBatch",
    "streaming.Streams.fanoutDeleteBatch",
    "streaming.Streams.fanoutVacuum",
    "streaming.Streams.passageTopK",
    "operators.Search.bm25FromIndexTopK",
    "operators.Search.phraseFromIndexTopK",
    "operators.Search.hybridTopK",
    "operators.Similarity.annStoreTopK")

  val Stores: Seq[String] =
    Seq("merge", "index", "ann", "pq", "chunks", "ckvec", "gram", "neardup")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    require(Seq("ingest", "churn").contains(workload),
      s"unknown workload $workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Sized like graft.Bench's session: the default 100-entry cache
      // makes every fan-out re-compile its generated classes, which
      // here costs a third of a warm fan-out.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, workload, opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", work, sessionS)
    val out = try run.execute() finally spark.stop()
    Files.write(Paths.get(opts("out")), out.getBytes("UTF-8"))
  }
}

/** One benchmark run: set-up, the measured closed loop, the checks. */
final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, traceOn: Boolean, work: Path, sessionS: Double) {
  import Main._
  import spark.implicits._

  private val tracer = new Tracer(spark, traceOn)
  private val gen = new Gen(seed)
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var batchId = 0L
  private val info = mutable.LinkedHashMap[String, Any]()

  // Ledger: what the stores should hold, per the generator's inputs.
  private val live = mutable.LinkedHashMap[Long, String]()
  private val vecs = mutable.Map[Long, Array[Float]]()
  private var userBytes = 0L
  private val seenFiles = mutable.Map[String, Long]()
  private var writtenBytes = 0L

  // Measured latencies: ingest calls (seconds, docs) and probes.
  private val ingests = mutable.ArrayBuffer[(Double, Int)]()
  private val probes = mutable.ArrayBuffer[Double]()

  private val root: Path = work.resolve("stores")
  private def dir(store: String): String = root.resolve(store).toString

  // Traced runs only: the stores as they were before the cycle's first
  // write call, and that call, for the overhead probe to replay.
  private val snapshot: Path = work.resolve("stores-before-write")
  private var replay: Option[() => Unit] = None

  private def check(r: Option[String]): Unit = {
    attempted += 1
    r.foreach { m =>
      failures += m
      System.err.println(s"perfbench: CHECK FAILED: $m")
    }
  }

  private var windowStart = 0L

  private def startWindow(): Unit = {
    tracer.window(true)
    windowStart = System.nanoTime()
  }

  private def secondsSince(n0: Long): Double = (System.nanoTime() - n0) / 1e9

  private def nextBatch(): Long = { batchId += 1; batchId }

  private def textBytes(t: String): Long = t.getBytes("UTF-8").length.toLong

  private def liveDocs: IndexedSeq[Doc] =
    live.iterator.map { case (id, t) => Doc(id, t, vecs(id)) }.toIndexedSeq

  /** Add the bytes of store files that appeared or changed since the
    * last call: what the engine wrote and kept, walked from outside.
    */
  private def noteWrites(): Unit =
    walk(root).foreach { case (p, n) =>
      if (!seenFiles.get(p).contains(n)) { writtenBytes += n; seenFiles(p) = n }
    }

  /** Replace the tree at `to` with a copy of the tree at `from`. */
  private def copyTree(from: Path, to: Path): Unit = {
    if (Files.exists(to)) {
      val s = Files.walk(to)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
    val s = Files.walk(from)
    try s.iterator().asScala.toList.foreach { f =>
      Files.copy(f, to.resolve(from.relativize(f).toString))
    } finally s.close()
  }

  /** In a traced run, keep the stores and the write `call` about to run
    * on them, once per run, for the overhead probe to replay.
    */
  private def keepForReplay(call: () => Unit): Unit =
    if (tracer.enabled && tracer.measuring && replay.isEmpty) {
      copyTree(root, snapshot)
      replay = Some(call)
    }

  private def walk(p: Path): Seq[(String, Long)] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toList
      finally s.close()
    }

  // ---- engine calls, one span each -------------------------------------

  private def fanoutIngest(docs: Seq[Doc], batch: Long): Seq[Long] =
    tracer.span("streaming.Streams.fanoutIngestBatch") {
      val (a, b, c, d, e) = Streams.fanoutIngestBatch(
        docs.map(d => (d.id, d.text, d.vec)).toDF("doc_id", "text", "vec"),
        batch, dir("merge"), dir("index"), dir("ann"), "doc_id", "text",
        Some("vec"), planes = Planes, dims = Dims, pqDir = Some(dir("pq")),
        chunkDir = Some(dir("chunks")), chunkVecDir = Some(dir("ckvec")),
        chunkVecDims = ChunkVecDims,
        chunkVecTrainPerMille = ChunkVecTrainPerMille)
      Seq(a, b, c, d, e)
    }

  private def qvec(v: Array[Float]): DataFrame = Seq((-1L, v)).toDF("id", "vec")

  private def ids(df: DataFrame, c: String): Seq[Long] =
    df.select(col(c).cast("long")).as[Long].collect().toSeq

  private def runProbe(p: Probe): Seq[Long] = p match {
    case Bm25(ts) => tracer.span("operators.Search.bm25FromIndexTopK")(
      ids(Search.bm25FromIndexTopK(spark, dir("index"), ts, K), "doc_id"))
    case Phrase(ts) => tracer.span("operators.Search.phraseFromIndexTopK")(
      ids(Search.phraseFromIndexTopK(spark, dir("index"), ts, K), "doc_id"))
    case Ann(v) => tracer.span("operators.Similarity.annStoreTopK")(
      ids(Similarity.annStoreTopK(spark, dir("ann"), qvec(v), Planes, Dims, K),
        "cid"))
    case Passage(t) => tracer.span("streaming.Streams.passageTopK")(
      ids(Streams.passageTopK(spark, dir("ckvec"), t, ChunkVecDims, 5 * K, K),
        "doc_id"))
    case Hybrid(ts, v) => tracer.span("operators.Search.hybridTopK")(
      ids(Search.hybridTopK(spark, dir("index"), dir("ann"), ts, qvec(v),
        Planes, Dims, K), "doc_id"))
  }

  /** One seeded round of the probe mix, each probe timed and checked:
    * at most k live ids (taken-down ids leave the ledger for good).
    */
  private def probeRound(): Unit =
    gen.probeRound(liveDocs).foreach { p =>
      val n0 = System.nanoTime()
      val got = runProbe(p)
      if (tracer.measuring) probes += secondsSince(n0)
      check(Checks.probe(got, K, live.contains))
    }

  // ---- ingest --------------------------------------------------------------

  private val docIdOf =
    regexp_extract(col("url"), "/[pf]/(\\d+)\\.", 1).cast("long")

  /** Crawled documents (pages and files, not the index and hub pages). */
  private def crawledDocs(res: graft.pipeline.CrawlResult): DataFrame =
    res.pages.select("url", "text").unionByName(res.files.select("url", "text"))
      .filter(col("url").rlike("/[pf]/\\d+\\."))
      .select(docIdOf.as("doc_id"), col("text"))

  /** One crawl job: crawl the site's next version, fan the extracted
    * docs through both dedup gates into every store, check the result.
    */
  private def crawlJob(): Unit = {
    val site = gen.nextSite(IngestPages)
    val siteDf = site.pages.map(p => (p.url, p.payload, p.contentType))
      .toDF("url", "payload", "content_type")
    val vecDf = site.vecs.toSeq.toDF("doc_id", "vec")
    val n0 = System.nanoTime()
    val (res, counts) = tracer.span("ingest.job") {
      val res = tracer.span("pipeline.Crawl.run")(Crawl.run(spark,
        new LocalFetcher(siteDf), Seq(s"${site.root}/index.html"),
        CrawlConfig(rootDomain = site.domain, maxDepth = 3)))
      val input = crawledDocs(res).join(vecDf, Seq("doc_id"))
      val batch = nextBatch()
      keepForReplay(() => gatedFanout(input, batch))
      (res, gatedFanout(input, batch))
    }
    if (tracer.measuring) {
      ingests += ((secondsSince(n0), site.expected.size))
      info("fanout_counts") = counts
    }
    check(Checks.crawl(crawledDocs(res).as[(Long, String)].collect().toMap,
      site.expected))
    check(Checks.fanout(counts, site.expected.size, site.exactRecrawls,
      site.nearDups))
    site.expected.foreach { case (id, t) => live(id) = t }
    vecs ++= site.vecs
    userBytes += site.expected.values.map(textBytes).sum
    noteWrites()
  }

  private def gatedFanout(input: DataFrame, batch: Long): Seq[Long] =
    tracer.span("streaming.Streams.fanoutIngestBatchNeardupGated") {
      val r = Streams.fanoutIngestBatchNeardupGated(input, batch,
        dir("merge"), dir("index"), dir("ann"), dir("gram"), dir("neardup"),
        "doc_id", "text", Some("vec"), planes = Planes, dims = Dims,
        pqDir = Some(dir("pq")), chunkDir = Some(dir("chunks")),
        chunkVecDir = Some(dir("ckvec")), chunkVecDims = ChunkVecDims,
        chunkVecTrainPerMille = ChunkVecTrainPerMille)
      Seq(r._1, r._2, r._3, r._4, r._5, r._6, r._7)
    }

  /** Ingest: crawl jobs one after another. Set-up is the site's first
    * crawl and one probe round; the cycle is the next crawl and three
    * rounds of probes over the stores it just advanced (an odd count per
    * kind keeps the probe median off the boundary between two kinds).
    */
  private def ingest(): Unit = {
    crawlJob()
    probeRound()
    startWindow()
    (1 to Cycles).foreach { _ =>
      crawlJob()
      (1 to 3).foreach(_ => probeRound())
    }
    tracer.window(false)
    checkSurvivors()
  }

  /** The fully gated fan-out's invariants at run end: every gram-store
    * survivor is live on every surface, merge text equals cleaned text.
    */
  private def checkSurvivors(): Unit = {
    val gram = Streams.substringStoreRead(spark, dir("gram")).get
      .groupBy(col("doc_id"))
      .agg(md5(max_by(col("clean_text"), col("batch"))).as("clean_md5"))
    val merge = Streams.readState(spark, dir("merge")).get
      .select(col("doc_id"), md5(col("text")).as("merge_md5"))
    def flag(df: DataFrame, name: String) =
      df.select(col("doc_id")).distinct().withColumn(name, lit(true))
    def flagIds(df: DataFrame, name: String) =
      flag(df.select(col("id").as("doc_id")), name)
    val rows = gram.join(merge, Seq("doc_id"), "left")
      .join(flag(Search.indexLiveDocs(spark, dir("index")).get, "i"),
        Seq("doc_id"), "left")
      .join(flagIds(Similarity.annStoreLiveIds(spark, dir("ann")), "a"),
        Seq("doc_id"), "left")
      .join(flagIds(Similarity.pqStoreLiveIds(spark, dir("pq")), "p"),
        Seq("doc_id"), "left")
      .join(flag(Streams.chunkStoreRead(spark, dir("chunks")).get, "c"),
        Seq("doc_id"), "left")
      .join(flagIds(Similarity.pqStoreLiveIds(spark, dir("ckvec"))
        .select(expr(s"id div ${Streams.ChunkVecSeqLimit}").as("id")), "v"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("merge_md5") === col("clean_md5"), lit(false)),
        coalesce(col("i"), lit(false)), coalesce(col("a"), lit(false)),
        coalesce(col("p"), lit(false)), coalesce(col("c"), lit(false)),
        coalesce(col("v"), lit(false)))
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSeq.map(Checks.Survivor.tupled)
    info("survivors") = rows.size
    check(Checks.survivors(rows))
  }

  // ---- churn ---------------------------------------------------------------

  /** Churn: build the six read stores from a seeded corpus in one fan-out
    * batch, then run the cycle: a hot changed-content upsert and a
    * takedown, each followed by a probe round, and an incremental
    * maintenance pass. Set-up ends with one upsert and one probe round,
    * so the first measured ones do not pay the JIT warm-up.
    */
  private def churn(): Unit = {
    val corpus = gen.corpus(ChurnDocs)
    val n0 = System.nanoTime()
    val counts = fanoutIngest(corpus, nextBatch())
    info("build_s") = secondsSince(n0)
    check(if (counts.take(4).forall(_ == ChurnDocs) && counts(4) >= ChurnDocs)
      None else Some(s"store build counts $counts, want $ChurnDocs each"))
    corpus.foreach { d => live(d.id) = d.text; vecs(d.id) = d.vec }
    userBytes = corpus.map(d => textBytes(d.text)).sum
    noteWrites()
    upsert()
    probeRound()
    startWindow()
    (1 to Cycles).foreach { _ =>
      Seq(() => upsert(), () => takedown()).foreach { m =>
        m()
        noteWrites()
        probeRound()
      }
      tracer.span("streaming.Streams.fanoutVacuum")(
        Streams.fanoutVacuum(spark, dir("merge"), dir("index"), dir("ann"),
          incremental = true, chunkDir = Some(dir("chunks")),
          maxBatches = Some(MaintenanceMaxBatches), pqDir = Some(dir("pq")),
          chunkVecDir = Some(dir("ckvec"))))
      noteWrites()
      checkLiveCounts()
    }
    tracer.window(false)
    checkScan()
  }

  /** Changed content for a hot set of live docs (low ids are hot). */
  private def upsert(): Unit = {
    val hot = live.keys.toIndexedSeq.sorted
    val docs = Iterator.continually(gen.hotPick(hot)).distinct
      .take(UpsertDocs).toSeq.map(id => Doc(id, gen.text(), vecs(id)))
    val batch = nextBatch()
    keepForReplay(() => fanoutIngest(docs, batch))
    val n0 = System.nanoTime()
    val counts = fanoutIngest(docs, batch)
    if (tracer.measuring) ingests += ((secondsSince(n0), docs.size))
    // Changed text under a kept embedding: the index and chunk store
    // take every doc, the insert-if-absent vector stores none.
    check(if (counts.take(4) == Seq(UpsertDocs, 0L, 0L, UpsertDocs))
      None else Some(s"upsert of $UpsertDocs changed docs counted $counts"))
    docs.foreach(d => live(d.id) = d.text)
    userBytes += docs.map(d => textBytes(d.text)).sum
  }

  private def takedown(): Unit = {
    val all = live.keys.toIndexedSeq
    val victims = Iterator.continually(gen.pick(all)).distinct
      .take(TakedownDocs).toSeq
    val counts = tracer.span("streaming.Streams.fanoutDeleteBatch")(
      Streams.fanoutDeleteBatch(victims.toDF("doc_id"), nextBatch(),
        dir("merge"), dir("index"), dir("ann"), "doc_id",
        Some(dir("chunks")), Some(dir("pq")), Some(dir("ckvec"))))
    check(
      if (counts.productIterator.take(5).forall(_ == TakedownDocs.toLong)) None
      else Some(s"takedown of $TakedownDocs docs counted $counts"))
    victims.foreach(live.remove)
  }

  /** Live docs per store equal the ledger's live count. */
  private def checkLiveCounts(): Unit =
    check(Checks.liveCounts(Map(
      "merge" -> Streams.readState(spark, dir("merge")).get.count(),
      "index" -> Search.indexLiveDocs(spark, dir("index")).get.count(),
      "ann" -> Similarity.annStoreLiveIds(spark, dir("ann")).count(),
      "pq" -> Similarity.pqStoreLiveIds(spark, dir("pq")).count(),
      "chunks" -> Streams.chunkStoreRead(spark, dir("chunks")).get
        .select("doc_id").distinct().count(),
      "ckvec" -> Similarity.pqStoreLiveIds(spark, dir("ckvec"))
        .select(expr(s"id div ${Streams.ChunkVecSeqLimit}")).distinct()
        .count()), live.size.toLong))

  /** Index BM25 probes rank like the scan path over the same live docs. */
  private def checkScan(): Unit = {
    val liveDf = live.toSeq.toDF("doc_id", "text")
    def rank(df: DataFrame) = df.select(col("doc_id").cast("long"),
      col("score_1e6").cast("long")).as[(Long, Long)].collect().toSeq
    (1 to ScanChecks).foreach { _ =>
      val terms = gen.probe("bm25", liveDocs).asInstanceOf[Bm25].terms
      check(Checks.sameRanking(
        rank(Search.bm25FromIndexTopK(spark, dir("index"), terms, K)),
        rank(Search.bm25TopK(liveDf, "doc_id", "text", terms, K))))
    }
  }

  // ---- result --------------------------------------------------------------

  /** Bytes, files and committed generations of each store, walked from
    * outside. The merge store keeps pointer-swapped state dirs instead
    * of a commit ledger; its generations are those dirs.
    */
  private def storeHealth(): Seq[(String, Double)] =
    Stores.flatMap { s =>
      val p = root.resolve(s)
      val files = walk(p)
      val gens =
        if (s == "merge") Option(p.toFile.listFiles()).toSeq.flatten
          .count(f => f.isDirectory && f.getName.startsWith("state"))
        else if (Files.exists(p)) Commits.committed(spark, p.toString).size
        else 0
      Seq(s"store.$s.bytes" -> files.map(_._2).sum.toDouble,
        s"store.$s.files" -> files.size.toDouble,
        s"store.$s.generations" -> gens.toDouble)
    }

  def execute(): String = {
    val tSetup = System.nanoTime()
    check(Checks.seeded(Gen.fingerprint(seed), Gen.fingerprint(seed),
      Gen.fingerprint(seed + 1)))
    if (workload == "ingest") ingest() else churn()
    val setupS = sessionS + (windowStart - tSetup) / 1e9
    val health = storeHealth()
    val storeBytes = health.filter(_._1.endsWith(".bytes")).map(_._2).sum
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "ingest_job_p50_s" -> (Stats.median(ingests.map(_._1).toSeq), "s"),
      "ingest_docs_per_s" ->
        (ingests.map(_._2).sum / ingests.map(_._1).sum, "1/s"),
      "probe_p50_s" -> (Stats.median(probes.toSeq), "s"),
      "space_amp" -> (storeBytes / live.values.map(textBytes).sum, "ratio"),
      "write_amp" -> (writtenBytes.toDouble / userBytes, "ratio"))
    info("ingest_s") = ingests.map(_._1)
    Spans.foreach(s => info(s"$s.s") = tracer.seconds(s))
    info("probe_s") = probes
    info("probes") = probes.size
    info("store_health") = health.toMap
    info("checks_failed") = failures

    // Layer counters first: the overhead probe adds Spark and JVM work.
    val layerMetrics = if (!traceOn) Nil
      else layers(health) :+ ("trace.overhead_pct" -> (overheadPct(), "%"))

    val out = Files.createDirectories(work.resolve("out"))
    tracer.dump(out.resolve("spans.jsonl"), s"$workload-$seed")
    def metrics(m: Seq[(String, (Double, String))]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    Json.obj(
      "env" -> env(),
      "info" -> info,
      "e2e" -> metrics(e2e),
      "layers" -> metrics(layerMetrics),
      "attempted" -> attempted,
      "failed" -> failures.size)
  }

  private val layerUnits = Map("n" -> "count", "p50_s" -> "s",
    "jobs" -> "count", "async_jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "driver_gap_s" -> "s", "shuffle_bytes" -> "bytes",
    "output_bytes" -> "bytes", "planning_s" -> "s")

  /** Per-layer metrics of a traced run: per-span counters, store health,
    * JVM compile and GC time.
    */
  private def layers(health: Seq[(String, Double)]): Seq[(String, (Double, String))] = {
    val spans = Spans.flatMap { s =>
      tracer.layer(s).toSeq.map { case (k, v) => s"$s.$k" -> (v, layerUnits(k)) }
    }
    val stores = health.map { case (k, v) =>
      k -> (v, if (k.endsWith(".bytes")) "bytes" else "count")
    }
    val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val gc = mx.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount.toDouble
    spans ++ stores ++ Seq(
      "jvm.gc_s" -> (gc, "s"), "jvm.jit_s" -> (jit, "s"),
      "codegen.compiles" -> (compiles, "count"))
  }

  /** Tracing overhead on identical operations: the cycle's first write
    * call, replayed each time on the stores as they were before it, and
    * one fixed hybrid probe, each run traced (T) and untraced (U) in the
    * order T U U T, so a drift over the four calls cancels. Per operation
    * the traced time over the untraced, minus one; the mean of the two,
    * in percent.
    */
  private def overheadPct(): Double = {
    val order = Seq(true, false, false, true)
    def timed(traced: Boolean)(f: => Unit): (Boolean, Double) = {
      if (traced) tracer.attach()
      val n0 = System.nanoTime()
      f
      val s = secondsSince(n0)
      if (traced) tracer.detach()
      traced -> s
    }
    def pct(ts: Seq[(Boolean, Double)]): Double = {
      val (t, u) = ts.partition(_._1)
      100 * (t.map(_._2).sum / u.map(_._2).sum - 1)
    }
    val write = order.map { t => copyTree(snapshot, root); timed(t)(replay.get()) }
    val probe = gen.probe("hybrid", liveDocs)
    val read = order.map(t => timed(t)(runProbe(probe)))
    info("overhead_write_s") = write.map(_._2)
    info("overhead_probe_s") = read.map(_._2)
    info("overhead_write_pct") = pct(write)
    info("overhead_probe_pct") = pct(read)
    (pct(write) + pct(read)) / 2
  }

  private def env(): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
    "trace" -> traceOn,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "heap_bytes" -> Runtime.getRuntime.maxMemory(),
    "spark" -> spark.version,
    "java" -> System.getProperty("java.version"),
    "ingest_pages" -> IngestPages, "churn_docs" -> ChurnDocs,
    "upsert_docs" -> UpsertDocs, "takedown_docs" -> TakedownDocs,
    "k" -> K, "cycles" -> Cycles)
}

/** Minimal JSON writer for the run record. */
object Json {
  def obj(kv: (String, Any)*): String = write(kv.toMap)
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case x => write(x.toString)
  }
}
