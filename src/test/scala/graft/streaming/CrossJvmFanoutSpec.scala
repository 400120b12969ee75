package graft.streaming

import graft.SparkSpec
import graft.operators.{Search, Similarity}
import graft.sources.Commits
import org.apache.spark.sql.functions._

/** Two-writer semantics of the COMPOSED fan-out across real process
  * boundaries (r18 verdict item 5): CrossJvmLockSpec pins the lease on
  * single stores, but [[Streams.fanoutIngestBatchNeardupGated]]
  * composes six lease-held mutations — so the cross-JVM contract to
  * pin is (a) a concurrent second fan-out writer refuses CLEANLY when
  * it hits a held component store mid-composition, after its earlier
  * surfaces already committed, leaving no stuck lease anywhere, and
  * (b) redelivering the aborted batch after release converges to
  * exactly the state a crash-free run reaches (the same no-cross-store
  * -transaction story as the in-process crash-window tests, now with
  * the crash induced by a REAL competing process).
  */
class CrossJvmFanoutSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import spark.implicits._

  private def fork(main: String, args: Seq[String]): Process = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = raw.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < raw.size =>
        Seq(a, raw(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Seq.empty
    }
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", main) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("CLASSPATH", sys.props("java.class.path"))
    pb.redirectErrorStream(true)
    pb.start()
  }

  private final class Output(p: Process) {
    private val lines =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val t = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) { lines.add(l); l = r.readLine() }
    })
    t.setDaemon(true); t.start()
    def all: Seq[String] = lines.asScala.toSeq
    /** After process exit the daemon reader may still be draining
      * buffered stdout; join it (EOF ends the loop) before asserting
      * on [[all]], or a line arriving milliseconds after exit is
      * missed (flaky false failure).
      */
    def drain(): Unit = t.join(10000)
    def awaitLine(prefix: String, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (all.exists(_.startsWith(prefix))) return true
        if (!p.isAlive) {
          drain()
          return all.exists(_.startsWith(prefix))
        }
        Thread.sleep(100)
      }
      false
    }
  }

  private def waitBounded(p: Process, out: Output,
      timeoutMs: Long = 180000): Int = {
    if (!p.waitFor(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
      p.destroyForcibly(): Unit
      fail(s"child JVM did not exit within ${timeoutMs / 1000}s; " +
        s"output so far:\n${out.all.mkString("\n")}")
    }
    out.drain()
    p.exitValue()
  }

  private def lockExists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Wave A — span/shingle-disjoint from [[FanoutRaceChild.waveB]]. */
  private def waveA = Seq(
    (1L, "alpha beta gamma delta epsilon", Seq(1.0f, 0.0f, 0.0f)),
    (2L, "winter storms cover northern peaks", Seq(0.0f, 1.0f, 0.0f)))
    .toDF("doc_id", "text", "vec")

  private def gated(root: String, batch: org.apache.spark.sql.DataFrame,
      id: Long) =
    Streams.fanoutIngestBatchNeardupGated(batch, id, s"$root/store",
      s"$root/index", s"$root/ann", s"$root/gram", s"$root/nd",
      "doc_id", "text", vecCol = Some("vec"), planes = 4, dims = 3,
      k = 3, pqDir = Some(s"$root/pq"), pqM = 3, pqCodes = 2)

  test("a second JVM's composed fan-out refuses cleanly " +
    "mid-composition and the aborted batch converges on redelivery") {
    val root = java.nio.file.Files
      .createTempDirectory("xjvm-fanout").toString

    // Base state: wave A lands cleanly through all six surfaces.
    assert(gated(root, waveA, 0L) == ((2L, 2L, 2L, 2L, 2L, 0L, 0L)))

    // Hold the MERGE store's lease — surface 3 of the child's chain —
    // so the child commits its near-dup and gram-store generations
    // first and is refused mid-composition.
    Commits.acquireWriterLock(spark, s"$root/store")
    val childStateOk =
      try {
        val p = fork("graft.streaming.FanoutRaceChild",
          Seq(root, "1"))
        val out = new Output(p)
        assert(waitBounded(p, out) == 2,
          s"child fan-out should be refused at the held merge store; " +
            s"output:\n${out.all.mkString("\n")}")
        assert(out.all.exists(_.startsWith("REFUSED")),
          s"expected a REFUSED line:\n${out.all.mkString("\n")}")

        // Mid-composition is real: the child's two gate surfaces DID
        // commit before the refusal...
        assert(Streams.neardupStoreRead(spark, s"$root/nd").get
          .select("doc_id").as[Long].collect().toSet
          == Set(1L, 2L, 5L, 6L, 7L),
          "child's near-dup generation should have committed")
        assert(Streams.substringStoreRead(spark, s"$root/gram").get
          .select("doc_id").distinct().as[Long].collect().toSet
          == Set(1L, 2L, 5L, 6L, 7L),
          "child's gram-store generation should have committed")
        // ...while the held store and everything after it stayed put.
        assert(Streams.readState(spark, s"$root/store").get
          .select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
          "held merge store must not advance")
        assert(Similarity.pqStoreLiveIds(spark, s"$root/pq")
          .as[Long].collect().toSet == Set(1L, 2L),
          "surfaces after the held store must not advance")

        // The aborted child left no lease stuck on ANY component store
        // (withWriterLock releases on the abort path); the only _lock
        // is the one THIS test still holds.
        Seq("nd", "gram", "index", "ann", "pq").foreach { s =>
          assert(!lockExists(s"$root/$s"),
            s"stuck lease on $s after the child abort")
        }
        assert(lockExists(s"$root/store"), "parent lease disappeared")
        true
      } finally Commits.releaseWriterLock(spark, s"$root/store")
    assert(childStateOk)

    // Redelivery after release: the gates drop the exact redeliveries
    // (insert 0) but the committed survivors still feed every
    // downstream surface — the batch converges to a crash-free run.
    val counts = gated(root, FanoutRaceChild.waveB(spark), 1L)
    assert(counts == ((0L, 0L, 3L, 3L, 3L, 0L, 0L)),
      s"redelivery should catch the sinks up, got $counts")

    val full = Map(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "winter storms cover northern peaks",
      5L -> "quick brown fox jumps high",
      6L -> "lazy dog sleeps under porch",
      7L -> "river bends around granite cliffs")
    assert(Streams.readState(spark, s"$root/store").get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      == full)
    val corpus = full.toSeq.toDF("doc_id", "text")
    val terms = Seq("alpha", "fox", "river", "peaks")
    assert(Search.bm25FromIndexTopK(spark, s"$root/index", terms, 10)
      .collect().toSeq ==
      Search.bm25TopK(corpus, "doc_id", "text", terms, 10)
        .collect().toSeq,
      "index after redelivery must equal the scan path on the full corpus")
    assert(Similarity.pqStoreLiveIds(spark, s"$root/pq")
      .as[Long].collect().toSet == Set(1L, 2L, 5L, 6L, 7L))
    val probe = Similarity.annStoreTopK(spark, s"$root/ann",
      Seq((101L, Seq(0.9f, 0.1f, 0.0f))).toDF("id", "vec"),
      planes = 4, dims = 3, k = 1)
      .select("cid").as[Long].collect().toSeq
    assert(probe == Seq(5L), s"ANN should surface doc 5, got $probe")

    // A second attempt of the SAME batch is now a complete no-op.
    assert(gated(root, FanoutRaceChild.waveB(spark), 1L)
      == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("a commit made by another JVM reaches this JVM's next probe " +
    "through its warmed probe views") {
    val root = java.nio.file.Files
      .createTempDirectory("xjvm-views").toString
    assert(gated(root, waveA, 0L) == ((2L, 2L, 2L, 2L, 2L, 0L, 0L)))
    val terms = Seq("alpha", "fox", "river")
    val q = Seq((101L, Seq(0.9f, 0.1f, 0.0f))).toDF("id", "vec")
    def bm25() = Search.bm25FromIndexTopK(spark, s"$root/index", terms, 10)
      .select("doc_id").as[Long].collect().toSet
    def ann() = Similarity.annStoreTopK(spark, s"$root/ann", q,
      planes = 4, dims = 3, k = 1).select("cid").as[Long].collect().toSeq
    def pq() = Similarity.pqStoreTopK(spark, s"$root/pq", q, k = 5)
      .select("cid").as[Long].collect().toSet
    // Warm every view on wave A alone.
    assert(bm25() == Set(1L))
    assert(ann() == Seq(1L))
    assert(pq() == Set(1L, 2L))

    // A real second JVM commits wave B to every surface.
    val p = fork("graft.streaming.FanoutRaceChild", Seq(root, "1"))
    val out = new Output(p)
    assert(waitBounded(p, out) == 0,
      s"child fan-out should land; output:\n${out.all.mkString("\n")}")
    assert(out.all.exists(_.startsWith("DONE")),
      s"expected a DONE line:\n${out.all.mkString("\n")}")

    // This JVM's next probes see the child's generation.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "winter storms cover northern peaks"),
      (5L, "quick brown fox jumps high"),
      (6L, "lazy dog sleeps under porch"),
      (7L, "river bends around granite cliffs")).toDF("doc_id", "text")
    assert(Search.bm25FromIndexTopK(spark, s"$root/index", terms, 10)
      .collect().toSeq ==
      Search.bm25TopK(corpus, "doc_id", "text", terms, 10).collect().toSeq)
    assert(bm25() == Set(1L, 5L, 7L))
    assert(ann() == Seq(5L), "ANN probe must surface the child's doc 5")
    assert(pq() == Set(1L, 2L, 5L, 6L, 7L))
  }

  test("a composed fan-out refuses cleanly when another JVM holds the " +
    "FIRST surface, advancing nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("xjvm-fanout-f").toString
    assert(gated(root, waveA, 0L) == ((2L, 2L, 2L, 2L, 2L, 0L, 0L)))

    // A real second JVM holds the near-dup store (the chain's FIRST
    // surface) long enough for our composed call to hit it.
    val p = fork("graft.sources.LockRaceChild",
      Seq(s"$root/nd", Commits.DefaultLockTtlMs.toString, "20000"))
    val out = new Output(p)
    assert(out.awaitLine("HELD", timeoutMs = 120000),
      s"child never acquired; output:\n${out.all.mkString("\n")}")
    intercept[IllegalStateException] {
      gated(root, FanoutRaceChild.waveB(spark), 1L)
    }
    // First-surface refusal = a clean atomic no-op: nothing advanced.
    assert(Streams.substringStoreRead(spark, s"$root/gram").get
      .select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 2L))
    assert(Streams.readState(spark, s"$root/store").get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(waitBounded(p, out) == 0,
      s"holder should release cleanly; output:\n${out.all.mkString("\n")}")
    // And with the holder gone the same batch lands whole.
    assert(gated(root, FanoutRaceChild.waveB(spark), 1L)
      == ((3L, 3L, 3L, 3L, 3L, 0L, 0L)))
  }
}
