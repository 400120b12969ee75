package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import graft.sources.DocBuild

/** Seeded input generator. Every input the engine sees in a run comes
  * from here, so one seed reproduces one run's inputs exactly.
  *
  * Text is lower-case words over a Zipf vocabulary joined by single
  * spaces, which every engine tokenizer (whitespace split, HTML text
  * extraction, content-hash normalization) leaves unchanged.
  */
final case class Doc(id: Long, text: String, vec: Array[Float])

final case class SitePage(url: String, payload: Array[Byte],
    contentType: String)

/** One crawl job's site: the pages and files served at its urls, the
  * docs a crawl should extract (id -> text) with their embeddings, and
  * how many of those docs are exact re-crawls of earlier content and
  * near-copies of it.
  */
final case class Site(root: String, domain: String, pages: Seq[SitePage],
    expected: Map[Long, String], vecs: Map[Long, Array[Float]],
    exactRecrawls: Int, nearDups: Int) {
  def fingerprint: Int = (pages.map(p =>
    (p.url, java.util.Arrays.hashCode(p.payload), p.contentType)),
    expected.toSeq.sortBy(_._1)).hashCode
}

sealed trait Probe
final case class Bm25(terms: Seq[String]) extends Probe
final case class Phrase(terms: Seq[String]) extends Probe
final case class Ann(vec: Array[Float]) extends Probe
final case class Passage(text: String) extends Probe
final case class Hybrid(terms: Seq[String], vec: Array[Float]) extends Probe

object Probe {
  val kinds: Seq[String] = Seq("bm25", "phrase", "ann", "passage", "hybrid")
  def kind(p: Probe): String = p match {
    case _: Bm25 => "bm25"
    case _: Phrase => "phrase"
    case _: Ann => "ann"
    case _: Passage => "passage"
    case _: Hybrid => "hybrid"
  }
}

final class Gen(val seed: Long) {
  import Gen._

  private val rnd = new SplittableRandom(seed)

  /** Vocabulary rank -> word: the seed permutes which words are common. */
  val vocab: IndexedSeq[String] = shuffled(
    IndexedSeq.tabulate(VocabSize)(word), new SplittableRandom(seed ^ 0x5eed5eedL))

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }

  def zipfWord(): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  private def words(n: Int): Seq[String] = Seq.fill(n)(zipfWord())

  /** Shared boilerplate spans (navigation/footer text many pages
    * carry), long enough for the span gate's 8-token shingles.
    */
  val spans: IndexedSeq[String] =
    IndexedSeq.fill(SpanPool)(words(SpanLen).mkString(" "))

  private val centroids: IndexedSeq[Array[Float]] =
    IndexedSeq.fill(Topics)(Array.fill(Dims)(rnd.nextDouble().toFloat * 10f))

  def vec(): Array[Float] = vecFrom(rnd)

  private def vecFrom(r: SplittableRandom): Array[Float] =
    centroids(r.nextInt(Topics)).map(x => x + (r.nextDouble().toFloat - 0.5f))

  /** A fresh document body; a share of them embed one boilerplate span. */
  def text(): String = {
    val n = DocMinWords + rnd.nextInt(DocMaxWords - DocMinWords)
    val body = words(n)
    if (rnd.nextDouble() < SpanShare) {
      val at = rnd.nextInt(body.size)
      (body.take(at) :+ spans(rnd.nextInt(spans.size)))
        .++(body.drop(at)).mkString(" ")
    } else body.mkString(" ")
  }

  /** `text` plus one trailing word (a stamp or counter a re-published
    * page gains): one new shingle, so its Jaccard similarity to `text`
    * stays above the near-dup gate's 0.9 for every generated length.
    */
  def nearDup(text: String): String = s"$text ${zipfWord()}"

  def corpus(n: Int): IndexedSeq[Doc] =
    (0 until n).map(i => Doc(i.toLong, text(), vec()))

  def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))

  /** Skewed (hot) pick: the low indices are chosen far more often. */
  def hotPick[A](xs: IndexedSeq[A]): A =
    xs(math.min(xs.size - 1,
      (xs.size * math.pow(rnd.nextDouble(), HotSkew)).toInt))

  /** One probe of `kind`, its terms drawn from `live` docs' text so that
    * probes hit: BM25 takes 1-4 Zipf words, phrase and passage take
    * consecutive words of one live doc.
    */
  def probe(kind: String, live: IndexedSeq[Doc]): Probe = {
    def run(n: Int): Seq[String] = {
      val ws = pick(live).text.split(" ")
      val at = rnd.nextInt(math.max(1, ws.length - n))
      ws.slice(at, at + n).toSeq
    }
    def terms(): Seq[String] = Seq.fill(1 + rnd.nextInt(4))(zipfWord()).distinct
    kind match {
      case "bm25" => Bm25(terms())
      case "phrase" => Phrase(run(2 + rnd.nextInt(2)))
      case "ann" => Ann(vec())
      case "passage" => Passage(run(8).mkString(" "))
      case "hybrid" => Hybrid(terms(), vec())
    }
  }

  /** One round of the probe mix: every kind once, in seeded order. */
  def probeRound(live: IndexedSeq[Doc]): Seq[Probe] =
    shuffled(Probe.kinds.toIndexedSeq).map(probe(_, live))

  // ---- crawl sites ------------------------------------------------------

  private var sitePages: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var nextPageId = 1L

  /** The next version of the one site a crawl job sequence re-crawls.
    * Of its `pages` docs: `RecrawlShare` keep their previous content
    * (exact re-crawls the gate must reject), `ChangedShare` get fresh
    * text under the same url, `NearDupShare` are new urls carrying a
    * near-copy of a kept page, and the rest are new urls. `FileShare`
    * of the docs are served as PDF/DOCX files instead of HTML.
    */
  def nextSite(pages: Int): Site = {
    val prev = sitePages
    val kept = if (prev.isEmpty) IndexedSeq.empty
      else shuffled(prev).take((pages * RecrawlShare).toInt)
    val keptIds = kept.map(_._1).toSet
    val changed = shuffled(prev.filterNot(p => keptIds(p._1)))
      .take((pages * ChangedShare).toInt).map { case (id, _) => (id, text()) }
    val near = if (kept.isEmpty) IndexedSeq.empty
      else IndexedSeq.fill((pages * NearDupShare).toInt) {
        val id = nextPageId; nextPageId += 1
        (id, nearDup(pick(kept)._2))
      }
    val fresh = IndexedSeq.fill(pages - kept.size - changed.size - near.size) {
      val id = nextPageId; nextPageId += 1
      (id, text())
    }
    val docs = kept ++ changed ++ near ++ fresh
    sitePages = docs
    val domain = "site.bench"
    val root = s"https://$domain"
    val asFile = docs.map { case (id, _) =>
      id -> (new SplittableRandom(seed * 31 + id).nextDouble() < FileShare)
    }.toMap
    def url(id: Long): String =
      if (!asFile(id)) s"$root/p/$id.html"
      else if (id % 2 == 0) s"$root/f/$id.pdf" else s"$root/f/$id.docx"
    // Link graph: index -> hubs -> docs, plus random cross links between
    // html pages (the crawl's visited-set join must drop them).
    val hubs = docs.grouped(HubFanout).toIndexedSeq
    val htmlIds = docs.map(_._1).filterNot(asFile)
    // No title and empty anchors: the page's extracted text is exactly
    // its body, so the checks can compare stored text with `expected`.
    def html(body: String, links: Seq[String]): Array[Byte] =
      (s"<html><body><p>$body</p>" +
        links.map(l => s"""<a href="$l"></a>""").mkString +
        "</body></html>").getBytes("UTF-8")
    val index = SitePage(s"$root/index.html",
      html("", hubs.indices.map(h => s"/hub/$h.html")), HtmlType)
    val hubPages = hubs.zipWithIndex.map { case (grp, h) =>
      SitePage(s"$root/hub/$h.html",
        html("", grp.map(d => url(d._1))), HtmlType)
    }
    val docPages = docs.map { case (id, t) =>
      val u = url(id)
      if (u.endsWith(".pdf"))
        SitePage(u, DocBuild.pdfBytes(Seq(t)), "application/pdf")
      else if (u.endsWith(".docx"))
        SitePage(u, docx(t), "application/vnd.openxmlformats")
      else SitePage(u, html(t,
        Seq.fill(CrossLinks)(url(htmlIds(rnd.nextInt(htmlIds.size))))),
        HtmlType)
    }
    Site(root, domain, (index +: hubPages) ++ docPages,
      docs.toMap, docs.map { case (id, _) => id -> vecFor(id) }.toMap,
      kept.size, near.size)
  }

  /** A page keeps its embedding across versions, like a stable doc. */
  private def vecFor(id: Long): Array[Float] =
    vecFrom(new SplittableRandom(seed * 131 + id))

  /** `DocBuild.docxBytes` with a fixed time on every zip entry: DocBuild
    * stamps entries with the clock, and one seed must give the same bytes.
    */
  private def docx(text: String): Array[Byte] = {
    val in = new ZipInputStream(
      new ByteArrayInputStream(DocBuild.docxBytes(Seq(text))))
    val bos = new ByteArrayOutputStream()
    val out = new ZipOutputStream(bos)
    Iterator.continually(in.getNextEntry).takeWhile(_ != null).foreach { e =>
      val fixed = new ZipEntry(e.getName)
      fixed.setTime(DocxTime)
      out.putNextEntry(fixed)
      in.transferTo(out)
      out.closeEntry()
    }
    out.close()
    bos.toByteArray
  }

  private def shuffled[A](xs: IndexedSeq[A],
      r: SplittableRandom = rnd): IndexedSeq[A] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}

object Gen {
  /** Hash of a small sample of every input kind a seed generates:
    * corpus text and embeddings, and two versions of the crawl site.
    */
  def fingerprint(seed: Long): Int = {
    val g = new Gen(seed)
    (g.corpus(20).map(d => (d.text, d.vec.toSeq)), g.nextSite(40).fingerprint,
      g.nextSite(40).fingerprint, g.probeRound(g.corpus(5)).map {
        case Ann(v) => v.toSeq
        case Hybrid(ts, v) => (ts, v.toSeq)
        case p => p
      }).hashCode
  }

  // Why these values: see BENCHMARK.json "workloads" and perfbench/README.md.
  val VocabSize = 20000
  val ZipfS = 1.05
  val DocMinWords = 40
  val DocMaxWords = 160
  val SpanPool = 12
  val SpanLen = 12
  val SpanShare = 0.3
  val Topics = 16
  val Dims = 8
  val HotSkew = 3.0
  val RecrawlShare = 0.3
  val ChangedShare = 0.2
  val NearDupShare = 0.1
  val FileShare = 0.15
  val HubFanout = 25
  val CrossLinks = 2
  val HtmlType = "text/html; charset=utf-8"
  val DocxTime = 946684800000L // 2000-01-01T00:00:00Z

  private val syll = Array("ka", "lo", "mi", "re", "tu", "sa", "ne", "po",
    "vi", "da", "ge", "fu", "ra", "zo", "bi", "he")

  /** Word for vocabulary index `i`: three or more letter-only syllables. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb.append(syll(x & 15)); x >>= 4 } while (x > 0 || sb.length < 6)
    sb.toString
  }
}
