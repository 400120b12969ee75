package perfbench

/** Output checks. Each returns None when the result is right, or a
  * message saying what is wrong; every message counts as one failed
  * operation in the run's result.
  */
object Checks {

  /** A probe answers with at most `k` distinct ids, all of them live. */
  def probe(ids: Seq[Long], k: Int, live: Long => Boolean): Option[String] =
    if (ids.size > k) Some(s"probe returned ${ids.size} ids, k=$k")
    else if (ids.distinct.size != ids.size) Some(s"probe repeated ids: $ids")
    else ids.find(!live(_)).map(id => s"probe returned non-live id $id")

  /** One crawl-ingest job's fan-out counts, as returned by the fully
    * gated fan-out (near-dup gate, span gate, index, ANN, PQ, chunks,
    * chunk vectors), for `delivered` docs of which `recrawls` are exact
    * re-crawls and `nearDups` near-copies of stored docs. Neither may
    * pass the near-dup gate; every doc the span gate admits reaches the
    * index and the chunk store; the ANN and PQ stores take the same new
    * vectors.
    */
  def fanout(counts: Seq[Long], delivered: Int, recrawls: Int,
      nearDups: Int): Option[String] =
    counts match {
      case Seq(near, gate, idx, ann, pq, chunk, ckvec) =>
        if (near > delivered - recrawls - nearDups)
          Some(s"near-dup gate admitted $near of $delivered docs, " +
            s"$recrawls of them exact re-crawls and $nearDups near-copies")
        else if (gate > near || gate <= 0)
          Some(s"span gate admitted $gate docs after $near near-dup survivors")
        else if (idx != gate || chunk != gate)
          Some(s"surfaces disagree: gate=$gate index=$idx chunks=$chunk")
        else if (ann != pq || ann > idx)
          Some(s"vector surfaces disagree: index=$idx ann=$ann pq=$pq")
        else if (ckvec < chunk)
          Some(s"chunk vectors $ckvec fewer than chunked docs $chunk")
        else None
      case _ => Some(s"fan-out returned ${counts.size} counts, want 7")
    }

  /** The crawl extracted exactly the site's documents, text for text. */
  def crawl(got: Map[Long, String], want: Map[Long, String]): Option[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.keySet.intersect(got.keySet).filter(id => got(id) != want(id))
    if (missing.nonEmpty) Some(s"crawl missed ${missing.size} docs, e.g. ${missing.head}")
    else if (extra.nonEmpty) Some(s"crawl produced ${extra.size} unknown docs")
    else wrong.headOption.map(id => s"crawl text differs for doc $id")
  }

  /** One gram-store survivor, cross-checked against the other stores. */
  final case class Survivor(id: Long, mergeOk: Boolean, inIndex: Boolean,
      inAnn: Boolean, inPq: Boolean, inChunks: Boolean, inChunkVecs: Boolean)

  /** Every survivor of the span gate is live on every read surface and
    * the merge store holds its cleaned text.
    */
  def survivors(rows: Seq[Survivor]): Option[String] =
    if (rows.isEmpty) Some("gram store holds no survivors")
    else rows.find(r => !(r.mergeOk && r.inIndex && r.inAnn && r.inPq &&
        r.inChunks && r.inChunkVecs))
      .map(r => s"survivor not consistent across stores: $r")

  /** The index probe and the scan path rank the same (doc, score) list. */
  def sameRanking(index: Seq[(Long, Long)], scan: Seq[(Long, Long)]): Option[String] =
    if (index == scan) None
    else Some(s"index BM25 $index differs from scan BM25 $scan")

  /** Live counts per store equal the ledger's live count. */
  def liveCounts(counts: Map[String, Long], want: Long): Option[String] =
    counts.find(_._2 != want).map { case (store, n) =>
      s"store $store holds $n live docs, ledger has $want"
    }

  /** The same seed yields the same inputs, another seed other inputs. */
  def seeded(same1: Int, same2: Int, other: Int): Option[String] =
    if (same1 != same2) Some("same seed generated different inputs")
    else if (same1 == other) Some("different seeds generated the same inputs")
    else None
}
