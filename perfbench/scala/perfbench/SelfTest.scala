package perfbench

/** Checks the output checks: each must pass a right result and catch a
  * fabricated wrong one. Also checks the generator's seeding. Exits 1 on
  * the first miss.
  */
object SelfTest {
  private var failed = 0

  private def expect(what: String, got: Option[String], bad: Boolean): Unit =
    if (got.isDefined != bad) {
      failed += 1
      System.err.println(s"selftest FAILED: $what -> $got")
    }

  def main(args: Array[String]): Unit = {
    val live = Set(1L, 2L, 3L)
    expect("probe ok", Checks.probe(Seq(1L, 2L), 2, live), bad = false)
    expect("probe over k", Checks.probe(Seq(1L, 2L, 3L), 2, live), bad = true)
    expect("probe dead id", Checks.probe(Seq(1L, 9L), 2, live), bad = true)
    expect("probe repeat", Checks.probe(Seq(1L, 1L), 2, live), bad = true)

    expect("fanout ok", Checks.fanout(Seq(60, 50, 50, 40, 40, 50, 90), 100, 30, 10),
      bad = false)
    expect("fanout re-crawl admitted",
      Checks.fanout(Seq(75, 60, 60, 40, 40, 60, 90), 100, 30, 0), bad = true)
    expect("fanout near-copies admitted",
      Checks.fanout(Seq(70, 60, 60, 40, 40, 60, 90), 100, 30, 10), bad = true)
    expect("fanout index lags gate",
      Checks.fanout(Seq(60, 50, 49, 40, 40, 50, 90), 100, 30, 10), bad = true)
    expect("fanout pq lags ann",
      Checks.fanout(Seq(60, 50, 50, 40, 39, 50, 90), 100, 30, 10), bad = true)
    expect("fanout nothing admitted",
      Checks.fanout(Seq(60, 0, 0, 0, 0, 0, 0), 100, 30, 10), bad = true)
    expect("fanout arity", Checks.fanout(Seq(1, 2), 100, 30, 10), bad = true)

    val want = Map(1L -> "a b", 2L -> "c d")
    expect("crawl ok", Checks.crawl(want, want), bad = false)
    expect("crawl missing", Checks.crawl(want - 2L, want), bad = true)
    expect("crawl extra", Checks.crawl(want + (3L -> "e"), want), bad = true)
    expect("crawl text", Checks.crawl(want + (2L -> "c x"), want), bad = true)

    val good = Checks.Survivor(1, true, true, true, true, true, true)
    expect("survivors ok", Checks.survivors(Seq(good)), bad = false)
    expect("survivors none", Checks.survivors(Nil), bad = true)
    expect("survivor merge text", Checks.survivors(Seq(good.copy(mergeOk = false))),
      bad = true)
    expect("survivor not in chunk vectors",
      Checks.survivors(Seq(good, good.copy(id = 2, inChunkVecs = false))), bad = true)

    expect("ranking ok", Checks.sameRanking(Seq(1L -> 5L), Seq(1L -> 5L)), bad = false)
    expect("ranking score", Checks.sameRanking(Seq(1L -> 5L), Seq(1L -> 6L)), bad = true)
    expect("ranking order", Checks.sameRanking(Seq(1L -> 5L, 2L -> 5L),
      Seq(2L -> 5L, 1L -> 5L)), bad = true)

    expect("live ok", Checks.liveCounts(Map("index" -> 3L, "ann" -> 3L), 3), bad = false)
    expect("live stale", Checks.liveCounts(Map("index" -> 3L, "ann" -> 4L), 3), bad = true)

    def fp(seed: Long): Int = Gen.fingerprint(seed)
    expect("seeded", Checks.seeded(fp(7), fp(7), fp(8)), bad = false)
    expect("seeded same", Checks.seeded(fp(7), fp(8), fp(9)), bad = true)
    expect("seeded collide", Checks.seeded(fp(7), fp(7), fp(7)), bad = true)
    // Zip entry times have a 2 s resolution: inputs taken 2 s apart must
    // still agree, so no input may depend on the clock.
    val before = fp(7)
    Thread.sleep(2100)
    expect("seeded across the clock", Checks.seeded(before, fp(7), fp(8)),
      bad = false)

    if (failed > 0) sys.exit(1)
    println("selftest: all checks behave")
  }
}
