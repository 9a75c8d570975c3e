package graftbench

/** Checks of the benchmark itself, run before every measurement and on
  * their own with `--selfcheck`: generator determinism, self-time
  * arithmetic on a hand-built span tree, and that the output check fails
  * when a corrupted digest is injected.
  */
object SelfCheck {

  def run(verbose: Boolean): Boolean = {
    val results = Seq(
      "generators are deterministic" -> determinism(),
      "the filler vocabulary is the documents sample's" -> vocabulary(),
      "self time of a hand-built span tree" -> selfTime(),
      "a corrupted text_sha256 fails the output check" -> corruptedSha())
    results.foreach { case (name, ok) =>
      if (verbose || !ok) println(s"selfcheck ${if (ok) "ok  " else "FAIL"} $name")
    }
    results.forall(_._2)
  }

  private def determinism(): Boolean = {
    val plants = Corpus.plants(5, 8, 8, 24)
    val gens: Seq[Long => String] = Seq(
      s => Corpus.digest(Corpus.crawlMix(s, 40, 2)),
      s => Corpus.digest(Corpus.tableLattice(s, 40)),
      s => Corpus.digest(Corpus.screenIngest(s, plants, 20, 20)))
    gens.forall(g => g(5) == g(5) && g(5) != g(6))
  }

  /** The sample's words are the filler vocabulary plus the `dup` marker
    * that the documents table appends to its near-duplicate documents.
    */
  private def vocabulary(): Boolean =
    Corpus.documents.iterator.flatMap(_.text.split(' ')).toSet == Corpus.Vocab.toSet + "dup"

  /** root [0,100] with children a [10,40] (holding g [15,20]), b [30,60]
    * overlapping a, and c [90,120] running past the root's end.
    */
  private def selfTime(): Boolean = {
    val s = new Spans(2)
    val root = s.add(s.id("root"), -1, 1, 0, 100, allocBytes = 1000)
    val a = s.add(s.id("a"), root, 1, 10, 40, allocBytes = 300)
    s.add(s.id("g"), a, 1, 15, 20, allocBytes = 100)
    s.add(s.id("b"), root, 1, 30, 60, allocBytes = 200)
    s.add(s.id("c"), root, 1, 90, 120, allocBytes = 50)
    val r = Rollup.of(s)
    // children of root cover [10,60] and [90,100]: 60 of its 100
    r("root") == Rollup(1, 40, 450, 100) && r("a") == Rollup(1, 25, 200, 30) &&
      r("g") == Rollup(1, 5, 100, 5) && r("b") == Rollup(1, 30, 200, 30) &&
      r("c") == Rollup(1, 30, 50, 30)
  }

  private def corruptedSha(): Boolean = {
    val pages = Corpus.crawlMix(9, 4, 1)
    val direct = pages.map(p => p.url ->
      graft.core.extract.Extractor.extractHtml(p.html).sha256).toMap
    val honest = pages.map(p => (p.url, direct(p.url), false)).toSeq
    val corrupt = honest.updated(1, honest(1).copy(_2 = "0" * 64))
    val ok = new Checks
    ok.shas(honest, direct)
    val bad = new Checks
    bad.shas(corrupt, direct)
    ok.failed == 0 && bad.failed == 1
  }
}
