package graftbench

import java.util.SplittableRandom

/** Self-tests of the benchmark's own logic; needs no Spark session.
  * Exits non-zero on the first failed check.
  */
object SelfTest {
  private var n = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    n += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    println(s"ok: $what")
  }

  /** The program's documented tokenizer: split on single spaces,
    * lowercase, strip [^a-z], drop empty tokens.
    */
  def tokenize(text: String): Array[String] =
    text.split(" ").map(_.toLowerCase.replaceAll("[^a-z]", "")).filter(_.nonEmpty)

  private def doc(id: Long, text: String, source: String = "web") =
    Doc(id, tokenize(text), text, source)

  def main(args: Array[String]): Unit = {
    // generator determinism
    val spec = CorpusSpec(docs = 300, vocab = 2000, zipfS = 1.05, minLen = 20,
      maxLen = 120, inputFiles = 2, deltaFiles = 2, deltaDocsPerFile = 20,
      deltaUpdateShare = 0.3, dupShare = 0.2, dupGroupSkew = 1.3, maxGroup = 8)
    def fingerprint(c: Corpus) =
      (c.base ++ c.delta.flatten).map(d => (d.id, d.text, d.source, d.tokens.toSeq)).toSeq
    val a = Corpus.generate(spec, 42)
    check("same seed gives identical corpus")(fingerprint(a) == fingerprint(Corpus.generate(spec, 42)))
    check("another seed gives another corpus")(fingerprint(a) != fingerprint(Corpus.generate(spec, 43)))
    check("corpus has the stated sizes")(a.base.length == 300 &&
      a.delta.map(_.length).toSeq == Seq(20, 20) && a.base.forall(_.tokens.length >= 20))
    check("delta ids are distinct")(a.delta.flatten.map(_.id).distinct.length == 40)
    check("tokens are letters only")(a.base.forall(_.tokens.forall(_.matches("[a-z]+"))))
    check("rendered text tokenizes back to the tokens")(
      (a.base ++ a.delta.flatten).forall(d => tokenize(d.text).sameElements(d.tokens)))
    check("planted near-duplicates exist")(new DupModel(a.base, 0.8).pairs.nonEmpty)
    val r = new SplittableRandom(1)
    check("sampler follows its weights") {
      val s = new Sampler(Array(1.0, 0.0, 3.0))
      val hits = Array.fill(3)(0)
      (1 to 40000).foreach(_ => hits(s.next(r)) += 1)
      hits(1) == 0 && math.abs(hits(2).toDouble / hits(0) - 3.0) < 0.2
    }

    // percentile rule: the highest percentile with ten samples beyond it
    check("p90 needs 100 samples")(Stats.tailPercentile(100).contains(90.0) &&
      Stats.tailPercentile(99).contains(50.0))
    check("p99 at 1000, p99.9 at 10000")(Stats.tailPercentile(1000).contains(99.0) &&
      Stats.tailPercentile(9999).contains(99.0) && Stats.tailPercentile(10000).contains(99.9))
    check("no tail percentile under 20 samples")(Stats.tailPercentile(19).isEmpty &&
      Stats.tailPercentile(20).contains(50.0))
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank percentiles")(Stats.percentile(xs, 90) == 90.0 &&
      Stats.percentile(xs, 50) == 50.0 && Stats.median(xs) == 50.5 &&
      Stats.beyond(100, 90) == 10)

    // answer model against a hand-checked corpus
    val tiny = Array(
      doc(0, "The cat sat on the mat."),
      doc(1, "the cat sat on the hat", "books"),
      doc(2, "a dog sat 1999"),
      doc(3, "the Cat sat, on the mat", "books"))
    val m = new Model(tiny)
    check("lookup")(m.lookup("the") == Seq((0L, 2L), (1L, 2L), (3L, 2L)) &&
      m.lookup("dog") == Seq((2L, 1L)) && m.lookup("zebra").isEmpty)
    check("and")(m.and(Seq("cat", "mat")) == Seq((0L, 2L), (3L, 2L)) &&
      m.and(Seq("dog", "cat")).isEmpty)
    check("prefix")(m.prefix("sa") == Seq(("sat", 4L, 4L)) &&
      m.prefix("ma") == Seq(("mat", 2L, 2L)))
    check("phrase")(m.phrase(Seq("on", "the")) == Seq((0L, 1L), (1L, 1L), (3L, 1L)) &&
      m.phrase(Seq("the", "cat", "sat")) == Seq((0L, 1L), (1L, 1L), (3L, 1L)) &&
      m.phrase(Seq("sat", "the")).isEmpty)
    check("fingerprint")(m.indexFingerprint("the") == (3L, 6L, 2L * (0 + 1 + 3), 0L + 1 + 9) &&
      m.totalTokens == 21)
    // bm25 of "dog": N = 4, df = 1, dl = 3, avgdl = 21/4
    // idf = ln(3.5/1.5 + 1) = 1.2039728; score = idf·2.2 / (1 + 1.2·(0.25 + 0.75·3/5.25))
    val bm = m.bm25Scores(Seq("dog"))
    check("bm25")(bm.keySet == Set(2L) && math.abs(bm(2L) - 1.2039728 * 2.2 /
      (1 + 1.2 * (0.25 + 0.75 * 3 / 5.25))) < 1e-6 &&
      math.abs(bm(2L) - 1.4599355) < 1e-6)
    // shingles: 0 and 3 share all 4 (J = 1); 0 and 1 share 3 of 5 (J = 0.6)
    val d8 = new DupModel(tiny, 0.8)
    check("jaccard")(d8.jaccard(0, 3) == 1.0 && d8.jaccard(0, 1) == 0.6 && d8.jaccard(0, 2) == 0.0)
    check("pairs at 0.8")(d8.pairs == Seq((0L, 3L)))
    check("clusters at 0.8")(d8.clusters == Map(0L -> (0L, 2L), 3L -> (0L, 2L)))
    // keeper of {0, 3}: doc 0 has 23 chars, doc 3 has 23; tie -> lower id 0
    check("keep-longest at 0.8")(d8.keepLongest == Map(
      "web" -> (2L, 0L, 2L, 23L + 14L), "books" -> (2L, 1L, 1L, 22L)))
    val d5 = new DupModel(tiny, 0.5)
    check("pairs and clusters at 0.5")(d5.pairs == Seq((0L, 1L), (0L, 3L), (1L, 3L)) &&
      d5.clusters.values.toSet == Set((0L, 3L)))
    println(s"all $n self-tests passed")
  }
}
