package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Shape of one generated corpus. Every field is an input property the
  * program's cost depends on: corpus size and vocabulary skew (posting
  * list lengths), document length spread, how many files the scan sees,
  * the streaming delta feed, and the planted near-duplicate mass.
  */
final case class CorpusSpec(
    docs: Int,
    vocab: Int,
    zipfS: Double,
    minLen: Int,
    maxLen: Int,
    inputFiles: Int,
    deltaFiles: Int = 0,
    deltaDocsPerFile: Int = 0,
    deltaUpdateShare: Double = 0.0,
    dupShare: Double = 0.0,
    dupGroupSkew: Double = 1.5,
    maxGroup: Int = 2)

/** One document: its normalized token sequence (what the tokenizer must
  * recover) and the raw text the program receives.
  */
final case class Doc(id: Long, tokens: Array[String], text: String,
                     source: String) {
  def nChars: Long = text.length.toLong
}

/** A generated corpus: the base documents, in the order they are split
  * into input files, and the delta feed, one array per delta file.
  */
final case class Corpus(spec: CorpusSpec, base: Array[Doc],
                        delta: Array[Array[Doc]]) {
  /** The corpus after every delta file is applied: a delta document
    * replaces the base document with its id, or adds a new one.
    */
  def finalDocs: Array[Doc] = {
    val byId = mutable.LinkedHashMap[Long, Doc]()
    base.foreach(d => byId(d.id) = d)
    delta.foreach(_.foreach(d => byId(d.id) = d))
    byId.values.toArray
  }
}

/** Weighted sampling over indices 0 until weights.length. */
final class Sampler(weights: Array[Double]) {
  private val cum = weights.scanLeft(0.0)(_ + _).tail
  def next(r: SplittableRandom): Int = {
    val u = r.nextDouble() * cum.last
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(if (i >= 0) i + 1 else -i - 1, cum.length - 1)
  }
}

/** Seeded corpus generator. The same (spec, seed) gives byte-identical
  * documents in any JVM: all randomness comes from one SplittableRandom.
  */
object Corpus {
  val Sources: Array[String] = Array("web", "books", "news", "forum", "code")
  private val SourceWeights = Array(5.0, 2.0, 2.0, 1.5, 1.0)

  // English word-initial and in-word letter frequencies (percent, a..z):
  // letter partitions of the index get realistically uneven sizes
  private val FirstLetter = Array(11.7, 4.4, 5.2, 3.2, 2.8, 4.0, 1.6, 4.2,
    7.3, 0.5, 0.9, 2.4, 3.8, 2.3, 7.6, 4.3, 0.2, 2.8, 6.7, 16.0, 1.2, 0.8,
    5.5, 0.05, 0.8, 0.05)
  private val Letter = Array(8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0,
    0.15, 0.77, 4.0, 2.4, 6.7, 7.5, 1.9, 0.1, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4,
    0.15, 2.0, 0.07)
  // word lengths 2..10 (index = length)
  private val WordLength = Array(0.0, 0.0, 3, 6, 8, 9, 8, 7, 5, 3, 2)
  private val Punct = Array(".", ",", ";", ":", "!", "?")
  // substitutions applied to a planted near-duplicate (index = count):
  // 0 is an exact token copy, 4 usually falls below J = 0.8
  private val Mutations = Array(2.0, 3.0, 3.0, 2.0, 1.0)

  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val first = new Sampler(FirstLetter)
    val rest = new Sampler(Letter)
    val len = new Sampler(WordLength)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val l = len.next(r)
      val sb = new StringBuilder
      sb += ('a' + first.next(r)).toChar
      while (sb.length < l) sb += ('a' + rest.next(r)).toChar
      seen += sb.toString
    }
    seen.toArray
  }

  /** Raw text of a token sequence: single spaces, with the noise the
    * tokenizer must undo (capitals, trailing punctuation, digit-only
    * words that normalize to nothing and are dropped).
    */
  def render(tokens: Array[String], r: SplittableRandom): String = {
    val sb = new StringBuilder
    tokens.foreach { t =>
      if (sb.nonEmpty) sb += ' '
      if (r.nextDouble() < 0.01) sb.append(1000 + r.nextInt(9000)).append(' ')
      sb ++= (if (r.nextDouble() < 0.05) t.capitalize else t)
      if (r.nextDouble() < 0.06) sb ++= Punct(r.nextInt(Punct.length))
    }
    sb.toString
  }

  def generate(spec: CorpusSpec, seed: Long): Corpus = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(r, spec.vocab)
    val zipf = new Sampler(
      Array.tabulate(spec.vocab)(i => 1.0 / math.pow(i + 1.0, spec.zipfS)))
    val source = new Sampler(SourceWeights)
    val (lo, hi) = (math.log(spec.minLen.toDouble), math.log(spec.maxLen + 1.0))
    // the planted structure (group sizes, document lengths, substitutions
    // per member) comes from a fixed stream, so every seed plants the same
    // amount of duplicate work and only the content and placement vary
    val shape = new SplittableRandom(0x5eedL)
    def fresh(lengths: SplittableRandom = r): Array[String] = {
      val n = math.min(spec.maxLen, math.exp(lo + lengths.nextDouble() * (hi - lo)).toInt)
      Array.fill(math.max(spec.minLen, n))(vocab(zipf.next(r)))
    }
    val mutations = new Sampler(Mutations)
    def mutate(base: Array[String]): Array[String] = {
      val t = base.clone()
      (0 until mutations.next(shape)).foreach(_ => t(r.nextInt(t.length)) = vocab(zipf.next(r)))
      t
    }

    // planted near-duplicate groups, sizes 2..maxGroup Zipf-skewed,
    // members scattered over the corpus
    val groupSize = new Sampler(Array.tabulate(spec.maxGroup + 1)(g =>
      if (g < 2) 0.0 else 1.0 / math.pow(g - 1.0, spec.dupGroupSkew)))
    var planted = (spec.docs * spec.dupShare).toInt
    val slots = Array.range(0, spec.docs)
    for (i <- slots.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
    }
    val toks = new Array[Array[String]](spec.docs)
    var k = 0
    while (planted >= 2) {
      val g = math.min(groupSize.next(shape), planted)
      val base = fresh(shape)
      (0 until g).foreach { m => toks(slots(k)) = if (m == 0) base else mutate(base); k += 1 }
      planted -= g
    }
    while (k < spec.docs) { toks(slots(k)) = fresh(); k += 1 }
    val base = toks.zipWithIndex.map { case (t, i) =>
      Doc(i.toLong, t, render(t, r), Sources(source.next(r)))
    }

    // delta feed: each doc either replaces a distinct existing id or adds
    // a new one; no id appears twice, so apply order cannot matter
    val replaced = mutable.HashSet[Long]()
    var nextId = spec.docs.toLong
    val delta = Array.fill(spec.deltaFiles) {
      Array.fill(spec.deltaDocsPerFile) {
        val id =
          if (r.nextDouble() < spec.deltaUpdateShare && replaced.size < spec.docs / 2) {
            var c = r.nextInt(spec.docs).toLong
            while (replaced.contains(c)) c = r.nextInt(spec.docs).toLong
            replaced += c; c
          } else { nextId += 1; nextId - 1 }
        val t = fresh()
        Doc(id, t, render(t, r), Sources(source.next(r)))
      }
    }
    Corpus(spec, base, delta)
  }
}
