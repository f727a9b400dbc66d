package graftbench

import scala.collection.mutable

/** The answer model: every answer the benchmark checks is computed here,
  * directly from the generator's token sequences — never from another
  * route through the program. Tokenization is the generator's own token
  * list, so a tokenizer defect in the program shows as a wrong answer.
  */
final class Model(docs: Array[Doc]) {
  private val byId: Map[Long, Doc] = docs.iterator.map(d => d.id -> d).toMap

  /** term -> (doc_id -> tf), doc ids ascending. */
  lazy val postings: Map[String, mutable.TreeMap[Long, Long]] = {
    val m = mutable.HashMap[String, mutable.TreeMap[Long, Long]]()
    docs.foreach { d =>
      d.tokens.foreach { t =>
        val p = m.getOrElseUpdate(t, mutable.TreeMap[Long, Long]())
        p(d.id) = p.getOrElse(d.id, 0L) + 1L
      }
    }
    m.toMap
  }

  def tokens(id: Long): Array[String] = byId(id).tokens
  def docLen(id: Long): Long = byId(id).tokens.length.toLong
  def totalTokens: Long = docs.iterator.map(_.tokens.length.toLong).sum
  def textBytes: Long = docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum

  /** Order-free fingerprint of the whole index: per term (df, Σtf,
    * Σ doc_id·tf, Σ doc_id²). A missing, stale or duplicated posting
    * changes at least one of them.
    */
  lazy val indexFingerprint: Map[String, (Long, Long, Long, Long)] =
    postings.map { case (t, p) =>
      t -> p.foldLeft((0L, 0L, 0L, 0L)) { case ((df, tf, w, d2), (d, n)) =>
        (df + 1, tf + n, w + d * n, d2 + d * d)
      }
    }

  /** termLookup: (doc_id, tf) by tf descending, then doc_id. */
  def lookup(term: String): Seq[(Long, Long)] =
    postings.get(term).toSeq.flatMap(_.toSeq).sortBy { case (d, tf) => (-tf, d) }

  /** multiTermAnd: (doc_id, Σtf) of docs holding every term. */
  def and(terms: Seq[String]): Seq[(Long, Long)] = {
    val ps = terms.distinct.map(t => postings.getOrElse(t, mutable.TreeMap.empty[Long, Long]))
    ps.head.keys.filter(d => ps.forall(_.contains(d))).toSeq
      .map(d => (d, ps.map(_(d)).sum))
      .sortBy { case (d, tf) => (-tf, d) }
  }

  /** prefixSearch: (term, df, Σtf) for terms starting with the prefix. */
  def prefix(p: String): Seq[(String, Long, Long)] =
    postings.iterator.filter(_._1.startsWith(p))
      .map { case (t, ps) => (t, ps.size.toLong, ps.values.sum) }
      .toSeq.sortBy(_._1)

  /** servePhrase: (doc_id, occurrences) by occurrences descending. */
  def phrase(words: Seq[String]): Seq[(Long, Long)] = {
    val cands = words.distinct
      .map(w => postings.getOrElse(w, mutable.TreeMap.empty[Long, Long]).keySet)
      .reduce(_ intersect _)
    cands.toSeq.flatMap { d =>
      val t = byId(d).tokens
      val n = (0 to t.length - words.length).count(p =>
        words.indices.forall(i => t(p + i) == words(i)))
      if (n > 0) Some((d, n.toLong)) else None
    }.sortBy { case (d, n) => (-n, d) }
  }

  // bm25's corpus statistics range over the documents in the index,
  // i.e. those with at least one token
  private val indexed = docs.filter(_.tokens.nonEmpty)
  private val indexedDocs = indexed.length.toLong
  private val avgdl = indexed.map(_.tokens.length.toLong).sum.toDouble / indexedDocs

  /** BM25 (k1 = 1.2, b = 0.75) score of every doc holding a query term. */
  def bm25Scores(terms: Seq[String]): Map[Long, Double] = {
    val acc = mutable.HashMap[Long, Double]()
    terms.distinct.foreach { t =>
      postings.get(t).foreach { p =>
        val df = p.size.toDouble
        val idf = math.log((indexedDocs - df + 0.5) / (df + 0.5) + 1.0)
        p.foreach { case (d, tf) =>
          val s = idf * tf * 2.2 /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * docLen(d) / avgdl))
          acc(d) = acc.getOrElse(d, 0.0) + s
        }
      }
    }
    acc.toMap
  }
}

/** Near-duplicate ground truth: exact word-3-shingle Jaccard over the
  * generator's tokens, all pairs at J ≥ threshold found by an exact
  * prefix-filtered search (any such pair shares a shingle in both rarest
  * prefixes), components labelled by their minimum doc id.
  */
final class DupModel(docs: Array[Doc], threshold: Double) {
  require(threshold > 0 && threshold <= 1)

  def shingles(d: Doc): Set[String] =
    if (d.tokens.length < 3) Set.empty
    else d.tokens.sliding(3).map(_.mkString(" ")).toSet

  private val sets: Map[Long, Set[String]] =
    docs.iterator.map(d => d.id -> shingles(d)).toMap

  def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (sets(a), sets(b))
    val inter = x.count(y.contains)
    if (x.isEmpty && y.isEmpty) 0.0 else inter.toDouble / (x.size + y.size - inter)
  }

  /** Every pair (a < b) with J ≥ threshold. */
  lazy val pairs: Seq[(Long, Long)] = {
    val df = mutable.HashMap[String, Int]()
    sets.valuesIterator.foreach(_.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    val byPrefix = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    sets.foreach { case (d, s) =>
      if (s.nonEmpty) {
        val keep = s.size - math.ceil(threshold * s.size - 1e-9).toInt + 1
        s.toSeq.sortBy(x => (df(x), x)).take(keep).foreach(x =>
          byPrefix.getOrElseUpdate(x, mutable.ArrayBuffer[Long]()) += d)
      }
    }
    val cand = mutable.HashSet[(Long, Long)]()
    byPrefix.valuesIterator.foreach { ds =>
      for (i <- ds.indices; j <- i + 1 until ds.length)
        cand += ((math.min(ds(i), ds(j)), math.max(ds(i), ds(j))))
    }
    cand.toSeq.filter { case (a, b) => jaccard(a, b) >= threshold }.sorted
  }

  /** doc_id -> (cluster_id, cluster_size) for docs in a cluster of ≥ 2. */
  lazy val clusters: Map[Long, (Long, Long)] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val label = members.map(d => d -> find(d)).toMap
    val size = label.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    label.map { case (d, c) => d -> (c, size(c)) }
  }

  /** Keep-longest curation per source: (n_docs, n_dropped, n_kept,
    * kept_chars). The keeper of a cluster is its longest text, ties to
    * the lower doc id; a doc in no cluster keeps itself.
    */
  lazy val keepLongest: Map[String, (Long, Long, Long, Long)] = {
    val keeper = docs.groupBy(d => clusters.get(d.id).map(_._1).getOrElse(d.id))
      .valuesIterator.map(_.minBy(d => (-d.nChars, d.id)).id).toSet
    docs.groupBy(_.source).map { case (s, ds) =>
      val kept = ds.filter(d => keeper(d.id))
      s -> (ds.length.toLong, (ds.length - kept.length).toLong,
        kept.length.toLong, kept.map(_.nChars).sum)
    }
  }
}
