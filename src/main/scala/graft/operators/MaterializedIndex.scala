package graft.operators

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / query-many serving of the letter-partitioned inverted
  * index — the reference's actual operating mode: `./index/<c>` is written
  * once and every search opens exactly one letter file
  * (`/root/reference/helper_reduce.c:238-257`). Re-tokenizing the corpus
  * per query (what [[Indexer.termLookup]] does) answers the same question
  * but is a full scan; a search engine serves from the prebuilt index.
  *
  * [[ensure]] materializes the index at a deterministic temp path exactly
  * once per JVM per corpus dir; [[index]] resolves that path into a
  * relation once per (session, path) — the directory listing and the
  * parquet schema are read at resolution, never again — and every serve
  * query below is a plan over that one relation, with Catalyst partition
  * pruning standing in for "open one of the 26 files". BM25 reads its
  * document lengths from [[docLengths]], a table derived once per index
  * from the index itself. Reusing the resolved relations is exact because
  * no ensured directory is ever rewritten in place: upserts work on
  * hard-link clones or their own paths, and [[refresh]] writes new `_g<n>`
  * generations. At cluster scale the path would be shared storage and the
  * build a scheduled job; the query plans are identical.
  */
object MaterializedIndex {

  private val built = scala.collection.concurrent.TrieMap[String, String]()

  /** Path of the materialized index for `sfDir`, building it on first use
    * in this JVM (subsequent calls are free — build-once/query-many).
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    // keyed on the resolved scratch path so spark.graft.scratchDir (shared
    // storage on a real cluster — see [[graft.util.Scratch.root]]) is
    // honored even when it changes within one JVM
    val path = graft.util.Scratch.dir(spark,
      "graft_index_" + graft.util.Scratch.valueToken(sfDir))
    built.getOrElseUpdate(path, {
      // capture the corpus listing THE BUILD READS — before the build, off
      // the same relation — and persist it beside the index: the rewrite
      // registration must guard staleness against the build-time state,
      // not whatever the corpus looks like when registration happens
      val sig = corpusSig(spark, sfDir)
      Indexer.writeIndex(spark, sfDir, path)
      writeBaseSig(path, sig)
      path
    })
  }

  /** The documents base file-listing signature, as
    * [[graft.plans.AggRewriteRule.fileSig]] computes it at match time.
    */
  private def corpusSig(spark: SparkSession, sfDir: String): String =
    graft.sources.Tables.documents(spark, sfDir).queryExecution.analyzed
      .collectFirst {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          graft.plans.AggRewriteRule.fileSig(lr)
      }.flatten.getOrElse(
        throw new IllegalStateException("documents base has no file listing"))

  // underscore-prefixed sidecar: parquet readers skip _-files, so it can
  // live inside the index directory and share the index's lifecycle
  private def sigFile(indexPath: String) =
    new File(new File(indexPath), "_base_sig")

  private def writeBaseSig(indexPath: String, sig: String): Unit = {
    java.nio.file.Files.write(sigFile(indexPath).toPath,
      sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** The base signature persisted at index build/refresh time — what
    * [[IndexRewrite.register]] must guard staleness against.
    */
  private[graft] def baseSigAt(indexPath: String): Option[String] = {
    val f = sigFile(indexPath)
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  private final case class IdxGen(dataPath: String, sig: String, gen: Int)
  private val gens = scala.collection.concurrent.TrieMap[String, IdxGen]()

  /** Spec observability: the corpus files the last refresh aggregated. */
  private[graft] val lastDeltaFiles =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** INCREMENTAL INDEX REFRESH — the postings twin of
    * [[RollupView.refresh]]: when the corpus has only GROWN since the
    * stored generation (pure appends — new files, no file removed or
    * rewritten), tokenize ONLY the delta files and merge their (term,
    * doc_id, tf) cells into the stored index — counts sum, so the merged
    * index is value-identical to a full rebuild — then persist the new
    * listing signature beside the new generation. The reference's
    * append-mode letter files (`helper_reduce.c:255-256`) were always
    * incremental; this recovers that without its duplicate-postings bug
    * (SURVEY.md §7.0): duplicates MERGE (sum) instead of appending twice.
    * A removed or rewritten corpus file invalidates stored cells, so that
    * case falls back to a full rebuild — only growth is incremental,
    * honestly. At 100 TB this is the difference between re-tokenizing the
    * corpus nightly and tokenizing the day's new documents.
    */
  def refresh(spark: SparkSession, sfDir: String): String = {
    import graft.functions.TextFunctions.{explodedTokens, firstLetter}
    import org.apache.spark.sql.functions._
    val base = ensure(spark, sfDir)
    val cur = gens.getOrElseUpdate(base,
      IdxGen(base, baseSigAt(base).getOrElse(
        throw new IllegalStateException(s"index at $base has no signature")), 0))
    val curSig = corpusSig(spark, sfDir)
    if (curSig == cur.sig) return cur.dataPath // already current
    val nextPath = s"${base}_g${cur.gen + 1}"
    graft.util.ListingDiff.deltaFiles(cur.sig, curSig) match {
      case None => // overwrite/compaction: full rebuild
        lastDeltaFiles.set(Nil)
        Indexer.writeIndex(spark, sfDir, nextPath)
      case Some(files) =>
        lastDeltaFiles.set(files)
        val delta = spark.read.parquet(files: _*)
          .select(col("doc_id"), explodedTokens(col("text")).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("first_letter", firstLetter(col("term")))
          .select("first_letter", "term", "doc_id", "tf")
        spark.read.parquet(cur.dataPath)
          .select("first_letter", "term", "doc_id", "tf")
          .unionByName(delta)
          .groupBy("first_letter", "term", "doc_id")
          .agg(sum("tf").as("tf"))
          .repartition(Indexer.letterShardKeys: _*)
          .sortWithinPartitions("term", "doc_id")
          .write.mode("overwrite").partitionBy("first_letter").parquet(nextPath)
    }
    writeBaseSig(nextPath, curSig)
    gens.put(base, IdxGen(nextPath, curSig, cur.gen + 1))
    nextPath
  }

  // ensured paths resolved into relations, once per (session, path): a
  // DataFrame is bound to the session that resolved it, so a second
  // session resolves its own. Entries are small (an analyzed scan plus its
  // file listing) and live as long as the JVM, like the build memos above
  private val relations =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()

  private def relation(spark: SparkSession, path: String): DataFrame =
    relations.getOrElseUpdate((spark, path), spark.read.parquet(path))

  /** The materialized index as a relation (`term`, `doc_id`, `tf`,
    * `first_letter`), resolved once per session: serve queries built on it
    * start no listing or schema-inference job of their own.
    */
  def index(spark: SparkSession, sfDir: String): DataFrame =
    relation(spark, ensure(spark, sfDir))

  /** The postings relation served from the materialized index — the
    * build-once/query-many source for every operator that consumes
    * postings from MULTIPLE plan branches (tf-idf, doc similarity, set
    * algebra): column pruning specializes per-branch subtrees so exchange
    * reuse cannot unify them, and from the raw corpus each branch would
    * re-tokenize everything; from the index each branch is a cheap
    * columnar scan of already-aggregated rows.
    */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir).select(col("term"), col("doc_id"), col("tf"))

  /** Document lengths of the materialized index with the two corpus
    * scalars BM25 needs: `dl` (`doc_id`, `dl` = Σtf over the document's
    * postings), `nDocs` (documents with at least one posting) and `avgdl`
    * (Σdl as a double ÷ nDocs).
    */
  final case class DocLengths(dl: DataFrame, nDocs: Long, avgdl: Double)

  private final case class DocLenTable(path: String, nDocs: Long, avgdl: Double)
  private val docLens = scala.collection.concurrent.TrieMap[String, DocLenTable]()

  /** [[DocLengths]] of the index for `sfDir`: aggregated from the index
    * once per index path into a [[graft.util.Scratch.memoizedDir]]
    * (populated under a per-path lock, deleted at JVM exit) with its
    * scalars taken by one action, then served as a resolved relation like
    * [[index]]. The index is never rewritten in place, so the table and
    * the scalars stay exact for as long as the path is served.
    */
  def docLengths(spark: SparkSession, sfDir: String): DocLengths = {
    val idx = ensure(spark, sfDir)
    val t = docLens.getOrElseUpdate(idx, {
      val path = graft.util.Scratch.memoizedDir(spark, "graft_doclen", idx) {
        relation(spark, idx).groupBy("doc_id").agg(sum(col("tf")).as("dl"))
          .write.mode("overwrite").parquet(_)
      }
      val s = relation(spark, path)
        .agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
          count(lit(1)).as("n_docs"))
        .head()
      DocLenTable(path, s.getLong(1), s.getDouble(0))
    })
    DocLengths(relation(spark, t.path), t.nDocs, t.avgdl)
  }

  /** Term lookup served from the materialized index: prunes to ONE letter
    * partition (asserted in IndexerSpec), reads postings already aggregated
    * — no corpus scan, no shuffle beyond the final tiny sort.
    */
  def termLookup(spark: SparkSession, sfDir: String, term: String): DataFrame =
    Indexer.lookupInIndex(index(spark, sfDir), term)

  /** Multi-term AND served from the materialized index: scans only the
    * letter partitions of the query terms, then one small aggregation over
    * the matching postings — work proportional to the terms' posting lists,
    * not the corpus.
    */
  def multiTermAnd(spark: SparkSession, sfDir: String,
                   terms: Seq[String]): DataFrame = {
    val letters = terms.map(_.take(1)).distinct
    index(spark, sfDir)
      .filter(col("first_letter").isin(letters: _*) &&
        col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === terms.length)
      .select("doc_id", "total_tf")
      .orderBy(desc("total_tf"), col("doc_id"))
  }

  /** Prefix (typeahead) lookup SERVED from the letter-partitioned index —
    * the query class the reference's per-letter layout
    * (`helper_reduce.c:238-257`) exists for: a prefix fixes the first
    * letter, so the scan prunes to ONE partition, and the StartsWith
    * predicate pushes into the parquet scan where the
    * sortWithinPartitions(term) layout turns it into row-group skips.
    * Output: per matching term, document frequency and total tf — work
    * proportional to the prefix's postings, never the index.
    */
  def prefixSearch(spark: SparkSession, sfDir: String,
                   prefix: String): DataFrame =
    index(spark, sfDir)
      .filter(col("first_letter") === prefix.take(1) &&
        col("term").startsWith(prefix))
      // postings are unique per (term, doc_id) by construction, so the
      // document frequency is a plain count
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy("term")

  private val posBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** POSITIONAL index: postings extended with the sorted in-document
    * position list per (term, doc) — what the tf-only layout (the
    * reference's and [[ensure]]'s) cannot answer: phrase queries served
    * from the index. Same letter partitioning, same build-once
    * lifecycle; the positions column adds ~tf ints per posting, the
    * standard space/serve trade every search engine makes.
    */
  def ensurePositional(spark: SparkSession, sfDir: String): String = {
    val path = graft.util.Scratch.dir(spark,
      "graft_posindex_" + graft.util.Scratch.valueToken(sfDir))
    posBuilt.getOrElseUpdate(path, {
      graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "term")
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .withColumn("first_letter",
          graft.functions.TextFunctions.firstLetter(col("term")))
        .repartition(Indexer.letterShardKeys: _*)
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").partitionBy("first_letter").parquet(path)
      path
    })
  }

  /** Phrase search SERVED from the positional index: prune to the
    * phrase's letters, join the n posting lists on doc_id (each list is
    * one pruned partition read), and intersect position sets shifted by
    * word offset — a phrase occurrence is a start position p with
    * p+i ∈ positions(wordᵢ) for every i. Work is proportional to the
    * phrase words' posting lists, never the corpus; equality with the
    * corpus-scan [[IndexQueries.phraseSearch]] is oracle-checked.
    */
  def servePhrase(spark: SparkSession, sfDir: String,
                  phrase: String): DataFrame = {
    val words = phrase.split(" ").toSeq
    val idx = relation(spark, ensurePositional(spark, sfDir))
    def rel(w: String, i: Int) = idx
      .filter(col("first_letter") === w.take(1) && col("term") === w)
      .select(col("doc_id"),
        (if (i == 0) col("positions")
         else transform(col("positions"), p => p - i)).as(s"p$i"))
    val joined = words.zipWithIndex.tail.foldLeft(rel(words.head, 0)) {
      case (acc, (w, i)) =>
        acc.join(rel(w, i), "doc_id")
          .select(col("doc_id"),
            array_intersect(col("p0"), col(s"p$i")).as("p0"))
    }
    joined
      .select(col("doc_id"), size(col("p0")).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(desc("n_occurrences"), col("doc_id"))
  }
}
