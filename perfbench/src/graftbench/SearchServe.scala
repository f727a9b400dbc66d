package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{IndexQueries, MaterializedIndex}

/** One serve query: its kind and its terms, phrase words or prefix. */
final case class Query(kind: String, args: Seq[String]) {
  def label: String = s"$kind(${args.mkString(" ")})"
}

/** search_serve: one client in a closed loop sends a seeded, Zipf-skewed
  * query sequence at the index and positional index built in set-up.
  * The program's per-JVM artifact memo holds the whole working set, so
  * planning, partition pruning, job submission and bm25's whole-index
  * aggregation dominate; tokenization does none of the timed work.
  */
object SearchServe {
  val Spec = CorpusSpec(docs = 3000, vocab = 20000, zipfS = 1.05,
    minLen = 20, maxLen = 300, inputFiles = 4,
    deltaFiles = 1, deltaDocsPerFile = 100, deltaUpdateShare = 0.3)
  val Kinds = Seq("lookup", "and", "prefix", "phrase", "bm25")
  /** A timed operation is one block: one query of every kind, in Kinds
    * order, so every kind's cost counts in each per-operation metric.
    */
  val MinBlocks = 6
  val Bm25K = 10

  /** Seeded query stream, one block of five (one query of every kind)
    * at a time, so the kind mix is the same for every seed. Terms are drawn Zipf-skewed over the corpus's terms ranked by
    * document frequency; the rank sequence comes from a fixed stream, so
    * every seed asks for terms of the same popularity (the same posting
    * list lengths) and the seed moves which terms, documents and
    * positions.
    */
  final class QueryGen(model: Model, seed: Long) {
    private val r = new SplittableRandom(seed * 7919 + 17)
    private val ranks = new SplittableRandom(0x5eedL)
    private val terms = model.postings.toSeq.sortBy { case (t, p) => (-p.size, t) }.map(_._1).toArray
    private val zipf = new Sampler(Array.tabulate(terms.length)(i => 1.0 / (i + 1.0)))

    private def term(): String = terms(zipf.next(ranks))
    private def docWith(t: String): Long = {
      val ds = model.postings(t).keysIterator.toArray
      ds(r.nextInt(ds.length))
    }

    def block(): Seq[Query] = Kinds.map(make)

    private def make(kind: String): Query = kind match {
      case "lookup" => Query("lookup", Seq(term()))
      case "and" =>
        val a = term()
        val others = model.tokens(docWith(a)).distinct.filter(_ != a)
        Query("and", Seq(a, others(r.nextInt(others.length))))
      case "prefix" =>
        val t = term()
        Query("prefix", Seq(t.take(if (t.length > 3) 3 else 2)))
      case "phrase" =>
        val toks = model.tokens(docWith(term()))
        val n = 2 + ranks.nextInt(2)
        val p = r.nextInt(toks.length - n + 1)
        Query("phrase", toks.slice(p, p + n).toSeq)
      case "bm25" =>
        Query("bm25", Iterator.continually(term()).distinct.take(2 + ranks.nextInt(2)).toSeq)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = Corpus.generate(Spec, ctx.seed)
    val model = new Model(corpus.base)
    model.indexFingerprint
    val t = ctx.tracer

    // set-up: the corpus on disk (the repeated unit), then the index and
    // positional index the queries are served from
    val dir = Common.setupReps(ctx, 3) {
      val dir = ctx.fresh("gen")
      ctx.writeDocs(corpus.base, dir, Spec.inputFiles)
      dir
    }
    val (_, ensure) = ctx.time(t.span("materialized_index.ensure")(MaterializedIndex.ensure(spark, dir)))
    val (_, ensurePos) = ctx.time(t.span("materialized_index.ensurePositional")(
      MaterializedIndex.ensurePositional(spark, dir)))
    ctx.checked("served index")(Common.indexMatches(ctx, MaterializedIndex.ensure(spark, dir), model))
    val deltaDir = ctx.fresh("delta")
    ctx.writeDocs(corpus.delta.head, deltaDir, 1)

    def frame(q: Query): DataFrame = q match {
      case Query("lookup", Seq(w)) => t.span("materialized_index.termLookup")(
        MaterializedIndex.termLookup(spark, dir, w))
      case Query("and", ws) => t.span("materialized_index.multiTermAnd")(
        MaterializedIndex.multiTermAnd(spark, dir, ws))
      case Query("prefix", Seq(p)) => t.span("materialized_index.prefixSearch")(
        MaterializedIndex.prefixSearch(spark, dir, p))
      case Query("phrase", ws) => t.span("materialized_index.servePhrase")(
        MaterializedIndex.servePhrase(spark, dir, ws.mkString(" ")))
      case Query("bm25", ws) => t.span("index_queries.bm25TopK")(
        IndexQueries.bm25TopK(spark, dir, ws, Bm25K))
    }

    def correct(q: Query, rows: Array[Row]): Boolean = q match {
      case Query("lookup", Seq(w)) =>
        rows.map(r => (r.getLong(1), r.getLong(2))).toSeq == model.lookup(w) &&
          rows.forall(_.getString(0) == w)
      case Query("and", ws) => rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == model.and(ws)
      case Query("prefix", Seq(p)) =>
        rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == model.prefix(p)
      case Query("phrase", ws) => rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == model.phrase(ws)
      case Query("bm25", ws) => bm25Correct(model.bm25Scores(ws), rows.map(r => (r.getLong(0), r.getDouble(1))))
    }

    val gen = new QueryGen(model, ctx.seed)
    gen.block().foreach { q => // warm-up: one query of every kind
      ctx.checked(q.label)(correct(q, frame(q).collect()))
    }
    Common.markSetupDone(ctx)

    val lat = mutable.ArrayBuffer[(String, Double)]()
    val planMs, execMs, bm25Shuffle = mutable.ArrayBuffer[Double]()
    val facts = mutable.ArrayBuffer[(String, Plans.ScanFacts, Long)]()
    val ops = new Ops(ctx)
    while (ops.running(MinBlocks)) {
      val block = gen.block()
      val (answers, _) = ops.run("block") {
        block.map { q =>
          // bm25's shuffle is read off the counters around its own query
          val shuffle0 = if (ctx.traced && q.kind == "bm25") ctx.counters.get.snapshot()("shuffle_write") else 0L
          val ((df, rows), s) = ctx.time {
            val df = frame(q)
            (df, t.span("spark.collect")(df.collect()))
          }
          if (ctx.traced && q.kind == "bm25")
            bm25Shuffle += (ctx.counters.get.snapshot()("shuffle_write") - shuffle0) / 1048576.0
          (df, rows, s)
        }
      }
      block.zip(answers).foreach { case (q, (df, rows, s)) =>
        lat += ((q.kind, s * 1e3))
        ctx.checked(q.label)(correct(q, rows))
        if (ctx.traced) {
          val p = Plans.planMs(df)
          planMs += p
          execMs += s * 1e3 - p
          facts += ((q.kind, Plans.scans(df), rows.length.toLong))
        }
      }
    }

    ops.finish()
    val all = lat.map(_._2).toSeq
    ctx.detail("query_p50_ms", Stats.median(all), "ms")
    // the highest percentile with ten samples beyond it (p90 from 100 queries)
    Stats.tailPercentile(all.length).filter(_ > 50).foreach(p =>
      ctx.detail(s"query_p${p.toString.stripSuffix(".0")}_ms", Stats.percentile(all, p), "ms"))
    Kinds.foreach(k => ctx.detail(s"${k}_p50_ms", Stats.median(lat.filter(_._1 == k).map(_._2).toSeq), "ms"))
    ctx.notes("queries_per_kind") = Kinds.map(k => k -> lat.count(_._1 == k)).toMap
    ctx.notes("tail_percentile") = Stats.tailPercentile(all.length)

    if (ctx.traced) {
      ctx.layer("materialized_index.ensure_s", ensure, "s")
      ctx.layer("materialized_index.ensure_positional_s", ensurePos, "s")
      ctx.layer("serve.plan_ms", Stats.median(planMs.toSeq), "ms")
      ctx.layer("serve.exec_ms", Stats.median(execMs.toSeq), "ms")
      // engine counters are per block of one query of every kind
      ctx.layer("serve.jobs_per_query", ctx.perLayer("spark.jobs")._1 / Kinds.length, "count")
      ctx.layer("serve.stages_per_query", ctx.perLayer("spark.stages")._1 / Kinds.length, "count")
      ctx.layer("serve.tasks_per_query", ctx.perLayer("spark.tasks")._1 / Kinds.length, "count")
      Kinds.foreach { k =>
        val fs = facts.filter(_._1 == k).toSeq
        def med(f: ((String, Plans.ScanFacts, Long)) => Double) =
          if (fs.isEmpty) 0.0 else Stats.median(fs.map(f))
        ctx.layer(s"plans.files_read.$k", med(_._2.files.toDouble), "count")
        ctx.layer(s"plans.partitions_read.$k", med(_._2.partitions.toDouble), "count")
        ctx.layer(s"plans.rows_scanned_per_row_returned.$k",
          med(f => f._2.rows.toDouble / math.max(1L, f._3)), "ratio")
      }
      ctx.layer("index_queries.bm25_shuffle_mb",
        if (bm25Shuffle.isEmpty) 0.0 else Stats.median(bm25Shuffle.toSeq), "MB")
      Common.probes(ctx, dir, s"$deltaDir/documents.parquet", model)
      Common.selfTimes(ctx)
    }
  }

  /** A valid top-k: scores agree with the model to rounding, descend, and
    * no doc left out outscores one returned (ties at the cut may go
    * either way).
    */
  def bm25Correct(expected: Map[Long, Double], got: Seq[(Long, Double)]): Boolean = {
    val tol = 2e-6
    val ranked = expected.toSeq.sortBy { case (d, s) => (-s, d) }
    val kth = if (ranked.length >= Bm25K) ranked(Bm25K - 1)._2 else Double.NegativeInfinity
    got.length == math.min(Bm25K, expected.size) &&
      got.map(_._1).distinct.length == got.length &&
      got.forall { case (d, s) => expected.get(d).exists(e => math.abs(e - s) <= tol) && s >= kth - tol } &&
      got.zip(got.drop(1)).forall { case (a, b) => a._2 >= b._2 }
  }
}
