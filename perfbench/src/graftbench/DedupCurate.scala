package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.Dedup

/** dedup_curate: near-duplicate cluster labels, then the keep-longest
  * curated set, over a corpus with planted near-duplicate groups of
  * skewed size (pairs up to cliques). They run in the label-only
  * consumer order, with no pair relation built first, so the cost is
  * shingling, candidate generation, verification and label rounds; the
  * index layers sit idle. 60% of the corpus sits in planted groups of
  * up to 100 members, so PPJoin emits on the order of 10^4 candidate
  * pairs per cycle. Each cycle reads a fresh corpus copy, so no artifact memo
  * is hit.
  */
object DedupCurate {
  val Spec = CorpusSpec(docs = 1500, vocab = 20000, zipfS = 1.05,
    minLen = 20, maxLen = 200, inputFiles = 4,
    deltaFiles = 1, deltaDocsPerFile = 100, deltaUpdateShare = 0.3,
    dupShare = 0.6, dupGroupSkew = 0.5, maxGroup = 100)
  val Threshold = 0.8

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = Corpus.generate(Spec, ctx.seed)
    val model = new Model(corpus.base)
    val dups = new DupModel(corpus.base, Threshold)
    dups.keepLongest
    val t = ctx.tracer

    val (src, deltaDir) = Common.setupReps(ctx, 3) {
      val src = ctx.fresh("gen")
      ctx.writeDocs(corpus.base, src, Spec.inputFiles)
      val deltaDir = ctx.fresh("delta")
      ctx.writeDocs(corpus.delta.head, deltaDir, 1)
      (src, deltaDir)
    }

    val secs = mutable.ArrayBuffer[Double]()
    val labelS, curateS, shingleS, candidates = mutable.ArrayBuffer[Double]()
    var clusters = 0L
    var lastDir = src

    def cycle(ops: Option[Ops]): Unit = {
      val dir = ctx.linkCorpus(src)
      lastDir = dir
      val writesBefore = ctx.counters.map(_.writes.size).getOrElse(0)
      def body() = {
        val (labels, l) = ctx.time(t.span("dedup.dupClusters") {
          val df = Dedup.dupClusters(spark, dir, Threshold)
          t.span("spark.collect")(df.collect())
        })
        val (curated, c) = ctx.time(t.span("dedup.clusterKeepLongest") {
          val df = Dedup.clusterKeepLongest(spark, dir, Threshold)
          t.span("spark.collect")(df.collect())
        })
        (labels, curated, l, c)
      }
      val ((labels, curated, l, c), s) = ops match {
        case Some(o) => o.run("cycle")(body())
        case None => (body(), 0.0)
      }
      ctx.checked("dupClusters")(labels.map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == dups.clusters &&
        labels.length == dups.clusters.size)
      ctx.checked("clusterKeepLongest")(curated.map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap ==
        dups.keepLongest && curated.length == dups.keepLongest.size)
      if (ops.nonEmpty) secs += s
      if (ctx.traced && ops.nonEmpty) {
        // parquet writes the cycle made: the shingle artifact's wall time
        // and the PPJoin candidate relation's row count
        val w = ctx.counters.get.writes.asScala.toSeq.drop(writesBefore)
        val sh = w.filter(_._1.contains("graft_shingles_")).map(_._3).sum / 1e9
        shingleS += sh
        labelS += l - sh
        curateS += c
        candidates += w.filter(_._1.contains("graft_jaccand")).map(_._2).sum.toDouble
        clusters = labels.map(_.getLong(1)).distinct.length.toLong
      }
    }

    // warm-up: the first cycle in a JVM runs cold (JIT, and Spark
    // compiling the code of every plan shape; a smaller corpus would get
    // other join strategies, so it runs on the measured corpus)
    cycle(None)
    Common.markSetupDone(ctx)
    val ops = new Ops(ctx)
    while (ops.running(minOps = 3)) cycle(Some(ops))
    ops.finish()

    ctx.detail("dedup_docs_per_s", Spec.docs / Stats.median(secs.toSeq), "docs/s")
    ctx.notes("corpus") = Map("docs" -> Spec.docs, "text_bytes" -> model.textBytes,
      "tokens" -> model.totalTokens, "planted_share" -> Spec.dupShare,
      "true_pairs" -> dups.pairs.length, "clustered_docs" -> dups.clusters.size)

    if (ctx.traced) {
      ctx.layer("dedup.shingles_s", Stats.median(shingleS.toSeq), "s")
      ctx.layer("dedup.labels_s", Stats.median(labelS.toSeq), "s")
      ctx.layer("dedup.curate_s", Stats.median(curateS.toSeq), "s")
      val cand = Stats.median(candidates.toSeq)
      ctx.layer("dedup.candidates", cand, "count")
      ctx.layer("dedup.clusters", clusters.toDouble, "count")
      // verified pairs, from the program's pair relation over the last
      // cycle's corpus; built after timing, it reuses that cycle's
      // candidates
      val pairs = t.operation("pairs")(t.span("dedup.ngramJaccardPairs")(
        Dedup.ngramJaccardPairs(spark, lastDir, Threshold).count()))
      ctx.checked("ngramJaccardPairs count")(pairs == dups.pairs.length)
      ctx.layer("dedup.pairs", pairs.toDouble, "count")
      ctx.layer("dedup.pair_yield", if (cand > 0) pairs / cand else 0.0, "ratio")
      Common.probes(ctx, src, s"$deltaDir/documents.parquet", model)
      Common.selfTimes(ctx)
    }
  }
}
