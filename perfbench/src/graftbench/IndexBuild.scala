package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Indexer
import graft.streaming.StreamingIndexer

/** index_build: bulk-build the letter-partitioned index of a fresh corpus
  * copy, then land the delta files one at a time in a directory that
  * `StreamingIndexer.startIndexMaintenance` drains into that index.
  * Scan, tokenize, aggregate, exchange, sort and write do the work; the
  * serve layers do none. Each cycle targets new paths, so no artifact
  * memo is hit.
  */
object IndexBuild {
  val Spec = CorpusSpec(docs = 2000, vocab = 15000, zipfS = 1.05,
    minLen = 20, maxLen = 300, inputFiles = 4,
    deltaFiles = 1, deltaDocsPerFile = 100, deltaUpdateShare = 0.3)

  def run(ctx: Ctx): Unit = {
    val corpus = Corpus.generate(Spec, ctx.seed)
    val baseModel = new Model(corpus.base)
    val finalModel = new Model(corpus.finalDocs)
    baseModel.indexFingerprint
    finalModel.indexFingerprint
    val deltaDocs = corpus.delta.map(_.length).sum

    // set-up unit: the generated corpus and delta files written to disk
    val (src, deltas) = Common.setupReps(ctx, 3) {
      val src = ctx.fresh("gen")
      ctx.writeDocs(corpus.base, src, Spec.inputFiles)
      val deltas = corpus.delta.map { d =>
        val dir = ctx.fresh("delta")
        ctx.writeDocs(d, dir, 1)
        Ctx.dataFiles(s"$dir/documents.parquet").head
      }
      (src, deltas)
    }

    val build, upsert = mutable.ArrayBuffer[Double]()
    var ratio = 0.0
    val t = ctx.tracer
    // one index path and one maintenance stream for the whole run: each
    // cycle bulk-overwrites the index from a fresh corpus copy, then lands
    // the delta files under new names in the watched directory
    val idx = ctx.fresh("index")
    val watch = ctx.fresh("watch")
    Files.createDirectories(Paths.get(watch))
    var stream: Option[StreamingQuery] = None
    var landed = 0

    /** One cycle; returns (build s, upsert s, bulk index clone). */
    def cycle(): (Double, Double, String) = {
      val dir = ctx.linkCorpus(src)
      val (_, b) = ctx.time(t.span("indexer.writeIndex")(Indexer.writeIndex(ctx.spark, dir, idx)))
      // the upsert rewrites partitions in place; a hard-linked clone keeps
      // the bulk build for its check
      val bulk = ctx.fresh("bulk")
      Ctx.linkTree(Paths.get(idx), Paths.get(bulk))
      val q = stream.getOrElse {
        val q = t.span("streaming.startIndexMaintenance")(
          StreamingIndexer.startIndexMaintenance(ctx.spark, watch, idx))
        q.processAllAvailable()
        stream = Some(q)
        q
      }
      val (_, u) = ctx.time(deltas.foreach { f =>
        landed += 1
        Files.createLink(Paths.get(watch, s"delta_$landed.parquet"), f)
        t.span("streaming.processAllAvailable")(q.processAllAvailable())
      })
      (b, u, bulk)
    }

    def checkedCycle(ops: Option[Ops]): Unit = {
      val (b, u, bulk) = ops match {
        case Some(o) => o.run("cycle")(cycle())._1
        case None => cycle()
      }
      ctx.checked("bulk index")(Common.indexMatches(ctx, bulk, baseModel))
      ctx.checked("upserted index")(Common.indexMatches(ctx, idx, finalModel))
      if (ops.nonEmpty) {
        build += b; upsert += u
        ratio = Ctx.dataBytes(idx).toDouble / finalModel.textBytes
      }
    }

    val ops = try {
      checkedCycle(None) // warm-up: the first build in a JVM runs cold
      Common.markSetupDone(ctx)
      val ops = new Ops(ctx)
      while (ops.running(minOps = 3)) checkedCycle(Some(ops))
      ops
    } finally stream.foreach(_.stop())
    ops.finish()

    ctx.detail("build_docs_per_s", Spec.docs / Stats.median(build.toSeq), "docs/s")
    ctx.detail("upsert_docs_per_s", deltaDocs / Stats.median(upsert.toSeq), "docs/s")
    ctx.detail("index_bytes_per_text_byte", ratio, "ratio")
    ctx.notes("build_s") = build.toSeq
    ctx.notes("upsert_s") = upsert.toSeq
    ctx.notes("corpus") = Map("docs" -> Spec.docs, "text_bytes" -> baseModel.textBytes,
      "tokens" -> baseModel.totalTokens, "terms" -> baseModel.postings.size,
      "delta_docs" -> deltaDocs, "delta_files" -> Spec.deltaFiles)

    if (ctx.traced) {
      Common.probes(ctx, src, deltas.head.getParent.toString, baseModel)
      Common.selfTimes(ctx)
    }
  }
}
