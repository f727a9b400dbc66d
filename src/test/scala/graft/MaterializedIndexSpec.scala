package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.{IndexQueries, Indexer, MaterializedIndex}

class MaterializedIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("served term lookup == corpus-scan term lookup") {
    val served = MaterializedIndex.termLookup(spark, sf, "window")
      .as[(String, Long, Long)].collect().toSeq
    val scanned = Indexer.termLookup(spark, sf, "window")
      .as[(String, Long, Long)].collect().toSeq
    assert(served.nonEmpty)
    assert(served === scanned)
  }

  test("served multi-term AND == corpus-scan multi-term AND") {
    val terms = Seq("scan", "join", "filter")
    val served = MaterializedIndex.multiTermAnd(spark, sf, terms)
      .as[(Long, Long)].collect().toSeq
    val scanned = Indexer.multiTermAnd(spark, sf, terms)
      .as[(Long, Long)].collect().toSeq
    assert(served === scanned)
  }

  test("prefix search: one pruned letter partition, pushed StartsWith, exact") {
    val q = MaterializedIndex.prefixSearch(spark, sf, "sc")
    val got = q.as[(String, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._1.startsWith("sc")))
    // ground truth from an independent corpus scan
    val truth = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term").startsWith("sc"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
      .orderBy("term")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === truth)
    // the serve plan prunes to the ONE letter partition and pushes the
    // prefix predicate into the scan (string probe: AQE wraps the scan)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("first_letter"),
      s"letter partition filter missing:\n$plan")
    assert(plan.contains("StringStartsWith"),
      s"StartsWith not pushed:\n$plan")
  }

  test("served phrase search == corpus-scan bigram search; n-word phrases exact") {
    val served = MaterializedIndex.servePhrase(spark, sf, "key order")
      .as[(Long, Long)].collect().toSeq
    val scanned = graft.operators.IndexQueries.phraseSearch(spark, sf, "key order")
      .as[(Long, Long)].collect().toSeq
    assert(served.nonEmpty)
    assert(served === scanned)

    // 3-word phrase: ground truth from an independent trigram scan
    val phrase3 = "key order data"
    val truth = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.shinglesOfTokens(col("ts"), 3)).as("g"))
      .filter(col("g") === phrase3)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val got = MaterializedIndex.servePhrase(spark, sf, phrase3)
      .as[(Long, Long)].collect().toMap
    assert(got === truth)
  }

  test("ensure builds once per JVM (second call returns the same path, no rebuild)") {
    val p1 = MaterializedIndex.ensure(spark, sf)
    val mtimes1 = new java.io.File(p1).listFiles().map(_.lastModified()).toSeq
    val p2 = MaterializedIndex.ensure(spark, sf)
    val mtimes2 = new java.io.File(p2).listFiles().map(_.lastModified()).toSeq
    assert(p1 === p2)
    assert(mtimes1 === mtimes2)
  }

  private def serveFrames(s: SparkSession): Seq[DataFrame] = Seq(
    MaterializedIndex.termLookup(s, sf, "window"),
    MaterializedIndex.multiTermAnd(s, sf, Seq("scan", "join")),
    MaterializedIndex.prefixSearch(s, sf, "sc"),
    MaterializedIndex.servePhrase(s, sf, "key order"),
    IndexQueries.bm25TopK(s, sf, Seq("scan", "join", "filter"), 10))

  /** BM25 over the whole index, formulated as before the doc-length table:
    * doc lengths, n_docs and avgdl aggregated from every posting per query.
    */
  private def wholeIndexBm25(terms: Seq[String], k: Int): DataFrame = {
    val post = spark.read.parquet(MaterializedIndex.ensure(spark, sf))
      .select(col("term"), col("doc_id"), col("tf"))
    val dl = post.filter(col("doc_id").isNotNull)
      .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n_docs"))
    val qpost = post.filter(col("term").isin(terms: _*))
    val dfreq = qpost.groupBy("term").agg(count(lit(1)).as("df"))
    qpost
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .join(dl, "doc_id")
      .withColumn("s",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  test("serve frames on an ensured index start no Spark job") {
    // first use pays the builds: both indexes and the doc-length table
    serveFrames(spark).foreach(_.collect())
    val sc = spark.sparkContext
    org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      serveFrames(spark)
      org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() === 0,
      s"building the serve frames started ${jobs.get()} Spark jobs")
  }

  test("bm25 scans only its query letters' partitions of the index") {
    val idx = new java.io.File(MaterializedIndex.ensure(spark, sf))
    val indexFiles = java.nio.file.Files.walk(idx.toPath)
      .filter(_.toString.endsWith(".parquet")).count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = IndexQueries.bm25TopK(spark, sf, Seq("scan", "join", "filter"), 10)
      q.collect()
      val scans = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == idx.getName) => s
      }
      assert(scans.nonEmpty, s"no index scan in:\n${q.queryExecution.executedPlan}")
      scans.foreach { s =>
        assert(s.partitionFilters.exists(_.references.exists(_.name == "first_letter")),
          s"index scan without a first_letter partition filter:\n$s")
        val read = s.metrics("numFiles").value
        assert(read > 0 && read < indexFiles,
          s"index scan read $read of $indexFiles files")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bm25 from the doc-length table == the whole-index formulation") {
    // multi-term, single-term, and a term absent from the corpus
    Seq(Seq("scan", "join", "filter"), Seq("window"), Seq("scan", "qzxjvw"))
      .foreach { terms =>
        val got = IndexQueries.bm25TopK(spark, sf, terms, 10)
          .as[(Long, Double)].collect().toSeq
        val want = wholeIndexBm25(terms, 10).as[(Long, Double)].collect().toSeq
        assert(got.nonEmpty, s"no rows for $terms")
        assert(got === want, s"bm25 diverged for $terms")
      }
  }

  test("a second session serves the same rows from relations of its own") {
    val other = spark.newSession()
    serveFrames(spark).zip(serveFrames(other)).foreach { case (mine, theirs) =>
      assert(theirs.sparkSession eq other)
      val relations = theirs.queryExecution.analyzed.collect {
        case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
          lr.relation.asInstanceOf[HadoopFsRelation]
      }
      assert(relations.nonEmpty && relations.forall(_.sparkSession eq other),
        "a serve plan of the second session reads a relation of the first")
      assert(theirs.collect().toSeq === mine.collect().toSeq)
    }
  }
}
