package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** The degree-oriented triangle count must agree with a brute-force
  * canonical-edge triangle join — on a hand-built graph whose triangles
  * are known, and on the real co-purchase graph at sf0.001.
  */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  /** Naive count: canonical a<b edges, tri = e(a,b)⋈e(b,c)⋈e(a,c). */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val tris = for {
      (a, b) <- e.toSeq
      (b2, c) <- e.toSeq if b2 == b && e.contains((a, c))
    } yield (a, b, c)
    tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  test("oriented count matches brute force on a known graph") {
    // two triangles sharing an edge, plus a pendant and an isolated edge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (8L, 9L))
    val df = edges.toDF("u", "v")
    val tris = Graph.triangleCounts(Graph.orientedEdges(df))
      .as[(Long, Long)].collect().toMap
    assert(tris === bruteTriangles(edges))
    // {1,2,3} and {2,3,4}: vertices 2 and 3 sit in both
    assert(tris === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("every out-neighborhood is bounded (orientation took effect)") {
    val o = Graph.orientedEdges(
      Graph.copurchaseEdges(spark, sf).cache())
    val Array(maxOut, maxDeg) = Seq(
      o.groupBy("src").count().agg(max("count")).as[Long].head(),
      o.select(col("src").as("n")).unionAll(o.select(col("dst").as("n")))
        .groupBy("n").count().agg(max("count")).as[Long].head()).toArray
    // the whole point of the orientation: hubs keep their in-edges but
    // their out-degree stays near √|E|, so wedge work is bounded
    assert(maxOut < maxDeg,
      s"orientation did not reduce the hub out-degree ($maxOut vs $maxDeg)")
  }

  test("basket rules match a driver-side recomputation") {
    val got = Graph.basketRules(spark, sf).collect()
    assert(got.length === 25)
    val baskets = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
      .as[(Long, Long)].collect().toSeq.distinct
    val nOrders = baskets.map(_._1).distinct.size.toLong
    val itemN = baskets.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    val pairN = baskets.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val ps = xs.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).collect { case (k, v) if v.size >= 2 => k -> v.size.toLong }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = pairN.toSeq.map { case ((a, b), np) =>
      val (na, nb) = (itemN(a), itemN(b))
      (a, b, np, na, nb, nOrders, r6(np.toDouble / nOrders),
        r6(np.toDouble / na), r6(np.toDouble * nOrders / (na.toDouble * nb)))
    }.sortBy { case (a, b, _, _, _, _, _, _, lift) => (-lift, a, b) }.take(25)
    val gotT = got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
      r.getDouble(7), r.getDouble(8))).toSeq
    assert(gotT === expected)
  }

  test("sf0.001 co-purchase triangles match brute force") {
    val got = Graph.copurchaseTriangles(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val edges = Graph.copurchaseEdges(spark, sf).as[(Long, Long)].collect().toSeq
    val expected = bruteTriangles(edges).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(50)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("salted co-purchase edge build emits the identical edge set") {
    // the hub-basket guard only reroutes the shuffle — flipping it on
    // must not add, drop, or duplicate a single edge
    val plain = Graph.copurchaseEdges(spark, sf).as[(Long, Long)].collect()
    spark.conf.set("spark.graft.copurchaseSalt", "8")
    try {
      val salted = Graph.copurchaseEdges(spark, sf).as[(Long, Long)].collect()
      assert(salted.length === plain.length, "salting changed edge multiplicity")
      assert(salted.toSet === plain.toSet)
    } finally spark.conf.unset("spark.graft.copurchaseSalt")
  }

  test("a malformed copurchaseSalt falls back to the plain join") {
    val plain = Graph.copurchaseEdges(spark, sf).as[(Long, Long)].collect()
    spark.conf.set("spark.graft.copurchaseSalt", "eight")
    try {
      val edges = Graph.copurchaseEdges(spark, sf)
      assert(!edges.queryExecution.analyzed.toString.contains("__salt"),
        s"malformed salt still salted the join:\n${edges.queryExecution.analyzed}")
      val got = edges.as[(Long, Long)].collect()
      assert(got.length === plain.length)
      assert(got.toSet === plain.toSet)
    } finally spark.conf.unset("spark.graft.copurchaseSalt")
  }
}
