package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe, kept in test scope like the other Adj* mains (compiled
  * with the tests so it cannot rot, never shipped in the production
  * artifact; run via `sbt "Test/runMain graft.AdjLouvainWitness"`):
  * tunes the planted 3-level Louvain hierarchy before pinning it in
  * LouvainWitnessSpec (which reuses its edge fixture).
  * Prints what each stage finds so the witness parameters can be
  * adjusted without reverse-engineering the operator's emission.
  */
object AdjLouvainWitness {
  // 3 supermacros x 3 macros x 3 mids, mid = K6 whose 6 members share
  // one residue class mod 64 (the fine loop's hash seeding) so the
  // level-1 partition is the mids BY SEED CONSTRUCTION; asymmetric
  // 3-cycle bridge weights at both weighted tiers break the
  // synchronous sweep's swap hazard; supermacros disconnected.
  val midsPerMacro = 3
  val macrosPerSuper = 3
  val supers = 3
  val K = 6 // mid clique size
  val wMid: (Int, Int, Int) = (20, 24, 16)  // (M1M2, M2M3, M1M3)
  // level-3 pair-to-pair 3-cycle: weights between the level-2 PAIR
  // supernodes {M1,M3} of the three triangles of a gadget, spread
  // evenly over their 4 underlying mid-pairs (17/19/15 per mid-pair,
  // all < the intra-triangle minimum 16? 15 < 16, 17,19 must stay
  // below each mid's best intra link - checked per argmax below)
  val wMac: (Int, Int, Int) = (68, 76, 60)  // (P1P2, P2P3, P1P3)

  def midIndex(sm: Int, mac: Int, mid: Int): Int =
    (sm * macrosPerSuper + mac) * midsPerMacro + mid

  def midNodes(j: Int): IndexedSeq[Long] =
    (0 until K).map(t => 10L * (j + 1 + 32 * t))

  /** w distinct, evenly-spread edges between two equal-size groups:
    * diagonal d, position i — each node carries at most ceil(w/n)
    * endpoints and at most 2 toward any single foreign K6 block.
    */
  def spread(xs: IndexedSeq[Long], ys: IndexedSeq[Long],
      w: Int): Seq[(Long, Long)] = {
    val n = xs.length
    require(w <= n * ys.length)
    (0 until w).map(i => (xs(i % n), ys(((i % n) + i / n) % ys.length)))
  }

  def edges(): Seq[(Long, Long)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (sm <- 0 until supers; mac <- 0 until macrosPerSuper) {
      // K6 internals
      for (mid <- 0 until midsPerMacro) {
        val ids = midNodes(midIndex(sm, mac, mid))
        for (i <- 0 until K; j <- i + 1 until K) buf += ((ids(i), ids(j)))
      }
      // asymmetric mid-mid 3-cycle within the macro
      val (w12, w23, w13) = wMid
      buf ++= spread(midNodes(midIndex(sm, mac, 0)),
        midNodes(midIndex(sm, mac, 1)), w12)
      buf ++= spread(midNodes(midIndex(sm, mac, 1)),
        midNodes(midIndex(sm, mac, 2)), w23)
      buf ++= spread(midNodes(midIndex(sm, mac, 0)),
        midNodes(midIndex(sm, mac, 2)), w13)
    }
    // asymmetric pair-to-pair 3-cycle within each gadget: links between
    // the {M1,M3} weak-pair supernodes of the three triangles, each
    // spread evenly over the 4 underlying mid-pairs
    def pairNodes(sm: Int, mac: Int): IndexedSeq[Long] =
      midNodes(midIndex(sm, mac, 0)) ++ midNodes(midIndex(sm, mac, 2))
    val (a2, b2, c2) = wMac
    for (sm <- 0 until supers) {
      buf ++= spread(pairNodes(sm, 0), pairNodes(sm, 1), a2)
      buf ++= spread(pairNodes(sm, 1), pairNodes(sm, 2), b2)
      buf ++= spread(pairNodes(sm, 0), pairNodes(sm, 2), c2)
    }
    buf.toSeq
  }

  def writeFixture(spark: SparkSession): String = {
    val sp = spark
    import sp.implicits._
    val es = edges()
    val rows = es.zipWithIndex.flatMap { case ((u, v), o) =>
      Seq((o.toLong, u), (o.toLong, v))
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_louvain_witness").toString
    rows.toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val es = edges()
    println(s"m = ${es.length}, distinct = ${es.map { case (u, v) =>
      (math.min(u, v), math.max(u, v)) }.distinct.length}")
    val dir = writeFixture(spark)

    val conv = SparkEntry.queries("graph_louvain_converged")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def same(ids: Seq[Long]): Boolean = ids.map(conv).distinct.length == 1
    val nMids = (0 until 27).count(j => same(midNodes(j)))
    println(s"level-1: ${conv.values.toSet.size} communities; " +
      s"mids intact: $nMids/27")

    val full = SparkEntry.queries("graph_louvain_full")(spark, dir).collect()
    val levels = full.map(_.getLong(2)).distinct.toSeq
    val lab = full.map(r => r.getLong(0) -> r.getLong(1)).toMap
    def sameF(ids: Seq[Long]): Boolean = ids.map(lab).distinct.length == 1
    val nMacros = (for (sm <- 0 until 3; mac <- 0 until 3) yield
      sameF((0 until 3).flatMap(mid => midNodes(midIndex(sm, mac, mid)))))
      .count(identity)
    val nSupers = (0 until 3).count(sm =>
      sameF((0 until 9).flatMap(x => midNodes(sm * 9 + x))))
    println(s"full: levels=$levels, final communities=" +
      s"${lab.values.toSet.size}, macros merged: $nMacros/9, " +
      s"supermacros merged: $nSupers/3")
    spark.stop()
  }
}
