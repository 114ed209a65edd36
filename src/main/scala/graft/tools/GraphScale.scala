package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, QueryProfile}

/** Scale rehearsal for the iterative graph family: synthetic power-law-ish
  * link graph (each of `n` pages emits 1-8 outlinks to xxhash-scattered
  * targets, plus a hub that everyone links — the web's shape), then
  * `iters` PageRank rounds with wall + shuffle measured per run.
  *
  * Usage: tools/run.sh graft.tools.GraphScale [nEdges] [iters] [hubIn]
  *
  * `hubIn` > 0 appends that many DEDICATED out-degree-1 sources all
  * pointing at the hub — the mass-concentration regime: at 12M the
  * hub's in-mass (~1.2e13 ppm) sits ABOVE the pre-round-11 Long
  * overflow threshold (damping·mass wrapped at ~1.085e13), so this
  * row rehearses exactly the magnitude the divide-before-multiply
  * split and the DECIMAL HITS normalize exist for.
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val nEdges = if (args.length > 0) args(0).toLong else 5000000L
    val iters = if (args.length > 1) args(1).toInt else 3
    val hubIn = if (args.length > 2) args(2).toLong else 0L
    val spark = GraftSession.local()
    val profile = new QueryProfile(spark)

    // ~nEdges edges over ~nEdges/4 nodes; 10% of edges point at node 0
    // (the mega-hub), targets otherwise xxhash-scattered
    val nNodes = math.max(nEdges / 4, 10L)
    val scattered = spark.range(nEdges).select(
        pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
        when(pmod(col("id"), lit(10)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id") + 1), lit(nNodes))).as("dst"))
      .where(col("src") =!= col("dst"))
    // dedicated full-weight hub feeders (out-degree 1, fresh node ids)
    val edges = (if (hubIn > 0)
        scattered.unionByName(spark.range(hubIn).select(
          (col("id") + nNodes + 1L).as("src"), lit(0L).as("dst")))
      else scattered)
      .localCheckpoint(true)
    println(s"[graph-scale] edges=${edges.count()} nodes~$nNodes " +
      s"hubIn=$hubIn iters=$iters")
    val c0 = profile.now()
    val t0 = System.nanoTime()
    val ranks = graft.operators.GraphRank.pageRank(
      edges, "src", "dst", iters)
    val top = ranks.orderBy(col("rank_ppm").desc).limit(3)
      .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
    val n = ranks.count()
    val dt = (System.nanoTime() - t0) / 1e9
    val c = profile.now() - c0
    println(f"[graph-scale] pageRank($iters): $dt%.2f s  nodes=$n  " +
      f"shuffleW=${c.shuffleWriteBytes / 1e6}%.1f MB  shuffleR=${c.shuffleReadBytes / 1e6}%.1f MB  top3=$top")
    if (hubIn > 0) {
      // the HITS normalize overflowed at raw·10⁶ past ~9.2e12 — one
      // round over the same hub graph exercises the DECIMAL path
      val h0 = profile.now()
      val th0 = System.nanoTime()
      val h = graft.operators.GraphRank.hits(edges, "src", "dst", 1)
      val hubRow = h.where(col("id") === 0L)
        .collect().map(r => s"hub=${r.getLong(1)}/${r.getLong(2)}").head
      val dth = (System.nanoTime() - th0) / 1e9
      val hw = (profile.now() - h0).shuffleWriteBytes
      println(f"[graph-scale] hits(1): $dth%.2f s  $hubRow  " +
        f"shuffleW=${hw / 1e6}%.1f MB")
    }
    spark.stop()
  }
}
