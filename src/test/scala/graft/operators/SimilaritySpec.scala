package graft.operators

import graft.{Materialize, SparkSpec}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 5)

  test("pqTopK: shape + recall@10 vs exact L2 top-10 (ADC is an L2 approximation)") {
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", 10)
      .collect()
    assert(pq.length == 5 * 10)
    pq.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
    }
    // exact squared-L2 ground truth, computed driver-side on the small SF
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (0L until 5L).flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(10).map(q -> _)
    }.toSet
    val got = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("bruteForceTopK: k results per query, self excluded, ranks contiguous") {
    val out = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .collect()
    assert(out.length == 5 * 10)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
      // ranks ordered by descending cosine
      val sorted = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivfTopK recall@10 >= 0.2 vs brute force with 8 centroids, nprobe 2") {
    // IVF is approximate: with random embeddings and 2/8 buckets probed the
    // expected candidate coverage is ~25%; assert sane recall, exact
    // agreement is not the contract.
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10, cents, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size == 50)
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("refineCentroids: Lloyd steps keep k centroids and improve inertia") {
    def inertia(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignClusters(emb, "vec_id", "embedding", cents)
        .join(cents.select(col("centroid_id").cast("long").as("centroid_id"),
          transform(col("vec"), _.cast("double")).as("cv")), Seq("centroid_id"))
        .select(aggregate(
          zip_with(transform(col("embedding"), _.cast("double")), col("cv"),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("d"))
        .agg(sum(col("d"))).first().getDouble(0)
    val seed = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val refined = Similarity.refineCentroids(emb, "vec_id", "embedding", seed, 2)
    assert(refined.count() <= 8 && refined.count() >= 1)
    assert(inertia(refined) < inertia(seed))
  }

  test("rpLshNearDupPairs: sound (every pair verified >= threshold, subset of brute)") {
    val brute = Dedup.embeddingNearDupPairs(
      emb.withColumn("all", lit(1)), "vec_id", "embedding", "all", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.rpLshNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.forall(_._3 >= 0.3))
    val lshPairs = lsh.map(p => (p._1, p._2)).toSet
    assert(lshPairs.subsetOf(brute))
    // recall is probabilistic at cos~0.3 (p-match ~0.6/bit); assert sane floor
    assert(brute.isEmpty || lshPairs.size.toDouble / brute.size >= 0.1,
      s"recall ${lshPairs.size}/${brute.size}")
  }

  test("ivfPqTopK: probed-bucket subset of pqTopK with identical ADC sums") {
    val queries = emb.filter(col("vec_id") < 3)
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val full = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        kNeighbors = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ivf = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        kNeighbors = 10, cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    assert(ivf.nonEmpty)
    // ADC of every returned pair equals the unpruned PQ distance
    ivf.foreach { case (q, n, adc, _) =>
      assert(full((q, n)) == adc, s"($q,$n)")
    }
    // every neighbor lies in one of the query's nprobe probed clusters
    val assigned = Similarity.assignClusters(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranks = ivf.groupBy(_._1).view.mapValues(_.map(_._4).sorted.toSeq)
    ranks.foreach { case (_, rs) => assert(rs == (1 to rs.size)) }
    ivf.foreach { case (q, n, _, _) =>
      // probed = 2 closest centroids of q; neighbor's cluster must be one
      val qProbed = ivf.filter(_._1 == q).map(x => assigned(x._2)).toSet
      assert(qProbed.size <= 2, s"query $q spans ${qProbed.size} clusters")
      assert(qProbed.contains(assigned(n)))
    }
  }

  test("semanticDedup: drops higher-id near-dups within cluster only") {
    import spark.implicits._
    val cents = Seq((0L, Seq(0.0f, 1.0f)), (1L, Seq(1.0f, 0.0f)))
      .toDF("centroid_id", "vec")
    val corpus = Seq(
      (1L, Seq(0.0f, 1.0f)),    // cluster 0, kept (lowest id)
      (2L, Seq(0.0f, 0.9f)),    // cluster 0, cosine 1.0 with id 1 -> dropped
      (3L, Seq(0.05f, 1.0f)),   // cluster 0, cos ~0.9988 with id 1 -> dropped
      (4L, Seq(1.0f, 0.0f)),    // cluster 1, kept
      (5L, Seq(0.9f, 0.1f))     // cluster 1, cos ~0.9939 with id 4 -> dropped
    ).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        cents, threshold = 0.99)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((2L, 0L, 1L), (3L, 0L, 1L), (5L, 1L, 4L)))

    // dup_of is the LOWEST qualifying cluster-mate, not just any
    val r2 = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      cents, threshold = 0.99)
    assert(r2.filter(col("id") === 3L).select("dup_of")
      .first().getLong(0) == 1L)

    // hot-cluster guard: maxClusterSize below the cluster size -> no pairs,
    // and the exclusions are AUDITABLE via skippedClusters (never silent)
    assert(Similarity.semanticDedup(corpus, "vec_id", "embedding",
      cents, threshold = 0.99, maxClusterSize = 1).count() == 0L)
    val skipped = Similarity.skippedClusters(corpus, "vec_id", "embedding",
        cents, maxClusterSize = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(skipped == Map(0L -> 3L, 1L -> 2L))
    // with the default bound nothing is skipped
    assert(Similarity.skippedClusters(corpus, "vec_id", "embedding",
      cents).count() == 0L)
  }

  test("cosine of identical vectors is 1") {
    import spark.implicits._
    val v = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val out = v.select(round(Similarity.cosine(
      transform(col("embedding"), _.cast("double")),
      transform(col("embedding"), _.cast("double"))), 6)).first().getDouble(0)
    assert(out == 1.0)
  }

  test("hardNegatives: only cross-label neighbors, cosine-desc ranks") {
    import spark.implicits._
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), "A"),
      (2L, Seq(0.9f, 0.1f), "A"),
      (3L, Seq(0.0f, 1.0f), "B"),
      (4L, Seq(0.5f, 0.5f), "B")
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(e, "vec_id", "embedding", "label", k = 2,
        anchors = e)
      .collect()
      .map(x => (x.getLong(0), x.getInt(3)) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    // anchor 1 (A): nearest wrong-label is 4 (cos .7071), then 3 (cos 0)
    assert(r((1L, 1)) == ((4L, 0.707107)))
    assert(r((1L, 2)) == ((3L, 0.0)))
    // anchor 3 (B): same-label 4 is NOT a candidate despite cos .7071
    assert(r((3L, 1))._1 == 2L) // (0.9,0.1) has the larger y-weighted cos
    assert(r((3L, 2))._1 == 1L)
    assert(r.keys.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    // never a same-label pair
    val labels = Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B")
    r.foreach { case ((q, _), (n, _)) => assert(labels(q) != labels(n)) }
  }

  test("hardNegativesAnn: matches exact hardNegatives on the corpus " +
      "(candidates cover the exact top-k) and plans no all-pairs stage") {
    val exact = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        k = 3, anchors = emb)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val (ann, cuts) = withCuts(Similarity.hardNegativesAnn(emb, "vec_id",
      "embedding", "label", k = 3, dim = 64))
    // LSH candidate generation recovered every exact top-3 neighbor at the
    // wide-band setting — identical (neighbor, cosine, rank) per anchor
    val got = ann.collect().map(r => (r.getLong(0), r.getInt(3)) ->
      ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == exact)
    // the plan is bucketed equi-joins only: no broadcast nested loop over
    // the corpus, no cartesian product (the all-pairs scale-killer shape)
    assert(cuts.nonEmpty)
    val plan = cuts.map(_.executedPlan.toString).mkString("\n")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("autoBitsPerBand: pinned below the gate floor, bucket-sized above") {
    // gate-scale corpora keep the recall-pinned minimum no matter what
    assert(Similarity.autoBitsPerBand(500, minBits = 2) == 2)
    assert(Similarity.autoBitsPerBand(2000, minBits = 2) == 2)
    assert(Similarity.autoBitsPerBand(9999, minBits = 4) == 4)
    // past the floor, bits hold the expected bucket at ~targetBucket
    assert(Similarity.autoBitsPerBand(20000, minBits = 2) == 7)
    assert(Similarity.autoBitsPerBand(1000000, minBits = 2) == 12)
  }

  test("rpSignatureBands: fused expression equals per-band rpSignature chain") {
    val vd = transform(col("embedding"), _.cast("double"))
    val declared = array((0 until 8).map { b =>
      Similarity.rpSignature(vd, Similarity.randomPlanes(4, 64, 42L + b))
    }: _*)
    val fused = Similarity.rpSignatureBands(vd, bands = 8, bitsPerBand = 4,
      dim = 64, seed = 42L)
    val diff = emb.select(col("vec_id"), declared.as("a"), fused.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("tripletMining: hardest positive and negative match the exact " +
      "all-pairs argmax per anchor") {
    // exact ground truth via the broadcast-anchor exact path: top-1
    // cross-label from hardNegatives, top-1 same-label by inverting labels
    // into a per-anchor id (cannot use hardNegatives for same-label), so
    // compute both driver-side from bruteForceTopK-style full scoring
    import spark.implicits._
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      val na = math.sqrt(a.indices.foldLeft(0.0)((s, i) => s + a(i) * a(i)))
      val nb = math.sqrt(b.indices.foldLeft(0.0)((s, i) => s + b(i) * b(i)))
      BigDecimal(d / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.map { case (id, v, l) =>
      def best(pred: ((Long, Array[Double], Int)) => Boolean) =
        rows.filter(r => r._1 != id && pred(r))
          .map(r => (r._1, cos(v, r._2)))
          .sortBy { case (nid, c) => (-c, nid) }.head
      val p = best(_._3 == l)
      val n = best(_._3 != l)
      id -> ((p._1, n._1, p._2, n._2))
    }.toMap
    val got = Similarity.tripletMining(emb, "vec_id", "embedding", "label",
      dim = 64).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got == expected)
    // label-block-sized positive pass (the corpus-scaled-bits recall fix):
    // with a NARROW 16×4 negative geometry the cross-label argmax may
    // occasionally land on a runner-up (the documented recall contract),
    // but the positive pass at its own wide per-(label, band, sig)
    // geometry must still find every exact hardest positive
    val got2 = Similarity.tripletMining(emb, "vec_id", "embedding", "label",
      dim = 64, bands = 16, bitsPerBand = 4,
      posBands = 32, posBitsPerBand = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3))))
      .toMap
    assert(got2.size == expected.size) // no anchor dropped
    assert(got2.forall { case (id, (pid, pc)) =>
      expected(id)._1 == pid && expected(id)._3 == pc })
  }

  test("hardNegativesAnnIncremental == one-shot over the accumulated " +
      "corpus (index artifact + prior + batch)") {
    val index = emb.filter(col("vec_id") < 350)
    val batch = emb.filter(col("vec_id") >= 350)
    val idxArt = Similarity.annIndex(index, "vec_id", "embedding",
      "label", dim = 64)
    val prior = Similarity.hardNegativesAnn(index, "vec_id", "embedding",
      "label", k = 3, dim = 64)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val inc = key(Similarity.hardNegativesAnnIncremental(idxArt, prior,
      batch, "vec_id", "embedding", "label", k = 3, dim = 64))
    val oneShot = key(Similarity.hardNegativesAnn(emb, "vec_id",
      "embedding", "label", k = 3, dim = 64))
    assert(inc == oneShot)
  }

  test("tripletMiningIncremental == one-shot over the accumulated corpus " +
      "(side-state prior + per-seed index artifacts)") {
    val index = emb.filter(col("vec_id") < 350)
    val batch = emb.filter(col("vec_id") >= 350)
    val seeds = Seq(42L, 1042L)
    val idxArts = seeds.map(sd => Similarity.annIndex(index, "vec_id",
      "embedding", "label", dim = 64, seed = sd))
    val (pp, pn) = Similarity.tripletMiningSides(index, "vec_id",
      "embedding", "label", dim = 64, seeds = seeds)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    val inc = key(Similarity.tripletMiningIncremental(idxArts, idxArts,
      pp, pn, batch, "vec_id", "embedding", "label", dim = 64,
      seeds = seeds))
    val oneShot = key(Similarity.tripletMining(emb, "vec_id", "embedding",
      "label", dim = 64, seeds = seeds))
    assert(inc == oneShot)
  }

  test("recall guard at the sf1-tier geometry: with the corpus at " +
      "autoBitsPerBand = 7 (9x7 negative banding), the label-block-sized " +
      "positive pass still finds the EXACT hardest positive for every " +
      "sampled anchor") {
    // the round-8 ADVICE concern: at 9 bands x 7 bits, a low-cosine
    // hardest positive's two-seed recall is ~0.4 — the fix is sizing the
    // positive geometry by the largest LABEL BLOCK (per-(lbl,band,sig)
    // bucketing), which this guard pins at a corpus big enough to resolve
    // the dangerous tier: 2000 sf0.1 vectors x 9 perturbed replicas with
    // per-replica labels = n 18000 (corpus bits 7) while every label
    // block stays ~200 (block bits = minBits 2 -> 32x2 positive banding)
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val reps = spark.range(9).select(col("id").cast("int").as("rep"))
    val big = base.crossJoin(reps).select(
      (col("vec_id") + col("rep").cast("long") * 100000L).as("vec_id"),
      (col("label") + col("rep") * 100).as("label"),
      transform(col("embedding"), (x, i) => x.cast("double") +
        pmod(hash(col("vec_id"), col("rep"), i), lit(1000)).cast("double")
          / 100000.0).as("embedding"))
      .localCheckpoint(true)
    val stats = big.groupBy(col("label")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")), max(col("c"))).first()
    assert(Similarity.autoBitsPerBand(stats.getLong(0), minBits = 2) == 7,
      s"corpus must sit at the 7-bit tier, n=${stats.getLong(0)}")
    assert(Similarity.autoBitsPerBand(stats.getLong(1), minBits = 2) == 2)
    val (pos, _) = Similarity.tripletMiningSides(big, "vec_id",
      "embedding", "label", dim = 64, bands = 9, bitsPerBand = 7,
      posBands = 32, posBitsPerBand = 2)
    val anchors = (0L until 25L).toSet
    val mined = pos.filter(col("query_id").isin(anchors.toSeq: _*))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // exact hardest positive per sampled anchor, same (cosine desc, id
    // asc) tie rule and 6-dp HALF_UP rounding as the miner
    val rows = big.collect().map(r => (r.getLong(0),
      r.getSeq[Double](2).toArray, r.getInt(1)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byAnchor = rows.filter(r => anchors(r._1)).map { case (id, v, l) =>
      val best = rows.filter(r => r._1 != id && r._3 == l)
        .map(r => (r._1, cos(v, r._2)))
        .minBy { case (nid, c) => (-c, nid) }
      id -> best
    }.toMap
    assert(mined.keySet == anchors, s"anchors dropped: ${anchors -- mined.keySet}")
    anchors.foreach { a =>
      assert(mined(a) == byAnchor(a),
        s"anchor $a: mined ${mined(a)} != exact ${byAnchor(a)}")
    }
  }

  test("\"fetch\" verify == \"injoin\" verify (pair set AND cosines), " +
      "one-shot and incremental, fused and per-mode geometries") {
    // the two verify placements differ ONLY in where the exact cosine is
    // computed (inside the bucket join vs after an id-keyed vector
    // fetch); the pair sets and rounded cosines must be identical
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    def mine() = key(Similarity.tripletMining(emb, "vec_id", "embedding",
      "label", dim = 64))
    def mineSplit() = key(Similarity.tripletMining(emb, "vec_id",
      "embedding", "label", dim = 64, bands = 16, bitsPerBand = 4,
      posBands = 32, posBitsPerBand = 2))
    def mineInc() = {
      val index = emb.filter(col("vec_id") < 350)
      val batch = emb.filter(col("vec_id") >= 350)
      val seeds = Seq(42L, 1042L)
      val idxArts = seeds.map(sd => Similarity.annIndex(index, "vec_id",
        "embedding", "label", dim = 64, seed = sd))
      val (pp, pn) = Similarity.tripletMiningSides(index, "vec_id",
        "embedding", "label", dim = 64, seeds = seeds)
      key(Similarity.tripletMiningIncremental(idxArts, idxArts,
        pp, pn, batch, "vec_id", "embedding", "label", dim = 64,
        seeds = seeds))
    }
    val (inj, injSplit, injInc) = (mine(), mineSplit(), mineInc())
    spark.conf.set(Similarity.VerifyModeKey, "fetch")
    try {
      assert(mine() == inj)
      assert(mineSplit() == injSplit)
      assert(mineInc() == injInc)
    } finally spark.conf.unset(Similarity.VerifyModeKey)
  }

  test("fused both-modes scored == separate per-mode scored, with caps " +
      "forcing both join-group regimes") {
    val (bands, bits) = (4, 3)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Materialize.run { pin =>
      val v = pin(emb.select(col("vec_id").as("id"), col("label").as("lbl"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.norm(col("v"))))
      // 4 bands × 3 bits over 500 vectors → buckets average ~62 rows,
      // label blocks ~6: cap 80 leaves some buckets under the TOTAL cap
      // and some over it with every label block under — both regimes of
      // the fused group key are live (asserted below, so the spec can't
      // rot silently)
      val s = Similarity.bandSigFrame(v, pin, dim = 64, bands, bits,
        seed = 7L)
      val sizes = s.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("b"),
          max(col("lbl")).as("ignore")) // keep shape simple
        .select(col("b")).collect().map(_.getLong(0))
      assert(sizes.exists(_ <= 80) && sizes.exists(_ > 80),
        s"cap 80 must split the bucket population: ${sizes.sorted.toSeq}")
      for (cap <- Seq(80, 20000)) {
        val fused = pin(Similarity.annLabelScoredBothFromSigs(s, bands, bits,
          cap))
        val posSep = key(Similarity.annLabelScoredFromSigs(s,
          sameLabel = true, bands, bits, cap))
        val negSep = key(Similarity.annLabelScoredFromSigs(s,
          sameLabel = false, bands, bits, cap))
        assert(key(fused.filter(col("__same")).drop("__same")) == posSep,
          s"pos mode diverges at cap=$cap")
        assert(key(fused.filter(!col("__same")).drop("__same")) == negSep,
          s"neg mode diverges at cap=$cap")
      }
    }
    // the incremental twin under the same mixed-cap regime: window-count
    // populations over the pruned union must match the separate paths'
    // agg-over-touched-buckets populations in both cap regimes
    val index = emb.filter(col("vec_id") < 350)
    val batch = emb.filter(col("vec_id") >= 350)
    val ia = Similarity.annIndex(index, "vec_id", "embedding", "label",
      dim = 64, bands, bits, seed = 7L).localCheckpoint(true)
    Materialize.run { pin =>
      val ba = pin(Similarity.annIndex(batch, "vec_id", "embedding", "label",
        dim = 64, bands, bits, seed = 7L))
      for (cap <- Seq(80, 20000)) {
        val t = pin(
          Similarity.annIncrementalScoredBoth(ia, ba, pin, bands, bits, cap))
        val posSep = Similarity.annIncrementalScored(ia, ba, pin,
          sameLabel = true, bands, bits, cap)
        val negSep = Similarity.annIncrementalScored(ia, ba, pin,
          sameLabel = false, bands, bits, cap)
        assert(key(t.filter(col("__same")).drop("__same")) == key(posSep),
          s"incremental pos mode diverges at cap=$cap")
        assert(key(t.filter(!col("__same")).drop("__same")) == key(negSep),
          s"incremental neg mode diverges at cap=$cap")
      }
    }
  }

  test("ivfTopKFromIndex over a written cell-partitioned artifact == " +
      "direct ivfTopK") {
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivft").toString
    Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(key(Similarity.ivfTopKFromIndex(spark.read.parquet(dir),
        queries, "vec_id", "embedding", k = 10, cents, nprobe = 2)) ==
      key(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 10,
        cents, nprobe = 2)))
  }

  test("from-index mining == corpus mining (hard negatives and triplet " +
      "sides read the persisted artifact, no re-hash)") {
    val idxArt = Similarity.annIndex(emb, "vec_id", "embedding", "label",
      dim = 64).localCheckpoint(true)
    def key3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(key3(Similarity.hardNegativesAnnFromIndex(idxArt, k = 3)) ==
      key3(Similarity.hardNegativesAnn(emb, "vec_id", "embedding", "label",
        k = 3, dim = 64)))
    val seeds = Seq(42L, 1042L)
    val arts = seeds.map(sd => Similarity.annIndex(emb, "vec_id",
      "embedding", "label", dim = 64, seed = sd).localCheckpoint(true))
    val (fp, fn) = Similarity.tripletMiningSidesFromIndexes(arts, arts)
    val (cp, cn) = Similarity.tripletMiningSides(emb, "vec_id", "embedding",
      "label", dim = 64, seeds = seeds)
    def key2(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(key2(fp) == key2(cp) && key2(fn) == key2(cn))
  }

  test("dimensionStats: exact integer stats, dead dimension flagged") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, 1.0f, -0.25f)),
      (2L, Seq(-0.5f, 1.0f, 0.75f))).toDF("vec_id", "embedding")
    val out = Similarity.dimensionStats(df, "embedding").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    val m = 1048576L
    assert(out(0L) == ((2L, -m / 2, m / 2, 0L, false)))
    assert(out(1L) == ((2L, m, m, 2 * m, true))) // constant: dead
    assert(out(2L) == ((2L, -m / 4, 3 * m / 4, m / 2, false)))
  }

  test("embeddingGram == brute-force scaled X^T X, upper triangle only") {
    import spark.implicits._
    val vecs = Seq(
      Seq(0.5f, -1.0f, 0.25f),
      Seq(-0.75f, 0.5f, 1.0f),
      Seq(0.0f, 0.125f, -0.5f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingGram(df, "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val m = 1048576.0
    val scaled = vecs.map(_.map(x => math.floor(x.toDouble * m).toLong))
    val want = (for {
      i <- 0 until 3; j <- i until 3
    } yield (i.toLong, j.toLong) ->
      ((3L, scaled.map(s => s(i) * s(j)).sum))).toMap
    assert(got == want)
    assert(got.size == 3 * 4 / 2) // d(d+1)/2 — no lower-triangle twins
    // covariance consistency with dimensionStats: cov(i,j) derives from
    // sum_prod and the per-dim sums with pure integer inputs
    val sums = Similarity.dimensionStats(df, "embedding").collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val cov01 = got((0L, 1L))._2.toDouble / 3 -
      (sums(0L).toDouble / 3) * (sums(1L).toDouble / 3)
    val exact01 = scaled.map(s => s(0) * s(1)).sum / 3.0 -
      scaled.map(_(0)).sum / 3.0 * (scaled.map(_(1)).sum / 3.0)
    assert(math.abs(cov01 - exact01) < 1e-9)
    // null/empty vectors are excluded, not phantom-dim'd; short vectors
    // are rejected by jlProject rather than nulled
    val dirty = Seq((1L, Seq(1.0f, 2.0f)), (2L, null), (3L, Seq.empty[Float]))
      .toDF("vec_id", "embedding")
    assert(Similarity.embeddingGram(dirty, "embedding").collect()
      .forall(r => r.getLong(0) >= 0 && r.getLong(2) == 1L))
    assert(Similarity.jlProject(dirty, "vec_id", "embedding",
      dim = 2, outDim = 4).select("vec_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("jlProject: brute-force equality and JL distance preservation") {
    import spark.implicits._
    // brute force on a tiny input: recompute signs from the portable md5
    // definition (first 15 hex chars of md5("j:i"), parity -> +/-1)
    def sgn(j: Int, i: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1L else -1L
    }
    val vecs = Seq(Seq(0.5f, -1.0f, 0.25f), Seq(-0.75f, 0.5f, 1.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.jlProject(df, "vec_id", "embedding",
        dim = 3, outDim = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val m = 1048576.0
    val scaled = vecs.map(_.map(x => math.floor(x.toDouble * m).toLong))
    for (id <- 0 until 2; j <- 0 until 2)
      assert(got((id.toLong, j.toLong)) ==
        (0 until 3).map(i => scaled(id)(i) * sgn(j, i)).sum)
    // JL property: on random 64-dim vectors projected to 32, pairwise
    // squared distances are preserved in expectation — check the
    // empirical distortion of each pair stays within a loose (1 +/- 0.9)
    // band after the 1/outDim normalization (sign JL per Achlioptas 2001)
    val rnd = new scala.util.Random(5)
    val rv = Seq.fill(12)(Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    val rdf = rv.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val proj = Similarity.jlProject(rdf, "vec_id", "embedding",
        dim = 64, outDim = 32).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2).toDouble / m))
      .toMap
    val sv = rv.map(_.map(x => math.floor(x.toDouble * m) / m))
    for (a <- 0 until 12; b <- (a + 1) until 12) {
      val d2 = sv(a).zip(sv(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      val p2 = proj(a.toLong).zip(proj(b.toLong))
        .map { case (x, y) => (x - y) * (x - y) }.sum / 32.0
      assert(p2 > 0.1 * d2 && p2 < 1.9 * d2, s"pair($a,$b): $p2 vs $d2")
    }
  }

  test("gramTopEigenShare: isotropic ~ 1/d, collapsed -> 1") {
    import spark.implicits._
    // collapsed: every vector is a multiple of (1, 1) — all energy on one
    // eigenvector, share = 1 (within power-iteration tolerance)
    val collapsed = (1 to 8).map(i => (i.toLong, Seq(i * 0.1f, i * 0.1f)))
      .toDF("vec_id", "embedding")
    val cShare = Similarity.gramTopEigenShare(
      Similarity.embeddingGram(collapsed, "embedding"))
    assert(cShare > 0.999, s"collapsed share=$cShare")
    // isotropic-ish: axis-aligned unit vectors in alternation — equal
    // diagonal, zero cross terms, share = 1/2 exactly for d=2
    val iso = (1 to 8).map(i => (i.toLong,
      if (i % 2 == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val iShare = Similarity.gramTopEigenShare(
      Similarity.embeddingGram(iso, "embedding"))
    assert(math.abs(iShare - 0.5) < 1e-6, s"isotropic share=$iShare")
  }

  test("annIndexRemove: takedown == an index that never held the rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val emb = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val art = Similarity.annIndex(emb, "vec_id", "embedding", "label",
      dim = 16, bands = 8, bitsPerBand = 2)
    val removals = emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    val pruned = Similarity.annIndexRemove(art, removals, "vec_id")
    val never = Similarity.annIndex(emb.filter(col("vec_id") % 4 =!= 0),
      "vec_id", "embedding", "label", dim = 16, bands = 8, bitsPerBand = 2)
    def mine(a: org.apache.spark.sql.DataFrame) =
      Similarity.hardNegativesAnnFromIndex(a, k = 2,
        bands = 8, bitsPerBand = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    assert(mine(pruned) == mine(never))
    // removed ids appear neither as anchors nor as candidates
    val ids = mine(pruned).flatMap(t => Seq(t._1, t._2))
    assert(ids.forall(_ % 4 != 0) && ids.nonEmpty)
    // duplicate removal rows are harmless (distinct inside the operator)
    val twice = Similarity.annIndexRemove(art,
      removals.union(removals), "vec_id")
    assert(twice.count() == pruned.count())
  }

  test("kCenterSelect stops early when k exceeds the distinct-point count") {
    import spark.implicits._
    val tiny = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(3.0f, 4.0f)),
      (3L, Seq(0.0f, 0.0f))) // duplicate of 1
      .toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(tiny, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // 2 distinct points: the seed, the far point, then radius 0 → stop
    // (no duplicate re-picks padding out to k)
    assert(out.toSeq == Seq((0, 1L, 0L), (1, 2L, 25000000L)))
    // non-numeric id column is rejected, not silently nulled
    val bad = Seq(("a", Seq(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kCenterSelect(bad, "vec_id", "embedding", k = 2)
    }
  }

  test("retrievalMetrics: MRR / hit-rate / precision@k by hand") {
    import spark.implicits._
    // q1: first relevant at rank 2, 2 relevant in top-3
    // q2: no relevant in top-3
    val results = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val relevance = Seq((1L, 11L), (1L, 12L), (2L, 99L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.retrievalMetrics(results, relevance, k = 3)
      .collect().head
    assert(r.getLong(0) == 2L)                       // n_queries
    assert(r.getLong(1) == (500000L + 0L) / 2)       // mrr: (1e6/2 + 0)/2
    assert(r.getLong(2) == 500000L)                  // hit rate 1/2
    assert(r.getLong(3) == (666666L + 0L) / 2)       // p@3: (2e6/3 + 0)/2
  }

  test("retrievalMetrics: relevance-only queries score 0; duplicate " +
    "ground-truth pairs don't inflate precision") {
    import spark.implicits._
    val results = Seq((1L, 10L, 1), (1L, 11L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    // q1's (1,10) pair appears TWICE in relevance; q3 was never retrieved
    val relevance = Seq((1L, 10L), (1L, 10L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.retrievalMetrics(results, relevance, k = 2)
      .collect().head
    assert(r.getLong(0) == 2L)             // q1 + the unretrieved q3
    assert(r.getLong(1) == 1000000L / 2)   // mrr: (1e6/1 + 0)/2
    assert(r.getLong(2) == 500000L)        // hit rate 1/2
    assert(r.getLong(3) == 250000L)        // p@2: (1e6*1/2 + 0)/2, not 2/2
  }

  test("recallAtK: identical frames score 1e6 ppm, misses subtract") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val full = Similarity.recallAtK(exact, exact)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(full == Map(1L -> 1000000L, 2L -> 1000000L))
    val approx = Seq((1L, 10L), (1L, 99L), (1L, 12L), (2L, 98L), (2L, 97L))
      .toDF("query_id", "neighbor_id")
    val part = Similarity.recallAtK(exact, approx)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(part(1L) == ((3L, 2L, 666666L)))
    assert(part(2L) == ((2L, 0L, 0L)))
  }

  test("centroidOutliers: exact sum-centroid, scale invariant, flags") {
    import spark.implicits._
    val e = Seq(
      (1L, Seq(2.0f, 0.0f), 7),
      (2L, Seq(0.0f, 2.0f), 7),
      (3L, Seq(-1.0f, -1.0f), 7), // anti-aligned with the (1,1) centroid
      (4L, Seq(3.0f, 0.0f), 8)    // singleton group: cosine 1 to itself
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidOutliers(e, "vec_id", "embedding", "label",
        threshold = 0.0)
      .collect()
      .map(x => x.getLong(0) -> ((x.getDouble(2), x.getBoolean(3)))).toMap
    // group-7 sums: (2+0-1, 0+2-1)·2^20 -> direction (1,1)
    assert(r(1L) == ((0.707107, false)))
    assert(r(2L) == ((0.707107, false)))
    assert(r(3L) == ((-1.0, true)))
    assert(r(4L) == ((1.0, false)))
    // cosine is invariant under scaling every vector of the group
    val scaled = e.withColumn("embedding",
      transform(col("embedding"), x => x * lit(4.0f)))
    val r2 = Similarity.centroidOutliers(scaled, "vec_id", "embedding",
        "label", threshold = 0.0)
      .collect()
      .map(x => x.getLong(0) -> ((x.getDouble(2), x.getBoolean(3)))).toMap
    assert(r2 == r)
  }

  test("sq8Codes: codes in [0,255], grid extremes map to 0 and 255") {
    val grid = Similarity.sq8Grid(emb, "embedding")
    val codes = Similarity.sq8Codes(emb, "vec_id", "embedding", grid)
      .select(explode(col("code")).as("c")).collect().map(_.getInt(0))
    assert(codes.min >= 0 && codes.max <= 255)
    // every dimension's min maps to 0 and max to 255 somewhere
    assert(codes.contains(0) && codes.contains(255))
  }

  test("sq8TopK: shape + high recall vs exact cosine top-10") {
    val out = Similarity.sq8TopK(emb, queries, "vec_id", "embedding", 10)
      .collect()
    assert(out.length == 5 * 10)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
    }
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    // 8-bit quantization error barely perturbs a cosine ranking
    assert(recall >= 0.8, s"recall $recall")
  }

  test("kCenterSelect: seed is min id, radii non-increasing, greedy argmax") {
    val out = Similarity.kCenterSelect(emb, "vec_id", "embedding", 6)
      .orderBy(col("sel_order")).collect()
    assert(out.length == 6)
    assert(out.head.getAs[Int]("sel_order") == 0)
    assert(out.head.getAs[Long]("vec_id") ==
      emb.agg(min(col("vec_id"))).head().getLong(0))
    assert(out.head.getAs[Long]("dist_micro") == 0L)
    val radii = out.tail.map(_.getAs[Long]("dist_micro"))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"radii not non-increasing: ${radii.toSeq}")
    // round 1 must pick the single point farthest from the seed
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val seed = vecs.minBy(_._1)._2
    def sqd(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val far = vecs.maxBy { case (id, v) => (sqd(seed, v), -id) }._1
    assert(out(1).getAs[Long]("vec_id") == far)
  }

  test("recallAtK: duplicate approx rows (sharded top-k unions) do not " +
      "fan out the join") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 10L), (1L, 99L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(exact, approx).collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L &&
      r.getLong(3) == 500000L, r.toString)
  }

  test("NaN cosine (corrupt coordinate / zero-norm vector) never wins: " +
      "null-guarded out of thresholds and rankings") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), "x"),
      (2L, Array(0.9f, 0.1f), "x"),
      (3L, Array(Float.NaN, 1.0f), "x"), // corrupt encoder output
      (4L, Array(0.0f, 0.0f), "x")       // zero norm: 0/0 = NaN
    ).toDF("vec_id", "embedding", "label")
    // brute-force top-k: the NaN/zero vectors must not outrank real ones
    val top = Similarity.bruteForceTopK(corpus,
        corpus.filter(col("vec_id") === 1L), "vec_id", "embedding", k = 1)
      .collect().head
    assert(top.getAs[Long]("neighbor_id") == 2L,
      s"NaN vector won the ranking: $top")
    // SRP-LSH near-dup pairs: NaN cosines fail the threshold gate
    val pairs = Similarity.rpLshNearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.5, bands = 2, bitsPerBand = 2, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L)) },
      s"corrupt vector emitted as near-dup: ${pairs.mkString(",")}")
  }

  test("pqTopK works on non-zero-based id spaces (codebook = first k by " +
      "id order, not id < k)") {
    import spark.implicits._
    val base = emb.select((col("vec_id") + 10000L).as("vec_id"),
      col("embedding"))
    val q = base.filter(col("vec_id") < 10005L)
    val r = Similarity.pqTopK(base, q, "vec_id", "embedding", 5)
    assert(r.count() == 25L, "offset ids must still yield full top-k")
    // identical geometry to the 0-based corpus: same neighbors modulo the
    // id shift (codebook entries are the same first-16 vectors)
    val r0 = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5L),
      "vec_id", "embedding", 5)
      .collect().map(x => (x.getLong(0) + 10000L, x.getLong(1) + 10000L,
        x.getLong(2), x.getInt(3))).toSet
    val rS = r.collect().map(x => (x.getLong(0), x.getLong(1),
      x.getLong(2), x.getInt(3))).toSet
    assert(rS == r0)
  }
}
