package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operator semantics on crafted fixtures + LSH-vs-brute-force
  * equivalence on the real documents table. */
class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today", "a"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today", "a"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog again and again tomorrow", "a"), // near dup
      (4L, "completely different content about spark query engines and shuffles", "a"),
      (5L, "", "b"), // empty text: no shingles
      (6L, "short text", "b")
    ).toDF("doc_id", "text", "source")
  }

  test("exact dedup groups identical texts, canonical = min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 5)
    val dup = out.filter(col("n_copies") === 2).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("canonical_id") == 1L)
  }

  test("ngram jaccard finds exact and near dups, skips shingle-less docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 5, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(pairs.contains((2L, 3L)))
    assert(pairs.size == 3) // doc 4 matches nothing; 5/6 have no 5-shingles
  }

  test("minhash LSH pairs == brute force pairs on the documents table at threshold 0.5") {
    val real = spark.read.parquet(s"$sf001/documents.parquet")
    val lsh = Dedup.minhashLshPairs(real, "doc_id", "text", 5, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Dedup.ngramJaccardPairs(
      real.withColumn("all", lit(1)), "doc_id", "text", "all", 5, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == brute, s"LSH ${lsh.size} vs brute ${brute.size}")
    assert(lsh.nonEmpty)
  }

  test("simhash: identical docs share fingerprints; unrelated docs differ") {
    val out = Dedup.simhashDocs(docs.filter(col("doc_id") =!= 5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(4L))
    // near-dup docs should be close in hamming distance
    val ham = java.lang.Long.bitCount(out(1L) ^ out(3L))
    assert(ham <= 8, s"hamming distance $ham")
  }

  test("simhashNearDupPairs == brute-force hamming pairs (pigeonhole recall exact at <= bands-1)") {
    val maxHamming = 3
    val lsh = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      bands = 4, maxHamming = maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val h = Dedup.simhashDocs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i1, h1) <- h; (i2, h2) <- h if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= maxHamming
    } yield (i1, i2, d)).toSet
    assert(lsh == brute, s"banded ${lsh.size} vs brute ${brute.size}")
    assert(lsh.nonEmpty) // fixture has exact dups (hamming 0)
  }

  test("simhashDocs64 == reference 64-bit tokenize/md5/bit-vote") {
    // independent Scala reference: trim/split \s+, first 8 md5 bytes as
    // BE u64, ±1 vote per bit, bit set iff sum > 0 (== the DuckDB twin)
    def ref(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sums = new Array[Long](64)
      text.trim.split("\\s+").foreach { tok =>
        val d = md.digest(tok.getBytes("UTF-8"))
        val h = (0 until 8).foldLeft(0L)((v, i) => (v << 8) | (d(i) & 0xffL))
        (0 until 64).foreach(j => sums(j) += ((h >>> j) & 1L) * 2L - 1L)
      }
      (0 until 64).foldLeft(0L)((fp, j) =>
        if (sums(j) > 0) fp | (1L << j) else fp)
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Dedup.simhashDocs64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == texts.map { case (id, tx) => id -> ref(tx) })
    // the fixture's sign-bit coverage: at least one fingerprint negative
    // (bit 63 set) so the signed two's complement path is exercised
    assert(out.values.exists(_ < 0L), "no fingerprint exercised bit 63")
  }

  test("simhashNearDupPairs64 == brute-force hamming (pigeonhole exact), " +
      "wider sigs emit no spurious bucket pairs") {
    val maxHamming = 3
    val lsh = Dedup.simhashNearDupPairs64(docs, "doc_id", "text",
      bands = Dedup.simhash64BandsFor(maxHamming), maxHamming = maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val h = Dedup.simhashDocs64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i1, h1) <- h; (i2, h2) <- h if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= maxHamming
    } yield (i1, i2, d)).toSet
    assert(lsh == brute, s"banded ${lsh.size} vs brute ${brute.size}")
    assert(lsh.nonEmpty) // fixture has exact dups (hamming 0)
  }

  test("simhash64BandsFor: fewest bands honoring the pigeonhole contract") {
    assert(Dedup.simhash64BandsFor(0) == 1)
    assert(Dedup.simhash64BandsFor(1) == 2)
    assert(Dedup.simhash64BandsFor(3) == 4)
    assert(Dedup.simhash64BandsFor(4) == 8)
    assert(Dedup.simhash64BandsFor(7) == 8)
    assert(Dedup.simhash64BandsFor(15) == 16)
    intercept[IllegalArgumentException](Dedup.simhash64BandsFor(16))
  }

  test("embeddingNearDupPairs routes oversized blocks through " +
      "within-block SRP-LSH: routed == exact on a crafted hot block") {
    import spark.implicits._
    // deterministic ±1 64-dim vectors: random cosines concentrate near 0,
    // planted near-dups flip ONE entry (cosine 62/64 ≈ 0.969 ≥ 0.9)
    def sign(base: Long, j: Int): Float =
      if ((java.lang.Long.bitCount(
        (base + 1) * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL) & 1) == 0)
        1.0f else -1.0f
    def vec(base: Long, flip: Int): Seq[Float] =
      (0 until 64).map(j =>
        if (j == flip) -sign(base, j) else sign(base, j))
    val hot = (0L until 60L).flatMap { b =>
      Seq((b, vec(b, -1), "hot"), (100L + b, vec(b, (b % 64).toInt), "hot"))
    }
    val cold = (200L until 210L).map(i => (i, vec(i, -1), "cold")) :+
      ((300L, vec(200L, 7), "cold")) // one planted pair in the exact path
    val df = (hot ++ cold).toDF("vec_id", "embedding", "label")
    def run(maxExact: Int) = Dedup.embeddingNearDupPairs(df,
      "vec_id", "embedding", "label", threshold = 0.9,
      maxExactBlock = maxExact, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = run(10000) // hot block (120) under threshold: all-exact
    val routed = run(50)   // hot block routed through within-block LSH
    assert(exact.size >= 61) // 60 planted hot pairs + 1 cold pair
    assert(routed == exact)
    // the cold planted pair came from the exact branch either way
    assert(routed.exists { case (a, b, _) => a == 200L && b == 300L })
  }

  test("clusterPairsStar == clusterPairs on adversarial graph shapes") {
    import spark.implicits._
    // long chain (diameter stress), star, two triangles bridged, isolated
    // pair, and a random graph — label propagation and the alternating
    // star rounds must agree everywhere
    val chain = (1L until 30L).map(i => (i, i + 1))
    val star = (101L to 110L).map(i => (100L, i))
    val tri = Seq((200L, 201L), (201L, 202L), (202L, 200L),
      (300L, 301L), (301L, 302L), (302L, 300L), (202L, 300L))
    val pair = Seq((400L, 401L))
    val rnd = new scala.util.Random(20260813L)
    val rand = (1 to 60).map(_ =>
      (500L + rnd.nextInt(40), 500L + rnd.nextInt(40)))
      .filter(e => e._1 != e._2)
    val pairs = (chain ++ star ++ tri ++ pair ++ rand)
      .toDF("id_1", "id_2")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaProp = collect(Dedup.clusterPairs(pairs, maxIter = 100))
    val viaStar = collect(Dedup.clusterPairsStar(pairs))
    assert(viaStar == viaProp)
    // sanity: the chain collapses to a single root
    assert(viaStar.filter(_._1 <= 30L).forall(_._2 == 1L))
  }

  test("editNeighborPairs == brute-force levenshtein <= 1 (FastSS complete)") {
    import spark.implicits._
    val names = Seq("abc", "abd", "ab", "abcd", "xyz", "xxyz", "q", "", "qq")
    val got = Dedup.editNeighborPairs(names.toDF("s"), "s")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 1
    } yield (a, b, d)).toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(got((("abc", "abd", 1))))   // substitution
    assert(got((("ab", "abc", 1))))    // insertion
    assert(got((("", "q", 1))))        // empty-string edge
  }

  test("exactKeepBest keeps the highest-scoring copy, tie lowest id") {
    import spark.implicits._
    val d = Seq(
      (1L, "same text", 5L), (2L, "same text", 9L), (3L, "same text", 9L),
      (4L, "other", 1L)
    ).toDF("doc_id", "text", "score")
    val r = Dedup.exactKeepBest(d, "doc_id", "text", "score")
      .collect()
      .map(x => x.getLong(3) -> ((x.getLong(1), x.getLong(2)))).toMap
    // triple: best score 9, ids {2, 3} tie -> 2; singleton passes through
    assert(r(3L) == ((2L, 9L)))
    assert(r(1L) == ((4L, 1L)))
    // canonical policy differs from min-id exactly when scores disagree
    val minId = Dedup.exact(d, "doc_id", "text")
      .collect().map(x => x.getLong(2) -> x.getLong(1)).toMap
    assert(minId(3L) == 1L && r(3L)._1 == 2L)
  }

  test("incrementalLshMatches finds cross-batch dups only, never index-index pairs") {
    val index = docs.filter(col("doc_id") =!= 2L)
    val batch = docs.filter(col("doc_id") === 2L) // exact dup of index doc 1
    val out = Dedup.incrementalLshMatches(index, batch, "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .collect()
    // doc 2 matches 1 (jaccard 1.0) and 3 (near dup above 0.5)
    val m = out.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out.forall(_.getLong(0) == 2L))
    assert(m(1L) == 1.0)
    assert(m.contains(3L) && m(3L) >= 0.5 && m(3L) < 1.0)
    // an empty batch yields no matches (and doesn't throw)
    val none = Dedup.incrementalLshMatches(index,
      batch.filter(col("doc_id") < 0), "doc_id", "text", 5, 16, 4, 0.5)
    assert(none.count() == 0)
  }

  test("incrementalLshMatches under streaming ingest (foreachBatch) == one batch call") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val index = docs.filter(col("doc_id") =!= 2L)
    val arrivals = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (7L, "entirely novel arrival with no duplicate anywhere in the corpus"),
      (8L, "the quick brown fox jumps over the lazy dog again and again tomorrow"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        buf ++= Dedup.incrementalLshMatches(index, batch, "doc_id", "text",
          5, 16, 4, 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
        () // Unit: keep the Scala-2.13 foreachBatch overload unambiguous
      }
      .start()
    try {
      mem.addData(arrivals(0)); q.processAllAvailable()
      mem.addData(arrivals(1), arrivals(2)); q.processAllAvailable()
    } finally q.stop()
    val oneShot = Dedup.incrementalLshMatches(index,
        arrivals.toDF("doc_id", "text"), "doc_id", "text", 5, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(buf.toSet == oneShot.toSet)
    assert(buf.map(_._1).toSet == Set(2L, 8L)) // 7 matched nothing
  }

  test("minhashCalibration: identical docs estimate 1.0; estimate tracks exact jaccard") {
    val out = Dedup.minhashCalibration(docs, "doc_id", "text",
        n = 5, bands = 8, rowsPerBand = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // exact dup pair (1,2): all 32 signature positions agree
    assert(out((1L, 2L)) == ((1000000L, 1.0)))
    // near-dup pairs estimate within 25 points of exact (32-hash granularity)
    out.foreach { case (_, (est, ex)) =>
      assert(math.abs(est / 1000000.0 - ex) <= 0.25,
        s"estimate $est vs exact $ex")
    }
  }

  test("q180 corpus never hits the incremental-LSH bucket cap (no silent shed)") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val sizes = Dedup.bucketSizes(Dedup.minhashRows(
      Dedup.lshIndex(d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4), bands = 16, rowsPerBand = 4))
    val maxBucket = sizes.agg(max(col("bucket_size"))).first().getLong(0)
    // the q180 oracle is an exact all-pairs join that does not model the
    // cap: this pins that nothing is shed on the gate corpus, so the cap
    // cannot silently diverge the gate
    assert(maxBucket < 1000L, s"bucket of $maxBucket would be shed")
  }

  test("nearDupKeepBest: per-component argmax score, ties to lowest id, " +
      "singletons keep themselves") {
    import spark.implicits._
    val d = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 4L), (9L, 4L), (4L, 1L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_1", "id_2")
    val out = Dedup.nearDupKeepBest(d, "doc_id", pairs, "score")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cluster {1,2,3}: max score 9 held by 2 and 3 -> lowest id 2 wins
    assert(out(1L) == ((2L, 9L, 3L)))
    // cluster {7,9}: tie at 4 -> id 7
    assert(out(7L) == ((7L, 4L, 2L)))
    // singleton keeps itself
    assert(out(4L) == ((4L, 1L, 1L)))
    assert(out.size == 3)
  }

  test("nearDupKeepBest: a NULL score ranks LAST, never beats a real " +
      "score; an all-null cluster keeps the lowest id with kept_score " +
      "null") {
    import spark.implicits._
    // struct-min orders NULL fields first ascending, so a raw -score key
    // let a null-score member win its component (round-8 ADVICE)
    val d = Seq((1L, Some(5L)), (2L, None), (3L, Some(9L)),
      (7L, None), (9L, None)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_1", "id_2")
    val out = Dedup.nearDupKeepBest(d, "doc_id", pairs, "score")
      .collect().map { r =>
        r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
      }.toMap
    // cluster {1,2,3}: real max 9 (id 3) beats the null-score member 2
    assert(out(1L) == ((3L, Some(9L), 3L)))
    // all-null cluster {7,9}: lowest id kept, score reported as null
    assert(out(7L) == ((7L, None, 2L)))
  }

  test("softDedupWeights: weight = 1e6 div cluster size, singletons 1e6, " +
      "cluster mass ≈ one document") {
    import spark.implicits._
    val d = (1L to 20L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    // one 3-cluster (1-2-3 via chain) and one 2-cluster (7,9)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_1", "id_2")
    val out = Dedup.softDedupWeights(d, "doc_id", pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 20)
    Seq(1L, 2L, 3L).foreach(i => assert(out(i) == ((1L, 3L, 333333L))))
    Seq(7L, 9L).foreach(i => assert(out(i) == ((7L, 2L, 500000L))))
    assert(out(4L) == ((4L, 1L, 1000000L))) // singleton keeps full weight
    // per-cluster weight mass never exceeds 1e6 and is within one
    // truncation step of it
    val mass = out.values.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toMap
    mass.foreach { case (ck, s) =>
      assert(s <= 1000000L && s > 1000000L - out.size,
        s"cluster $ck mass $s")
    }
    // empty pair set: everything a singleton at full weight
    val none = Dedup.softDedupWeights(d, "doc_id",
        Seq.empty[(Long, Long)].toDF("id_1", "id_2"))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(none == Set((1L, 1000000L)))
  }

  test("incrementalHammingMatches: split-equals-whole — index-internal " +
      "+ batch-internal + cross probes reproduce the one-shot pair set " +
      "exactly, so admission order never changes the result") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // 12 base prints plus near-dup copies at <=3 flipped bits
    val base = (1L to 12L).map(i => i -> rnd.nextLong())
    val copies = base.take(5).zipWithIndex.map { case ((i, h), k) =>
      val flips = (0 to k % 4).map(_ => 1L << rnd.nextInt(64))
        .foldLeft(0L)(_ | _)
      (i + 100L) -> (h ^ flips)
    }
    val all = (base ++ copies).toDF("id", "h")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b), r.getInt(2))
      }.toSet
    val whole = canon(Dedup.hammingNearDupPairs(all, "id", "h",
      bands = 4, maxHamming = 3))
    val idxSide = all.where(col("id") % 2 === 0)
    val batSide = all.where(col("id") % 2 =!= 0)
    val split =
      canon(Dedup.hammingNearDupPairs(idxSide, "id", "h", 4, 3)) ++
      canon(Dedup.hammingNearDupPairs(batSide, "id", "h", 4, 3)) ++
      canon(Dedup.incrementalHammingMatches(
        Dedup.hammingIndex(idxSide, "id", "h", 4), batSide, "id", "h",
        bands = 4, maxHamming = 3))
    assert(split == whole && whole.nonEmpty)
  }

  test("planted mega-bucket: a constant fingerprint population is shed " +
      "inside the capped bucket aggregate — no collect_list, every bucket " +
      "aggregate a CappedCollect at the pass's cap, so the degenerate " +
      "bucket never buffers, and under-cap pairs are unaffected") {
    import spark.implicits._
    // 500 blank-image prints (dHash = 0: every band sig collides) + one
    // genuine near-dup pair in its own bucket
    val h1 = 0x123456789abcdef0L
    val rows = (1L to 500L).map(i => (i, 0L)) ++
      Seq((1001L, h1), (1002L, h1 ^ 1L))
    val df = rows.toDF("id", "h")
    val out = Dedup.hammingNearDupPairs(df, "id", "h",
      bands = 4, maxHamming = 3, maxBucketSize = 100)
    // functional: only the under-cap pair survives; the zero bucket
    // (4 bands x 500 members, all over cap) contributes nothing
    val got = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1001L, 1002L, 1)))
    // structural: no collect_list anywhere in the plan, and EVERY bucket
    // aggregate is a CappedCollect at the pass's cap — the aggregate whose
    // buffer keeps only a count past the cap, the property that bounds
    // the aggregation buffer itself, not just downstream fan-out
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList}
    import graft.functions.expressions.CappedCollect
    val fns = out.queryExecution.optimizedPlan.flatMap(_.expressions
      .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction }))
    assert(!fns.exists(_.isInstanceOf[CollectList]),
      "a collect_list buffers a bucket without the cap")
    val caps = fns.collect { case c: CappedCollect => c.maxSize }
    assert(caps.nonEmpty && caps.forall(_ == 100L), s"bucket caps $caps")
    // and the same shed set stays result-identical to the historical
    // post-collect filter on a NON-degenerate input: cap high enough to
    // keep everything == brute force over all prints
    val uncapped = Dedup.hammingNearDupPairs(df, "id", "h",
        bands = 4, maxHamming = 3, maxBucketSize = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = rows.toArray
    val brute = (for {
      (i1, ha) <- all; (i2, hb) <- all if i1 < i2
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (i1, i2, d)).toSet
    assert(uncapped == brute)
  }

  test("bucketSizes shows the mega-bucket shed in every hamming band") {
    import spark.implicits._
    // the zero-signature buckets report exactly the planted population
    val rows = (1L to 500L).map(i => (i, 0L)) ++
      Seq((1001L, 0x123456789abcdef0L))
    val sizes = Dedup.bucketSizes(Dedup.hammingIndex(rows.toDF("id", "h"),
        "id", "h", bands = 4))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0 until 4).foreach { b => assert(sizes((b, 0L)) == 500L) }
    // over-cap alert surface: exactly the buckets a maxBucketSize=100
    // run of hammingNearDupPairs silently drops
    assert(sizes.count { case (_, n) => n > 100L } == 4)
  }

  test("fusedHammingNearDupPairs == union of per-key hammingNearDupPairs" +
      ".distinct, per-key geometry and per-key caps respected") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // two independent 64-bit fingerprints per id, planted near-dups in
    // each key (some overlapping, some key-exclusive), plus a
    // mega-bucket in key A only (hash 0) that the cap must shed there
    // while key B still pairs those ids
    val rows = (1L to 60L).map { i =>
      val a = if (i <= 20) 0L else rnd.nextLong()
      val b = rnd.nextLong()
      (i, a, b)
    } ++ Seq(
      (101L, 0x1111222233334444L, 0x5555666677778888L),
      (102L, 0x1111222233334445L, 0x5555666677778888L), // near in A, equal in B
      (103L, 0x0f0f0f0f0f0f0f0fL, 0x5555666677778889L)) // near in B to 101/102
    val df = rows.toDF("id", "dh", "ph")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cap = 15 // sheds the 20-member zero bucket in key A
    val fused = canon(Dedup.fusedHammingNearDupPairs(df, "id",
      Seq(("dh", 4, 3), ("ph", 16, 10)), maxBucketSize = cap))
    val sep = canon(
      Dedup.hammingNearDupPairs(df, "id", "dh", 4, 3, cap)
        .union(Dedup.hammingNearDupPairs(df, "id", "ph", 16, 10, cap))
        .distinct())
    assert(fused == sep && fused.nonEmpty)
  }

  test("fusedBatchPairDelta: NO false negatives (probe silent => pair " +
      "set over corpus ∪ batch equals the corpus's), and it fires on a " +
      "verified new pair AND on a shed flip the in-cap pair check alone " +
      "cannot see") {
    import spark.implicits._
    val keys = Seq(("dh", 4, 3), ("ph", 16, 10))
    val cap = 10
    def pairsOf(rows: Seq[(Long, Long, Long)]) =
      Dedup.fusedHammingNearDupPairs(rows.toDF("id", "dh", "ph"), "id",
          keys, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def probe(corpus: Seq[(Long, Long, Long)],
        batch: Seq[(Long, Long, Long)]): Boolean = {
      val bi = Dedup.fusedBandRows(corpus.toDF("id", "dh", "ph"), "id",
          keys).withColumn("is_batch", lit(false))
        .union(Dedup.fusedBandRows(batch.toDF("id", "dh", "ph"), "id",
          keys).withColumn("is_batch", lit(true)))
      Dedup.fusedBatchPairDelta(bi, keys, maxBucketSize = cap)
    }
    val rnd = new scala.util.Random(11)
    val corpus = (1L to 30L).map(i => (i, rnd.nextLong(), rnd.nextLong()))
    // (a) a batch near-dup of a corpus member: pair set grows, probe
    // MUST fire
    val dup = Seq((101L, corpus.head._2 ^ 1L, rnd.nextLong()))
    assert(probe(corpus, dup))
    assert(pairsOf(corpus ++ dup) != pairsOf(corpus))
    // (b) shed flip: a 10-member dh=0 bucket is exactly at cap (45
    // in-bucket pairs); one more member pushes it OVER, so a recompute
    // DROPS those pairs. The flipped bucket is no longer pair-eligible,
    // so only the flip check can see it — probe MUST fire
    val zeros = (201L to 210L).map(i => (i, 0L, rnd.nextLong()))
    val zcorpus = corpus ++ zeros
    val zbatch = Seq((299L, 0L, rnd.nextLong()))
    assert(probe(zcorpus, zbatch))
    assert(pairsOf(zcorpus ++ zbatch) != pairsOf(zcorpus))
    // (c) already-shed bucket only grows: 15 members over cap=10 shed
    // before AND after the batch — no flip, and the bucket is excluded
    // from the pair check, so a silent probe here is the correct answer
    val shed = (301L to 315L).map(i => (i, 0L, rnd.nextLong()))
    val scorpus = corpus ++ shed
    val sbatch = Seq((399L, 0L, rnd.nextLong()))
    // (d) the no-false-negative PROPERTY over every scenario above plus
    // a far-from-everything batch: whenever the probe stays silent the
    // fused pair sets must be identical
    val farBatch = Seq((401L, rnd.nextLong(), rnd.nextLong()))
    for ((c, b) <- Seq((corpus, dup), (zcorpus, zbatch),
        (scorpus, sbatch), (corpus, farBatch))) {
      if (!probe(c, b)) assert(pairsOf(c ++ b) == pairsOf(c))
      if (pairsOf(c ++ b) != pairsOf(c)) assert(probe(c, b))
    }
  }
}
