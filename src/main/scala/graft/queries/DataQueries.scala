package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.Tables.table

/** LLM-data-pipeline operators (BASELINE.json north star) over the
  * `documents` and `embeddings` tables, each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible. Engine-portable determinism:
  * integer-only hashing ([[graft.functions.TextFunctions.portableHash60]]),
  * sequential-order double sums, explicit rounding, deterministic
  * tie-breaks.
  */
object DataQueries {

  /** documents loader. NOTE: deliberately NOT repartitioned here — a
    * round-robin exchange erases the parquet size statistics, which silently
    * demotes the dedup self-joins from broadcast-hash to sort-merge (25x
    * slower measured at sf0.1). Queries that are purely scalar-bound opt
    * into [[docsParallel]] instead. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")

  /** per-core parallelism for CPU-bound scalar stages: size-conditional
    * ([[Tables.spreadIfSmall]]) — the local one-row-group fixture spreads
    * 8-32x, a real multi-split table is untouched. */
  private def docsParallel(s: SparkSession, dir: String): DataFrame =
    Tables.spreadIfSmall(s, dir, "documents")

  /** DuckDB twins of the Spark-side text primitives. */
  private val sqlToks = "regexp_split_to_array(trim(text), '\\s+')"
  private def sqlShingles(n: Int) =
    s"""list_transform(
       |  generate_series(1, greatest(len($sqlToks) - ${n - 1}, 0)),
       |  i -> array_to_string(($sqlToks)[i:i+${n - 1}], ' '))""".stripMargin
  private val sqlHash60 =
    "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)"

  /** q161 oracle (exact all-pairs cross-label top-3), shared verbatim by
    * the incremental form q254 — the accumulated-corpus contract. */
  private val sqlHardNegatives =
    """WITH v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), scored AS (
      |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(
      |      list_sum(list_transform(list_zip(a.v, c.v), x -> x[1]*x[2]))
      |      / (sqrt(list_sum(list_transform(list_zip(a.v, a.v), x -> x[1]*x[2])))
      |         * sqrt(list_sum(list_transform(list_zip(c.v, c.v), x -> x[1]*x[2])))),
      |      6) AS cosine
      |  FROM v a JOIN v c ON a.label <> c.label
      |), ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
      |    AS INTEGER) AS rank
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, cosine, rank
      |FROM ranked WHERE rank <= 3""".stripMargin

  /** q248 oracle (exact all-pairs triplet argmaxes), shared verbatim by
    * the incremental form q255. */
  private val sqlTriplets =
    """WITH v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), s AS (
      |  SELECT a.vec_id AS anchor_id, c.vec_id AS cid,
      |    a.label AS al, c.label AS cl,
      |    round(
      |      list_sum(list_transform(list_zip(a.v, c.v), x -> x[1]*x[2]))
      |      / (sqrt(list_sum(list_transform(list_zip(a.v, a.v), x -> x[1]*x[2])))
      |         * sqrt(list_sum(list_transform(list_zip(c.v, c.v), x -> x[1]*x[2])))),
      |      6) AS cosine
      |  FROM v a JOIN v c ON a.vec_id <> c.vec_id
      |), pos AS (
      |  SELECT anchor_id, cid, cosine, ROW_NUMBER() OVER (
      |    PARTITION BY anchor_id ORDER BY cosine DESC, cid ASC) AS rn
      |  FROM s WHERE al = cl
      |), neg AS (
      |  SELECT anchor_id, cid, cosine, ROW_NUMBER() OVER (
      |    PARTITION BY anchor_id ORDER BY cosine DESC, cid ASC) AS rn
      |  FROM s WHERE al <> cl
      |)
      |SELECT p.anchor_id, p.cid AS positive_id, n.cid AS negative_id,
      |  p.cosine AS pos_cosine, n.cosine AS neg_cosine,
      |  round(p.cosine - n.cosine, 6) AS margin
      |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
      |WHERE p.rn = 1 AND n.rn = 1""".stripMargin

  /** q31 oracle, factored so q172 can reuse it as a subquery. */
  private def sqlIvfP(nprobe: Int): String =
    s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), cent AS (
        |  SELECT vec_id AS centroid_id, v AS cv FROM v ORDER BY vec_id LIMIT 8
        |), assign AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT a.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(a.v, c.cv),
        |          x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |        c.centroid_id ASC) AS rn
        |    FROM v a CROSS JOIN cent c) t
        |  WHERE rn = 1
        |), bucketed AS (
        |  SELECT a.vec_id AS neighbor_id, v.v AS c_vec, a.centroid_id AS n_cluster
        |  FROM assign a JOIN v ON a.vec_id = v.vec_id
        |), probes AS (
        |  SELECT query_id, q_vec, centroid_id AS n_cluster FROM (
        |    SELECT q.vec_id AS query_id, q.v AS q_vec, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.v, c.cv),
        |          x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |        c.centroid_id ASC) AS rn
        |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 5) t
        |  WHERE rn <= $nprobe
        |), scored AS (
        |  SELECT p.query_id, b.neighbor_id,
        |    round(
        |      list_sum(list_transform(list_zip(p.q_vec, b.c_vec), x -> x[1]*x[2]))
        |      / (sqrt(list_sum(list_transform(list_zip(p.q_vec, p.q_vec), x -> x[1]*x[2])))
        |         * sqrt(list_sum(list_transform(list_zip(b.c_vec, b.c_vec), x -> x[1]*x[2])))),
        |      6) AS cosine
        |  FROM probes p JOIN bucketed b ON p.n_cluster = b.n_cluster
        |  WHERE b.neighbor_id <> p.query_id
        |)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 10""".stripMargin

  private val sqlIvf: String = sqlIvfP(2)

  /** q179 oracle, factored so q256's sweep can reuse it verbatim. */
  private val sqlSq8: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), dims AS (
      |  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM (
      |    SELECT unnest(v) AS x, unnest(generate_series(1, len(v))) AS i FROM v)
      |  GROUP BY i
      |), grid AS (
      |  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM dims
      |), rec AS (
      |  SELECT vec_id, list_transform(generate_series(1, len(v)), i ->
      |    mins[i] + CAST((CASE WHEN maxs[i] = mins[i] THEN 0
      |      ELSE CAST(least(255.0, floor((v[i] - mins[i])
      |        / (maxs[i] - mins[i]) * 255.0 + 0.5)) AS BIGINT)
      |      END) AS DOUBLE) / 255.0 * (maxs[i] - mins[i])) AS r
      |  FROM v CROSS JOIN grid
      |), q AS (
      |  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5
      |), scored AS (
      |  SELECT q.query_id, rec.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(list_zip(q.qv, rec.r), x -> x[1]*x[2]))
      |      / (sqrt(list_sum(list_transform(list_zip(q.qv, q.qv), x -> x[1]*x[2])))
      |         * sqrt(list_sum(list_transform(list_zip(rec.r, rec.r), x -> x[1]*x[2])))),
      |      6) AS cosine
      |  FROM q JOIN rec ON rec.vec_id <> q.query_id
      |)
      |SELECT query_id, neighbor_id, cosine,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      |FROM scored QUALIFY rank <= 10""".stripMargin

  /** q60 oracle, factored so q256's sweep can reuse it verbatim. */
  private val sqlPq: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), sub AS (
      |  SELECT vec_id, s, v[s*8+1 : s*8+8] AS sv
      |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) g
      |), cb AS (
      |  SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 16
      |), dist AS (
      |  SELECT sub.vec_id, sub.s, cb.code,
      |    CAST(floor(list_sum(list_transform(list_zip(sub.sv, cb.cv),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))) * 1e6 + 0.5) AS BIGINT) AS d_micro
      |  FROM sub JOIN cb ON sub.s = cb.s
      |), assign AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id, s ORDER BY d_micro ASC, code ASC) AS rn
      |    FROM dist) t
      |  WHERE rn = 1
      |), adc AS (
      |  SELECT qd.vec_id AS query_id, a.vec_id AS neighbor_id,
      |    SUM(qd.d_micro) AS adc_micro
      |  FROM assign a
      |  JOIN dist qd ON qd.s = a.s AND qd.code = a.code
      |  WHERE qd.vec_id < 5 AND a.vec_id <> qd.vec_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, neighbor_id, CAST(adc_micro AS BIGINT) AS adc_micro,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY adc_micro ASC, neighbor_id ASC) AS INTEGER) AS rank
      |FROM adc QUALIFY rank <= 10""".stripMargin

  /** q256 oracle: per configuration, its own gated oracle SQL runs as a
    * subquery against the shared exact-KNN ground truth; per-query recall
    * is integer ppm then integer-averaged, mirroring
    * `recallAtK(...).agg(sum div count)` exactly. */
  private def sqlAnnSweep: String = {
    val cfgs = Seq(
      "ivf_nprobe_1" -> sqlIvfP(1),
      "ivf_nprobe_2" -> sqlIvfP(2),
      "ivf_nprobe_4" -> sqlIvfP(4),
      "pq_m8" -> sqlPq,
      "sq8" -> sqlSq8)
    cfgs.map { case (name, sql) =>
      s"""SELECT '$name' AS config, CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(rppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm
         |FROM (
         |  SELECT e.query_id,
         |    (1000000 * SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |       THEN 1 ELSE 0 END)) // COUNT(*) AS rppm
         |  FROM (${sqlKnn("e2.vec_id < 5", "rank <= 10")}) e
         |  LEFT JOIN ($sql) a USING (query_id, neighbor_id)
         |  GROUP BY e.query_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** q181 oracle: the Gonzalez rounds as chained CTEs — d{r} holds every
    * point's min squared-distance (integer micro-units, identical floor in
    * both engines) to the first r centers, s{r} the round-r argmax. */
  private def sqlKCenter(k: Int): String = {
    def sq(a: String, b: String) =
      s"CAST(floor(list_sum(list_transform(list_zip($a, $b), " +
        s"x -> (x[1]-x[2])*(x[1]-x[2]))) * 1e6 + 0.5) AS BIGINT)"
    val ctes = new StringBuilder
    ctes.append("WITH v AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n")
    ctes.append("s0 AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 1),\n")
    ctes.append(s"d1 AS (SELECT a.vec_id, a.v, ${sq("a.v", "s.v")} AS md " +
      "FROM v a CROSS JOIN s0 s)")
    for (r <- 1 until k) {
      ctes.append(s",\ns$r AS (SELECT vec_id, v, md FROM d$r " +
        "ORDER BY md DESC, vec_id ASC LIMIT 1)")
      if (r < k - 1)
        ctes.append(s",\nd${r + 1} AS (SELECT d.vec_id, d.v, " +
          s"LEAST(d.md, ${sq("d.v", "s.v")}) AS md " +
          s"FROM d$r d CROSS JOIN s$r s)")
    }
    val sel = (s"SELECT CAST(0 AS INTEGER) AS sel_order, vec_id, " +
      "CAST(0 AS BIGINT) AS dist_micro FROM s0") +:
      (1 until k).map(r =>
        s"SELECT CAST($r AS INTEGER), vec_id, md FROM s$r")
    ctes.append("\n").append(sel.mkString("\nUNION ALL ")).toString
  }

  /** q183 oracle: the MinHash family reproduced literally — the (a, b)
    * params embedded from [[graft.functions.TextFunctions.minhashParams]]
    * (same seed), shingle hashes via the documented md5-prefix twin, band
    * collision as an OR-chain of signature-slice equalities. */
  private def sqlMinhashCalib(n: Int, bands: Int, rowsPerBand: Int): String = {
    val params = graft.functions.TextFunctions.minhashParams(bands * rowsPerBand)
    val p = graft.functions.TextFunctions.MinhashPrime
    val sigList = params.map { case (a, b) =>
      s"list_min(list_transform(shh, x -> ($a * (x % $p) + $b) % $p))"
    }.mkString("[", ",\n      ", "]")
    val bandEq = (0 until bands).map { bi =>
      val lo = bi * rowsPerBand + 1
      val hi = (bi + 1) * rowsPerBand
      s"a.sig[$lo:$hi] = b.sig[$lo:$hi]"
    }.mkString("(", " OR ", ")")
    s"""WITH d0 AS (
       |  SELECT doc_id, list_distinct(${sqlShingles(n)}) AS sh FROM documents
       |), d AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> $sqlHash60) AS shh
       |  FROM d0 WHERE len(sh) > 0
       |), sigs AS (
       |  SELECT doc_id, sh, $sigList AS sig FROM d
       |)
       |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       |  CAST((1000000 * len(list_filter(list_zip(a.sig, b.sig),
       |    z -> z[1] = z[2]))) // ${bands * rowsPerBand} AS BIGINT) AS est_ppm,
       |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND $bandEq
       |WHERE (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) > 0""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy, canonical = min id
    "q21_dedup_exact" -> { (s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")
    },

    // Quality scoring: counts, ratios, composite score
    "q22_text_quality" -> { (s, dir) =>
      val d = docs(s, dir)
      d.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TextAnalysis.nWords(col("text")).as("n_words"),
        TextAnalysis.nPunct(col("text")).as("n_punct"),
        TextAnalysis.stopwordCount(col("text")).as("n_stop"),
        TextAnalysis.qualityScore(col("text")).as("quality")
      )
    },

    // Token counting: whitespace + BPE-ish regex tokens
    "q23_token_count" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.nWords(col("text")).as("ws_tokens"),
        bpeTokenCount(col("text")).as("bpe_tokens")
      )
    },

    // Heuristic language ID vs the declared lang column
    "q24_lang_id" -> { (s, dir) =>
      docs(s, dir)
        .select(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // Document fingerprint: min 5-shingle hash (1-hash MinHash / winnowing)
    "q25_doc_fingerprint" -> { (s, dir) =>
      docsParallel(s, dir).select(
        col("doc_id"),
        docFingerprint(col("text"), 5).as("fingerprint"),
        size(array_distinct(shingles(tokens(col("text")), 5))).as("n_shingles")
      )
    },

    // Exact n-gram Jaccard near-dup pairs, blocked by source
    "q26_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir),
        "doc_id", "text", "source", n = 5, threshold = 0.2)
    },

    // MinHash+LSH near-dup pairs (bands=16 x rows=4), exact-verified at 0.5.
    // Oracle = brute-force all-pairs Jaccard: the dataset's true near-dup
    // pairs sit at s >= 0.95 where candidate recall is 1-(1-s^4)^16 ~ 1-1e-13;
    // r=4 keeps unrelated low-entropy docs (s~0.1, collision s^4=1e-4) out
    // of shared buckets, bounding bucket sizes (verified in DedupSpec).
    "q27_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir),
        "doc_id", "text", n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
    },

    // Near-dup clusters: connected components over the LSH pair output
    // (canonical dedup groups; min id = cluster id)
    "q50_neardup_clusters" -> { (s, dir) =>
      Dedup.clusterPairs(
        Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
          n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5))
    },

    // Dedup burden per source: the fraction of each source's docs touched
    // by at least one near-dup pair — where to point the dedup budget;
    // one semi-join of the source table against the pair-id set
    "q241_dup_burden" -> { (s, dir) =>
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
      val dupIds = pairs.select(col("id_1").as("doc_id"))
        .unionAll(pairs.select(col("id_2").as("doc_id"))).distinct()
      val flagged = docs(s, dir).select(col("doc_id"), col("source"))
        .join(dupIds, Seq("doc_id"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
      docs(s, dir).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(flagged, Seq("source"), "left")
        .na.fill(0L, Seq("n_dup_docs"))
        .withColumn("dup_ppm", expr("(1000000 * n_dup_docs) div n_docs"))
    },

    // Cross-source syndication: near-duplicate pairs whose two sides come
    // from DIFFERENT sources — the "same article, many mirrors" leakage a
    // per-source dedup never sees; the source attach is two broadcastable
    // dictionary joins on the (small) pair set
    "q239_cross_source_dups" -> { (s, dir) =>
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
          n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .join(src.select(col("doc_id").as("id_1"),
          col("source").as("source_1")), "id_1")
        .join(src.select(col("doc_id").as("id_2"),
          col("source").as("source_2")), "id_2")
        .filter(col("source_1") =!= col("source_2"))
        .select(col("id_1"), col("id_2"), col("source_1"), col("source_2"),
          col("jaccard"))
    },

    // Embedding-health norm audit: per label the norm range and the count
    // of near-zero (collapsed) vectors — the cheap sanity gate run before
    // any cosine math trusts the vectors; norms are the same sequential
    // dot + correctly-rounded sqrt as every cosine here
    "q237_norm_audit" -> { (s, dir) =>
      val v = table(s, dir, "embeddings").select(col("label"),
        Similarity.norm(transform(col("embedding"), x => x.cast("double")))
          .as("__n"))
      v.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(min(col("__n")), 6).as("min_norm"),
          round(max(col("__n")), 6).as("max_norm"),
          sum(when(col("__n") < 0.5, lit(1L)).otherwise(lit(0L)))
            .as("n_collapsed"))
    },

    // Multimodal completeness audit: which documents have an embedding row
    // (doc_id = vec_id) — the missing-modality integrity check every
    // text+vector pipeline runs before training; one left join on ids
    "q233_embedding_coverage" -> { (s, dir) =>
      val e = table(s, dir, "embeddings").select(col("vec_id"), lit(1L).as("__has"))
      docs(s, dir)
        .join(e, col("doc_id") === col("vec_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__has"), lit(0L))).as("n_with_vec"))
        .withColumn("missing_ppm",
          expr("(1000000 * (n_docs - n_with_vec)) div n_docs"))
    },

    // Containment direction on near-dup pairs: |A∩B|/|A| vs /|B| beside
    // jaccard — distinguishes "B quotes A" from symmetric duplication for
    // the q27-proven pair set (same banding, same verify)
    "q231_containment_pairs" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        shingleHashes60(col("text"), 5).as("sh"))
        .filter(size(col("sh")) > 0)
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
      pairs
        .join(d.select(col("doc_id").as("id_1"), col("sh").as("sh_1")), "id_1")
        .join(d.select(col("doc_id").as("id_2"), col("sh").as("sh_2")), "id_2")
        .withColumn("__i",
          size(array_intersect(col("sh_1"), col("sh_2"))).cast("double"))
        .withColumn("cont_1in2", round(col("__i") / size(col("sh_1")), 6))
        .withColumn("cont_2in1", round(col("__i") / size(col("sh_2")), 6))
        .select(col("id_1"), col("id_2"), col("jaccard"),
          col("cont_1in2"), col("cont_2in1"))
    },

    // Embedding-distribution drift: per-label centroid cosine between the
    // even-id and odd-id halves — the model-regression / new-crawl
    // admission check; exact integer-sum centroids
    "q209_centroid_drift" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.centroidDrift(e, "vec_id", "embedding", "label",
        pmod(col("vec_id"), lit(2)))
    },

    // Near-dup graph degree histogram: how many neighbors each clustered
    // doc has — the second dedup-health view (q205's sizes say how big
    // blobs are; degrees say how DENSE they are)
    "q210_degree_histogram" -> { (s, dir) =>
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
      pairs.select(col("id_1").as("id"))
        .unionAll(pairs.select(col("id_2").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_docs"))
        .select(col("deg").as("degree"), col("n_docs"))
    },

    // Near-dup cluster-size histogram: the dedup-health report (how much
    // of the corpus sits in 2-clusters vs giant boilerplate blobs) — two
    // tiny count shuffles after the q50 clustering
    "q205_cluster_sizes" -> { (s, dir) =>
      Dedup.clusterPairs(
        Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
          n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"))
    },

    // Same clusters via the alternating large-star/small-star rounds —
    // the 100 TB formulation (round state shrinks with the edge set,
    // O(log²) rounds vs diameter). Oracle is q50's VERBATIM, so the
    // driver gate machine-checks the equivalence (the q107/q68 pattern)
    "q114_neardup_clusters_star" -> { (s, dir) =>
      Dedup.clusterPairsStar(
        Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
          n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5))
    },

    // Leakage-safe split: near-dup CLUSTERS are the unit of train/val/
    // test assignment, so a near-dup pair can never straddle train and
    // test — the eval-contamination channel a doc-keyed hash split leaves
    // open. Split is a pure md5-threshold function of the cluster key
    // (append-consistent for untouched clusters); report shape = docs +
    // distinct clusters per split
    "q274_leakage_safe_split" -> { (s, dir) =>
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
      graft.operators.Sampling.leakageSafeSplit(docs(s, dir), "doc_id",
          pairs, trainPpm = 800000L, valPpm = 100000L)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_key")).as("n_clusters"))
    },

    // Soft dedup: every near-duplicate kept but downweighted by its
    // cluster size (weight_ppm = 1e6 div size) — each cluster contributes
    // ~one doc of training mass; the weights feed weightedSample/loss
    // scaling instead of hard removal
    "q275_soft_dedup_weights" -> { (s, dir) =>
      val pairs = Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
      Dedup.softDedupWeights(docs(s, dir), "doc_id", pairs)
    },

    // Near-dup canonical selection (q275's hard-removal counterpart):
    // keep the longest member per near-dup component, ties to the lowest
    // id — exactKeepBest's policy lifted to near-dup clusters
    "q276_neardup_keep_best" -> { (s, dir) =>
      val d = docs(s, dir)
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
      Dedup.nearDupKeepBest(
        d.withColumn("n_tokens",
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long")),
        "doc_id", pairs, "n_tokens")
    },

    // Privacy-governance audit before metadata ships with a corpus:
    // k-anonymity (quasi-identifier combos must cover >= k rows) AND
    // l-diversity (>= l distinct sensitive values per combo — a big
    // group with one sensitive value still leaks). One groupBy on the
    // quasi tuple, exact integer counts; violating combos ARE the
    // remediation worklist
    "q306_k_anonymity" -> { (s, dir) =>
      val c = table(s, dir, "customer")
        .withColumn("bal_sign",
          when(col("c_acctbal") < 0, "neg").otherwise("pos"))
      graft.operators.QaSampling.kAnonymityAudit(c,
        Seq("c_nationkey", "c_mktsegment"), "bal_sign", k = 10, l = 2)
    },

    // Diversified retrieval serving: MMR re-rank over a bounded
    // candidate table — exact-integer objective (λppm·rel −
    // (1e6−λppm)·maxSimPpm), floor-ppm cosine, (score desc, id asc)
    // ties; the fixture's duplicate-direction candidate is deferred
    // behind a diverse lower-relevance one, the behavior that justifies
    // the operator. Fixture vectors have integer-exact cosines so every
    // score is hand-computable
    "q291_mmr_rerank" -> { (s, _) =>
      import s.implicits._
      val cand = Seq(
        (10L, 1L, 900000L, Array(1f, 0f)),
        (10L, 2L, 880000L, Array(1f, 0f)),
        (10L, 3L, 500000L, Array(0f, 1f)),
        (10L, 4L, 400000L, Array(3f, 4f)),
        (20L, 5L, 100000L, Array(1f, 0f)),
        (20L, 6L, 100000L, Array(0f, 1f))
      ).toDF("q", "id", "rel", "vec")
      graft.operators.Rerank.mmrRerank(cand, "q", "id", "rel", "vec",
        k = 3, lambdaPpm = 700000L)
    },

    // HITS hubs/authorities over the same real bipartite graph:
    // customers are pure hubs, suppliers pure authorities — one round,
    // integer max-normalization, the complementary centrality to q319
    "q322_hits" -> { (s, dir) =>
      val e = table(s, dir, "orders")
        .join(table(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (col("l_suppkey").cast("long") + 1000000L).as("dst"))
        .distinct()
      graft.operators.GraphRank.hits(e, "src", "dst", iters = 1)
    },

    // 32-bit SimHash fingerprints
    "q28_simhash" -> { (s, dir) =>
      Dedup.simhashDocs(docs(s, dir), "doc_id", "text")
    },

    // Link-graph centrality for crawl-quality weighting: integer-ppm
    // PageRank (floor-div shares, broadcast dangling mass, star-CC-style
    // checkpointed rounds) over the REAL customer->supplier bipartite
    // graph — every supplier is a dangling sink, so the
    // dangling-redistribution path is exercised at table scale. The
    // DuckDB twin unrolls the same two exact-integer iterations
    "q319_pagerank" -> { (s, dir) =>
      val e = table(s, dir, "orders")
        .join(table(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (col("l_suppkey").cast("long") + 1000000L).as("dst"))
        .distinct()
      graft.operators.GraphRank.pageRank(e, "src", "dst", iters = 2)
    },

    // The composed training-data prep pipeline (the BASELINE.json north
    // star, end to end): normalize -> exact-dedup to canonical docs ->
    // min-length quality gate -> deterministic 50% sample. Every stage is a
    // narrow map or one hash shuffle; the whole pipeline is one job.
    "q59_corpus_prep" -> { (s, dir) =>
      val d = docs(s, dir)
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      d.select(col("doc_id"), norm.as("norm"))
        .groupBy(col("norm")).agg(min(col("doc_id")).as("doc_id"))
        .withColumn("n_tokens", size(tokens(col("norm"))))
        .filter(col("n_tokens") >= 5)
        .filter(pmod(graft.functions.TextFunctions.portableHash60(
          col("doc_id").cast("string")), lit(100)) < 50)
        .select(col("doc_id"), col("n_tokens"))
    },

    // SimHash banded near-dup pairs: 4 x 8-bit bands bucket the corpus,
    // exact popcount-hamming verify at <= 3 — pigeonhole makes recall exact
    // (<=3 differing bits leave >=1 of 4 bands untouched)
    "q54_simhash_neardup" -> { (s, dir) =>
      Dedup.simhashNearDupPairs(docs(s, dir), "doc_id", "text")
    },

    // 64-bit SimHash fingerprints — the scale-path fingerprint function
    // (full md5-prefix64 votes; bit 63 makes the value signed, both
    // engines assemble the same two's complement long)
    "q251_simhash64" -> { (s, dir) =>
      Dedup.simhashDocs64(docs(s, dir), "doc_id", "text")
    },

    // 64-bit SimHash banded near-dup pairs: the q54 scale path as CODE —
    // same pigeonhole contract (4 bands, exact recall at hamming <= 3)
    // but 16-bit band signatures, so the bucket-population quadratic
    // onset moves from ~65k docs to ~16M (docs/SCALE.md)
    "q252_simhash64_neardup" -> { (s, dir) =>
      Dedup.simhashNearDupPairs64(docs(s, dir), "doc_id", "text",
        bands = Dedup.simhash64BandsFor(maxHamming = 3))
    },

    // Brute-force cosine top-10 for the first 5 vectors
    "q29_embedding_knn" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
    },

    // SRP-LSH cosine near-dup pairs over the WHOLE table (no blocking): the
    // unblocked 100 TB path — banded sign-signatures bucket the corpus, only
    // within-bucket candidates are exact-verified. Recall for a pair at
    // cosine c is 1-(1-p^4)^8 with p = 1-acos(c)/pi: 0.83 at c=0.5, 0.998
    // at c=0.9 (documented; soundness is exact — every emitted pair is
    // verified).
    "q51_srp_neardup" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      // corpus-sized bits keep bucket pair-generation linear in n; at the
      // sf0.01 gate (n=500) this resolves to the oracle's pinned 4 bits
      val bits = Similarity.autoBitsPerBand(e.count(), minBits = 4)
      Similarity.rpLshNearDupPairs(e,
        "vec_id", "embedding", threshold = 0.5, bitsPerBand = bits,
        dim = 64)
    },

    // Embedding-cosine near-dup pairs within label blocks. Blocks up to
    // 1000 rows take the exact O(block²) scan — the oracle-pinned plan at
    // both gate scales (50/block at sf0.01, 200 at sf0.1) — and larger
    // blocks auto-route through within-block SRP-LSH (block² = 10⁶ pairs
    // is where the exact scan stops being the cheap plan)
    "q30_embedding_neardup" -> { (s, dir) =>
      Dedup.embeddingNearDupPairs(table(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.3,
        maxExactBlock = 1000, dim = 64)
    },

    // The no-silent-caps audit for q30's exact-to-approximate routing
    // switch: one row per block with its size and whether it exceeds the
    // exact-scan threshold (here pinned to 50 so the gate fixture
    // exercises BOTH outcomes)
    "q260_neardup_block_audit" -> { (s, dir) =>
      Dedup.embeddingNearDupBlockAudit(table(s, dir, "embeddings"),
        "label", maxExactBlock = 50)
    },

    // Hard-negative mining for the WHOLE corpus (every row its own
    // anchor): SRP-LSH band buckets generate cross-label candidates
    // (equi-join on (band, sig) — no corpus broadcast, no O(n²) stage),
    // exact-cosine verify, bounded-heap k-selection; rank window runs on
    // the pruned <=k rows per anchor. The wide-band setting (32 bands ×
    // 2 bits) holds worst-pair recall >0.9999 down to cosine 0.25 — on
    // this corpus the candidate set provably covers the exact top-3
    // (SimilaritySpec pins it), so the exact all-pairs oracle matches.
    "q161_hard_negatives" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      // corpus-sized bits (linear bucket pair-generation; see
      // autoBitsPerBand), bands capped so the packed-signature dedup
      // stays in one long. At the sf0.01 gate (n=500) this resolves to
      // the recall-pinned 32 bands × 2 bits.
      val bits = Similarity.autoBitsPerBand(e.count(), minBits = 2)
      val bands = math.min(32, 64 / bits)
      Similarity.hardNegativesAnn(e,
        "vec_id", "embedding", "label", k = 3, dim = 64,
        bands = bands, bitsPerBand = bits)
    },

    // Contrastive triplet assembly: hardest positive (same label, self
    // excluded) + hardest negative (different label) per anchor with the
    // margin — banded-LSH candidates from TWO independent seeds (worst
    // same-label pair miss probability squared), exact-cosine verify,
    // distinct bounded heap dedups cross-seed duplicates
    // Incremental hard-negative mining: the corpus is split into a
    // persisted band-signature INDEX (annIndex artifact, vec_id < 400)
    // with its previously-mined result, plus a NEW BATCH (vec_id >= 400)
    // — only batch-involved buckets shuffle, yet the merged output must
    // equal the one-shot mining over the accumulated corpus, so the
    // oracle is q161's exact all-pairs SQL verbatim.
    "q254_incremental_hard_negatives" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val index = e.filter(col("vec_id") < 400)
      val batch = e.filter(col("vec_id") >= 400)
      // geometry sized by the ACCUMULATED corpus (the q161 discipline —
      // fixed bits are quadratic in the batch side once buckets saturate;
      // the round-8 sf1 rehearsal caught exactly that here). At the
      // sf0.01 gate this resolves to the recall-pinned 32 bands × 2 bits.
      val bits = Similarity.autoBitsPerBand(e.count(), minBits = 2)
      val bands = math.min(32, 64 / bits)
      // the artifact is MATERIALIZED once (the stand-in for the written
      // index) and both the prior mining and the incremental fold read
      // it — neither re-scans nor re-hashes the index corpus
      val idxArt = Similarity.annIndex(index, "vec_id", "embedding",
        "label", dim = 64, bands = bands, bitsPerBand = bits)
        .localCheckpoint(true)
      val prior = Similarity.hardNegativesAnnFromIndex(idxArt, k = 3,
        bands = bands, bitsPerBand = bits)
      Similarity.hardNegativesAnnIncremental(idxArt, prior,
        Similarity.annIndex(batch, "vec_id", "embedding", "label", dim = 64,
          bands = bands, bitsPerBand = bits),
        k = 3, bands = bands, bitsPerBand = bits)
    },

    // From-index one-shot mining: the SAME exact all-pairs oracle as
    // q161, but mining reads a MATERIALIZED annIndex artifact instead of
    // re-scanning and re-hashing the corpus — the operational form at
    // 100 TB, where the index is written once and every mining run
    // (initial or incremental) reads it. Geometry sized by the corpus
    // (autoBitsPerBand); at the gate it resolves to q161's 32 × 2.
    "q258_index_mining" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val n = e.count()
      val bits = Similarity.autoBitsPerBand(n, minBits = 2)
      val bands = math.min(32, 64 / bits)
      val art = Materialize.sized(
        Similarity.annIndex(e, "vec_id", "embedding", "label",
          dim = 64, bands = bands, bitsPerBand = bits), n)
      Similarity.hardNegativesAnnFromIndex(art, k = 3,
        bands = bands, bitsPerBand = bits)
    },

    // Incremental triplet mining: prior state = the top-1 SIDE frames
    // (not the joined triplets — an anchor that only now gains a
    // positive partner must be able to enter), per-seed annIndex
    // artifacts for both geometries; oracle = q248's exact SQL verbatim
    "q255_incremental_triplets" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val index = e.filter(col("vec_id") < 400)
      val batch = e.filter(col("vec_id") >= 400)
      val seeds = Seq(42L, 1042L)
      // negative geometry sized by the accumulated corpus, positive by
      // the largest label block (the q248 discipline; fixed bits went
      // quadratic in the sf1 rehearsal). Gate: both resolve to 32×2.
      val stats = e.groupBy(col("label")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")), max(col("c"))).first()
      val bits = Similarity.autoBitsPerBand(stats.getLong(0), minBits = 2)
      val bands = math.min(32, 64 / bits)
      val posBits = Similarity.autoBitsPerBand(stats.getLong(1), minBits = 2)
      val posBands = math.min(32, 64 / posBits)
      // per-seed artifacts MATERIALIZED once; prior sides and the fold
      // both mine from them (no index re-scan, no re-hash)
      val negIdx = seeds.map(sd => Materialize.sized(
        Similarity.annIndex(index, "vec_id",
          "embedding", "label", dim = 64, bands = bands,
          bitsPerBand = bits, seed = sd), stats.getLong(0)))
      val posIdx =
        if (posBands == bands && posBits == bits) negIdx
        else seeds.map(sd => Materialize.sized(
          Similarity.annIndex(index, "vec_id",
            "embedding", "label", dim = 64, bands = posBands,
            bitsPerBand = posBits, seed = sd), stats.getLong(0)))
      val (pp, pn) = Similarity.tripletMiningSidesFromIndexes(negIdx, posIdx,
        bands = bands, bitsPerBand = bits,
        posBands = posBands, posBitsPerBand = posBits)
      Similarity.tripletMiningIncremental(negIdx, posIdx, pp, pn, batch,
        "vec_id", "embedding", "label", dim = 64,
        bands = bands, bitsPerBand = bits, seeds = seeds,
        posBands = posBands, posBitsPerBand = posBits)
    },

    "q248_triplet_mining" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      // negative pass: corpus-sized bits (see autoBitsPerBand); positive
      // pass: bits sized by the LARGEST LABEL BLOCK — the same-label
      // banding buckets on (label, band, sig), so its recall geometry
      // only has to cover one label, keeping hardest-positive recall in
      // the wide-band regime at any corpus size. At the sf0.01 gate both
      // resolve to the recall-pinned 32 bands × 2 bits per seed.
      val stats = e.groupBy(col("label")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")), max(col("c"))).first()
      val bits = Similarity.autoBitsPerBand(stats.getLong(0), minBits = 2)
      val bands = math.min(32, 64 / bits)
      val posBits = Similarity.autoBitsPerBand(stats.getLong(1), minBits = 2)
      val posBands = math.min(32, 64 / posBits)
      Similarity.tripletMining(e, "vec_id", "embedding", "label",
        dim = 64, bands = bands, bitsPerBand = bits,
        posBands = posBands, posBitsPerBand = posBits)
    },

    // Per-dimension embedding health: exact integer-scaled min/max/sum
    // per dimension + dead-dimension flag — the ingest audit before
    // vectors enter an index
    "q249_dimension_stats" -> { (s, dir) =>
      Similarity.dimensionStats(table(s, dir, "embeddings"), "embedding")
    },

    // Retrieval evaluation beyond recall: MRR, hit-rate@10, macro
    // precision@10 of the exact top-10 under same-label relevance — all
    // integer ppm (per-query values integer-divided THEN averaged)
    "q250_retrieval_metrics" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val results = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
      val relevance = e.select(col("vec_id").as("query_id"), col("label"))
        .filter(col("query_id") < 50)
        .join(e.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("label"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
      Similarity.retrievalMetrics(results, relevance, k = 10)
    },

    // Deterministic JL sign projection to 16 dims: the +/-1 matrix is
    // md5-parity of "j:i" (re-derivable by any engine from shape alone),
    // baked into the plan as literals — map-only, zero shuffle
    // spreadIfSmall: the map pass fans out 16 multiply-add sums per row
    // from a one-split file — size-gated spread, no exchange at scale
    "q270_jl_projection" -> { (s, dir) =>
      Similarity.jlProject(Tables.spreadIfSmall(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, outDim = 16)
    },

    // Index takedown: remove every vec_id % 10 == 0 row from the persisted
    // ANN artifact by anti-join (no rebuild, no re-hash), then mine hard
    // negatives from the pruned index; oracle = exact top-k over the
    // corpus that never contained those rows
    "q271_index_takedown" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val n = e.count()
      val bits = Similarity.autoBitsPerBand(n, minBits = 2)
      val bands = math.min(32, 64 / bits)
      val art = Materialize.sized(
        Similarity.annIndex(e, "vec_id", "embedding", "label",
          dim = 64, bands = bands, bitsPerBand = bits), n)
      val pruned = Similarity.annIndexRemove(art,
        e.filter(pmod(col("vec_id"), lit(10)) === 0).select(col("vec_id")),
        "vec_id")
      Similarity.hardNegativesAnnFromIndex(pruned, k = 3,
        bands = bands, bitsPerBand = bits)
    },

    // One-pass upper-triangle Gram matrix (X^T X) of the embedding column:
    // each row emits its own d(d+1)/2 scaled-integer coordinate products,
    // one (d1,d2)-keyed partial agg — shuffle bounded by dim^2, never rows
    // spreadIfSmall: the d(d+1)/2-per-row product fan-out is the work —
    // a one-split scan would serialize it (7.2x for 10x data measured on
    // 4 tasks at sf1; the spread restores map-side parallelism)
    "q268_embedding_gram" -> { (s, dir) =>
      Similarity.embeddingGram(Tables.spreadIfSmall(s, dir, "embeddings"),
        "embedding")
    },

    // Embedding outlier gate: cosine of each vector to its label's exact
    // integer-sum centroid (scale-invariance stands the sum vector in for
    // the mean — no FP-order hazard, no division)
    "q162_centroid_outliers" -> { (s, dir) =>
      Similarity.centroidOutliers(table(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.05)
    },

    // ANN evaluation harness: recall@10 of the IVF(8, nprobe=2) run
    // against exact brute force, per query — the measurement loop every
    // approximate-index configuration decision runs on
    "q172_ann_recall" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 10)
      val cents = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      val approx = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 10,
        cents, nprobe = 2)
      Similarity.recallAtK(exact, approx)
    },

    // int8 scalar-quantized ANN: asymmetric top-10 (exact query vectors
    // against SQ8-reconstructed corpus) — the 4x-smaller serving index;
    // codes are engine-portable integers, so the oracle reproduces them
    "q179_sq8_topk" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.sq8TopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
    },

    // ANN configuration sweep — the tuning artifact an index deployment
    // actually reads: ONE exact ground truth (computed once, shared),
    // every serving configuration's recall@10 measured against it in one
    // plan. One row per config: (config, n_queries, mean_recall_ppm).
    "q256_ann_param_sweep" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      // ground truth materialized once — at scale the exact scan is the
      // expensive side, and every config reuses the same frame
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 10).localCheckpoint(true)
      val cents = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      // the IVF assignment is nprobe-independent: materialize the index
      // artifact ONCE and serve all three probe configs from it (the
      // sweep used to re-assign the corpus per config — r12)
      val ivfIdx = Similarity.ivfIndex(e, "vec_id", "embedding", cents)
        .localCheckpoint(true)
      def ivf(nprobe: Int) = Similarity.ivfTopKFromIndex(ivfIdx, q,
        "vec_id", "embedding", k = 10, cents, nprobe)
      val configs: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "ivf_nprobe_1" -> ivf(1),
        "ivf_nprobe_2" -> ivf(2),
        "ivf_nprobe_4" -> ivf(4),
        "pq_m8" -> Similarity.pqTopK(e, q, "vec_id", "embedding",
          kNeighbors = 10),
        "sq8" -> Similarity.sq8TopK(e, q, "vec_id", "embedding", k = 10))
      configs.map { case (name, approx) =>
        Similarity.recallAtK(exact, approx)
          .agg(count(lit(1)).as("n_queries"),
            expr("sum(recall_ppm) div count(1)").as("mean_recall_ppm"))
          .select(lit(name).as("config"), col("n_queries"),
            col("mean_recall_ppm"))
      }.reduce(_ unionByName _)
    },

    // Incremental cross-batch dedup: new docs (doc_id % 5 == 0) matched
    // against the already-ingested corpus via its persisted band-bucket
    // index — yesterday's text is never re-scanned
    "q180_incremental_dedup" -> { (s, dir) =>
      val d = docs(s, dir)
      Dedup.incrementalLshMatches(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
    },

    // q180's contract with the index side arriving as the PERSISTED
    // (id, sh, sig) lshIndex artifact — per-batch admission never
    // re-shingles or re-hashes the accumulated corpus. Same oracle.
    "q259_incremental_dedup_from_index" -> { (s, dir) =>
      val d = docs(s, dir)
      val art = Dedup.lshIndex(d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", n = 5, bands = 16, rowsPerBand = 4)
        .localCheckpoint(true)
      Dedup.incrementalLshMatchesFromIndex(art,
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        n = 5, bands = 16, rowsPerBand = 4, threshold = 0.5)
    },

    // Greedy k-center (Gonzalez) diverse-subset selection: 6 maximally-
    // spread exemplars + the coverage-radius curve; k max-reduction passes
    "q181_kcenter_select" -> { (s, dir) =>
      Similarity.kCenterSelect(table(s, dir, "embeddings"),
        "vec_id", "embedding", k = 6)
    },

    // MinHash estimator calibration: signature-agreement estimate vs exact
    // Jaccard for every pair the (8 bands x 4 rows) config surfaces — the
    // measurement loop that sizes a banding before a full dedup run
    "q183_minhash_calibration" -> { (s, dir) =>
      Dedup.minhashCalibration(docs(s, dir), "doc_id", "text",
        n = 5, bands = 8, rowsPerBand = 4)
    },

    // Curriculum ordering: global training order by (quality desc, hash) —
    // the distributed range-sort ordinal, never a single-partition window;
    // the hash shuffles within each quality level deterministically
    "q186_curriculum_order" -> { (s, dir) =>
      val d = docsParallel(s, dir).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        portableHash60(col("doc_id").cast("string")).as("__h"))
      graft.functions.Ordinals.withGlobalOrdinal(d,
          Seq(col("quality").desc, col("__h").asc, col("doc_id").asc), "ord")
        .select(col("doc_id"), col("quality"), col("ord"))
    },

    // Edit-distance fuzzy matching (FastSS single-deletion blocking):
    // customer names at Levenshtein distance <= 1 — exact recall by
    // pigeonhole, every candidate verified
    "q91_fuzzy_names" -> { (s, dir) =>
      Dedup.editNeighborPairs(table(s, dir, "customer"), "c_name")
    },

    // Cluster-bounded semantic dedup (SemDeDup): map-only centroid
    // assignment bounds the pairwise stage to within-cluster; a doc is
    // dropped when a lower-id cluster-mate has cosine >= 0.3
    "q83_semantic_dedup" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      Similarity.semanticDedup(e, "vec_id", "embedding", centroids,
        threshold = 0.3)
    },

    // Sparse lexical top-k via inverted-index postings: integer tf-idf
    // (w = floor(1e6/df)), df > 390 shed (the stopword/skew bound doing
    // real work on the 31-term synthetic vocab)
    "q85_sparse_topk" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.operators.InvertedIndex.tfIdfTopK(
        d, d.filter(col("doc_id") < 5), "doc_id", "text",
        k = 10, maxDf = 390L)
    },

    // BM25-style lexical top-k: q85's integer rarity weight plus tf
    // saturation (k1 = 1.2) and doc-length normalization (b = 0.75),
    // evaluated as one DECIMAL(38,0)-exact integral division per posting
    // so the ranking is bit-identical across engines
    "q262_bm25_topk" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.operators.InvertedIndex.bm25TopK(
        d, d.filter(col("doc_id") < 5), "doc_id", "text",
        k = 10, maxDf = 390L)
    },

    // Deterministic hash-threshold train/val/test split (80/10/10):
    // map-only, append-consistent membership as a pure function of the id
    "q263_hash_split" -> { (s, dir) =>
      graft.operators.Sampling.hashSplit(docs(s, dir), col("doc_id"),
          trainPpm = 800000L, valPpm = 100000L)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // Exact-quota stratified split (80/10/10 per source): deterministic
    // hash-order permutation within each stratum, integral-division cuts
    "q264_stratified_split" -> { (s, dir) =>
      graft.operators.Sampling.stratifiedSplitExact(docs(s, dir),
          col("doc_id"), col("source"),
          trainPpm = 800000L, valPpm = 100000L)
        .select(col("doc_id"), col("source"), col("split"))
    },

    // Mergeable HDR-histogram quantiles (p50/p90/p99 of doc length per
    // source, mBits=5 → ≤3.1% relative error): integer bucket ids,
    // bucket-count state, bit-identical rank walk in any engine
    "q265_hdr_quantiles" -> { (s, dir) =>
      val hist = graft.operators.Sketches.hdrHistogram(docs(s, dir),
        Seq("source"), col("n_chars"), mBits = 5)
      graft.operators.Sketches.hdrQuantiles(hist, Seq("source"), mBits = 5,
        probsPpm = Seq(500000L, 900000L, 990000L))
    },

    // IVF approximate top-k (scale path): fully deterministic — seeded
    // centroids (first 8 ids), argmin ties to lowest centroid id, fixed
    // nprobe — so it has an exact ANSI oracle below; recall additionally
    // validated against bruteForceTopK in SimilaritySpec
    "q31_ann_ivf" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, centroids, nprobe = 2)
    },

    // IVF serving FROM the persisted cell-partitioned index artifact:
    // written once with partitionBy(cell), read back from storage, so
    // the broadcast probe join's dynamic partition pruning reads only
    // the probed cells. Same oracle as q31 verbatim — serving from the
    // stored index must change nothing.
    "q261_ivf_from_index" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      // one scratch dir per JVM, overwritten per invocation — repeated
      // bench reps must not accumulate index copies
      val idxDir = graft.sources.SyntheticFixtures.freshDir("q261_ivf_idx")
      val written = graft.sources.Sinks.writePartitioned(
        Similarity.ivfIndex(e, "vec_id", "embedding", centroids), idxDir,
        "cell")
      Similarity.ivfTopKFromIndex(s.read.schema(written).parquet(idxDir),
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
        centroids, nprobe = 2)
    },

    // PQ approximate top-k (the IVF companion: m=8 subspaces, 16-entry
    // codebooks, asymmetric-distance ranking in integer micro-units).
    // Fully deterministic -> exact ANSI oracle.
    "q60_ann_pq" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", kNeighbors = 10)
    },

    // IVF + PQ composed: centroid-bucketed candidate pruning (q31's
    // shape) feeding integer-ADC ranking (q60's shape) — the production
    // serving path, fully deterministic
    "q100_ivfpq" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val centroids = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", kNeighbors = 10, centroids, nprobe = 2)
    },

    // Vocabulary top-k: global word frequencies (explode -> count -> top-20).
    // orderBy().limit() plans TakeOrderedAndProject (per-partition heaps +
    // driver merge of 20-row heads) — NOT an unpartitioned Window, which
    // would single-partition the full vocabulary (billions of words at
    // 100 TB). Rank is assigned over the collected 20 rows.
    "q43_vocab_topk" -> { (s, dir) =>
      val top = docs(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("word").asc)
        .limit(20)
      import s.implicits._
      top.collect().toSeq.zipWithIndex
        .map { case (r, i) => (r.getString(0), r.getLong(1), i + 1) }
        .toDF("word", "tf", "rank")
    },

    // Term relative document frequency: tf * N / df as exact-integer-ratio
    // doubles (deterministic without ln-based idf). N rides inside the
    // plan as a broadcast 1-row aggregate (the dsirWeights idiom) — a
    // driver-side d.count() would be a separate job per invocation
    "q44_term_relfreq" -> { (s, dir) =>
      val d = docs(s, dir)
      val n = d.agg(count(lit(1)).as("__n"))
      d.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .filter(col("tf") >= 10)
        .crossJoin(broadcast(n))
        .withColumn("rel_score",
          round(col("tf").cast("double") * col("__n") / col("df"), 6))
        .drop("__n")
    },

    // Normalization + exact dedup over the normalized form
    "q45_normalize_dedup" -> { (s, dir) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      docs(s, dir)
        .groupBy(md5(norm.cast("binary")).as("norm_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
    },

    // Multimodal: binary payload + stub-decoded metadata struct
    "q32_multimodal_meta" -> { (s, dir) =>
      Multimodal.withImageMeta(
        docs(s, dir).select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        "payload")
        .select(col("doc_id"), col("image_meta.byte_size").as("byte_size"),
          col("image_meta.magic").as("magic"),
          col("image_meta.width").as("width"),
          col("image_meta.height").as("height"),
          col("image_meta.n_frames").as("n_frames"))
    }
  )

  private val sqlQuality =
    """(CASE WHEN length(text) BETWEEN 100 AND 10000 THEN 1.0 ELSE 0.5 END) * 0.4
      | + (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.1
      |     THEN 0.3 ELSE 0.1 END)
      | + least(CAST(n_stop AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) * 3.0, 0.3)""".stripMargin

  private val enStops = "the|and|of|to|in|is|that|for"

  /** q180 oracle (exact accumulated-corpus cross-batch Jaccard matches),
    * shared verbatim by the from-index form q259 — the persisted-artifact
    * contract: reading the index back must change nothing. */
  private val sqlIncrementalDedup =
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
       |), nw AS (
       |  SELECT * FROM d WHERE doc_id % 5 = 0 AND len(sh) > 0
       |), ix AS (
       |  SELECT * FROM d WHERE doc_id % 5 <> 0 AND len(sh) > 0
       |)
       |SELECT n.doc_id AS batch_id, o.doc_id AS index_id,
       |  round(CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
       |        / len(list_distinct(n.sh || o.sh)), 6) AS jaccard
       |FROM nw n JOIN ix o
       |  ON len(list_distinct(n.sh || o.sh)) > 0
       |WHERE round(CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
       |        / len(list_distinct(n.sh || o.sh)), 6) >= 0.5""".stripMargin

  val oracle: Map[String, String] = Map(
    "q21_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q22_text_quality" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    CAST(length(text) AS INTEGER) AS n_chars,
         |    CAST(len($sqlToks) AS INTEGER) AS n_words,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
         |    CAST(len(regexp_extract_all(lower(text), '\\b($enStops)\\b', 0)) AS INTEGER) AS n_stop
         |  FROM documents
         |)
         |SELECT doc_id, n_chars, n_words, n_punct, n_stop,
         |       round($sqlQuality, 6) AS quality
         |FROM f""".stripMargin,

    "q23_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($sqlToks) AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)) AS INTEGER) AS bpe_tokens
         |FROM documents""".stripMargin,

    "q24_lang_id" -> {
      val markers = TextAnalysis.defaultMarkers
      val cnts = markers.map { case (lang, ws) =>
        s"len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b', 0)) AS c_$lang"
      }.mkString(",\n    ")
      val best = "greatest(" + markers.map("c_" + _._1).mkString(", ") + ")"
      val chain = markers.map { case (lang, _) =>
        s"WHEN c_$lang = best THEN '$lang'"
      }.mkString(" ")
      val cnames = markers.map("c_" + _._1).mkString(", ")
      s"""WITH f AS (SELECT lang, $cnts FROM documents),
         |g AS (SELECT lang, $best AS best, $cnames FROM f)
         |SELECT lang,
         |  CASE WHEN best <= 0 THEN 'und' $chain ELSE 'und' END AS lang_pred,
         |  COUNT(*) AS n_docs
         |FROM g GROUP BY 1, 2""".stripMargin
    },

    "q25_doc_fingerprint" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${sqlShingles(5)} AS shingles FROM documents
         |)
         |SELECT doc_id,
         |  list_min(list_transform(shingles, s -> $sqlHash60)) AS fingerprint,
         |  CAST(len(list_distinct(shingles)) AS INTEGER) AS n_shingles
         |FROM sh""".stripMargin,

    "q26_ngram_jaccard" ->
      s"""WITH d AS (
         |  SELECT source, doc_id, list_distinct(${sqlShingles(5)}) AS sh
         |  FROM documents
         |)
         |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
         |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE len(list_distinct(a.sh || b.sh)) > 0
         |  AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)), 6) >= 0.2""".stripMargin,

    "q27_minhash_lsh" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |)
         |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |  AND len(list_distinct(a.sh || b.sh)) > 0
         |  AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)), 6) >= 0.5""".stripMargin,

    "q50_neardup_clusters" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), edges AS (
         |  SELECT id_1 AS u, id_2 AS v FROM p
         |  UNION SELECT id_2, id_1 FROM p
         |), walk(id, label) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.id = e.u
         |)
         |SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id""".stripMargin,

    // q50's component CTE -> cluster-keyed md5-threshold split (q263's
    // hash construction over the cluster key instead of the doc id)
    "q274_leakage_safe_split" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), edges AS (
         |  SELECT id_1 AS u, id_2 AS v FROM p
         |  UNION SELECT id_2, id_1 FROM p
         |), walk(id, label) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.id = e.u
         |), cl AS (
         |  SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id
         |), k AS (
         |  SELECT doc.doc_id, COALESCE(cl.cluster_id, doc.doc_id) AS ck
         |  FROM documents doc LEFT JOIN cl ON doc.doc_id = cl.id
         |), h AS (
         |  SELECT doc_id, ck,
         |    CAST(concat('0x', substr(md5(CAST(ck AS VARCHAR)), 1, 15))
         |      AS BIGINT) % 1000000 AS hm
         |  FROM k
         |)
         |SELECT CASE WHEN hm < 800000 THEN 'train'
         |            WHEN hm < 900000 THEN 'val' ELSE 'test' END AS split,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_clusters
         |FROM h GROUP BY 1""".stripMargin,

    // q50's component CTE -> per-doc cluster size and 1e6 div size weight
    "q275_soft_dedup_weights" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), edges AS (
         |  SELECT id_1 AS u, id_2 AS v FROM p
         |  UNION SELECT id_2, id_1 FROM p
         |), walk(id, label) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.id = e.u
         |), cl AS (
         |  SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id
         |), k AS (
         |  SELECT doc.doc_id, COALESCE(cl.cluster_id, doc.doc_id) AS ck
         |  FROM documents doc LEFT JOIN cl ON doc.doc_id = cl.id
         |), sz AS (
         |  SELECT ck, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM k GROUP BY 1
         |)
         |SELECT k.doc_id, k.ck AS cluster_key, sz.cluster_size,
         |  CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_ppm
         |FROM k JOIN sz ON k.ck = sz.ck""".stripMargin,

    // q50's component CTE -> per-cluster argmax (max token count, tie to
    // the lowest id) — exactKeepBest's policy over near-dup components
    "q276_neardup_keep_best" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), edges AS (
         |  SELECT id_1 AS u, id_2 AS v FROM p
         |  UNION SELECT id_2, id_1 FROM p
         |), walk(id, label) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.id = e.u
         |), cl AS (
         |  SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id
         |), k AS (
         |  SELECT doc.doc_id, COALESCE(cl.cluster_id, doc.doc_id) AS ck,
         |    CAST(len(regexp_split_to_array(trim(doc.text), '\\s+'))
         |      AS BIGINT) AS nt
         |  FROM documents doc LEFT JOIN cl ON doc.doc_id = cl.id
         |), r AS (
         |  SELECT ck, doc_id, nt, ROW_NUMBER() OVER (
         |    PARTITION BY ck ORDER BY nt DESC, doc_id ASC) AS rn,
         |    COUNT(*) OVER (PARTITION BY ck) AS nm
         |  FROM k
         |)
         |SELECT ck AS cluster_key, doc_id AS kept_id, nt AS kept_score,
         |  CAST(nm AS BIGINT) AS n_members
         |FROM r WHERE rn = 1""".stripMargin,

    // same quasi tuple, same integer thresholds
    "q306_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |    ELSE 'pos' END) AS BIGINT) AS n_sensitive,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |    ELSE 'pos' END) >= 2 AS l_diverse
        |FROM customer GROUP BY c_nationkey, c_mktsegment""".stripMargin,

    // hand-computed greedy walk (integer micro²-units): step scores in
    // the Spark-side comment; the rel-tie at query 20 breaks id-asc
    "q291_mmr_rerank" ->
      """SELECT * FROM (VALUES
        |  (CAST(10 AS BIGINT), 1, CAST(1 AS BIGINT),
        |   CAST(630000000000 AS BIGINT)),
        |  (10, 2, 3, 350000000000),
        |  (10, 3, 2, 316000000000),
        |  (20, 1, 5, 70000000000),
        |  (20, 2, 6, 70000000000)
        |) AS t(query_id, rank, doc_id, mmr_score)""".stripMargin,

    // exact pair ids (q27 identity) -> per-source flagged counts
    "q241_dup_burden" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, list_distinct(${sqlShingles(5)}) AS sh
         |  FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), ids AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT id_1 AS id FROM p UNION ALL SELECT id_2 FROM p)
         |), f AS (
         |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_dup_docs
         |  FROM d JOIN ids ON d.doc_id = ids.id GROUP BY 1
         |), t AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1
         |)
         |SELECT t.source, t.n_docs, COALESCE(f.n_dup_docs, 0) AS n_dup_docs,
         |  CAST((1000000 * COALESCE(f.n_dup_docs, 0)) // t.n_docs AS BIGINT)
         |    AS dup_ppm
         |FROM t LEFT JOIN f USING (source)""".stripMargin,

    // the q27 pair identity restricted to source-crossing pairs
    "q239_cross_source_dups" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, list_distinct(${sqlShingles(5)}) AS sh
         |  FROM documents
         |)
         |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         |  a.source AS source_1, b.source AS source_2,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |  AND len(list_distinct(a.sh || b.sh)) > 0
         |  AND a.source <> b.source
         |  AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)), 6) >= 0.5""".stripMargin,

    // identical sequential-order norms; min/max pick exact doubles
    "q237_norm_audit" ->
      """WITH v AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(
        |      list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |               list_transform(embedding, x -> CAST(x AS DOUBLE))),
        |      z -> z[1] * z[2]))) AS n
        |  FROM embeddings
        |)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  round(MIN(n), 6) AS min_norm, round(MAX(n), 6) AS max_norm,
        |  CAST(SUM(CASE WHEN n < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_collapsed
        |FROM v GROUP BY 1""".stripMargin,

    // left join documents to embeddings by id; ppm of missing vectors
    "q233_embedding_coverage" ->
      """WITH j AS (
        |  SELECT d.source,
        |    CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS has_vec
        |  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(has_vec) AS BIGINT) AS n_with_vec,
        |  CAST((1000000 * (COUNT(*) - SUM(has_vec))) // COUNT(*) AS BIGINT)
        |    AS missing_ppm
        |FROM j GROUP BY 1""".stripMargin,

    // the q27 pair identity + per-side containments over shingle sets
    "q231_containment_pairs" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS i,
         |    len(a.sh) AS la, len(b.sh) AS lb,
         |    len(list_distinct(a.sh || b.sh)) AS u
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |)
         |SELECT id_1, id_2, round(i / u, 6) AS jaccard,
         |  round(i / la, 6) AS cont_1in2,
         |  round(i / lb, 6) AS cont_2in1
         |FROM p WHERE round(i / u, 6) >= 0.5""".stripMargin,

    // zipped-unnest per-dim integer sums, list(... ORDER BY i) assemble,
    // the same sequential-order cosine
    "q209_centroid_drift" ->
      """WITH v AS (
        |  SELECT label, CAST(vec_id % 2 AS INTEGER) AS h,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS sv
        |  FROM embeddings
        |), x AS (
        |  SELECT label, h, unnest(sv) AS s,
        |    unnest(generate_series(1, len(sv))) AS i
        |  FROM v
        |), cs AS (
        |  SELECT label, h, i, CAST(SUM(s) AS BIGINT) AS c
        |  FROM x GROUP BY 1, 2, 3
        |), cent AS (
        |  SELECT label, h, list(CAST(c AS DOUBLE) ORDER BY i) AS cent
        |  FROM cs GROUP BY 1, 2
        |), n AS (
        |  SELECT label, h, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1, 2
        |)
        |SELECT a.label, an.n AS n_a, bn.n AS n_b,
        |  round(list_sum(list_transform(list_zip(a.cent, b.cent), z -> z[1]*z[2]))
        |    / (sqrt(list_sum(list_transform(list_zip(a.cent, a.cent), z -> z[1]*z[2])))
        |       * sqrt(list_sum(list_transform(list_zip(b.cent, b.cent), z -> z[1]*z[2])))),
        |    6) AS cosine
        |FROM cent a JOIN cent b ON a.label = b.label AND a.h = 0 AND b.h = 1
        |JOIN n an ON an.label = a.label AND an.h = 0
        |JOIN n bn ON bn.label = a.label AND bn.h = 1""".stripMargin,

    // exact >= 0.5 pairs (the q27 identity), both directions, degree counts
    "q210_degree_histogram" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), deg AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
         |    SELECT id_1 AS id FROM p UNION ALL SELECT id_2 FROM p)
         |  GROUP BY 1
         |)
         |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM deg GROUP BY 1""".stripMargin,

    // q50's recursive clustering, rolled up to the size histogram
    "q205_cluster_sizes" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), edges AS (
         |  SELECT id_1 AS u, id_2 AS v FROM p
         |  UNION SELECT id_2, id_1 FROM p
         |), walk(id, label) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.id = e.u
         |), cl AS (
         |  SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id
         |), sz AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM cl GROUP BY 1
         |)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin,

    // VERBATIM copy of q50's oracle: the star formulation must produce
    // byte-identical clusters
    "q114_neardup_clusters_star" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, list_distinct(${sqlShingles(5)}) AS sh FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_1, b.doc_id AS id_2
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND len(list_distinct(a.sh || b.sh)) > 0
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)), 6) >= 0.5
         |), edges AS (
         |  SELECT id_1 AS u, id_2 AS v FROM p
         |  UNION SELECT id_2, id_1 FROM p
         |), walk(id, label) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.v, w.label FROM walk w JOIN edges e ON w.id = e.u
         |)
         |SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id""".stripMargin,

    // the same two exact-integer rounds unrolled: floor-div shares,
    // dangling mass summed per round, ppm damping — bit-identical by
    // construction (SUM promotes to HUGEINT; final CAST pins BIGINT)
    "q319_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), nodes AS (
        |  SELECT src AS id FROM e UNION SELECT dst FROM e
        |), deg AS (
        |  SELECT src, COUNT(*) AS d FROM e GROUP BY src
        |), nn AS (SELECT COUNT(*) AS n FROM nodes),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |d0 AS (
        |  SELECT COALESCE(SUM(r0.r), 0) AS dang
        |  FROM r0 LEFT JOIN deg ON r0.id = deg.src WHERE deg.d IS NULL
        |), c0 AS (
        |  SELECT e.dst AS id, SUM(r0.r // deg.d) AS inp
        |  FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst
        |), r1 AS (
        |  SELECT nodes.id,
        |    150000 + 850000 * (COALESCE(c0.inp, 0)
        |      + (SELECT dang FROM d0) // (SELECT n FROM nn)) // 1000000 AS r
        |  FROM nodes LEFT JOIN c0 ON nodes.id = c0.id
        |), d1 AS (
        |  SELECT COALESCE(SUM(r1.r), 0) AS dang
        |  FROM r1 LEFT JOIN deg ON r1.id = deg.src WHERE deg.d IS NULL
        |), c1 AS (
        |  SELECT e.dst AS id, SUM(r1.r // deg.d) AS inp
        |  FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst
        |), r2 AS (
        |  SELECT nodes.id,
        |    150000 + 850000 * (COALESCE(c1.inp, 0)
        |      + (SELECT dang FROM d1) // (SELECT n FROM nn)) // 1000000 AS r
        |  FROM nodes LEFT JOIN c1 ON nodes.id = c1.id
        |)
        |SELECT CAST(id AS BIGINT) AS id, CAST(r AS BIGINT) AS rank_ppm
        |FROM r2""".stripMargin,

    // one HITS round unrolled: auth then hub, each max-normalized with
    // floor division (SUM promotes to HUGEINT; final CASTs pin BIGINT)
    "q322_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), nodes AS (
        |  SELECT src AS id FROM e UNION SELECT dst FROM e
        |), h0 AS (
        |  SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes
        |), ar AS (
        |  SELECT e.dst AS id, SUM(h0.h) AS raw
        |  FROM e JOIN h0 ON e.src = h0.id GROUP BY e.dst
        |), a1 AS (
        |  SELECT nodes.id,
        |    COALESCE(ar.raw, 0) * 1000000 // (SELECT MAX(raw) FROM ar) AS a
        |  FROM nodes LEFT JOIN ar ON nodes.id = ar.id
        |), hr AS (
        |  SELECT e.src AS id, SUM(a1.a) AS raw
        |  FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src
        |), h1 AS (
        |  SELECT nodes.id,
        |    COALESCE(hr.raw, 0) * 1000000 // (SELECT MAX(raw) FROM hr) AS h
        |  FROM nodes LEFT JOIN hr ON nodes.id = hr.id
        |)
        |SELECT CAST(h1.id AS BIGINT) AS id, CAST(h1.h AS BIGINT) AS hub_ppm,
        |  CAST(a1.a AS BIGINT) AS auth_ppm
        |FROM h1 JOIN a1 ON h1.id = a1.id""".stripMargin,

    "q28_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlToks) AS s FROM documents
         |), h AS (
         |  SELECT doc_id, $sqlHash60 AS hv FROM tok
         |), bits AS (
         |  SELECT doc_id, j, SUM(((hv >> j) & 1) * 2 - 1) AS bsum
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
         |  GROUP BY doc_id, j
         |)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN bsum > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin,

    "q59_corpus_prep" ->
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents
        |), c AS (
        |  SELECT norm, MIN(doc_id) AS doc_id FROM n GROUP BY 1
        |), t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(norm), '\s+')) AS INTEGER) AS n_tokens
        |  FROM c
        |)
        |SELECT doc_id, n_tokens FROM t
        |WHERE n_tokens >= 5
        |  AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 50""".stripMargin,

    // the 64-bit fingerprint: per-token hash = first 16 md5 hex chars as
    // UBIGINT (bit-identical to the engine's md5Prefix64 long), 64 bit
    // votes, fingerprint assembled as signed two's complement (the j=63
    // term is MIN_BIGINT directly — DuckDB's BIGINT << 63 overflows)
    "q251_simhash64" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlToks) AS s FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(s), 1, 16)) AS UBIGINT) AS hv
         |  FROM tok
         |), bits AS (
         |  SELECT doc_id, j,
         |    SUM(CAST((hv >> j) & 1 AS BIGINT) * 2 - 1) AS bsum
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
         |  GROUP BY doc_id, j
         |)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN bsum > 0 THEN
         |    CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
         |         ELSE CAST(1 AS BIGINT) << j END
         |    ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin,

    // q251's fingerprint CTE + 4x16-bit banding + popcount-XOR verify
    // (the q54 machinery at the 64-bit geometry)
    "q252_simhash64_neardup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlToks) AS s FROM documents
         |), hh AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(s), 1, 16)) AS UBIGINT) AS hv
         |  FROM tok
         |), bits AS (
         |  SELECT doc_id, j,
         |    SUM(CAST((hv >> j) & 1 AS BIGINT) * 2 - 1) AS bsum
         |  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
         |  GROUP BY doc_id, j
         |), h AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN bsum > 0 THEN
         |      CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
         |           ELSE CAST(1 AS BIGINT) << j END
         |      ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |), banded AS (
         |  SELECT doc_id, simhash, b AS band,
         |    (simhash >> (b * 16)) & 65535 AS sig
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
         |), cand AS (
         |  SELECT DISTINCT b1.doc_id AS id_1, b2.doc_id AS id_2,
         |    b1.simhash AS h1, b2.simhash AS h2
         |  FROM banded b1 JOIN banded b2
         |    ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id
         |)
         |SELECT id_1, id_2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin,

    // q28's simhash CTE + 4x8-bit banding + popcount-XOR verify
    "q54_simhash_neardup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlToks) AS s FROM documents
         |), hh AS (
         |  SELECT doc_id, $sqlHash60 AS hv FROM tok
         |), bits AS (
         |  SELECT doc_id, j, SUM(((hv >> j) & 1) * 2 - 1) AS bsum
         |  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
         |  GROUP BY doc_id, j
         |), h AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN bsum > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |), banded AS (
         |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) & 255 AS sig
         |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
         |), cand AS (
         |  SELECT DISTINCT b1.doc_id AS id_1, b2.doc_id AS id_2,
         |    b1.simhash AS h1, b2.simhash AS h2
         |  FROM banded b1 JOIN banded b2
         |    ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id
         |)
         |SELECT id_1, id_2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin,

    "q29_embedding_knn" -> sqlKnn(
      "e2.vec_id < 5", "rank <= 10"),

    // recall = exact ∩ approx per query; both sides reuse the verbatim
    // q29/q31 oracles as subqueries, so the harness measures exactly the
    // gated definitions
    "q172_ann_recall" ->
      s"""WITH exact AS (
         |  SELECT * FROM (${sqlKnn("e2.vec_id < 5", "rank <= 10")})
         |), approx AS (
         |  SELECT * FROM ($sqlIvf)
         |)
         |SELECT e.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  CAST((1000000 * SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,

    // per-dim grid from the data itself (zipped unnests), SQ8 codes as the
    // identical floor expression, asymmetric cosine — mirrors sq8TopK
    "q179_sq8_topk" -> sqlSq8,

    // recall of every serving configuration against ONE exact ground
    // truth, per config a left join + per-query integer recall then an
    // integer mean — each config's SQL is its gated oracle VERBATIM as a
    // chained CTE, so the sweep measures exactly the pinned definitions
    "q256_ann_param_sweep" -> sqlAnnSweep,

    // exact cross-split near-dup pairs at the verify threshold (the LSH
    // candidate stage is recall-exact on this corpus — q27's proven bet)
    "q180_incremental_dedup" -> sqlIncrementalDedup,
    "q259_incremental_dedup_from_index" -> sqlIncrementalDedup,

    "q260_neardup_block_audit" ->
      """SELECT label, count(*) AS n_rows, count(*) > 50 AS routed
        |FROM embeddings GROUP BY label""".stripMargin,

    "q181_kcenter_select" -> sqlKCenter(6),

    "q183_minhash_calibration" -> sqlMinhashCalib(5, 8, 4),

    // q22's quality expression + the portable doc_id hash as the shuffle
    // key; ROW_NUMBER mirrors the distributed range-sort ordinal exactly
    // (sort key is distinct by doc_id tiebreak)
    "q186_curriculum_order" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
         |    CAST(len($sqlToks) AS INTEGER) AS n_words,
         |    CAST(len(regexp_extract_all(lower(text), '\\b($enStops)\\b', 0)) AS INTEGER) AS n_stop,
         |    text
         |  FROM documents
         |), q AS (
         |  SELECT doc_id, round($sqlQuality, 6) AS quality,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM f
         |)
         |SELECT doc_id, quality,
         |  CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, h ASC, doc_id ASC)
         |    AS BIGINT) AS ord
         |FROM q""".stripMargin,

    "q161_hard_negatives" -> sqlHardNegatives,

    // the accumulated-corpus contract: incremental (index artifact +
    // prior result + batch) must equal the one-shot mining, so the
    // oracle is q161's exact all-pairs SQL VERBATIM
    "q254_incremental_hard_negatives" -> sqlHardNegatives,
    "q258_index_mining" -> sqlHardNegatives,

    // same contract for triplets: q248's exact oracle verbatim
    "q255_incremental_triplets" -> sqlTriplets,

    // exact all-pairs twin: argmax same-label (self excluded) + argmax
    // cross-label per anchor, (cosine desc, id asc) tie-break — the LSH
    // candidate union provably covers both top-1s on this corpus
    "q248_triplet_mining" -> sqlTriplets,

    // the results side reuses the verbatim q29-family exact-knn SQL; the
    // relevance side is the same-label pair set; per-query integer
    // divisions then integer means mirror the operator exactly
    "q250_retrieval_metrics" ->
      s"""WITH results AS (
         |  SELECT * FROM (${sqlKnn("e2.vec_id < 50", "rank <= 10")})
         |), relevance AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 50
         |), perq AS (
         |  SELECT r.query_id,
         |    MIN(CASE WHEN rel.neighbor_id IS NOT NULL THEN r.rank END)
         |      AS first_rel,
         |    SUM(CASE WHEN rel.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS n_rel
         |  FROM results r LEFT JOIN relevance rel
         |    USING (query_id, neighbor_id)
         |  GROUP BY 1
         |), scored AS (
         |  SELECT query_id,
         |    COALESCE(1000000 // first_rel, 0) AS rr_ppm,
         |    (1000000 * n_rel) // 10 AS p_ppm,
         |    CASE WHEN n_rel > 0 THEN 1 ELSE 0 END AS hit
         |  FROM perq
         |), allq AS (
         |  -- denominator = union of result and relevance query sets:
         |  -- a labeled query with no retrieved rows scores 0 everywhere
         |  SELECT COALESCE(s.rr_ppm, 0) AS rr_ppm,
         |    COALESCE(s.p_ppm, 0) AS p_ppm, COALESCE(s.hit, 0) AS hit
         |  FROM (SELECT query_id FROM scored
         |        UNION SELECT DISTINCT query_id FROM relevance) q
         |  LEFT JOIN scored s USING (query_id)
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(rr_ppm) // COUNT(*) AS BIGINT) AS mrr_ppm,
         |  CAST((1000000 * SUM(hit)) // COUNT(*) AS BIGINT) AS hit_rate_ppm,
         |  CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS precision_at_k_ppm
         |FROM allq""".stripMargin,

    "q270_jl_projection" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS s
        |  FROM embeddings
        |), jd AS (
        |  SELECT a.j AS j, b.i AS i,
        |    CASE WHEN CAST(concat('0x', substr(md5(
        |        CAST(a.j AS VARCHAR) || ':' || CAST(b.i AS VARCHAR)),
        |        1, 15)) AS BIGINT) % 2 = 1
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT unnest(generate_series(0, 15)) AS j) a,
        |       (SELECT unnest(generate_series(0, 63)) AS i) b
        |)
        |SELECT v.vec_id, CAST(jd.j AS BIGINT) AS out_dim,
        |  CAST(SUM(v.s[jd.i + 1] * jd.sgn) AS BIGINT) AS proj_s20
        |FROM v, jd GROUP BY 1, 2""".stripMargin,

    "q271_index_takedown" ->
      sqlHardNegatives.replace("FROM embeddings",
        "FROM embeddings WHERE vec_id % 10 <> 0"),

    "q268_embedding_gram" ->
      """WITH v AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS s
        |  FROM embeddings
        |), pr AS (
        |  SELECT a.d1 AS d1, b.d2 AS d2, v.s[a.d1 + 1] * v.s[b.d2 + 1] AS p
        |  FROM v,
        |    LATERAL (SELECT unnest(generate_series(0, len(v.s) - 1)) AS d1) a,
        |    LATERAL (SELECT unnest(generate_series(0, len(v.s) - 1)) AS d2) b
        |  WHERE b.d2 >= a.d1
        |)
        |SELECT d1, d2, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(p) AS BIGINT) AS sum_prod
        |FROM pr GROUP BY 1, 2""".stripMargin,

    "q249_dimension_stats" ->
      """WITH e AS (
        |  SELECT unnest(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)))
        |      AS s,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings
        |)
        |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs, MIN(s) AS min_s20,
        |  MAX(s) AS max_s20, CAST(SUM(s) AS BIGINT) AS sum_s20,
        |  (MIN(s) = MAX(s)) AS is_dead
        |FROM e GROUP BY 1""".stripMargin,

    // centroid = per-label exact integer sums (floor(x*2^20) of the
    // double-widened floats — order-free BIGINT adds); cosine's
    // scale-invariance makes the sum vector the mean, so the only doubles
    // are the one shared cosine expression both engines evaluate in index
    // order
    "q162_centroid_outliers" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings
        |), e AS (
        |  SELECT label,
        |    unnest(list_transform(dv,
        |      x -> CAST(floor(x * 1048576.0) AS BIGINT))) AS s,
        |    unnest(generate_series(0, len(dv) - 1)) AS dim
        |  FROM v
        |), cd AS (
        |  SELECT label, dim, CAST(SUM(s) AS BIGINT) AS cs
        |  FROM e GROUP BY 1, 2
        |), cent AS (
        |  SELECT label, list(CAST(cs AS DOUBLE) ORDER BY dim) AS cv
        |  FROM cd GROUP BY 1
        |), scored AS (
        |  SELECT v.vec_id, v.label,
        |    round(
        |      list_sum(list_transform(list_zip(v.dv, cent.cv), x -> x[1]*x[2]))
        |      / (sqrt(list_sum(list_transform(list_zip(v.dv, v.dv), x -> x[1]*x[2])))
        |         * sqrt(list_sum(list_transform(list_zip(cent.cv, cent.cv), x -> x[1]*x[2])))),
        |      6) AS cosine
        |  FROM v JOIN cent USING (label)
        |)
        |SELECT vec_id, label, cosine, cosine < 0.05 AS is_outlier
        |FROM scored""".stripMargin,

    // exact twin of Similarity.ivfTopK with seedCentroids(8)/nprobe=2/k=10:
    // centroid CTE (first 8 ids) -> squared-L2 argmin assignment (ties to
    // lowest centroid_id, matching the strict-less fold over the id-sorted
    // centroid array) -> per-query nprobe centroid ranking -> bucket-join ->
    // cosine top-k. All distance/dot sums are sequential list_sum over
    // list_zip — bit-identical to the Spark side's index-order summation.
    "q31_ann_ivf" -> sqlIvf,
    "q261_ivf_from_index" -> sqlIvf,

    "q51_srp_neardup" -> sqlSrpNearDup(bands = 8, bitsPerBand = 4, dim = 64,
      seed = 42L, threshold = 0.5, maxBucketSize = 10000),

    "q91_fuzzy_names" ->
      """WITH c AS (
        |  SELECT DISTINCT c_name AS s FROM customer
        |), v AS (
        |  SELECT s, unnest(list_distinct(list_append(
        |    list_transform(generate_series(1, len(s)),
        |      i -> substr(s, 1, i-1) || substr(s, i+1)), s))) AS variant
        |  FROM c
        |), p AS (
        |  SELECT DISTINCT a.s AS s_1, b.s AS s_2
        |  FROM v a JOIN v b ON a.variant = b.variant AND a.s < b.s
        |)
        |SELECT s_1, s_2, CAST(levenshtein(s_1, s_2) AS INTEGER) AS dist
        |FROM p WHERE levenshtein(s_1, s_2) <= 1""".stripMargin,

    // exact twin of Similarity.semanticDedup(seedCentroids(8), 0.3):
    // centroid CTE + squared-L2 argmin (q31's assignment shape), per-vector
    // normalization (q51's shape), within-cluster pair join, min-struct
    // winner per dropped id
    "q83_semantic_dedup" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings
        |), cent AS (
        |  SELECT vec_id AS centroid_id, vd AS cv FROM v ORDER BY vec_id LIMIT 8
        |), assign AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT a.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(a.vd, c.cv),
        |          x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |        c.centroid_id ASC) AS rn
        |    FROM v a CROSS JOIN cent c) t
        |  WHERE rn = 1
        |), nv AS (
        |  SELECT v.vec_id, a.centroid_id,
        |    list_transform(vd, x -> x /
        |      sqrt(list_sum(list_transform(list_zip(vd, vd), x -> x[1]*x[2]))))
        |      AS nvec
        |  FROM v JOIN assign a ON v.vec_id = a.vec_id
        |), p AS (
        |  SELECT b.vec_id AS id, b.centroid_id, a.vec_id AS keep_id,
        |    round(list_sum(list_transform(list_zip(a.nvec, b.nvec),
        |      x -> x[1]*x[2])), 6) AS cosine
        |  FROM nv a JOIN nv b
        |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        |)
        |SELECT id, centroid_id, dup_of, cosine FROM (
        |  SELECT id, centroid_id, keep_id AS dup_of, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY keep_id ASC, cosine ASC) AS rn
        |  FROM p WHERE cosine >= 0.3) t
        |WHERE rn = 1""".stripMargin,

    // exact twin of InvertedIndex.tfIdfTopK(k=10, maxDf=390, queries =
    // doc_id < 5): wordcount postings, integer idf floor(1e6/df), integer
    // partial-product sum, rank ties to lower neighbor id
    "q85_sparse_topk" ->
      s"""WITH post AS (
         |  SELECT doc_id AS id, s AS term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($sqlToks) AS s FROM documents) w
         |  GROUP BY 1, 2
         |), tw AS (
         |  SELECT term, CAST(floor(1000000.0 / COUNT(*)) AS BIGINT) AS w
         |  FROM post GROUP BY term HAVING COUNT(*) <= 390
         |), qp AS (
         |  SELECT id AS query_id, term, tf AS tf_q FROM post WHERE id < 5
         |), scored AS (
         |  SELECT q.query_id, p.id AS neighbor_id,
         |    CAST(SUM(p.tf * q.tf_q * tw.w) AS BIGINT) AS score
         |  FROM post p JOIN tw USING (term) JOIN qp q USING (term)
         |  WHERE p.id <> q.query_id
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, neighbor_id, score,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
         |FROM scored QUALIFY rank <= 10""".stripMargin,

    // exact twin of InvertedIndex.bm25TopK(k=10, maxDf=390, k1Pct=120,
    // bPct=75): q85's postings/idf plus the integer-exact BM25 saturation
    // sat_ppm = 1e6·tf·(k1+1) div (tf + k1(1−b) + k1·b·dl/avgdl), both
    // sides scaled by 1e4·D with D = (1e6·Σdl) div N — HUGEINT here,
    // DECIMAL(38,0) in Spark, truncating division on positives in both
    "q262_bm25_topk" ->
      s"""WITH post AS (
         |  SELECT doc_id AS id, s AS term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($sqlToks) AS s FROM documents) w
         |  GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id AS id, CAST(len($sqlToks) AS BIGINT) AS dl
         |  FROM documents
         |), st AS (
         |  SELECT CAST(SUM(dl) AS HUGEINT) * 1000000 // COUNT(*) AS d
         |  FROM dl
         |), tw AS (
         |  SELECT term, CAST(floor(1000000.0 / COUNT(*)) AS BIGINT) AS w
         |  FROM post GROUP BY term HAVING COUNT(*) <= 390
         |), qp AS (
         |  SELECT id AS query_id, term, tf AS tf_q FROM post WHERE id < 5
         |), sat AS (
         |  SELECT p.id, p.term, p.tf,
         |    CAST((CAST(1000000 AS HUGEINT) * p.tf * 22000 * st.d) //
         |      (CAST(10000 AS HUGEINT) * st.d * p.tf
         |       + 3000 * st.d
         |       + CAST(9000000000 AS HUGEINT) * dl.dl) AS BIGINT) AS sat_ppm
         |  FROM post p JOIN dl USING (id) CROSS JOIN st
         |), scored AS (
         |  SELECT q.query_id, s.id AS neighbor_id,
         |    CAST(SUM(q.tf_q * tw.w * s.sat_ppm) AS BIGINT) AS score
         |  FROM sat s JOIN tw USING (term) JOIN qp q USING (term)
         |  WHERE s.id <> q.query_id
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, neighbor_id, score,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
         |FROM scored QUALIFY rank <= 10""".stripMargin,

    // exact twin of Sampling.hashSplit(80/10/10) rolled up per source:
    // split = md5-hash60(id-as-text) % 1e6 against ppm thresholds
    "q263_hash_split" ->
      """WITH h AS (
        |  SELECT source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 1000000 AS hm
        |  FROM documents
        |)
        |SELECT source,
        |  CASE WHEN hm < 800000 THEN 'train'
        |       WHEN hm < 900000 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM h GROUP BY 1, 2""".stripMargin,

    // exact twin of Sampling.stratifiedSplitExact(80/10/10 per source):
    // rank by (hash60, id) within the stratum, integral-division cuts
    "q264_stratified_split" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) ASC, doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents
        |)
        |SELECT doc_id, source,
        |  CASE WHEN rn <= n * 800000 // 1000000 THEN 'train'
        |       WHEN rn <= n * 900000 // 1000000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin,

    // exact twin of Sketches.hdrHistogram(mBits=5) + hdrQuantiles: hex
    // bit length, integer bucket id (id = v below 64, else
    // 64 + (shift−1)·32 + ((v >> shift) − 32), shift = bitlen − 6),
    // cumulative rank walk, lower-bound read-out
    "q265_hdr_quantiles" ->
      """WITH bl AS (
        |  SELECT source, n_chars AS v,
        |    CASE WHEN n_chars = 0 THEN 0
        |         ELSE (length(printf('%x', n_chars)) - 1) * 4 +
        |           CASE WHEN substr(printf('%x', n_chars), 1, 1) = '1' THEN 1
        |                WHEN substr(printf('%x', n_chars), 1, 1)
        |                  IN ('2', '3') THEN 2
        |                WHEN substr(printf('%x', n_chars), 1, 1)
        |                  IN ('4', '5', '6', '7') THEN 3
        |                ELSE 4 END
        |    END AS b
        |  FROM documents
        |), hist AS (
        |  SELECT source,
        |    CASE WHEN v < 64 THEN v
        |         ELSE 64 + (b - 7) * 32 + ((v >> (b - 6)) - 32)
        |    END AS bucket_id,
        |    COUNT(*) AS cnt
        |  FROM bl GROUP BY 1, 2
        |), cum AS (
        |  SELECT source, bucket_id, cnt,
        |    SUM(cnt) OVER (PARTITION BY source ORDER BY bucket_id) AS cw,
        |    SUM(cnt) OVER (PARTITION BY source) AS n,
        |    CASE WHEN bucket_id < 64 THEN bucket_id
        |         ELSE (32 + (bucket_id - 64) % 32)
        |           << ((bucket_id - 64) // 32 + 1)
        |    END AS lb
        |  FROM hist
        |)
        |SELECT source,
        |  CAST(MIN(CASE WHEN cw >= (n * 500000 + 999999) // 1000000
        |    THEN lb END) AS BIGINT) AS p500000,
        |  CAST(MIN(CASE WHEN cw >= (n * 900000 + 999999) // 1000000
        |    THEN lb END) AS BIGINT) AS p900000,
        |  CAST(MIN(CASE WHEN cw >= (n * 990000 + 999999) // 1000000
        |    THEN lb END) AS BIGINT) AS p990000
        |FROM cum GROUP BY source""".stripMargin,

    // exact twin of Similarity.ivfPqTopK(seedCentroids(8), nprobe=2,
    // m=8, kCodes=16): q31's cluster assignment + probe CTEs restrict the
    // candidate set; q60's PQ code/ADC CTEs rank it
    "q100_ivfpq" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), cent AS (
        |  SELECT vec_id AS centroid_id, v AS cv FROM v ORDER BY vec_id LIMIT 8
        |), casg AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT a.vec_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(a.v, c.cv),
        |          x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |        c.centroid_id ASC) AS rn
        |    FROM v a CROSS JOIN cent c) t
        |  WHERE rn = 1
        |), probes AS (
        |  SELECT query_id, centroid_id AS n_cluster FROM (
        |    SELECT q.vec_id AS query_id, c.centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(q.v, c.cv),
        |          x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |        c.centroid_id ASC) AS rn
        |    FROM v q CROSS JOIN cent c WHERE q.vec_id < 5) t
        |  WHERE rn <= 2
        |), cand AS (
        |  SELECT p.query_id, b.vec_id AS neighbor_id
        |  FROM casg b JOIN probes p ON b.centroid_id = p.n_cluster
        |  WHERE b.vec_id <> p.query_id
        |), sub AS (
        |  SELECT vec_id, s, v[s*8+1 : s*8+8] AS sv
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) g
        |), cb AS (
        |  SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 16
        |), dist AS (
        |  SELECT sub.vec_id, sub.s, cb.code,
        |    CAST(floor(list_sum(list_transform(list_zip(sub.sv, cb.cv),
        |      x -> (x[1]-x[2])*(x[1]-x[2]))) * 1e6 + 0.5) AS BIGINT) AS d_micro
        |  FROM sub JOIN cb ON sub.s = cb.s
        |), pasg AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, s ORDER BY d_micro ASC, code ASC) AS rn
        |    FROM dist) t
        |  WHERE rn = 1
        |), adc AS (
        |  SELECT qd.vec_id AS query_id, a.vec_id AS neighbor_id,
        |    SUM(qd.d_micro) AS adc_micro
        |  FROM pasg a
        |  JOIN dist qd ON qd.s = a.s AND qd.code = a.code
        |  JOIN cand ON cand.query_id = qd.vec_id
        |    AND cand.neighbor_id = a.vec_id
        |  WHERE qd.vec_id < 5
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, neighbor_id, CAST(adc_micro AS BIGINT) AS adc_micro,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY adc_micro ASC, neighbor_id ASC) AS INTEGER) AS rank
        |FROM adc QUALIFY rank <= 10""".stripMargin,

    // exact twin of Similarity.pqTopK(m=8, k=16, queries = vec_id < 5):
    // subspace slices -> seeded codebooks (first 16 ids) -> per-subspace
    // argmin codes (ties to lowest code) -> ADC integer-micro sums -> top-10
    "q60_ann_pq" -> sqlPq,

    // normalize-then-dot (not dot/(norm*norm)) to mirror the Spark side,
    // which pre-normalizes each vector once so the O(block^2) join does a
    // single dot per pair — the two forms differ in FP bits, so BOTH engines
    // must use the normalized form
    "q30_embedding_neardup" ->
      """WITH d AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings
        |), v AS (
        |  SELECT vec_id, label,
        |    list_transform(vd, x -> x /
        |      sqrt(list_sum(list_transform(list_zip(vd, vd), x -> x[1]*x[2])))) AS v
        |  FROM d
        |), p AS (
        |  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
        |    round(
        |      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])),
        |      6) AS cosine
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |SELECT id_1, id_2, cosine FROM p WHERE cosine >= 0.3""".stripMargin,

    "q43_vocab_topk" ->
      s"""WITH w AS (
         |  SELECT unnest($sqlToks) AS word FROM documents
         |), tf AS (
         |  SELECT word, COUNT(*) AS tf FROM w GROUP BY word
         |)
         |SELECT word, tf,
         |  CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, word ASC) AS INTEGER) AS rank
         |FROM tf QUALIFY rank <= 20""".stripMargin,

    "q44_term_relfreq" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest($sqlToks) AS word FROM documents
         |), tf AS (
         |  SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
         |  FROM w GROUP BY word
         |)
         |SELECT word, tf, df,
         |  round(CAST(tf AS DOUBLE) * (SELECT COUNT(*) FROM documents) / df, 6)
         |    AS rel_score
         |FROM tf WHERE tf >= 10""".stripMargin,

    "q45_normalize_dedup" ->
      """SELECT
        |  md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
        |    AS norm_hash,
        |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "q32_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS byte_size,
        |  upper(to_hex(ascii(substr(text, 1, 1)))) AS magic,
        |  CAST(length(text) % 640 + 1 AS INTEGER) AS width,
        |  CAST(length(text) % 480 + 1 AS INTEGER) AS height,
        |  CAST(length(text) % 24 + 1 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin
  )

  /** Exact ANSI twin of [[Similarity.rpLshNearDupPairs]] (q51): the seeded
    * hyperplanes are rendered as literal arrays (Double.toString is
    * shortest-roundtrip, so DuckDB parses back the identical binary double),
    * and every stage — per-vector normalization, per-band sign-signature,
    * bucket-size gate, within-bucket pairing, sequential-dot verify —
    * mirrors the Spark dataflow operation for operation. */
  private def sqlSrpNearDup(bands: Int, bitsPerBand: Int, dim: Int,
      seed: Long, threshold: Double, maxBucketSize: Int): String = {
    def planeLit(p: Seq[Double]): String = p.mkString("[", ", ", "]")
    val bandSelects = (0 until bands).map { b =>
      val planes = graft.operators.Similarity.randomPlanes(bitsPerBand, dim, seed + b)
      val bits = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN list_sum(list_transform(list_zip(v, ${planeLit(p)}), x -> x[1]*x[2])) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $bits AS sig FROM v"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH d AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |  FROM embeddings
       |), v AS (
       |  SELECT vec_id,
       |    list_transform(vd, x -> x /
       |      sqrt(list_sum(list_transform(list_zip(vd, vd), x -> x[1]*x[2])))) AS v
       |  FROM d
       |), sigs AS (
       |  $bandSelects
       |), ok AS (
       |  SELECT band, sig FROM sigs GROUP BY band, sig
       |  HAVING COUNT(*) BETWEEN 2 AND $maxBucketSize
       |), cand AS (
       |  SELECT DISTINCT s1.vec_id AS id_1, s2.vec_id AS id_2
       |  FROM sigs s1
       |  JOIN sigs s2 ON s1.band = s2.band AND s1.sig = s2.sig
       |    AND s1.vec_id < s2.vec_id
       |  JOIN ok ON ok.band = s1.band AND ok.sig = s1.sig
       |), scored AS (
       |  SELECT c.id_1, c.id_2,
       |    round(list_sum(list_transform(list_zip(v1.v, v2.v), x -> x[1]*x[2])), 6)
       |      AS cosine
       |  FROM cand c JOIN v v1 ON v1.vec_id = c.id_1
       |              JOIN v v2 ON v2.vec_id = c.id_2
       |)
       |SELECT id_1, id_2, cosine FROM scored WHERE cosine >= $threshold""".stripMargin
  }

  /** Shared brute-force-KNN oracle shape. */
  private def sqlKnn(queryPred: String, rankPred: String): String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), scored AS (
       |  SELECT e2.vec_id AS query_id, e1.vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(list_zip(e2.v, e1.v), x -> x[1]*x[2]))
       |      / (sqrt(list_sum(list_transform(list_zip(e2.v, e2.v), x -> x[1]*x[2])))
       |         * sqrt(list_sum(list_transform(list_zip(e1.v, e1.v), x -> x[1]*x[2])))),
       |      6) AS cosine
       |  FROM v e1 JOIN v e2 ON e1.vec_id <> e2.vec_id
       |  WHERE $queryPred
       |), ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE $rankPred""".stripMargin
}
