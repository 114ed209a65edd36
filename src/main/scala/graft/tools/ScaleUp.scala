package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Scale rehearsal data generator: replicate the driver's testdata
  * `factor`× with per-replica key shifts, producing a dataset one scale
  * factor up (sf0.1 × 10 ≈ sf1) for super-linearity hunting — the
  * cheapest local test of the "survives 100×" claim. Replica 0 is the
  * original data byte-for-byte (keys unshifted).
  *
  * Foreign keys shift by the SAME stride as the table they reference, so
  * join cardinalities scale linearly (each replica is a closed world).
  * Text and embeddings are perturbed per replica (suffix token / seeded
  * element noise): a real 10× corpus does not carry 10× cross-corpus
  * exact duplicates, and unperturbed replicas would blow every near-dup
  * pair query quadratically instead of linearly.
  *
  * Usage: tools/run.sh graft.tools.ScaleUp <srcSfDir> <dstDir> <factor>
  * [skew[,decorrelate]]
  *
  * The optional `skew` mode is the mega-site fixture: after replication,
  * 90% of `events.user_id` and 90% of `orders.o_custkey` (with the
  * matching `customer` rows left intact — the dim stays a superset)
  * collapse onto ONE key, the Zipfian single-hot-key reality of the
  * reference's TarchiveID/CandID joins at site scale. Use it to verify
  * the SkewJoin.autoJoin path holds where the plain join straggles.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    val modes = if (args.length > 3) args(3).split(",").toSet
      else Set.empty[String]
    val skew = modes("skew")
    // decorrelate: break CROSS-replica near-duplicate structure while
    // preserving it WITHIN each replica. The default suffix perturbation
    // only kills exact twins — replica pairs keep Jaccard ≈ 0.97 and
    // cosine ≈ 0.999, so the corpus's TRUE near-dup pair mass grows
    // C(replicas, 2)-quadratically and every pair-emitting query is
    // output-bound at higher tiers (measured: q27 sf10 = 110× for 10×
    // data, 100× the pairs). With decorrelate, ~1/3 of tokens are
    // replica-salted ((2/3)^5 ≈ 13% shingle survival → cross-replica
    // Jaccard ≈ 0.07) and replica embeddings are re-drawn at random —
    // near-dup mass then grows LINEARLY (each replica's internal twins),
    // which is what a real 10× corpus does, so engine scaling is
    // measurable separately from output growth.
    val decorrelate = modes("decorrelate")
    val spark = GraftSession.local()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).first().getLong(0) + 1
    val reps = broadcast(spark.range(factor).select(col("id").as("r")))
    def replicate(df: DataFrame): DataFrame = df.crossJoin(reps)
    def shifted(c: String, s: Long): Column = (col(c) + col("r") * s).as(c)

    // dimensions stay dictionaries at every scale
    Seq("region", "nation").foreach(t => write(read(t), t))

    val (customer, supplier, part, orders, lineitem, events, documents,
      embeddings) = (read("customer"), read("supplier"), read("part"),
      read("orders"), read("lineitem"), read("events"), read("documents"),
      read("embeddings"))
    val (custS, suppS, partS, orderS) = (stride(customer, "c_custkey"),
      stride(supplier, "s_suppkey"), stride(part, "p_partkey"),
      stride(orders, "o_orderkey"))
    val (eventS, userS) = (stride(events, "event_id"),
      stride(events, "user_id"))
    val (docS, vecS) = (stride(documents, "doc_id"),
      stride(embeddings, "vec_id"))

    write(replicate(customer).select(shifted("c_custkey", custS),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment")), "customer")
    write(replicate(supplier).select(shifted("s_suppkey", suppS),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier")
    write(replicate(part).select(shifted("p_partkey", partS), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part")
    // mega-site collapse: 90% of the (already replica-shifted) keys land
    // on key 1 — an EXISTING dim key (custkeys start at 1), so referential
    // integrity holds while one hot key owns 90% of the fact side: the
    // partition a plain shuffle join cannot split
    def megaSite(c: Column): Column =
      if (skew) when(pmod(c, lit(10L)) < 9, lit(1L)).otherwise(c) else c
    write(replicate(orders).select(shifted("o_orderkey", orderS),
      megaSite((col("o_custkey") + col("r") * custS)).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")), "orders")
    write(replicate(lineitem).select(shifted("l_orderkey", orderS),
      shifted("l_partkey", partS), shifted("l_suppkey", suppS),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")
    write(replicate(events).select(shifted("event_id", eventS), col("ts"),
      megaSite((col("user_id") + col("r") * userS)).as("user_id"),
      col("event_type"), col("value"),
      col("props")), "events")
    // per-replica text perturbation: suffix token kills exact twins only;
    // decorrelate mode salts ~1/3 of tokens (deterministic in (token, r))
    // so cross-replica shingle overlap collapses below any near-dup
    // threshold while within-replica overlap is untouched (same token →
    // same rewrite inside a replica)
    val perturbed =
      if (decorrelate)
        array_join(transform(split(trim(col("text")), "\\s+"), t =>
          when(pmod(xxhash64(t, col("r")), lit(3L)) === 0,
            concat(t, lit("x"), col("r"))).otherwise(t)), " ")
      else concat(col("text"), lit(" zrep"), col("r"))
    val text2 = when(col("r") === 0, col("text")).otherwise(perturbed)
    write(replicate(documents).select(shifted("doc_id", docS),
      text2.as("text"), col("lang"), col("source"),
      length(text2).cast("long").as("n_chars")), "documents")
    // seeded per-element noise re-aims replica vectors; decorrelate mode
    // re-draws them entirely (cross-replica cosine ~ N(0, 1/sqrt(d)),
    // below any near-dup threshold — near-dup mass stays replica 0's)
    val vec2 =
      if (decorrelate)
        transform(col("embedding"), (x, i) =>
          when(col("r") === 0, x).otherwise(
            (pmod(xxhash64(col("vec_id"), i, col("r")), lit(2000L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
      else transform(col("embedding"), (x, i) =>
        when(col("r") === 0, x).otherwise((x +
          (pmod(xxhash64(col("vec_id"), i, col("r")), lit(1000L))
            .cast("double") / 1000.0 - 0.5) * 0.1).cast("float")))
    write(replicate(embeddings).select(shifted("vec_id", vecS),
      vec2.as("embedding"), col("label")), "embeddings")

    println(s"[scaleup] wrote ${factor}x of $src to $dst")
    spark.stop()
  }
}
