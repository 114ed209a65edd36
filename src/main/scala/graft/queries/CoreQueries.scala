package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Predicates._
import graft.queries.Tables.table

/** Core relational operator coverage (SURVEY.md §2.2-§2.7) expressed over the
  * driver's star-schema testdata. Each query maps 1:1 to an operator family in
  * the reference (file:line cited per query) and has a DuckDB oracle twin in
  * [[oracle]].
  *
  * Float determinism: money aggregates use [[graft.functions.Predicates.exactDecimalSum]]
  * so Spark and the oracle produce bit-identical doubles regardless of
  * aggregation order (values are integral at 2 decimals; integer sums are
  * order-independent).
  */
object CoreQueries {

  /** events.parquet carries TIMESTAMP(NANOS); with
    * `spark.sql.legacy.parquet.nanosAsLong` it arrives as LongType nanos.
    * Convert with exact integer division (a double division would round —
    * epoch-nanos exceed 2^53). */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** q214's profiled columns: every `orders` column except the
    * floating-point o_totalprice and the timestamp o_orderdate (FP and
    * temporal string formatting are engine-specific — their ranges get
    * typed queries instead). */
  private val ProfiledOrderCols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_orderpriority")

  /** (table, key column) for the whole-catalog data card (q257): every
    * catalog table with its natural key — integer/string-typed, so the
    * Profiler's string-form min/max identity is engine-stable. */
  private val CatalogKeyCols = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Data-quality profiling: per-column row/NULL/exact-distinct counts +
    // string-form min/max over orders — one SINGLE-COLUMN aggregate per
    // column (each pass's ReadSchema is one pruned field; columnar storage
    // makes N pruned scans the scale shape, not one N-way expand)
    "q214_profile_orders" -> { (s, dir) =>
      graft.operators.Profiler.profile(table(s, dir, "orders"), ProfiledOrderCols)
    },

    // Whole-catalog data card: ONE profile row per catalog table (its key
    // column's row/NULL/exact-distinct counts + string-form min/max) —
    // the ingest-audit artifact that feeds the q175 data-card shape.
    // Each branch is one pruned single-column scan of its table; the
    // union is the whole catalog's health summary in one plan.
    "q257_catalog_profile" -> { (s, dir) =>
      CatalogKeyCols.map { case (tn, key) =>
        graft.operators.Profiler.profile(table(s, dir, tn), Seq(key))
          .select(lit(tn).as("table_name"), col("col_name"), col("n_rows"),
            col("n_null"), col("n_distinct"), col("min_str"),
            col("max_str"))
      }.reduce(_ unionByName _)
    },

    // Percent-of-total report: each nation's share of its region's revenue
    // in integer ppm over exact cents — the contribution-margin reporting
    // shape; the share join runs on the nation-sized aggregate
    "q217_revenue_share" -> { (s, dir) =>
      val j = table(s, dir, "orders")
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
      val nat = j.groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("nation_cents"))
      val reg = nat.groupBy(col("r_name")).agg(sum(col("nation_cents")).as("__rc"))
      nat.join(reg, Seq("r_name"))
        .withColumn("share_ppm", expr("(1000000 * nation_cents) div __rc"))
        .select(col("r_name"), col("n_name"), col("nation_cents"),
          col("share_ppm"))
    },

    // Pareto/ABC analysis: parts ranked by exact-cents revenue, cumulative
    // share in ppm, classed A (<=80%), B (<=95%), C — the global order is
    // the distributed range-sort ordinal + the two-level PrefixSum scan,
    // never a single-partition window
    "q218_pareto_abc" -> { (s, dir) =>
      val rev = table(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val ranked = graft.functions.Ordinals.withGlobalOrdinal(rev,
        Seq(col("cents").desc, col("l_partkey").asc), "rk")
      val cum = graft.operators.PrefixSum.overKey(ranked, "rk", "cents",
        "cum_cents", chunkWidth = 64)
      cum.crossJoin(broadcast(rev.agg(sum(col("cents")).as("__tot"))))
        // DECIMAL(38) widening: 1e6 × a GLOBAL cumulative cents total
        // overflows long one scale factor up (caught by the sf1
        // rehearsal); the decimal product is exact and DIV floors
        // identically, so the sf0.01 oracle hash is unchanged
        .withColumn("cum_ppm", expr(
          "CAST((CAST(cum_cents AS DECIMAL(38,0)) * 1000000) DIV __tot AS BIGINT)"))
        .withColumn("abc",
          when(col("cum_ppm") <= 800000, lit("A"))
            .when(col("cum_ppm") <= 950000, lit("B"))
            .otherwise(lit("C")))
        .select(col("l_partkey"), col("cents"), col("cum_ppm"), col("abc"))
    },

    // Fulfillment latency: ship-date minus order-date in whole days,
    // dyadic percentiles per order priority — one join + one agg
    "q219_fulfillment_latency" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lat"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(lat, array(0.25D, 0.5D, 0.75D))").as("__ps"))
        .select(col("o_orderpriority"), col("n"),
          element_at(col("__ps"), 1).as("p25"),
          element_at(col("__ps"), 2).as("p50"),
          element_at(col("__ps"), 3).as("p75"))
    },

    // RFM customer scoring: recency/frequency/monetary raw values + their
    // within-population percentile ranks (integer ppm) — three passes of
    // the q185 domain-table percentile operator, joined back
    "q220_rfm_scores" -> { (s, dir) =>
      import graft.operators.CorpusOps
      val o = table(s, dir, "orders")
      val mx = o.agg(max(col("o_orderdate")).as("__mx"))
      val cust = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("__last"),
          count(lit(1)).as("f_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("m_cents"))
        .crossJoin(broadcast(mx))
        .withColumn("r_days",
          datediff(col("__mx"), col("__last")).cast("long"))
        .select(col("o_custkey"), col("r_days"), col("f_orders"),
          col("m_cents"))
        .withColumn("__g", lit(1))
      def pct(valueCol: String, outCol: String) =
        CorpusOps.groupPercentileRank(cust, "o_custkey", "__g", valueCol)
          .select(col("o_custkey"),
            col("pct_ppm").as(outCol))
      cust
        .join(pct("r_days", "r_ppm"), Seq("o_custkey"))
        .join(pct("f_orders", "f_ppm"), Seq("o_custkey"))
        .join(pct("m_cents", "m_ppm"), Seq("o_custkey"))
        .select(col("o_custkey"), col("r_days"), col("f_orders"),
          col("m_cents"), col("r_ppm"), col("f_ppm"), col("m_ppm"))
    },

    // Supplier league table: top-3 suppliers by exact-cents revenue within
    // each nation — zero-revenue suppliers included (left join), bounded-
    // heap k-selection, rank window on <= k rows per nation
    "q221_supplier_rank" -> { (s, dir) =>
      val rev = table(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val sup = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val j = sup.join(rev, col("s_suppkey") === col("l_suppkey"), "left")
        .na.fill(0L, Seq("cents"))
        .select(col("n_name"), col("s_suppkey"), col("s_name"), col("cents"))
      val top = graft.plans.TopKPerGroup(j, Seq(col("n_name")),
        Seq(col("cents").desc, col("s_suppkey").asc), 3)
      top.withColumn("rank", row_number().over(
        Window.partitionBy(col("n_name"))
          .orderBy(col("cents").desc, col("s_suppkey").asc)))
    },

    // Market concentration: Herfindahl index per part type over brand
    // revenue shares — integer ppm shares, HHI = Σ share² div 10^6 (exact
    // integers end-to-end); brand tables are dictionary-sized
    "q222_brand_hhi" -> { (s, dir) =>
      val rev = table(s, dir, "lineitem")
        .join(table(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("p_brand"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("__c"))
      val tot = rev.groupBy(col("p_type")).agg(sum(col("__c")).as("__t"))
      rev.join(tot, Seq("p_type"))
        .withColumn("__s", expr("(1000000 * __c) div __t"))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_brands"),
          expr("sum(__s * __s) div 1000000").as("hhi_ppm"))
    },

    // Order-size distribution: lineitems per order -> histogram — the
    // basket-size shape every commerce dashboard opens with
    "q223_order_sizes" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_orders"))
        .select(col("sz").as("order_size"), col("n_orders"))
    },

    // Return-rate monitoring per brand with Wilson 95% bounds — the
    // errorRateCi operator composed onto the relational side (is_err =
    // returned flag), >= 100 lineitems per brand
    "q224_return_rates" -> { (s, dir) =>
      val d = table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), (col("l_returnflag") === "R").as("is_ret"))
      graft.operators.QaSampling.errorRateCi(d, "p_brand", "is_ret",
        minN = 100L)
    },

    // Purchase-cadence distribution: per repeat customer the exact mean
    // days between orders (span div (n-1) — integer, no per-gap window),
    // then global dyadic percentiles of that cadence
    "q225_order_cadence" -> { (s, dir) =>
      val per = table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          datediff(max(col("o_orderdate")), min(col("o_orderdate")))
            .cast("long").as("span"))
        .filter(col("n") > 1)
        .withColumn("avg_gap_days", expr("span div (n - 1)"))
      per.agg(count(lit(1)).as("n_repeat_customers"),
          expr("percentile(avg_gap_days, array(0.25D, 0.5D, 0.75D))")
            .as("__ps"))
        .select(col("n_repeat_customers"),
          element_at(col("__ps"), 1).as("p25"),
          element_at(col("__ps"), 2).as("p50"),
          element_at(col("__ps"), 3).as("p75"))
    },

    // Monthly order-priority mix: share of each priority within its month
    // (integer month key year*100+month, ppm shares) — the seasonality-of-
    // mix report; month totals are a co-keyed roll-up
    "q243_priority_mix" -> { (s, dir) =>
      val m = table(s, dir, "orders")
        .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("month_key"), col("o_orderpriority"))
        .groupBy(col("month_key"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      val tot = m.groupBy(col("month_key")).agg(sum(col("n_orders")).as("__t"))
      m.join(tot, Seq("month_key"))
        .withColumn("share_ppm", expr("(1000000 * n_orders) div __t"))
        .select(col("month_key"), col("o_orderpriority"), col("n_orders"),
          col("share_ppm"))
    },

    // Trade-flow matrix (the TPC-H Q7 shape): exact-cents revenue between
    // every supplier nation and customer nation — two broadcast nation
    // dictionaries, one fact-join chain, one (pair) aggregation
    "q244_trade_matrix" -> { (s, dir) =>
      val n1 = broadcast(table(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(table(s, dir, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      table(s, dir, "lineitem")
        .join(table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(n2, col("c_nationkey") === col("cnk"))
        .groupBy(col("supp_nation"), col("cust_nation"))
        .agg(count(lit(1)).as("n_lineitems"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("revenue_cents"))
    },

    // Monthly revenue with MoM and YoY growth: CALENDAR self-joins on
    // month_idx−1 / month_idx−12 (a row-offset lag would compare against
    // the 12th-prior PRESENT month and mislabel gapped series); exact
    // cents, integer-ppm deltas, NULL where the prior period is absent —
    // the finance close report. The monthly frame is one row per month,
    // so the two self-joins are dictionary-sized at any data scale.
    "q245_revenue_growth" -> { (s, dir) =>
      val monthly = table(s, dir, "orders")
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("month_idx"),
          round(col("o_totalprice") * 100).cast("long").as("__c"))
        .groupBy(col("month_idx"))
        .agg(sum(col("__c")).as("revenue_cents"))
      val prior = monthly.select((col("month_idx") + 1).as("month_idx"),
        col("revenue_cents").as("__prev"))
      val yearAgo = monthly.select((col("month_idx") + 12).as("month_idx"),
        col("revenue_cents").as("__yr"))
      monthly
        .join(prior, Seq("month_idx"), "left")
        .join(yearAgo, Seq("month_idx"), "left")
        .withColumn("mom_ppm",
          expr("(1000000 * (revenue_cents - __prev)) div __prev"))
        .withColumn("yoy_ppm",
          expr("(1000000 * (revenue_cents - __yr)) div __yr"))
        .select(col("month_idx"), col("revenue_cents"), col("mom_ppm"),
          col("yoy_ppm"))
    },

    // One-and-done rate: customers with exactly one order as a ppm share
    // per market segment — the repeat-purchase health number
    "q246_one_and_done" -> { (s, dir) =>
      val per = table(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("__n"))
      table(s, dir, "customer")
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(0L, Seq("__n"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("__n") === 1, lit(1L)).otherwise(lit(0L)))
            .as("n_one_and_done"),
          sum(when(col("__n") === 0, lit(1L)).otherwise(lit(0L)))
            .as("n_never_ordered"))
        .withColumn("one_and_done_ppm",
          expr("(1000000 * n_one_and_done) div n_customers"))
    },

    // A1/A2/A9 acquisition-collapse-style grouped aggregation
    // (dicom-archive/DICOM/DCMSUM.pm:651-677; summary counts :540-590)
    "q01_pricing_summary" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          exactDecimalSum(col("l_extendedprice"), 2).as("sum_base_price"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000).cast("long")) / 10000.0)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order")
        )
    },

    // P5 in_range predicate with NULL-bound semantics
    // (python/lib/imaging.py:1260-1299)
    "q02_range_filter" -> { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(
          inRange(col("l_quantity"), Some(5.0), None) &&
            inRange(col("l_discount"), Some(0.02), Some(0.08)) &&
            inRange(col("l_tax"), None, None)
        )
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty")
        )
    },

    // J1 equi inner join + aggregation (python/lib/imaging.py:520-524)
    "q03_revenue_by_segment" -> { (s, dir) =>
      table(s, dir, "orders")
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          exactDecimalSum(col("o_totalprice"), 2).as("total_price")
        )
    },

    // J2 multi-way broadcastable dictionary join
    // (python/lib/database_lib/mri_protocol.py:108-129)
    "q04_customers_per_region" -> { (s, dir) =>
      table(s, dir, "customer")
        .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          exactDecimalSum(col("c_acctbal"), 2).as("total_acctbal")
        )
    },

    // J3 left outer join + null-branch detection
    // (uploadNeuroDB/NeuroDB/MRIProcessingUtility.pm:2056-2080)
    "q05_customers_without_orders" -> { (s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .filter(col("n_orders") === 0)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orderless_customers"))
    },

    // J6 left-semi join (IN-subquery)
    // (python/loris_bids_importer/.../eeg/physiological.py:71-82)
    "q06_active_customers_by_nation" -> { (s, dir) =>
      table(s, dir, "customer")
        .join(
          table(s, dir, "orders").filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"),
          "left_semi"
        )
        .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
    },

    // J7 anti-join insert guard (python/lib/imaging.py:215-233)
    "q07_parts_never_ordered" -> { (s, dir) =>
      table(s, dir, "part")
        .join(table(s, dir, "lineitem").filter(col("l_quantity") >= 40),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_unsold_parts"))
    },

    // J8 self-join lineage (tools/delete_imaging_upload.pl:1009-1035)
    "q08_nation_pairs_same_region" -> { (s, dir) =>
      val n1 = table(s, dir, "nation").select(
        col("n_name").as("n1_name"), col("n_regionkey").as("rk1"))
      val n2 = table(s, dir, "nation").select(
        col("n_name").as("n2_name"), col("n_regionkey").as("rk2"))
      n1.join(n2, col("rk1") === col("rk2") && col("n1_name") < col("n2_name"))
        .select(col("n1_name"), col("n2_name"), col("rk1").as("regionkey"))
    },

    // W2 latest-row-per-group (ORDER BY .. DESC LIMIT 1 per key;
    // uploadNeuroDB/NeuroDB/MRIProcessingUtility.pm:210-212)
    "q09_latest_order_per_customer" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    },

    // W1 AcqOrderPerModality rank write-back
    // (uploadNeuroDB/NeuroDB/MRIProcessingUtility.pm:2209-2268)
    "q10_line_order_within_order" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_shipdate"), col("l_linenumber"))
      table(s, dir, "lineitem")
        .withColumn("acq_order", row_number().over(w))
        .select(col("l_orderkey"), col("l_linenumber"), col("acq_order"))
    },

    // W3+J11 lead() + as-of interval join (IntendedFor;
    // python/lib/imaging.py:851-892,1112-1148)
    "q11_asof_session_assignment" -> { (s, dir) =>
      val ev = events(s, dir)
      val anchors = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("a_user"), col("ts").as("a_ts"),
          col("event_id").as("anchor_id"))
        .withColumn("next_ts",
          lead(col("a_ts"), 1).over(
            Window.partitionBy(col("a_user")).orderBy(col("a_ts"))))
      val scans = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      scans.join(
        anchors,
        col("user_id") === col("a_user") &&
          col("ts") >= col("a_ts") &&
          (col("next_ts").isNull || col("ts") < col("next_ts"))
      ).select(col("user_id"), col("event_id"), col("anchor_id"))
    },

    // U1 UNION-distinct of two selections (tools/delete_imaging_upload.pl:885-894)
    "q12_union_flagged_customers" -> { (s, dir) =>
      val c = table(s, dir, "customer")
      val a = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
      val b = table(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      a.union(b).distinct()
    },

    // U4 set-difference via anti-join (python/lib/utilities.py:42-84)
    "q13_new_buyers_1997" -> { (s, dir) =>
      val o = table(s, dir, "orders")
      val y97 = o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey")).distinct()
      val before = o.filter(year(col("o_orderdate")) < 1997).select(col("o_custkey")).distinct()
      y97.join(before, Seq("o_custkey"), "left_anti")
    },

    // P3 LIKE/substring + A8 existence/count checks (the reference's
    // "WHERE File LIKE ?" lookups, e.g. imaging.py:1199-1201 basename
    // matches, and its count-before-insert guards): parts whose type
    // matches a substring pattern AND that have at least one lineitem,
    // with the per-part order count
    "q56_like_exists" -> { (s, dir) =>
      val part = table(s, dir, "part")
      val li = table(s, dir, "lineitem")
      val counts = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_lineitems"))
      part.filter(col("p_type").like("%BRASS%"))
        .join(counts, col("p_partkey") === col("l_partkey"), "left_semi")
        .join(counts.withColumnRenamed("l_partkey", "p_partkey"), Seq("p_partkey"))
        .select(col("p_partkey"), col("p_type"), col("n_lineitems"))
    },

    // Deterministic stratified sampling (training-data staple): per-source
    // rate via the portable 60-bit hash of doc_id — reproducible across
    // engines and runs, no rand(); sampling 100 TB this way is a pure
    // map-side filter (no shuffle at all)
    "q57_stratified_sample" -> { (s, dir) =>
      val d = table(s, dir, "documents")
      d.filter(pmod(graft.functions.TextFunctions.portableHash60(
          col("doc_id").cast("string")), lit(100)) < 20)
        .select(col("doc_id"), col("source"))
    },

    // Weighted reservoir sampling (Efraimidis-Spirakis A-ES) with the
    // exact-integer key: max of w independent 60-bit hashes ~ u^(1/w) —
    // no RNG, no FP, engine-reproducible. Weight = length bucket (longer
    // docs proportionally likelier); selection rides the bounded-heap
    // top-k plan, so the corpus never crosses the exchange
    "q156_weighted_sample" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          least(lit(1) + expr("n_chars div 1500").cast("int"), lit(8))
            .as("wgt"))
      graft.operators.Sampling.weightedSample(
        d, col("source"), col("doc_id"), col("wgt"), k = 10)
        .select(col("source"), col("doc_id"), col("w"), col("key"))
    },

    // W2 at scale: per-group top-k through the custom bounded-heap
    // physical operator (graft.plans.TopKPerGroup — partial pre-shuffle
    // pass + clustered final pass; no per-group sort of the table). The
    // oracle is the window-rank formulation, so this row proves the custom
    // plan IS the window semantics.
    "q58_topk_per_group" -> { (s, dir) =>
      val o = table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      graft.plans.TopKPerGroup(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
    },

    // A5 DISTINCT projection (python/lib/database_lib/files.py:145-163)
    "q14_distinct_status_priority" -> { (s, dir) =>
      table(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority")).distinct()
    },

    // A4 next-visit-number: IFNULL(MAX(..),0)+1 per group over a left join
    // (python/lib/database_lib/session_db.py:95-96)
    "q15_next_event_seq" -> { (s, dir) =>
      table(s, dir, "customer").select(col("c_custkey"))
        .join(table(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg((coalesce(max(col("o_orderkey")), lit(0L)) + 1).as("next_no"))
    },

    // J2 multi-way dictionary join (6 tables incl. a left-joined optional
    // dim - the BIDS naming-info join shape, mri_protocol.py:108-129)
    "q46_dictionary_chain" -> { (s, dir) =>
      import s.implicits._
      val optionalDim = Seq(("Brand#11", "legacy"), ("Brand#22", "preferred"))
        .toDF("p_brand", "brand_class")
      table(s, dir, "lineitem")
        .join(table(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .join(table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(optionalDim), Seq("p_brand"), "left")
        .groupBy(col("r_name"), col("p_brand"),
          coalesce(col("brand_class"), lit("unclassified")).as("brand_class"))
        .agg(
          count(lit(1)).as("n_lines"),
          exactDecimalSum(col("l_extendedprice"), 2).as("total_price"))
    },

    // U2 union chain: three parameter selections unioned then deduped
    // (tools/delete_imaging_upload.pl:1088-1146)
    "q47_union_chain" -> { (s, dir) =>
      val o = table(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      val b = table(s, dir, "lineitem").filter(col("l_quantity") >= 49)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"))
      val c = table(s, dir, "customer").filter(col("c_acctbal") < -900)
        .select(col("c_custkey").as("o_custkey"))
      a.unionByName(b).unionByName(c).distinct()
        .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_flagged"))
    },

    // EAV pivot: long attribute rows -> wide conditional aggregation
    // (parameter_file pivot, uploadNeuroDB/NeuroDB/File.pm:113)
    "q16_event_type_pivot" -> { (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          count(when(col("event_type") === "signup", 1)).as("n_signup")
        )
    }
  )

  val oracle: Map[String, String] = Map(
    // generated from the same column list; CAST-to-VARCHAR happens BEFORE
    // min/max (lexicographic profiling identity, mirroring the Spark side)
    "q214_profile_orders" -> ProfiledOrderCols.map { c =>
      s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct,
         |  MIN(CAST($c AS VARCHAR)) AS min_str,
         |  MAX(CAST($c AS VARCHAR)) AS max_str
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n"),

    // generated from the same (table, key) list as the Spark side
    "q257_catalog_profile" -> CatalogKeyCols.map { case (tn, c) =>
      s"""SELECT '$tn' AS table_name, '$c' AS col_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct,
         |  MIN(CAST($c AS VARCHAR)) AS min_str,
         |  MAX(CAST($c AS VARCHAR)) AS max_str
         |FROM $tn""".stripMargin
    }.mkString("\nUNION ALL\n"),

    "q225_order_cadence" ->
      """WITH per AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(date_diff('day', CAST(MIN(o_orderdate) AS DATE),
        |      CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS span
        |  FROM orders GROUP BY 1
        |), g AS (
        |  SELECT span // (n - 1) AS avg_gap_days FROM per WHERE n > 1
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_repeat_customers,
        |  quantile_cont(avg_gap_days, 0.25) AS p25,
        |  quantile_cont(avg_gap_days, 0.5) AS p50,
        |  quantile_cont(avg_gap_days, 0.75) AS p75
        |FROM g""".stripMargin,

    "q222_brand_hhi" ->
      """WITH rev AS (
        |  SELECT p_type, p_brand,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT p_type, CAST(SUM(c) AS BIGINT) AS t FROM rev GROUP BY 1
        |), sh AS (
        |  SELECT rev.p_type, CAST((1000000 * rev.c) // tot.t AS BIGINT) AS s
        |  FROM rev JOIN tot USING (p_type)
        |)
        |SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_brands,
        |  CAST(CAST(SUM(s * s) AS BIGINT) // 1000000 AS BIGINT) AS hhi_ppm
        |FROM sh GROUP BY 1""".stripMargin,

    "q223_order_sizes" ->
      """WITH o AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT sz AS order_size, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM o GROUP BY 1""".stripMargin,

    "q224_return_rates" -> {
      val lo = graft.operators.QaSampling.wilsonSql("-", "p", "nn")
      val hi = graft.operators.QaSampling.wilsonSql("+", "p", "nn")
      s"""WITH c AS (
         |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_err
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1
         |), f AS (
         |  SELECT p_brand, n, n_err, CAST(n AS DOUBLE) AS nn,
         |    CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE) AS p
         |  FROM c WHERE n >= 100
         |)
         |SELECT p_brand, n, n_err, $lo AS lo, $hi AS hi FROM f""".stripMargin
    },

    "q245_revenue_growth" ->
      """WITH m AS (
        |  SELECT CAST(date_part('year', o_orderdate) * 12
        |      + date_part('month', o_orderdate) AS BIGINT) AS month_idx,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM orders GROUP BY 1
        |)
        |SELECT m.month_idx, m.revenue_cents,
        |  CAST((1000000 * (m.revenue_cents - p.revenue_cents))
        |    // p.revenue_cents AS BIGINT) AS mom_ppm,
        |  CAST((1000000 * (m.revenue_cents - y.revenue_cents))
        |    // y.revenue_cents AS BIGINT) AS yoy_ppm
        |FROM m
        |LEFT JOIN m p ON p.month_idx = m.month_idx - 1
        |LEFT JOIN m y ON y.month_idx = m.month_idx - 12""".stripMargin,

    "q246_one_and_done" ->
      """WITH per AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1
        |), j AS (
        |  SELECT c_mktsegment, COALESCE(per.n, 0) AS n
        |  FROM customer LEFT JOIN per ON c_custkey = o_custkey
        |)
        |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_one_and_done,
        |  CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_never_ordered,
        |  CAST((1000000 * SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END))
        |    // COUNT(*) AS BIGINT) AS one_and_done_ppm
        |FROM j GROUP BY 1""".stripMargin,

    "q243_priority_mix" ->
      """WITH m AS (
        |  SELECT CAST(date_part('year', o_orderdate) * 100
        |      + date_part('month', o_orderdate) AS BIGINT) AS month_key,
        |    o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2
        |), t AS (
        |  SELECT month_key, CAST(SUM(n_orders) AS BIGINT) AS tt
        |  FROM m GROUP BY 1
        |)
        |SELECT m.month_key, m.o_orderpriority, m.n_orders,
        |  CAST((1000000 * m.n_orders) // t.tt AS BIGINT) AS share_ppm
        |FROM m JOIN t USING (month_key)""".stripMargin,

    "q244_trade_matrix" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(COUNT(*) AS BIGINT) AS n_lineitems,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    "q221_supplier_rank" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1
        |), j AS (
        |  SELECT n_name, s_suppkey, s_name, COALESCE(rev.cents, 0) AS cents
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  LEFT JOIN rev ON s_suppkey = l_suppkey
        |), ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY n_name
        |    ORDER BY cents DESC, s_suppkey ASC) AS INTEGER) AS rank
        |  FROM j
        |)
        |SELECT n_name, s_suppkey, s_name, CAST(cents AS BIGINT) AS cents, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "q218_pareto_abc" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1
        |), c AS (
        |  SELECT l_partkey, cents,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |    CAST(SUM(cents) OVER () AS BIGINT) AS tot
        |  FROM rev
        |)
        |SELECT l_partkey, cents,
        |  CAST((1000000 * cum_cents) // tot AS BIGINT) AS cum_ppm,
        |  CASE WHEN (1000000 * cum_cents) // tot <= 800000 THEN 'A'
        |       WHEN (1000000 * cum_cents) // tot <= 950000 THEN 'B'
        |       ELSE 'C' END AS abc
        |FROM c""".stripMargin,

    "q219_fulfillment_latency" ->
      """WITH d AS (
        |  SELECT o_orderpriority,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lat
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_cont(lat, 0.25) AS p25,
        |  quantile_cont(lat, 0.5) AS p50,
        |  quantile_cont(lat, 0.75) AS p75
        |FROM d GROUP BY 1""".stripMargin,

    "q220_rfm_scores" -> {
      // the q185 percentile-rank formula, applied to each RFM axis
      def pctCte(v: String) =
        s"""SELECT v, CAST(CASE WHEN n > 1
           |    THEN (1000000 * below) // (n - 1) ELSE 0 END AS BIGINT) AS p
           |FROM (
           |  SELECT v,
           |    COALESCE(CAST(SUM(c) OVER (ORDER BY v ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           |      0) AS below,
           |    CAST(SUM(c) OVER () AS BIGINT) AS n
           |  FROM (SELECT $v AS v, CAST(COUNT(*) AS BIGINT) AS c
           |        FROM cust GROUP BY 1))""".stripMargin
      s"""WITH cust AS (
         |  SELECT o_custkey,
         |    CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
         |      (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
         |      AS BIGINT) AS r_days,
         |    CAST(COUNT(*) AS BIGINT) AS f_orders,
         |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |      AS m_cents
         |  FROM orders GROUP BY 1
         |), rp AS (${pctCte("r_days")}), fp AS (${pctCte("f_orders")}),
         |mp AS (${pctCte("m_cents")})
         |SELECT c.o_custkey, c.r_days, c.f_orders, c.m_cents,
         |  rp.p AS r_ppm, fp.p AS f_ppm, mp.p AS m_ppm
         |FROM cust c
         |JOIN rp ON rp.v = c.r_days
         |JOIN fp ON fp.v = c.f_orders
         |JOIN mp ON mp.v = c.m_cents""".stripMargin
    },

    "q217_revenue_share" ->
      """WITH j AS (
        |  SELECT r_name, n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |), nat AS (
        |  SELECT r_name, n_name, CAST(SUM(c) AS BIGINT) AS nation_cents
        |  FROM j GROUP BY 1, 2
        |), reg AS (
        |  SELECT r_name, CAST(SUM(nation_cents) AS BIGINT) AS rc
        |  FROM nat GROUP BY 1
        |)
        |SELECT nat.r_name, nat.n_name, nat.nation_cents,
        |  CAST((1000000 * nat.nation_cents) // reg.rc AS BIGINT) AS share_ppm
        |FROM nat JOIN reg USING (r_name)""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
        | SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_range_filter" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_quantity >= 5
        |  AND l_discount IS NOT NULL AND l_discount >= 0.02 AND l_discount <= 0.08
        |GROUP BY l_returnflag""".stripMargin,

    "q03_revenue_by_segment" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        | SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0 AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q04_customers_per_region" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        | SUM(CAST(ROUND(c_acctbal*100) AS BIGINT))/100.0 AS total_acctbal
        |FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q05_customers_without_orders" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orderless_customers
        |FROM (
        |  SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN (
        |    SELECT * FROM orders WHERE o_orderstatus = 'P'
        |  ) o ON c_custkey = o_custkey
        |  GROUP BY c_custkey, c_mktsegment
        |) WHERE n_orders = 0 GROUP BY c_mktsegment""".stripMargin,

    "q06_active_customers_by_nation" ->
      """SELECT n_name, COUNT(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY n_name""".stripMargin,

    "q07_parts_never_ordered" ->
      """SELECT p_brand, COUNT(*) AS n_unsold_parts
        |FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity >= 40)
        |GROUP BY p_brand""".stripMargin,

    "q08_nation_pairs_same_region" ->
      """SELECT n1.n_name AS n1_name, n2.n_name AS n2_name,
        | n1.n_regionkey AS regionkey
        |FROM nation n1 JOIN nation n2
        | ON n1.n_regionkey = n2.n_regionkey AND n1.n_name < n2.n_name""".stripMargin,

    "q09_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders
        |) WHERE rn = 1""".stripMargin,

    "q10_line_order_within_order" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(ROW_NUMBER() OVER (
        |   PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS INTEGER)
        |   AS acq_order
        |FROM lineitem""".stripMargin,

    "q11_asof_session_assignment" ->
      """WITH anchors AS (
        |  SELECT user_id AS a_user, ts AS a_ts, event_id AS anchor_id,
        |         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts
        |  FROM events WHERE event_type = 'signup'
        |), scans AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        |)
        |SELECT s.user_id, s.event_id, a.anchor_id
        |FROM scans s JOIN anchors a
        |  ON s.user_id = a.a_user AND s.ts >= a.a_ts
        |  AND (a.next_ts IS NULL OR s.ts < a.next_ts)""".stripMargin,

    "q12_union_flagged_customers" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal < 0
        |UNION
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q13_new_buyers_1997" ->
      """SELECT DISTINCT o_custkey FROM orders
        |WHERE EXTRACT(year FROM o_orderdate) = 1997
        |AND o_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) < 1997)""".stripMargin,

    "q14_distinct_status_priority" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",

    "q58_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin,

    "q56_like_exists" ->
      """WITH c AS (
        |  SELECT l_partkey, COUNT(*) AS n_lineitems FROM lineitem GROUP BY 1
        |)
        |SELECT p_partkey, p_type, n_lineitems
        |FROM part JOIN c ON p_partkey = l_partkey
        |WHERE p_type LIKE '%BRASS%'""".stripMargin,

    "q57_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 20""".stripMargin,

    "q156_weighted_sample" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(least(1 + n_chars // 1500, 8) AS INTEGER) AS w
        |  FROM documents
        |), keyed AS (
        |  SELECT source, doc_id, w,
        |    list_max(list_transform(range(w), r ->
        |      CAST(concat('0x', substr(md5(
        |        concat(CAST(doc_id AS VARCHAR), '#', CAST(r AS VARCHAR))
        |      ), 1, 15)) AS BIGINT))) AS key
        |  FROM d
        |), ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY source ORDER BY key DESC, doc_id ASC) AS rn
        |  FROM keyed
        |)
        |SELECT source, doc_id, w, key FROM ranked WHERE rn <= 10""".stripMargin,

    "q15_next_event_seq" ->
      """SELECT c_custkey, COALESCE(MAX(o_orderkey), 0) + 1 AS next_no
        |FROM customer LEFT JOIN (
        |  SELECT * FROM orders WHERE o_orderstatus = 'P'
        |) o ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q46_dictionary_chain" ->
      """WITH optional_dim(p_brand, brand_class) AS (
        |  VALUES ('Brand#11', 'legacy'), ('Brand#22', 'preferred')
        |)
        |SELECT r_name, p.p_brand,
        |  COALESCE(d.brand_class, 'unclassified') AS brand_class,
        |  COUNT(*) AS n_lines,
        |  SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0 AS total_price
        |FROM lineitem l
        | JOIN part p ON l.l_partkey = p.p_partkey
        | JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | JOIN nation n ON s.s_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | LEFT JOIN optional_dim d ON p.p_brand = d.p_brand
        |GROUP BY r_name, p.p_brand, COALESCE(d.brand_class, 'unclassified')""".stripMargin,

    "q47_union_chain" ->
      """WITH flagged AS (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |  UNION
        |  SELECT o_custkey FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey WHERE l_quantity >= 49
        |  UNION
        |  SELECT c_custkey AS o_custkey FROM customer WHERE c_acctbal < -900
        |)
        |SELECT c_mktsegment, COUNT(*) AS n_flagged
        |FROM flagged JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q16_event_type_pivot" ->
      """SELECT user_id,
        | COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
        | COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
        | COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        | COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
        | COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup
        |FROM events GROUP BY user_id""".stripMargin
  )
}
