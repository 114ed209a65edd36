package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.EphysChunker
import graft.streaming.EventStream
import graft.queries.Tables.table

/** Time-series chunking (T1-T3) and streaming-analog (T5) queries over the
  * events table: each user's event sequence plays an ephys channel
  * (channel = user_id, sample_index = dense per-user order by event_id).
  */
object ChunkQueries {

  /** events with `ts` normalized to int64 naive-UTC nanoseconds, tolerant of
    * the encodings the test-data generator has produced across rounds:
    * int64-ns (parquet TIMESTAMP(NANOS) surfaced as long via
    * `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP_NTZ (micros, naive
    * wall clock), and instant TIMESTAMP. The NTZ wall clock is interpreted
    * as UTC: the session time zone is pinned here because the NTZ→TIMESTAMP
    * cast reads it at execution time, and the DuckDB oracle's `epoch_ns(ts)`
    * is naive — any other zone would silently skew both sides apart.
    * Unknown encodings fail loudly naming the column rather than letting the
    * driver drop the query without an err entry. */
  private[queries] def eventsNs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = table(s, dir, "events")
    val ns = raw.schema("ts").dataType match {
      case LongType => col("ts")
      case TimestampNTZType | TimestampType =>
        s.conf.set("spark.sql.session.timeZone", "UTC")
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported encoding $other — expected int64 " +
          "nanoseconds, TIMESTAMP_NTZ, or TIMESTAMP")
    }
    raw.withColumn("ts", ns)
  }

  /** events → long-format samples; value scaled to integral doubles so
    * averages are order-independent across engines. */
  private def samples(s: SparkSession, dir: String): DataFrame =
    eventsNs(s, dir).select(
      col("user_id").as("channel"),
      (row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("event_id"))) - 1)
        .cast("long").as("sample_index"),
      round(col("value") * 100).as("value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1: fixed-size chunk statistics with last-chunk valid samples
    "q33_ephys_chunks" -> { (s, dir) =>
      EphysChunker.chunkStats(samples(s, dir), 32)
    },

    // §2.10 custom Aggregator[IN,BUF,OUT]: the FUSED single-pass form of
    // q33 — count/min/max + the edge-pad last value in ONE typed UDAF
    // whose merge is associative (map-side partial aggregation), instead
    // of three built-in aggs + a second pass for the pad value. The
    // oracle is the q33 declarative twin + arg_max for last_value
    "q313_chunk_stats_fused" -> { (s, dir) =>
      graft.operators.ChunkStatsAggregator
        .chunkStatsFused(samples(s, dir), 32)
    },

    // mass_electrophysiology_chunking.py selection (python/scripts/
    // mass_electrophysiology_chunking.py:58-73 + lib/physio/chunking.py:
    // 14-41): the reference loops an ID range, skips files whose
    // 'electrophysiology_chunked_dataset_path' parameter exists, and
    // routes by type to ctf-/edf-/eeglab-to-chunks. Set-oriented: one
    // range filter + one left join against the chunked-marker parameter
    // rows (the not-yet-chunked anti-join, kept as a flag so skips are
    // visible like the reference's log line) + a type-routing projection.
    // Fixtures from part: ids !≡4 (mod 5) exist (range-loop gaps), type
    // cycles ctf/edf/set/bdf (bdf = the unsupported-type error path),
    // ids ≡0 (mod 3) already chunked; a second parameter name exercises
    // the name filter
    "q279_chunking_selection" -> { (s, dir) =>
      val part = table(s, dir, "part")
      val files = part.filter(pmod(col("p_partkey"), lit(5)) =!= 4)
        .select(col("p_partkey").as("physio_file_id"),
          when(pmod(col("p_partkey"), lit(4)) === 0, "ctf")
            .when(pmod(col("p_partkey"), lit(4)) === 1, "edf")
            .when(pmod(col("p_partkey"), lit(4)) === 2, "set")
            .otherwise("bdf").as("file_type"))
      val params = part.filter(pmod(col("p_partkey"), lit(3)) <= 1)
        .select(col("p_partkey").as("physio_file_id"),
          when(pmod(col("p_partkey"), lit(3)) === 0,
            "electrophysiology_chunked_dataset_path")
            .otherwise("electrophysiology_annotation_file_path")
            .as("parameter_name"))
      val chunked = params
        .filter(col("parameter_name") ===
          "electrophysiology_chunked_dataset_path")
        .select(col("physio_file_id"), lit(true).as("__chunked"))
      files.filter(col("physio_file_id").between(100L, 120000L))
        .join(chunked, Seq("physio_file_id"), "left")
        .select(col("physio_file_id"), col("file_type"),
          when(col("__chunked"), lit("skip_already_chunked"))
            .when(col("file_type") === "ctf", lit("ctf-to-chunks"))
            .when(col("file_type") === "edf", lit("edf-to-chunks"))
            .when(col("file_type") === "set", lit("eeglab-to-chunks"))
            .otherwise(lit("unsupported_type")).as("action"))
    },

    // T2: integer-deterministic downsampling pyramid plan
    "q34_pyramid_plan" -> { (s, dir) =>
      EphysChunker.pyramidPlan(samples(s, dir), 8)
    },

    // T2: bucket-average downsample (exact: integral values)
    "q35_downsample_avg" -> { (s, dir) =>
      EphysChunker.downsampleAvg(samples(s, dir), 16L)
    },

    // Gap-based sessionization (batch twin of streaming session windows):
    // 30-minute inactivity gap per user; integer-microsecond arithmetic
    "q55_sessionize" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"))
      EventStream.sessionize(ev, "user_id", "us", "event_id",
        gapMicros = 30L * 60 * 1000000)
    },

    // T5 native session windows: the q55 semantics through Spark's
    // session_window operator (merged-window shuffle, streaming-capable
    // with watermarked state) — window end = last event + gap
    "q106_session_window" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"),
        expr("ts div 1000").as("us"))
      EventStream.sessionWindows(ev, "user_id", "us", gap = "30 minutes")
    },

    // Irregular -> regular resample with forward fill: 6-hour grid per
    // user, last observation carried forward (integer-µs ticks, integer-
    // scaled values; duplicate-timestamp tie = max value, see operator)
    "q93_resample_fill" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"),
        expr("ts div 1000").as("us"), round(col("value") * 100).as("v"))
      EventStream.resampleFill(ev, "user_id", "us", "v",
        stepMicros = 21600L * 1000000)
    },

    // First-seen analytics: new users per UTC day + running cumulative —
    // the "daily actives vs total reach" pair. The running sum is the
    // two-level parallel scan (PrefixSum.overKey): chunk-partitioned local
    // windows + a triangular join over CHUNK totals only — replaces round
    // 2's O(days²) triangular stopgap and never collapses to one task
    "q94_user_growth" -> { (s, dir) =>
      val firstDay = eventsNs(s, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      val daily = firstDay.groupBy(col("first_day"))
        .agg(count(lit(1)).as("n_new"))
      graft.operators.PrefixSum.overKey(daily, "first_day", "n_new",
          "cum_users", chunkWidth = 32)
        .select(col("first_day"), col("n_new"), col("cum_users"))
    },

    // Cohort retention matrix: users bucketed by first-activity week ×
    // weeks they were active — two count shuffles, output |weeks|² max
    "q95_cohort_retention" -> { (s, dir) =>
      val weeks = eventsNs(s, dir)
        .select(col("user_id"), expr("ts div 604800000000000").as("week"))
        .distinct()
      val cohort = weeks.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      weeks.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), col("week"))
        .agg(count(lit(1)).as("n_active"))
    },

    // First-touch funnel: users whose first signup/view/click/purchase
    // times are in funnel order — one conditional-min agg per user, one
    // global count row (broadcast-friendly: no per-step joins)
    "q96_funnel" -> { (s, dir) =>
      val firsts = eventsNs(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("us"))).as("t1"),
          min(when(col("event_type") === "view", col("us"))).as("t2"),
          min(when(col("event_type") === "click", col("us"))).as("t3"),
          min(when(col("event_type") === "purchase", col("us"))).as("t4"))
      firsts.agg(
        count(col("t1")).as("n_signup"),
        count(when(col("t2") >= col("t1"), lit(1))).as("n_view"),
        count(when(col("t2") >= col("t1") && col("t3") >= col("t2"), lit(1)))
          .as("n_click"),
        count(when(col("t2") >= col("t1") && col("t3") >= col("t2") &&
          col("t4") >= col("t3"), lit(1))).as("n_purchase"))
    },

    // Event-type transition matrix: consecutive-event pairs per user under
    // the total (us, event_id) order — the Markov-chain count table
    "q97_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      eventsNs(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("us"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
    },

    // Sketch-per-window monitoring: HLL (m=64) distinct users per UTC day
    // alongside the exact count — the daily-cardinality dashboard feed,
    // with the sketch's register agg bounded at m rows per day no matter
    // how many events a day holds (the exact twin is the accuracy check
    // the dashboard drops at scale)
    "q178_daily_distinct" -> { (s, dir) =>
      val d = eventsNs(s, dir).select(
        expr("ts div 86400000000000").as("day"),
        col("user_id"),
        graft.functions.TextFunctions
          .portableHash60(col("user_id").cast("string")).as("h"))
      val hll = graft.operators.Sketches
        .hllDistinct(d.select(col("day"), col("h")), Seq("day"), "h",
          log2m = 6)
        .select(col("day"), col("est_distinct"))
      d.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(hll, Seq("day"))
    },

    // T5: tumbling-window event aggregation (batch form of the streaming
    // facade; epoch-second output for engine-neutral timestamps)
    "q36_stream_windows" -> { (s, dir) =>
      EventStream.windowedCounts(CoreQueries.events(s, dir),
        windowDuration = "5 minutes", watermark = "0 seconds")
        .select(
          unix_timestamp(col("window_start")).as("ws"),
          unix_timestamp(col("window_end")).as("we"),
          col("event_type"), col("n_events"))
    },

    // T5: SLIDING windowed counts (10-min windows every 5 min) — each
    // event lands in 2 overlapping windows; identical plan batch/streaming
    "q211_sliding_windows" -> { (s, dir) =>
      EventStream.slidingCounts(CoreQueries.events(s, dir),
        windowDuration = "10 minutes", slideDuration = "5 minutes",
        watermark = "0 seconds")
        .select(
          unix_timestamp(col("window_start")).as("ws"),
          unix_timestamp(col("window_end")).as("we"),
          col("event_type"), col("n_events"))
    },

    // Metric drift: per-event-type OLS of value against the UTC day —
    // exact integer moments (day centered near the data so cross-products
    // stay in BIGINT; value rounded to integer units), one agg shuffle
    "q187_type_trend" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("event_type"),
        (expr("ts div 86400000000000") - 19700L).as("day"),
        round(col("value")).cast("long").as("v"))
      graft.operators.QaSampling.olsPerGroup(ev, "event_type", "day", "v")
    },

    // As-of attachment: each purchase's most recent prior click per user
    // via ONE per-user ordered window (no as-of/range join) — click-to-
    // purchase latency, the attribution primitive
    "q189_event_asof" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"))
      EventStream.asOfLast(ev, "user_id", "us", "event_id", "event_type",
        markerType = "click", targetType = "purchase")
    },

    // Rolling 7-day actives (MAU-7): each (day, user) observation covers
    // windows day..day+6 — a bounded 7x explode then ONE distinct-count
    // shuffle; output limited to days present in the data
    "q190_rolling_actives" -> { (s, dir) =>
      val du = eventsNs(s, dir)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        .distinct()
      val present = du.select(col("day").as("wday")).distinct()
      du.select(explode(sequence(col("day"), col("day") + 6)).as("wday"),
          col("user_id"))
        .join(broadcast(present), Seq("wday"))
        .groupBy(col("wday"))
        .agg(countDistinct(col("user_id")).as("mau7"))
        .select(col("wday").as("day"), col("mau7"))
    },

    // Time-weighted average value per user (TWAP): Σ v·Δt / span on exact
    // integer products — one per-user lead window + one aggregation;
    // Σv·Δt telescopes below v_max · span, so BIGINT holds at any history
    "q191_twap" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"),
        round(col("value")).cast("long").as("v"))
      EventStream.timeWeightedAvg(ev, "user_id", "us", "event_id", "v")
    },

    // Per-user error-rate monitor with Wilson 95% bounds (>= 50 events):
    // one count shuffle; the interval is the byte-identical SQL expression
    // in both engines (see QaSampling.wilson)
    "q192_error_rate_ci" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"),
        (col("event_type") === "error").as("is_err"))
      graft.operators.QaSampling.errorRateCi(ev, "user_id", "is_err",
        minN = 50L)
    },

    // Multi-touch linear attribution: per purchase, clicks since the
    // user's previous purchase share credit equally (integer ppm) — one
    // running-conversion-count window segments the stream, no range join
    "q204_multi_touch" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"))
      EventStream.linearAttribution(ev, "user_id", "us", "event_id",
        "event_type", markerType = "click", targetType = "purchase")
    },

    // Session-duration distribution: dyadic percentiles + mean (exact
    // integer µs sums, one division) over q55's gap sessions — the
    // engagement-depth dashboard number
    "q242_session_durations" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"))
      EventStream.sessionize(ev, "user_id", "us", "event_id",
          gapMicros = 30L * 60 * 1000000)
        .select((col("session_end") - col("session_start")).as("dur_us"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("dur_us")).as("__tot"),
          expr("percentile(dur_us, array(0.25D, 0.5D, 0.75D))").as("__ps"))
        .select(col("n_sessions"),
          expr("__tot div n_sessions").as("mean_dur_us"),
          element_at(col("__ps"), 1).as("p25"),
          element_at(col("__ps"), 2).as("p50"),
          element_at(col("__ps"), 3).as("p75"))
    },

    // Within-session type affinity: which event types co-occur inside one
    // q55 gap-session — distinct (session, type) pairs self-join (bounded
    // by the 5-type domain), the intent-pattern table recommenders read
    "q240_session_affinity" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"))
      val st = EventStream.sessionIds(ev, "user_id", "us", "event_id",
          gapMicros = 30L * 60 * 1000000)
        .select(col("user_id"), col("sess_id"), col("event_type"))
        .distinct()
      st.select(col("user_id"), col("sess_id"),
          col("event_type").as("type_a"))
        .join(st.select(col("user_id"), col("sess_id"),
          col("event_type").as("type_b")), Seq("user_id", "sess_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_sessions"))
    },

    // Hour-of-day seasonality strength: each type's busiest hour and its
    // ppm share of the type's volume — flat (~42k ppm) means no diurnal
    // pattern; one count shuffle + a type-sized roll-up
    "q238_hourly_concentration" -> { (s, dir) =>
      val hourly = eventsNs(s, dir)
        .select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("hour"))
        .groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("c"))
      hourly.groupBy(col("event_type"))
        .agg(sum(col("c")).as("__n"),
          max(struct(col("c"), (lit(23) - col("hour")).as("__rh")))
            .as("__top"))
        .select(col("event_type"),
          (lit(23) - col("__top.__rh")).as("peak_hour"),
          col("__top.c").as("peak_events"),
          expr("(1000000 * __top.c) div __n").as("peak_share_ppm"))
    },

    // Deadline funnel: purchases whose latest prior click is within 24h —
    // conversion-with-SLA counting per UTC day, riding the q189 as-of
    // window (no range join)
    "q235_deadline_conversions" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"))
      EventStream.asOfLast(ev, "user_id", "us", "event_id", "event_type",
          markerType = "click", targetType = "purchase")
        .withColumn("day", expr("us div 86400000000"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("gap_us").isNotNull &&
            col("gap_us") <= 86400000000L, lit(1L)).otherwise(lit(0L)))
            .as("n_within_24h"))
        .withColumn("within_ppm",
          expr("(1000000 * n_within_24h) div n_purchases"))
    },

    // Join-key skew diagnosis: the pre-join audit that decides between a
    // plain shuffle join, salting, and AQE skew handling — key count,
    // heaviest key, its ppm share, hot-key count. The same audit drives
    // SkewJoin.autoJoin's salt-or-not decision (SkewJoinSpec shows the
    // salted join completing without a straggler partition).
    "q234_skew_audit" -> { (s, dir) =>
      graft.operators.SkewJoin.audit(eventsNs(s, dir), Seq("user_id"))
    },

    // Overdispersion check: Fano factor (variance/mean) of daily volumes
    // per type in integer ppm — F >> 1e6 says the arrival process is
    // burstier than Poisson; exact integer moments, one division
    "q232_dispersion_index" -> { (s, dir) =>
      eventsNs(s, dir)
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("fano_ppm",
          expr("(1000000 * (n_days * sxx - sx * sx)) div (n_days * sx)"))
        .select(col("event_type"), col("n_days"), col("sx").as("n_events"),
          col("fano_ppm"))
    },

    // Rolling return rate: of day-d actives, the fraction seen again
    // within the next 7 days — the engagement-health daily series; the
    // "future observation" side explodes backward over the <= 7 query days
    // it answers (bounded, q190's coverage trick), then one semi-join
    "q229_return_rate" -> { (s, dir) =>
      val du = eventsNs(s, dir)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        .distinct()
      val answers = du.select(
        explode(sequence(col("day") - 7, col("day") - 1)).as("day"),
        col("user_id")).distinct()
      val flagged = du.join(answers, Seq("day", "user_id"), "left_semi")
        .groupBy(col("day")).agg(count(lit(1)).as("n_returned"))
      du.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
        .join(flagged, Seq("day"), "left")
        .na.fill(0L, Seq("n_returned"))
        .withColumn("return_ppm", expr("(1000000 * n_returned) div n_active"))
        .select(col("day"), col("n_active"), col("n_returned"),
          col("return_ppm"))
    },

    // Join-size estimation from sketches (the AMS/CMS inner-product
    // estimator a cost-based optimizer runs BEFORE committing a join):
    // |orders ⋈ events on user bucket| estimated as min_j Σ_b c1·c2 over
    // per-side CMS cells vs the exact answer — integer-exact both ways
    "q230_join_size_estimate" -> { (s, dir) =>
      import graft.operators.Sketches
      val left = eventsNs(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").cast("string").as("item"))
      val right = eventsNs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("item"))
      val s1 = Sketches.countMinSparse(left, Seq.empty, "item", 32, 4)
      val s2 = Sketches.countMinSparse(right, Seq.empty, "item", 32, 4)
      val est = s1.select(col("j"), col("bucket"), col("cnt").as("c1"))
        .join(s2.select(col("j"), col("bucket"), col("cnt").as("c2")),
          Seq("j", "bucket"))
        .groupBy(col("j")).agg(sum(col("c1") * col("c2")).as("__ip"))
        .agg(min(col("__ip")).as("est_join_size"))
      val exact = left.groupBy(col("item")).agg(count(lit(1)).as("n1"))
        .join(right.groupBy(col("item")).agg(count(lit(1)).as("n2")),
          Seq("item"))
        .agg(sum(col("n1") * col("n2")).as("exact_join_size"))
      est.crossJoin(broadcast(exact))
    },

    // Trending report: per (day, type) volumes with each type's
    // day-over-day delta and within-day rank — one count shuffle, a
    // per-type lag over the bounded day axis, a per-day rank over 5 types
    "q227_trending_types" -> { (s, dir) =>
      val daily = eventsNs(s, dir)
        .select(expr("ts div 86400000000000").as("day"), col("event_type"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wLag = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val wRank = Window.partitionBy(col("day"))
        .orderBy(col("n").desc, col("event_type").asc)
      daily
        .withColumn("delta", col("n") - lag(col("n"), 1).over(wLag))
        .withColumn("rank", row_number().over(wRank))
        .select(col("day"), col("event_type"), col("n"), col("delta"),
          col("rank"))
    },

    // Robust anomaly days: daily volumes per type flagged when
    // |x − median| > 3·MAD — the q98 median/MAD gate on the time axis
    // (CUSUM q216 catches sustained shifts; this catches spikes)
    "q228_anomaly_days" -> { (s, dir) =>
      val daily = eventsNs(s, dir)
        .select(expr("ts div 86400000000000").as("day"), col("event_type"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val med = daily.groupBy(col("event_type"))
        .agg(expr("percentile(n, 0.5D)").as("med"))
      val dev = daily.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("n") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .withColumn("is_anomaly", col("adev") > col("mad") * 3)
        .select(col("event_type"), col("day"), col("n"), col("med"),
          col("mad"), col("is_anomaly"))
    },

    // Activity heatmap feed: event counts per (weekday, hour) — pure
    // integer epoch-ns arithmetic (epoch day 0 = Thursday -> dow offset
    // 4), identical in both engines, one count shuffle
    "q226_activity_heatmap" -> { (s, dir) =>
      eventsNs(s, dir)
        .select(expr("ts div 86400000000000").as("__day"),
          expr("(ts div 3600000000000) % 24").as("hour"))
        .withColumn("dow", expr("(__day + 4) % 7"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
    },

    // Change-point detection: one-sided CUSUM of daily counts per type
    // against the type's integer mean — the recurrence folds over each
    // type's SORTED day array (a bounded per-group sequence; higher-order
    // aggregate, NOT a driver loop), max drift + its day emitted
    "q216_cusum_changepoint" -> { (s, dir) =>
      val daily = eventsNs(s, dir)
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      val series = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("__tot"),
          array_sort(collect_list(struct(col("day"), col("x")))).as("__s"))
        .withColumn("__ref", expr("__tot div n_days"))
      // fold state: (cum, max_cum, argmax_day); cum = max(0, cum + x - ref)
      val folded = series.withColumn("__f",
        aggregate(col("__s"),
          struct(lit(0L).as("cum"), lit(-1L).as("mx"), lit(-1L).as("mday")),
          (acc, e) => {
            val cum = greatest(lit(0L),
              acc.getField("cum") + e.getField("x") - col("__ref"))
            struct(cum.as("cum"),
              greatest(acc.getField("mx"), cum).as("mx"),
              when(cum > acc.getField("mx"), e.getField("day"))
                .otherwise(acc.getField("mday")).as("mday"))
          }))
      folded.select(col("event_type"), col("n_days"), col("__ref").as("ref"),
        col("__f.mx").as("max_cusum"), col("__f.mday").as("peak_day"))
    },

    // SCD2 interval build (gaps-and-islands): collapse each user's runs of
    // equal props.k into validity intervals [valid_from, valid_to) — the
    // slowly-changing-dimension construction every warehouse needs, as two
    // windows (change flag -> running segment id) + one segment roll-up.
    // The change predicate is NULL-SAFE (<=>): a NULL attribute value is a
    // real SCD2 state that opens its own interval, not a no-change to be
    // absorbed into the preceding one (a first row whose k is NULL rides
    // in segment 0 — still its own interval).
    "q207_scd2_intervals" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("event_id").asc)
      val seg = eventsNs(s, dir)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .withColumn("__chg",
          when(!(lag(col("k"), 1).over(w) <=> col("k")), lit(1L))
            .otherwise(lit(0L)))
        .withColumn("__seg", sum(col("__chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val runs = seg.groupBy(col("user_id"), col("__seg"))
        .agg(min(col("k")).as("k"), min(col("us")).as("valid_from"),
          count(lit(1)).as("n_events"))
      runs.withColumn("valid_to",
          lead(col("valid_from"), 1).over(Window.partitionBy(col("user_id"))
            .orderBy(col("valid_from").asc)))
        .select(col("user_id"), col("k"), col("valid_from"), col("valid_to"),
          col("n_events"))
    },

    // Exact two-sample KS drift: each source's token-length CDF against
    // the global one, sup-norm in integer ppm via cross-multiplication —
    // distribution-drift monitoring with zero FP accumulation
    "q208_ks_drift" -> { (s, dir) =>
      val d = eventsNs(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
      val perType = d.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("__c"))
      val domain = d.select(col("v")).distinct()
      val types = perType.select(col("event_type")).distinct()
      val grid = types.crossJoin(domain)
        .join(perType, Seq("event_type", "v"), "left")
        .na.fill(0L, Seq("__c"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = grid.withColumn("__cs", sum(col("__c")).over(wc))
        .withColumn("__n", sum(col("__c")).over(
          Window.partitionBy(col("event_type"))))
      val global = d.groupBy(col("v")).agg(count(lit(1)).as("__gc"))
        .withColumn("__gs", sum(col("__gc")).over(
          Window.orderBy(col("v").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("__gN"))))
        .select(col("v"), col("__gs"), col("__gN"))
      cdf.join(global, Seq("v"))
        .withColumn("__diff",
          abs(col("__cs") * col("__gN") - col("__gs") * col("__n")))
        .groupBy(col("event_type"))
        .agg(max(col("__n")).as("n"),
          expr("(1000000 * max(__diff)) div (max(__n) * max(__gN))")
            .as("ks_ppm"))
        .select(col("event_type"), col("n"), col("ks_ppm"))
    },

    // Burst detection: per-user per-minute event counts — max rate and
    // minutes at >= 2 events, the abuse/rate-limit monitoring gate
    "q206_burst_windows" -> { (s, dir) =>
      eventsNs(s, dir)
        .select(col("user_id"), expr("ts div 60000000000").as("minute"))
        .groupBy(col("user_id"), col("minute"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("user_id"))
        .agg(max(col("__c")).as("max_per_min"),
          sum(when(col("__c") >= 2, lit(1L)).otherwise(lit(0L)))
            .as("n_burst_minutes"))
    },

    // Bitmap set algebra: per-event-type user sets as 64-bit word bitmaps
    // (bit_or agg, 32-bit words so no checked-shift overflow), pairwise
    // overlap = popcount of ANDed words — the
    // bitmap-index semi-join that answers "users doing both X and Y"
    // without a distinct-count shuffle per pair
    "q201_bitmap_overlap" -> { (s, dir) =>
      val du = eventsNs(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      val words = du
        .groupBy(col("event_type"), expr("user_id div 32").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))")
          .as("bits"))
      val a = words.select(col("event_type").as("type_a"), col("w"),
        col("bits").as("ba"))
      val b = words.select(col("event_type").as("type_b"), col("w"),
        col("bits").as("bb"))
      a.join(b, Seq("w")).filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(sum(expr("bit_count(ba & bb)")).cast("long").as("n_both"))
    },

    // Z-order (Morton) layout key over (user_id, day): the multi-dim
    // clustering key a 100 TB table is range-partitioned and written by so
    // min/max file stats prune BOTH dimensions — pure integer arithmetic,
    // engine-portable (shared expression text)
    "q202_zorder_key" -> { (s, dir) =>
      val z = graft.functions.Layout.zOrderSql("x", "y", bits = 8)
      eventsNs(s, dir)
        .select(col("event_id"), col("user_id").as("x"),
          (expr("ts div 86400000000000") - 19700L).as("y"))
        .withColumn("zkey", expr(z))
        .select(col("event_id"), col("x"), col("y"), col("zkey"))
    },

    // CMS linearity in production shape: per-day sketches merged into the
    // period sketch answer EXACTLY like sketching the whole stream —
    // est_merged == est_direct row-for-row (the property the partition-
    // then-merge serving architecture rests on), with exact counts beside
    "q194_cms_day_merge" -> { (s, dir) =>
      import graft.operators.Sketches
      val ev = eventsNs(s, dir).select(
        expr("ts div 86400000000000").as("day"),
        col("user_id").cast("string").as("item"))
      val daily = Sketches.countMinSparse(ev, Seq("day"), "item",
        width = 32, depth = 4)
      val merged = Sketches.cmsMergeSparse(daily, Seq.empty)
      val direct = Sketches.countMinSparse(ev.select(col("item")), Seq.empty,
        "item", width = 32, depth = 4)
      val probes = ev.select(col("item")).distinct()
      val estM = Sketches.cmsEstimateSparse(merged, probes, Seq.empty,
        "item", width = 32, depth = 4)
        .withColumnRenamed("est_count", "est_merged")
      val estD = Sketches.cmsEstimateSparse(direct, probes, Seq.empty,
        "item", width = 32, depth = 4)
        .withColumnRenamed("est_count", "est_direct")
      val exact = ev.groupBy(col("item")).agg(count(lit(1)).as("n_events"))
      estM.join(estD, Seq("item")).join(exact, Seq("item"))
        .select(col("item").cast("long").as("user_id"), col("est_merged"),
          col("est_direct"), col("n_events"))
    },

    // Robust per-type mean: drop each type's bottom and top decile by
    // exact integer rank (n div 10 rows each side), average the core —
    // the trimmed mean QC metric; rank window partitions per type
    "q198_trimmed_mean" -> { (s, dir) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("v").asc, col("event_id").asc)
      eventsNs(s, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("v"))
        .withColumn("__rk", row_number().over(w))
        .withColumn("__n", count(lit(1))
          .over(Window.partitionBy(col("event_type"))))
        .filter(col("__rk") > expr("__n div 10") &&
          col("__rk") <= col("__n") - expr("__n div 10"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"), sum(col("v")).as("__s"))
        .withColumn("trimmed_mean",
          round(col("__s").cast("double") / col("n_kept"), 6))
        .select(col("event_type"), col("n_kept"), col("trimmed_mean"))
    },

    // Conversion-latency distribution: dyadic percentiles of the q189
    // click->purchase gap (converted purchases only) — attribution
    // latency, the funnel-health dashboard number
    "q199_conversion_latency" -> { (s, dir) =>
      val ev = eventsNs(s, dir).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"))
      EventStream.asOfLast(ev, "user_id", "us", "event_id", "event_type",
          markerType = "click", targetType = "purchase")
        .filter(col("gap_us").isNotNull)
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(gap_us, array(0.25D, 0.5D, 0.75D))").as("__ps"))
        .select(col("n_converted"),
          element_at(col("__ps"), 1).as("p25"),
          element_at(col("__ps"), 2).as("p50"),
          element_at(col("__ps"), 3).as("p75"))
    },

    // Daily value-percentile monitoring (the p25/p50/p75 latency-dashboard
    // shape): exact type-7 quantiles at dyadic probabilities over integer-
    // scaled values — one day-keyed aggregation
    "q195_daily_percentiles" -> { (s, dir) =>
      eventsNs(s, dir)
        .select(expr("ts div 86400000000000").as("day"),
          round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("day"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("__ps"))
        .select(col("day"), col("n"),
          element_at(col("__ps"), 1).as("p25"),
          element_at(col("__ps"), 2).as("p50"),
          element_at(col("__ps"), 3).as("p75"))
    }
  )

  /** DuckDB twin of [[graft.functions.TextFunctions.portableHash60]]
    * (same as DataQueries). */
  private val sqlHash60 =
    "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)"

  /** DuckDB twin of [[graft.functions.TextFunctions.hash60b]] (the CMS
    * double-hash bucket family's second hash). */
  private def sqlHash60b(h: String, seed: Long) =
    s"CAST(concat('0x', substr(md5(concat(CAST($h AS VARCHAR), '#$seed'))," +
      " 1, 15)) AS BIGINT)"

  private val sqlSamples =
    """SELECT user_id AS channel,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS BIGINT)
      |    AS sample_index,
      |  round(value * 100) AS value
      |FROM events""".stripMargin

  val oracle: Map[String, String] = Map(
    // same centered-integer moments; each coefficient is one double
    // division of two exact BIGINTs, so round(..., 6) matches
    "q187_type_trend" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 - 19700 AS day,
        |    CAST(round(value) AS BIGINT) AS v
        |  FROM events
        |), m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(v) AS BIGINT) AS sy,
        |    CAST(SUM(day * v) AS BIGINT) AS sxy,
        |    CAST(SUM(day * day) AS BIGINT) AS sxx
        |  FROM e GROUP BY 1
        |)
        |SELECT event_type, n,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx), 6)
        |  END AS slope,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round(CAST(sy * sxx - sx * sxy AS DOUBLE) / (n * sxx - sx * sx), 6)
        |  END AS intercept
        |FROM m""".stripMargin,

    // day..day+6 coverage via a range join (the explode mirror)
    "q190_rolling_actives" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
        |  FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM du
        |)
        |SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau7
        |FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1""".stripMargin,

    // lead window + exact integer v·Δt products; one double division
    "q191_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(round(value) AS BIGINT) AS v
        |  FROM events
        |), s AS (
        |  SELECT user_id, us, v,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
        |  FROM e
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
        |  CASE WHEN MAX(us) - MIN(us) > 0 THEN
        |    round(CAST(SUM(CASE WHEN nxt IS NOT NULL THEN v * (nxt - us) END)
        |      AS DOUBLE) / (MAX(us) - MIN(us)), 6)
        |  END AS twap
        |FROM s GROUP BY 1""".stripMargin,

    // q55's session CTE -> per-session spans -> global stats
    "q242_session_durations" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
        |), g AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |           IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id
        |             ORDER BY us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e
        |), s AS (
        |  SELECT user_id, us,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g
        |), d AS (
        |  SELECT CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
        |  FROM s GROUP BY user_id, sess_id
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(CAST(SUM(dur_us) AS BIGINT) // COUNT(*) AS BIGINT)
        |    AS mean_dur_us,
        |  quantile_cont(dur_us, 0.25) AS p25,
        |  quantile_cont(dur_us, 0.5) AS p50,
        |  quantile_cont(dur_us, 0.75) AS p75
        |FROM d""".stripMargin,

    // q55's session CTE kept per-event, then the bounded type-pair join
    "q240_session_affinity" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
        |  FROM events
        |), g AS (
        |  SELECT user_id, event_id, us, event_type,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |           IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id
        |             ORDER BY us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e
        |), s AS (
        |  SELECT user_id, event_type,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g
        |), st AS (
        |  SELECT DISTINCT user_id, sess_id, event_type FROM s
        |)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM st a JOIN st b
        |  ON a.user_id = b.user_id AND a.sess_id = b.sess_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,

    // arg-max hour by (count desc, hour asc) — the struct-max tie rule
    "q238_hourly_concentration" ->
      """WITH h AS (
        |  SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1
        |), r AS (
        |  SELECT event_type, hour, c,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY c DESC, hour ASC) AS rk
        |  FROM h
        |)
        |SELECT r.event_type, CAST(r.hour AS BIGINT) AS peak_hour,
        |  r.c AS peak_events,
        |  CAST((1000000 * r.c) // t.n AS BIGINT) AS peak_share_ppm
        |FROM r JOIN t USING (event_type) WHERE r.rk = 1""".stripMargin,

    // the q189 window + a daily SLA roll-up
    "q235_deadline_conversions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), g AS (
        |  SELECT user_id, event_id, us, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS marker_us
        |  FROM e
        |), p AS (
        |  SELECT us // 86400000000 AS day,
        |    CASE WHEN marker_us IS NOT NULL AND us - marker_us <= 86400000000
        |      THEN 1 ELSE 0 END AS w
        |  FROM g WHERE event_type = 'purchase'
        |)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(w) AS BIGINT) AS n_within_24h,
        |  CAST((1000000 * SUM(w)) // COUNT(*) AS BIGINT) AS within_ppm
        |FROM p GROUP BY 1""".stripMargin,

    // key weights, totals, hot = c·n_keys > 2·n_rows
    "q234_skew_audit" ->
      """WITH k AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1
        |), t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(MAX(c) AS BIGINT) AS max_key_rows
        |  FROM k
        |), h AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hot_keys
        |  FROM k CROSS JOIN t WHERE k.c * t.n_keys > 2 * t.n_rows
        |)
        |SELECT t.n_keys, t.n_rows, t.max_key_rows, h.n_hot_keys,
        |  CAST((1000000 * t.max_key_rows) // t.n_rows AS BIGINT)
        |    AS top_share_ppm
        |FROM t CROSS JOIN h""".stripMargin,

    // identical integer moments; note Spark's F uses the biased (1/n)
    // variance — the oracle mirrors the same formula, not Bessel's
    "q232_dispersion_index" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1
        |)
        |SELECT event_type, n_days, sx AS n_events,
        |  CAST((1000000 * (n_days * sxx - sx * sx)) // (n_days * sx)
        |    AS BIGINT) AS fano_ppm
        |FROM m""".stripMargin,

    // the backward coverage explode as day - k, k in 1..7
    "q229_return_rate" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
        |  FROM events
        |), ans AS (
        |  SELECT DISTINCT day - k AS day, user_id
        |  FROM du CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS k)
        |), ret AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_returned FROM (
        |    SELECT DISTINCT d.day, d.user_id
        |    FROM du d JOIN ans a ON a.day = d.day AND a.user_id = d.user_id)
        |  GROUP BY 1
        |), act AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active FROM du GROUP BY 1
        |)
        |SELECT act.day, act.n_active,
        |  COALESCE(ret.n_returned, 0) AS n_returned,
        |  CAST((1000000 * COALESCE(ret.n_returned, 0)) // act.n_active
        |    AS BIGINT) AS return_ppm
        |FROM act LEFT JOIN ret USING (day)""".stripMargin,

    // CMS cells per side (q194's hash family), inner products per row j,
    // min over j = the estimate; exact via the per-key count join
    "q230_join_size_estimate" -> {
      s"""WITH l AS (
         |  SELECT CAST(user_id AS VARCHAR) AS s FROM events
         |  WHERE event_type = 'click'
         |), r AS (
         |  SELECT CAST(user_id AS VARCHAR) AS s FROM events
         |  WHERE event_type = 'purchase'
         |), d(j) AS (VALUES (0), (1), (2), (3)
         |), h1 AS (
         |  SELECT hx, ${sqlHash60b("hx", 7L)} AS hy FROM (
         |    SELECT $sqlHash60 AS hx FROM l)
         |), h2 AS (
         |  SELECT hx, ${sqlHash60b("hx", 7L)} AS hy FROM (
         |    SELECT $sqlHash60 AS hx FROM r)
         |), c1 AS (
         |  SELECT j, (hx % 32 + j * (1 + hy % 31)) % 32 AS bk,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM h1 CROSS JOIN d GROUP BY 1, 2
         |), c2 AS (
         |  SELECT j, (hx % 32 + j * (1 + hy % 31)) % 32 AS bk,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM h2 CROSS JOIN d GROUP BY 1, 2
         |), ip AS (
         |  SELECT c1.j, CAST(SUM(c1.c * c2.c) AS BIGINT) AS ip
         |  FROM c1 JOIN c2 ON c1.j = c2.j AND c1.bk = c2.bk
         |  GROUP BY 1
         |), ex AS (
         |  SELECT CAST(SUM(n1 * n2) AS BIGINT) AS exact_join_size FROM (
         |    SELECT s, CAST(COUNT(*) AS BIGINT) AS n1 FROM l GROUP BY 1) a
         |  JOIN (
         |    SELECT s, CAST(COUNT(*) AS BIGINT) AS n2 FROM r GROUP BY 1) b
         |  USING (s)
         |)
         |SELECT (SELECT CAST(MIN(ip) AS BIGINT) FROM ip) AS est_join_size,
         |  ex.exact_join_size
         |FROM ex""".stripMargin
    },

    // lag + rank windows over the bounded day/type grid
    "q227_trending_types" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT day, event_type, n,
        |  n - lag(n) OVER (PARTITION BY event_type ORDER BY day ASC) AS delta,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY day
        |    ORDER BY n DESC, event_type ASC) AS INTEGER) AS rank
        |FROM daily""".stripMargin,

    // dyadic median + MAD on the day axis (type-7, exact at 0.5)
    "q228_anomaly_days" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT event_type, quantile_cont(n, 0.5) AS med
        |  FROM daily GROUP BY 1
        |), dev AS (
        |  SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev
        |  FROM daily d JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT dev.event_type, dev.day, dev.n, dev.med, mad.mad,
        |  dev.adev > mad.mad * 3 AS is_anomaly
        |FROM dev JOIN mad USING (event_type)""".stripMargin,

    // identical integer epoch arithmetic
    "q226_activity_heatmap" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour
        |  FROM events
        |)
        |SELECT CAST((day + 4) % 7 AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM e GROUP BY 1, 2""".stripMargin,

    // the CUSUM recurrence replayed as a recursive CTE over day ranks —
    // identical base case and strict-> tie rule as the Spark fold
    "q216_cusum_changepoint" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS tot
        |  FROM daily GROUP BY 1
        |), r AS (
        |  SELECT d.event_type, d.day, d.x, m.tot // m.n_days AS ref,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day)
        |      AS BIGINT) AS rn
        |  FROM daily d JOIN m USING (event_type)
        |), walk(event_type, rn, cum, mx, mday) AS (
        |  SELECT event_type, rn,
        |    GREATEST(CAST(0 AS BIGINT), x - ref),
        |    GREATEST(CAST(0 AS BIGINT), x - ref), day
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn,
        |    GREATEST(CAST(0 AS BIGINT), w.cum + r.x - r.ref),
        |    CASE WHEN GREATEST(CAST(0 AS BIGINT), w.cum + r.x - r.ref) > w.mx
        |      THEN GREATEST(CAST(0 AS BIGINT), w.cum + r.x - r.ref)
        |      ELSE w.mx END,
        |    CASE WHEN GREATEST(CAST(0 AS BIGINT), w.cum + r.x - r.ref) > w.mx
        |      THEN r.day ELSE w.mday END
        |  FROM walk w JOIN r ON r.event_type = w.event_type AND r.rn = w.rn + 1
        |), fin AS (
        |  SELECT event_type, mx, mday,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rn DESC) AS rr
        |  FROM walk
        |)
        |SELECT f.event_type, m.n_days, m.tot // m.n_days AS ref,
        |  f.mx AS max_cusum, f.mday AS peak_day
        |FROM fin f JOIN m USING (event_type) WHERE f.rr = 1""".stripMargin,

    // lag/change-flag/running-segment windows + the run roll-up;
    // null-safe change flag (IS DISTINCT FROM) mirrors the <=> predicate
    "q207_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, us, k,
        |    CASE WHEN lag(k) OVER w IS DISTINCT FROM k
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)
        |), s2 AS (
        |  SELECT user_id, us, k,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
        |  FROM s
        |), r AS (
        |  SELECT user_id, seg, MIN(k) AS k, MIN(us) AS valid_from,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM s2 GROUP BY 1, 2
        |)
        |SELECT user_id, k, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from ASC)
        |    AS valid_to,
        |  n_events
        |FROM r""".stripMargin,

    // full-grid CDFs (domain cross join), integer cross-multiplied sup-norm
    "q208_ks_drift" ->
      """WITH d AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
        |), pt AS (
        |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
        |), dom AS (
        |  SELECT DISTINCT v FROM d
        |), ty AS (
        |  SELECT DISTINCT event_type FROM d
        |), grid AS (
        |  SELECT ty.event_type, dom.v, COALESCE(pt.c, 0) AS c
        |  FROM ty CROSS JOIN dom
        |  LEFT JOIN pt ON pt.event_type = ty.event_type AND pt.v = dom.v
        |), cdf AS (
        |  SELECT event_type, v,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM grid
        |), g AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS gc FROM d GROUP BY 1
        |), g2 AS (
        |  SELECT v, CAST(SUM(gc) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS gs
        |  FROM g
        |), nn AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS N FROM d
        |)
        |SELECT c.event_type, MAX(c.n) AS n,
        |  CAST((1000000 * MAX(abs(c.cs * nn.N - g2.gs * c.n)))
        |    // (MAX(c.n) * MAX(nn.N)) AS BIGINT) AS ks_ppm
        |FROM cdf c JOIN g2 USING (v) CROSS JOIN nn
        |GROUP BY 1""".stripMargin,

    // the running-purchase-count window, then per-(user, segment) counts
    "q204_multi_touch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), s AS (
        |  SELECT user_id, event_id, us, event_type,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS seg
        |  FROM e
        |), g AS (
        |  SELECT user_id, seg,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_markers,
        |    MAX(CASE WHEN event_type = 'purchase' THEN event_id END)
        |      AS conversion_id
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT user_id, conversion_id, n_markers,
        |  CASE WHEN n_markers > 0
        |    THEN CAST(1000000 // n_markers AS BIGINT) END AS credit_ppm
        |FROM g WHERE conversion_id IS NOT NULL""".stripMargin,

    // per-minute counts, then the per-user roll-up
    "q206_burst_windows" ->
      """WITH m AS (
        |  SELECT user_id, epoch_ns(ts) // 60000000000 AS minute,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(MAX(c) AS BIGINT) AS max_per_min,
        |  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_burst_minutes
        |FROM m GROUP BY 1""".stripMargin,

    // 32-bit words in BIGINT lanes (shift 63 overflows DuckDB's checked <<), AND + bit_count for the overlap
    "q201_bitmap_overlap" ->
      """WITH du AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |), w AS (
        |  SELECT event_type, user_id // 32 AS w,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS bits
        |  FROM du GROUP BY 1, 2
        |)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS n_both
        |FROM w a JOIN w b ON a.w = b.w AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,

    // the identical Morton arithmetic (integer div/mod, no shift builtins)
    "q202_zorder_key" -> {
      val z = graft.functions.Layout.zOrderSqlDuck("x", "y", bits = 8)
      s"""WITH e AS (
         |  SELECT event_id, user_id AS x,
         |    epoch_ns(ts) // 86400000000000 - 19700 AS y
         |  FROM events
         |)
         |SELECT event_id, x, y, $z AS zkey FROM e""".stripMargin
    },

    // ONE estimate CTE serves both columns — merged and direct sketches
    // are provably cell-identical (CMS linearity), which is the claim
    "q194_cms_day_merge" -> {
      s"""WITH e AS (
         |  SELECT CAST(user_id AS VARCHAR) AS s FROM events
         |), h AS (
         |  SELECT s, hx, ${sqlHash60b("hx", 7L)} AS hy FROM (
         |    SELECT s, $sqlHash60 AS hx FROM e)
         |), d(j) AS (VALUES (0), (1), (2), (3)
         |), b AS (
         |  SELECT s, j, (hx % 32 + j * (1 + hy % 31)) % 32 AS bk
         |  FROM h CROSS JOIN d
         |), cnts AS (
         |  SELECT j, bk, COUNT(*) AS c FROM b GROUP BY 1, 2
         |), probes AS (
         |  SELECT DISTINCT s, hx, hy FROM h
         |), pb AS (
         |  SELECT s, j, (hx % 32 + j * (1 + hy % 31)) % 32 AS bk
         |  FROM probes CROSS JOIN d
         |), est AS (
         |  SELECT pb.s, MIN(coalesce(c.c, 0)) AS est
         |  FROM pb LEFT JOIN cnts c ON c.j = pb.j AND c.bk = pb.bk
         |  GROUP BY 1
         |), exact AS (
         |  SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1
         |)
         |SELECT CAST(est.s AS BIGINT) AS user_id,
         |  CAST(est.est AS BIGINT) AS est_merged,
         |  CAST(est.est AS BIGINT) AS est_direct,
         |  exact.n AS n_events
         |FROM est JOIN exact ON est.s = exact.s""".stripMargin
    },

    // rank + count windows, integer decile cut, one double division
    "q198_trimmed_mean" ->
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events
        |), r AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS trimmed_mean
        |FROM r WHERE rk > n // 10 AND rk <= n - n // 10
        |GROUP BY 1""".stripMargin,

    // q189's gap subquery + dyadic percentiles over converted purchases
    "q199_conversion_latency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), g AS (
        |  SELECT user_id, event_id, us, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS marker_us
        |  FROM e
        |), gaps AS (
        |  SELECT us - marker_us AS gap_us FROM g
        |  WHERE event_type = 'purchase' AND marker_us IS NOT NULL
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  quantile_cont(gap_us, 0.25) AS p25,
        |  quantile_cont(gap_us, 0.5) AS p50,
        |  quantile_cont(gap_us, 0.75) AS p75
        |FROM gaps""".stripMargin,

    // dyadic-probability type-7 quantiles (exact interpolation in binary)
    "q195_daily_percentiles" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events
        |)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_cont(v, 0.25) AS p25,
        |  quantile_cont(v, 0.5) AS p50,
        |  quantile_cont(v, 0.75) AS p75
        |FROM e GROUP BY 1""".stripMargin,

    // the identical Wilson expression text over (p, n) — see QaSampling
    "q192_error_rate_ci" -> {
      val lo = graft.operators.QaSampling.wilsonSql("-", "p", "nn")
      val hi = graft.operators.QaSampling.wilsonSql("+", "p", "nn")
      s"""WITH c AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_err
         |  FROM events GROUP BY 1
         |), f AS (
         |  SELECT user_id, n, n_err, CAST(n AS DOUBLE) AS nn,
         |    CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE) AS p
         |  FROM c WHERE n >= 50
         |)
         |SELECT user_id, n, n_err, $lo AS lo, $hi AS hi FROM f""".stripMargin
    },

    // the window mirror: last prior click timestamp per user at each
    // purchase, ties resolved by (us, event_id)
    "q189_event_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), g AS (
        |  SELECT user_id, event_id, us, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS marker_us
        |  FROM e
        |)
        |SELECT user_id, event_id, us, marker_us, us - marker_us AS gap_us
        |FROM g WHERE event_type = 'purchase'""".stripMargin,

    "q279_chunking_selection" ->
      """WITH files AS (
        |  SELECT p_partkey AS physio_file_id,
        |    CASE p_partkey % 4 WHEN 0 THEN 'ctf' WHEN 1 THEN 'edf'
        |         WHEN 2 THEN 'set' ELSE 'bdf' END AS file_type
        |  FROM part WHERE p_partkey % 5 <> 4
        |), chunked AS (
        |  SELECT p_partkey AS physio_file_id FROM part
        |  WHERE p_partkey % 3 = 0
        |)
        |SELECT f.physio_file_id, f.file_type,
        |  CASE WHEN c.physio_file_id IS NOT NULL THEN 'skip_already_chunked'
        |       WHEN f.file_type = 'ctf' THEN 'ctf-to-chunks'
        |       WHEN f.file_type = 'edf' THEN 'edf-to-chunks'
        |       WHEN f.file_type = 'set' THEN 'eeglab-to-chunks'
        |       ELSE 'unsupported_type' END AS action
        |FROM files f LEFT JOIN chunked c USING (physio_file_id)
        |WHERE f.physio_file_id BETWEEN 100 AND 120000""".stripMargin,

    "q33_ephys_chunks" ->
      s"""WITH s AS ($sqlSamples),
         |c AS (
         |  SELECT channel, sample_index // 32 AS chunk_index,
         |    CAST(COUNT(*) AS INTEGER) AS n_samples,
         |    MIN(value) AS chunk_min, MAX(value) AS chunk_max
         |  FROM s GROUP BY channel, sample_index // 32
         |)
         |SELECT channel, chunk_index, n_samples, chunk_min, chunk_max,
         |  chunk_index = MAX(chunk_index) OVER (PARTITION BY channel) AS is_last,
         |  CASE WHEN chunk_index = MAX(chunk_index) OVER (PARTITION BY channel)
         |       THEN n_samples ELSE 32 END AS valid_samples
         |FROM c""".stripMargin,

    // q33's twin + arg_max(value, sample_index) for the edge-pad value
    // (sample_index is unique per channel, so arg_max is deterministic)
    "q313_chunk_stats_fused" ->
      s"""WITH s AS ($sqlSamples),
         |c AS (
         |  SELECT channel, sample_index // 32 AS chunk_index,
         |    CAST(COUNT(*) AS INTEGER) AS n_samples,
         |    MIN(value) AS chunk_min, MAX(value) AS chunk_max,
         |    arg_max(value, sample_index) AS last_value
         |  FROM s GROUP BY channel, sample_index // 32
         |)
         |SELECT channel, chunk_index, n_samples, chunk_min, chunk_max,
         |  last_value,
         |  chunk_index = MAX(chunk_index) OVER (PARTITION BY channel) AS is_last,
         |  CASE WHEN chunk_index = MAX(chunk_index) OVER (PARTITION BY channel)
         |       THEN n_samples ELSE 32 END AS valid_samples
         |FROM c""".stripMargin,

    "q34_pyramid_plan" ->
      s"""WITH s AS ($sqlSamples),
         |n AS (
         |  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_samples FROM s GROUP BY channel
         |), lv AS (
         |  SELECT channel, n_samples,
         |    CASE WHEN n_samples <= 1 THEN 0 WHEN n_samples <= 8 THEN 1
         |         WHEN n_samples <= 64 THEN 2 WHEN n_samples <= 512 THEN 3
         |         WHEN n_samples <= 4096 THEN 4 WHEN n_samples <= 32768 THEN 5
         |         ELSE 6 END AS n_levels
         |  FROM n
         |), ex AS (
         |  SELECT channel, n_samples, n_levels,
         |    CAST(unnest(generate_series(0, greatest(n_levels - 1, 0))) AS INTEGER) AS level
         |  FROM lv
         |), sz AS (
         |  SELECT channel, n_samples, n_levels, level,
         |    CAST(power(8, level) AS BIGINT) AS bucket_size,
         |    (n_samples + CAST(power(8, level) AS BIGINT) - 1)
         |      // CAST(power(8, level) AS BIGINT) AS target_size
         |  FROM ex
         |)
         |SELECT channel, n_samples, n_levels,
         |  CAST(MIN(level) AS INTEGER) AS level,
         |  MIN(bucket_size) AS bucket_size, target_size
         |FROM sz GROUP BY channel, n_samples, n_levels, target_size""".stripMargin,

    "q35_downsample_avg" ->
      s"""WITH s AS ($sqlSamples)
         |SELECT channel, sample_index // 16 AS sample_index, AVG(value) AS value
         |FROM s GROUP BY channel, sample_index // 16""".stripMargin,

    "q106_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
        |), g AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), s AS (
        |  SELECT user_id, us,
        |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        |  FROM g
        |)
        |SELECT user_id, MIN(us) AS session_start,
        |  MAX(us) + 1800000000 AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess""".stripMargin,

    "q55_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
        |), g AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e
        |), s AS (
        |  SELECT user_id, us,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g
        |)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |  MIN(us) AS session_start, MAX(us) AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q93_resample_fill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS us, round(value * 100) AS v
        |  FROM events
        |), b AS (
        |  SELECT user_id, MIN(us) AS t0, MAX(us) AS t1 FROM e GROUP BY 1
        |), grid AS (
        |  SELECT user_id, unnest(generate_series(t0, t1, 21600000000)) AS us
        |  FROM b
        |), allr AS (
        |  SELECT user_id, us, v, 0 AS g FROM e
        |  UNION ALL
        |  SELECT user_id, us, NULL, 1 FROM grid
        |), f AS (
        |  SELECT user_id, us, g,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY us ASC, g ASC, v ASC NULLS LAST
        |      ROWS UNBOUNDED PRECEDING) AS fv
        |  FROM allr
        |)
        |SELECT user_id, us AS grid_us, fv AS v FROM f WHERE g = 1""".stripMargin,

    "q94_user_growth" ->
      """WITH f AS (
        |  SELECT user_id, MIN(epoch_ns(ts) // 86400000000000) AS first_day
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT first_day, COUNT(*) AS n_new FROM f GROUP BY 1
        |)
        |SELECT first_day, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY first_day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM d""".stripMargin,

    "q95_cohort_retention" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS week
        |  FROM events
        |), c AS (
        |  SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY 1
        |)
        |SELECT c.cohort_week, w.week, COUNT(*) AS n_active
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q96_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000 END) AS t1,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END) AS t2,
        |    MIN(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END) AS t3,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS t4
        |  FROM events GROUP BY 1
        |)
        |SELECT COUNT(t1) AS n_signup,
        |  COUNT(CASE WHEN t2 >= t1 THEN 1 END) AS n_view,
        |  COUNT(CASE WHEN t2 >= t1 AND t3 >= t2 THEN 1 END) AS n_click,
        |  COUNT(CASE WHEN t2 >= t1 AND t3 >= t2 AND t4 >= t3 THEN 1 END)
        |    AS n_purchase
        |FROM f""".stripMargin,

    "q97_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events
        |), p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS to_type
        |  FROM e
        |)
        |SELECT from_type, to_type, COUNT(*) AS n
        |FROM p WHERE to_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q178_daily_distinct" -> {
      val num = graft.operators.Sketches.hllNumerator(6).toString
      s"""WITH e AS (
         |  SELECT epoch_ns(ts) // 86400000000000 AS day, user_id,
         |    CAST(concat('0x',
         |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events
         |), r AS (
         |  SELECT day, h % 64 AS idx, h // 64 AS w FROM e
         |), bl AS (
         |  SELECT day, idx,
         |    CASE WHEN w = 0 THEN 0
         |         ELSE (length(printf('%x', w)) - 1) * 4 +
         |           CASE WHEN substr(printf('%x', w), 1, 1) = '1' THEN 1
         |                WHEN substr(printf('%x', w), 1, 1) IN ('2', '3')
         |                  THEN 2
         |                WHEN substr(printf('%x', w), 1, 1)
         |                  IN ('4', '5', '6', '7') THEN 3
         |                ELSE 4 END
         |    END AS b
         |  FROM r
         |), reg AS (
         |  SELECT day, idx, MIN(b) AS mb FROM bl GROUP BY 1, 2
         |), g AS (
         |  SELECT day,
         |    CAST(SUM(CAST(1 AS BIGINT) << mb) AS BIGINT) AS s,
         |    COUNT(*) AS present
         |  FROM reg GROUP BY 1
         |), ex AS (
         |  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM e GROUP BY 1
         |)
         |SELECT ex.day, ex.n_exact,
         |  CAST(floor($num /
         |    CAST(s + (64 - present) * 36028797018963968 AS DOUBLE))
         |    AS BIGINT) AS est_distinct
         |FROM ex JOIN g ON ex.day = g.day""".stripMargin
    },

    "q36_stream_windows" ->
      """SELECT
        |  CAST(epoch(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws,
        |  CAST(epoch(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))) AS BIGINT) + 300 AS we,
        |  event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    // each event belongs to the 2 sliding windows ending after it:
    // starts (t div 300 - k)*300 for k in {0, 1}
    "q211_sliding_windows" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000000000 AS t, event_type FROM events
        |), w AS (
        |  SELECT (t // 300 - k) * 300 AS ws, event_type
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
        |)
        |SELECT CAST(ws AS BIGINT) AS ws, CAST(ws + 600 AS BIGINT) AS we,
        |  event_type, COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2, 3""".stripMargin
  )
}
