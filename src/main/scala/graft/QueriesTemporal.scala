package graft

import org.apache.spark.sql.functions._

/** Event-time oracle queries over `events`: tumbling-window aggregation
  * (the batch twin of the streaming query), the as-of join,
  * gap-based sessionization and the bounded-gap range join. The as-of
  * oracle uses DuckDB's native ASOF JOIN, a genuinely independent
  * implementation of the same semantics.
  */
object QueriesTemporal {

  /** Event-time tumbling-window aggregation — the batch twin of
    * StreamingPipeline.windowedEventCounts (same plan, bounded input).
    * The value sum is emitted integer-scaled (the p12 precedent): a raw
    * double `sum` is partial-sum-order dependent and diverged by 1 ulp
    * at sf1 group sizes (r16 full-suite sf1 sweep) — `floor(value*1e6)`
    * is computed identically by both engines and its Long sum is exact.
    */
  val evWindowed: QueryDef = QueryDef("ev_windowed_agg",
    (s, dir) => Queries.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1e6).cast("long")).as("total_value_e6"))
      .select(col("window.start").cast("long").as("window_start_epoch"),
        col("event_type"), col("n"), col("total_value_e6"))
      .orderBy("window_start_epoch", "event_type"),
    Some("SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS " +
      "window_start_epoch, event_type, count(*) AS n, " +
      "CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS " +
      "total_value_e6 FROM events GROUP BY 1, 2 ORDER BY 1, 2"))

  /** As-of join: each click event picks up the latest at-or-before
    * purchase by the same user (backward-inclusive). (user_id, ts) is
    * unique in the events table, so the match is deterministic; misses
    * surface as -1 sentinels (nullable ints degrade to float64 NaN in
    * the driver's pandas hash path).
    */
  val evAsof: QueryDef = QueryDef("ev_asof_join",
    (s, dir) => {
      val ev = Queries.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("purchase_us"), col("value"))
      graft.temporal.Temporal
        .asofJoin(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_us", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"),
          coalesce(col("purchase_us_asof"), lit(-1L)).as("purchase_us"),
          coalesce(col("value_asof"), lit(-1.0)).as("purchase_value"))
        .orderBy("event_id")
    },
    Some("WITH l AS (SELECT event_id, user_id, ts FROM events WHERE " +
      "event_type='click'), r AS (SELECT user_id, ts, value FROM events " +
      "WHERE event_type='purchase') SELECT l.event_id, l.user_id, " +
      "epoch_us(l.ts) AS click_us, coalesce(epoch_us(r.ts), -1) AS " +
      "purchase_us, coalesce(r.value, -1.0) AS purchase_value " +
      "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts " +
      "ORDER BY event_id"))

  /** Gap-based sessionization: 30-minute-idle session boundaries per
    * user, one row per session.
    */
  val evSessionize: QueryDef = QueryDef("ev_sessionize",
    (s, dir) => graft.temporal.Temporal
      .sessionize(Queries.events(s, dir), "user_id", "ts", 1800000000L)
      .orderBy("user_id", "session_start_us"),
    Some("WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events), " +
      "g AS (SELECT user_id, us, CASE WHEN us - lag(us) OVER (PARTITION " +
      "BY user_id ORDER BY us) <= 1800000000 THEN 0 ELSE 1 END AS nw " +
      "FROM e), s AS (SELECT user_id, us, sum(nw) OVER (PARTITION BY " +
      "user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sess FROM g) " +
      "SELECT user_id, min(us) AS session_start_us, max(us) AS " +
      "session_end_us, CAST(count(*) AS BIGINT) AS n_events FROM s " +
      "GROUP BY user_id, sess ORDER BY user_id, session_start_us"))

  /** Bounded-gap range join: ordered same-user event pairs within one
    * hour, via the binned equality-join shape (the oracle is the naive
    * range self-join — same rows, different plan).
    */
  val evNearPairs: QueryDef = QueryDef("ev_near_pairs",
    (s, dir) => graft.temporal.Temporal
      .nearTimePairs(Queries.events(s, dir), Seq("user_id"), "event_id",
        "ts", 3600000000L)
      .select(col("user_id"), col("a_event_id"), col("b_event_id"))
      .orderBy("user_id", "a_event_id", "b_event_id"),
    Some("SELECT a.user_id AS user_id, a.event_id AS a_event_id, " +
      "b.event_id AS b_event_id FROM events a JOIN events b ON " +
      "a.user_id = b.user_id AND epoch_us(b.ts) > epoch_us(a.ts) AND " +
      "epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000 " +
      "ORDER BY a.user_id, a_event_id, b_event_id"))

  val all: Seq[QueryDef] = Seq(evWindowed, evAsof, evSessionize, evNearPairs)
}
