package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, MapState,
  OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig,
  ValueState}
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.Canon.{orderAll, sumDec, sumDecSql}
import graft.sources.{IO, Sources}

/** Structured Streaming surface (SURVEY.md §2 Q70–Q77) — the reference's
  * core identity: an interval-triggered, cursor-checkpointed incremental
  * pipeline (`main.py:28-29`, `sources/meteosat.py:61-122`,
  * `utils/fs.py:21-48`).
  *
  * Harness shape: every query replays the staged `events` directory as a
  * file stream in time-range-ordered files, one file per micro-batch
  * (`Trigger.AvailableNow` + maxFilesPerTrigger=1 — genuine incremental
  * batches with state carried across them, then a final no-data batch
  * that advances the watermark). TWO data batches per query: state
  * carry-over, watermark advance, and replay-idempotence are all proven
  * by the second batch, and every additional trigger bills the fixed
  * per-trigger state-store/commit machinery (~0.5-1.5 s each at this
  * scale) to a 150-query bench without testing anything new — except
  * the q78 stream-stream joins, which keep their measured 4-file knee
  * (see the tradeoff note there). Results land in a parquet
  * sink (or a foreachBatch snapshot) and the read-back is compared to a
  * batch-mode DuckDB oracle over the same rows — the batch/stream
  * equivalence check from SURVEY §5.5.
  *
  * Append-mode windowed queries only emit windows the final watermark
  * (max event time − 45 min) has passed, so their oracles carry the same
  * cutoff predicate. Late-data DROPPING (rows below the watermark) cannot
  * happen in this time-ordered replay; that path is exercised with an
  * out-of-order MemoryStream in StreamingSpec.
  */
object Streams {

  private def trigger = Trigger.AvailableNow()

  /** State-store partition count for the staged replays.
    *
    * A stateful streaming query's state partitioning is `spark.sql
    * .shuffle.partitions` AT FIRST START and is then pinned into the
    * checkpoint forever — so unlike batch shuffles (where AQE coalesces
    * to fit the data) it is a CAPACITY DECISION the query must make
    * explicitly, not inherit from whatever the session's batch default
    * happens to be. Every state partition costs a delta-file commit per
    * operator per micro-batch regardless of data volume; inheriting the
    * batch default of 32 made each replay pay 32 (×2 per join side)
    * commits per trigger for a few hundred live keys — measured 3×
    * per-trigger overhead on the tumbling agg and stream-stream join vs
    * this setting. Size it to expected live-key cardinality / executor
    * count at deployment (the reference's cadence is a handful of keys
    * per 15-min slot, main.py:28-29); repartitioning state later means a
    * new checkpoint, which is exactly why it is declared here per-query.
    * Re-measured at 4 (150 live user keys in the replay): the whole
    * family drops another ~25% — the stream-stream joins, which commit
    * 4 stores per partition per trigger, fall from ~8 s to ~4.7 s each.
    */
  private val statePartitions = 4

  private def withStatePartitions[T](s: SparkSession)(f: => T): T = {
    val old = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try f finally s.conf.set("spark.sql.shuffle.partitions", old)
  }

  /** Run `df` to a parquet file sink (exactly-once via _spark_metadata +
    * checkpoint, the fs.py:21-48 analog), block, return the read-back. */
  private def toParquet(s: SparkSession, name: String, dir: String,
      df: DataFrame): DataFrame = {
    val out = IO.scratch(name, dir)
    df.writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/chk")
      .trigger(trigger).start().awaitTermination()
    s.read.parquet(s"$out/data")
  }

  /** Run `df` via foreachBatch with the given output mode, block. */
  private def viaForeachBatch(name: String, dir: String, df: DataFrame,
      mode: String)(f: (DataFrame, Long) => Unit): String = {
    val out = IO.scratch(name, dir)
    df.writeStream.outputMode(mode)
      .foreachBatch((b: DataFrame, id: Long) => f(b, id))
      .option("checkpointLocation", s"$out/chk")
      .trigger(trigger).start().awaitTermination()
    out
  }

  /** 15-min tumbling slot of ts, as DuckDB SQL (shared by the oracles). */
  private def slotSql(ts: String): String =
    s"make_timestamp(CAST(floor(epoch($ts) / 900) * 900 AS BIGINT) * 1000000)"

  /** Watermark cutoff: latest event time minus the 45-min delay (the
    * reference's publication-latency guard, meteosat.py:93). */
  private val cutoffSql: String =
    "(SELECT max(ts) - INTERVAL '45 minutes' FROM events)"

  /** Registered streaming queries — every builder runs under the explicit
    * [[statePartitions]] state sizing (see scaladoc above). */
  val all: Seq[Q] = raw.map(q =>
    q.copy(build = (s, dir) => withStatePartitions(s)(q.build(s, dir))))

  private def raw: Seq[Q] = Seq(

    // Q70 — tumbling-window aggregate (the 15-min slot cadence,
    // main.py:29). Complete mode: each trigger re-emits the full snapshot
    // via foreachBatch-overwrite (an idempotent snapshot sink), so the
    // final state equals the batch aggregation with no watermark cutoff.
    Q("q70_tumbling",
      s"""SELECT ${slotSql("ts")} AS wstart, event_type, count(*) AS n,
         |  ${sumDecSql("value")} AS sum_val
         |FROM events GROUP BY 1, 2
         |ORDER BY wstart NULLS FIRST, event_type NULLS FIRST, n NULLS FIRST,
         |  sum_val NULLS FIRST""".stripMargin) { (s, dir) =>
      val agg = Sources.eventsStream(s, dir, 2, Some(1))
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_val"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n"), col("sum_val"))
      val out = viaForeachBatch("q70_tumbling", dir, agg, "complete") {
        (b, _) => b.write.mode("overwrite").parquet(
          IO.scratchPath("q70_tumbling", dir) + "/snap")
      }
      orderAll(s.read.parquet(s"$out/snap"))
    },

    // Q71 — sliding-window aggregate (±30-min search window around each
    // slot, meteosat.py:106-107): 30-min windows sliding by 15, so every
    // event lands in exactly two windows.
    Q("q71_sliding",
      s"""WITH e AS (SELECT event_type, value, ${slotSql("ts")} AS slot
         |  FROM events),
         |w AS (SELECT event_type, value,
         |  unnest([slot, slot - INTERVAL '15 minutes']) AS wstart FROM e)
         |SELECT wstart, event_type, count(*) AS n,
         |  ${sumDecSql("value")} AS sum_val
         |FROM w GROUP BY 1, 2
         |ORDER BY wstart NULLS FIRST, event_type NULLS FIRST, n NULLS FIRST,
         |  sum_val NULLS FIRST""".stripMargin) { (s, dir) =>
      val agg = Sources.eventsStream(s, dir, 2, Some(1))
        .groupBy(window(col("ts"), "30 minutes", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_val"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n"), col("sum_val"))
      val out = viaForeachBatch("q71_sliding", dir, agg, "complete") {
        (b, _) => b.write.mode("overwrite").parquet(
          IO.scratchPath("q71_sliding", dir) + "/snap")
      }
      orderAll(s.read.parquet(s"$out/snap"))
    },

    // Q72 — session windows (1-hour inactivity gap) per user, append mode:
    // a session is emitted once the watermark passes its end (= last event
    // + gap), so the oracle is the gaps-and-islands batch equivalent with
    // the same cutoff.
    Q("q72_session",
      s"""WITH o AS (
         |  SELECT user_id, ts,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR ts - lag(ts) OVER w > INTERVAL '1 hour' THEN 1 ELSE 0
         |      END AS brk
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |t AS (SELECT user_id, ts,
         |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM o),
         |sess AS (SELECT user_id, min(ts) AS session_start,
         |    max(ts) + INTERVAL '1 hour' AS session_end, count(*) AS n
         |  FROM t GROUP BY user_id, sid)
         |SELECT user_id, session_start, session_end, n FROM sess
         |WHERE session_end <= $cutoffSql
         |ORDER BY user_id NULLS FIRST, session_start NULLS FIRST,
         |  session_end NULLS FIRST, n NULLS FIRST""".stripMargin) { (s, dir) =>
      orderAll(toParquet(s, "q72_session", dir,
        Sources.eventsStream(s, dir, 2, Some(1))
          .withWatermark("ts", "45 minutes")
          .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n"))))
    },

    // Q73 — watermark + tumbling window in append mode (the −45-min
    // bootstrap guard, meteosat.py:93): only windows the final watermark
    // passed are in the sink; the oracle applies the same cutoff.
    Q("q73_watermark",
      s"""WITH agg AS (
         |  SELECT ${slotSql("ts")} AS wstart, event_type, count(*) AS n
         |  FROM events GROUP BY 1, 2)
         |SELECT wstart, event_type, n FROM agg
         |WHERE wstart + INTERVAL '15 minutes' <= $cutoffSql
         |ORDER BY wstart NULLS FIRST, event_type NULLS FIRST, n NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orderAll(toParquet(s, "q73_watermark", dir,
          Sources.eventsStream(s, dir, 2, Some(1))
            .withWatermark("ts", "45 minutes")
            .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("wstart"), col("event_type"),
              col("n"))))
    },

    // Q74 — streaming dedup (idempotent re-ingestion, A17): the staged
    // stream carries every event TWICE (a simulated double-download);
    // dropDuplicatesWithinWatermark keeps the first arrival per event_id.
    Q("q74_dedup",
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id NULLS FIRST, event_type NULLS FIRST,
        |  value NULLS FIRST""".stripMargin) { (s, dir) =>
      val staged = stageEventsDoubled(s, dir)
      val stream = s.readStream.schema(Sources.eventsSchema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .withWatermark("ts", "45 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id", "event_type", "value")
      orderAll(toParquet(s, "q74_dedup", dir, stream))
    },

    // Q75 — arbitrary stateful processing: the reference's incremental
    // cursor (meteosat.py:61-122) as mapGroupsWithState. Per user the
    // state is a monotone cursor over 15-min slots: it advances only
    // forward (A3), counts each slot once however many events land in it,
    // and survives across micro-batches via the state store (A2/A16).
    // Update-mode emissions are tagged with the batch id; the LAST
    // emission per user is the final state, compared to the batch oracle.
    Q("q75_stateful_cursor",
      s"""SELECT user_id, count(*) AS n_events, min(ts) AS first_ts,
         |  max(ts) AS last_ts,
         |  count(DISTINCT ${slotSql("ts")}) AS n_slots
         |FROM events GROUP BY user_id
         |ORDER BY user_id NULLS FIRST, n_events NULLS FIRST,
         |  first_ts NULLS FIRST, last_ts NULLS FIRST, n_slots NULLS FIRST""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val stream = Sources.eventsStream(s, dir, 2, Some(1))
          .selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_id")
          .as[(Long, Long, Long)]
        val updates = stream.groupByKey(_._1)
          .mapGroupsWithState[CursorState, CursorOut](
            GroupStateTimeout.NoTimeout) { (uid, it, state) =>
            // Files are ts-range-ordered, so batches arrive in event-time
            // order; within a batch we sort (iterator order is undefined).
            val evs = it.toArray.sortBy(e => (e._2, e._3))
            var st = state.getOption.getOrElse(CursorState.zero)
            evs.foreach { case (_, tsUs, _) => st = st.advance(tsUs) }
            state.update(st)
            CursorOut(uid, st.nEvents, st.firstTs, st.lastTs, st.nSlots)
          }
        val out = viaForeachBatch("q75_stateful_cursor", dir,
          updates.toDF(), "update") { (b, id) =>
          b.withColumn("batch_id", lit(id)).write.mode("append")
            .parquet(IO.scratchPath("q75_stateful_cursor", dir) + "/log")
        }
        val log = s.read.parquet(s"$out/log")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("batch_id").desc)
        orderAll(log
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("n_events"),
            timestamp_micros(col("first_ts")).as("first_ts"),
            timestamp_micros(col("last_ts")).as("last_ts"), col("n_slots")))
    },

    // Q75b (beyond-survey) — the STATE API v2 (transformWithState,
    // Spark 4) on the RocksDB provider (which the API requires, and
    // which is the deployment-scale backend anyway: state lives in
    // native memory + disk, not the executor heap). Per user, a typed
    // ValueState carries (count, exact-decimal sum in 6-dp micro-units
    // — the sumDec discipline INSIDE a processor, so accumulation is
    // integer-exact and order-free) and a MapState carries per-type
    // counts. Update-mode emissions are logged per batch; the LAST
    // emission per user must equal the batch oracle.
    Q("q75b_transform_with_state",
      s"""SELECT user_id, count(*) AS n_events,
         |  ${sumDecSql("value")} AS sum_value,
         |  count(DISTINCT event_type) AS n_types
         |FROM events GROUP BY user_id
         |ORDER BY user_id NULLS FIRST, n_events NULLS FIRST,
         |  sum_value NULLS FIRST, n_types NULLS FIRST""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try {
          val stream = Sources.eventsStream(s, dir, 2, Some(1))
            .selectExpr("user_id", "value", "event_type")
            .as[(Long, Double, String)]
          val updates = stream.groupByKey(_._1)
            .transformWithState(new UserAggProcessor,
              TimeMode.None(), OutputMode.Update())
          val out = viaForeachBatch("q75b_tws", dir, updates.toDF(),
            "update") { (b, id) =>
            b.withColumn("batch_id", lit(id)).write.mode("append")
              .parquet(IO.scratchPath("q75b_tws", dir) + "/log")
          }
          val log = s.read.parquet(s"$out/log")
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("batch_id").desc)
          orderAll(log
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("user_id"), col("n_events"),
              // sum_micros <= 2^53, so double division is the nearest
              // double of the exact decimal — identical to the oracle's
              // CAST(decimal AS DOUBLE)
              (col("sum_micros") / lit(1000000L)).as("sum_value"),
              col("n_types")))
        } finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
    },

    // Q76 — stream-static join (slot-vs-catalog matching, A6): the event
    // stream joins the static customer dim (broadcast — the dim is small
    // and the join is stateless, so append mode passes rows through).
    Q("q76_stream_static_join",
      """SELECT event_id, c_mktsegment, value
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id NULLS FIRST, c_mktsegment NULLS FIRST,
        |  value NULLS FIRST""".stripMargin) { (s, dir) =>
      val cust = broadcast(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val joined = Sources.eventsStream(s, dir, 2, Some(1))
        .join(cust, col("user_id") === col("c_custkey"))
        .select("event_id", "c_mktsegment", "value")
      orderAll(toParquet(s, "q76_stream_static_join", dir, joined))
    },

    // Q76b (beyond-survey) — stream-static ANTI join: streaming
    // BLOCKLIST filtering (the streaming form of the q90b/compliance
    // removal pass) — events whose user sits on a static blocklist
    // (here: the stable 10% hash sample of customers) never reach the
    // sink. left_anti against a broadcast static dim is STATELESS in
    // streaming — no watermark, no state store; the per-trigger cost is
    // the probe only, which is why a blocklist check belongs in the
    // stream rather than as a post-pass at 100 TB.
    Q("q76b_stream_anti_join",
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id NOT IN (SELECT c_custkey FROM customer
        |  WHERE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4)
        |    AS INT) * 100 < 10 * 65536)
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST,
        |  value NULLS FIRST""".stripMargin) { (s, dir) =>
      val block = broadcast(Tables.t(s, dir, "customer")
        .filter(graft.Engine.stableSample(col("c_custkey"), 10))
        .select(col("c_custkey")))
      val stream = Sources.eventsStream(s, dir, 2, Some(1))
        .join(block, col("user_id") === col("c_custkey"), "left_anti")
        .select("event_id", "user_id", "value")
      orderAll(toParquet(s, "q76b_stream_anti", dir, stream))
    },

    // Q78 (beyond-survey) — stream-STREAM interval join: purchases match
    // clicks of the same user within the preceding 30 minutes, both
    // sides unbounded streams. Watermarks bound the join state (clicks
    // older than watermark − 30 min are evicted); because the join
    // window (30 min) is inside the watermark delay (45 min) and the
    // replay is time-ordered, no match can be missed — the final sink
    // equals the batch interval join, which is the oracle. (Batch-count
    // tradeoff, measured at sf0.1: fewer/larger batches leave the join
    // state unevicted within a batch and probe cost explodes (2 files ->
    // 20 s); more batches multiply the doubled per-trigger state-store
    // cost of a two-sided join (8 files -> 30 s); 4 is the knee, ~14 s.)
    // Q76c (beyond-survey) — STREAMING point-in-time enrichment: every
    // arriving click is attributed to the user's purchase-tier interval
    // that was CURRENT at the click's own event time (eff_from ≤ ts <
    // eff_to against the q59-shaped SCD2 dimension built by
    // [[graft.Engine.scd2Build]]) — the feature-store SERVING join,
    // where reading today's dimension row for yesterday's event is
    // exactly the leakage q59b exists to prevent, now in the path where
    // it actually happens: online. The per-batch join is STATELESS
    // (equi on user + range residual, the q59b plan), results land in
    // idempotent batch_id partitions (q77 discipline), and the oracle
    // is the BATCH PIT join of the same events — the q79 equivalence
    // pattern applied to the serving join: stateless per-row
    // enrichment commutes with micro-batching, and the hash match
    // proves it.
    Q("q76c_stream_pit_lookup",
      """WITH p AS (SELECT user_id, ts, event_id,
        |    CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS tier
        |  FROM events WHERE event_type = 'purchase'),
        |chg AS (SELECT user_id, ts, event_id, tier,
        |    CASE WHEN lag(tier) OVER w IS NULL
        |      OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS is_chg
        |  FROM p WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        |iv AS (SELECT user_id AS d_user, tier, ts AS eff_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS eff_to
        |  FROM chg WHERE is_chg = 1)
        |SELECT e.event_id, e.user_id, e.ts, iv.tier
        |FROM events e JOIN iv ON e.user_id = d_user
        |  AND e.ts >= eff_from AND (eff_to IS NULL OR e.ts < eff_to)
        |WHERE e.event_type = 'click'
        |ORDER BY event_id NULLS FIRST, user_id NULLS FIRST,
        |  ts NULLS FIRST, tier NULLS FIRST""".stripMargin) { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val dim = graft.Engine.scd2Build(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"),
              when(col("value") > 50, "hi").otherwise("lo").as("tier"),
              col("ts"), col("event_id")),
          "user_id", "tier", "ts", "event_id")
        .select(col("user_id").as("d_user"), col("tier"),
          col("eff_from"), col("eff_to"))
      val stream = Sources.eventsStream(s, dir, 2, Some(1))
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val out = viaForeachBatch("q76c_stream_pit_lookup", dir, stream,
        "append") { (b, id) =>
        b.join(dim, b("user_id") === col("d_user") &&
            b("ts") >= col("eff_from") &&
            (col("eff_to").isNull || b("ts") < col("eff_to")))
          .select("event_id", "user_id", "ts", "tier")
          .write.mode("overwrite")
          .parquet(IO.scratchPath("q76c_stream_pit_lookup", dir) +
            s"/data/batch=$id")
      }
      orderAll(s.read.parquet(s"$out/data")
        .select("event_id", "user_id", "ts", "tier"))
    },

    Q("q78_stream_stream_join",
      """SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  p.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST, 3 NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val ev = Sources.eventsStream(s, dir, 4, Some(1))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "45 minutes")
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "45 minutes")
        val joined = p.join(c,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
            col("c_ts") <= col("p_ts"))
          .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
        orderAll(toParquet(s, "q78_stream_stream_join", dir, joined))
    },

    // Q78b (beyond-survey) — stream-stream LEFT OUTER interval join:
    // unmatched purchases must ALSO emit (with null click) — but only
    // once the watermark proves no future click can match them, which is
    // the defining semantics of outer joins under unbounded input. The
    // oracle replays that rule in batch: the inner matches, UNION ALL
    // the unmatched purchases whose match window upper bound (p_ts) the
    // final global watermark — min of both sides' (max event − 45 min)
    // — has passed; later unmatched purchases are still held in state
    // when the replay ends and must NOT appear.
    Q("q78b_stream_stream_outer",
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
        |    - INTERVAL '45 minutes' AS w),
        |matched AS (
        |  SELECT p.event_id AS p_id, c.event_id AS c_id,
        |    p.user_id AS user_id
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts),
        |unmatched AS (
        |  SELECT p.event_id AS p_id, CAST(NULL AS BIGINT) AS c_id,
        |    p.user_id AS user_id
        |  FROM p, wm
        |  WHERE p.ts < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts))
        |SELECT p_id, c_id, user_id FROM matched
        |UNION ALL SELECT p_id, c_id, user_id FROM unmatched
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST,
        |  user_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val ev = Sources.eventsStream(s, dir, 4, Some(1))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "45 minutes")
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "45 minutes")
      val joined = p.join(c,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
            col("c_ts") <= col("p_ts"),
          "left_outer")
        .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
      orderAll(toParquet(s, "q78b_stream_stream_outer", dir, joined))
    },

    // Q79 (beyond-survey) — STREAMING CUSUM drift alert: the q46i
    // detector fed by a STREAMING daily rollup — the heavy per-event
    // aggregation runs incrementally in the stream (1-day tumbling
    // windows, complete-mode snapshot: exactly the state a production
    // monitor keeps), and the tiny per-day curve is computed over the
    // materialized snapshot by the SAME [[graft.Engine.cusumSeries]]
    // the batch query uses. The oracle is q46i's VERBATIM — the
    // hash match IS the batch≡streaming equivalence proof for the
    // drift family (and the reason the daily mean rounds through the
    // identical decimal path on both sides).
    Q("q79_stream_cusum",
      """WITH daily AS (SELECT event_type AS k,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(count(value) AS DOUBLE), 6) AS daily_mean
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |ref AS (SELECT k,
        |    round(CAST(sum(CAST(daily_mean AS DECIMAL(38,6)))
        |      AS DOUBLE) / CAST(count(daily_mean) AS DOUBLE), 6)
        |      AS mu_ref
        |  FROM daily WHERE day < TIMESTAMP '2024-01-15' GROUP BY 1),
        |r2 AS (SELECT k, mu_ref, round(mu_ref * 0.1e0, 6) AS kk,
        |    round(mu_ref * 0.5e0, 6) AS h FROM ref),
        |j AS (SELECT d.k, d.day, d.daily_mean, mu_ref, kk, h,
        |    CAST(d.daily_mean AS DECIMAL(38,6))
        |      - CAST(mu_ref AS DECIMAL(38,6))
        |      - CAST(kk AS DECIMAL(38,6)) AS dd
        |  FROM daily d JOIN r2 USING (k)),
        |p AS (SELECT *, sum(dd) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
        |  FROM j),
        |m AS (SELECT *, least(CAST(0 AS DECIMAL(38,6)), min(pp) OVER (
        |    PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS minp
        |  FROM p)
        |SELECT k AS key, day, daily_mean, mu_ref,
        |  round(CAST(pp - minp AS DOUBLE), 6) AS cusum,
        |  ((pp - minp) > CAST(h AS DECIMAL(38,6))) AS detected
        |FROM m
        |ORDER BY key NULLS FIRST, day NULLS FIRST,
        |  daily_mean NULLS FIRST, mu_ref NULLS FIRST,
        |  cusum NULLS FIRST, detected NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val agg = Sources.eventsStream(s, dir, 2, Some(1))
          .filter(col("event_type").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(sumDec(col("value")).as("sum_val"),
            count(col("value")).as("n"))
          .select(col("event_type").as("key"),
            col("window.start").as("day"), col("sum_val"), col("n"))
        val out = viaForeachBatch("q79_stream_cusum", dir, agg,
          "complete") { (b, _) =>
          b.write.mode("overwrite").parquet(
            IO.scratchPath("q79_stream_cusum", dir) + "/snap")
        }
        val daily = s.read.parquet(s"$out/snap")
          .select(col("key"), col("day"),
            round(col("sum_val") / col("n"), 6).as("daily_mean"))
        orderAll(graft.Engine.cusumSeries(daily,
          lit("2024-01-15").cast("timestamp")))
    },

    // Q79b (beyond-survey) — STREAMING chunk-novelty ingest: q90r's
    // content-defined novelty probe run the way a crawl actually
    // arrives — document batches as a file stream, each micro-batch
    // probed STATELESSLY against the static persisted chunk index
    // ([[graft.Engine.chunkNovelty]] is per-document row-local + one
    // stream-static digest join, so no watermark or state store is
    // needed), results landing in per-batch_id partitions (the q77
    // idempotent-replay discipline: a replayed batch overwrites its own
    // partition). The oracle is q90r's VERBATIM — the hash match IS the
    // batch≡streaming equivalence proof for the novelty pass, the q79
    // verification pattern applied to the dedup family.
    Q("q79b_stream_novelty",
      """WITH st AS (
        |  SELECT doc_id, text,
        |    [1] || [i FOR i IN generate_series(2, len(text) - 15)
        |      IF list_reduce(list_transform(range(0,16),
        |             k -> CAST(ascii(text[i+k]) AS BIGINT)),
        |           (a,b) -> (a*257+b) % 1000000007) % 16 = 0] AS starts
        |  FROM documents),
        |ex AS (SELECT doc_id, text, unnest(starts) AS s FROM st),
        |ch AS (SELECT doc_id,
        |    substr(text, s, coalesce(lead(s) OVER (
        |      PARTITION BY doc_id ORDER BY s), len(text) + 1) - s)
        |      AS chunk
        |  FROM ex),
        |hist AS (SELECT DISTINCT md5(chunk) AS h FROM ch
        |  WHERE doc_id % 5 <> 0),
        |b AS (SELECT doc_id, md5(chunk) AS h, len(chunk) AS l FROM ch
        |  WHERE doc_id % 5 = 0)
        |SELECT b.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN hist.h IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(sum(l) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN hist.h IS NULL THEN l ELSE 0 END)
        |    AS BIGINT) AS novel_chars,
        |  CASE WHEN sum(l) > 0 THEN round(CAST(sum(CASE WHEN hist.h
        |    IS NULL THEN l ELSE 0 END) AS DOUBLE) / sum(l), 6)
        |    END AS novel_ratio
        |FROM b LEFT JOIN hist ON b.h = hist.h
        |GROUP BY 1
        |ORDER BY doc_id NULLS FIRST, n_chunks NULLS FIRST,
        |  n_novel NULLS FIRST, total_chars NULLS FIRST,
        |  novel_chars NULLS FIRST, novel_ratio NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val idxPath = IO.scratch("q79b_chunk_index", dir)
        graft.Engine.buildChunkIndex(
          Tables.t(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
          col("doc_id"), col("text"), idxPath)
        // mfpt=2 (r14): two 2-file batches keep the multi-batch
        // mergeability proof while halving the per-trigger fixed
        // overhead the STREAMING_PROFILE trigger-sizing curve measured
        // (cost is ~linear in trigger count, invariant in results)
        val batches = Sources.docsStream(s, dir, "doc_id % 5 = 0",
          nFiles = 4, maxFilesPerTrigger = Some(2))
        val out = viaForeachBatch("q79b_stream_novelty", dir, batches,
          "append") { (b, id) =>
          graft.Engine.chunkNovelty(b, col("doc_id"), col("text"),
              idxPath)
            .write.mode("overwrite")
            .parquet(IO.scratchPath("q79b_stream_novelty", dir) +
              s"/data/batch=$id")
        }
        orderAll(s.read.parquet(s"$out/data")
          .select("doc_id", "n_chunks", "n_novel", "total_chars",
            "novel_chars", "novel_ratio"))
    },

    // Q79c (beyond-survey) — STREAMING Count-Min sketch: q33d's
    // frequency sketch built the way a feed actually arrives — each
    // micro-batch reduces to its OWN ≤ depth·width cell table
    // ([[graft.Engine.cmCells]]), landed in an idempotent per-batch_id
    // partition (the q77 replay discipline), and the serving sketch is
    // the cell-wise SUM of the batch sketches. CM cells from disjoint
    // batches ADD (each token increments exactly one counter per row),
    // so the merged sketch is cell-identical to the all-at-once build —
    // and the oracle is q33d's VERBATIM, making the hash match itself
    // the batch≡streaming MERGEABILITY proof (the q79/q79b equivalence
    // pattern applied to the sketch family). This is the shape sketch
    // state takes at 100 TB: per-slot partial sketches, config-sized,
    // merged at read time — never a corpus-sized token state store.
    Q("q79c_stream_sketch",
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tok AS (SELECT t, list_reduce(list_transform(
        |      range(1, len(t) + 1), i -> CAST(ascii(t[i]) AS BIGINT)),
        |    (a, b) -> (a * 257 + b) % 1000000007) AS h
        |  FROM tk WHERE len(t) > 0),
        |cells AS (SELECT g.j AS j, (h * (2 * g.j + 1) + 97 * g.j) % 256
        |      AS b, count(*) AS c
        |  FROM tok, generate_series(0, 3) g(j) GROUP BY 1, 2),
        |exact AS (SELECT t AS word, count(*) AS exact, min(h) AS h
        |  FROM tok GROUP BY 1),
        |top AS (SELECT word, exact, h FROM exact
        |  ORDER BY exact DESC, word ASC LIMIT 20),
        |probe AS (SELECT word, exact, g.j AS j,
        |    (h * (2 * g.j + 1) + 97 * g.j) % 256 AS b
        |  FROM top, generate_series(0, 3) g(j))
        |SELECT word, CAST(exact AS BIGINT) AS exact,
        |  CAST(min(c) AS BIGINT) AS est,
        |  CAST(min(c) - exact AS BIGINT) AS overest
        |FROM probe JOIN cells USING (j, b)
        |GROUP BY word, exact
        |ORDER BY word NULLS FIRST, exact NULLS FIRST, est NULLS FIRST,
        |  overest NULLS FIRST""".stripMargin) { (s, dir) =>
      // mfpt=2 (r14): see q79b — the trigger-sizing curve's fix
      val batches = Sources.docsStream(s, dir, "doc_id IS NOT NULL",
        nFiles = 4, maxFilesPerTrigger = Some(2))
      val out = viaForeachBatch("q79c_stream_sketch", dir, batches,
        "append") { (b, id) =>
        graft.Engine.cmCells(b, col("text"), depth = 4, width = 256)
          .write.mode("overwrite")
          .parquet(IO.scratchPath("q79c_stream_sketch", dir) +
            s"/cells/batch=$id")
      }
      val merged = s.read.parquet(s"$out/cells")
        .groupBy("__j", "__b").agg(sum(col("__c")).as("__c"))
      val top = graft.Engine.cmTopWords(
        Tables.t(s, dir, "documents"), col("text"), topN = 20)
      orderAll(graft.Engine.cmEstimate(merged, top,
        depth = 4, width = 256))
    },

    // Q79d (beyond-survey) — STREAMING quality-classifier gate: q95j's
    // hashing-trick classifier applied the way an ingest feed actually
    // arrives — each micro-batch classifies its own documents (a PURE
    // MAP riding the [[graft.plans.ClassifierScore]] codegen kernel, so
    // per-trigger cost is the batch scan) and lands in an idempotent
    // per-batch partition (the q77 replay discipline). The oracle is
    // q95j's VERBATIM, so the hash match IS the batch≡streaming proof:
    // a row-local operator commutes with any batching of the corpus —
    // the property that lets the same classifier gate serve both the
    // backfill and the live feed with one code path (the reference's
    // batch/cursor duality, sources/meteosat.py:88-122, applied to a
    // quality gate instead of a slot fetch).
    Q("q79d_stream_classifier",
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, len(ws) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(ws, t ->
        |        CAST(((list_reduce(list_transform(range(1, len(t) + 1),
        |              i -> CAST(ascii(t[i]) AS BIGINT)),
        |            (a, b) -> (a * 257 + b) % 1000000007) % 4096)
        |            * 2654435761 + 12345) % 1048576 AS DOUBLE)
        |          / 1048576.0 - 0.5)),
        |      (acc, x) -> acc + x) AS sc
        |  FROM d)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CASE WHEN n = 0 THEN NULL ELSE round(sc / n, 6) END AS logit,
        |  (n > 0 AND sc > 0.0) AS keep
        |FROM s
        |ORDER BY doc_id NULLS FIRST, n_tokens NULLS FIRST,
        |  logit NULLS FIRST, keep NULLS FIRST""".stripMargin) { (s, dir) =>
      // mfpt=2 (r14): see q79b — the trigger-sizing curve's fix
      val batches = Sources.docsStream(s, dir, "doc_id IS NOT NULL",
        nFiles = 4, maxFilesPerTrigger = Some(2))
      val out = viaForeachBatch("q79d_stream_classifier", dir, batches,
        "append") { (b, id) =>
        graft.Engine.hashClassifier(b, col("doc_id"), col("text"),
            buckets = 4096)
          .write.mode("overwrite")
          .parquet(IO.scratchPath("q79d_stream_classifier", dir) +
            s"/data/batch=$id")
      }
      orderAll(s.read.parquet(s"$out/data")
        .select("doc_id", "n_tokens", "logit", "keep"))
    },

    // Q77 — foreachBatch sink with exactly-once semantics: each batch
    // lands in its own batch_id partition via idempotent dynamic-partition
    // overwrite — a replayed batch rewrites the same partition to the
    // same content, the reference's temp-file-then-atomic-rename commit
    // (utils/fs.py:21-48).
    Q("q77_foreach_batch",
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id NULLS FIRST, event_type NULLS FIRST,
        |  value NULLS FIRST""".stripMargin) { (s, dir) =>
      val stream = Sources.eventsStream(s, dir, 2, Some(1))
        .select("event_id", "event_type", "value")
      val out = viaForeachBatch("q77_foreach_batch", dir, stream, "append") {
        (b, id) =>
          b.withColumn("batch_id", lit(id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(IO.scratchPath("q77_foreach_batch", dir) + "/data")
      }
      orderAll(s.read.parquet(s"$out/data")
        .select("event_id", "event_type", "value"))
    },

    // Q77b (beyond-survey) — streaming-maintained LATEST-STATE table
    // (the serving-table sink / SCD1 materialized view): each batch
    // merges into a per-user "current" snapshot — latest (ts, event_id)
    // wins. Exactly-once without a transactional store: batch i writes
    // its full merged snapshot to a DETERMINISTIC dir keyed by batch id,
    // reading batch i−1 as the base — a crash-replayed batch reads the
    // same base and rewrites identical content (the state-chain form of
    // q77's idempotent dynamic overwrite). The final snapshot must equal
    // the batch latest-per-user query. Snapshot size is |keys|, not
    // |events| — the 100 TB shape for a continuously-served dimension.
    // Machinery lives in [[StateChain]] (partitioned snapshot write, a
    // `_LATEST` manifest instead of directory listing, Hadoop FS API
    // throughout) and is shared with the StreamingSpec crash-replay test.
    Q("q77b_stream_upsert",
      """WITH r AS (SELECT user_id, ts, event_id, value, row_number()
        |    OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC, value DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts, event_id, value FROM r WHERE rn = 1
        |ORDER BY user_id NULLS FIRST, ts NULLS FIRST,
        |  event_id NULLS FIRST, value NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val root = IO.scratch("q77b_upsert", dir)
        val stateRoot = s"$root/state"
        val stream = Sources.eventsStream(s, dir, 2, Some(1))
          .select("user_id", "ts", "event_id", "value")
        stream.writeStream.outputMode("append")
          .foreachBatch((b: DataFrame, id: Long) =>
            StateChain.mergeAndCommit(b, id, stateRoot))
          .option("checkpointLocation", s"$root/chk")
          .trigger(trigger).start().awaitTermination()
        orderAll(StateChain.snapshot(s, stateRoot))
    })

  /** Staging variant for Q74: every event appears twice (two unioned
    * copies range-split together, so each duplicate pair lands in the
    * same micro-batch). */
  private val dupCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageEventsDoubled(s: SparkSession, dir: String): String =
    dupCache.computeIfAbsent(dir, _ => {
      val out = IO.scratch("events_stage_dup", dir)
      val ev = Tables.t(s, dir, "events")
      ev.unionAll(ev)
        .repartitionByRange(2, col("ts"))
        .sortWithinPartitions(col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(out)
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L): Unit
      }
      out
    })
}

/** The q77b latest-state chain — the serving-table sink machinery, shared
  * with the StreamingSpec crash-replay test so the exactly-once argument
  * is proven on the production code path.
  *
  * Batch i's snapshot is a pure function of snapshot i−1 (stable on disk)
  * and batch i's rows (replayed from the checkpoint), so a crash anywhere
  * between the offset log and the manifest commit replays to identical
  * content. Cluster posture (the round-5 fix): the snapshot is written
  * PARTITIONED — the merge agg's own output tasks, never a single-task
  * `coalesce(1)` — and the committed frontier is a `_LATEST` manifest
  * written with the cursor store's atomic-rename discipline
  * ([[graft.pipeline.AtomicFs]], the `utils/fs.py:21-48` analog), so
  * directory-listing order is never consulted and every path operation
  * goes through the Hadoop FileSystem API. The identical code runs on
  * HDFS/S3A; nothing here assumes a local POSIX volume.
  */
object StateChain {
  def stateDir(stateRoot: String, i: Long): String = s"$stateRoot/batch=$i"
  private def manifest(stateRoot: String) =
    new org.apache.hadoop.fs.Path(s"$stateRoot/_LATEST")

  /** Merge batch `id` into the chain and advance the manifest. The
    * manifest moves ONLY after the snapshot is fully committed, so a
    * reader never observes a frontier whose snapshot is incomplete. */
  def mergeAndCommit(b: DataFrame, id: Long, stateRoot: String): Unit = {
    val sp = b.sparkSession
    val base =
      if (id == 0) b.limit(0) else sp.read.parquet(stateDir(stateRoot, id - 1))
    base.unionByName(b)
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"),
        col("m.event_id").as("event_id"), col("m.value").as("value"))
      .write.mode("overwrite").parquet(stateDir(stateRoot, id))
    graft.pipeline.AtomicFs.write(manifest(stateRoot),
      id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      sp.sparkContext.hadoopConfiguration)
  }

  /** The committed frontier (manifest read, never a directory listing). */
  def latest(s: SparkSession, stateRoot: String): Long =
    new String(
      graft.pipeline.AtomicFs.read(manifest(stateRoot),
          s.sparkContext.hadoopConfiguration)
        .getOrElse(throw new IllegalStateException(
          s"no _LATEST manifest under $stateRoot")),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong

  /** The current serving snapshot. */
  def snapshot(s: SparkSession, stateRoot: String): DataFrame =
    s.read.parquet(stateDir(stateRoot, latest(s, stateRoot)))
}

/** Q75 cursor state: monotone slot cursor + run statistics (micros).
  *
  * Replicates the reference's cursor discipline
  * (`sources/meteosat.py:61-122`): the slot cursor only moves FORWARD
  * (A3 — an event in an already-passed slot never rewinds it), each
  * 15-min slot is counted once however many events land in it, and the
  * state is the only thing carried between ticks (A2/A16). Golden-trace
  * tested in CursorSpec (SURVEY §5 item 4).
  */
final case class CursorState(nEvents: Long, firstTs: Long, lastTs: Long,
    lastSlot: Long, nSlots: Long) {
  /** Fold one event (micros) into the cursor. */
  def advance(tsUs: Long): CursorState = {
    val slot = Math.floorDiv(tsUs, CursorState.slotUs)
    CursorState(
      nEvents + 1,
      math.min(firstTs, tsUs),
      math.max(lastTs, tsUs),
      math.max(lastSlot, slot),
      nSlots + (if (slot > lastSlot) 1 else 0))
  }
}

object CursorState {
  /** 15 minutes in microseconds (the reference slot step, meteosat.py:90). */
  val slotUs: Long = 900L * 1000000L
  val zero: CursorState =
    CursorState(0, Long.MaxValue, Long.MinValue, Long.MinValue, 0)
}

/** Q75 per-batch emission. */
final case class CursorOut(user_id: Long, n_events: Long, first_ts: Long,
    last_ts: Long, n_slots: Long)

/** Q75b per-batch emission (state API v2). `sum_micros` is the running
  * sum in exact 6-dp integer micro-units. */
final case class AggSnap(user_id: Long, n_events: Long, sum_micros: Long,
    n_types: Long)

/** Q75b processor: per-user running aggregate on the v2 typed state
  * primitives — ValueState[(count, micro-sum)] + MapState[type, count].
  * Addition is integer-exact so accumulation order (undefined within a
  * batch) cannot change the answer; Math.addExact turns a hypothetical
  * overflow into a loud failure instead of a silent wrap. */
final class UserAggProcessor
    extends StatefulProcessor[Long, (Long, Double, String), AggSnap] {
  import org.apache.spark.sql.Encoders

  @transient private var totals: ValueState[(Long, Long)] = _
  @transient private var types: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    totals = getHandle.getValueState("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    types = getHandle.getMapState("types",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }

  /** 6-dp HALF_UP micro-units — bit-for-bit the `sumDec` grid (Spark's
    * double→DECIMAL(38,6) cast also rounds HALF_UP; a double can never
    * sit exactly on a 1e-7 half-boundary, so the engines cannot split). */
  private def micros(v: Double): Long =
    (BigDecimal(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      * 1000000).toLongExact

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Double, String)],
      timerValues: TimerValues): Iterator[AggSnap] = {
    var (n, sum) = if (totals.exists()) totals.get() else (0L, 0L)
    // Buffer the per-type increments in a JVM map FIRST: every MapState
    // call is a state-store round-trip (a JNI boundary on the RocksDB
    // provider this API requires), and the per-row form paid three of
    // them per input row — profiled as the whole q75b per-trigger
    // outlier (addBatch ~1.9 s of a 2.1 s trigger at the 10× fixture,
    // state COMMIT only ~0.35 s; the rest was ~500k per-row store ops).
    // Distinct types per (key, batch) are few, so the store now sees
    // O(distinct types) ops per key instead of O(rows) — the same
    // batch-the-boundary discipline as the per-partition codec reuse.
    val delta = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach { case (_, v, t) =>
      n += 1
      sum = Math.addExact(sum, micros(v))
      delta.update(t, delta.getOrElse(t, 0L) + 1L)
    }
    delta.foreach { case (t, d) =>
      types.updateValue(t,
        (if (types.containsKey(t)) types.getValue(t) else 0L) + d)
    }
    totals.update((n, sum))
    Iterator.single(AggSnap(key, n, sum, types.keys().size.toLong))
  }
}
