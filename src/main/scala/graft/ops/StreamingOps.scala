package graft.ops

import graft.streaming.EventStream

/** Judge-facing key for the Structured Streaming pipeline (SURVEY
  * §2.9). The result is produced by an actual streaming execution
  * (file replay → watermark → windowed state → memory sink), then
  * compared against the same SQL the batch twin `stream_window_hourly`
  * uses — stream/batch parity is the claim being checked.
  */
object StreamingOps {

  import QueryDef.sql

  val defs: Seq[QueryDef] = Seq(
    // streaming dropDuplicates with watermark state; the deduplicated
    // key set is the deterministic contract
    sql("stream_dedup_live",
      "SELECT DISTINCT user_id FROM events ORDER BY user_id") { (s, d) =>
      EventStream.runDedup(s, d)
    },

    // custom GroupState running counts; final state == batch GROUP BY
    sql("stream_state_counts",
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      EventStream.runStateCounts(s, d)
    },

    // checkpointed parquet file sink (the production egress path);
    // exactly-once across restarts is spec-asserted in StreamingSpec
    sql("stream_sink_parquet",
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'error' ORDER BY event_id""".stripMargin) { (s, d) =>
      val out = scratchRunDir(s, "stream_sink")
      EventStream.runFileSink(s, d, out)
      import org.apache.spark.sql.functions.col
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    },

    // stream-stream watermarked inner join (conversion attribution);
    // the oracle is the same interval join in batch SQL
    sql("stream_join_live",
      """SELECT s.event_id AS signup_event, p.event_id AS purchase_event
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        | AND s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
        |ORDER BY signup_event, purchase_event""".stripMargin) { (s, d) =>
      EventStream.runPairJoin(s, d)
    },

    // stream-static broadcast-dim join executed as a real stream; the
    // oracle joins the same literal dim as a VALUES list in batch SQL
    sql("stream_enrich_live", {
      val dim = EventStream.typeCategories
        .map { case (t, c) => s"('$t', '$c')" }.mkString(", ")
      s"""SELECT category, count(*) AS n, round(sum(value), 2) AS total
         |FROM events e
         |JOIN (VALUES $dim) d(event_type, category)
         |  ON e.event_type = d.event_type
         |GROUP BY category ORDER BY category""".stripMargin
    }) { (s, d) =>
      EventStream.runEnrich(s, d)
    },

    sql("stream_hourly_live",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, d) =>
      EventStream.runHourly(s, d)
    },

    // streaming gap-based sessions: the SAME session_window aggregation
    // as the batch `sessionize` key, executed as a real watermarked
    // stream (session_window is one of the few stateful operators whose
    // batch and streaming semantics are defined to coincide); the
    // oracle is the batch key's lag+running-sum SQL, so the hash-match
    // IS the stream/batch parity claim, checked by the driver itself
    sql("stream_session_live", Relational.Sql.sessionize) { (s, d) =>
      EventStream.runSessions(s, d)
    },

    // streaming top-k: complete-mode counts + sort + limit INSIDE the
    // streaming query — the stream's own emitted relation is the
    // current top 10, not a batch post-pass over sunk state
    sql("stream_topk_live",
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""".stripMargin) { (s, d) =>
      EventStream.runTopK(s, d)
    },

    // chained stream-stream interval joins: the 3-step live funnel in
    // ONE streaming query (two stateful joins back to back — Spark 4
    // multiple-stateful-operator support); per-leg state is bounded by
    // the interval, and the batch 3-way interval join is the oracle
    sql("stream_funnel_live",
      """SELECT s.event_id AS s_event, v.event_id AS v_event,
        |       p.event_id AS p_event
        |FROM events s
        |JOIN events v ON v.user_id = s.user_id
        | AND s.event_type = 'signup' AND v.event_type = 'view'
        | AND v.ts > s.ts AND v.ts <= s.ts + INTERVAL 7 DAY
        |JOIN events p ON p.user_id = v.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 7 DAY
        |ORDER BY s_event, v_event, p_event""".stripMargin) { (s, d) =>
      EventStream.runFunnel(s, d)
    },

    // watermarked LEFT OUTER interval join — the drop-off funnel:
    // signups with NO purchase within 7 days, emitted exactly once
    // when the watermark closes their match interval. The oracle
    // carries the stream's ACTUAL closure predicate: each
    // withWatermark node observes only its filtered leg, so under the
    // default multipleWatermarkPolicy=min the global watermark is
    // least(max signup ts, max purchase ts) − 1h — NOT max(ts) over
    // all events, whose global max can be a view/click that advances
    // neither leg. An EMPTY leg coalesces to the epoch: its stream
    // watermark never advances past 1970, the min-policy global
    // watermark stays there, and NOTHING emits — the oracle mirrors
    // that exactly (DuckDB least() would otherwise skip the NULL max
    // and emit every expired signup, diverging from the stream).
    // Younger signups are PENDING, not absent — the hash-match pins
    // the emission frontier along with the join semantics
    sql("stream_funnel_dropoff",
      """WITH wm AS (SELECT least(
        |              coalesce((SELECT max(ts) FROM events WHERE event_type = 'signup'),
        |                       TIMESTAMP '1970-01-01'),
        |              coalesce((SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        |                       TIMESTAMP '1970-01-01'))
        |            - INTERVAL 1 HOUR AS w)
        |SELECT s.event_id AS signup_event, s.user_id AS user_id
        |FROM events s, wm
        |WHERE s.event_type = 'signup'
        |  AND s.ts + INTERVAL 7 DAY < wm.w
        |  AND NOT EXISTS (SELECT 1 FROM events p
        |                  WHERE p.event_type = 'purchase'
        |                    AND p.user_id = s.user_id
        |                    AND p.ts >= s.ts
        |                    AND p.ts <= s.ts + INTERVAL 7 DAY)
        |ORDER BY signup_event""".stripMargin) { (s, d) =>
      EventStream.runFunnelDropoff(s, d)
    },

    // streaming media-ingest dedup via dropDuplicatesWithinWatermark —
    // the state-BOUNDED dedup API (per-key state ≈ rate × delay), the
    // right variant when the key space grows with the crawl forever;
    // the deterministic contract is the deduplicated fingerprint set
    sql("stream_media_dedup",
      """SELECT DISTINCT md5(hex(unhex(md5(text)))) AS media_fp
        |FROM documents ORDER BY media_fp""".stripMargin) { (s, d) =>
      graft.streaming.MediaStream.runDedup(s, d)
    }
  )
}
