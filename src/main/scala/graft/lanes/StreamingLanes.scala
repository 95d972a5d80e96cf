package graft.lanes

import graft.operators.{
  DedupSql, FeatureEngSql, KmvSql, Multimodal, MultimodalSql, NaiveBayesSql, Tables,
  TextAnalysisSql}
import EventLanes.{attributionSql, markovSql, zscoreSql}
import TextLanes.{dsirTargetPredSql, dsirTargetSources}

/** Structured Streaming lanes, each drained to a deterministic result that
  * must equal its batch twin. */
object StreamingLanes extends LaneFamily("streaming") {
  val lanes: Seq[Lane] = Seq(
    // --- ST: Structured Streaming drained to a deterministic result —
    // the incremental engine must reproduce the batch answer exactly
    Lane("st1_stream_hourly", Some(
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
          |       event_type, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin))((s, dir) =>
      graft.streaming.StreamingQueries.eventHourly(s, dir)),
    // drained complete state == batch e6
    Lane("st17_stream_sliding", Some(
        """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us, event_type
          |            FROM events),
          |hops AS (
          |  SELECT ((us // 900000000) - k) * 900000000 AS w_start_us,
          |         event_type
          |  FROM ev, (SELECT unnest(generate_series(0, 3)) AS k))
          |SELECT w_start_us, event_type, count(*) AS n
          |FROM hops GROUP BY 1, 2
          |ORDER BY w_start_us, event_type""".stripMargin))((s, dir) =>
      // hopping windows, e6's twin
      graft.streaming.StreamingQueries.eventSliding(s, dir)),
    // 2-batch MV merge chain == full recompute
    Lane("st18_stream_mv", Some(
        """SELECT epoch_ns(ts) // 3600000000000 AS hr, event_type,
          |       count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin))((s, dir) =>
      // incremental MV merges across batches
      graft.streaming.StreamingQueries.incrementalMv(s, dir)),
    // two checkpointed runs == one batch pass
    Lane("st19_checkpoint_resume", Some(
        """SELECT event_type, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin))((s, dir) =>
      // exactly-once across restart
      graft.streaming.StreamingQueries.checkpointResume(s, dir)),
    // drained (grp, h) state -> the batch sketch, minus the exact
    // column the bounded-state stream deliberately does not keep
    Lane("st16_stream_kmv", Some(
        KmvSql.distinctSketch("events", "event_type", "user_id")))((s, dir) =>
      // modulus-bounded cardinality monitor
      graft.streaming.StreamingQueries.kmvState(s, dir)),
    // coalesce: Spark's concat_ws key maps NULL
    // text to "" while count(DISTINCT) would skip a NULL outright
    Lane("st2_stream_dedup", Some(
        s"""SELECT count(*) AS n_docs,
           |       count(DISTINCT coalesce(
           |         array_to_string(${TextAnalysisSql.toks}, ' '), ''))
           |         AS n_distinct
           |FROM documents""".stripMargin))((s, dir) =>
      graft.streaming.StreamingQueries.dedupState(s, dir)),
    // drained (source, fp) state == batch rollup
    Lane("st13_stream_corpus", Some(
        s"""SELECT source,
           |       CAST(count(DISTINCT coalesce(
           |         array_to_string(${TextAnalysisSql.toks}, ' '), ''))
           |         AS BIGINT) AS n_unique,
           |       CAST(count(*) AS BIGINT) AS n_docs
           |FROM documents WHERE ${TextAnalysisSql.lrScore(64)} >= 0
           |GROUP BY source ORDER BY source""".stripMargin))((s, dir) =>
      // streaming corpus ingest: model
      // gate inside the stream, (source, fp)-keyed dedup state
      graft.streaming.StreamingQueries.corpusIngest(s, dir)),
    // the drained stream must reproduce the batch LM scores exactly
    Lane("st14_stream_lm", Some(TextAnalysisSql.unigramLm))((s, dir) =>
      // t21's LM scoring as an ingest stream
      graft.streaming.StreamingQueries.lmScore(s, dir)),
    // the drained stream must reproduce the batch DSIR weights exactly
    Lane("st15_stream_dsir", Some(TextAnalysisSql.dsirWeights(dsirTargetPredSql)))((s, dir) =>
      // t25's DSIR weights as an ingest stream
      graft.streaming.StreamingQueries.dsirScore(s, dir, dsirTargetSources)),
    // zero-FN: hits == total per group
    Lane("st3_stream_bloom_probe", Some(
        s"""SELECT rating, count(*) AS total, count(*) AS hits FROM ($train)
           |GROUP BY rating ORDER BY rating""".stripMargin))((s, dir) =>
      graft.streaming.StreamingQueries.bloomProbe(s, dir)),
    // append mode emits only watermark-finalized
    // windows: window_end <= max event time (ms floor, Spark's
    // watermark precision) - 1h delay. The trailing windows stay open.
    Lane("st4_stream_append", Some(
        """WITH m AS MATERIALIZED (
          |  SELECT (epoch_ns(max(ts)) // 1000000) - 3600000 AS wm_ms
          |  FROM events)
          |SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, event_type,
          |       CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT date_trunc('hour', ts) AS h, event_type FROM events), m
          |WHERE epoch_ms(h + INTERVAL 1 HOUR) <= wm_ms
          |GROUP BY h, event_type ORDER BY hour, event_type""".stripMargin))((s, dir) =>
      // append mode: finalized windows only
      graft.streaming.StreamingQueries.eventHourlyAppend(s, dir)),
    // inner emission == batch join; µs
    // precision on both sides (Spark casts ts div 1000 before joining)
    Lane("st5_stream_stream_join", Some(
        """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS c_us
          |           FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS p_us
          |      FROM events WHERE event_type = 'purchase')
          |SELECT strftime(make_timestamp(c_us), '%Y-%m-%d %H:00') AS hour,
          |       CAST(count(*) AS BIGINT) AS n_conversions
          |FROM c JOIN p ON c.user_id = p.user_id
          |  AND p_us >= c_us AND p_us < c_us + 3600000000
          |GROUP BY 1 ORDER BY hour""".stripMargin))((s, dir) => // watermarked two-stream join
      graft.streaming.StreamingQueries.streamStreamJoin(s, dir)),
    // delta emission sums to the batch count
    Lane("st6_stream_state", Some(
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))((s, dir) =>
      // flatMapGroupsWithState counts
      graft.streaming.StreamingQueries.statefulUserCounts(s, dir)),
    // MapState deltas sum to the batch count
    Lane("st10_transform_state", Some(
        """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY user_id, event_type
          |ORDER BY user_id, event_type""".stripMargin))((s, dir) =>
      // transformWithState + MapState
      graft.streaming.StreamingQueries.transformWithStateCounts(s, dir)),
    // 2-batch delta stream sums to the batch count
    Lane("st11_multibatch", Some(
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))((s, dir) =>
      // state accumulates across 2 batches
      graft.streaming.StreamingQueries.multiBatchState(s, dir)),
    // only watermark-finalized sessions emit:
    // session end (last event + gap) <= max event ms (watermark
    // precision) - 1h delay; strict-gap session rebuild as in e2
    Lane("st12_stream_sessions", Some(
        """WITH m AS MATERIALIZED (
          |  SELECT ((epoch_ns(max(ts)) // 1000000) - 3600000) * 1000 AS wm_us
          |  FROM events),
          |o AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
          |             lag(epoch_ns(ts) // 1000) OVER
          |               (PARTITION BY user_id ORDER BY ts) AS prev
          |      FROM events),
          |s AS (SELECT user_id, ts_us,
          |             sum(CASE WHEN prev IS NULL
          |                        OR ts_us - prev > 1800000000 THEN 1
          |                      ELSE 0 END) OVER
          |               (PARTITION BY user_id ORDER BY ts_us
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |               AS sid
          |      FROM o),
          |g AS (SELECT user_id, sid, min(ts_us) AS s_start_us,
          |             max(ts_us) + 1800000000 AS s_end_us,
          |             CAST(count(*) AS BIGINT) AS n
          |      FROM s GROUP BY user_id, sid)
          |SELECT user_id, s_start_us, s_end_us, n
          |FROM g, m WHERE s_end_us <= wm_us
          |ORDER BY user_id, s_start_us""".stripMargin))((s, dir) => // watermark-finalized sessions
      graft.streaming.StreamingQueries.streamSessions(s, dir)),
    // matches emit always; a null row emits
    // iff the click's join window closed under the final global
    // watermark = min over sides of (max side event ms − 1h delay)
    Lane("st8_stream_left_outer", Some(
        """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS c_us
          |           FROM events WHERE event_type = 'click'),
          |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS p_us
          |      FROM events WHERE event_type = 'purchase'),
          |wm AS MATERIALIZED (
          |  SELECT least((SELECT max(c_us) FROM c) // 1000 - 3600000,
          |               (SELECT max(p_us) FROM p) // 1000 - 3600000)
          |         AS wm_ms),
          |m AS (SELECT c_us FROM c JOIN p ON c.user_id = p.user_id
          |        AND p_us >= c_us AND p_us < c_us + 3600000000),
          |ab AS (SELECT c_us FROM c, wm
          |       WHERE NOT EXISTS (SELECT 1 FROM p
          |               WHERE p.user_id = c.user_id
          |                 AND p_us >= c_us AND p_us < c_us + 3600000000)
          |         AND c_us + 3600000000 <= wm_ms * 1000)
          |SELECT strftime(make_timestamp(c_us), '%Y-%m-%d %H:00') AS hour,
          |       CAST(sum(CASE WHEN kind = 'm' THEN 1 ELSE 0 END) AS BIGINT)
          |         AS matched,
          |       CAST(sum(CASE WHEN kind = 'a' THEN 1 ELSE 0 END) AS BIGINT)
          |         AS abandoned
          |FROM (SELECT c_us, 'm' AS kind FROM m
          |      UNION ALL SELECT c_us, 'a' FROM ab)
          |GROUP BY 1 ORDER BY hour""".stripMargin))((s, dir) => // watermark-emitted nulls
      graft.streaming.StreamingQueries.streamStreamLeftOuter(s, dir)),
    // sink round-trip preserves the batch row set
    Lane("st9_foreach_sink", Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))((s, dir) =>
      // foreachBatch -> batch parquet writer
      graft.streaming.StreamingQueries.foreachBatchSink(s, dir)),
    // doubled stream collapses to the batch rows
    Lane("st7_stream_dropdup", Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))((s, dir) =>
      // at-least-once -> exactly-once
      graft.streaming.StreamingQueries.streamDropDuplicates(s, dir)),
    // drained stream == batch twin
    Lane("st20_stream_markov", Some(markovSql))((s, dir) => // e8's transitions, incremental
      graft.streaming.StreamingQueries.streamMarkov(s, dir)),
    // drained stream == batch twin
    Lane("st21_stream_anomaly", Some(zscoreSql))((s, dir) => // w7's outliers, incremental
      graft.streaming.StreamingQueries.streamAnomaly(s, dir)),
    // drained == batch twin
    Lane("st22_stream_attribution", Some(attributionSql))((s, dir) => // e9's credits, incremental
      graft.streaming.StreamingQueries.streamAttribution(s, dir)),
    // stream-built CMS must bracket the exact count
    Lane("st23_stream_cms", Some(
        """SELECT user_id, count(*) AS n, TRUE AS cms_ok FROM events
          |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""".stripMargin))((s, dir) =>
      // a8's sketch as always-on state:
      // one ~80 KB CMS buffer merged across micro-batches; exact top-10
      // probed against the stream-built sketch under exact ≤ est ≤ exact+εN
      graft.streaming.StreamingQueries.cmsState(s, dir)),
    // drained metrics == batch contract facts
    Lane("st24_stream_contract", Some(
        """SELECT * FROM (
          |  SELECT 'rowcount_min' AS rule,
          |         round(CAST(count(*) AS DOUBLE), 6) AS observed,
          |         CAST(1.0 AS DOUBLE) AS threshold,
          |         count(*) >= 1 AS passed FROM events
          |  UNION ALL
          |  SELECT 'type_domain',
          |         round(CAST(count(DISTINCT event_type) AS DOUBLE), 6),
          |         CAST(5.0 AS DOUBLE),
          |         count(DISTINCT event_type) = 5 FROM events
          |  UNION ALL
          |  SELECT 'value_min_nonnegative', round(min(value), 6),
          |         CAST(0.0 AS DOUBLE), min(value) >= 0.0 FROM events
          |  UNION ALL
          |  SELECT 'value_null_count',
          |         round(CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
          |               AS DOUBLE), 6),
          |         CAST(0.0 AS DOUBLE),
          |         sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
          |  FROM events)
          |ORDER BY rule""".stripMargin))((s, dir) => // a17's verdicts as stream
      // state: one fixed-width metric row across micro-batch commits
      graft.streaming.StreamingQueries.contractMonitor(s, dir)),
    // drained digit state == the batch audit, row for row
    Lane("st25_stream_benford", Some(FeatureEngSql.benford))((s, dir) =>
      // fe3's audit as an always-on
      // fact-stream monitor: state is the 9-row digit-count relation
      graft.streaming.StreamingQueries.benfordMonitor(s, dir)),
    // stream-served predictions == the batch classifier's own oracle
    Lane("st26_stream_nb_serve", Some(NaiveBayesSql.apply))((s, dir) =>
      // t35's fitted model serving a
      // stream: STATELESS scoring projection, verdict final per row
      graft.streaming.StreamingQueries.nbServe(s, dir)),
    Lane("st27_stream_psi", Some(FeatureEngSql.psiDrift()))((s, dir) =>
      // fe5's drift monitor as stream state
      graft.streaming.StreamingQueries.psiMonitor(s, dir)),
    Lane("st28_stream_ks", Some(FeatureEngSql.ksBinned()))((s, dir) =>
      // binned two-sample KS on drained
      // (cohort, bin) state -- the O(|bins|) monitor form of fe10
      graft.streaming.StreamingQueries.ksMonitor(s, dir)),
    Lane("st29_stream_cusum", Some(FeatureEngSql.cusum))((s, dir) => // w13's changepoint screen on
      // drained hourly cells via the shared cusumFace
      graft.streaming.StreamingQueries.cusumMonitor(s, dir)),
    // the composed quality+readability
    // twins, grouped into the identical per-source ledger
    Lane("st30_stream_intake_gate", Some(
        s"""WITH s AS (
           |  SELECT d.source, q.quality, r.flesch
           |  FROM documents d
           |  JOIN (${TextAnalysisSql.qualityScore}) q USING (doc_id)
           |  JOIN (${TextAnalysisSql.readability}) r USING (doc_id))
           |SELECT source, count(*) AS n_docs,
           |       CAST(sum(CASE WHEN quality >= 0.5 AND flesch >= 20.0
           |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           |       round(CAST(sum(CASE WHEN quality >= 0.5
           |                           AND flesch >= 20.0
           |                          THEN 1 ELSE 0 END) AS DOUBLE)
           |             / count(*), 6) AS pass_rate
           |FROM s GROUP BY 1 ORDER BY 1""".stripMargin))((s, dir) => // the t2/t45 screens as an
      // always-on per-source admission ledger (shared faces, bounded state)
      graft.streaming.StreamingQueries.intakeGate(s, dir)),
    Lane("st31_stream_neardup", Some(DedupSql.nearDupAdmission(0.8, 3)))((s, dir) =>
      // dedup_minhash_lsh at ingest:
      // static LSH index, stateless stream signature + banded probe,
      // exact-Jaccard verify, per-doc admission verdict
      graft.streaming.StreamingQueries.nearDupAdmission(s, dir)),
    Lane("mm7_ahash", Some(MultimodalSql.aHash()))((s, dir) =>
      // perceptual average-hash dedup screen
      // over the payload "pixels" (integer-exact, fully oracle-checked)
      Multimodal.aHash(Tables(s, dir, "documents"))),
    Lane("mm8_phash", Some(MultimodalSql.pHash))((s, dir) => // perceptual DCT-hash: integer-exact
      // 8x8 DCT via inlined quantized basis, median-thresholded
      Multimodal.pHash(Tables(s, dir, "documents")))
  )
}
