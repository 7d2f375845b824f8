-- DuckDB answers for the five streaming twins, over the view `events`
-- (every staged micro-batch file). Each statement starts with a
-- `-- name: <op>` line; the harness names its outputs the same way.

-- name: speed_radar
-- The radar filter: every event at or above the limit.
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
FROM events WHERE value >= 90;

-- name: congestion_daily
-- Closed daily windows only: a 1-day window is emitted once the watermark
-- (max event time, in ms, minus the 1-day delay) reaches its end.
WITH wm AS (SELECT (epoch_ms(max(ts)) - 86400000) * 1000 AS wm_us FROM events)
SELECT strftime(date_trunc('day', ts), '%Y/%m/%d') AS day, count(*) AS n_trips,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_amount
FROM events WHERE event_type = 'purchase' AND value > 0
GROUP BY day
HAVING epoch_us(date_trunc('day', min(ts))) + 86400000000 <= (SELECT wm_us FROM wm);

-- name: rate_of_change
-- The last rate update per (user, type): first and latest observation so far.
WITH a AS (
  SELECT user_id, event_type,
         epoch_us(min(ts)) AS t_first_us, epoch_us(max(ts)) AS t_last_us,
         arg_min(value, ts) AS v_first, arg_max(value, ts) AS v_last
  FROM events GROUP BY user_id, event_type)
SELECT user_id, event_type, t_first_us, t_last_us,
       CASE WHEN t_last_us = t_first_us THEN 0.0
            ELSE (v_last - v_first) / ((t_last_us - t_first_us) / 3600e6) END AS rate_per_hour
FROM a;

-- name: accident_runs
-- Runs of at least 4 same-type events per user, emitted when the run breaks:
-- each user's last run is still open at the end of the stream.
WITH e AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts)
         - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts) AS run_id
  FROM events),
r AS (
  SELECT user_id, event_type, min(ts) AS t0, max(ts) AS t1, count(*) AS n
  FROM e GROUP BY user_id, event_type, run_id),
l AS (SELECT user_id, max(t0) AS last_t0 FROM r GROUP BY user_id)
SELECT r.user_id, r.event_type, epoch_us(r.t0) AS t_start_us,
       epoch_us(r.t1) AS t_end_us, r.n AS n_events
FROM r JOIN l USING (user_id)
WHERE r.n >= 4 AND r.t0 < l.last_t0;

-- name: saturated_pairs
-- Consecutive events of one user less than 10 minutes apart.
WITH e AS (
  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events)
SELECT user_id, epoch_us(prev_ts) AS t1_us, epoch_us(ts) AS t2_us,
       CAST(2 AS BIGINT) AS n_trips
FROM e
WHERE prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) < 600000000;
