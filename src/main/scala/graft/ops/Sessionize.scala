package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: a new session starts when the gap to the previous
  * event exceeds `gapUs` One shuffle on the key; session ids via running sum
  * of new-session flags — the standard scalable formulation (no state store
  * needed in batch; the streaming analogue is session windows).
  */
object Sessionize {

  def sessions(events: DataFrame, keyCol: String, tsCol: String, gapUs: Long,
      tieBreakCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreakCol))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("new_sess",
        when(col(tsCol) - lag(col(tsCol), 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum("new_sess").over(run))
  }

  def sessionStats(events: DataFrame, keyCol: String, tsCol: String, gapUs: Long,
      tieBreakCol: String = "event_id"): DataFrame =
    sessions(events, keyCol, tsCol, gapUs, tieBreakCol)
      .groupBy(col(keyCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col(tsCol)).as("start_us"),
           max(col(tsCol)).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))

  /** The built-in `session_window` sessions of q104, q123 and q139 over raw
    * events (user_id, ts in ns, value): a gap of MORE than 30 min starts a
    * new session (Spark merges [ts, ts + gap) windows that overlap or
    * touch), and a session ends at its last event + gap — unlike
    * [[sessions]], which ends at the last event. One row per session:
    * user_id, start_us, end_us, n_events, sum_v_micro.
    */
  def gapSessions(events: DataFrame): DataFrame =
    events.select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("event_time"),
        ExactStats.micro(col("value")).cast("long").as("v_micro"))
      .groupBy(col("user_id"),
        session_window(col("event_time"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum("v_micro").as("sum_v_micro"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n_events"),
        col("sum_v_micro"))

  /** [[gapSessions]] as DuckDB islands CTEs over `events` (a lag break at
    * gap > 30 min = 1.8·10⁹ µs, a prefix-sum session id); yields `sess`.
    */
  val GapSessionsSqlCtes: String =
    """ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, floor(value * 1e6)::BIGINT AS vm
      |  FROM events),
      |o AS (
      |  SELECT *, (CASE WHEN lag(ts_us) OVER w IS NULL
      |      OR ts_us - lag(ts_us) OVER w > 1800000000
      |      THEN 1 ELSE 0 END) AS brk
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM o),
      |sess AS (
      |  SELECT user_id, min(ts_us) AS start_us, max(ts_us) + 1800000000 AS end_us,
      |    count(*)::BIGINT AS n_events, sum(vm)::BIGINT AS sum_v_micro
      |  FROM g GROUP BY user_id, sid)""".stripMargin

  /** Maximal runs of one event type per user over events carrying
    * user_id, event_id, event_type and `clock`: a lag break when the type
    * changes, then a prefix-sum run id, ordered by `clock` with event_id
    * breaking ties. Adds prev, brk and run_id. q117 orders by the ns `ts`,
    * the versions by `ts_us`.
    */
  def stateRuns(events: DataFrame, clock: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col(clock), col("event_id"))
    events.withColumn("prev", lag("event_type", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("prev") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** SCD2 versions of the per-user state (the event type) over raw events
    * (ts in ns), one per [[stateRuns]] run over ts_us: user_id, run_id,
    * event_type, valid_from (its first ts_us), valid_to (the next run's;
    * NULL last).
    */
  def stateVersions(events: DataFrame): DataFrame =
    stateRuns(events.select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts div 1000").as("ts_us")), "ts_us")
      .groupBy("user_id", "run_id", "event_type")
      .agg(min("ts_us").as("valid_from"))
      .withColumn("valid_to", lead("valid_from", 1).over(
        Window.partitionBy("user_id").orderBy("run_id")))

  /** Each purchase of the raw `events` with the [[stateVersions]] state
    * valid just BEFORE it, at ts_us − 1 (its own run would match trivially
    * at ts_us), 'none' before a user's first event: (user_id, purchase_id,
    * ts_us, state_before). A broadcast hint on `versions` carries through.
    */
  def stateBefore(events: DataFrame, versions: DataFrame): DataFrame =
    events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
      .join(versions.select(col("user_id").as("v_user"),
          col("event_type").as("state"), col("valid_from"), col("valid_to")),
        col("user_id") === col("v_user") &&
        col("valid_from") <= col("ts_us") - 1 &&
        (col("valid_to").isNull || col("valid_to") > col("ts_us") - 1),
        "left")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us"), coalesce(col("state"), lit("none")).as("state_before"))

  /** [[stateRuns]] as DuckDB CTEs over the relation `events`; yields
    * `run_r` = events.* + brk + run_id.
    */
  def stateRunsSqlCtes(events: String, clock: String): String =
    s"""run_o AS (
       |  SELECT *,
       |    (CASE WHEN lag(event_type) OVER w IS NULL
       |          OR lag(event_type) OVER w <> event_type
       |          THEN 1 ELSE 0 END) AS brk
       |  FROM $events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY $clock, event_id)),
       |run_r AS (
       |  SELECT *,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY $clock, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM run_o)""".stripMargin

  /** [[stateVersions]] as DuckDB CTEs over `events`: `e` (user_id,
    * event_id, event_type, ts_us), then `versions`.
    */
  val StateVersionsSqlCtes: String =
    s"""e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
       |  FROM events),
       |${stateRunsSqlCtes("e", "ts_us")},
       |runs AS (
       |  SELECT user_id, run_id, event_type, min(ts_us) AS valid_from
       |  FROM run_r GROUP BY 1, 2, 3),
       |versions AS (
       |  SELECT user_id, run_id, event_type, valid_from,
       |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
       |      AS valid_to
       |  FROM runs)""".stripMargin

  /** [[stateBefore]] of every purchase in `events` as DuckDB CTEs:
    * [[StateVersionsSqlCtes]], then `before`.
    */
  val StateBeforeSqlCtes: String =
    s"""$StateVersionsSqlCtes,
       |before AS (
       |  SELECT p.user_id, p.event_id AS purchase_id, p.ts_us,
       |    coalesce(v.event_type, 'none') AS state_before
       |  FROM e p LEFT JOIN versions v ON p.user_id = v.user_id
       |    AND v.valid_from <= p.ts_us - 1
       |    AND (v.valid_to IS NULL OR v.valid_to > p.ts_us - 1)
       |  WHERE p.event_type = 'purchase')""".stripMargin
}
