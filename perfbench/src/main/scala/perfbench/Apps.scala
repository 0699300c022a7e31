package perfbench

import org.apache.spark.sql.DataFrame

/** A SiddhiQL app the benchmark runs. Every text is the text of an
  * existing oracle-gated live app (`gate`), so its output is pinned three
  * ways: the live deployment equals the `compileApp` batch twin on any
  * input, and both equal the gate's DuckDB oracle. `post` is the gate's
  * own final projection (rounding or ordering), applied to both lowerings.
  * `family` says which live machinery runs it: "fold" apps go through the
  * SiddhiQlLive fold runner (foreachBatch over parquet state generations),
  * "native" apps lower to Spark's own stateful operators. */
final case class App(name: String, gate: String, family: String,
                     text: String, out: String,
                     post: DataFrame => DataFrame = identity)

object Apps {
  private val stream =
    """define stream events (event_id long, ts_ns long, user_id long,
      |  event_type string, value double);
      |""".stripMargin

  /** write-heavy: a timeBatch roll feeding an update-or-insert counter
    * table, so every trigger folds keyed partials into state */
  val roll = App("roll", "sql_app_table_agg_live", "fold", stream +
    """define table Acc (user_id long, flushes long, total double);
      |
      |@info(name = 'roll')
      |from events[event_type == 'click']#window.timeBatch(10 min)
      |select user_id, convert(1, 'long') as flushes,
      |  sum(value) as total
      |group by user_id
      |update or insert into Acc
      |  set Acc.flushes = Acc.flushes + 1,
      |      Acc.total = Acc.total + total
      |  on Acc.user_id == user_id""".stripMargin, "roll",
    _.selectExpr("user_id", "flushes", "round(total, 2) as total")
      .orderBy("user_id"))

  /** read-heavy: stream-table enrichment, one as-of lookup per event */
  val enrich = App("enrich", "sql_app_enrich_live", "fold", stream +
    """define table UserState (user_id long, last_value double,
      |  last_type string);
      |
      |@info(name = 'track')
      |from events[event_type != 'purchase']
      |select user_id, value as last_value, event_type as last_type
      |update or insert into UserState on UserState.user_id == user_id;
      |
      |@info(name = 'enrich')
      |from events as e[event_type == 'purchase'] join UserState
      |  on UserState.user_id == e.user_id
      |select e.event_id as event_id, e.user_id as user_id,
      |  UserState.last_value as prev_value,
      |  UserState.last_type as prev_type, e.value as value
      |order by event_id
      |insert into Out""".stripMargin, "enrich")

  /** native: watermarked interval join feeding a tumbling aggregation */
  val joinAgg = App("join_agg", "sql_app_join_agg_live", "native",
    """@info(name = 'pairs')
      |from events as a[event_type == 'error']#window.time(10 min)
      |  join events as b[event_type == 'purchase']#window.time(10 min)
      |  on a.user_id == b.user_id
      |select a.user_id as user_id, b.value as value, a.ts_ns as ts_ns
      |insert into Pairs;
      |
      |@info(name = 'agg')
      |from Pairs#window.timeBatch(1 min)
      |select user_id, count() as n, math:round(sum(value), 2) as total
      |group by user_id
      |order by w_start_ms, user_id
      |insert into Out""".stripMargin, "agg")

  /** native: followed-by pattern on the per-key NFA */
  val pattern = App("pattern", "sql_app_pattern_live", "native",
    """@info(name = 'alerts')
      |from every e1=events[event_type == 'error']
      |  -> e2=events[event_type == 'purchase' and value > e1.value]
      |  within 5 min
      |select e1.user_id as user_id, e1.event_id as start_id,
      |  e2.event_id as next_id, e2.value as next_value
      |order by start_id, next_id
      |insert into alerts""".stripMargin, "alerts")

  val all: Seq[App] = Seq(roll, enrich, joinAgg, pattern)
}
