package graftbench

import org.apache.spark.sql.DataFrame
import graft.SparkEntry
import graft.sources.{ClickHouseDemo, ClickHouseSql}

/** The demo's read path and the engine's heavy operators, each query
  * once per round:
  *  - the README's own statements run through the `ClickHouseSql`
  *    dialect over a file-backed `entry-events` topic, then ad-hoc reads
  *    from the dialect's vocabulary;
  *  - the native `SparkEntry.queries` twins over the events table;
  *  - an operator key whose build step runs many eager jobs before it
  *    returns its DataFrame (`q_kcore`'s graph-peeling rounds).
  * The dialect reads and native twins have small per-row work, so each
  * query's fixed cost (translation, planning, job scheduling, what it
  * re-reads) dominates them; the operator key is carried by its build
  * step and shuffles. */
final class QueryMix(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val topicEvents = Meta.read(s"${ctx.data}/meta.json")("topic_events")
  private val tables = s"${ctx.data}/tables"
  private var ch: ClickHouseSql = _
  private val warmRows = scala.collection.mutable.Map.empty[String, String]

  /** The README's future-timestamp cutover, mid-topic and mid-day, so
    * the cutover day gets daily states from both the MV and the
    * backfill leg. */
  private val cutoff = "2013-11-20 12:00:00"

  /** README Steps 2-4 verbatim. */
  private def catalogStatements: Seq[String] = {
    import ClickHouseDemo._
    Seq(queueDdl, eventsDdl, eventsMv,
      granularDdl, granularMv(cutoff), granularBackfill(cutoff),
      dailyDdl, dailyMv(cutoff), dailyBackfill(cutoff))
  }

  val statements: Seq[(String, String)] = Seq(
    "ch.points_by_house" -> ClickHouseDemo.pointsByHouseQuery,
    "ch.daily_merge" -> ClickHouseDemo.dailyMergeQuery,
    "ch.count" -> "SELECT count() FROM student_entry_events",
    "ch.latest" -> ("SELECT timestamp, subject, teacher, room, points, student " +
      "FROM student_entry_events ORDER BY timestamp DESC LIMIT 1"),
    "ch.daypart" ->
      """SELECT toStartOfMonth(timestamp) AS month,
        |    multiIf(toHour(timestamp) < 6, 'night', toHour(timestamp) < 12, 'morning',
        |            toHour(timestamp) < 18, 'afternoon', 'evening') AS daypart,
        |    count() AS entries, sum(points) AS net_points
        |FROM student_entry_events
        |GROUP BY (month, daypart)""".stripMargin)

  val nativeKeys: Seq[String] =
    Seq("events_count", "latest_event", "q_kcore")

  def minRounds: Int = 1
  /** Every dialect read re-extracts the whole topic from its JSON (the
    * catalog's cached tables do not survive the next statement), so
    * each dialect read is an ingest of the topic. */
  def ingestOps: Seq[String] = statements.map(_._1)
  def eventsPerIngestOp: Double = topicEvents

  def setup(): Unit = {
    ctx.writeOracle(nativeKeys, statements.map(_._1))
    val topic = spark.read.text(s"${ctx.data}/topic")
    val t0 = System.nanoTime()
    ctx.tr.span("sources.catalog_build") {
      ch = new ClickHouseSql(spark, {
        case "entry-events" => topic
        case other => throw new IllegalArgumentException(s"unknown topic $other")
      })
      ch.executeAll(catalogStatements)
    }
    ctx.setupLayer("sources.catalog_build_s") = (System.nanoTime() - t0) / 1e9
  }

  private def timedRead(name: String, buildMetric: String, build: => DataFrame,
      warm: Boolean): Unit = {
    val json = ctx.op(name, buildMetric)(build)(df => Json.rows(df.columns.toSeq, df.collect().toSeq))
    if (warm) {
      warmRows(name) = json
      ctx.writeCheck(name, json)
    } else ctx.expectSame(name, warmRows(name), json)
  }

  def round(warm: Boolean): Unit = {
    statements.foreach { case (name, sql) =>
      if (ctx.trace) ctx.tr.span("sources.translate") {
        val t = System.nanoTime()
        ch.translateQuery(sql)
        ctx.translateMs += (System.nanoTime() - t) / 1e6
      }
      timedRead(name, "sources.execute_s", ch.execute(sql).get, warm)
    }
    nativeKeys.foreach(k =>
      timedRead(k, "operators.build_s", SparkEntry.queries(k)(spark, tables), warm))
  }
}
