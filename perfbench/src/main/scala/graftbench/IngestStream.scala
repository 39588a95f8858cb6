package graftbench

import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.sources.EventsSource
import graft.streaming.{EventPipeline, ParquetUpsertSink}

/** The demo's write path through the program's streaming twin of Steps
  * 1-3: NDJSON files -> `EventsSource.parse` -> `EventPipeline.typed` ->
  * `EventPipeline.hourlyCounts` -> `EventPipeline.toSink`
  * (`ParquetUpsertSink`), one file per micro-batch.
  *
  * A round drains two fixed backlogs, each into a fresh checkpoint and
  * sink: `backlog` (large batches: per-event parse and aggregation cost)
  * and `trickle` (small batches: per-trigger offsets, planning, WAL and
  * state-commit cost), then reads each sink's current state back with
  * `ParquetUpsertSink.read`, the demo's SELECT of the ingested table. */
final class IngestStream(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val keys = Seq("bucket", "event_type")
  private val meta = Meta.read(s"${ctx.data}/meta.json")
  private var round = 0

  // the first timed round after the warm-up spreads most from run to run;
  // the median of two is steady
  def minRounds: Int = 2
  def setup(): Unit = ()
  def ingestOps: Seq[String] = Seq("stream.backlog")
  def eventsPerIngestOp: Double = meta("backlog_events")

  /** Drains every file under `dir` into a fresh sink; returns the sink
    * path and the progress of every batch. */
  private def drain(phase: String, dir: String): (String, Seq[StreamingQueryProgress]) = {
    val tag = s"r$round-$phase"
    val sink = ctx.scratch(s"sink-$tag")
    var progress: Seq[StreamingQueryProgress] = Nil
    ctx.attributed(s"stream.$phase") {
      val raw = spark.readStream.option("maxFilesPerTrigger", "1")
        .schema("value STRING").text(dir).withColumnRenamed("value", "message")
      val q = EventPipeline.toSink(
          EventPipeline.hourlyCounts(EventPipeline.typed(EventsSource.parse(raw))), sink)(spark)
        .option("checkpointLocation", ctx.scratch(s"ckpt-$tag"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      progress = q.recentProgress.toSeq
    }
    (sink, progress)
  }

  private def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def round(warm: Boolean): Unit = {
    round += 1
    // the warm-up is a whole round: a smaller one leaves the backlog's
    // parse and aggregation code to the JIT compiler inside the timed rounds
    val drained = Seq("backlog", "trickle").map { phase =>
      val (sink, progress) = drain(phase, s"${ctx.data}/$phase")
      (phase, sink, progress)
    }
    // each sink's state is read back once, timed, and checked against the
    // oracle over the files that drain consumed
    drained.foreach { case (phase, sink, _) =>
      ctx.writeCheck(s"ingest-$phase-r$round",
        ctx.op(s"stream.read_$phase", "streaming.read_s")(ParquetUpsertSink.read(spark, sink, keys)) {
          df => Json.rows(df.columns.toSeq, df.collect().toSeq)
        })
    }
    val backlogP = drained.collect { case ("backlog", _, p) => p }.flatten
    val trickleP = drained.collect { case ("trickle", _, p) => p }.flatten
    val backlogData = backlogP.filter(_.numInputRows > 0)
    val trickleData = trickleP.filter(_.numInputRows > 0)

    if (ctx.trace) {
      val l = ctx.layer
      val trig = trickleData.map(duration(_, "triggerExecution"))
      def med(k: String) = Stats.median(trickleData.map(duration(_, k)))
      l("streaming.batches") += backlogP.size + trickleP.size
      l("streaming.rows_per_s") = Stats.median(backlogData.map(_.processedRowsPerSecond))
      l("streaming.trigger_ms") = Stats.median(trig)
      l("streaming.trigger_p90_ms") = Stats.quantile(trig, 0.9)
      l("streaming.add_batch_ms") = med("addBatch")
      l("streaming.latest_offset_ms") = med("latestOffset")
      l("streaming.get_batch_ms") = med("getBatch")
      l("streaming.planning_ms") = med("queryPlanning")
      l("streaming.wal_commit_ms") = med("walCommit")
      l("streaming.commit_offsets_ms") = med("commitOffsets")
      val state = (backlogP ++ trickleP).flatMap(_.stateOperators.headOption)
      l("streaming.state_commit_ms") =
        Stats.median(trickleData.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble))
      l("streaming.state_rows") = state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
      l("streaming.state_mb") = state.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0)
      val files = drained.flatMap(d => Meta.files(d._2))
      l("streaming.sink_files") = files.count(_.getName.endsWith(".parquet")).toDouble
      l("streaming.sink_mb") = files.map(_.length).sum / 1e6
    }
  }
}

object Meta {
  /** The generator's flat numeric meta.json. */
  def read(path: String): Map[String, Double] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    "\"([a-z_]+)\":\\s*(-?[0-9.]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
  }
}
