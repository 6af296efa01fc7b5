package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.ReplayDump.FixedClock
import graft.etl.Etl
import graft.ingest.Ingest
import graft.mart.{AmountGuessing, FraudRules, Mart, MartStaging}
import graft.model.Schemas
import graft.report.Summary
import graft.storage.{Lakehouse, ProtocolTelemetry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Feed days landed one after another, as they arrive: each op is one
  * day through ingest -> normalize (both SCD families' dimensions) ->
  * the SCD2 mart -> the plot_report pivot. A round replays every day in
  * a fresh lake; rounds repeat until `seconds` have passed, so every run
  * attempts whole rounds.
  */
object Replay {
  /** Every table that outlives a day (the landing is truncated). */
  private val Persistent =
    Schemas.byName.keys.filterNot(_ == "denormalized").toSeq.sorted

  def pivotJson(rows: Array[Row]): Seq[Map[String, Any]] = rows.toSeq.map {
    r =>
      val counts = (1 until r.length).filterNot(r.isNullAt).map { i =>
        r.schema.fieldNames(i) -> r.getLong(i)
      }.toMap
      Map("date" -> r.get(0).toString, "counts" -> counts)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, tr: Tracer,
      a: Map[String, String]): Map[String, Any] = {
    val feeds = a("feeds")
    val days = a("days").toInt
    val seconds = a("seconds").toDouble
    val lakes = a("lakes")
    val record = a.get("record").contains("1")
    val feedRows = a("feed-rows").split(",").map(_.toDouble)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traceErrors = mutable.ArrayBuffer.empty[String]
    val dayEndMs = mutable.ArrayBuffer.empty[Long]
    val dayVersions = mutable.ArrayBuffer.empty[Map[String, Long]]
    def maxVersions(lake: Lakehouse): Map[String, Long] =
      Persistent.filter(lake.exists).map(t =>
        t -> lake.versions(t).map(_._1).maxOption.getOrElse(-1L)).toMap

    val phaseStart = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var round = 0
    do {
      round += 1
      val lake = new Lakehouse(spark, s"$lakes/r$round")
      var broken: Option[String] = None
      val self0 = if (tr.on) tr.selfS else 0.0
      for (day <- 1 to days) {
        val feed = s"$feeds/day$day"
        // only cheap counters between ops: a listing here would hand the
        // JIT threads idle time the untraced replay does not get
        val before =
          if (tr.on) Some((Main.fsBytesWritten(), ProtocolTelemetry.totalWaitedMs()))
          else None
        val fromMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res: Either[String, Array[Row]] = broken match {
          case Some(e) => Left(s"skipped after failure: $e")
          case None =>
            try {
              tr.span("ingest")(Ingest.loadDayFromParquet(lake, feed))
              tr.span("etl")(Etl.normalizeTransactions(lake))
              tr.span("mart")(Mart.addReportData(lake, MartStaging.Scd2Dims,
                FixedClock))
              Right(tr.span("report")(Summary.fraudsByDay(lake).collect()))
            } catch {
              case NonFatal(e) =>
                broken = Some(e.toString)
                Left(e.toString)
            }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val toMs = System.currentTimeMillis()
        if (record && round == 1) {
          dayEndMs += toMs
          dayVersions += maxVersions(lake)
        }
        ops += Map("round" -> round, "day" -> day,
          "wall_s" -> wall, "ok" -> res.isRight,
          "error" -> res.left.toOption,
          "pivot" -> res.toOption.map(pivotJson))
        for ((bytes0, wait0) <- before) {
          acc("bytes_written") += Main.fsBytesWritten() - bytes0
          acc("protocol_wait_ms") +=
            ProtocolTelemetry.totalWaitedMs() - wait0
          val spans = tr.spanWalls(fromMs, toMs,
            Set("ingest", "etl", "mart", "report"))
          if (res.isRight && (wall - spans).abs > math.max(0.005, 0.01 * wall))
            traceErrors += f"op r$round day$day: spans $spans%.4f s " +
              f"vs op $wall%.4f s"
        }
      }
      if (tr.on) {
        acc("trace_self_s") += tr.selfS - self0
        // the round's lake is fresh: every version and file in it is new
        // (the landing's files are gone by the day's end)
        acc("commits") += Persistent.filter(lake.exists)
          .map(lake.versions(_).size).sum
        acc("files_written") += Main.files(lake.root).size
        acc("landing_bytes") += (1 to days).map(d => Main.dirBytes(s"$feeds/day$d")).sum
      }
      if (tr.on && broken.isEmpty) {
        // probes: the last day's mart parts re-run on the state that mart
        // saw (it only appends the report), after the round's timed ops so
        // that their JIT warm-up does not speed up a later traced op
        val stg = tr.span("probe.staging") {
          val s = MartStaging.build(lake, MartStaging.Scd2Dims).cache()
          s.count()
          s
        }
        try {
          tr.span("probe.f1f2")(noop(FraudRules.expiredDocs(stg, FixedClock)))
          tr.span("probe.f3")(noop(FraudRules.cityHop(stg, FixedClock)))
          tr.span("probe.f4")(noop(AmountGuessing.detect(stg, FixedClock)))
        } finally stg.unpersist()
      }
    } while ((System.nanoTime() - n0) / 1e9 < seconds)
    val runS = (System.nanoTime() - n0) / 1e9
    val phaseEnd = System.currentTimeMillis()

    val layers =
      if (!tr.on) Map.empty[String, Double]
      else {
        val (tot, unattributed) = tr.census(phaseStart, phaseEnd)
        if (unattributed != 0)
          traceErrors += s"$unattributed jobs fell in no span"
        Main.layers(tot, round, acc, feedRows.sum * round,
          Seq("ingest", "etl", "mart", "report")) +
          ("trace.overhead_s" -> acc("trace_self_s") / ops.size)
      }

    // table dumps for the DuckDB comparison, after the timed phase
    for (r <- 1 to round; lake = new Lakehouse(spark, s"$lakes/r$r");
        t <- Persistent)
      lake.read(t).coalesce(1).write.mode("overwrite")
        .parquet(s"${a("dump")}/r$r/$t")
    Map("ops" -> ops, "run_s" -> runS,
      "phase_end_ms" -> phaseEnd,
      "lake_bytes" -> Main.dirBytes(s"$lakes/r$round"), "layers" -> layers,
      "trace_errors" -> traceErrors,
      "day_end_ms" -> dayEndMs.toList, "day_versions" -> dayVersions.toList)
  }
}
