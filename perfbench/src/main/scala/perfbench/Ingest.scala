package perfbench

import graft.sources.WeatherGridSource.MEASURES
import graft.weather.{WeatherIngest, WeatherPipeline}
import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The `ingest` workload: the paper's scheduled, incremental ingest.
  *
  * One closed-loop client on a fresh, empty Parquet sink: a backfill run
  * (`WeatherIngest.run` over BACKFILL_DAYS of history for
  * BACKFILL_LOCATIONS locations) as set-up, then timed cron cycles on a
  * simulated clock that advances CRON_STEP_MIN minutes per cycle, like
  * the reference's `rate(5 minutes)` trigger, each a default `run`
  * (1 past + 1 forecast day) for CRON_LOCATIONS locations. The source grid is 15 minutes, so
  * two of every three cycles insert nothing. The seed shifts the
  * simulated start clock (and with it the generated source values and
  * which cycles cross a slot).
  *
  * Every cycle is checked: status 200, rows fetched and inserted equal to
  * the counts the clock implies. The sink is checked at the end.
  */
object Ingest {
  val BACKFILL_DAYS = 7
  val BACKFILL_LOCATIONS = 128
  val CRON_LOCATIONS = 16
  val CRON_STEP_MIN = 5
  val WARMUP_CYCLES = 6
  val SLOT_S = 900L
  val KEYS = Seq("location_id", "ts")

  private def fmt(t: LocalDateTime): String = t.toString.replace('T', ' ') match {
    case s if s.length == 16 => s + ":00"
    case s => s
  }
  private def epoch(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC)
  private def floorSlot(s: Long): Long = Math.floorDiv(s, SLOT_S)
  private def ceilSlot(s: Long): Long = -Math.floorDiv(-s, SLOT_S)

  /** Grid slots in the half-open fetch window [now - past, now + future). */
  def fetchedSlots(now: LocalDateTime, pastDays: Int, futureDays: Int): Long =
    ceilSlot(epoch(now.plusDays(futureDays))) - ceilSlot(epoch(now.minusDays(pastDays)))

  /** Slots a run on an empty sink inserts: those in [now - past, now]. */
  def backfillSlots(now: LocalDateTime, pastDays: Int): Long =
    floorSlot(epoch(now)) - ceilSlot(epoch(now.minusDays(pastDays))) + 1

  def startClock(seed: Long): LocalDateTime =
    LocalDateTime.of(2024, 3, 1, 0, 0)
      .plusMinutes(Math.floorMod(seed * 7919L, 30L * 24 * 60))

  def emptySink(r: Run, path: String): Unit =
    WeatherIngest.fetch(r.spark, "2024-01-02 00:00:00", 0, 1, 1).limit(0)
      .write.mode("overwrite").parquet(path)

  def run(r: Run): Unit = {
    val spark = r.spark
    val sink = Paths.get(r.work, "sink").toAbsolutePath.toString
    val t0 = startClock(r.seed)
    var expectedRows = 0L
    var i = 0
    var prev = t0

    def cycle(pass: Int, traced: Boolean): Unit = {
      i += 1
      val now = t0.plusMinutes(CRON_STEP_MIN.toLong * i)
      r.tracer.enabled = traced
      val start = System.currentTimeMillis()
      val (res, s) = r.timed(WeatherIngest.run(spark, sink, fmt(now),
        locations = CRON_LOCATIONS))
      r.tracer.enabled = false
      val expIns = CRON_LOCATIONS * (floorSlot(epoch(now)) - floorSlot(epoch(prev)))
      val expFetch = CRON_LOCATIONS * fetchedSlots(now, 1, 1)
      expectedRows += expIns
      r.rec("op", "kind" -> "cycle", "name" -> "cron", "start" -> start,
        "s" -> s, "pass" -> pass, "traced" -> traced, "status" -> res.statusCode,
        "fetched" -> res.recordsFetched, "inserted" -> res.recordsInserted,
        "ok" -> (res.statusCode == 200 && res.recordsInserted == expIns &&
          res.recordsFetched == expFetch),
        "error" -> res.error)
      if (traced) probes(r, sink, now, 1, CRON_LOCATIONS)
      prev = now
    }

    // set-up: the empty sink, the backfill and WARMUP_CYCLES untimed cron
    // cycles (JIT, codegen and reader set-up a running service has paid)
    val (_, warmS) = r.timed {
      emptySink(r, sink)
      r.tracer.enabled = r.trace
      val start = System.currentTimeMillis()
      val (res, s) = r.timed(WeatherIngest.run(spark, sink, fmt(t0),
        pastDays = BACKFILL_DAYS, locations = BACKFILL_LOCATIONS))
      r.tracer.enabled = false
      val expIns = BACKFILL_LOCATIONS * backfillSlots(t0, BACKFILL_DAYS)
      val expFetch = BACKFILL_LOCATIONS * fetchedSlots(t0, BACKFILL_DAYS, 1)
      expectedRows += expIns
      r.rec("op", "kind" -> "backfill", "name" -> "backfill", "start" -> start,
        "s" -> s, "pass" -> 0, "traced" -> r.trace, "status" -> res.statusCode,
        "fetched" -> res.recordsFetched, "inserted" -> res.recordsInserted,
        "ok" -> (res.statusCode == 200 && res.recordsInserted == expIns &&
          res.recordsFetched == expFetch),
        "error" -> res.error)
      if (r.trace) probes(r, sink, t0, BACKFILL_DAYS, BACKFILL_LOCATIONS)
      (1 to WARMUP_CYCLES).foreach(_ => cycle(pass = 0, traced = false))
    }
    r.rec("warmup", "s" -> warmS)

    // timed cron cycles until the window is spent; a traced run traces
    // every other cycle (the difference is the tracing overhead)
    val windowStart = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - windowStart) / 1e9 < r.seconds) {
      n += 1
      cycle(pass = 1, traced = r.trace && n % 2 == 0)
    }

    // end-of-run sink checks and size
    val stored = spark.read.parquet(sink)
    val rows = stored.count()
    val distinct = stored.select(KEYS.map(col): _*).distinct().count()
    val maxTs = stored.agg(max("ts")).first().getTimestamp(0).toLocalDateTime
    val nans = stored.filter(MEASURES.map(m => isnan(col(m))).reduce(_ || _)).count()
    r.rec("check", "name" -> "sink_rows_expected", "ok" -> (rows == expectedRows),
      "detail" -> s"$rows rows, expected $expectedRows")
    r.rec("check", "name" -> "sink_keys_unique", "ok" -> (rows == distinct),
      "detail" -> s"$distinct distinct (location_id, ts)")
    r.rec("check", "name" -> "sink_max_ts_not_future", "ok" -> !maxTs.isAfter(prev),
      "detail" -> s"max(ts) $maxTs, last now $prev")
    r.rec("check", "name" -> "sink_no_nan", "ok" -> (nans == 0), "detail" -> s"$nans rows")
    val files = Files.walk(Paths.get(sink)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    r.rec("probe", "name" -> "sink.files", "value" -> files.size)
    r.rec("probe", "name" -> "sink.bytes", "value" -> files.map(Files.size).sum)
    r.rec("probe", "name" -> "sink.rows", "value" -> rows)
  }

  /** Traced-run probes after an operation, each timed from outside the
    * layer it measures: the extract (`fetch`, fully decoded), the upsert
    * (`upsertNew` against the sink; after the run it must find nothing
    * new) and the cursor read (`latestCursor`). */
  private def probes(r: Run, sink: String, now: LocalDateTime, pastDays: Int,
                     locations: Int): Unit = {
    val spark = r.spark
    val (raw, extractS) = r.timed {
      val df = WeatherIngest.fetch(spark, fmt(now), pastDays, 1, locations).cache()
      (df, df.count())
    }
    r.rec("probe", "name" -> "sources.extract", "s" -> extractS, "rows" -> raw._2)
    val (fresh, upsertS) = r.timed(WeatherPipeline.upsertNew(
      raw._1.filter(col("ts") <= lit(fmt(now)).cast("timestamp")),
      spark.read.parquet(sink), KEYS).count())
    r.rec("probe", "name" -> "weather.upsert", "s" -> upsertS)
    r.rec("check", "name" -> "upsert_idempotent", "ok" -> (fresh == 0),
      "detail" -> s"$fresh rows not yet in the sink after the run")
    raw._1.unpersist()
    val (cursor, cursorS) = r.timed(WeatherIngest.latestCursor(spark, sink))
    r.rec("probe", "name" -> "weather.cursor", "s" -> cursorS)
    val want = java.sql.Timestamp.valueOf(LocalDateTime.ofEpochSecond(
      floorSlot(epoch(now)) * SLOT_S, 0, ZoneOffset.UTC))
    r.rec("check", "name" -> "cursor_at_last_slot", "ok" -> cursor.contains(want),
      "detail" -> s"cursor $cursor, expected $want")
  }
}
