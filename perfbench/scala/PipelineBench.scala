package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.Pipeline
import graft.config.PipelineConfig
import graft.io.{AlertEmail, AlertNotifier, Sinks, SmtpNotifier}
import graft.ops.{Aggregates, AlertRules, Parse}

/** The reference's four streaming units, wired exactly as
  * `Pipeline.startPersistence/startAlerts/startAggregator/startMailNotifier`
  * wire them, with two stand-ins: each consumer reads its own in-memory
  * stream instead of a Kafka consumer group (one `MemoryStream` cannot be
  * shared, because a commit trims its buffer), and the alert topic is an
  * in-memory stream fed from the dual sink's Kafka seam. JDBC sinks are real
  * `Sinks.jdbcAppend` calls into embedded Derby; the notifier is the real
  * `SmtpNotifier`, talking to a loopback relay.
  *
  * `live` is an open loop: a chunk of 192 readings every 96 ms (2,000
  * readings/s), each chunk stamped with its scheduled creation time. The
  * closed loop (`live = false`) adds 19,992-reading chunks and adds the
  * next only once all four units have committed the previous one.
  *
  * A chunk is committed once the three sensor units (persist, alerts,
  * aggregate) report a progress event whose source end offset covers it.
  */
final class PipelineBench(
    spark: SparkSession,
    live: Boolean,
    seed: Long,
    seconds: Int,
    spans: Spans,
    smtpPort: Int,
    work: String) {

  private val SensorUnits = Seq("persist", "alerts", "aggregate")
  private val Units = SensorUnits :+ "notify"
  private val ChunkRows = if (live) 192 else 19992
  private val TickMs = 96.0
  /** Set-up instances: the first runs JIT-cold and is not reported. */
  private val Setups = 10
  private val WarmupMs = 3000.0
  private val gen = new Readings(seed)
  private var nextReading = 0L

  final class Chunk(val offset: Int, val first: Long, val n: Int,
      val created: Double) {
    val done = Array.fill(SensorUnits.size)(Double.NaN)
    var complete = Double.NaN
    /** Closed loop: when all four units had committed it. */
    var released = Double.NaN
  }

  /** One complete pipeline instance: fresh streams, checkpoints and Derby
    * database, so each set-up starts from nothing.
    */
  final class Setup(val k: Int) {
    val cfg: PipelineConfig = {
      val base = PipelineConfig.fromEnv(Map(
        "CHECKPOINT_ROOT" -> s"$work/ckpt$k",
        "SMTP_HOST" -> "127.0.0.1", "SMTP_PORT" -> smtpPort.toString,
        "ALERT_NOTIFIER" -> "smtp", "SMTP_STARTTLS" -> "false"))
      base.copy(jdbc = base.jdbc.copy(
        url = s"jdbc:derby:$work/derby$k;create=true",
        user = "bench", password = "bench",
        driver = "org.apache.derby.jdbc.EmbeddedDriver"))
    }
    private implicit val enc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    val streams: Map[String, MemoryStream[String]] =
      SensorUnits.map(u => u -> MemoryStream[String](spark)).toMap
    val alertTopic = MemoryStream[String](spark)
    val firstReading: Long = nextReading
    val chunks = ArrayBuffer.empty[Chunk]
    private val marked = Array.fill(SensorUnits.size)(0)
    val committed: Map[String, AtomicLong] =
      Units.map(u => u -> new AtomicLong(-1L)).toMap
    @volatile var alertTopicLast = -1L
    val published = scala.collection.mutable.Map.empty[String, Long]
    /** Mailable payloads in each alert-topic offset, in offset order. */
    val mailablePerOffset = ArrayBuffer.empty[Long]
    val delivered = new AtomicLong(0)
    var queries: Map[String, StreamingQuery] = Map.empty

    /** Record that `unit` committed every chunk up to `endOffset`. */
    def commit(unit: String, endOffset: Long, at: Double): Unit = synchronized {
      committed(unit).set(endOffset)
      val ui = SensorUnits.indexOf(unit)
      if (ui >= 0) {
        while (marked(ui) < chunks.size && chunks(marked(ui)).offset <= endOffset) {
          val c = chunks(marked(ui))
          c.done(ui) = at
          if (c.done.forall(!_.isNaN)) c.complete = c.done.max
          marked(ui) += 1
        }
      }
      notifyAll()
    }

    def addChunk(created: Double, n: Int): Chunk = {
      val rows = gen.range(nextReading, nextReading + n)
      val c = synchronized {
        val c = new Chunk(chunks.size, nextReading, n, created)
        chunks += c
        c
      }
      nextReading += n
      SensorUnits.foreach(u => streams(u).addData(rows.toSeq))
      c
    }

    def allCommitted(c: Chunk): Boolean = !c.complete.isNaN

    def notifierCaughtUp: Boolean =
      committed("notify").get >= alertTopicLast

    /** Block until `cond` holds (re-checked on every progress event). */
    def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      synchronized {
        while (!cond) {
          val left = deadline - System.currentTimeMillis()
          if (left <= 0) throw new IllegalStateException(s"timed out waiting for $what")
          wait(math.min(left, 50L))
        }
      }
    }

    def stop(): Unit = queries.values.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
  }

  // ─── measurement records ────────────────────────────────────────────────

  private val progress = ArrayBuffer.empty[Map[String, Any]]
  private val sinkCalls = ArrayBuffer.empty[Map[String, Any]]
  private val emails = ArrayBuffer.empty[Map[String, Any]]
  private val smtpFailures = new AtomicLong(0)
  private val smtpSendsAll = new AtomicLong(0)
  @volatile private var current: Setup = _
  @volatile private var queryUnit = Map.empty[java.util.UUID, (Int, String)]

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val s = current
      if (s != null) s.synchronized(s.notifyAll())
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = Clock.nowMs()
      val p = e.progress
      val s = current
      val (k, unit) = queryUnit.getOrElse(p.id, (-1, null))
      if (s == null || unit == null) return
      val end = Option(p.sources.headOption.map(_.endOffset).orNull)
        .map(_.trim.toLong).getOrElse(-1L)
      val start = Option(p.sources.headOption.map(_.startOffset).orNull)
        .map(_.trim.toLong).getOrElse(-1L)
      val d = p.durationMs
      def dur(k: String): Double =
        if (d.containsKey(k)) d.get(k).doubleValue else 0.0
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val state = p.stateOperators.headOption
      progress.synchronized {
        progress += Map(
          "setup" -> k, "unit" -> unit, "batch" -> p.batchId, "start" -> startMs,
          "rows" -> p.numInputRows, "start_offset" -> start,
          "end_offset" -> end,
          "durations" -> Seq("addBatch", "getBatch", "latestOffset",
            "queryPlanning", "walCommit", "commitOffsets",
            "triggerExecution").map(k => k -> dur(k)).toMap,
          "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
          "state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
          "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L),
          "late_dropped" -> state.map(_.numRowsDroppedByWatermark).getOrElse(0L),
          "watermark" -> Option(p.eventTime.get("watermark")).orNull)
      }
      spans.add(s"batch:$unit:${p.batchId}", null, "batch", unit, startMs,
        startMs + dur("triggerExecution"), unit,
        Map("chunks" -> Seq(start + 1, end)))
      if (end >= 0 && k == s.k) s.commit(unit, end, now)
    }
  }

  // ─── the four units, as Pipeline.startXxx wires them ────────────────────

  private def timedJdbc(s: Setup, unit: String)(df: DataFrame, table: String): Unit = {
    val t0 = Clock.nowMs()
    Sinks.jdbcAppend(df, s.cfg.jdbc, table)
    val t1 = Clock.nowMs()
    sinkCalls.synchronized {
      sinkCalls += Map("unit" -> unit, "kind" -> "jdbc", "start" -> t0, "end" -> t1)
    }
    spans.add(s"jdbc:$unit:$t0", null, "jdbc_write", table, t0, t1, unit)
  }

  private val AlertType = "\"alert_type\":\"([a-z_]+)\"".r
  private val Mailable = "\"severity\":\"(critical|warning)\"".r

  /** The alert topic hand-off: the payload frame `AlertPayload.toKafka`
    * built, delivered to the notifier's stream.
    */
  private def publish(s: Setup)(payload: DataFrame): Unit = {
    val t0 = Clock.nowMs()
    val values = payload.collect().map(_.getAs[String]("value"))
    s.alertTopic.addData(values.toSeq)
    s.synchronized {
      s.alertTopicLast += 1
      s.mailablePerOffset += values.count(v => Mailable.findFirstIn(v).isDefined)
      values.foreach { v =>
        AlertType.findFirstMatchIn(v).foreach { m =>
          s.published(m.group(1)) = s.published.getOrElse(m.group(1), 0L) + 1
        }
      }
    }
    val t1 = Clock.nowMs()
    sinkCalls.synchronized {
      sinkCalls += Map("unit" -> "alerts", "kind" -> "kafka", "start" -> t0,
        "end" -> t1, "rows" -> values.length)
    }
    spans.add(s"publish:$t0", null, "publish", "iot-alert", t0, t1, "alerts")
  }

  private def notifier(s: Setup): AlertNotifier = {
    val smtp = new SmtpNotifier("127.0.0.1", smtpPort, s.cfg.smtp.user,
      password = "", startTls = false)
    new AlertNotifier {
      override def send(email: AlertEmail): Unit = {
        val t0 = Clock.nowMs()
        try smtp.send(email)
        catch { case e: Throwable => smtpFailures.incrementAndGet(); throw e }
        val t1 = Clock.nowMs()
        s.delivered.incrementAndGet()
        smtpSendsAll.incrementAndGet()
        emails.synchronized {
          emails += Map("setup" -> s.k, "triggered" -> triggeredAt(email),
            "start" -> t0, "end" -> t1)
        }
        sinkCalls.synchronized {
          sinkCalls += Map("unit" -> "notify", "kind" -> "smtp", "start" -> t0, "end" -> t1)
        }
        spans.add(s"send:$t0", null, "send", email.subject, t0, t1, "notify")
      }
    }
  }

  /** Event time (epoch ms) of the alert an email reports. */
  private def triggeredAt(email: AlertEmail): Long = {
    val line = email.body.linesIterator.find(_.startsWith("Déclenchée"))
      .getOrElse(throw new IllegalStateException("email without trigger time"))
    java.sql.Timestamp.valueOf(line.split(" : ", 2)(1).trim)
      .toLocalDateTime.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L
  }

  private def startUnits(s: Setup): Unit = {
    val mailer = notifier(s)
    val p = new Pipeline(spark, s.cfg, mailer)
    val q = Seq(
      "persist" -> Sinks.jdbcStream(
        p.readingsFrame(s.streams("persist").toDF()),
        s.cfg.jdbc, s.cfg.jdbc.readingsTable, s.cfg.checkpointRoot,
        "sensor_persistence", writer = timedJdbc(s, "persist")),
      "alerts" -> Sinks.alertsDualSink(
        p.alertsFrame(s.streams("alerts").toDF()), s.cfg,
        writeJdbc = df => timedJdbc(s, "alerts")(df, s.cfg.jdbc.alertsTable),
        writeKafka = publish(s)),
      "aggregate" -> Sinks.jdbcStream(
        p.aggregatesFrame(s.streams("aggregate").toDF()),
        s.cfg.jdbc, s.cfg.jdbc.aggregatesTable, s.cfg.checkpointRoot,
        "sensor_aggregates", writer = timedJdbc(s, "aggregate")),
      "notify" -> Sinks.notifierSink(
        p.mailableFrame(s.alertTopic.toDF()), s.cfg, mailer))
    s.queries = q.toMap
    queryUnit = queryUnit ++ q.map { case (u, sq) => sq.id -> (s.k, u) }
  }

  /** Wait until every unit has committed chunk `c` and the notifier has
    * consumed every alert published so far.
    */
  private def awaitChunk(s: Setup, c: Chunk, timeoutMs: Long): Unit = {
    s.await(s"chunk ${c.offset}", timeoutMs) {
      failFast(s); s.allCommitted(c)
    }
    s.await("notifier", timeoutMs) { failFast(s); s.notifierCaughtUp }
  }

  /** Wait until every unit of `s` has started and waits for data. */
  private def awaitWaiting(s: Setup): Unit = {
    val deadline = Clock.nowMs() + 120000.0
    while (!s.queries.values.forall(q =>
        !q.status.isTriggerActive && q.status.message == "Waiting for data to arrive")) {
      failFast(s)
      if (Clock.nowMs() > deadline) throw new IllegalStateException("units did not start")
      Thread.sleep(5L)
    }
  }

  private def failFast(s: Setup): Unit =
    s.queries.values.foreach(q => q.exception.foreach(e => throw e))

  // ─── the run ────────────────────────────────────────────────────────────

  def run(): Map[String, Any] = {
    spark.streams.addListener(listener)
    val setupS = ArrayBuffer.empty[Double]
    var s: Setup = null
    // Set-up: a fresh instance of the four units, up and waiting for data.
    for (k <- 0 until Setups) {
      if (s != null) s.stop()
      val t0 = Clock.nowMs()
      s = new Setup(k)
      current = s
      startUnits(s)
      awaitWaiting(s)
      setupS += (Clock.nowMs() - t0) / 1000.0
      Main.mark(s"setup $k done")
    }
    // Warm-up of the last instance, outside set-up and measurement: one
    // chunk through all four units (their first batches run JIT-cold), then
    // for the open loop 3 s of live load that runs on into the measured
    // window without a pause, so the window starts in steady state.
    awaitChunk(s, s.addChunk(Clock.nowMs(), ChunkRows), 120000L)
    var gcBefore = Jvm.gcMs()
    Jvm.resetPeaks()
    val start = Clock.nowMs()
    val t0 = if (live) start + WarmupMs else start
    val deadline = t0 + seconds * 1000.0
    var lateMax = 0.0
    var tEnd = deadline
    if (live) {
      var k = 0
      var due = start
      var measuring = false
      while (due < deadline) {
        val now = Clock.nowMs()
        if (due > now) Thread.sleep(math.max(0L, (due - now).toLong))
        if (due >= t0) {
          if (!measuring) { gcBefore = Jvm.gcMs(); Jvm.resetPeaks(); measuring = true }
          lateMax = math.max(lateMax, Clock.nowMs() - due)
        }
        s.addChunk(due, ChunkRows)
        failFast(s)
        k += 1
        due = start + k * TickMs
      }
    } else {
      var c: Chunk = null
      while (Clock.nowMs() < deadline) {
        c = s.addChunk(Clock.nowMs(), ChunkRows)
        awaitChunk(s, c, 120000L)
        c.released = Clock.nowMs()
      }
      tEnd = Clock.nowMs()
    }
    val measured = s.synchronized(s.chunks.filter(_.created >= t0).toList)
    val backlog = s.synchronized {
      measured.filter(c => c.complete.isNaN || c.complete > tEnd).map(_.n).sum
    }
    val gcMs = Jvm.gcMs() - gcBefore
    val heapPeakMb = Jvm.heapPeakMb()
    Main.mark("measured")
    // Drain: everything sent is committed and mailed, and no unit has a
    // trigger in flight, before the units stop and the checks read Derby.
    awaitChunk(s, s.chunks.last, 120000L)
    Units.foreach(u => s.queries(u).processAllAvailable())
    s.await("notifier", 120000L) { s.notifierCaughtUp }
    quiesce(s)
    s.stop()
    spark.streams.removeListener(listener)
    // Rows per notifier batch, from the offsets it covered: the progress
    // row count over-counts when `limit(...).collect()` scans a partition
    // twice.
    val notifyBatches = progressOf(s, "notify").map { p =>
      val from = p("start_offset").asInstanceOf[Long] + 1
      val to = p("end_offset").asInstanceOf[Long]
      p("batch") -> (from to to).map(o => s.mailablePerOffset(o.toInt)).sum
    }
    val notifyRows = notifyBatches.map(_._2)
    val cap = Sinks.MaxEmailsPerBatch.toLong
    val capped = notifyRows.map(r => math.max(0L, r - cap)).sum
    val checks = new PipelineChecks(spark, s.cfg, gen, s.firstReading,
      nextReading, s.published.toMap, s.delivered.get, notifyRows,
      lastWatermark(s))
    Main.mark("drained")
    val checkResults = checks.run()
    Main.mark("checked")
    val chunkRecs = measured.map { c =>
      Map("offset" -> c.offset, "n" -> c.n, "created" -> c.created,
        "complete" -> c.complete, "released" -> c.released, "first" -> c.first)
    }
    Map(
      "setup_s" -> setupS.drop(1).toSeq,
      "window" -> Map("start" -> t0, "end" -> tEnd),
      "chunks" -> chunkRecs.toSeq,
      "emails" -> emailLatencies(s, t0, tEnd),
      "progress" -> progress.synchronized(progress.toList),
      "sinks" -> sinkCalls.synchronized(sinkCalls.toList),
      "smtp_failures" -> smtpFailures.get,
      "smtp_sends" -> s.delivered.get,
      "smtp_sends_all_setups" -> smtpSendsAll.get,
      "notify_capped" -> capped,
      "notify_batches" -> notifyBatches.map { case (b, n) => Map("batch" -> b, "rows" -> n) },
      "final_setup" -> s.k,
      "readings_sent" -> (nextReading - s.firstReading),
      "mailable" -> checks.mailable,
      "gen_late_ms_max" -> lateMax,
      "gen_backlog_rows_end" -> backlog,
      "jvm_gc_ms" -> gcMs,
      "jvm_heap_peak_mb" -> heapPeakMb,
      "jdbc_rows_stored" -> checks.storedRows,
      "checks" -> checkResults)
  }

  private def progressOf(s: Setup, unit: String): Seq[Map[String, Any]] =
    progress.synchronized(progress.filter(p =>
      p("unit") == unit && p("setup") == s.k).toList)

  /** Wait until no unit has had a trigger in flight for 200 ms. */
  private def quiesce(s: Setup): Unit = {
    var idleSince = Clock.nowMs()
    val deadline = idleSince + 30000.0
    while (Clock.nowMs() - idleSince < 200.0 && Clock.nowMs() < deadline) {
      if (s.queries.values.exists(_.status.isTriggerActive)) idleSince = Clock.nowMs()
      Thread.sleep(20L)
    }
  }

  /** The aggregate unit's watermark (epoch ms) in its latest progress. */
  private def lastWatermark(s: Setup): Long =
    progressOf(s, "aggregate").flatMap(p => Option(p("watermark")))
      .map(w => java.time.Instant.parse(w.toString).toEpochMilli)
      .lastOption.getOrElse(0L)

  /** Creation-to-acceptance times of emails whose reading was created in
    * the measured window. */
  private def emailLatencies(s: Setup, t0: Double, tEnd: Double): Seq[Map[String, Any]] = {
    val byFirst = s.chunks.map(c => c.first -> c).toMap
    emails.synchronized(emails.toList).filter(_("setup") == s.k).flatMap { e =>
      val sweep = Readings.sweepOf(e("triggered").asInstanceOf[Long])
      val reading = sweep * Readings.Sensors
      val first = s.firstReading +
        (reading - s.firstReading) / ChunkRows * ChunkRows
      byFirst.get(first).filter(c => c.created >= t0 && c.created < tEnd)
        .map(c => Map("created" -> c.created, "start" -> e("start"),
          "accepted" -> e("end")))
    }
  }
}

/** Output checks for one pipeline instance against its batch twin: the same
  * readings pushed through `AlertRules.detect` and `Aggregates.sensorStats`
  * as a batch.
  */
final class PipelineChecks(
    spark: SparkSession,
    cfg: PipelineConfig,
    gen: Readings,
    from: Long,
    until: Long,
    published: Map[String, Long],
    delivered: Long,
    notifyRows: Seq[Long],
    watermarkMs: Long) {

  private lazy val readings: DataFrame = {
    val g = gen
    val json = spark.range(from, until).map(i => g.json(i))(Encoders.STRING)
    Parse.fromKafka(json.toDF("value")).cache()
  }
  /** (alert_type, severity) -> alerts the batch twin raises. */
  private lazy val twin: Map[(String, String), Long] =
    AlertRules.detect(readings).groupBy("alert_type", "severity").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  private lazy val twinAlerts: Map[String, Long] =
    twin.groupMapReduce(_._1._1)(_._2)(_ + _)

  lazy val mailable: Long =
    twin.collect { case ((_, sev), n) if sev == "critical" || sev == "warning" => n }.sum

  private def query[T](sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
    val conn = java.sql.DriverManager.getConnection(
      cfg.jdbc.url, cfg.jdbc.user, cfg.jdbc.password)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val out = ArrayBuffer.empty[T]
      while (rs.next()) out += f(rs)
      out.toList
    } finally conn.close()
  }

  private def check(name: String, expected: Any, actual: Any): Map[String, Any] =
    Map("name" -> name, "expected" -> expected.toString,
      "actual" -> actual.toString, "ok" -> (expected == actual))

  /** Rows in the three Derby tables, known after [[run]]. */
  var storedRows = 0L

  def run(): Seq[Map[String, Any]] = {
    def count(table: String): Long =
      query(s"SELECT COUNT(*) FROM $table")(_.getLong(1)).head
    val stored = count(cfg.jdbc.readingsTable)
    storedRows = stored + count(cfg.jdbc.alertsTable) + count(cfg.jdbc.aggregatesTable)
    val alertRows = query(
      s"""SELECT CAST("alert_type" AS VARCHAR(64)), COUNT(*) FROM ${cfg.jdbc.alertsTable}
         |GROUP BY CAST("alert_type" AS VARCHAR(64))""".stripMargin)(
      rs => rs.getString(1) -> rs.getLong(2)).toMap
    // Emails: each notifier batch mails min(rows, cap) and refuses the rest.
    val cap = Sinks.MaxEmailsPerBatch.toLong
    val expectDelivered = notifyRows.map(math.min(_, cap)).sum
    val capped = notifyRows.map(r => math.max(0L, r - cap)).sum
    // Aggregates: windows closed by the final watermark, per sensor.
    val windows = Aggregates.sensorStats(Parse.withEventTime(readings))
      .where(col("window_end") <= new java.sql.Timestamp(watermarkMs))
      .select(col("sensor_id"), col("window_start"), col("count"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
      .toSet
    val stats = query(
      s"""SELECT "sensor_id", "window_start", "count" FROM ${cfg.jdbc.aggregatesTable}""")(
      rs => (rs.getString(1), rs.getTimestamp(2).getTime, rs.getLong(3))).toSet
    val out = Seq(
      check("sensor_readings rows", until - from, stored),
      check("alert rows per alert_type", twinAlerts, alertRows),
      check("published payloads per alert_type", twinAlerts, published),
      check("notifier input rows", mailable, notifyRows.sum),
      check("emails delivered", expectDelivered, delivered),
      check("emails delivered + capped", mailable, delivered + capped),
      check("closed windows", windows.size, stats.size),
      check("closed-window counts", windows.toSeq.map(_._3).sum,
        stats.toSeq.map(_._3).sum),
      check("closed windows match the batch twin", true, windows == stats))
    readings.unpersist()
    out
  }
}
