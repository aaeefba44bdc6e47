package perfbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.config.DatabaseConfig
import graft.ops.Enrich
import graft.sink.{JdbcUpsertSink, UpsertSql}
import graft.streaming.Pipeline

/** The streaming workloads: CSV files → `Pipeline.start` → `JdbcUpsertSink`
  * on in-process Derby, timed from outside the program.
  */
object Ingest {

  /** `periodMs` = 0: every file is already in the input directory when the
    * query starts (a backlog); otherwise file i is due i * periodMs after
    * the schedule starts (an open loop).
    */
  final case class Spec(name: String, eventsPerFile: Int, periodMs: Long, backlogFiles: Int) {
    def isBacklog: Boolean = periodMs == 0
    def files(seconds: Int): Int =
      if (isBacklog) backlogFiles else math.max(4, (seconds * 1000L / periodMs).toInt)
  }

  val Steady = Spec("ingest_steady", eventsPerFile = 300, periodMs = 3000, backlogFiles = 0)
  val Backlog = Spec("ingest_backlog", eventsPerFile = 5000, periodMs = 0, backlogFiles = 6)

  val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  val Tables = Seq("ecommerce_events", "dead_letter_events", "data_quality_metrics")

  /** Derby twin of the sink schema's keys, columns and checks. */
  val Ddl: Seq[String] = Seq(
    """CREATE TABLE ecommerce_events (
      |  event_id BIGINT NOT NULL PRIMARY KEY,
      |  ts TIMESTAMP NOT NULL,
      |  user_id BIGINT,
      |  event_type VARCHAR(20) NOT NULL
      |    CHECK (event_type IN ('view', 'click', 'purchase', 'signup', 'error')),
      |  value DOUBLE NOT NULL CHECK (value >= 0),
      |  props VARCHAR(2000),
      |  quantity INT DEFAULT 0,
      |  total_amount DECIMAL(22, 6) DEFAULT 0,
      |  event_year INT,
      |  event_month INT,
      |  event_day INT,
      |  event_hour INT,
      |  event_dayofweek INT,
      |  is_late_arrival BOOLEAN DEFAULT FALSE,
      |  session_id VARCHAR(64),
      |  CONSTRAINT chk_user_required CHECK (
      |    event_type IN ('view', 'click', 'error') OR user_id IS NOT NULL))""".stripMargin,
    "CREATE INDEX idx_ecommerce_events_ts ON ecommerce_events (ts)",
    "CREATE INDEX idx_ecommerce_events_user_id ON ecommerce_events (user_id)",
    "CREATE INDEX idx_ecommerce_events_event_type ON ecommerce_events (event_type)",
    "CREATE INDEX idx_ecommerce_events_session_id ON ecommerce_events (session_id)",
    "CREATE INDEX idx_ecommerce_events_ts_type ON ecommerce_events (ts, event_type)",
    "CREATE INDEX idx_ecommerce_events_user_ts ON ecommerce_events (user_id, ts)",
    """CREATE TABLE dead_letter_events (
      |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
      |  event_id BIGINT,
      |  ts TIMESTAMP,
      |  user_id BIGINT,
      |  event_type VARCHAR(50),
      |  value DOUBLE,
      |  props VARCHAR(2000),
      |  validation_errors VARCHAR(200) NOT NULL,
      |  recorded_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
      |  reprocessed BOOLEAN DEFAULT FALSE)""".stripMargin,
    "CREATE INDEX idx_dead_letter_errors ON dead_letter_events (validation_errors)",
    "CREATE INDEX idx_dead_letter_recorded ON dead_letter_events (recorded_at)",
    """CREATE TABLE data_quality_metrics (
      |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
      |  batch_id BIGINT NOT NULL,
      |  total_events BIGINT NOT NULL,
      |  valid_events BIGINT NOT NULL,
      |  invalid_events BIGINT NOT NULL,
      |  validity_rate DOUBLE,
      |  processing_time_sec DOUBLE,
      |  recorded_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""".stripMargin,
    "CREATE INDEX idx_quality_recorded ON data_quality_metrics (recorded_at)")

  /** One Derby in-memory database with the sink schema, and the engine's
    * exactly-once Derby sink over it.
    */
  final class Db(name: String) {
    val config = DatabaseConfig(urlOverride = Some(s"jdbc:derby:memory:$name;create=true"))

    def withConn[A](f: java.sql.Connection => A): A = {
      Class.forName(DerbyDriver)
      val c = DriverManager.getConnection(config.jdbcUrl, config.user, config.password)
      try f(c) finally c.close()
    }

    def create(): Unit = withConn { c =>
      val st = c.createStatement()
      try Ddl.foreach(st.execute) finally st.close()
    }

    def sink: JdbcUpsertSink =
      new JdbcUpsertSink(config, Seq("event_id"), DerbyDriver, UpsertSql.plainInsert, rowLevelIgnore = true)

    def query[A](sql: String)(row: java.sql.ResultSet => A): Vector[A] = withConn { c =>
      val rs = c.createStatement().executeQuery(sql)
      val out = Vector.newBuilder[A]
      while (rs.next()) out += row(rs)
      out.result()
    }

    def count(table: String): Long = query(s"SELECT COUNT(*) FROM $table")(_.getLong(1)).head

    /** Drops the in-memory database; Derby reports success as SQLState 08006. */
    def drop(): Unit =
      try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
  }

  private val Now = lit(Enrich.AnchorTs).cast("timestamp")

  /** The set-up: a new Derby database with the sink schema, and the
    * pipeline run over a few files already on disk until all are committed,
    * which warms the JIT and Spark's code generation. `dir` is new per
    * set-up.
    */
  def warmUp(spark: SparkSession, spec: Spec, seed: Long, dir: Path): Unit = {
    val in = Files.createDirectories(dir.resolve("in"))
    val (nFiles, n) = if (spec.isBacklog) (2, 1000) else (4, spec.eventsPerFile)
    val gen = new graft.datagen.EventGenerator(seed = seed, anomalyRate = IngestInputs.AnomalyRate)
    (0 until nFiles).foreach { i =>
      gen.writeCsvAtomic(in, IngestInputs.fileName(i), IngestInputs.fileEvents(seed, i, n))
    }
    val db = new Db(dir.getFileName.toString)
    db.create()
    val q = Pipeline.start(spark, in.toString, dir.resolve("ckpt").toString, db.sink,
      triggerMs = 0, now = Now)
    try q.processAllAvailable() finally q.stop()
    db.drop()
  }

  final case class FileResult(idx: Int, dueUs: Long, commitUs: Option[Long])

  def run(
      spark: SparkSession, spec: Spec, seed: Long, seconds: Int, trace: Boolean,
      work: Path, spansFile: Path, classpath: String): Outcome = {
    val nFiles = spec.files(seconds)
    val n = spec.eventsPerFile
    val in = Files.createDirectories(work.resolve("in"))
    val ckpt = work.resolve("ckpt")
    val genLog = work.resolve("gen.log")
    val db = new Db("run")
    db.create()
    val sink = new TimedSink(db.sink)
    val progress = new ProgressLog
    val jobs = new JobLog
    if (trace) {
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(jobs)
    }

    // the generator: a separate single-threaded process
    val leadUs = if (spec.isBacklog) 0L else 1000000L
    val scheduleUs = Clock.nowUs() + leadUs
    val gen = new ProcessBuilder(
      javaBin, "-Xmx256m", "-XX:-UsePerfData", s"-Djava.io.tmpdir=${work.resolve("tmp")}", "-cp", classpath,
      "perfbench.GenMain", in.toString, seed.toString, n.toString, nFiles.toString,
      spec.periodMs.toString, scheduleUs.toString, genLog.toString)
      .redirectErrorStream(true).redirectOutput(work.resolve("gen.out").toFile).start()
    try {
      if (spec.isBacklog) require(gen.waitFor() == 0, "generator failed")
      val generateS = (Clock.nowUs() - scheduleUs) / 1e6

      val gcBefore = Jvm.gcMs()
      val cpuBefore = Jvm.cpuS()
      val queryStartUs = Clock.nowUs()
      val query = Pipeline.start(spark, in.toString, ckpt.toString, sink, triggerMs = 0, now = Now)
      val deadlineUs = scheduleUs + nFiles * spec.periodMs * 1000L + 90000000L
      // a batch is done when its last append (the metrics row) returned
      def committedBatches = sink.appends.filter(a => a.ok && a.table == "data_quality_metrics")
        .map(_.batchId).distinct.size
      var failure: Option[Throwable] = None
      var (gcMs, cpuS, liveHeapMb) = (0L, 0.0, 0.0)
      try {
        while (committedBatches < nFiles && query.isActive && Clock.nowUs() < deadlineUs)
          Thread.sleep(20)
        // let the last batch finish its offset commit and progress report
        val lastBatch = sink.appends.map(_.batchId).maxOption.getOrElse(-1L)
        while (query.isActive && Clock.nowUs() < deadlineUs &&
            Option(query.lastProgress).forall(_.batchId < lastBatch))
          Thread.sleep(20)
        failure = query.exception
        gcMs = Jvm.gcMs() - gcBefore
        cpuS = Jvm.cpuS() - cpuBefore
        // live data with the query still holding its state
        liveHeapMb = Jvm.liveHeapMb()
      } finally query.stop()
      if (!spec.isBacklog) gen.waitFor()

      // schedule and commit times per file
      val schedule: Map[Int, (Long, Long)] = Files.readAllLines(genLog).asScala.map { l =>
        val Array(i, due, dropped) = l.trim.split(" ")
        i.toInt -> (due.toLong, dropped.toLong)
      }.toMap
      val batchOfFile: Map[String, Long] = CheckpointFiles.filesByBatch(ckpt).toSeq
        .flatMap { case (b, fs) => fs.map(_ -> b) }.toMap
      val commitOfBatch: Map[Long, Long] = sink.appends
        .filter(a => a.ok && a.table == "ecommerce_events")
        .groupBy(_.batchId).map { case (b, as) => b -> as.map(_.endUs).max }
      val files = (0 until nFiles).map { i =>
        val dueUs = if (spec.isBacklog) queryStartUs else schedule.get(i).map(_._1).getOrElse(Long.MaxValue)
        FileResult(i, dueUs, batchOfFile.get(IngestInputs.fileName(i)).flatMap(commitOfBatch.get))
      }

      // correctness: every file's rows in the sink exactly once
      val expected = (0 until nFiles).map(i => IngestOracle.expect(i, IngestInputs.fileEvents(seed, i, n)))
      val eventIds = db.query("SELECT event_id FROM ecommerce_events")(_.getLong(1))
      val deadCounts = db.query(
        "SELECT event_id, COUNT(*) FROM dead_letter_events GROUP BY event_id")(r => r.getLong(1) -> r.getInt(2)).toMap
      val metricsRows = db.query(
        "SELECT batch_id, total_events, invalid_events FROM data_quality_metrics")(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      val badMetrics = expected.filter { f =>
        val b = batchOfFile.get(IngestInputs.fileName(f.idx))
        metricsRows.filter(m => b.contains(m._1)) != Vector((b.getOrElse(-1L), f.batchRows.toLong, f.invalidLines.toLong))
      }.map(_.idx).toSet
      val failedFiles = (IngestOracle.failedFiles(expected, n, eventIds.toSet, deadCounts).toSet ++
        badMetrics ++ files.filter(_.commitUs.isEmpty).map(_.idx)).toSeq.sorted
      // a metrics row of a batch that carried no file is a failure of its own
      val strayMetrics = metricsRows.exists(m => !batchOfFile.values.exists(_ == m._1))
      val attempted = nFiles.toLong
      val failed = failedFiles.size.toLong + (if (strayMetrics) 1 else 0)

      // end-to-end metrics
      val committed = files.flatMap(f => f.commitUs.map(c => (c - f.dueUs) / 1e6))
      val lastCommitUs = files.flatMap(_.commitUs).maxOption.getOrElse(Clock.nowUs())
      val windowStartUs = if (spec.isBacklog) queryStartUs else files.head.dueUs
      val batchS = (lastCommitUs - windowStartUs) / 1e6
      val lines = expected.map(_.lines.toLong).sum
      val latencies = if (committed.isEmpty) Seq(Double.NaN) else committed

      // open-loop honesty: generator lag and backlog growth
      val lagMsMax = if (spec.isBacklog) 0.0
        else schedule.values.map { case (due, dropped) => (dropped - due) / 1000.0 }.maxOption.getOrElse(0.0)
      val commitTimes = files.flatMap(_.commitUs).sorted
      def backlogAt(t: Long) = schedule.values.count(_._2 <= t) - commitTimes.count(_ <= t)
      val backlogs = if (spec.isBacklog) Seq(nFiles) else files.map(f => backlogAt(f.dueUs))
      val backlogMax = backlogs.maxOption.getOrElse(0)
      val invalid = Seq(
        if (!spec.isBacklog && lagMsMax > 100.0) Some(f"generator lagged ${lagMsMax}%.1f ms") else None,
        if (!spec.isBacklog && backlogs.takeRight(3).forall(_ >= 3)) Some(s"backlog kept growing: ${backlogs.mkString(",")}") else None,
        failure.map(e => s"query failed: ${e.getMessage.take(200)}")).flatten

      val e2e = Map(
        "cpu_s" -> cpuS,
        "live_heap_mb" -> liveHeapMb,
        "latency_p50_s" -> Stats.median(latencies),
        "latency_p90_s" -> Stats.quantile(latencies, 0.9),
        "events_per_s" -> lines / batchS,
        "batch_s" -> batchS)

      val layers: Map[String, Double] =
        if (!trace) Map.empty
        else {
          spark.streams.removeListener(progress)
          settle(() => progress.all.size)
          // only this query's executed batches: the warm-up query's last
          // events can still be on the listener bus when the listeners attach
          val ps = progress.all.filter(p => p.id == query.id && p.durationMs.containsKey("addBatch"))
            .groupBy(_.batchId).map(_._2.last).toVector.sortBy(_.batchId)
          settle(() => jobs.allJobs.size)
          spark.sparkContext.removeSparkListener(jobs)
          ingestLayers(spec, ps, jobs, queryStartUs, sink, db, lines, batchS, gcMs, lagMsMax, backlogMax,
            spansFile, seed)
        }
      val report = Map(
        "valid" -> invalid.isEmpty, "invalid_reasons" -> invalid,
        "files" -> nFiles, "latency_samples" -> committed.size,
        "latency_p90_samples_beyond" -> Stats.samplesBeyond(committed.size, 90),
        "latency_supported_percentile" -> Stats.supportedPercentile(committed.size),
        "failed_files" -> failedFiles, "datagen_lag_ms_max" -> lagMsMax,
        "generate_s" -> (if (spec.isBacklog) generateS else 0.0),
        "file_latencies_s" -> files.map(f => f.commitUs.map(c => (c - f.dueUs) / 1e6)),
        "backlog_files_max" -> backlogMax,
        "rows" -> Tables.map(t => t -> db.count(t)).toMap,
        "expected_rows" -> {
          val t = IngestOracle.totals(expected)
          Map(Tables(0) -> t.validDistinct, Tables(1) -> t.invalidLines, Tables(2) -> t.metricsRows)
        })
      Outcome(attempted, failed, e2e, layers, report)
    } finally {
      gen.destroy()
      gen.waitFor()
    }
  }

  /** Wait until an asynchronously filled log stops growing. */
  def settle(size: () => Int): Unit = {
    var last = -1
    var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val now = size()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  private def javaBin: String =
    java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString

  private def ingestLayers(
      spec: Spec, ps: Vector[org.apache.spark.sql.streaming.StreamingQueryProgress], jobs: JobLog,
      queryStartUs: Long, sink: TimedSink, db: Db, lines: Long, batchS: Double, gcMs: Long, lagMsMax: Double,
      backlogMax: Int, spansFile: Path, seed: Long): Map[String, Double] = {
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def sumDur(k: String) = ps.map(dur(_, k)).sum
    val dataBatches = ps.filter(_.numInputRows > 0).map(_.batchId).toSet
    val allJobs = jobs.allJobs.filter(_.startUs >= queryStartUs / 1000 * 1000)
    val batchJobs = allJobs.filter(_.batchId.exists(dataBatches))
    val state = ps.flatMap(_.stateOperators.headOption)
    val appends = sink.appends
    def appendMs(t: String) = appends.filter(_.table == t).map(a => (a.endUs - a.startUs) / 1000.0).sum

    // spans: workload → micro-batch → (sink append → job | job)
    val log = new SpanLog(s"${spec.name}-$seed")
    val batchSpans = ps.map { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val s = start.getEpochSecond * 1000000L + start.getNano / 1000
      (p.batchId, s, s + (dur(p, "triggerExecution") * 1000).toLong)
    }
    val rootStart = (batchSpans.map(_._2) ++ appends.map(_.startUs)).minOption.getOrElse(0L)
    val rootEnd = (batchSpans.map(_._3) ++ appends.map(_.endUs)).maxOption.getOrElse(rootStart)
    val root = log.add(0, "workload", spec.name, rootStart, rootEnd)
    val batchId = batchSpans.map { case (b, s, e) =>
      b -> log.add(root, "streaming", s"batch-$b", s, e, Map("batch_id" -> b.toString))
    }.toMap
    val appendSpans = appends.map { a =>
      (a, log.add(batchId.getOrElse(a.batchId, root), "sink", s"append ${a.table}", a.startUs, a.endUs,
        Map("ok" -> a.ok.toString)))
    }
    allJobs.foreach { j =>
      val parent = appendSpans.find { case (a, _) =>
        j.batchId.contains(a.batchId) && j.startUs >= a.startUs / 1000 * 1000 && j.endUs <= a.endUs + 1000
      }.map(_._2).orElse(j.batchId.flatMap(batchId.get)).getOrElse(root)
      log.add(parent, "spark_job", j.desc, j.startUs, j.endUs,
        Map("job_id" -> j.id.toString, "stages" -> j.stageIds.size.toString))
    }
    Files.writeString(spansFile, log.toJson)
    val self = Spans.selfTimeByLayerUs(log.spans)

    // consistency checks of the trace itself
    val appendOverrun = ps.count { p =>
      val inBatch = appends.filter(_.batchId == p.batchId).map(a => (a.endUs - a.startUs) / 1000.0).sum
      inBatch > dur(p, "addBatch") + 2.0
    }
    val rows = Tables.map(db.count).sum.toDouble
    Map(
      "streaming.latest_offset_ms" -> sumDur("latestOffset"),
      "streaming.query_planning_ms" -> sumDur("queryPlanning"),
      "streaming.wal_commit_ms" -> sumDur("walCommit"),
      "streaming.commit_offsets_ms" -> sumDur("commitOffsets"),
      "streaming.add_batch_ms" -> sumDur("addBatch"),
      "streaming.trigger_ms" -> sumDur("triggerExecution"),
      "streaming.batches" -> ps.size.toDouble,
      "streaming.jobs_per_batch" -> (if (dataBatches.isEmpty) 0.0 else batchJobs.size.toDouble / dataBatches.size),
      "streaming.scan_amplification" -> ps.map(_.numInputRows).sum.toDouble / lines,
      "streaming.backlog_files_max" -> backlogMax.toDouble,
      "state.rows_final" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes_max" -> state.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "state.commit_ms" -> state.map(_.commitTimeMs.toDouble).sum,
      "state.update_ms" -> state.map(_.allUpdatesTimeMs.toDouble).sum,
      "state.rows_dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "sink.events_append_ms" -> appendMs("ecommerce_events"),
      "sink.dead_letter_append_ms" -> appendMs("dead_letter_events"),
      "sink.metrics_append_ms" -> appendMs("data_quality_metrics"),
      "sink.rows_written" -> rows,
      "sink.append_failures" -> appends.count(!_.ok).toDouble,
      "jvm.gc_ms" -> gcMs.toDouble,
      "datagen.lag_ms_max" -> lagMsMax,
      "self.workload_ms" -> self.getOrElse("workload", 0L) / 1000.0,
      "self.streaming_ms" -> self.getOrElse("streaming", 0L) / 1000.0,
      "self.sink_ms" -> self.getOrElse("sink", 0L) / 1000.0,
      "self.spark_job_ms" -> self.getOrElse("spark_job", 0L) / 1000.0,
      "trace.trigger_over_wall" -> sumDur("triggerExecution") / 1000.0 / batchS,
      "trace.batches_with_sink_overrun" -> appendOverrun.toDouble)
  }
}
