package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** What one workload run produced. `e2e` holds the end-to-end and
  * wall-clock metrics; `layers` holds the per-layer metrics of a traced run
  * (empty otherwise).
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    report: Map[String, Any])

/** Runs one workload and prints a report line, then the result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --out <dir> --root <checkout> --classpath <cp> --start-us <epochUs>
  *
  * `setup_s` is the median of `SetUps` set-ups of the workload in the run;
  * the timed work runs on the session of the last one.
  */
object Main {
  val Workloads = Seq("ingest_steady", "ingest_backlog", "curate_batch")

  /** Gated end-to-end metrics. The timed work's process CPU seconds stand in
    * for its wall time, which CPU steal by other tenants moves far more; the
    * live heap after a full collection stands in for the resident set, which
    * the heap's growth policy moves more than the program does (see README).
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cpu_s" -> "s", "live_heap_mb" -> "MB")

  /** Wall-clock results of the timed work: in every report, and among the
    * per-layer metrics of a traced run as `wall.<name>`.
    */
  val WallClock: Seq[(String, String)] = Seq(
    "latency_p50_s" -> "s", "latency_p90_s" -> "s", "events_per_s" -> "1/s", "batch_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.trigger_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.jobs_per_batch" -> "count",
    "streaming.scan_amplification" -> "ratio", "streaming.backlog_files_max" -> "count",
    "state.rows_final" -> "count", "state.memory_bytes_max" -> "bytes",
    "state.commit_ms" -> "ms", "state.update_ms" -> "ms",
    "state.rows_dropped_by_watermark" -> "count",
    "sink.events_append_ms" -> "ms", "sink.dead_letter_append_ms" -> "ms",
    "sink.metrics_append_ms" -> "ms", "sink.rows_written" -> "count",
    "sink.append_failures" -> "count") ++
    Curate.Queries.map(q => s"query.${Curate.short(q)}_s" -> "s") ++ Seq(
    "curate.planning_ms" -> "ms", "curate.jobs" -> "count", "curate.stages" -> "count",
    "curate.tasks" -> "count", "curate.shuffle_read_bytes" -> "bytes",
    "curate.shuffle_write_bytes" -> "bytes", "curate.spill_bytes" -> "bytes",
    "curate.input_bytes" -> "bytes", "util.pinned_rdds_after" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB", "datagen.lag_ms_max" -> "ms",
    "self.workload_ms" -> "ms", "self.streaming_ms" -> "ms", "self.sink_ms" -> "ms",
    "self.query_ms" -> "ms", "self.spark_job_ms" -> "ms",
    "trace.trigger_over_wall" -> "ratio", "trace.batches_with_sink_overrun" -> "count",
    "error_rate" -> "ratio") ++ WallClock.map { case (k, u) => s"wall.$k" -> u }

  /** Set-ups per run; `setup_s` is the median of their wall times. */
  val SetUps = 5

  def session(work: Path): SparkSession =
    graft.util.SessionTuning.tuned(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()

  /** Sets the workload up `SetUps` times, each time on a new Spark session
    * (the one before is stopped first), and returns the last session with
    * each set-up's wall and CPU seconds. The first set-up is timed from
    * process start, so it also holds the JVM's start and its cold code.
    */
  def setUp(work: Path, processStartUs: Long)(prepare: (SparkSession, Int) => Unit)
      : (SparkSession, Seq[(Double, Double)]) = {
    var spark: SparkSession = null
    val times = (1 to SetUps).map { i =>
      if (spark != null) spark.stop()
      val (t0, c0) = if (i == 1) (processStartUs, 0.0) else (Clock.nowUs(), Jvm.cpuS())
      spark = session(work)
      spark.sparkContext.setLogLevel("ERROR")
      prepare(spark, i)
      ((Clock.nowUs() - t0) / 1e6, Jvm.cpuS() - c0)
    }
    (spark, times)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val (seed, seconds, trace) = (opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1")
    val work = Files.createDirectories(Paths.get(opt("work")))
    val out = Files.createDirectories(Paths.get(opt("out")))
    val root = Paths.get(opt("root"))
    val startUs = opt("start-us").toLong
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    val spansFile = out.resolve(s"spans-$workload-seed$seed.json")
    val ingest = workload match {
      case "ingest_steady" => Some(Ingest.Steady)
      case "ingest_backlog" => Some(Ingest.Backlog)
      case _ => None
    }
    val corpus = root.resolve("perfbench/data/sf0.01")

    val (spark, setUps) = setUp(work, startUs) { (spark, i) =>
      ingest match {
        case Some(spec) => Ingest.warmUp(spark, spec, seed ^ 0x5eed5eedL, work.resolve(s"warm$i"))
        case None => Curate.warmUp(spark, corpus, root.resolve("perfbench/data/sf0.01.sha256"))
      }
    }
    val outcome = try ingest match {
      case Some(spec) => Ingest.run(spark, spec, seed, seconds, trace, work, spansFile, opt("classpath"))
      case None =>
        Curate.run(spark, seed, trace, corpus, root.resolve("perfbench/data/curate_oracle.json"), spansFile)
    } finally spark.stop()

    val peakRssMb = Jvm.peakRssMb()
    val e2e = outcome.e2e + ("setup_s" -> Stats.median(setUps.map(_._1)))
    val metrics =
      if (!trace) EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
      else {
        val layers = outcome.layers ++ WallClock.map { case (k, _) => s"wall.$k" -> e2e(k) } ++ Map(
          "jvm.peak_rss_mb" -> peakRssMb, "error_rate" -> outcome.failed.toDouble / outcome.attempted)
        PerLayer.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
      }
    val report = outcome.report ++ Map("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_runs_s" -> setUps.map(_._1), "setup_runs_cpu_s" -> setUps.map(_._2), "peak_rss_mb" -> peakRssMb,
      "wall_clock" -> WallClock.map { case (k, _) => k -> e2e(k) }.toMap) ++
      (if (trace) Map("end_to_end_under_trace" -> e2e, "spans_file" -> root.relativize(spansFile).toString)
       else Map.empty)
    println(Json.write(Map("report" -> report)))
    println(Json.write(ListMap(
      "correct" -> (outcome.failed == 0), "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }
}
