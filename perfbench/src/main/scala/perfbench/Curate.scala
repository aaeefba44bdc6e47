package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch workload: Bench's warm-up as the set-up, then one timed pass of curation
  * queries through `SparkEntry.queries` on a digest-pinned corpus, each
  * timed by `count()` with caches cleared between queries (Bench's
  * contract).
  *
  * Correctness, outside the timed window: every query's row count against
  * its DuckDB oracle, and the full result of a seed-chosen pair of queries
  * against the oracle's fingerprint (fingerprinting every query would need
  * a second execution of each).
  */
object Curate {
  val Queries: Seq[String] = Seq(
    "q06_hourly_summary", "q07_session_summary", "q09_quality_summary",
    "q14_revenue_by_nation", "q38_ngram_jaccard_capped", "q44_ann_ivf_nprobe",
    "q93_bpe_merges", "q114_image_dedup_keeplist",
    "q124_quality_classifier")

  val Corpus = "sf0.01"
  val FingerprintsPerRun = 2

  def short(q: String): String = q.takeWhile(_ != '_')

  /** Expected (rows, fingerprint) per corpus and query, recorded from the
    * DuckDB oracles by `record_oracle.py`.
    */
  def expected(file: Path): Map[String, Map[String, (Long, String)]] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    root.fieldNames().asScala.toSeq.map { corpus =>
      corpus -> root.get(corpus).fieldNames().asScala.toSeq.map { q =>
        val e = root.get(corpus).get(q)
        q -> (e.get("rows").asLong, e.get("fingerprint").asText)
      }.toMap
    }.toMap
  }

  /** sha256 of every file of a corpus against its pinned digest list. */
  def verifyDigest(dir: Path, digestFile: Path): Unit = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    scala.io.Source.fromFile(digestFile.toFile).getLines().filter(_.trim.nonEmpty).foreach { l =>
      val Array(hex, name) = l.trim.split("\\s+", 2)
      val got = md.digest(Files.readAllBytes(dir.resolve(name))).map(b => f"${b & 0xff}%02x").mkString
      require(got == hex, s"$dir/$name does not match its pinned digest")
    }
  }

  /** The queries whose full results this run checks: a different pair for
    * each seed, so a series of runs covers every query.
    */
  def fingerprinted(seed: Long): Seq[String] = {
    val k = Queries.size
    val first = java.lang.Math.floorMod(seed * FingerprintsPerRun, k.toLong).toInt
    (0 until FingerprintsPerRun).map(i => Queries((first + i) % k))
  }

  /** The set-up: check the corpus against its pinned digests, then Bench's
    * warm-up of the parquet reader, code generation and shuffle machinery.
    */
  def warmUp(spark: SparkSession, corpus: Path, digestFile: Path): Unit = {
    verifyDigest(corpus, digestFile)
    spark.range(1 << 18).selectExpr("sum(id)").collect()
    graft.sources.Tables.lineitem(spark, corpus.toString).limit(1000)
      .groupBy("l_returnflag").count().collect()
  }

  def run(
      spark: SparkSession, seed: Long, trace: Boolean, corpus: Path,
      oracleFile: Path, spansFile: Path): Outcome = {
    val expect = expected(oracleFile)(Corpus)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(q: String, why: String): Unit = if (!failures.contains(q)) failures(q) = why.take(200)

    val jobs = new JobLog
    if (trace) spark.sparkContext.addSparkListener(jobs)
    final case class Timed(
        q: String, startUs: Long, endUs: Long, rows: Long, planningMs: Double, pinned: Int,
        cpuS: Double, gcMs: Long, liveHeapMb: Double)
    val timed = Queries.map { q =>
      val (c0, g0) = (Jvm.cpuS(), Jvm.gcMs())
      val t0 = Clock.nowUs()
      var rows = -1L
      var planningMs = 0.0
      try {
        val df = SparkEntry.queries(q)(spark, corpus.toString)
        if (trace) {
          val p0 = System.nanoTime()
          df.queryExecution.executedPlan
          planningMs = (System.nanoTime() - p0) / 1e6
        }
        rows = df.count()
      } catch { case e: Throwable => fail(q, s"timed pass: $e") }
      val t1 = Clock.nowUs()
      val (c1, g1) = (Jvm.cpuS(), Jvm.gcMs())
      val pinned = spark.sparkContext.getPersistentRDDs.size
      val liveHeapMb = Jvm.liveHeapMb()
      spark.catalog.clearCache()
      val n = expect.get(q).map(_._1)
      if (rows >= 0 && !n.contains(rows)) fail(q, s"$rows rows, oracle ${n.getOrElse("missing")}")
      Timed(q, t0, t1, rows, planningMs, pinned, c1 - c0, g1 - g0, liveHeapMb)
    }
    val gcMs = timed.map(_.gcMs).sum
    if (trace) {
      Ingest.settle(() => jobs.allJobs.size)
      spark.sparkContext.removeSparkListener(jobs)
    }

    val checked = fingerprinted(seed)
    checked.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, corpus.toString)
        val rows = df.collect()
        val got = Fingerprint.of(df.schema, rows)
        expect.get(q) match {
          case Some((n, fp)) if rows.length == n && got == fp => ()
          case e => fail(q, s"result ${rows.length} rows / $got, oracle ${e.getOrElse("missing")}")
        }
      } catch { case e: Throwable => fail(q, s"fingerprint pass: $e") }
      spark.catalog.clearCache()
    }

    val walls = timed.map(t => (t.endUs - t.startUs) / 1e6)
    val batchS = walls.sum
    val e2e = Map(
      "cpu_s" -> timed.map(_.cpuS).sum,
      "live_heap_mb" -> timed.map(_.liveHeapMb).max,
      "latency_p50_s" -> Stats.median(walls),
      "latency_p90_s" -> Stats.quantile(walls, 0.9),
      "events_per_s" -> timed.map(_.rows.max(0L)).sum / batchS,
      "batch_s" -> batchS)

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        // queries run one after another: a job belongs to the query whose
        // window saw it start (job times have millisecond resolution)
        val jobsOf = timed.map(t => t.q -> jobs.allJobs.filter(j =>
          j.startUs >= t.startUs / 1000 * 1000 && j.startUs <= t.endUs)).toMap
        val all = timed.flatMap(t => jobsOf(t.q))
        val agg = jobs.taskAgg(all)
        val log = new SpanLog(s"curate_batch-$seed")
        val root = log.add(0, "workload", "curate_batch", timed.head.startUs, timed.last.endUs)
        val qSpan = timed.map(t => t.q -> log.add(root, "query", t.q, t.startUs, t.endUs,
          Map("rows" -> t.rows.toString))).toMap
        for (t <- timed; j <- jobsOf(t.q))
          log.add(qSpan(t.q), "spark_job", j.desc, j.startUs, j.endUs,
            Map("job_id" -> j.id.toString, "stages" -> j.stageIds.size.toString))
        Files.writeString(spansFile, log.toJson)
        val self = Spans.selfTimeByLayerUs(log.spans)
        timed.zip(walls).map { case (t, w) => s"query.${short(t.q)}_s" -> w }.toMap ++ Map(
          "curate.planning_ms" -> timed.map(_.planningMs).sum,
          "curate.jobs" -> all.size.toDouble,
          "curate.stages" -> all.map(_.stageIds.size).sum.toDouble,
          "curate.tasks" -> agg.tasks.toDouble,
          "curate.shuffle_read_bytes" -> agg.shuffleReadBytes.toDouble,
          "curate.shuffle_write_bytes" -> agg.shuffleWriteBytes.toDouble,
          "curate.spill_bytes" -> agg.spillBytes.toDouble,
          "curate.input_bytes" -> agg.inputBytes.toDouble,
          "util.pinned_rdds_after" -> timed.map(_.pinned).sum.toDouble,
          "jvm.gc_ms" -> gcMs.toDouble,
          "self.workload_ms" -> self.getOrElse("workload", 0L) / 1000.0,
          "self.query_ms" -> self.getOrElse("query", 0L) / 1000.0,
          "self.spark_job_ms" -> self.getOrElse("spark_job", 0L) / 1000.0)
      }
    val report = Map(
      "valid" -> true, "queries" -> Queries.size, "latency_samples" -> walls.size,
      "latency_p90_samples_beyond" -> Stats.samplesBeyond(walls.size, 90),
      "latency_supported_percentile" -> Stats.supportedPercentile(walls.size),
      "fingerprinted" -> checked.map(short),
      "failed_queries" -> failures.toMap,
      "walls_s" -> timed.zip(walls).map { case (t, w) => short(t.q) -> w }.toMap,
      "pinned_rdds_after" -> timed.map(t => short(t.q) -> t.pinned).toMap,
      "live_heap_mb_after" -> timed.map(t => short(t.q) -> t.liveHeapMb).toMap)
    Outcome(Queries.size.toLong, failures.size.toLong, e2e, layers, report)
  }
}
