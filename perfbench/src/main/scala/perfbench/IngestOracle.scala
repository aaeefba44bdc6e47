package perfbench

import scala.util.Random

import graft.datagen.{EventGenerator, GenEvent}

/** The ingest workloads' input files, derived only from (seed, file index,
  * events per file) so the generator process and the checker agree
  * without talking to each other.
  */
object IngestInputs {
  /** Share of lines that repeat an earlier line of the same file. */
  val DupRate = 0.10
  val AnomalyRate = 0.05

  def fileName(idx: Int): String = f"f$idx%05d.csv"

  /** File `idx`: `n` lines. Lines are `EventGenerator.batch(idx, n)`, except
    * that about [[DupRate]] of them (never the first) are exact copies of an
    * earlier line of the same file, so the copy repeats the event id and
    * has the same validity.
    */
  def fileEvents(seed: Long, idx: Int, n: Int): Vector[GenEvent] = {
    val base = new EventGenerator(seed = seed, anomalyRate = AnomalyRate).batch(idx, n).toVector
    val rng = new Random(seed * 31L + idx)
    val out = base.toArray
    var i = 1
    while (i < n) {
      if (rng.nextDouble() < DupRate) out(i) = out(rng.nextInt(i))
      i += 1
    }
    out.toVector
  }
}

/** Expected sink contents, derived in plain Scala from the generated
  * events, independently of Spark.
  */
object IngestOracle {

  /** The first failing rule of the engine's validation chain (None when
    * the event is valid). Generated lines always carry an id and an event
    * type, so the chain's two null rules cannot fire.
    */
  def validationError(e: GenEvent): Option[String] = {
    val knownTypes = Set("view", "click", "purchase", "signup", "error")
    if (!knownTypes(e.eventType)) Some("invalid_event_type")
    else if (Set("purchase", "signup")(e.eventType) && e.userId.isEmpty) Some("missing_user_id")
    else e.value match {
      case None => Some("null_value")
      case Some(v) if v < 0 => Some("negative_value")
      case Some(v) if v > 400.0 => Some("extreme_value")
      case Some(v) if e.eventType == "purchase" && v <= 0 => Some("purchase_zero_value")
      case _ => None
    }
  }

  /** What one file must leave in the sink: each valid id once in
    * `ecommerce_events`, each invalid line (duplicates included, as the
    * dead-letter branch is not deduplicated) in `dead_letter_events`.
    */
  final case class FileExpect(
      idx: Int,
      lines: Int,
      validIds: Set[Long],
      deadById: Map[Long, Int]) {
    def invalidLines: Int = deadById.values.sum
    /** Rows of the micro-batch that carries this file. */
    def batchRows: Int = validIds.size + invalidLines
  }

  def expect(idx: Int, events: Seq[GenEvent]): FileExpect = {
    val tagged = events.map(e => e -> validationError(e))
    val valid = tagged.collect { case (e, None) => e.eventId }.toSet
    val dead = tagged.collect { case (e, Some(_)) => e.eventId }
      .groupBy(identity).map { case (id, xs) => id -> xs.size }
    FileExpect(idx, events.size, valid, dead)
  }

  final case class Totals(validDistinct: Long, invalidLines: Long, metricsRows: Long)

  /** Table-level expectations: with one file per micro-batch and every
    * file non-empty, there is one metrics row per file.
    */
  def totals(files: Seq[FileExpect]): Totals = Totals(
    validDistinct = files.map(_.validIds.size.toLong).sum,
    invalidLines = files.map(_.invalidLines.toLong).sum,
    metricsRows = files.size.toLong)

  /** The file an event id belongs to: the generator numbers ids 1..n in
    * file 0, n+1..2n in file 1, and so on.
    */
  def fileOf(id: Long, n: Int): Int = ((id - 1) / n).toInt

  /** Files whose rows are not in the sink exactly once: a valid id is
    * missing, an id of the file's range is in the events table without
    * being valid, or the dead-letter count of an id differs.
    */
  def failedFiles(
      files: Seq[FileExpect], n: Int, eventIds: Set[Long], deadCounts: Map[Long, Int]): Seq[Int] = {
    val eventsByFile = eventIds.groupBy(fileOf(_, n))
    val deadByFile = deadCounts.groupBy { case (id, _) => fileOf(id, n) }
    files.filterNot { f =>
      eventsByFile.getOrElse(f.idx, Set.empty) == f.validIds &&
        deadByFile.getOrElse(f.idx, Map.empty) == f.deadById
    }.map(_.idx)
  }
}
