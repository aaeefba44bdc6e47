package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.datagen.GenEvent

class IngestOracleSpec extends AnyFunSuite {
  private def ev(id: Long, t: String, user: Option[Long], v: Option[Double]) =
    GenEvent(id, "2024-01-10 10:00:00.0", user, t, v, "{}")

  // file 0 of a 10-event layout: ids 1..10, one line per anomaly class,
  // valid lines of every type, and in-file duplicates of both kinds
  private val lines = Seq(
    ev(1, "view", Some(1), Some(3.0)),
    ev(2, "view", None, Some(0.0)),          // anonymous view: valid
    ev(3, "purchase", None, Some(20.0)),     // missing_user_id
    ev(4, "click", Some(2), None),           // null_value
    ev(5, "view", Some(3), Some(-4.0)),      // negative_value
    ev(6, "click", Some(4), Some(900.0)),    // extreme_value
    ev(7, "signup", Some(5), Some(0.0)),     // valid
    ev(8, "purchase", Some(6), Some(0.0)),   // purchase_zero_value
    ev(9, "error", None, Some(-0.0)),        // -0.0 is not below zero: valid
    ev(1, "view", Some(1), Some(3.0)),       // duplicate of a valid line
    ev(3, "purchase", None, Some(20.0)))     // duplicate of an invalid line

  test("each anomaly class gets the engine's first-matching error") {
    val errs = lines.map(IngestOracle.validationError)
    assert(errs == Seq(None, None, Some("missing_user_id"), Some("null_value"),
      Some("negative_value"), Some("extreme_value"), None, Some("purchase_zero_value"),
      None, None, Some("missing_user_id")))
    // a missing user outranks a bad value, as in the engine's rule order
    assert(IngestOracle.validationError(ev(1, "signup", None, None)).contains("missing_user_id"))
    assert(IngestOracle.validationError(ev(1, "refund", Some(1), Some(1.0))).contains("invalid_event_type"))
  }

  test("expected counts: valid ids once, every invalid line in the dead letters") {
    val f = IngestOracle.expect(0, lines)
    assert(f.validIds == Set(1L, 2L, 7L, 9L))
    assert(f.deadById == Map(3L -> 2, 4L -> 1, 5L -> 1, 6L -> 1, 8L -> 1))
    assert(f.invalidLines == 6)
    assert(f.batchRows == 10)
    val t = IngestOracle.totals(Seq(f, f.copy(idx = 1)))
    assert(t == IngestOracle.Totals(validDistinct = 8, invalidLines = 12, metricsRows = 2))
  }

  test("a file fails when its rows are not in the sink exactly once") {
    val f = IngestOracle.expect(0, lines)
    val dead = Map(3L -> 2, 4L -> 1, 5L -> 1, 6L -> 1, 8L -> 1)
    assert(IngestOracle.failedFiles(Seq(f), 10, Set(1L, 2L, 7L, 9L), dead).isEmpty)
    assert(IngestOracle.failedFiles(Seq(f), 10, Set(1L, 2L, 7L), dead) == Seq(0))           // lost row
    assert(IngestOracle.failedFiles(Seq(f), 10, Set(1L, 2L, 3L, 7L, 9L), dead) == Seq(0))   // invalid row kept
    assert(IngestOracle.failedFiles(Seq(f), 10, Set(1L, 2L, 7L, 9L), dead + (3L -> 1)) == Seq(0))
    // rows of another file's id range do not count against this one
    assert(IngestOracle.failedFiles(Seq(f), 10, Set(1L, 2L, 7L, 9L, 15L), dead).isEmpty)
  }

  test("generated files repeat about a tenth of their lines, deterministically") {
    val a = IngestInputs.fileEvents(7L, 3, 300)
    assert(a == IngestInputs.fileEvents(7L, 3, 300))
    assert(a.size == 300)
    val dupShare = 1.0 - a.map(_.eventId).distinct.size / 300.0
    assert(dupShare > 0.05 && dupShare < 0.15)
    assert(a.forall(e => IngestOracle.fileOf(e.eventId, 300) == 3))
  }
}
