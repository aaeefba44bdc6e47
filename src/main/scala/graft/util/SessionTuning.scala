package graft.util

import org.apache.spark.sql.SparkSession

/** Session tuning shared by the measurement mains (Bench / Verify /
  * Explain / OptProf) — r18 optimization round.
  *
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (Spark
  * default 1 MB) is AQE's floor on coalesced-partition size. With
  * `parallelismFirst` (default true) a post-shuffle stage gets
  * `max(totalBytes / defaultParallelism, minPartitionSize)`-sized
  * partitions — so any stage whose total shuffle bytes are under
  * `cores × 1 MB` is coalesced BELOW the session's parallelism purely on
  * byte count. That heuristic assumes compute ∝ bytes, which this
  * library's hot operators break by orders of magnitude: a 64-dim
  * quantized-dot candidate row is ~30 bytes but ~64 multiplies, a
  * posting-pair row is ~24 bytes into a hash aggregate. Measured (r18,
  * sf0.1, local[32]): q36's serving join — 3.8 MB of shuffle — ran in 3
  * AQE-coalesced tasks for 2.5 s where 32 tasks take ~0.4 s; q102's pair
  * aggregation (1.8 MB) ran single-task for 1.8 s.
  *
  * Lowering the floor to 128 KB restores the parallelism-first intent for
  * compute-dense small-byte stages while changing NOTHING at scale: once
  * `totalBytes / defaultParallelism` exceeds 128 KB (i.e. any shuffle past
  * ~4 MB/core — every real-data stage at 100 TB), the floor is inert
  * and AQE's byte-based coalescing behaves exactly as before. The value
  * was SWEPT, not asserted (r18 A/B over the two affected query classes,
  * 3-rep medians at local[32]): 16 KB maximizes the dense-join win (q36's
  * serving join 0.9 s at 32 tasks) but taxes iteration-heavy queries
  * whose 20-40 sequential jobs each carry a few-hundred-KB shuffle
  * (q124/q126 +1.5-2 s from scheduling ~18 near-empty tasks per stage);
  * 1 MB (the Spark default) restores those but serializes the dense joins
  * again (q36 +1.6 s). 128 KB holds ≥ 14-30 tasks on the MB-scale dense
  * stages while letting KB-scale iteration shuffles collapse to 1-2
  * tasks — best subset total of {16k, 64k, 128k, 256k, 1m}.
  */
object SessionTuning {
  val MinCoalescedPartitionSize = "128k"

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      MinCoalescedPartitionSize)
}
