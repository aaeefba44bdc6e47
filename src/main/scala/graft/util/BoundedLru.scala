package graft.util

/** Access-ordered LRU map bounded at `max` entries — the shared shape of
  * the session memo caches ([[graft.ops.KMeans]] `modelCache`,
  * [[graft.ops.PQ]] `refineCache`/`calFloorCache`). Each keys on a
  * canonicalized logical plan, so the same corpus read through the same
  * lineage hits across calls; the plan retains file-index state, so an
  * unbounded map in a long-lived session querying many corpora would
  * accumulate analyzed plans forever; 32 entries covers any realistic
  * number of concurrently-served corpora while keeping retention O(1).
  *
  * Thread safety: `Collections.synchronizedMap` — its `computeIfAbsent`
  * runs under the wrapper mutex, so concurrent callers of the memoized
  * derivations compute each key at most once per residence. That mutex
  * is MAP-WIDE (ADVICE r15): a `computeIfAbsent` whose mapping function
  * is a whole training/derivation job holds it for the job's duration,
  * serializing concurrent trainings against DIFFERENT corpora and
  * blocking pure cache hits behind an in-flight miss — a deliberate
  * trade-off: the memoized derivations here are driver-side
  * sample-sized jobs (seconds), the serving reads they unblock are
  * cache hits thereafter, and nothing in this engine trains against
  * two corpora concurrently on one session. If that changes, switch to
  * per-key memo futures (ConcurrentHashMap of Promise) with a separate
  * bounded eviction rather than widening this lock's contract.
  */
object BoundedLru {
  def apply[K, V](max: Int = 32): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > max
      })
}
