package graft.ops

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

/** r19 (VERDICT r18 #5): intra-query `.cache()` /  `localCheckpoint`
  * handles must be freed once the caller's action completes — WITHOUT an
  * external `clearCache()`. The free is listener-driven (asynchronous on
  * the QueryExecutionListener bus), so the assertions poll briefly.
  * Mirrors MediaIngestSpec's pinned-storage-count pattern: compare
  * against the pre-test pin count rather than zero, so pre-existing pins
  * from other suites sharing the session don't fail this one.
  */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private def pinned(): Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel != StorageLevel.NONE)

  private def assertEventuallyFreed(before: Int, what: String): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (pinned() > before && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    val after = pinned()
    assert(after <= before,
      s"$what left pinned blocks after its action: $before -> $after (" +
        spark.sparkContext.getPersistentRDDs.values
          .filter(_.getStorageLevel != StorageLevel.NONE)
          .map(r => s"${r.id}:${r.name}").mkString(", ") + ")")
  }

  private val docs = Seq(
    (1L, "aa bb cc dd ee ff gg hh"),
    (2L, "aa bb cc dd ee ff gg ii"),
    (3L, "zz yy xx ww vv uu tt ss"),
    (4L, "aa bb cc dd ee ff gg hh"),
    (5L, "mm nn oo pp qq rr"),
  ).toDF("doc_id", "text")

  private val emb = Seq(
    (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
    (2L, Seq(0.8f, 0.2f), 1), (3L, Seq(0.0f, 1.0f), 1),
    (4L, Seq(0.1f, 0.9f), 0), (5L, Seq(0.5f, 0.5f), 1),
  ).toDF("vec_id", "embedding", "label")

  test("a second action on the same freed DataFrame still computes the " +
    "identical result (unpersist drops blocks, not semantics)") {
    val df = TextAnalysis.winnowingOverlap(docs, k = 2, w = 2)
    val first = df.collect().toSeq
    val second = df.collect().toSeq
    assert(first == second)
  }

  // 64-dim planted corpus (three tight groups) for the ops that need the
  // full embedding width: LSH planes and the trained quantizer
  private val emb64 = (0 until 30).map { id =>
    val g = id % 3
    val v = Array.fill(Similarity.Dim)(0.0f)
    v(2 * g) = 1.0f
    v(2 * g + 1) = 0.001f * (id % 10)
    (id.toLong, v.toSeq, g)
  }.toDF("vec_id", "embedding", "label")

  // ids ≡ 0/1/2 mod 3 derive image/audio/video payloads; 0 and 768 are
  // identical images
  private val media = ((0L until 12L) :+ 768L)
    .map(id => (id, s"t$id", "en", "src", 2L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  // the 3-document arithmetic case: budget 2 derives cap 2, so the
  // hot-correction branch runs
  private val hotDocs = Seq(
    (1L, "h1 h2 h3 h4 a b c"),
    (2L, "h1 h2 h3 h4 a b d"),
    (3L, "h1 h2 h3 h4 x y z")).toDF("doc_id", "text")

  private def reExec(op: String) = s"$op frees its caches and re-executes identically"

  /** Every op that scopes its caches through CacheScope.freeAfterUse:
    * after one action no new blocks stay pinned, and a second action
    * through a fresh plan over the result returns the same rows.
    */
  private val scopedOps: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "derived-cap pair machine frees its caches after the action" ->
      (() => NearDup.ngramJaccardPairsCapped(docs, n = 2)),
    "prefix-filtered jaccard frees its caches after the action" ->
      (() => NearDup.ngramJaccardPairs(docs, n = 2)),
    "winnowing overlap frees its caches after the action" ->
      (() => TextAnalysis.winnowingOverlap(docs, k = 2, w = 2)),
    "adaptive IVF with explicit nprobe frees the corpus cache " +
      "after the action (no external clearCache)" ->
      (() => Similarity.ivfTopKAdaptive(emb, k = 2, nprobe = 1)),
    "embedding near-dup grid frees the block cache after the action" ->
      (() => Similarity.embeddingNearDups(emb)),
    reExec("embeddingNearDupsApprox") -> (() => Similarity.embeddingNearDupsApprox(emb64)),
    reExec("embeddingKeepListApprox") -> (() => Similarity.embeddingKeepListApprox(emb64)),
    reExec("semanticDecontamination") -> (() => Similarity.semanticDecontamination(emb64)),
    reExec("lshBucketedTopK") -> (() => Similarity.lshBucketedTopK(emb64)),
    reExec("ivfTopK") -> (() => Similarity.ivfTopK(emb64, k = 2, nprobe = 2)),
    reExec("ivfTopKAdaptive(derived)") -> (() => Similarity.ivfTopKAdaptive(emb64, k = 2)),
    reExec("annRecall") -> (() => Similarity.annRecall(emb64, nQueries = 5, k = 2)),
    reExec("ivfTopKTrainedProbed") ->
      (() => KMeans.ivfTopKTrainedProbed(emb64, nprobe = 2, k = 3, iters = 2)),
    reExec("semanticDedup") -> (() => KMeans.semanticDedup(emb64, k = 3, iters = 2, tau = 0.0)),
    reExec("winnowingTopPartners") ->
      (() => TextAnalysis.winnowingTopPartners(docs, k = 2, w = 2)),
    reExec("ngramContainment") -> (() => NearDup.ngramContainment(docs, n = 2)),
    reExec("ngramJaccardPairsCapped(hot)") ->
      (() => NearDup.ngramJaccardPairsCapped(hotDocs, fanoutBudget = 2)),
    reExec("ngramContainmentCapped") -> (() => NearDup.ngramContainmentCapped(docs, n = 2)),
    reExec("imageNearDups") -> (() => Multimodal.imageNearDups(media)),
    reExec("imageDedupKeepList") -> (() => Multimodal.imageDedupKeepList(media)),
    reExec("audioNearDups") -> (() => Multimodal.audioNearDups(media)),
    reExec("audioDedupKeepList") -> (() => Multimodal.audioDedupKeepList(media)),
    reExec("videoNearDups") -> (() => Multimodal.videoNearDups(media)))

  scopedOps.foreach { case (name, op) =>
    test(name) {
      spark.catalog.clearCache()
      val before = pinned()
      val df = op()
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
      val first = rows(df)
      assertEventuallyFreed(before, name)
      // a fresh plan over the result re-reads its inputs instead of reusing
      // the first action's materialized shuffle stages
      assert(rows(df.select("*")) == first, s"$name: second action differs")
    }
  }

  test("a caller's localCheckpoint input survives the op's cache free") {
    spark.catalog.clearCache()
    val owned = Seq(
      (1L, "aa bb cc dd ee ff"), (2L, "aa bb cc dd ee gg"), (3L, "xx yy zz ww"))
      .toDF("doc_id", "text").localCheckpoint()
    val before = pinned()
    assert(NearDup.ngramJaccardPairs(owned, n = 2).count() > 0)
    assertEventuallyFreed(before, "ngramJaccardPairs")
    assert(owned.count() == 3L)
  }

  test("unexecuted scoped results unregister once their plans are collected") {
    val baseline = graft.util.CacheScope.registeredScopes
    (1 to 20).foreach(_ => Similarity.embeddingNearDups(emb))
    assert(graft.util.CacheScope.registeredScopes > baseline)
    val deadline = System.currentTimeMillis() + 15000
    while (graft.util.CacheScope.registeredScopes > baseline &&
        System.currentTimeMillis() < deadline) {
      System.gc()
      spark.range(3).count()
      Thread.sleep(100)
    }
    assert(graft.util.CacheScope.registeredScopes <= baseline,
      s"plan-only scopes still registered: $baseline -> " +
        graft.util.CacheScope.registeredScopes)
  }
}
