package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{LsmTestKit, SparkSpecBase}
import graft.retrieval.PostingsStore
import graft.text.TextFunctions

/** The stored lexical index ([[PostingsStore]]). Identities under test:
  * the serving views are row-identical to the inline tokenize→tf→df
  * pipelines (so serving from the store changes plans, not numbers);
  * between refits, arrivals score against the fence-time stats (same
  * doc → same rows, unseen terms unscored and measured); deletes/
  * upserts follow the LSM seq rules; [[PostingsStore.mergeRefit]]
  * folds drift into the stats in O(drift) and lands EXACTLY where a
  * full rebuild over the drifted corpus lands; compaction (stats fold
  * + row fold) serves exactly what a fresh build serves; a refit or a
  * compaction that crashed before publishing its manifest is never
  * served. */
class PostingsStoreSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def docsOf(path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))

  private def rows(df: DataFrame): Set[String] =
    df.collect().map { r =>
      r.schema.fieldNames.sorted.map(f => r.get(r.fieldIndex(f)))
        .mkString("|")
    }.toSet

  test("built tables are row-identical to the inline pipelines") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_build").toString + "/idx"
    val store = PostingsStore.build(spark, path, d)
    assert(rows(store.sparse) === rows(RetrievalQueries.sparseWeights(d, None)))
    assert(rows(store.bm25) === rows(RetrievalQueries.termScores(d, None)))
  }

  test("frozen-stats append: same doc same rows, OOV terms dropped and measured") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_append").toString + "/idx"
    val store = PostingsStore.build(spark, path, d, oovWatermark = 0.9)
    assert(store.lastOovRatio.isEmpty)

    // a verbatim copy of doc 0 under a new id: the frozen encode is
    // deterministic, so its postings equal doc 0's value-for-value
    val copy = d.where($"doc_id" === 0L)
      .select(lit(777777L).as("doc_id"), $"toks")
    store.onBatch(Some(copy), None)
    assert(store.lastOovRatio === Some(0.0))
    def strip(df: DataFrame) = df.select("term", "w")
    assert(rows(strip(store.sparse.where($"doc_id" === 777777L))) ===
      rows(strip(store.sparse.where($"doc_id" === 0L))),
      "frozen re-encode of an identical doc differs")

    // arrivals with unseen terms: the OOV posting gets NO row (it has
    // no df), the known term still lands; the ratio is measured
    val weird = Seq((888888L, Seq("zzzunseenterm", "vector")))
      .toDF("doc_id", "toks")
    store.onBatch(Some(weird), None)
    assert(store.lastOovRatio === Some(0.5), s"oov ${store.lastOovRatio}")
    val got = store.sparse.where($"doc_id" === 888888L)
      .select("term").as[String].collect().toSet
    assert(got === Set("vector"), s"postings for the OOV doc: $got")
  }

  test("a crash between the postings and doc-length writes cannot diverge the views") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_atomic").toString + "/idx"
    val store = PostingsStore.build(spark, path, d)
    // one COMMITTED batch establishes the commit-record format (a
    // store written before the format is documented legacy-committed)
    store.onBatch(Some(Seq((888888L, Seq("vector")))
      .toDF("doc_id", "toks")), None)
    val sparseBefore = rows(store.sparse)
    val bm25Before = rows(store.bm25)
    // simulate the mid-batch crash at seq 2: tfs_delta written, the
    // doclens_delta row and the commit record never land (a doc with
    // postings but no length would diverge n/avgdl from the rows)
    Seq((999999L, "vector", 1L, 1, 2)).toDF("doc_id", "term", "tf", "dl", "seq")
      .write.mode("append").parquet(s"$path/tfs_delta")
    // BOTH views unchanged — the partial batch is invisible
    assert(rows(store.sparse) === sparseBefore)
    assert(rows(store.bm25) === bm25Before)
    // a committed batch after the crash serves consistently at a
    // fresh seq
    val reopened = new PostingsStore(spark, path, compactEvery = 100)
    assert(reopened.batchesSeen === 2) // the orphan seq is counted
    reopened.onBatch(Some(Seq((999999L, Seq("vector", "query")))
      .toDF("doc_id", "toks")), None)
    assert(reopened.sparse.where($"doc_id" === 999999L).count() === 2)
    assert(reopened.bm25.where($"doc_id" === 999999L).count() === 2)
  }

  test("a failed attempt burns its seq: a same-instance retry cannot double-serve") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_retry").toString + "/idx"
    // compactEvery = 2 so the FAILED attempt lands exactly on a
    // cadence multiple — the fold must be deferred one batch, not a
    // whole cycle (cadence measures from the fence, not divisibility)
    val store = PostingsStore.build(spark, path, d, compactEvery = 2)
    store.onBatch(None, None) // committed batch 1
    // an arrivals frame that fails at evaluation time (assert_true in
    // the filter predicate cannot be pruned away)
    val failing = Seq((777777L, Seq("vector"))).toDF("doc_id", "toks")
      .where(assert_true(lit(false)).isNull)
    intercept[Exception](store.onBatch(Some(failing), None))
    assert(store.batchesSeen === 2, "failed attempt did not burn its seq")
    // the same-instance retry lands at a FRESH seq: even if the failed
    // attempt had left partial log rows, the commit record cannot
    // bless them — and the compaction the burned seq 2 would have run
    // fires HERE instead of waiting for seq 4
    assert(store.compactionDue)
    store.onBatch(Some(Seq((777777L, Seq("vector")))
      .toDF("doc_id", "toks")), None)
    assert(store.batchesSeen === 3)
    assert(LsmTestKit.manifest(spark, path).fence === 3,
      "burned cadence multiple skipped the compaction cycle")
    assert(store.sparse.where($"doc_id" === 777777L).count() === 1,
      "retry double-served the doc")
  }

  test("serving-view plan: base parquet scan + broadcast anti-joined tombstones") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_plan").toString + "/idx"
    val store = PostingsStore.build(spark, path, d)
    store.onBatch(None, Some(Seq(1L).toDF("doc_id")))
    val p = store.sparse.queryExecution.optimizedPlan.toString
    assert(p.contains("LeftAnti"), s"tombstone anti-join missing:\n$p")
    assert(p.contains("ResolvedHint") || p.contains("broadcast"),
      s"tombstone broadcast hint missing:\n$p")
    // serving never re-derives weights: no tokenize, no df aggregation
    assert(!p.contains("explode") && !p.contains("string_split"),
      s"serving view recomputes the pipeline:\n$p")
  }

  test("deletes, same-batch upsert, and compaction keep the serving view exact") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_lsm").toString + "/idx"
    val store = PostingsStore.build(spark, path, d, compactEvery = 3)

    // batch 1: delete docs 1 and 2
    store.onBatch(None, Some(Seq(1L, 2L).toDF("doc_id")))
    assert(store.sparse.where($"doc_id".isin(1L, 2L)).count() === 0)
    // batch 2: same-batch delete+arrival of doc 3 = upsert (new toks)
    val newDoc3 = Seq((3L, Seq("vector", "vector", "query")))
      .toDF("doc_id", "toks")
    store.onBatch(Some(newDoc3), Some(Seq(3L).toDF("doc_id")))
    val doc3Terms = store.sparse.where($"doc_id" === 3L)
      .select("term").as[String].collect().toSet
    assert(doc3Terms === Set("vector", "query"), s"upsert lost: $doc3Terms")

    // batch 3 triggers compaction (one published generation): a fresh
    // log generation, the stats fold ran first (compaction == mergeRefit
    // + row fold), so the compacted store serves EXACTLY what a fresh
    // build over the live corpus serves — the strongest identity on
    // offer — and a reopened store agrees
    store.onBatch(None, None)
    val folded = LsmTestKit.manifest(spark, path)
    assert(folded.bare && folded.logs != "." && folded.fence === 3)
    val drifted = d.where(!$"doc_id".isin(1L, 2L, 3L))
      .unionByName(newDoc3)
    val fresh = PostingsStore.build(spark,
      java.nio.file.Files.createTempDirectory("postings_lsm_fresh")
        .toString + "/idx", drifted)
    assert(rows(store.sparse) === rows(fresh.sparse),
      "compacted serving != fresh build over the live corpus (sparse)")
    assert(rows(store.bm25) === rows(fresh.bm25),
      "compacted serving != fresh build over the live corpus (bm25)")
    val reopened = new PostingsStore(spark, path, compactEvery = 3)
    assert(reopened.batchesSeen === 3)
    assert(rows(reopened.sparse) === rows(fresh.sparse))
    // the superseded logs go at the next commit
    reopened.onBatch(None, None)
    Seq("tfs_delta", "doclens_delta", "tombstones", "tfs").foreach(d =>
      assert(!LsmTestKit.exists(s"$path/$d"), s"superseded $d kept"))
    assert(rows(reopened.sparse) === rows(fresh.sparse))
  }

  test("mergeRefit == full rebuild on a drifted corpus, in O(drift) not O(corpus)") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_refit").toString + "/idx"
    // high compactEvery: the refit must do its own folding, no
    // compaction in sight
    val store = PostingsStore.build(spark, path, d, oovWatermark = 0.9)

    // drift: two new docs (one with an OOV term), two deletes, one
    // upsert — every fold direction at once
    val arrivals = Seq(
      (888801L, Seq("vector", "qqzznewterm", "vector")),
      (888802L, Seq("query", "search"))).toDF("doc_id", "toks")
    store.onBatch(Some(arrivals), Some(Seq(5L, 6L).toDF("doc_id")))
    val upsert7 = Seq((7L, Seq("vector", "qqzznewterm")))
      .toDF("doc_id", "toks")
    store.onBatch(Some(upsert7), Some(Seq(7L).toDF("doc_id")))

    // pre-refit: the OOV term's stored raw rows exist but score nothing
    assert(store.sparse.where($"term" === "qqzznewterm").count() === 0,
      "OOV term scored against the fence-time stats")

    assert(store.mergeRefit(), "refit reported no drift")

    // post-refit serving is row-identical to a full rebuild over the
    // drifted corpus — including the previously-OOV term, which now
    // scores retroactively on BOTH its stored docs
    val drifted = d.where(!$"doc_id".isin(5L, 6L, 7L))
      .unionByName(arrivals).unionByName(upsert7)
    val fresh = PostingsStore.build(spark,
      java.nio.file.Files.createTempDirectory("postings_refit_fresh")
        .toString + "/idx", drifted)
    assert(rows(store.sparse) === rows(fresh.sparse),
      "merge-refit sparse != full rebuild")
    assert(rows(store.bm25) === rows(fresh.bm25),
      "merge-refit bm25 != full rebuild")
    assert(store.sparse.where($"term" === "qqzznewterm").count() === 2,
      "previously-OOV rows did not re-score after the refit")

    // a second refit with no new drift is a no-op
    assert(!store.mergeRefit(), "no-drift refit claimed a fold")

    // and the fold composes: more drift after the refit folds again,
    // still rebuild-identical (the fence advanced correctly — no
    // double-count of the first window's deltas)
    store.onBatch(Some(Seq((888803L, Seq("vector")))
      .toDF("doc_id", "toks")), Some(Seq(888801L).toDF("doc_id")))
    assert(store.mergeRefit())
    val drifted2 = drifted.where($"doc_id" =!= 888801L)
      .unionByName(Seq((888803L, Seq("vector"))).toDF("doc_id", "toks"))
    val fresh2 = PostingsStore.build(spark,
      java.nio.file.Files.createTempDirectory("postings_refit_fresh2")
        .toString + "/idx", drifted2)
    assert(rows(store.sparse) === rows(fresh2.sparse),
      "second merge-refit sparse != full rebuild")
    assert(rows(store.bm25) === rows(fresh2.bm25),
      "second merge-refit bm25 != full rebuild")
  }

  test("a seq burned into the stats fence alone is not reused after restart") {
    // the PostingsStore twin of the GraphMaintainer scope-fence bug: a
    // failed batch burns seq N with NO log row; mergeRefit then
    // advances _stats_fence to N (its only trace). Recovery from the
    // logs alone would reuse N — and the reused batch's rows would sit
    // at-or-below the fence, permanently excluded from every fold.
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_burn").toString + "/idx"
    val store = PostingsStore.build(spark, path, d)
    store.onBatch(Some(Seq((888801L, Seq("vector")))
      .toDF("doc_id", "toks")), None) // committed seq 1
    val failing = Seq((888802L, Seq("vector"))).toDF("doc_id", "toks")
      .where(assert_true(lit(false)).isNull)
    intercept[Exception](store.onBatch(Some(failing), None)) // burns seq 2
    assert(store.mergeRefit()) // folds seq 1's drift; fence -> 2
    val reopened = new PostingsStore(spark, path, compactEvery = 1000)
    assert(reopened.batchesSeen === 2,
      s"burned fence seq reused after restart: ${reopened.batchesSeen}")
    // the next batch lands ABOVE the fence and folds correctly
    reopened.onBatch(Some(Seq((888803L, Seq("vector", "query")))
      .toDF("doc_id", "toks")), None)
    assert(reopened.mergeRefit(), "post-restart batch sat below the fence")
    val fresh = PostingsStore.build(spark,
      java.nio.file.Files.createTempDirectory("postings_burn_fresh")
        .toString + "/idx",
      d.unionByName(Seq((888801L, Seq("vector")),
        (888803L, Seq("vector", "query"))).toDF("doc_id", "toks")))
    assert(rows(reopened.sparse) === rows(fresh.sparse),
      "fold after a burned-fence restart != full rebuild")
  }

  test("a refit that crashed before publishing is not served; a rename-swap refit marker gets a named error") {
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_refit_heal").toString + "/idx"
    val store = PostingsStore.build(spark, path, d)
    store.onBatch(Some(Seq((888801L, Seq("vector", "vector")))
      .toDF("doc_id", "toks")), None)
    val before = rows(store.sparse)

    // what a completed refit WOULD produce, from an identical twin
    val twinPath = java.nio.file.Files
      .createTempDirectory("postings_refit_twin").toString + "/idx"
    val twin = PostingsStore.build(spark, twinPath, d)
    twin.onBatch(Some(Seq((888801L, Seq("vector", "vector")))
      .toDF("doc_id", "toks")), None)
    twin.mergeRefit()
    val want = rows(twin.sparse)
    assert(want !== before)

    // crash window: new stats/meta fully written to the refit's
    // generation, CRASH before the manifest is published — the store
    // serves the pre-refit stats, and the retried refit lands
    val twinMf = LsmTestKit.manifest(spark, twinPath)
    val gen = s"$path/gen-${LsmTestKit.nextNumber(path)}"
    Seq("stats", "meta").foreach(sub =>
      spark.read.parquet(twinMf.base(sub)).write.mode("overwrite")
        .parquet(s"$gen/$sub"))
    val reopened = new PostingsStore(spark, path, compactEvery = 1000)
    assert(rows(reopened.sparse) === before, "unpublished refit served")
    assert(reopened.mergeRefit(), "the crashed refit's drift was lost")
    assert(rows(reopened.sparse) === want, "retried refit serving wrong")
    // the refit's fence is durable: no drift since seq 1 -> no-op
    assert(!new PostingsStore(spark, path, compactEvery = 1000).mergeRefit(),
      "refit fence lost (refold attempted)")

    // a store of the rename-swap format with its refit marker still at
    // the root stopped mid-commit: opening it here is refused by name
    val legacy = java.nio.file.Files
      .createTempDirectory("postings_refit_legacy").toString + "/idx"
    PostingsStore.build(spark, legacy, d)
    LsmTestKit.rm(s"$legacy/_lsm")
    LsmTestKit.write(s"$legacy/_postings_refit", "1")
    val e = intercept[IllegalStateException](
      new PostingsStore(spark, legacy, compactEvery = 1000))
    assert(e.getMessage.contains("_postings_refit") &&
      e.getMessage.contains("previous build"), e.getMessage)
  }

  test("a lost stats fence cannot silently re-inflate folded stats") {
    // insert-only drift is the hole the negative-fold require can't
    // see: with the stats fence lost after a refit, a fold from 0 would
    // re-count every already-folded arrival as a fresh df/n/tdl
    // increment — pure inflation, nothing goes negative. The fence is
    // also embedded in meta (stats_seq, published WITH the stats), so a
    // manifest without it (a store converted from the marker format
    // whose `_stats_fence` marker was lost) must be RECOVERED, not just
    // refused.
    val d = docsOf(sf("sf0.001") + "/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("postings_fence_lost").toString + "/idx"
    val store = PostingsStore.build(spark, path, d)
    store.onBatch(Some(Seq((888801L, Seq("vector", "query")))
      .toDF("doc_id", "toks")), None)
    assert(store.mergeRefit()) // arrivals folded; fence -> 1
    val mf = LsmTestKit.manifest(spark, path)
    val metaAfter = spark.read.parquet(mf.base("meta")).head()
    val nAfter = metaAfter.getAs[Long]("n")
    assert(metaAfter.getAs[Int]("stats_seq") === 1,
      "refit must embed the fence in meta")
    assert(mf.int("stats_fence") === 1, "refit must publish the fence")
    val statsAfter = rows(spark.read.parquet(mf.base("stats")))
    // simulate the fence loss: the embedded copy takes over — the
    // reopened store's next fold is a no-op, not a double-fold
    LsmTestKit.publish(spark, path)(m => m.copy(ints = m.ints - "stats_fence"))
    val reopened = new PostingsStore(spark, path, compactEvery = 1000)
    assert(reopened.batchesSeen === 1,
      "embedded fence must keep the recovered seq")
    assert(!reopened.mergeRefit(),
      "fence loss must not re-fold the already-folded window")
    val now = LsmTestKit.manifest(spark, path)
    assert(rows(spark.read.parquet(now.base("stats"))) === statsAfter &&
      spark.read.parquet(now.base("meta")).head().getAs[Long]("n") === nAfter,
      "fence loss re-inflated the folded stats")

    // a PRE-stats_seq store (legacy meta) with a lost fence: the
    // fence-0 cross-check refuses the doc-count-changing double-fold
    // loudly instead of folding from 0
    import org.apache.spark.sql.functions.col
    spark.read.parquet(now.base("meta")).select(col("n"), col("avgdl"), col("tdl"))
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$path/meta_legacy")
    LsmTestKit.publish(spark, path)(m => m.copy(
      bases = m.bases + ("meta" -> "meta_legacy"),
      ints = m.ints - "stats_fence"))
    val legacy = new PostingsStore(spark, path, compactEvery = 1000)
    val e = intercept[IllegalArgumentException](legacy.mergeRefit())
    assert(e.getMessage.contains("_stats_fence"),
      s"wrong refusal: ${e.getMessage}")

    // and a legitimately-fresh store (true fence 0) still refits fine
    val fresh = PostingsStore.build(spark, java.nio.file.Files
      .createTempDirectory("postings_fence_fresh").toString + "/idx", d)
    fresh.onBatch(Some(Seq((888802L, Seq("vector")))
      .toDF("doc_id", "toks")), None)
    assert(fresh.mergeRefit(), "fence-0 cross-check broke the legit path")
  }
}
