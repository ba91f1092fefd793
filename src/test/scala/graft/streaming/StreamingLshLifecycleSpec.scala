package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN
import graft.ann.lsh.{Lsh, LshConfig, LshMaintainer, LshModel}

/** LSH index MAINTENANCE on an upsert/delete stream — the LSH twin of
  * StreamingGraphInsertSpec, over [[LshMaintainer]]'s LSM layout
  * (delta appends + seq-stamped tombstone log + scheduled compaction).
  *
  * Identity under test: after a streaming foreachBatch loop of mixed
  * adds/updates/deletes, the maintainer's serving view returns results
  * row-identical to the in-memory lifecycle chain
  * ([[graft.ann.lsh.LshIndex.withDeletes]]/`append`/`upsert`) applying
  * the same operations — the streaming machinery (MemoryStream,
  * foreachBatch, parquet logs, compaction rewrite) adds and loses
  * nothing. The single-leaf forest makes every candidate set total, so
  * the identity also equals exact top-k over the final live corpus.
  */
class StreamingLshLifecycleSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  test("foreachBatch upsert/delete log + compaction == in-memory lifecycle chain == exact") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.where($"vec_id" < 480)
    val path = java.nio.file.Files
      .createTempDirectory("lsh_lsm").toString + "/idx"
    // single leaf per tree: lifecycle semantics isolated from recall
    Lsh.train(base, "vec_id", "embedding",
      LshConfig(nTrees = 2, kMinVecs = 4096, seed = 7L)).save(spark, path)

    // batch 1: add 480-489, delete {5, 12}
    // batch 2: add 490-499, UPDATE 7 (delete + same-batch re-add at a
    //          new embedding = vec 480's), delete {20}
    //          -> compaction fires (compactEvery = 2)
    // batch 3 (post-compaction): delete {490}, add nothing
    val v480 = emb.where($"vec_id" === 480L)
      .select($"embedding").as[Seq[Float]].head()
    val adds1 = emb.where($"vec_id" >= 480L && $"vec_id" < 490L)
      .as[(Long, Seq[Float])].collect().toSeq
    val adds2 = emb.where($"vec_id" >= 490L && $"vec_id" < 500L)
      .as[(Long, Seq[Float])].collect().toSeq :+ (7L -> v480)
    val dels1 = Seq(5L, 12L)
    val dels2 = Seq(7L, 20L)
    val dels3 = Seq(490L)

    // ---- streaming side: ops encoded as (op, vec_id, embedding) ----
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Seq[Float])]
    val maint = new LshMaintainer(spark, path, compactEvery = 2,
      occupancyWatermark = 3.0)
    val q = mem.toDF().toDF("op", "vec_id", "embedding")
      .writeStream
      .foreachBatch { (batchDf: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batchDf.isEmpty) {
          val b = batchDf.cache()
          val a = b.where($"op" === "add").select("vec_id", "embedding")
          val d = b.where($"op" === "del").select("vec_id")
          maint.onBatch(
            if (a.isEmpty) None else Some(a),
            if (d.isEmpty) None else Some(d))
          b.unpersist()
        }
        ()
      }
      .start()
    def feed(adds: Seq[(Long, Seq[Float])], dels: Seq[Long]): Unit = {
      mem.addData(adds.map { case (i, e) => ("add", i, e) } ++
        dels.map(i => ("del", i, Seq.empty[Float])))
      q.processAllAvailable()
    }
    assert(!maint.compactionDue)
    feed(adds1, dels1)
    assert(maint.compactionDue)
    feed(adds2, dels2) // compaction fires here
    assert(maint.batchesSeen === 2)
    // post-compaction: logs folded into the base, the view reads a
    // fresh log generation
    val folded = graft.LsmTestKit.manifest(spark, path)
    assert(folded.bare && folded.logs != ".")
    feed(Seq.empty, dels3)
    // and the next commit leaves zero residue of the folded logs
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(!new java.io.File(s"$path/vectors_delta").exists())
    q.stop()

    // ---- batch twin: the in-memory lifecycle chain, same ops,
    // starting from the ORIGINAL base index (rebuilt deterministically:
    // same seeded config over the same rows) ----
    val idx0 = Lsh.train(base, "vec_id", "embedding",
      LshConfig(nTrees = 2, kMinVecs = 4096, seed = 7L))
    val twin = idx0
      .withDeletes(dels1.toDF("vec_id")).append(adds1.toDF("vec_id", "embedding"))
      .withDeletes(Seq(20L).toDF("vec_id"))
      .upsert(Seq(7L -> v480).toDF("vec_id", "embedding"))
      .append(adds2.dropRight(1).toDF("vec_id", "embedding"))
      .withDeletes(dels3.toDF("vec_id"))

    val queries = emb.where($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    def rows(i: graft.ann.lsh.LshIndex) =
      i.searchAll(queries, 5, 1e9, ExactNN.L2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val served = rows(maint.index)
    assert(served === rows(twin), "stream view != in-memory chain")

    // and both equal exact top-k over the final live corpus
    val liveCorpus = base
      .where(!$"vec_id".isin(5L, 12L, 7L, 20L))
      .unionByName(adds1.toDF("vec_id", "embedding"))
      .unionByName(adds2.dropRight(1).toDF("vec_id", "embedding"))
      .unionByName(Seq(7L -> v480).toDF("vec_id", "embedding"))
      .where(!$"vec_id".isin(490L))
    val exact = ExactNN.topK(queries, liveCorpus, 5, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === exact, "stream view != exact over live corpus")
  }

  test("reconstructed maintainer recovers the LSM seq from the persisted logs") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.where($"vec_id" < 490)
    val path = java.nio.file.Files
      .createTempDirectory("lsh_lsm_restart").toString + "/idx"
    Lsh.train(base, "vec_id", "embedding",
      LshConfig(nTrees = 2, kMinVecs = 4096, seed = 7L)).save(spark, path)
    val v490 = emb.where($"vec_id" === 490L)
      .select($"embedding").as[Seq[Float]].head()

    // run 1: batch 1 adds id 490 (delta seq 1), batch 2 deletes it
    // (tombstone seq 2)
    val m1 = new LshMaintainer(spark, path, compactEvery = 100)
    m1.onBatch(Some(Seq(490L -> v490).toDF("vec_id", "embedding")), None)
    m1.onBatch(None, Some(Seq(490L).toDF("vec_id")))
    assert(m1.index.vectors.where($"vec_id" === 490L).count() === 0)

    // "restart": a NEW maintainer over the same store must CONTINUE the
    // persisted sequence — a counter restarting at 0 would stamp the
    // re-add below with seq 1, letting the surviving tombstone (seq 2)
    // kill the NEW arrival (old delete beats new insert: the LSM
    // ordering inverted)
    val m2 = new LshMaintainer(spark, path, compactEvery = 100)
    assert(m2.batchesSeen === 2,
      s"seq not recovered from the persisted logs: ${m2.batchesSeen}")
    m2.onBatch(Some(Seq(490L -> v490).toDF("vec_id", "embedding")), None)
    assert(m2.index.vectors.where($"vec_id" === 490L).count() === 1,
      "re-added id killed by a pre-restart tombstone")
  }

  test("a partial batch (no commit record) is invisible; a retry lands at a fresh seq") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.where($"vec_id" < 480)
    val path = java.nio.file.Files
      .createTempDirectory("lsh_lsm_atomic").toString + "/idx"
    // single-leaf forest: candidates are total, so a search sees every
    // served row
    Lsh.train(base, "vec_id", "embedding",
      LshConfig(nTrees = 2, kMinVecs = 4096, seed = 7L)).save(spark, path)
    def vecRows(m: LshMaintainer) = m.index.vectors.select("vec_id")
      .as[Long].collect().sorted.toSeq
    def bucketRows(m: LshMaintainer) = m.index.buckets
      .select("tree_id", "hash", "vec_id").as[(Int, Long, Long)]
      .collect().sorted.toSeq
    val queries = emb.where($"vec_id".isin(3L, 486L))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    def served(m: LshMaintainer) = m.index.searchAll(queries, 3, 1e9, ExactNN.L2)
      .select("vec_id").as[Long].collect().toSet

    // batch 1 commits normally
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    m.onBatch(Some(emb.where($"vec_id".between(480, 484))), None)
    val vecs1 = vecRows(m)
    val buckets1 = bucketRows(m)
    assert(vecs1 === (0L until 485L))

    // batch 2 CRASHES mid-write: rows land in BOTH delta tables and
    // the tombstone log, but the commit record never does — simulate
    // by writing the logs in onBatch's format directly
    val arrivals2 = emb.where($"vec_id".between(485, 489))
    arrivals2.withColumn("seq", lit(2))
      .write.mode("append").parquet(s"$path/vectors_delta")
    LshModel.load(spark, s"$path/model")
      .transform(arrivals2, "vec_id", "embedding")
      .select($"tree_id", $"hash", $"vec_id", lit(2).as("seq"))
      .write.mode("append").parquet(s"$path/buckets_delta")
    Seq((3L, 2)).toDF("vec_id", "seq")
      .write.mode("append").parquet(s"$path/tombstones")
    // invisible: no uncommitted vector or bucket row is served, and the
    // uncommitted tombstone kills nothing
    assert(vecRows(m) === vecs1, "uncommitted vectors_delta rows served")
    assert(bucketRows(m) === buckets1, "uncommitted buckets_delta rows served")
    val served1 = served(m)
    assert(served1.contains(3L) && served1.forall(_ < 485L),
      s"search served: $served1")

    // a reconstructed maintainer counts the orphan seq, so the retry
    // cannot collide with the partial rows
    val m2 = new LshMaintainer(spark, path, compactEvery = 100)
    assert(m2.batchesSeen === 2, s"seq: ${m2.batchesSeen}")
    assert(vecRows(m2) === vecs1)
    m2.onBatch(Some(arrivals2), Some(Seq(3L).toDF("vec_id")))
    assert(m2.batchesSeen === 3)
    val expected = (0L until 490L).filter(_ != 3L)
    // each id exactly once: the orphan seq-2 rows stay invisible beside
    // the retried seq-3 rows
    assert(vecRows(m2) === expected, "retried batch wrong")
    assert(bucketRows(m2).map(_._3).sorted === expected.flatMap(i => Seq(i, i)))
    val served2 = served(m2)
    assert(served2.contains(486L) && !served2.contains(3L), s"$served2")
    // compaction folds only the committed truth (orphans dropped)
    m2.compactNow()
    assert(Lsh.load(spark, path).vectors.select("vec_id").as[Long]
      .collect().sorted.toSeq === expected)
  }

  test("refitNow retrains on the live view and restores the occupancy envelope") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.where($"vec_id" < 300)
    val path = java.nio.file.Files
      .createTempDirectory("lsh_lsm_refit").toString + "/idx"
    val cfg = LshConfig(nTrees = 2, kMinVecs = 4096, seed = 7L)
    Lsh.train(base, "vec_id", "embedding", cfg).save(spark, path)

    val m = new LshMaintainer(spark, path, compactEvery = 100,
      occupancyWatermark = 1.5)
    m.onBatch(Some(emb.where($"vec_id" >= 300)), Some(Seq(5L, 12L).toDF("vec_id")))
    // 300 base + 200 arrivals at rest over the 300-row fit
    assert(math.abs(m.atRestGrowth - 500.0 / 300.0) < 1e-9)

    m.refitNow(cfg)
    assert(m.atRestGrowth === 1.0, s"growth not reset: ${m.atRestGrowth}")
    assert(graft.LsmTestKit.manifest(spark, path).logs != ".",
      "logs survived refit")
    // the refit store serves the LIVE corpus exactly (single-leaf
    // forest: candidates are total, so view == exact)
    val live = emb.where(!$"vec_id".isin(5L, 12L))
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val served = m.index.searchAll(queries, 5, 1e9, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = ExactNN.topK(queries, live, 5, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === exact, "refit store != exact over live corpus")
    // the superseded logs go at the next commit
    m.onBatch(None, None)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "logs survived the commit after the refit")
  }
}
