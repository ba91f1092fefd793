package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{LsmTestKit, SparkSpecBase}
import graft.ann.ivfsq.{IvfSq, IvfSqConfig}
import graft.ann.sq.Sq

/** [[CodesMaintainer]] — the LSM loop over a stored compressed-codes
  * table. Identity under test: after mixed add/delete/upsert batches,
  * `liveCodes` is row-identical to the in-memory lifecycle chain
  * (withDeletes/append/upsert) applying the same ops; compaction folds
  * the logs into the base without changing a row and preserves the
  * family's partition layout; the seq counter recovers from the
  * persisted logs on reconstruction (the LshMaintainer restart rule).
  */
class CodesMaintainerSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def mkCorpus(n: Int, seed: Int = 11) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
  }

  private def rows(codes: DataFrame): Map[Long, String] =
    codes.collect().map { r =>
      (r.getAs[Long]("vec_id"),
        r.schema.fieldNames.filterNot(_ == "vec_id").sorted
          .map(f => r.get(r.fieldIndex(f))).mkString("|"))
    }.toMap

  test("SQ codes LSM: batches == in-memory chain; compaction; restart recovery") {
    val corpus = mkCorpus(40)
    val idx = Sq.train(corpus, "vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_sq").toString + "/idx"
    idx.save(spark, path)

    val arrivals1 = mkCorpus(50, seed = 29).where($"vec_id" >= 40L)
    val dead1 = Seq(2L, 9L)
    // upsert: id 5 takes id 0's embedding
    val newEmb = corpus.where($"vec_id" === 0L)
      .select($"embedding").as[Seq[Double]].head()
    val up2 = Seq(5L -> newEmb).toDF("vec_id", "embedding")

    def enc(df: DataFrame) = idx.model.transformDf(df, "vec_id", "embedding")
    val m = new CodesMaintainer(spark, path, enc, compactEvery = 3,
      occupancyWatermark = 10.0)

    m.onBatch(Some(arrivals1), Some(dead1.toDF("vec_id")))
    m.onBatch(Some(up2), Some(up2.select("vec_id")))
    // at-rest growth counts delta rows INCLUDING tombstoned ones:
    // 40 base + 10 arrivals + 1 upsert re-add over the 40-row fit
    assert(math.abs(m.atRestGrowth - 51.0 / 40.0) < 1e-9,
      s"at-rest growth ${m.atRestGrowth}")

    val chain = idx.withDeletes(dead1.toDF("vec_id"))
      .append(arrivals1).upsert(up2)
    assert(rows(m.liveCodes) === rows(chain.codes),
      "LSM view != in-memory lifecycle chain")

    // restart: a reconstructed maintainer continues the sequence
    val m2 = new CodesMaintainer(spark, path, enc, compactEvery = 3)
    assert(m2.batchesSeen === 2, s"seq not recovered: ${m2.batchesSeen}")
    assert(m2.compactionDue)

    // batch 3 (empty) triggers compaction: base == view, the view reads
    // a fresh log generation, and the fence keeps the lifetime counter
    // across reconstruction
    m2.onBatch(None, None)
    val reloaded = Sq.load(spark, path)
    assert(rows(reloaded.codes) === rows(chain.codes),
      "compacted base != lifecycle chain")
    val folded = LsmTestKit.manifest(spark, path)
    assert(folded.bare && folded.logs != "." && folded.fence === 3,
      s"compaction did not start a fresh log generation: $folded")
    assert(new CodesMaintainer(spark, path, enc, compactEvery = 3)
      .batchesSeen === 3,
      "compaction fence lost the lifetime batch counter")
    // the superseded base and logs go at the next commit
    m2.onBatch(None, None)
    Seq("codes", "codes_delta", "tombstones").foreach(d =>
      assert(!LsmTestKit.exists(s"$path/$d"), s"superseded $d kept"))
    assert(rows(Sq.load(spark, path).codes) === rows(chain.codes))
  }

  test("compaction fence makes logs surviving a post-fence crash harmless") {
    val corpus = mkCorpus(30)
    val idx = Sq.train(corpus, "vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_crash").toString + "/idx"
    idx.save(spark, path)
    def enc(df: DataFrame) = idx.model.transformDf(df, "vec_id", "embedding")

    val m = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    val arrivals = mkCorpus(40, seed = 29).where($"vec_id" >= 30L)
    m.onBatch(Some(arrivals), Some(Seq(3L).toDF("vec_id")))
    val expected = rows(idx.withDeletes(Seq(3L).toDF("vec_id"))
      .append(arrivals).codes)
    assert(rows(m.liveCodes) === expected)

    // compact, then copy the folded batch's log rows (seq 1, at the
    // fence) into the NEW log generation too — the worst a crash around
    // the publish could leave: the old generation's logs survive until
    // retention, and stale rows sit beside the fresh generation's
    m.compactNow()
    val gen = LsmTestKit.manifest(spark, path)
    assert(LsmTestKit.exists(s"$path/codes_delta"),
      "the superseded logs must survive one commit (a view may read them)")
    LsmTestKit.cp(s"$path/codes_delta", gen.log("codes_delta"))
    LsmTestKit.cp(s"$path/tombstones", gen.log("tombstones"))

    // the stale log rows are fenced off: no duplicates, no resurrected
    // tombstone kills — live view and a reconstructed maintainer's view
    // both equal the folded truth
    assert(rows(m.liveCodes) === expected,
      "stale logs after the fence polluted the live view")
    val m2 = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    assert(rows(m2.liveCodes) === expected)
    assert(m2.batchesSeen === 1, s"seq: ${m2.batchesSeen}")
    // and the duplicate-count check the fence exists for: a vec_id
    // appears exactly once
    val dups = m2.liveCodes.groupBy("vec_id").count()
      .where($"count" > 1).count()
    assert(dups === 0, s"$dups duplicated ids in the fenced view")
  }

  test("residual crash windows self-heal at construction (no manual dedup)") {
    val corpus = mkCorpus(30)
    val idx = Sq.train(corpus, "vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_heal").toString + "/idx"
    idx.save(spark, path)
    def enc(df: DataFrame) = idx.model.transformDf(df, "vec_id", "embedding")
    def noDups(df: DataFrame): Unit =
      assert(df.groupBy("vec_id").count().where($"count" > 1).count() === 0)

    // ---- window A: the folded base written to its generation, CRASH
    // before the manifest is published ----
    val m = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    val arrivals = mkCorpus(40, seed = 29).where($"vec_id" >= 30L)
    m.onBatch(Some(arrivals), Some(Seq(3L).toDF("vec_id")))
    val expected = rows(idx.withDeletes(Seq(3L).toDF("vec_id"))
      .append(arrivals).codes)
    val orphan = s"$path/gen-${LsmTestKit.nextNumber(path)}"
    m.liveCodes.localCheckpoint()
      .write.mode("overwrite").parquet(s"$orphan/codes")
    // crash here. A reopened maintainer serves the published snapshot
    // (old base + logs), never the unpublished generation:
    val m2 = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    assert(rows(m2.liveCodes) === expected, "healed view wrong")
    assert(rows(Sq.load(spark, path).codes) === rows(idx.codes),
      "an unpublished generation was served at rest")
    noDups(m2.liveCodes)
    assert(m2.batchesSeen === 1, s"seq: ${m2.batchesSeen}")

    // ---- window B: the next commit (a batch) deletes the orphan; a
    // compaction publishes, CRASH before retention (the superseded
    // base and logs are still on disk) ----
    val arrivals2 = mkCorpus(50, seed = 31).where($"vec_id" >= 40L)
    m2.onBatch(Some(arrivals2), Some(Seq(5L).toDF("vec_id")))
    assert(!LsmTestKit.exists(orphan), "orphan generation kept")
    val expected2 = rows(idx.withDeletes(Seq(3L).toDF("vec_id"))
      .append(arrivals).withDeletes(Seq(5L).toDF("vec_id"))
      .append(arrivals2).codes)
    m2.compactNow()
    assert(LsmTestKit.exists(s"$path/codes_delta"))
    val m3 = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    assert(rows(m3.liveCodes) === expected2, "window-B healed view wrong")
    assert(rows(Sq.load(spark, path).codes) === expected2)
    noDups(m3.liveCodes)
    assert(m3.batchesSeen === 2, s"seq: ${m3.batchesSeen}")
    // the next commit finishes the retention
    m3.onBatch(None, None)
    assert(!LsmTestKit.exists(s"$path/codes_delta") &&
      !LsmTestKit.exists(s"$path/codes"))
    assert(rows(m3.liveCodes) === expected2)
  }

  test("a partial batch (no commit record) is invisible; a retry lands at a fresh seq") {
    val corpus = mkCorpus(30)
    val idx = Sq.train(corpus, "vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_atomic").toString + "/idx"
    idx.save(spark, path)
    def enc(df: DataFrame) = idx.model.transformDf(df, "vec_id", "embedding")

    // batch 1 commits normally
    val m = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    val arrivals1 = mkCorpus(35, seed = 29).where($"vec_id" >= 30L)
    m.onBatch(Some(arrivals1), None)
    val afterB1 = rows(m.liveCodes)

    // batch 2 CRASHES mid-write: the delta rows land, the tombstone
    // row lands, but the commit record never does — simulate by
    // writing the logs in onBatch's format directly
    val arrivals2 = mkCorpus(40, seed = 31).where($"vec_id" >= 35L)
    enc(arrivals2).withColumn("seq", lit(2))
      .write.mode("append").parquet(s"$path/codes_delta")
    Seq((3L, 2)).toDF("vec_id", "seq")
      .write.mode("append").parquet(s"$path/tombstones")
    // the partial batch is INVISIBLE: no half-applied upsert, no
    // delete without its arrival
    assert(rows(m.liveCodes) === afterB1,
      "uncommitted partial batch leaked into the serving view")

    // a reconstructed maintainer counts the orphan seq (so the retry
    // cannot collide with the partial rows) and still serves afterB1
    val m2 = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    assert(m2.batchesSeen === 2, s"seq: ${m2.batchesSeen}")
    assert(rows(m2.liveCodes) === afterB1)
    // the retried batch lands at seq 3 and becomes visible atomically
    m2.onBatch(Some(arrivals2), Some(Seq(3L).toDF("vec_id")))
    val expected = rows(idx.withDeletes(Seq(3L).toDF("vec_id"))
      .append(arrivals1).append(arrivals2).codes)
    assert(rows(m2.liveCodes) === expected, "retried batch wrong")
    // compaction folds only the committed truth (orphans dropped)
    m2.compactNow()
    assert(rows(Sq.load(spark, path).codes) === expected)
  }

  test("a 0-byte or truncated newest manifest is skipped; the next commit deletes it") {
    val corpus = mkCorpus(30)
    val idx = Sq.train(corpus, "vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_garbled").toString + "/idx"
    idx.save(spark, path)
    def enc(df: DataFrame) = idx.model.transformDf(df, "vec_id", "embedding")
    val m = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    val arrivals = mkCorpus(40, seed = 29).where($"vec_id" >= 30L)
    m.onBatch(Some(arrivals), Some(Seq(3L).toDF("vec_id")))
    val expected = rows(m.liveCodes)

    // a publish that crashed: the newest manifest is 0 bytes (an FS
    // that creates the file before the content syncs) ...
    val empty = s"$path/_lsm/${LsmTestKit.nextNumber(path)}"
    LsmTestKit.write(empty, "")
    val m2 = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    assert(rows(m2.liveCodes) === expected, "0-byte manifest view wrong")
    assert(m2.batchesSeen === 1, s"seq: ${m2.batchesSeen}")
    // ... or truncated before its closing line (it names a generation
    // that does not exist)
    val good = LsmTestKit.manifest(spark, path)
    val truncated = s"$path/_lsm/${LsmTestKit.nextNumber(path)}"
    LsmTestKit.write(truncated, good.copy(bases = good.bases +
      ("codes" -> "gen-99/codes")).body.stripSuffix("end\n"))
    val m3 = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    assert(rows(m3.liveCodes) === expected, "truncated manifest view wrong")
    assert(rows(Sq.load(spark, path).codes) === rows(idx.codes))
    // the next commit publishes above both and deletes them
    val up = mkCorpus(42, seed = 31).where($"vec_id" >= 40L)
    m3.onBatch(Some(up), None)
    assert(!LsmTestKit.exists(empty) && !LsmTestKit.exists(truncated),
      "unreadable manifests kept")
    assert(rows(m3.liveCodes) === rows(idx
      .withDeletes(Seq(3L).toDF("vec_id")).append(arrivals).append(up).codes))
  }

  test("legacy store (no commit log) backfills at construction; rows stay visible") {
    val corpus = mkCorpus(30)
    val idx = Sq.train(corpus, "vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_legacy").toString + "/idx"
    idx.save(spark, path)
    def enc(df: DataFrame) = idx.model.transformDf(df, "vec_id", "embedding")
    // a store written BEFORE commit records: root logs in onBatch's
    // format, committed by the old single-write contract, no commit log
    // and no manifest
    val arrivals = mkCorpus(40, seed = 29).where($"vec_id" >= 30L)
    enc(arrivals).withColumn("seq", lit(1))
      .write.mode("append").parquet(s"$path/codes_delta")
    Seq((3L, 1)).toDF("vec_id", "seq")
      .write.mode("append").parquet(s"$path/tombstones")
    val expected = rows(idx.withDeletes(Seq(3L).toDF("vec_id"))
      .append(arrivals).codes)
    // construction converts it: every log seq is taken as committed
    val m2 = new CodesMaintainer(spark, path, enc, compactEvery = 100)
    assert(rows(m2.liveCodes) === expected,
      "legacy rows vanished when the commit filter activated")
    assert(m2.batchesSeen === 1)
    assert(LsmTestKit.manifest(spark, path).commits === Seq(1))
    // and a new committed batch coexists with the converted ones
    val up = mkCorpus(42, seed = 31).where($"vec_id" >= 40L)
    m2.onBatch(Some(up), None)
    assert(rows(m2.liveCodes) === rows(idx
      .withDeletes(Seq(3L).toDF("vec_id")).append(arrivals).append(up).codes))
  }

  test("LSH store: a compaction that crashed before publishing is never served; the next commit deletes it") {
    val corpus = mkCorpus(30)
    val idx = graft.ann.lsh.Lsh.train(corpus, "vec_id", "embedding",
      graft.ann.lsh.LshConfig(nTrees = 2, kMinVecs = 16, seed = 3L))
    val path = java.nio.file.Files
      .createTempDirectory("lsh_lsm_heal").toString + "/idx"
    idx.save(spark, path)
    val m = new graft.ann.lsh.LshMaintainer(spark, path, compactEvery = 100)
    val arrivals = mkCorpus(40, seed = 29).where($"vec_id" >= 30L)
    m.onBatch(Some(arrivals), Some(Seq(4L).toDF("vec_id")))
    val expected = m.index.vectors.collect()
      .map(r => r.getAs[Long]("vec_id")).sorted.toSeq

    // the folded store written to its generation, but only the model
    // and not the table before the crash, and no manifest
    val gen = s"$path/gen-${LsmTestKit.nextNumber(path)}"
    val live = m.index
    new graft.ann.lsh.LshIndex(live.model, live.hashed.localCheckpoint())
      .save(spark, gen)
    LsmTestKit.rm(s"$gen/hashed")
    val m2 = new graft.ann.lsh.LshMaintainer(spark, path, compactEvery = 100)
    val healed = m2.index
    assert(healed.vectors.collect().map(_.getAs[Long]("vec_id")).sorted.toSeq
      === expected, "healed LSH vectors wrong")
    assert(healed.vectors.groupBy("vec_id").count()
      .where($"count" > 1).count() === 0, "duplicates after heal")
    assert(m2.batchesSeen === 1)
    assert(graft.ann.lsh.Lsh.load(spark, path).vectors.count() === 30,
      "the partial generation was served at rest")
    m2.onBatch(None, None)
    assert(!LsmTestKit.exists(gen), "partial generation kept")
    m2.compactNow()
    assert(graft.ann.lsh.Lsh.load(spark, path).vectors.collect()
      .map(_.getAs[Long]("vec_id")).sorted.toSeq === expected)
  }

  test("OPQ codes LSM: frozen rotation+codebooks encode deltas; compaction reloads") {
    val corpus = mkCorpus(40)
    val idx = graft.ann.pq.Opq.train(corpus, "vec_id", "embedding",
      graft.ann.pq.PqConfig(numSubvectors = 4, codesPerSubvector = 8,
        iters = 3, seed = 3L), opqIters = 3)
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_opq").toString + "/idx"
    idx.save(spark, path)

    def enc(df: DataFrame) = idx.model.transform(df, "vec_id", "embedding")
    val m = new CodesMaintainer(spark, path, enc, compactEvery = 2)

    val arrivals = mkCorpus(50, seed = 29).where($"vec_id" >= 40L)
    val dead = Seq(2L, 6L)
    m.onBatch(Some(arrivals), Some(dead.toDF("vec_id")))
    val chain = idx.withDeletes(dead.toDF("vec_id")).append(arrivals)
    assert(rows(m.liveCodes) === rows(chain.codes),
      "OPQ LSM view != in-memory lifecycle chain")

    // batch 2 triggers compaction; Opq.load reopens base + rotation
    m.onBatch(None, None)
    val reloaded = graft.ann.pq.Opq.load(spark, path)
    assert(rows(reloaded.codes) === rows(chain.codes),
      "compacted OPQ base != lifecycle chain")
    assert(reloaded.model.rotation.r.map(_.toSeq).toSeq ===
      idx.model.rotation.r.map(_.toSeq).toSeq,
      "rotation lost through the LSM cycle")
  }

  test("IVF-SQ codes LSM keeps the partitionBy(cell) layout through delta and compaction") {
    val corpus = mkCorpus(40)
    val cfg = IvfSqConfig(nCells = 4, nProbe = 4, iters = 3, seed = 3L)
    val idx = IvfSq.train(corpus, "vec_id", "embedding", cfg)
    val path = java.nio.file.Files
      .createTempDirectory("codes_lsm_ivfsq").toString + "/idx"
    idx.save(spark, path)

    def enc(df: DataFrame) =
      IvfSq.encode(df, "vec_id", "embedding", cfg, idx.ivf, idx.sq)
    val m = new CodesMaintainer(spark, path, enc, compactEvery = 2,
      partitionCols = Seq("cell"))

    val arrivals = mkCorpus(50, seed = 29).where($"vec_id" >= 40L)
    val dead = Seq(1L, 7L)
    m.onBatch(Some(arrivals), Some(dead.toDF("vec_id")))

    // the delta log is cell-partitioned (probe pruning prunes delta
    // files exactly like base files)
    val deltaDirs = new java.io.File(s"$path/codes_delta").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(deltaDirs.exists(_.startsWith("cell=")),
      s"delta not partitioned by cell: ${deltaDirs.toSeq}")

    val chain = idx.withDeletes(dead.toDF("vec_id")).append(arrivals)
    assert(rows(m.liveCodes) === rows(chain.codes))

    // batch 2 triggers compaction; layout and rows preserved
    m.onBatch(None, None)
    val baseDirs = new java.io.File(LsmTestKit.manifest(spark, path)
        .base("codes")).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(baseDirs.exists(_.startsWith("cell=")),
      s"compacted base lost cell partitioning: ${baseDirs.toSeq}")
    val reloaded = IvfSq.load(spark, path)
    assert(rows(reloaded.codes) === rows(chain.codes))
  }
}
