package graft.ann

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** [[GraphMaintainer]]: the scheduled-refine enforcement of the
  * [[GraphSearch.insert]] degree-growth caveat. A magnet geometry makes
  * an existing hub absorb insert links batch after batch; the
  * maintainer's scheduled refine must re-bound it. */
class GraphMaintenanceSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  test("legacy catalog-table tombstones fold into the log at construction (no silent resurrection)") {
    // a pre-log-format store kept pending deletes in `${name}_tombstones`;
    // the log-based view must inherit them on upgrade, and a later
    // re-insert arrival (seq >= 1 >= the fold's seq 0) must revive the id
    spark.sql("DROP TABLE IF EXISTS legacy_ts_spec_tombstones")
    Seq(3L, 9L).toDF("vec_id")
      .write.mode("overwrite").saveAsTable("legacy_ts_spec_tombstones")
    val path = java.nio.file.Files
      .createTempDirectory("legacy_ts_lsm").toString
    val m = new GraphMaintainer(spark, "legacy_ts_spec", path,
      "vec_id", "embedding", k = 4, beamWidth = 8, hops = 2,
      refineEvery = 100)
    assert(m.tombstones.as[Long].collect().sorted.toSeq === Seq(3L, 9L),
      "legacy tombstones resurrected on upgrade")
    assert(!spark.catalog.tableExists("legacy_ts_spec_tombstones"),
      "legacy table kept — the fold would re-append on every open")
    // a reconstructed maintainer sees the folded log, not the table
    val m2 = new GraphMaintainer(spark, "legacy_ts_spec", path,
      "vec_id", "embedding", k = 4, beamWidth = 8, hops = 2,
      refineEvery = 100)
    assert(m2.tombstones.as[Long].collect().sorted.toSeq === Seq(3L, 9L))
    // revival: a committed arrival of id 3 at seq 1 kills the seq-0
    // tombstone (write the log in onBatch's format and publish its
    // commit — no graph needed)
    Seq((3L, 1)).toDF("vec_id", "seq")
      .write.mode("append").parquet(s"$path/arrivals")
    graft.LsmTestKit.publish(spark, path)(_.committed(1))
    assert(m2.tombstones.as[Long].collect().toSeq === Seq(9L),
      "re-inserted id stayed tombstoned (old delete beat new insert)")
  }

  test("scheduled refine re-bounds the hub in a multi-batch streaming insert run") {
    val rng = new scala.util.Random(13)
    val magnet = Array.fill(8)(rng.nextGaussian())
    // 60 existing points, one of them (id 7) the magnet; 24 arriving
    // points form a tight cluster OFFSET from the magnet: during the
    // first insert batch their nearest EXISTING node is the magnet
    // (links pile onto it — the accumulation under test), but their
    // true nearest neighbors are each other, so a correct refine
    // re-routes them and the hub's degree falls back.
    val existing = (0L until 60L).map { i =>
      if (i == 7L) (i, magnet.toSeq)
      else (i, Seq.fill(8)(rng.nextGaussian()).map(_ * 3.0))
    }
    val arriving = (60L until 84L).map { i =>
      (i, magnet.indices.map(d =>
        magnet(d) + (if (d == 0) 0.5 else 0.0) + rng.nextGaussian() * 0.01).toSeq)
    }
    val all = (existing ++ arriving).toDF("vec_id", "embedding")
    val existDf = existing.toDF("vec_id", "embedding")

    spark.sql("DROP TABLE IF EXISTS maint_spec_edges")
    val loc = new java.io.File("target/spark-warehouse/maint_spec_edges")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    val base = KnnGraph.exact(existDf, "vec_id", "embedding", 4, ExactNN.Cosine)
      .select($"src", $"dst")
      .unionByName(GraphSearch.randomBackbone(existDf, "vec_id"))
      .dropDuplicates("src", "dst")
    GraphSearch.saveBucketed(base, "maint_spec")

    val m = new GraphMaintainer(spark, "maint_spec",
      java.nio.file.Files.createTempDirectory("maint_spec_lsm").toString,
      "vec_id", "embedding",
      k = 4, beamWidth = 8, hops = 3, refineEvery = 4,
      maxReverseDegree = 3, degreeWatermark = 15)

    // streaming loop: 4 micro-batches of 6 through foreachBatch — the
    // deployment wiring (maintainer state lives on the driver, exactly
    // where foreachBatch runs)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batchDf: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batchDf.isEmpty) {
          val entries = batchDf.select($"vec_id".as("query_id"))
            .crossJoin((0L until 8L).toDF("node"))
          m.onBatch(all, batchDf, entries)
        }
        ()
      }
      .start()
    def hubDegree: Long = GraphSearch.loadBucketed(spark, "maint_spec")
      .where($"src" === 7L).count()

    val splits = arriving.grouped(6).toSeq
    var hubBeforeRefine = 0L
    try {
      splits.zipWithIndex.foreach { case (split, i) =>
        if (i == splits.size - 1) {
          hubBeforeRefine = hubDegree
          assert(m.refineDue, "4th batch must be the scheduled refine")
        } else assert(!m.refineDue)
        mem.addData(split: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    assert(m.batchesSeen === 4)
    // accumulation happened: before the scheduled refine the magnet had
    // outgrown the k=4 out-degree design point by a wide margin (its
    // base symmetrized degree + one batch of absorbed insert links)
    assert(hubBeforeRefine > 10,
      s"magnet accumulation did not materialize (hub degree $hubBeforeRefine)")
    // the scheduled refine re-bounded the hub: the accumulated insert
    // links re-competed against true neighbors and lost (arriving
    // points re-route to their own cluster), so only the hub's own
    // top-k, its legitimate in-links, and backbone touches remain
    val hubAfter = hubDegree
    assert(hubAfter < hubBeforeRefine,
      s"refine did not shrink the hub degree ($hubBeforeRefine -> $hubAfter)")

    // the refine invariant itself: the directed refined graph holds at
    // most k out-edges per node, with exact rounded distances
    val refined = m.refineNow(all)
    val maxOut = refined.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).as[Long].head()
    assert(maxOut <= 4, s"refined out-degree $maxOut exceeds k")

    // and the maintained graph still SERVES: arriving nodes findable
    val stored = GraphSearch.loadBucketed(spark, "maint_spec")
    val q2 = arriving.take(4).toDF("query_id", "qv")
    val served = GraphSearch.beamFrom(stored, all, "vec_id", "embedding",
        q2, q2.select($"query_id").crossJoin((0L until 16L).toDF("node")),
        1, 16, 4, symmetrize = false)
      .as[(Long, Long, Double)].collect()
    served.foreach { case (qid, vid, dist) =>
      assert(vid === qid && dist === 0.0, s"node $qid not served: ($vid, $dist)")
    }
  }
}
