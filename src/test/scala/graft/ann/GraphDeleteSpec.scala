package graft.ann

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** Graph-index deletes, FreshDiskANN-style (arXiv:2105.09613):
  *
  *   - SERVING under pending tombstones: walks route THROUGH deleted
  *     nodes (they keep anchoring paths until consolidation) but never
  *     serve them — `beamFrom(excluded = …)` filters the final cut;
  *   - INSERT under pending tombstones never links arrivals TO deleted
  *     nodes;
  *   - CONSOLIDATION (the scheduled refine): deleted nodes' in/out
  *     neighbors are bridged (a→d, d→b ⇒ a→b) before the rescore, the
  *     deleted rows vanish from the stored graph entirely, and the
  *     tombstone log is cleared.
  *
  * The bridge rule is load-bearing: a corridor graph A—d—B loses ALL
  * connectivity between A and B if d's edges are simply dropped — the
  * spec's geometry makes the bridge the only path and asserts post-
  * consolidation reachability.
  */
class GraphDeleteSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  test("tombstoned serving, insert link-avoidance, and consolidation bridges") {
    val rng = new scala.util.Random(17)
    // two tight clusters A (ids 0-19) and B (ids 20-39) far apart, plus
    // one midpoint corridor node d=40 whose k-NN edges are the ONLY
    // non-backbone path between them
    def pt(center: Double) =
      Seq.tabulate(8)(i => center + (if (i == 0) 0.0 else rng.nextGaussian() * 0.05))
    val a = (0L until 20L).map(i => (i, pt(0.0)))
    val b = (20L until 40L).map(i => (i, pt(10.0)))
    val corridor = Seq((40L, Seq.tabulate(8)(i => 5.0 + 0.0 * i)))
    val all = (a ++ b ++ corridor).toDF("vec_id", "embedding")

    spark.sql("DROP TABLE IF EXISTS gdel_spec_edges")
    spark.sql("DROP TABLE IF EXISTS gdel_spec_tombstones")
    Seq("gdel_spec_edges", "gdel_spec_tombstones").foreach { t =>
      val loc = new java.io.File(s"target/spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    // no backbone: connectivity must come from the bridge rule alone
    val base = KnnGraph.exact(all, "vec_id", "embedding", 4, ExactNN.L2)
      .select($"src", $"dst")
    GraphSearch.saveBucketed(base, "gdel_spec")

    val lsmPath = java.nio.file.Files
      .createTempDirectory("gdel_spec_lsm").toString
    val m = new GraphMaintainer(spark, "gdel_spec", lsmPath,
      "vec_id", "embedding",
      k = 4, beamWidth = 12, hops = 6, refineEvery = 2,
      maxReverseDegree = 3, backbone = false, metric = ExactNN.L2)

    // batch 1: delete the corridor node + one A node; insert one new
    // vector landing exactly at the corridor location
    val arriving = Seq((41L, corridor.head._2)).toDF("vec_id", "embedding")
    val all2 = all.unionByName(arriving)
    val entries = arriving.select($"vec_id".as("query_id"))
      .crossJoin((0L until 8L).toDF("node"))
    val delta = m.onBatch(all2, arriving, entries,
      deletes = Some(Seq(40L, 3L).toDF("vec_id")))

    // pending tombstones visible; the insert linked to NO deleted node
    assert(m.tombstones.as[Long].collect().toSet === Set(40L, 3L))
    val deltaIds = delta.select($"src", $"dst").as[(Long, Long)].collect()
      .flatMap(e => Seq(e._1, e._2)).toSet
    assert(!deltaIds.contains(40L) && !deltaIds.contains(3L),
      "insert linked an arrival to a tombstoned node")

    // serving under pending tombstones: query at the deleted corridor's
    // exact location must NOT return 40, but still reach its true
    // remaining neighbor (41, dist 0) — routed through the tombstone
    val stored = GraphSearch.loadBucketed(spark, "gdel_spec")
    val q1 = Seq((40L, corridor.head._2)).toDF("query_id", "qv")
    val served = GraphSearch.beamFrom(stored, all2, "vec_id", "embedding",
        q1, q1.select($"query_id").crossJoin((0L until 8L).toDF("node")),
        2, 12, 6, metric = ExactNN.L2, symmetrize = false,
        excluded = Some(m.tombstones))
      .as[(Long, Long, Double)].collect()
    assert(!served.exists(_._2 == 40L), "served a tombstoned node")
    assert(!served.exists(_._2 == 3L), "served a tombstoned node")
    assert(served.exists(r => r._2 == 41L && r._3 == 0.0),
      s"walk failed to route through the tombstone to its live twin: ${served.toSeq}")

    // batch 2 (empty arrivals) triggers the scheduled consolidation
    assert(m.refineDue)
    m.onBatch(all2, arriving.limit(0),
      entries.limit(0))
    assert(m.batchesSeen === 2)

    // consolidation: deleted ids gone from the store, log cleared
    val after = GraphSearch.loadBucketed(spark, "gdel_spec")
    assert(after.where($"src".isin(40L, 3L) || $"dst".isin(40L, 3L)).count() === 0,
      "tombstoned ids survive consolidation")
    assert(m.tombstones.isEmpty, "tombstone log not cleared")

    // the bridge rule kept A and B mutually reachable through the
    // corridor's replacement edges: a query from cluster A with entry
    // nodes ONLY in cluster A must still reach its true neighbor set,
    // and a B-targeted query entered from A must cross the corridor
    val qB = Seq((999L, b.head._2)).toDF("query_id", "qv")
    val crossed = GraphSearch.beamFrom(after, all2, "vec_id", "embedding",
        qB, qB.select($"query_id").crossJoin((0L until 3L).toDF("node")),
        3, 12, 8, metric = ExactNN.L2, symmetrize = false)
      .as[(Long, Long, Double)].collect()
    assert(crossed.exists(_._2 >= 20L),
      s"A→B reachability lost after deleting the corridor: ${crossed.toSeq}")
  }

  test("re-inserting a tombstoned id revives it, across restarts and refine") {
    val rng = new scala.util.Random(29)
    def pt(center: Double) =
      Seq.tabulate(8)(i => center + (if (i == 0) 0.0 else rng.nextGaussian() * 0.05))
    val baseRows = (0L until 20L).map(i => (i, pt(i / 10 * 10.0)))
    val all = baseRows.toDF("vec_id", "embedding")

    spark.sql("DROP TABLE IF EXISTS greadd_spec_edges")
    val loc = new java.io.File("target/spark-warehouse/greadd_spec_edges")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    GraphSearch.saveBucketed(
      KnnGraph.exact(all, "vec_id", "embedding", 4, ExactNN.L2)
        .select($"src", $"dst"), "greadd_spec")
    val lsmPath = java.nio.file.Files
      .createTempDirectory("greadd_lsm").toString
    def mk() = new GraphMaintainer(spark, "greadd_spec", lsmPath,
      "vec_id", "embedding", k = 4, beamWidth = 12, hops = 4,
      refineEvery = 10, maxReverseDegree = 3, backbone = false,
      metric = ExactNN.L2)
    def entriesFor(arr: org.apache.spark.sql.DataFrame) =
      arr.select($"vec_id".as("query_id"))
        .crossJoin((0L until 4L).toDF("node"))

    // batch 1: delete id 5 (and same-batch delete+insert of 9 = upsert)
    val m1 = mk()
    val up9 = Seq((9L, pt(0.1))).toDF("vec_id", "embedding")
    m1.onBatch(all, up9, entriesFor(up9),
      deletes = Some(Seq(5L, 9L).toDF("vec_id")))
    // the upserted id is NOT tombstoned (same-batch arrival wins); the
    // plain delete is
    assert(m1.tombstones.as[Long].collect().toSet === Set(5L))

    // RESTART: a reconstructed maintainer recovers seq AND the ordering
    val m2 = mk()
    assert(m2.batchesSeen === 1)
    assert(m2.tombstones.as[Long].collect().toSet === Set(5L))

    // batch 2 (post-restart): re-insert id 5 with a fresh vector — the
    // newer arrival must beat the older tombstone (the LSM inversion a
    // bare id-set log gets wrong)
    val re5 = Seq((5L, pt(0.2))).toDF("vec_id", "embedding")
    val all2 = all.where($"vec_id" =!= 5L).unionByName(re5)
    m2.onBatch(all2, re5, entriesFor(re5))
    assert(m2.tombstones.isEmpty,
      "old tombstone still excludes the re-inserted id")

    // serving finds the revived id at its new location
    val q = Seq((100L, pt(0.2))).toDF("query_id", "qv")
    val served = GraphSearch.beamFrom(
        GraphSearch.loadBucketed(spark, "greadd_spec"), all2,
        "vec_id", "embedding", q,
        q.select($"query_id").crossJoin((0L until 4L).toDF("node")),
        4, 12, 4, metric = ExactNN.L2, symmetrize = false,
        excluded = Some(m2.tombstones))
      .as[(Long, Long, Double)].collect()
    assert(served.exists(_._2 == 5L),
      s"revived id not served: ${served.toSeq}")

    // refine keeps the revived id in the store and clears the logs
    m2.refineNow(all2)
    val after = GraphSearch.loadBucketed(spark, "greadd_spec")
    assert(after.where($"src" === 5L || $"dst" === 5L).count() > 0,
      "refine dropped the re-inserted id")
    assert(m2.tombstones.isEmpty)
    // a post-refine restart agrees
    val m3 = mk()
    assert(m3.batchesSeen === 2)
    assert(m3.tombstones.isEmpty)
  }

  test("a refine that crashed mid-swap is finished at construction") {
    val rng = new scala.util.Random(31)
    def pt(center: Double) =
      Seq.tabulate(8)(i => center + (if (i == 0) 0.0 else rng.nextGaussian() * 0.05))
    val all = (0L until 20L).map(i => (i, pt(0.0))).toDF("vec_id", "embedding")
    Seq("gswap_spec_edges", "gswap_spec_swap_edges").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"target/spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    GraphSearch.saveBucketed(
      KnnGraph.exact(all, "vec_id", "embedding", 4, ExactNN.L2)
        .select($"src", $"dst"), "gswap_spec")
    val lsmPath = java.nio.file.Files
      .createTempDirectory("gswap_lsm").toString
    val m = new GraphMaintainer(spark, "gswap_spec", lsmPath,
      "vec_id", "embedding", k = 4, beamWidth = 12, hops = 4,
      refineEvery = 10, maxReverseDegree = 3, backbone = false,
      metric = ExactNN.L2)
    val arr = Seq((20L, pt(0.3))).toDF("vec_id", "embedding")
    m.onBatch(all.unionByName(arr), arr,
      arr.select($"vec_id".as("query_id"))
        .crossJoin((0L until 4L).toDF("node")),
      deletes = Some(Seq(2L).toDF("vec_id")))
    assert(m.tombstones.as[Long].collect().toSet === Set(2L))

    // simulate the mid-commit crash: the refined graph (a recognizable
    // 2-edge stand-in) sits in the swap table, the marker is published,
    // but the drop-rename/fence/log-drop never ran
    import spark.implicits._
    GraphSearch.saveBucketed(
      Seq((0L, 1L), (1L, 3L)).toDF("src", "dst"), "gswap_spec_swap")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$lsmPath/_graph_swap"),
      "1".getBytes("UTF-8"))
    // a reconstructed maintainer FINISHES the commit
    val m2 = new GraphMaintainer(spark, "gswap_spec", lsmPath,
      "vec_id", "embedding", k = 4, beamWidth = 12, hops = 4,
      refineEvery = 10, maxReverseDegree = 3, backbone = false,
      metric = ExactNN.L2)
    val edges = GraphSearch.loadBucketed(spark, "gswap_spec")
      .as[(Long, Long)].collect().toSet
    assert(edges === Set((0L, 1L), (1L, 0L), (1L, 3L), (3L, 1L)),
      s"swap not finished: $edges")
    assert(!spark.catalog.tableExists("gswap_spec_swap_edges"))
    assert(!new java.io.File(s"$lsmPath/_graph_swap").exists())
    val folded = graft.LsmTestKit.manifest(spark, lsmPath)
    assert(folded.fence === 1 && folded.int("scope_fence") === 1 &&
      folded.bare && folded.logs != ".",
      s"the finished commit did not publish the fold: $folded")
    assert(m2.tombstones.isEmpty)
    assert(m2.batchesSeen === 1) // the fence carries the seq
    // the superseded logs go at the next commit
    val arr2 = Seq((21L, pt(0.3))).toDF("vec_id", "embedding")
    m2.onBatch(all.unionByName(arr).unionByName(arr2), arr2,
      arr2.select($"vec_id".as("query_id"))
        .crossJoin((0L until 4L).toDF("node")))
    assert(!new java.io.File(s"$lsmPath/tombstones").exists() &&
      !new java.io.File(s"$lsmPath/arrivals").exists(),
      "logs survived the commit after the finished one")
  }
}
