package graft.ann.lsh

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN

/** What a read through [[LshMaintainer.index]] costs, against the same
  * index at rest ([[Lsh.load]]): the live view resolves its snapshot
  * with one manifest read on the driver (no Spark job reads commit
  * state), reads every table with a known schema, and is the bare base
  * when no log seq is visible. */
class LsmViewPlanSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    .select($"vec_id", $"embedding")
  private lazy val queries = emb.where($"vec_id" < 8)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  /** A fresh store over ids < 480 (a small multi-leaf forest). */
  private def store(tag: String): String = {
    val path = java.nio.file.Files.createTempDirectory(tag).toString + "/idx"
    Lsh.train(emb.where($"vec_id" < 480), "vec_id", "embedding",
      LshConfig(nTrees = 4, kMinVecs = 40, seed = 7L)).save(spark, path)
    path
  }

  private def rows(i: LshIndex): Seq[(Long, Long, Double)] =
    i.searchAll(queries, 5, 1e9, ExactNN.L2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  /** Wait until a listener counter stops moving (the bus is async). */
  private def settled(n: AtomicInteger): Int = {
    var last = -1
    var stable = 0
    while (stable < 5) {
      Thread.sleep(40)
      val now = n.get()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    last
  }

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Any): Int = {
    val n = new AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    settled(n)
    spark.sparkContext.addSparkListener(l)
    try { f; settled(n) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** Scans of commit state (the manifests, or a commit log) in `plan`. */
  private def commitReads(plan: LogicalPlan): Int = plan.collectLeaves().count {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.exists(p =>
        Seq("_lsm", "batch_commits").exists(d =>
          p.toString.split("/").contains(d)))
      case _ => false
    }
    case _ => false
  }

  /** Commit-state scans of the queries executed while `f` runs. */
  private def commitReadsOf(f: => Any): Int = {
    val n = new AtomicInteger()
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit =
        n.addAndGet(commitReads(qe.analyzed))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    settled(n)
    spark.listenerManager.register(l)
    try { f; settled(n) }
    finally spark.listenerManager.unregister(l)
  }

  private def unionsAndJoins(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case p: Union => p.nodeName
      case p: Join => p.nodeName
    }

  private def batch1(m: LshMaintainer): Unit =
    m.onBatch(Some(emb.where($"vec_id".between(480, 489))),
      Some(Seq(3L, 11L).toDF("vec_id")))

  test("a view search costs the at-rest jobs when compacted, at most + 2 with logs") {
    val path = store("lsm_view_jobs")
    val atRest = Lsh.load(spark, path)
    rows(atRest)
    val restJobs = jobsOf(rows(atRest))
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    batch1(m)
    val batchJobs = jobsOf(rows(m.index))
    assert(batchJobs <= restJobs + 2,
      s"view after one batch: $batchJobs jobs, at rest $restJobs")
    m.compactNow()
    val compactedJobs = jobsOf(rows(m.index))
    assert(compactedJobs <= restJobs,
      s"view after compaction: $compactedJobs jobs, at rest $restJobs")
    // and it serves what the compacted store serves at rest
    assert(rows(m.index) === rows(Lsh.load(spark, path)))
  }

  test("with no visible log seq the view is the bare base: no Union, no Join") {
    val path = store("lsm_view_bare")
    val atRestRows = rows(Lsh.load(spark, path))
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    // a partial batch (rows in every log, no commit record) is invisible,
    // so it must not cost the view a union or a kill join either
    val arrivals = emb.where($"vec_id".between(480, 484))
    arrivals.withColumn("seq", lit(1))
      .write.mode("append").parquet(s"$path/vectors_delta")
    LshModel.load(spark, s"$path/model")
      .transform(arrivals, "vec_id", "embedding")
      .select($"tree_id", $"hash", $"vec_id", lit(1).as("seq"))
      .write.mode("append").parquet(s"$path/buckets_delta")
    Seq((3L, 1)).toDF("vec_id", "seq")
      .write.mode("append").parquet(s"$path/tombstones")
    def bare(state: String): Unit = {
      val i = m.index
      assert(unionsAndJoins(i.vectors).isEmpty && unionsAndJoins(i.buckets).isEmpty,
        s"$state: ${i.vectors.queryExecution.optimizedPlan}")
    }
    bare("uncommitted batch")
    assert(rows(m.index) === atRestRows)
    // a committed batch is visible: the view unions and kills
    val m2 = new LshMaintainer(spark, path, compactEvery = 100)
    batch1(m2)
    assert(unionsAndJoins(m2.index.vectors).nonEmpty)
    m2.compactNow()
    bare("compacted")
  }

  test("the view is built from one commit-log snapshot, read once per index call") {
    val path = store("lsm_view_snapshot")
    val m = new LshMaintainer(spark, path, compactEvery = 100)
    batch1(m)
    m.onBatch(None, Some(Seq(5L).toDF("vec_id")))
    val i = m.index
    assert(commitReads(i.vectors.queryExecution.analyzed) === 0 &&
      commitReads(i.buckets.queryExecution.analyzed) === 0,
      "the view joins commit state")
    // the manifest is read on the driver: no Spark job reads commit
    // state, for the view or for a search over it
    assert(commitReadsOf(m.index) === 0)
    assert(commitReadsOf(rows(m.index)) === 0)
    // the snapshot serves the committed batches: 3, 5 and 11 are dead,
    // the arrivals live
    def served(v: LshIndex) = v.vectors.select("vec_id").as[Long].collect().toSet
    val want = (0L until 490L).toSet -- Set(3L, 5L, 11L)
    assert(served(m.index) === want)
    // and it is one snapshot: a commit after the view is built does not
    // leak into it
    m.onBatch(None, Some(Seq(7L).toDF("vec_id")))
    assert(served(i) === want)
    assert(served(m.index) === want - 7L)
  }

  test("INT-typed batches serve the rows of the same batches given as LONG") {
    val p1 = store("lsm_view_long")
    val p2 = store("lsm_view_int")
    val ml = new LshMaintainer(spark, p1, compactEvery = 100)
    val mi = new LshMaintainer(spark, p2, compactEvery = 100)
    val adds = emb.where($"vec_id".between(480, 489))
    ml.onBatch(Some(adds), Some(Seq(3L, 11L, 482L).toDF("vec_id")))
    mi.onBatch(Some(adds.select($"vec_id".cast("int").as("vec_id"), $"embedding")),
      Some(Seq(3, 11, 482).toDF("vec_id")))
    def vecs(m: LshMaintainer) = m.index.vectors
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .sortBy(_._1).toSeq
    assert(rows(mi.index) === rows(ml.index))
    assert(vecs(mi) === vecs(ml))
    ml.compactNow()
    mi.compactNow()
    assert(rows(mi.index) === rows(ml.index))
    assert(vecs(mi) === vecs(ml))
  }
}
