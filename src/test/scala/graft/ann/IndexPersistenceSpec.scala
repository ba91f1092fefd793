package graft.ann

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ivf.{Ivf, IvfConfig}
import graft.ann.lsh.{Lsh, LshConfig}

/** Index save/load round-trips: a reopened index must return exactly the
  * same search results; the IVF cells table is laid out partitioned by
  * its probe key, the LSH index is one table. */
class IndexPersistenceSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")

  private def queries = emb.orderBy("vec_id").limit(20)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  test("LSH index round-trip: identical search results, one-table layout") {
    val dir = Files.createTempDirectory("lsh_idx").toString
    val idx = Lsh.train(emb, "vec_id", "embedding",
      LshConfig(nTrees = 8, kMinVecs = 30, seed = 5L))
    idx.save(spark, dir)
    val reopened = Lsh.load(spark, dir)

    val a = idx.searchAll(queries, 10, 1.3, ExactNN.L2)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    val b = reopened.searchAll(queries, 10, 1.3, ExactNN.L2)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)

    // one table at rest, beside the model: hashes(t) is tree t's bucket
    assert(new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq ===
      Seq("hashed", "model"))
    val stored = spark.read.parquet(s"$dir/hashed")
    assert(stored.columns.toSeq === Seq("vec_id", "embedding", "hashes"))
    assert(stored.where(size($"hashes") =!= 8).isEmpty)
    assert(reopened.buckets.count() === emb.count() * 8)
  }

  test("IVF index round-trip: identical search results, partitioned layout") {
    val dir = Files.createTempDirectory("ivf_idx").toString
    val idx = Ivf.train(emb, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 3, seed = 5L))
    idx.save(spark, dir)
    val reopened = Ivf.load(spark, dir)

    assert(reopened.model.config === idx.model.config)
    assert(reopened.model.centroids.map(_.toSeq).toSeq ===
      idx.model.centroids.map(_.toSeq).toSeq)
    val a = idx.searchAll(queries, 10, ExactNN.L2)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    val b = reopened.searchAll(queries, 10, ExactNN.L2)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)

    val partDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(partDirs.length === 8)
  }

  test("PQ index round-trip: identical codebooks, codes, and search results") {
    val dir = Files.createTempDirectory("pq_idx").toString
    val idx = graft.ann.pq.Pq.train(emb, "vec_id", "embedding",
      graft.ann.pq.PqConfig(numSubvectors = 16, codesPerSubvector = 16, seed = 5L))
    idx.save(spark, dir)
    val reopened = graft.ann.pq.Pq.load(spark, dir)

    assert(reopened.model.dims === idx.model.dims)
    assert(reopened.model.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      idx.model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val a = idx.searchAll(queries, 10)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    val b = reopened.searchAll(queries, 10)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  /** Run `body` with broadcast joins off so plan assertions see the
    * shuffle shape a 100 TB corpus side would face (a small test table
    * would otherwise just broadcast). */
  private def withoutBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def exchangeCount(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  /** Drop tables + any orphaned warehouse dirs a previous test JVM left
    * behind (the in-memory catalog forgets tables across JVMs but their
    * managed locations survive on disk). */
  private def dropTables(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"target/spark-warehouse/$t")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
  }

  test("IVF bucketed tables: cell-keyed aggregation plans with zero Exchange") {
    val dir = Files.createTempDirectory("ivf_bidx").toString
    dropTables("ivf_bspec_vectors", "ivf_bspec_cells")
    val idx = Ivf.train(emb, "vec_id", "embedding",
      IvfConfig(nCells = 8, nProbe = 3, seed = 5L))
    idx.saveBucketed(spark, "ivf_bspec", s"$dir/model", nBuckets = 4)
    val reopened = Ivf.loadBucketed(spark, "ivf_bspec", s"$dir/model")

    val a = idx.searchAll(queries, 10, ExactNN.L2)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    val b = reopened.searchAll(queries, 10, ExactNN.L2)
      .orderBy("query_id", "dist", "vec_id").collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)

    withoutBroadcast {
      // groupBy(cell) over the bucketed cells table: partial agg feeds
      // final agg with no shuffle between them (cellStats itself adds a
      // rangepartitioning Exchange for its orderBy — assert the
      // aggregation shape, which is what a 100 TB job pays for)
      val agg = reopened.cells.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      assert(exchangeCount(agg) === 0,
        s"bucketed cell agg should be shuffle-free:\n${agg.queryExecution.executedPlan}")
      val aggUnbucketed = idx.cells.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      assert(exchangeCount(aggUnbucketed) > 0)
    }
  }
}
