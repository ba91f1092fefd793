package graft.ann.lsh

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** The native hash/probe expressions must agree exactly with the
  * driver-side Scala-array path, for float parquet input and double
  * literal input, in both metrics (angular exercises the normalization
  * scratch copy). */
class LshExpressionsSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")

  private def withSQLConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def check(angular: Boolean): Unit = {
    val model = Lsh.fit(emb, "embedding",
      LshConfig(nTrees = 7, kMinVecs = 30, angular = angular, seed = 13L))
    val viaExpr = emb.limit(100)
      .select($"vec_id", LshExpressions.lshHashes(model, $"embedding").as("h"),
        LshExpressions.lshProbes(model, $"embedding").as("p"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getSeq[Long](2).toSeq))
    val vecs = emb.limit(100)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    viaExpr.foreach { case (id, hs, ps) =>
      assert(hs === model.hashes(vecs(id)).toSeq, s"hashes differ for $id")
      assert(ps === model.probes(vecs(id)).toSeq, s"probes differ for $id")
    }
  }

  test("expression path == Scala path (L2, float parquet input)") {
    check(angular = false)
  }

  test("expression path == Scala path (angular: normalization copy)") {
    check(angular = true)
  }

  test("mismatched vector lengths yield NULL, never an out-of-bounds read") {
    // through parquet: a projection over local rows would be folded by
    // the optimizer on the interpreted path and never reach codegen
    val dir = java.nio.file.Files.createTempDirectory("lsh_len").toString
    Seq(
        (1L, Seq(0.5f, -0.25f)),                // short
        (2L, Seq.fill(65)(0.1f)),               // long
        (3L, Seq.fill(64)(0.1f)))               // the fitted length
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    def both(m: LshModel) = {
      val cols = Seq($"vec_id", LshExpressions.lshHashes(m, $"embedding"),
        LshExpressions.lshProbes(m, $"embedding"))
      val codegen = df.select(cols: _*).orderBy("vec_id").collect()
      val interpreted = withSQLConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        df.select(cols: _*).orderBy("vec_id").collect()
      }
      Seq(codegen, interpreted)
    }
    val fitted = Lsh.fit(emb, "embedding", LshConfig(nTrees = 4, kMinVecs = 20, seed = 2L))
    val full = Array.fill(64)(0.1f.toDouble)
    for (angular <- Seq(false, true)) {
      val m = new LshModel(fitted.config.copy(angular = angular), fitted.trees)
      for (rows <- both(m)) {
        assert(rows(0).isNullAt(1) && rows(0).isNullAt(2), s"short: ${rows(0)}")
        assert(rows(1).isNullAt(1) && rows(1).isNullAt(2), s"long: ${rows(1)}")
        assert(rows(2).getSeq[Long](1).toSeq === m.hashes(full).toSeq)
        assert(rows(2).getSeq[Long](2).toSeq === m.probes(full).toSeq)
      }
    }
    // a forest of leaves has no planes: every length hashes to bucket 0
    for (rows <- both(new LshModel(LshConfig(nTrees = 2), Array(Forest.Leaf, Forest.Leaf))))
      assert(rows.map(_.getSeq[Long](1).toSeq).toSeq === Seq.fill(3)(Seq(0L, 0L)))
  }

  test("double-typed input works without cast") {
    val model = Lsh.fit(emb, "embedding", LshConfig(nTrees = 4, kMinVecs = 20, seed = 2L))
    val df = Seq((1L, Seq(0.5, -0.25) ++ Seq.fill(62)(0.0))).toDF("vec_id", "embedding")
    val viaExpr = df.select(LshExpressions.lshHashes(model, $"embedding"))
      .head().getSeq[Long](0).toSeq
    val direct = model.hashes((Seq(0.5, -0.25) ++ Seq.fill(62)(0.0)).toArray).toSeq
    assert(viaExpr === direct)
  }
}
