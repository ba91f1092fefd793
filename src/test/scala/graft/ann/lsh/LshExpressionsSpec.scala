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

  test("probe match: malformed hashes or query give no candidate, never an out-of-bounds read") {
    val m = Lsh.fit(emb, "embedding", LshConfig(nTrees = 4, kMinVecs = 20, seed = 2L))
    val v = emb.orderBy("vec_id").select($"embedding".cast("array<double>"))
      .as[Seq[Double]].head().toArray
    val h = m.hashes(v).toSeq
    // the own-leaf hashes of v, as the LSH table stores them; every
    // other row matches v's probes only through what is malformed in it
    val dir = java.nio.file.Files.createTempDirectory("lsh_match").toString
    Seq[(Long, Seq[java.lang.Long])](
        (1L, null),                                       // NULL hashes
        (2L, Seq(null, null, null, null)),                // NULL elements
        (3L, Seq(Long.box(h(0) ^ 0x5a5a5aL))),            // short
        (4L, Seq.empty),                                  // empty
        (5L, h.map(Long.box)))                            // well formed
      .toDF("vec_id", "hashes").write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir)
    // query 10 probes v's buckets; query 11 has the wrong length, so
    // lshProbes gives NULL and it probes nothing
    val batch = Seq((10L, v.toSeq), (11L, v.take(3).toSeq)).toDF("query_id", "qv")
    assert(batch.select(LshExpressions.lshProbes(m, $"qv").isNull)
      .as[Boolean].collect().toSeq === Seq(false, true))
    val pm = LshProbeMap.of(m, batch)
    val cols = Seq($"vec_id",
      LshExpressions.lshProbeMatch(pm, $"hashes").getField("query_id").as("q"))
    def matched(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toSeq)).toSeq
    val codegen = matched(rows)
    val interpreted = withSQLConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { matched(rows) }
    for (got <- Seq(codegen, interpreted))
      assert(got === Seq(1L -> None, 2L -> Some(Nil), 3L -> Some(Nil),
        4L -> Some(Nil), 5L -> Some(Seq(10L))), got)
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
