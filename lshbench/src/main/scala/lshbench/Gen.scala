package lshbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64

/** The benchmark's seeded inputs. Every vector is a pure function of
  * (seed, vec_id, version); the same function builds the corpus inside
  * Spark and recomputes vectors on the driver for the output check.
  *
  * Geometry (xxhash-keyed, as in the engine's scale probes): clusters of
  * [[ClusterSize]] points in [[Dims]]-d. A cluster centre has coordinates
  * uniform on [-4, 4) and each member adds noise uniform on [-0.2, 0.2)
  * per coordinate, so members sit ~1.3 apart and clusters ~26 apart.
  * Version 0 of id `i` lives in cluster `i / ClusterSize`; an upserted
  * version `v > 0` moves to a cluster drawn from (seed, id, v) among the
  * base corpus's clusters, so an upsert changes the vector's buckets.
  */
object Gen {

  val Dims = 64
  val ClusterSize = 10
  private val Steps = 2000L
  private val CenterScale = 250.0
  private val NoiseScale = 5000.0

  def clusters(corpusRows: Long): Long =
    (corpusRows + ClusterSize - 1) / ClusterSize

  private def h1(seed: Long, a: Long): Long = XXH64.hashLong(a, XXH64.hashLong(seed, 42L))

  /** The vector of (id, version) in a space of `nClusters` base clusters. */
  def vector(seed: Long, id: Long, version: Int, nClusters: Long): Array[Double] = {
    val ck =
      if (version == 0) Math.floorDiv(id, ClusterSize.toLong)
      else Math.floorMod(XXH64.hashInt(version, h1(seed, id)), nClusters)
    val hc = h1(seed, ck)
    val hn = XXH64.hashInt(version, h1(seed ^ 0x5DEECE66DL, id))
    val out = new Array[Double](Dims)
    var i = 0
    while (i < Dims) {
      val c = Math.floorMod(XXH64.hashInt(i, hc), Steps)
      val nz = Math.floorMod(XXH64.hashInt(i, hn), Steps)
      out(i) = (c - Steps / 2).toDouble / CenterScale +
        (nz - Steps / 2).toDouble / NoiseScale
      i += 1
    }
    out
  }

  /** (vec_id, embedding) for ids [0, n), version 0, cached and counted. */
  def corpus(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val nc = clusters(n)
    spark.range(n).map(id => (id.longValue, vector(seed, id, 0, nc)))
      .toDF("vec_id", "embedding")
  }

  /** (vec_id, embedding) for explicit (id, version) pairs. */
  def vectors(spark: SparkSession, seed: Long, idVersions: Seq[(Long, Int)],
              nClusters: Long): DataFrame = {
    import spark.implicits._
    idVersions.map { case (id, v) => (id, vector(seed, id, v, nClusters)) }
      .toDF("vec_id", "embedding")
  }

  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** `x` rounded to `places` decimals, as the engine rounds distances. */
  def round(x: Double, places: Int = 6): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble
}
