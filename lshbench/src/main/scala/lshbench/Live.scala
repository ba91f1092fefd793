package lshbench

import scala.collection.mutable

/** Driver-side truth about the corpus the engine should be serving: which
  * ids are live and at which version. Starts as ids [0, n0) at version 0;
  * churn batches add ids, delete ids and bump versions (upserts). */
final class Live(val seed: Long, val n0: Long) {

  val nClusters: Long = Gen.clusters(n0)
  private val version = mutable.LongMap.empty[Int]
  private val dead = mutable.LongMap.empty[Unit]
  private var next: Long = n0

  def size: Long = next - dead.size

  def isLive(id: Long): Boolean = id >= 0 && id < next && !dead.contains(id)
  def versionOf(id: Long): Int = version.getOrElse(id, 0)

  /** The live vector of `id`, or None when `id` is not live. */
  def vec(id: Long): Option[Array[Double]] =
    if (isLive(id)) Some(Gen.vector(seed, id, versionOf(id), nClusters))
    else None

  /** A uniformly drawn live id. */
  def randomLive(rnd: java.util.SplittableRandom): Long = {
    var id = rnd.nextLong(next)
    while (dead.contains(id)) id = rnd.nextLong(next)
    id
  }

  /** Apply one churn batch: returns the (id, version) rows to write as
    * arrivals (fresh ids and upserts) and the ids to write as deletes
    * (deletes and upserts: an id in both is an upsert). */
  def churn(rnd: java.util.SplittableRandom, arrivals: Int, upserts: Int,
            deletes: Int): (Seq[(Long, Int)], Seq[Long]) = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < upserts + deletes) picked += randomLive(rnd)
    val (ups, dels) = picked.toSeq.splitAt(upserts)
    val fresh = (next until next + arrivals).map(id => (id, 0))
    next += arrivals
    val moved = ups.map { id => val v = versionOf(id) + 1; version(id) = v; (id, v) }
    dels.foreach(id => dead(id) = ())
    (fresh ++ moved, ups ++ dels)
  }

  /** All live (id, vector) pairs as flat arrays: ids and row-major vectors. */
  def snapshot(): (Array[Long], Array[Double]) = {
    val ids = (0L until next).filter(isLive).toArray
    val vecs = new Array[Double](ids.length * Gen.Dims)
    java.util.stream.IntStream.range(0, ids.length).parallel().forEach { i =>
      val v = Gen.vector(seed, ids(i), versionOf(ids(i)), nClusters)
      System.arraycopy(v, 0, vecs, i * Gen.Dims, Gen.Dims)
    }
    (ids, vecs)
  }
}

/** Exact top-k on the driver over a [[Live.snapshot]]: the ground truth
  * the output check and recall are measured against. */
final class BruteForce(ids: Array[Long], vecs: Array[Double]) {

  /** (vec_id, dist rounded as the engine rounds) ascending by
    * (dist, vec_id); `k + 1` rows so a caller can see whether the k-th
    * place is tied. */
  def topK(q: Array[Double], k: Int): Seq[(Long, Double)] = {
    val d = Gen.Dims
    val heap = mutable.PriorityQueue.empty[(Double, Long)] // max-heap
    var i = 0
    while (i < ids.length) {
      var s = 0.0; var j = 0; val o = i * d
      while (j < d) { val x = q(j) - vecs(o + j); s += x * x; j += 1 }
      val dist = math.sqrt(s)
      if (heap.size <= k) heap.enqueue((dist, ids(i)))
      else if (dist < heap.head._1 ||
          (dist == heap.head._1 && ids(i) < heap.head._2)) {
        heap.dequeue(); heap.enqueue((dist, ids(i)))
      }
      i += 1
    }
    heap.dequeueAll[(Double, Long)].map(n => (n._2, Gen.round(n._1))).sortBy(n => (n._2, n._1))
  }

  def topKAll(qs: Seq[(Long, Array[Double])], k: Int): Map[Long, Seq[(Long, Double)]] = {
    val out = new Array[Seq[(Long, Double)]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = topK(qs(i)._2, k))
    qs.map(_._1).zip(out).toMap
  }
}
