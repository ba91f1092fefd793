package lshbench

/** The output check every batch goes through. Pure functions over the
  * rows a search returned, so the benchmark's own tests can feed them a
  * corrupted result and see it rejected. */
object Check {

  /** One returned row. */
  final case class Row(queryId: Long, vecId: Long, dist: Double)

  val DistTolerance = 1e-6

  /** Violations in one batch's rows: every query must get exactly `k`
    * rows, ascending by (dist, vec_id), with distinct live ids whose
    * distance matches a driver-side recomputation within
    * [[DistTolerance]]. `vec` gives the live vector of an id (None when
    * the id is deleted or never existed), so a tombstoned id or a
    * superseded upsert version is caught by the liveness or distance
    * test. */
  def batch(rows: Seq[Row], queries: Seq[(Long, Array[Double])], k: Int,
            vec: Long => Option[Array[Double]]): Seq[String] = {
    val qv = queries.toMap
    val byQuery = rows.groupBy(_.queryId)
    val stray = byQuery.keySet.diff(qv.keySet).toSeq.sorted
      .map(q => s"query $q was not asked")
    stray ++ queries.flatMap { case (q, v) =>
      val got = byQuery.getOrElse(q, Seq.empty)
        .sortBy(r => (r.dist, r.vecId))
      val order = rows.filter(_.queryId == q)
      val count =
        if (got.size != k) Seq(s"query $q: ${got.size} rows, expected $k")
        else Nil
      val sorted =
        if (order.map(r => (r.dist, r.vecId)) != got.map(r => (r.dist, r.vecId)))
          Seq(s"query $q: rows not ascending by (dist, vec_id)")
        else Nil
      val dup =
        if (got.map(_.vecId).distinct.size != got.size)
          Seq(s"query $q: duplicate vec_id")
        else Nil
      val rowChecks = got.flatMap { r =>
        vec(r.vecId) match {
          case None => Seq(s"query $q: vec_id ${r.vecId} is not live")
          case Some(x) =>
            val want = Gen.round(Gen.l2(v, x))
            if (math.abs(want - r.dist) > DistTolerance)
              Seq(f"query $q: vec_id ${r.vecId} dist ${r.dist}%.6f, recomputed $want%.6f")
            else Nil
        }
      }
      count ++ sorted ++ dup ++ rowChecks
    }
  }

  /** Violations of an exact result against the driver's brute force
    * (`truth`: k + 1 rows ascending). Ids must match, except that ids
    * tied with the k-th distance may trade places. */
  def exact(q: Long, got: Seq[Row], truth: Seq[(Long, Double)], k: Int): Seq[String] = {
    val want = truth.take(k)
    val kth = want.last._2
    val mustHave = want.filter(_._2 < kth - DistTolerance).map(_._1).toSet
    val mayHave = truth.filter(_._2 <= kth + DistTolerance).map(_._1).toSet
    val ids = got.map(_.vecId).toSet
    val missing = mustHave.diff(ids).toSeq.sorted
    val extra = ids.diff(mayHave).toSeq.sorted
    (if (missing.nonEmpty) Seq(s"query $q: exact result misses ${missing.mkString(",")}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"query $q: exact result has non-neighbours ${extra.mkString(",")}") else Nil)
  }
}
