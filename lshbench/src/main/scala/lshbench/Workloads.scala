package lshbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.{ExactNN, TopK}
import graft.ann.lsh.{Lsh, LshConfig, LshIndex, LshMaintainer}
import graft.eval.Eval

/** The fixed shape of every workload. */
object Shape {
  val CorpusRows = 100000L
  val K = 10
  /** Loose on purpose: every point lies within 67 of every other (the
    * data's bounding box), so no query ever gets fewer than k rows. */
  val Threshold = 100.0
  /** Per-coordinate uniform jitter added to a live vector to make a
    * query: far enough off the point that LSH probes miss some true
    * neighbours (recall visibly below 1), close enough that the true
    * neighbours stay the query's own cluster. */
  val QueryNoise = 2.0
  val LshBatch = 64
  val ExactBatch = 16
  val GradeQueries = 128
  val ExactSamplePerBatch = 1
  val Trees = 10
  val SetupReps = 3
  val PrebuildRows = 5000
  /** Untimed search batches before the loop: the first ~10 s of serve
    * batches run well above steady latency while the JIT catches up. */
  val ServeWarmup = 4
  val ExactWarmup = 3
  /** Untimed churn steps (write batch + query batch) before the loop. */
  val ChurnWarmup = 1
  /** The churn loop runs at least this many whole compaction cycles. */
  val ChurnCycles = 1
  val ChurnArrivals = 1000
  val ChurnUpserts = 500
  val ChurnDeletes = 500
  val CompactEvery = 2
}

/** What one run measured. `metrics` are the end-to-end metrics every
  * workload reports; `extra` are printed alongside; `layers` are the
  * per-layer metrics of a traced run. */
final case class Outcome(metrics: Seq[(String, Double, String)],
                         extra: Seq[(String, Any)],
                         layers: Seq[(String, Double, String)],
                         properties: Seq[(String, Any)],
                         attempted: Int, failed: Int,
                         violations: Seq[String])

final class Workloads(spark: SparkSession, seed: Long, seconds: Int,
                      tracer: Tracer, work: Path, readyS: Double) {

  import Shape._
  import spark.implicits._

  private val live = new Live(seed, CorpusRows)
  private val queryRnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
  private val churnRnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
  private val gradeRnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
  private var attempted = 0
  private var failed = 0
  private val violations = mutable.ArrayBuffer.empty[String]
  private val extra = mutable.ArrayBuffer.empty[(String, Any)]
  private val layers = mutable.ArrayBuffer.empty[(String, Double, String)]
  private val lshConfig = LshConfig(nTrees = Trees, seed = seed)

  // ---- inputs ----

  private def queries(rnd: SplittableRandom, firstId: Long, m: Int): Seq[(Long, Array[Double])] =
    (0 until m).map { j =>
      val v = live.vec(live.randomLive(rnd)).get
      (firstId + j, v.map(x => x + (rnd.nextDouble() * 2 - 1) * QueryNoise))
    }

  private def frame(qs: Seq[(Long, Array[Double])]): DataFrame =
    qs.toDF("query_id", "qv")

  private def rowsOf(rs: Array[Row]): Seq[Check.Row] =
    rs.toSeq.map(r => Check.Row(r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("dist")))

  // ---- timing helpers ----

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Generate and cache the corpus [[SetupReps]] times; the median rep is
    * the data part of setup_s. Returns the cached corpus. */
  private def setupCorpus(): (DataFrame, Double) = {
    val reps = (0 until SetupReps).map { r =>
      val (c, s) = timed {
        val c = Gen.corpus(spark, seed, CorpusRows).cache()
        c.count(); c
      }
      if (r < SetupReps - 1) c.unpersist(blocking = true)
      (c, s)
    }
    extra += "setup_corpus_reps_s" -> reps.map(_._2)
    (reps.last._1, Stats.median(reps.map(_._2)))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Spark storage memory still held: blocks of RDDs that are no longer
    * reachable are first collected and dropped (the context cleaner does
    * that after a GC), so the figure does not depend on GC timing. */
  private def cachedMb(): Double = {
    def held() = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    System.gc()
    var last = -1L; var now = held(); var polls = 0
    while (now != last && polls < 20) { Thread.sleep(250); last = now; now = held(); polls += 1 }
    now / 1e6
  }

  /** One timed, checked search batch. Returns its latency in seconds, or
    * None when it failed or its output was wrong. */
  private def searchBatch(name: String, b: Int, qs: Seq[(Long, Array[Double])],
                          counted: Boolean,
                          extraCheck: Seq[Check.Row] => Seq[String] = _ => Nil)
                         (run: DataFrame => DataFrame): Option[(Double, Seq[Check.Row])] = {
    val q = frame(qs)
    val (res, s) = timed(Try(tracer(name, b)(rowsOf(run(q).collect()))))
    val bad = res match {
      case Success(rows) => Check.batch(rows, qs, K, live.vec) ++ extraCheck(rows)
      case Failure(e) => Seq(s"$name batch $b threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (counted) {
      attempted += 1
      if (bad.nonEmpty) failed += 1
    }
    violations ++= bad.take(5).map(v => s"batch $b: $v")
    if (bad.isEmpty) Some((s, res.get)) else None
  }

  /** `n` untimed, checked batches; returns their wall time. */
  private def warmup(n: Int, batchSize: Int)(search: DataFrame => DataFrame): Double =
    timed((1 to n).foreach { w =>
      searchBatch("warmup", -1, queries(queryRnd, -w * 1000L, batchSize), counted = false)(search)
    })._2

  /** Closed loop: one batch in flight, for `seconds` of wall time, then
    * on until the step count is a multiple of `whole` and at least
    * `minSteps` (so every run of a cyclic workload covers whole cycles). */
  private def loop(batchSize: Int, whole: Int = 1, minSteps: Int = 1)
                  (step: (Int, Seq[(Long, Array[Double])]) => Option[Double]): Seq[Double] = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var b = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || b % whole != 0 || b < minSteps) {
      step(b, queries(queryRnd, b * 1000L, batchSize)).foreach(lat += _)
      b += 1
    }
    lat.toSeq
  }

  private def searchMetrics(lat: Seq[Double], batchSize: Int): Seq[(String, Double, String)] = {
    val (tail, pct, n) = Stats.tail(lat)
    extra += "search_batches" -> n
    extra += "search_latencies_ms" -> lat.map(x => math.rint(x * 1e4) / 10)
    extra += "search_tail_percentile" -> pct
    Seq(
      ("search_qps", lat.size * batchSize / lat.sum, "queries/s"),
      ("search_p50_ms", Stats.median(lat) * 1e3, "ms"),
      ("search_tail_ms", tail * 1e3, "ms"))
  }

  /** recall@10 of `search` on a fixed grading set, against the driver's
    * brute force over the live corpus; graded by the engine's
    * [[Eval.setPrecisionRecall]]. Untimed. Also records the exact
    * distances to the 1st and k-th neighbour. */
  private def recall(search: DataFrame => DataFrame): Double = {
    val qs = queries(gradeRnd, 1L << 40, GradeQueries)
    val (ids, vecs) = live.snapshot()
    val truth = new BruteForce(ids, vecs).topKAll(qs, K)
    val pred = searchBatch("grade", -1, qs, counted = true)(search)
    val gt = truth.toSeq.flatMap { case (q, ns) => ns.take(K).map(n => (q, n._1)) }
      .toDF("query_id", "vec_id")
    extra += "dist_1st_mean" -> Stats.mean(truth.values.map(_.head._2).toSeq)
    extra += "dist_kth_mean" -> Stats.mean(truth.values.map(_(K - 1)._2).toSeq)
    extra += "threshold" -> Threshold
    pred.fold(Double.NaN) { case (_, rows) =>
      val p = rows.map(r => (r.queryId, r.vecId)).toDF("query_id", "vec_id")
      Eval.setPrecisionRecall(p, gt).agg(avg("recall")).head().getDouble(0)
    }
  }

  /** Untimed: train and save a small index first, so the timed build
    * runs warm code (part of set-up). Returns its wall time. */
  private def prebuild(corpus: DataFrame): Double =
    timed(Lsh.train(corpus.limit(PrebuildRows), "vec_id", "embedding", lshConfig)
      .save(spark, work.resolve("prebuild").toString))._2

  private def buildLsh(corpus: DataFrame, path: String): Double = {
    val (_, s) = timed {
      tracer("lsh.build") {
        val idx = tracer("lsh.fit")(Lsh.train(corpus, "vec_id", "embedding", lshConfig))
        tracer("lsh.index_write")(idx.save(spark, path))
      }
    }
    s
  }

  private def occupancy(idx: LshIndex): Unit = {
    val occ = idx.buckets.groupBy("tree_id", "hash").count()
      .select(col("count").cast("double")).as[Double].collect().toSeq
    extra += "bucket_occupancy_p50" -> Stats.median(occ)
    extra += "bucket_occupancy_max" -> occ.max
    extra += "buckets" -> occ.size
  }

  // ---- traced-run decomposition of one LSH search ----

  private def decomposeLsh(idx: LshIndex, b: Int, qs: Seq[(Long, Array[Double])],
                           rec: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    if (!tracer.enabled) return
    val q = frame(qs)
    def add(k: String, v: Double) = rec.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val probes = idx.model.probeRows(q, "query_id", "qv").distinct().count()
    val cands = tracer("lsh.candidate", b) {
      val c = idx.model.probeRows(q, "query_id", "qv")
        .join(idx.buckets, Seq("tree_id", "hash"))
        .select("query_id", "vec_id").distinct().persist()
      c.count(); c
    }
    val nCands = cands.count().toDouble
    scoreAndTopK(b, cands.join(idx.vectors, "vec_id"), q, nCands, rec, viaAggregator = true)
    cands.unpersist(blocking = true)
    add("lsh.probes_per_query", probes.toDouble / qs.size)
    add("lsh.candidates_per_query", nCands / qs.size)
    add("lsh.yield", K * qs.size / nCands)
  }

  /** `topk` span: materialise the scored frame (child `functions.score`),
    * then the engine's per-query top-k over it. */
  private def scoreAndTopK(b: Int, pairs: DataFrame, q: DataFrame, distances: Double,
                           rec: mutable.Map[String, mutable.ArrayBuffer[Double]],
                           viaAggregator: Boolean): Unit = {
    def add(k: String, v: Double) = rec.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val nq = q.count().toDouble
    tracer("topk", b) {
      val scored = tracer("functions.score", b) {
        val s = pairs.join(broadcast(q), "query_id")
          .select(col("query_id"), col("vec_id"),
            round(ExactNN.L2.dist(col("qv"), col("embedding")), 6).as("dist"))
          .where(col("dist") <= Threshold).persist()
        s.agg(sum("dist")).collect(); s
      }
      TopK.perQueryTopK(scored, K, viaAggregator).collect()
      scored.unpersist(blocking = true)
      add("topk.rows_in_per_query", distances / nq)
    }
  }

  /** Traced runs only: the exact-scan distance stage on its own — one
    * batch of queries against the cached corpus, every distance summed
    * so none is pruned — timed as `functions.distance` spans. */
  private def kernelProbe(corpus: DataFrame, qs: Seq[(Long, Array[Double])],
                          rec: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    if (!tracer.enabled) return
    val q = broadcast(frame(qs))
    (0 until 3).foreach { _ =>
      tracer("functions.distance")(corpus.crossJoin(q)
        .agg(sum(ExactNN.L2.dist(col("qv"), col("embedding")))).collect())
    }
    tracer.drain()
    val n = qs.size.toDouble * CorpusRows
    rec("functions.ns_per_distance") = tracer.named("functions.distance")
      .map(s => tracer.exec(s).taskBusyS / n * 1e9).to(mutable.ArrayBuffer)
  }

  // ---- workloads ----

  def lshServe(): Outcome = {
    val (corpus, setupData) = setupCorpus()
    val path = work.resolve("lsh-index").toString
    val preS = prebuild(corpus)
    val buildS = buildLsh(corpus, path)
    val idx = Lsh.load(spark, path)
    val search = (q: DataFrame) => idx.searchAll(q, K, Threshold)
    val warmS = warmup(ServeWarmup, LshBatch)(search)
    extra += "ready_s" -> readyS
    extra += "warmup_s" -> warmS
    extra += "setup_corpus_s" -> setupData
    val rec = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val lat = loop(LshBatch) { (b, qs) =>
      val r = searchBatch("lsh.search", b, qs, counted = true)(search)
      decomposeLsh(idx, b, qs, rec)
      r.map(_._1)
    }
    val cached = cachedMb()
    val r = recall(search)
    if (tracer.enabled) occupancy(idx)
    val bytes = dirBytes(Paths.get(path))
    kernelProbe(corpus, queries(gradeRnd, 1L << 41, ExactBatch), rec)
    layerMetrics(rec)
    finish(Seq(
      ("setup_s", readyS + setupData + preS + warmS, "s"),
      ("build_s", buildS, "s")) ++
      searchMetrics(lat, LshBatch) ++ Seq(
      ("recall_at_10", r, "ratio"),
      ("write_rows_per_s", CorpusRows / buildS, "rows/s"),
      ("index_bytes_per_vec", bytes.toDouble / CorpusRows, "B/vector"),
      ("cached_mb", cached, "MB")), LshBatch)
  }

  def exactScan(): Outcome = {
    val (corpus, setupData) = setupCorpus()
    val path = work.resolve("flat").toString
    val (_, buildS) = timed(tracer("flat.write")(
      corpus.write.mode("overwrite").parquet(path)))
    val flat = spark.read.parquet(path)
    val search = (q: DataFrame) => ExactNN.topK(q, flat, K)
    val warmS = warmup(ExactWarmup, ExactBatch)(search)
    val (ids, vecs) = live.snapshot()
    val brute = new BruteForce(ids, vecs)
    extra += "ready_s" -> readyS
    extra += "warmup_s" -> warmS
    extra += "setup_corpus_s" -> setupData
    val rec = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // exact results must also equal the driver's brute force (sampled)
    def sampled(qs: Seq[(Long, Array[Double])])(rows: Seq[Check.Row]): Seq[String] =
      qs.take(ExactSamplePerBatch).flatMap { case (qid, v) =>
        Check.exact(qid, rows.filter(_.queryId == qid), brute.topK(v, K), K)
      }
    val lat = loop(ExactBatch) { (b, qs) =>
      val r = searchBatch("exact.scan", b, qs, counted = true, sampled(qs))(search)
      if (tracer.enabled)
        scoreAndTopK(b, flat.crossJoin(frame(qs).select("query_id")), frame(qs),
          qs.size.toDouble * CorpusRows, rec, viaAggregator = false)
      r.map(_._1)
    }
    val cached = cachedMb()
    val r = recall(search)
    val bytes = dirBytes(Paths.get(path))
    kernelProbe(corpus, queries(gradeRnd, 1L << 41, ExactBatch), rec)
    layerMetrics(rec)
    finish(Seq(
      ("setup_s", readyS + setupData + warmS, "s"),
      ("build_s", buildS, "s")) ++
      searchMetrics(lat, ExactBatch) ++ Seq(
      ("recall_at_10", r, "ratio"),
      ("write_rows_per_s", CorpusRows / buildS, "rows/s"),
      ("index_bytes_per_vec", bytes.toDouble / CorpusRows, "B/vector"),
      ("cached_mb", cached, "MB")), ExactBatch)
  }

  def lshChurn(): Outcome = {
    val (corpus, setupData) = setupCorpus()
    val path = work.resolve("lsh-store").toString
    val preS = prebuild(corpus)
    val buildS = buildLsh(corpus, path)
    val maint = new LshMaintainer(spark, path, compactEvery = CompactEvery)
    val search = (q: DataFrame) => maint.index.searchAll(q, K, Threshold)
    val rec = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double) = rec.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val writes = mutable.ArrayBuffer.empty[(Double, Boolean, Int)] // (s, compacted, rows)
    var broken = false

    /** One churn step: a write batch, then a query batch over the
      * maintained view. Warm-up steps are checked but not counted. */
    def step(b: Int, qs: Seq[(Long, Array[Double])], counted: Boolean): Option[Double] =
      if (broken) None
      else {
        val (arr, dels) = live.churn(churnRnd, ChurnArrivals, ChurnUpserts, ChurnDeletes)
        val arrDf = Gen.vectors(spark, seed, arr, live.nClusters)
        val delDf = dels.toDF("vec_id")
        val due = maint.compactionDue
        val traced = tracer.enabled && counted
        val before = if (traced) dirBytes(Paths.get(path)) else 0L
        val span = if (!counted) "warmup" else if (due) "lsm.compact" else "lsm.onbatch"
        val (res, s) = timed(Try(tracer(span, b)(maint.onBatch(Some(arrDf), Some(delDf)))))
        if (counted) attempted += 1
        res match {
          case Success(_) =>
            if (counted) writes += ((s, due, arr.size + dels.size))
            if (traced && !due)
              add("lsm.bytes_written_per_row",
                (dirBytes(Paths.get(path)) - before).toDouble / (arr.size + dels.size))
          case Failure(e) =>
            failed += 1; broken = true
            violations += s"onBatch $b threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        if (broken) None
        else {
          if (traced) add("lsm.log_rows_at_rest", logRows(path))
          val r = searchBatch(if (counted) "lsh.search" else "warmup", b, qs, counted)(search)
          if (counted) decomposeLsh(maint.index, b, qs, rec)
          r.map(_._1)
        }
      }

    val warmS = timed((1 to ChurnWarmup).foreach(w =>
      step(-w, queries(queryRnd, -w * 1000L, LshBatch), counted = false)))._2
    extra += "ready_s" -> readyS
    extra += "warmup_s" -> warmS
    extra += "setup_corpus_s" -> setupData
    // whole compaction cycles, counted from the first timed step
    val lat = loop(LshBatch, whole = CompactEvery, minSteps = ChurnCycles * CompactEvery)(
      step(_, _, counted = true))
    val cached = cachedMb()
    val r = recall(search)
    if (tracer.enabled) occupancy(maint.index)
    val bytes = dirBytes(Paths.get(path))
    val rows = writes.map(_._3).sum
    val plain = writes.filterNot(_._2).map(_._1).toSeq
    val compacts = writes.filter(_._2).map(_._1).toSeq
    extra += "write_p50_ms" -> Stats.median(plain) * 1e3
    extra += "compact_s" -> Stats.median(compacts)
    extra += "write_batches" -> writes.size
    extra += "write_latencies_ms" -> writes.map(w => math.rint(w._1 * 1e4) / 10).toSeq
    extra += "compactions" -> compacts.size
    extra += "live_vectors" -> live.size
    if (tracer.enabled) {
      val arrivalsRows = writes.size * (ChurnArrivals + ChurnUpserts)
      val deleteRows = writes.size * (ChurnUpserts + ChurnDeletes)
      val userBytes = arrivalsRows * (8.0 + 8.0 * Gen.Dims) + deleteRows * 8.0
      tracer.drain()
      val written = (tracer.named("lsm.onbatch") ++ tracer.named("lsm.compact"))
        .map(s => tracer.exec(s).outputMb * 1e6).sum
      add("lsm.write_amp", written / userBytes)
    }
    kernelProbe(corpus, queries(gradeRnd, 1L << 41, ExactBatch), rec)
    layerMetrics(rec)
    finish(Seq(
      ("setup_s", readyS + setupData + preS + warmS, "s"),
      ("build_s", buildS, "s")) ++
      searchMetrics(lat, LshBatch) ++ Seq(
      ("recall_at_10", r, "ratio"),
      ("write_rows_per_s", rows / writes.map(_._1).sum, "rows/s"),
      ("index_bytes_per_vec", bytes.toDouble / live.size, "B/vector"),
      ("cached_mb", cached, "MB")), LshBatch)
  }

  /** Delta and tombstone rows at rest in the maintainer's logs. */
  private def logRows(path: String): Double =
    Seq("vectors_delta", "buckets_delta", "tombstones").map { d =>
      val p = s"$path/$d"
      if (Files.exists(Paths.get(p))) spark.read.parquet(p).count() else 0L
    }.sum.toDouble

  // ---- per-layer report ----

  /** Every per-layer metric, in report order; 0 where the workload does
    * not run the layer. */
  private def layerMetrics(rec: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    if (!tracer.enabled) return
    tracer.drain()
    def med(name: String): Double = Stats.median(tracer.named(name).map(_.seconds))
    def recMed(k: String): Double = rec.get(k).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
    def z(d: Double) = if (d.isNaN) 0.0 else d
    def extraNum(k: String): Double =
      extra.collectFirst { case (`k`, d: Double) => d }.getOrElse(0.0)
    val searches = tracer.named("lsh.search").map(s => s.batch -> s.seconds).toMap
    val cands = tracer.named("lsh.candidate").map(s => s.batch -> s.seconds).toMap
    val scoringSelf = searches.keySet.intersect(cands.keySet).toSeq.map(b => searches(b) - cands(b))
    layers ++= Seq(
      ("lsh.fit_s", z(med("lsh.fit")), "s"),
      ("lsh.index_write_s", z(med("lsh.index_write")), "s"),
      ("lsh.fit_sample_rows",
        if (tracer.named("lsh.fit").isEmpty) 0.0 else lshConfig.fitSampleSize(CorpusRows).toDouble, "count"),
      ("lsh.probes_per_query", recMed("lsh.probes_per_query"), "count"),
      ("lsh.candidates_per_query", recMed("lsh.candidates_per_query"), "count"),
      ("lsh.candidate_s", z(med("lsh.candidate")), "s"),
      ("lsh.yield", recMed("lsh.yield"), "ratio"),
      ("lsh.bucket_occupancy_p50", extraNum("bucket_occupancy_p50"), "count"),
      ("lsh.bucket_occupancy_max", extraNum("bucket_occupancy_max"), "count"),
      ("scoring.self_s", z(Stats.median(scoringSelf)), "s"),
      ("functions.ns_per_distance", recMed("functions.ns_per_distance"), "ns"),
      ("topk.rows_in_per_query", recMed("topk.rows_in_per_query"), "count"),
      ("topk.self_s", z(Stats.median(tracer.named("topk").map(tracer.selfSeconds))), "s"),
      ("lsm.onbatch_s", z(med("lsm.onbatch")), "s"),
      ("lsm.bytes_written_per_row", recMed("lsm.bytes_written_per_row"), "B/row"),
      ("lsm.compact_s", z(med("lsm.compact")), "s"),
      ("lsm.write_amp", recMed("lsm.write_amp"), "ratio"),
      ("lsm.log_rows_at_rest", recMed("lsm.log_rows_at_rest"), "count"))
    for (call <- Workloads.ExecCalls) {
      val execs = tracer.named(call).map(s => tracer.exec(s).fields.toMap)
      Exec.Names.foreach { m =>
        layers += ((s"$call.exec.$m", z(Stats.median(execs.map(_(m)))), Exec.unit(m)))
      }
    }
  }

  private def finish(metrics: Seq[(String, Double, String)], batchSize: Int): Outcome = {
    extra += "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted)
    if (tracer.enabled) {
      // the traced run's own end-to-end figures: minus an untraced run's,
      // they are the tracing overhead
      val m = metrics.map(x => x._1 -> x._2).toMap
      layers += (("trace.search_p50_ms", m("search_p50_ms"), "ms"))
      layers += (("trace.search_qps", m("search_qps"), "queries/s"))
    }
    Outcome(metrics, extra.toSeq, layers.toSeq, properties(batchSize),
      attempted, failed, violations.toSeq)
  }

  private def properties(batchSize: Int): Seq[(String, Any)] = Seq(
    "corpus_rows" -> CorpusRows, "dims" -> Gen.Dims,
    "cluster_size" -> Gen.ClusterSize, "query_noise" -> QueryNoise,
    "k" -> K, "batch_queries" -> batchSize, "grade_queries" -> GradeQueries,
    "lsh_trees" -> Trees, "lsh_k_min_vecs" -> lshConfig.kMinVecs,
    "lsh_sample_cap" -> lshConfig.sampleCap,
    "churn_arrivals_per_batch" -> ChurnArrivals,
    "churn_upserts_per_batch" -> ChurnUpserts,
    "churn_deletes_per_batch" -> ChurnDeletes,
    "churn_compact_every" -> CompactEvery)
}

object Workloads {
  val Names = Seq("lsh-serve", "exact-scan", "lsh-churn")
  /** The calls whose Spark counters the traced run reports. */
  val ExecCalls = Seq("lsh.build", "lsh.search", "exact.scan", "lsm.onbatch", "lsm.compact")
}
