package graft.ann.bq

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase
import graft.ann.ExactNN

/** Binary quantization: midrange fit (exact, order-independent), packed
  * sign-bit encode pinned against a hand-computed example AND a JVM-side
  * re-encode, XOR+popcount Hamming distance, Hamming-scan + rerank recall
  * against exact NN, persistence round-trip, ragged guard. */
class BqSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  private def emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")

  test("fit recovers the exact per-dimension midrange (min+max)/2") {
    val model = Bq.fit(emb, "embedding")
    val vecs = emb.select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect()
    val dims = vecs.head.length
    assert(model.dims === dims)
    assert(model.nWords === (dims + 63) / 64)
    assert(model.bitsPerWord === 64)
    (0 until dims).foreach { i =>
      val mn = vecs.map(_(i)).min
      val mx = vecs.map(_(i)).max
      assert(model.thresholds(i) === (mn + mx) / 2)
    }
  }

  test("encode packs sign bits exactly as hand-computed on a known corpus") {
    // 3 vectors x 34 dims (2 words, second word uses 2 bits) with
    // thresholds derived from min/max midrange per dim. Corpus chosen so
    // the midrange per dim is 0.0 and the bit pattern is readable.
    val dims = 34
    // vec a: positive at even dims; vec b: positive at odd dims; vec c:
    // all negative (plus one +1/-1 pair per dim across a/b keeps the
    // midrange at exactly 0.0)
    val a = Array.tabulate(dims)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val b = Array.tabulate(dims)(i => if (i % 2 == 1) 1.0f else -1.0f)
    val c = Array.fill(dims)(-0.5f)
    val df = Seq((1L, a.toSeq), (2L, b.toSeq), (3L, c.toSeq))
      .toDF("vec_id", "embedding")
    // 64-bit packing (the default): 34 dims fit one word
    val idx = Bq.train(df, "vec_id", "embedding")
    assert(idx.model.thresholds.forall(_ === 0.0))
    val codes = idx.codes.orderBy("vec_id").as[(Long, Seq[Long])].collect()
    val even34 = 0x55555555L | (1L << 32)   // even bits 0..33
    val odd34 = 0xAAAAAAAAL | (1L << 33)    // odd bits 0..33
    assert(codes(0)._2 === Seq(even34))
    assert(codes(1)._2 === Seq(odd34))
    assert(codes(2)._2 === Seq(0L))
    // 32-bit parity mode: two words, second uses 2 bits
    val idx32 = Bq.train(df, "vec_id", "embedding", bitsPerWord = 32)
    val codes32 = idx32.codes.orderBy("vec_id").as[(Long, Seq[Long])].collect()
    val even32 = 0x55555555L
    val odd32 = 0xAAAAAAAAL
    assert(codes32(0)._2 === Seq(even32, (even32 & 0x3L)))  // dims 32,33 -> bits 0,1
    assert(codes32(1)._2 === Seq(odd32, (odd32 & 0x3L)))
    assert(codes32(2)._2 === Seq(0L, 0L))
  }

  test("bit 63 packs through the signed power (negative word, OR-by-addition exact)") {
    // 64 dims, all above threshold -> the single word is -1 (all 64
    // bits set, bit 63 via Long.MinValue)
    val dims = 64
    val hi = Array.fill(dims)(1.0f)
    val lo = Array.fill(dims)(-1.0f)
    val df = Seq((1L, hi.toSeq), (2L, lo.toSeq)).toDF("vec_id", "embedding")
    val idx = Bq.train(df, "vec_id", "embedding")
    val codes = idx.codes.orderBy("vec_id").as[(Long, Seq[Long])].collect()
    assert(codes(0)._2 === Seq(-1L), s"all-bits word: ${codes(0)._2}")
    assert(codes(1)._2 === Seq(0L))
    // Hamming across the sign bit counts all 64
    val q = df.where($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val h = idx.searchHamming(q, 2).orderBy("hamming")
      .as[(Long, Long, Long)].collect()
    assert(h.map(_._3).toSeq === Seq(0L, 64L))
  }

  test("32-bit and 64-bit packing serve identical Hamming rows") {
    val q = emb.orderBy("vec_id").limit(10)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val r64 = Bq.train(emb, "vec_id", "embedding").searchHamming(q, 5)
      .orderBy("query_id", "hamming", "vec_id").collect()
    val r32 = Bq.train(emb, "vec_id", "embedding", bitsPerWord = 32)
      .searchHamming(q, 5)
      .orderBy("query_id", "hamming", "vec_id").collect()
    assert(r64 === r32, "packing width changed search results")
  }

  test("encode equals an independent JVM re-encode over the real corpus") {
    val idx = Bq.train(emb, "vec_id", "embedding")
    val m = idx.model
    val got = idx.codes.as[(Long, Seq[Long])].collect().toMap
    val orig = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    assert(got.size === orig.length)
    orig.foreach { case (id, v) =>
      val expect = Array.fill(m.nWords)(0L)
      v.indices.foreach { i =>
        if (v(i) > m.thresholds(i))
          expect(i / m.bitsPerWord) |= (1L << (i % m.bitsPerWord))
      }
      assert(got(id) === expect.toSeq, s"codes mismatch for vec $id")
    }
  }

  test("hammingCol equals JVM popcount of the XOR") {
    val idx = Bq.train(emb, "vec_id", "embedding")
    val a = idx.codes.select($"vec_id".as("ida"), $"codes".as("ca"))
    val b = idx.codes.select($"vec_id".as("idb"), $"codes".as("cb"))
    val pairs = a.join(b, $"idb" === $"ida" + 1)
      .select($"ida", $"idb", idx.model.hammingCol($"ca", $"cb").as("h"),
        $"ca", $"cb")
      .as[(Long, Long, Int, Seq[Long], Seq[Long])].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (ia, ib, h, ca, cb) =>
      val expect = ca.zip(cb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      assert(h === expect, s"hamming($ia,$ib)")
    }
  }

  test("hamming scan + exact rerank recover exact-NN top-k") {
    val q = emb.orderBy("vec_id").limit(30)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val idx = Bq.train(emb, "vec_id", "embedding")
    val gt = ExactNN.topK(q, emb, 10, ExactNN.L2)
    val scan = idx.searchHamming(q, 10)
      .select($"query_id", $"vec_id", $"hamming".cast("double").as("dist"))
    val scanRecall = graft.eval.Eval.setPrecisionRecall(scan, gt)
      .agg(avg("recall")).as[Double].head()
    // 64 sign bits keep only coarse geometry — the scan is a candidate
    // generator, not the answer; it must still clearly beat random
    // (random 10-of-500 would land ~0.02)
    assert(scanRecall >= 0.3, s"BQ scan recall $scanRecall not above noise")
    // 64 sign bits rank only coarsely, so rerankDepth must scale with
    // the corpus fraction the scan is trusted to order (depth 100/500
    // measures 0.80 here; 250/500 crosses 0.9) — the same depth-scaling
    // rule as IVF-PQ's rerank (SCALE.md §ANN), at 1 bit/dim sharpness.
    val rer = idx.searchRerank(q, emb.select($"vec_id", $"embedding"), 10, 250)
    val rerRecall = graft.eval.Eval.setPrecisionRecall(rer, gt)
      .agg(avg("recall")).as[Double].head()
    assert(rerRecall >= 0.9,
      s"depth-250 rerank recall $rerRecall below expected band")
    assert(rerRecall > scanRecall, "rerank must improve on the raw scan")
  }

  test("cosine rerank at full depth is row-identical to exact cosine top-k") {
    // depth = corpus size makes the Hamming scan a no-op filter, so the
    // rerank must reproduce ExactNN exactly — a regression in the
    // Cosine branch (swapped args, broken metric dispatch) cannot hide
    // behind plausible non-empty rows
    val idx = Bq.train(emb, "vec_id", "embedding")
    val q = emb.orderBy("vec_id").limit(8)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val n = emb.count().toInt
    val got = idx.searchRerank(q, emb.select($"vec_id", $"embedding"),
        10, n, ExactNN.Cosine)
      .orderBy("query_id", "dist", "vec_id")
      .as[(Long, Long, Double)].collect().toSeq
    val exact = ExactNN.topK(q, emb, 10, ExactNN.Cosine)
      .orderBy("query_id", "dist", "vec_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === exact, "full-depth cosine rerank diverged from exact NN")
  }

  test("codesFilter: scan-side predicate == search over a pre-filtered codes table; rerank honors it") {
    val q = emb.orderBy("vec_id").limit(10)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val idx = Bq.train(emb, "vec_id", "embedding")
    val pred = $"vec_id" % 2 === 0
    val filtered = idx.searchHamming(q, 5, codesFilter = Some(pred))
      .orderBy("query_id", "hamming", "vec_id").collect()
    assert(filtered.forall(_.getLong(1) % 2 == 0), "disallowed id returned")
    val preCut = new BqIndex(idx.model, idx.codes.where(pred))
      .searchHamming(q, 5).orderBy("query_id", "hamming", "vec_id").collect()
    assert(filtered === preCut)
    val rer = idx.searchRerank(q, emb.select($"vec_id", $"embedding"), 5,
        rerankDepth = 50, codesFilter = Some(pred)).collect()
    assert(rer.forall(_.getLong(1) % 2 == 0), "rerank leaked a disallowed id")
  }

  test("save/load round-trip: same thresholds, same codes, same search rows") {
    val dir = java.nio.file.Files.createTempDirectory("bq_idx").toString
    val idx = Bq.train(emb, "vec_id", "embedding")
    idx.save(spark, dir)
    val re = Bq.load(spark, dir)
    assert(re.model.thresholds.toSeq === idx.model.thresholds.toSeq)
    assert(re.model.bitsPerWord === 64)
    val q = emb.orderBy("vec_id").limit(5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val a = idx.searchHamming(q, 5).orderBy("query_id", "hamming", "vec_id").collect()
    val b = re.searchHamming(q, 5).orderBy("query_id", "hamming", "vec_id").collect()
    assert(a === b)
  }

  test("meta-less dumps (pre-packed-64 format) load as 32-bit") {
    val dir = java.nio.file.Files.createTempDirectory("bq_legacy").toString
    val idx32 = Bq.train(emb, "vec_id", "embedding", bitsPerWord = 32)
    idx32.save(spark, dir)
    // simulate an old dump: no meta table
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/meta")).deleteRecursively()
    val re = Bq.load(spark, dir)
    assert(re.model.bitsPerWord === 32)
    val q = emb.orderBy("vec_id").limit(5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val a = idx32.searchHamming(q, 5)
      .orderBy("query_id", "hamming", "vec_id").collect()
    val b = re.searchHamming(q, 5)
      .orderBy("query_id", "hamming", "vec_id").collect()
    assert(a === b)
  }

  test("refit is bit-identical (order-independent midrange, no seed)") {
    val t1 = Bq.fit(emb, "embedding").thresholds
    val t2 = Bq.fit(emb.repartition(7), "embedding").thresholds
    assert(t1.toSeq === t2.toSeq)
  }

  test("streamed encode equals the batch encode (incremental codes append)") {
    // Like SQ, the BQ encode is a pure map-side projection over fixed
    // thresholds, so it runs unchanged over a readStream of arriving
    // vectors — appending packed codes without a refit. Threshold drift
    // on genuinely new data ranges is an operator decision (refit or
    // accept stale splits), deterministic either way.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val model = Bq.fit(emb, "embedding")
    // orderBy before limit: a bare limit(40) is not deterministic across
    // jobs, and this subset is evaluated twice (stream input + batch
    // expectation below)
    val arriving = emb.orderBy("vec_id").limit(40)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val q = model.transformDf(mem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.as[(Long, Seq[Long])].collect().foreach(out.add)
      }
      .outputMode("append").start()
    try {
      mem.addData(arriving: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchCodes = model.transformDf(emb.orderBy("vec_id").limit(40),
        "vec_id", "embedding")
      .as[(Long, Seq[Long])].collect().toMap
    assert(out.size === arriving.size)
    out.forEach { case (id, cs) => assert(cs === batchCodes(id)) }
  }

  test("ragged or null embeddings fail the fit with a named error") {
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Bq.fit(ragged, "embedding")
    }
    assert(e.getMessage.contains("ragged"))
  }
}
