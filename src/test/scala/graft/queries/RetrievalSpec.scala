package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** Semantics + plan-shape guards for the retrieval pack (BM25, hybrid
  * RRF) and the SemDeDup prune.
  *
  * The BM25 known-value test pins the exact scoring formula (the
  * Lucene-form idf and the k1/b saturation) against a hand-computed
  * corpus — the DuckDB oracle proves Spark and DuckDB agree, this
  * proves BOTH match the published formula (a shared formula bug would
  * hash-match cross-engine and still be wrong). The plan pins mirror
  * SearchPlanSpec: ranking tails must be the bounded TopK aggregation,
  * never a corpus-wide `row_number()` window, and the query-term join
  * must broadcast (the corpus never shuffles on a term).
  */
class RetrievalSpec extends AnyFunSuite with SparkSpecBase {

  import spark.implicits._

  test("bm25 matches the hand-computed formula on a 3-doc corpus") {
    val d = Seq(
      (1L, Seq("a", "b", "a")),
      (2L, Seq("a", "c")),
      (3L, Seq("c", "c", "c"))
    ).toDF("doc_id", "toks")
    val qterms = Seq((1L, "a")).toDF("query_id", "term")
    val got = RetrievalQueries.bm25(d, qterms)
      .orderBy("doc_id")
      .select("doc_id", "score")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // N=3, avgdl=8/3, df(a)=2, idf=ln(1+(3-2+0.5)/(2+0.5))=ln(1.6)
    val idf = math.log(1.6)
    val k1 = RetrievalQueries.K1
    val b = RetrievalQueries.B
    def s(tf: Double, dl: Double): Double = {
      val raw = idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / (8.0 / 3)))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.toSeq === Seq((1L, s(2, 3)), (2L, s(1, 2))))
  }

  test("topDesc ranks by score desc with doc_id tie-break, bounded at k") {
    val scored = Seq(
      (1L, 10L, 2.0), (1L, 30L, 5.0), (1L, 20L, 5.0), (1L, 40L, 1.0),
      (2L, 10L, 1.0)
    ).toDF("query_id", "doc_id", "score")
    val got = RetrievalQueries.topDesc(scored, "score", 3, "score")
      .orderBy("query_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 1L, 20L, 5.0), (1L, 2L, 30L, 5.0), (1L, 3L, 10L, 2.0),
      (2L, 1L, 10L, 1.0)))
  }

  test("q_bm25_topk: contiguous ranks, non-increasing scores, rare term ranks over common") {
    val df = RetrievalQueries.queries("q_bm25_topk")(spark, sf("sf0.001"))
    val rows = df.collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted.toSeq
      assert(ranks === (1L to ranks.size).toSeq)
      val scores = rs.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(scores === scores.sorted.reverse, s"scores not descending: $scores")
    }
    // query 4 mixes "dup" (rare, high idf) with common terms: its top
    // score must exceed pure-common query 2's top score.
    def top(q: Long) = byQ(q).minBy(_.getLong(1)).getDouble(3)
    assert(top(4L) > top(2L))
  }

  test("q_bm25_topk plan: no Window (bounded TopK aggregation), broadcast term join") {
    val df = RetrievalQueries.queries("q_bm25_topk")(spark, sf("sf0.001"))
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("Window"), s"window top-k leaked into BM25 ranking:\n$p")
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin") || phys.contains("BroadcastNestedLoop"),
      s"query-term join did not broadcast:\n$phys")
    assert(phys.contains("ObjectHashAggregate"),
      s"TopK aggregation missing from the physical plan:\n$phys")
  }

  test("q_hybrid_rrf: self excluded, rrf consistent with contributing ranks") {
    val df = RetrievalQueries.queries("q_hybrid_rrf")(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)), "self-match leaked")
    val k = RetrievalQueries.RrfK
    rows.foreach { r =>
      val exp = (if (r.isNullAt(4)) 0.0 else 1.0 / (k + r.getLong(4))) +
        (if (r.isNullAt(5)) 0.0 else 1.0 / (k + r.getLong(5)))
      val expR = BigDecimal(exp).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expR) < 1e-9,
        s"rrf ${r.getDouble(3)} != $expR for row $r")
      assert(!(r.isNullAt(4) && r.isNullAt(5)), "fused row from neither retriever")
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= RetrievalQueries.TopKDocs)
    }
  }

  test("semdedupSummary: min-id keep rule, cluster-bounded (cross-cell dup survives)") {
    // vecs 1,2 near-identical in cell 0 -> 2 dropped, 1 kept; vec 3
    // orthogonal in cell 0 -> kept; vec 4 identical to 1 but in cell 1
    // -> NOT dropped (pairs only form within a cell).
    val e = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cells = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1)).toDF("vec_id", "cell")
    val got = SimilarityQueries.semdedupSummary(cells, e, 4L)
      .orderBy("cell")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(got.toSeq === Seq((0, 3L, 1L, true), (1, 1L, 0L, true)))
  }

  test("semdedupSummary: total_ok false when the assignment is incomplete") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cells = Seq((1L, 0)).toDF("vec_id", "cell") // vec 2 missing
    val got = SimilarityQueries.semdedupSummary(cells, e, 2L).collect()
    assert(got.forall(!_.getBoolean(4)), "missing assignment must break total_ok")
  }

  test("mmrSelect: first pick is argmax relevance; picks are distinct; ranks contiguous") {
    // two queries, 4 candidates each; sims below
    val cand = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7), (1L, 13L, 0.6),
      (2L, 20L, 0.5), (2L, 21L, 0.5), (2L, 22L, 0.4), (2L, 23L, 0.3)
    ).toDF("query_id", "doc_id", "rel")
    val sims = cand.select($"query_id", $"doc_id".as("a"))
      .join(cand.select($"query_id", $"doc_id".as("b")), "query_id")
      .where($"a" =!= $"b")
      .select($"query_id", $"a", $"b", lit(0.5).as("sim"))
    val got = RetrievalQueries.mmrSelect(cand, sims, 3, 0.5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect()
    // uniform sims => selection order is pure relevance, ties by doc_id
    assert(got.map(r => (r._1, r._2, r._3)).toSeq === Seq(
      (1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 20L), (2L, 2L, 21L), (2L, 3L, 22L)))
    assert(got.groupBy(_._1).forall(_._2.map(_._3).distinct.length == 3))
  }

  test("mmrSelect diversifies: with two clusters the second pick jumps clusters") {
    // query 1: docs 1,2 in cluster A (sim 0.99 to each other), docs 3,4
    // in cluster B; rel favors cluster A slightly. Plain top-2 = (1,2);
    // MMR at lambda 0.5 must pick 1 then jump to the B cluster.
    val cand = Seq(
      (1L, 1L, 0.90), (1L, 2L, 0.89), (1L, 3L, 0.80), (1L, 4L, 0.79)
    ).toDF("query_id", "doc_id", "rel")
    val simOf = Map(
      (1L, 2L) -> 0.99, (2L, 1L) -> 0.99, (3L, 4L) -> 0.99, (4L, 3L) -> 0.99)
    val sims = (for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (1L, a, b, simOf.getOrElse((a, b), 0.1)))
      .toDF("query_id", "a", "b", "sim")
    val got = RetrievalQueries.mmrSelect(cand, sims, 3, 0.5)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(got(0)._3 === 1L, s"first pick must be argmax rel: ${got.toSeq}")
    assert(got(1)._3 === 3L, s"second pick must jump to the far cluster: ${got.toSeq}")
  }

  test("Mmr.select (aggregator) is row-identical to mmrSelect (unrolled reference)") {
    // real geometry: top-8 cosine candidates of 5 query docs over the
    // testdata embeddings, pairwise sims among them
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.where($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val scored = q.join(e, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(graft.functions.exprs.cosineDistNative($"qv", $"embedding"), 6)
          .as("dist"))
    val cand = graft.ann.TopK.perQueryTopK(scored, 8)
      .select($"query_id", $"vec_id".as("doc_id"), (lit(1.0) - $"dist").as("rel"))
    val sims = cand.select($"query_id", $"doc_id".as("a"))
      .join(cand.select($"query_id", $"doc_id".as("b")), "query_id")
      .where($"a" =!= $"b")
      .join(e.select($"vec_id".as("a"), $"embedding".as("ea")), "a")
      .join(e.select($"vec_id".as("b"), $"embedding".as("eb")), "b")
      .select($"query_id", $"a", $"b",
        (lit(1.0) - round(graft.functions.exprs.cosineDistNative($"ea", $"eb"), 6))
          .as("sim"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .as[(Long, Long, Long, Double)].collect().toSeq
    val a = rows(graft.retrieval.Mmr.select(cand, sims, 4, 0.5))
    val b = rows(RetrievalQueries.mmrSelect(cand, sims, 4, 0.5))
    assert(a === b, "aggregator and unrolled MMR disagree")
    assert(a.nonEmpty && a.map(_._1).distinct.length === 5)
  }

  test("Mmr.select survives sparse sims (candidates without pairs are skipped, no crash)") {
    // doc 12 has NO sim rows at all: after doc 10 is picked, 12 can
    // never be compared and must be skipped — never a -Infinity score
    // blowing up the rounding (review finding)
    val cand = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7))
      .toDF("query_id", "doc_id", "rel")
    val sims = Seq((1L, 10L, 11L, 0.3), (1L, 11L, 10L, 0.3))
      .toDF("query_id", "a", "b", "sim")
    val got = graft.retrieval.Mmr.select(cand, sims, 3, 0.5)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._3).toSeq === Seq(10L, 11L),
      s"sparse-sims selection should pick only comparable docs: ${got.toSeq}")
  }

  test("q_mmr_rerank plan: bounded TopK argmax tails, no corpus-wide Window") {
    val q = RetrievalQueries.queries("q_mmr_rerank")
    val plan = q(spark, sf("sf0.001")).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"window in MMR plan:\n$plan")
  }

  test("tokVec derives the md5 ±1 sign rule (RandomProjection convention keyed by token)") {
    def sign(tok: String, j: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tok,$j".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
    val toks = Seq("vector", "dup", "a")
    val got = toks.toDF("tok")
      .select(col("tok"), RetrievalQueries.tokVec(col("tok")).as("tv"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    toks.foreach { t =>
      val want = (0 until RetrievalQueries.MaxSimDims).map(j => sign(t, j))
      assert(got(t) == want, s"token '$t': ${got(t)} != $want")
    }
  }

  test("maxsimScores is Σ over query tokens of max over doc tokens") {
    val p = Seq.fill(RetrievalQueries.MaxSimDims)(1.0)
    val n = Seq.fill(RetrievalQueries.MaxSimDims)(-1.0)
    // query has one all-+1 and one all-−1 token; doc 10 carries a best
    // match for EACH (maxsim 1+1=2), doc 20 only for the first (1−1=0)
    val qt = Seq((1L, "A", p), (1L, "B", n)).toDF("query_id", "tok", "tv")
    val dt = Seq((10L, "X", p), (10L, "Y", n), (20L, "X", p))
      .toDF("doc_id", "dtok", "dv")
    val cands = Seq((1L, 10L), (1L, 20L)).toDF("query_id", "doc_id")
    val got = RetrievalQueries.maxsimScores(cands, qt, dt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 10L, 2.0), (1L, 20L, 0.0)))
  }
}
