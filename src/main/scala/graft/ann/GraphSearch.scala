package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy beam search over a k-NN graph — the search half of a
  * graph-based ANN index (the NSW/NSG family's layer-0 walk: keep a
  * beam of the best-so-far nodes, expand their graph neighbors, rescore,
  * cut back to the beam, repeat). Pairs with [[KnnGraph]] /
  * [[NnDescent]] as the build half.
  *
  * Spark shape: the beam is (query_id, node) rows — ≤ beamWidth per
  * query; each hop is one edge-list join (keyed on the node id — the
  * graph never broadcasts and never shuffles corpus-wide), one dedup,
  * one vector join to score NEW candidates, and one bounded [[TopK]]
  * cut. Hop count is fixed, so the whole search is `hops` bounded
  * rounds regardless of corpus size; per-hop frontier is at most
  * beamWidth × (graph degree + 1) rows per query. The beam is
  * materialized per hop (the MMR lesson, SCALE.md round 9: bounded
  * per-query loop state must not re-execute the previous rounds).
  *
  * Determinism: scores are distances rounded to `roundTo`, beam cuts
  * and the final top-k tie-break on (dist, node) — the [[TopK]]
  * contract, replayed hop-for-hop by the DuckDB oracle from the dumped
  * edge list. The walk searches the SYMMETRIZED graph (an edge serves
  * both endpoints), standard for NSW-style reachability.
  *
  * Beam-only frontier: beam_h = top-beamWidth of
  * (beam_{h-1} ∪ neighbors(beam_{h-1})) — carried-over nodes keep the
  * beam monotone non-worsening; the final answer is the top-k of the
  * last beam (beamWidth ≥ k required).
  *
  * Exploration scaling (measured, GraphSearchSpec, 50-cluster corpus):
  * recall is bounded by how many distinct regions the DESCENT touches —
  * once the beam saturates with one region's nodes, the greedy cut
  * drops every long-range candidate, so extra hops stop helping
  * (16 entries / beam 16: 0.86 at 4 hops, 0.90 at 6 — plateau); widening
  * the entry set and beam is what buys coverage (32/32: >0.95). Size
  * entries ∝ the cluster count you need resolved, not the corpus.
  */
object GraphSearch {

  /** Persist a (src, dst) edge list PRE-SYMMETRIZED and bucketed by
    * `src`. The cost this kills is the walk's own prep: [[beamFrom]]
    * must otherwise symmetrize + dropDuplicates per CALL — a full
    * shuffle of the n×k edge table before the first hop. A graph
    * reopened with [[loadBucketed]] passes `symmetrize = false` and the
    * hop joins run broadcast-frontier against the stored table with
    * zero graph-side Exchange (asserted in GraphSearchSpec); the
    * bucket layout additionally pre-partitions `src` for any
    * downstream degree/CC aggregation. */
  def saveBucketed(graph: DataFrame, name: String,
                   nBuckets: Int = 64): Unit = {
    graph.select(col("src"), col("dst"))
      .unionByName(graph.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
      .write.mode("overwrite")
      .bucketBy(nBuckets, "src").sortBy("src")
      .saveAsTable(s"${name}_edges")
  }

  /** Reopen a bucketed edge table saved by [[saveBucketed]] — already
    * symmetrized and deduplicated; pass `symmetrize = false` to the
    * walk so it skips its per-call shuffle prep entirely. */
  def loadBucketed(spark: org.apache.spark.sql.SparkSession,
                   name: String): DataFrame =
    spark.table(s"${name}_edges")

  /** Drop managed tables AND their warehouse locations: a prior
    * process's location survives the (no-op) DROP in a fresh session's
    * catalog, and the next saveAsTable refuses with
    * LOCATION_ALREADY_EXISTS. The location derives from the session's
    * warehouse conf — probes, specs, and the query packs were each
    * hand-rolling this with divergent cwd-relative literals. */
  def dropManagedTables(spark: org.apache.spark.sql.SparkSession,
                        tables: String*): Unit = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      fs.delete(new org.apache.hadoop.fs.Path(wh,
        t.toLowerCase(java.util.Locale.ROOT)), true)
    }
  }

  /** Append an edge DELTA (e.g. [[insert]]'s new-node edges) to a
    * stored bucketed graph, symmetrized with the same bucket layout —
    * the write half of the streaming maintenance loop
    * (StreamingGraphInsertSpec): each arriving micro-batch's insert
    * delta lands as new bucket files, no rewrite of the existing graph.
    * The delta is deduplicated within itself only; [[insert]] deltas
    * are disjoint from the stored edges by construction (every delta
    * edge touches a node id the store has never seen), which is what
    * makes blind append sound. `nBuckets` must match the original
    * [[saveBucketed]] call. */
  def appendBucketed(delta: DataFrame, name: String,
                     nBuckets: Int = 64): Unit =
    delta.select(col("src"), col("dst"))
      .unionByName(delta.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")
      .write.mode("append")
      .bucketBy(nBuckets, "src").sortBy("src")
      .saveAsTable(s"${name}_edges")

  /** Online insert — the NSW insert operation, batched: each NEW vector
    * finds its k nearest existing nodes by beam-searching the CURRENT
    * graph (new vectors play the query role), becomes a node with those
    * as out-edges, and its neighbors gain capped reverse edges (the
    * NSW/HNSW bidirectional-link step — the cap keeps old nodes' degree
    * bounded as inserts accumulate). Returns the extended (src, dst,
    * dist) edge list; edges AMONG the arriving batch are found by the
    * next batch's searches or a periodic [[NnDescent.refine]] pass —
    * the standard amortization (insert is O(batch × beam work),
    * independent of graph size beyond the walk itself).
    *
    * Streaming shape: like beam serving (StreamingGraphServeSpec), run
    * per micro-batch via foreachBatch against the stored graph, then
    * [[appendBucketed]] the delta — the graph twin of the SQ/BQ
    * codes-append maintenance path (stream==batch identity:
    * StreamingGraphInsertSpec).
    *
    * Degree-growth caveat: `maxReverseDegree` caps in-links PER BATCH —
    * over B batches an attractive hub can still accumulate up to
    * cap × B in-links. A long-running maintenance loop MUST schedule a
    * periodic [[NnDescent.refine]] pass (which rebuilds every node's
    * edge list as a bounded top-k, restoring the degree invariant
    * globally); that periodic pass is a requirement of the insert
    * amortization story, not an optimization. */
  def insert(graph: DataFrame, vectors: DataFrame, idCol: String,
             vecCol: String, newVectors: DataFrame, k: Int,
             beamWidth: Int, hops: Int, entries: DataFrame,
             maxReverseDegree: Int = 2,
             metric: ExactNN.Metric = ExactNN.Cosine,
             roundTo: Int = 6, symmetrize: Boolean = true,
             excluded: Option[DataFrame] = None): DataFrame = {
    // `excluded` (pending tombstones): arrivals must not LINK to deleted
    // nodes (walks still route through them — beamFrom's serving rule)
    val q = newVectors.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val found = beamFrom(graph, vectors, idCol, vecCol, q,
      entries, k, beamWidth, hops, metric, roundTo, symmetrize, excluded)
    val outEdges = found.select(col("query_id").as("src"),
      col("vec_id").as("dst"), col("dist"))
    // capped reverse links: each EXISTING node accepts at most
    // maxReverseDegree new in-links per batch, best-first — the degree
    // guard that stops a hub from absorbing every insert
    val revEdges = TopK.perQueryTopK(
        outEdges.select(col("dst").as("query_id"), col("src").as("vec_id"),
          col("dist")),
        maxReverseDegree)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("dist"))
    graph.select(col("src"), col("dst"), col("dist"))
      .unionByName(outEdges)
      .unionByName(revEdges)
      .dropDuplicates("src", "dst")
  }

  /** Deterministic connectivity backbone: `jumps` hash-derived
    * long-range edges per node (xxhash target index, no RNG). A pure
    * k-NN graph on clustered data is DISCONNECTED islands (measured,
    * GraphSearchSpec: beam recall collapses to exactly the entry set's
    * cluster coverage — 0.40 with entries in 2 of 50 clusters). Random
    * long links are the property NSW/HNSW construction keeps for
    * exactly this reason (and Kleinberg's small-world result: random
    * shortcuts give poly-log reachability, where a ring's diameter n
    * would defeat a bounded-hop walk). Union into `graph` before
    * searching a corpus whose cluster structure is unknown.
    *
    * Rank-free scale path: when ids are integral and DENSE (min 0,
    * max n−1 — the contract of every testdata and ann-benchmarks id
    * space, detected with one map-side min/max/count agg), the hash
    * target IS the destination id — `pmod(xxhash64(id, j), n)` — no
    * rank, no join, no sort anywhere; the edge list is a pure
    * projection of the node list. Sparse/string ids fall back to an
    * `RDD.zipWithIndex` rank (partition-parallel: one count-per-
    * partition pass plus a map — never a single-partition global sort),
    * with the index frame cached across its count() and both join
    * sides. Both paths produce identical edges to the original
    * row_number form on dense ids (the rank of a dense id is itself). */
  def randomBackbone(vectors: DataFrame, idCol: String,
                     jumps: Int = 2): DataFrame = {
    val nodes = vectors.select(col(idCol).as("node"))
    val integral = nodes.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (integral) {
      // count==n ∧ min==0 ∧ max==n−1 does NOT imply distinctness
      // (0,2,2,3 passes all three) — and a duplicated id would let the
      // hash target land on an id no row holds, emitting edges to
      // nonexistent nodes. count_distinct closes that hole in the same
      // single aggregate pass (partial_count_distinct map-side).
      val st = nodes.agg(count(lit(1)).as("n"),
        count_distinct(col("node")).as("nd"),
        min(col("node").cast("long")).as("mn"),
        max(col("node").cast("long")).as("mx")).head()
      val n = st.getLong(0)
      if (n > 0 && st.getLong(1) == n && st.getLong(2) == 0L &&
          st.getLong(3) == n - 1)
        return nodes.select(col("node").as("src"),
            explode(sequence(lit(0), lit(jumps - 1))).as("j"))
          .select(col("src"),
            pmod(xxhash64(col("src").cast("long"), col("j")), lit(n))
              .cast(nodes.schema.head.dataType).as("dst"))
          .where(col("src") =!= col("dst"))
          .select("src", "dst")
    }
    // sparse/string ids: partition-parallel rank via zipWithIndex
    val spark = vectors.sparkSession
    val sorted = nodes.orderBy("node")
    val idx = spark.createDataFrame(
        sorted.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row(r.get(0), i)
        },
        org.apache.spark.sql.types.StructType(Seq(
          sorted.schema.head,
          org.apache.spark.sql.types.StructField("i",
            org.apache.spark.sql.types.LongType, nullable = false))))
      .persist()
    val n = idx.count()
    val edges = idx.select(col("node").as("src"), col("i"),
        explode(sequence(lit(0), lit(jumps - 1))).as("j"))
      .select(col("src"), pmod(xxhash64(col("i"), col("j")), lit(n)).as("ti"))
      .join(idx.select(col("i").as("ti"), col("node").as("dst")), "ti")
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
    graft.text.Dedup.materializeRelease(edges, idx)
  }

  /** Walk-ready edge list: symmetrize+dedup is a full edge-table
    * shuffle per call — skipped (`symmetrize = false`) for graphs
    * stored pre-symmetrized by [[saveBucketed]], whose hop joins then
    * plan with no edge-table Exchange at all (GraphSearchSpec asserts
    * the contrast on this exact frame). */
  /** Per-label RING edges — intra-label connectivity insurance for
    * filter-aware serving: [[graft.ann.KnnGraph.fromLshSameLabel]]'s
    * edges are LOCAL by construction (same-label pairs sharing an LSH
    * bucket), so a sparse label scattered across clusters would still
    * fragment into islands; the ring chains each label's members in
    * xxhash64(id) order (a deterministic random cycle), guaranteeing
    * every allowed node is reachable from any allowed seed, the same
    * duty [[randomBackbone]] performs for the unfiltered graph. One
    * Window partitioned BY LABEL VALUE — partition-parallel across
    * values; each value's members sort within one partition, fine for
    * the many-moderate-labels shape this exists for. A label value
    * owning a giant fraction of a 100 TB corpus needs the
    * [[randomBackbone]] dense-projection treatment applied per label
    * instead (rank-free), not this ring. */
  def labelRing(vectors: DataFrame, idCol: String,
                labelCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lbl")).orderBy(xxhash64(col("src")), col("src"))
    vectors.select(col(idCol).as("src"), col(labelCol).as("lbl"))
      .withColumn("nxt", lead(col("src"), 1).over(w))
      .withColumn("fst", first(col("src")).over(w))
      .select(col("src"), coalesce(col("nxt"), col("fst")).as("dst"))
      .where(col("src") =!= col("dst"))
  }

  private[graft] def undirected(graph: DataFrame,
                                symmetrize: Boolean): DataFrame =
    if (!symmetrize) graph.select(col("src"), col("dst"))
    else graph.select(col("src"), col("dst"))
      .unionByName(graph.select(col("dst").as("src"), col("src").as("dst")))
      .dropDuplicates("src", "dst")

  /** @param graph   (src, dst) edge list (directions are symmetrized here)
    * @param vectors (vec_id, `vecCol`) for scoring
    * @param queries (query_id, qv) — the broadcast-small side
    * @param entry   global entry node ids (every query starts here)
    */
  def beam(graph: DataFrame, vectors: DataFrame, idCol: String,
           vecCol: String, queries: DataFrame, entry: Seq[Long], k: Int,
           beamWidth: Int, hops: Int,
           metric: ExactNN.Metric = ExactNN.Cosine,
           roundTo: Int = 6): DataFrame = {
    import queries.sparkSession.implicits._
    beamFrom(graph, vectors, idCol, vecCol, queries,
      queries.select(col("query_id")).crossJoin(entry.toDF("node")),
      k, beamWidth, hops, metric, roundTo)
  }

  /** Beam search from PER-QUERY entry nodes — the scale form. Global
    * fixed entries only resolve what their descent paths happen to
    * touch (measured at 100k×10k-cluster scale: recall 0.02 — uniform
    * backbone links give connectivity, not navigability, exactly
    * Kleinberg's theorem that uniform shortcuts route in √n, not
    * polylog). Production graph serving seeds the walk from a coarse
    * index instead — LSH bucket probes or IVF cells supply each query a
    * locally-relevant entry set, and the graph walk expands/refines it
    * (the DiskANN-style composition; measured in SCALE.md §k-NN-graph
    * scale probe:
    * LSH-seeded entries at 100k restore recall 1.000 at ~23-37 ms/query
    * batched, vs 0.02 for 32 global entries on the same graph and
    * protocol).
    *
    * `entries` is (query_id, node). */
  /** `excluded`: tombstoned node ids (streaming deletes before the next
    * consolidation pass, [[graft.ann.GraphMaintainer]]). The
    * FreshDiskANN serving rule (arXiv:2105.09613 §4): walks still ROUTE
    * THROUGH deleted nodes — cutting them from the frontier would sever
    * the paths they anchor until the refine rewires them — but the
    * final k-cut filters them, so a deleted id is never SERVED. Size
    * `beamWidth ≥ k + expected deleted-per-beam`; the filter runs on
    * the final beam (≤ queries × beamWidth rows, broadcast anti-join).
    *
    * `allowed`: a BOOLEAN COLUMN over the `vectors` frame's columns —
    * constrained (metadata-filtered) graph search, the Filtered-DiskANN
    * serving rule (arXiv:2211.12850 applied to serving, not index
    * construction): the walk still routes through DISALLOWED nodes
    * (they carry the graph's navigability — pre-filtering the frontier
    * disconnects it, the same collapse measured for LSH
    * probe-then-filter in SCALE.md §filtered ANN), while a separate
    * best-k pool accumulates ONLY allowed nodes from every hop's scored
    * candidates, not just the final beam (the final beam may hold
    * mostly disallowed rows precisely when the filter is selective).
    * Because the predicate is a column over `vectors`, membership is
    * evaluated MAP-SIDE inside the scoring join — no allow-list
    * materialization, no extra corpus pass, no per-hop join against an
    * allowed table; the extra cost is one bounded k-cut per hop. For
    * HIGHLY selective predicates prefer the [[FilteredSearch]]
    * dispatch ([[beamFromFiltered]]), which brute-forces the allowed
    * subset below the cutoff.
    *
    * `pruneScanMax` (> 0 to enable): point-lookup serving against
    * STORED tables. Each hop collects the beam's driver-bounded ids
    * (the same rows the broadcast already ships) and pre-filters the
    * edge and vector reads with an InSet, which bucket-FILE-prunes a
    * [[saveBucketed]] graph and an id-bucketed vector table. Results
    * are IDENTICAL — the InSet only names rows the hop join keeps
    * anyway (BeamPruneSpec) — but whether it's FASTER is a geometry
    * question the numbers answer harshly: hash-bucketing means a
    * frontier of f ids leaves a bucket untouched with probability
    * (1 - 1/nBuckets)^f, so pruning only bites when the frontier is
    * SMALL relative to the bucket count. A batch of 1000 queries ×
    * beam 32 hits every bucket of a 64-bucket 1M-node store and pays
    * the per-hop collects + InSet planning for nothing — measured
    * 143 s vs 12 s full-scan (SCALE.md §Index lifecycle). Keep the default 0
    * (off) for batched serving; consider it only for few-query
    * low-latency lookups against stores whose bucket count dwarfs
    * queries × beamWidth (and measure — the refine-side twin,
    * [[graft.ann.GraphMaintainer.scopePruneMax]], gates itself on
    * table size for the same reason). A frontier past the cap runs
    * that hop unpruned. */
  def beamFrom(graph: DataFrame, vectors: DataFrame, idCol: String,
               vecCol: String, queries: DataFrame, entries: DataFrame,
               k: Int, beamWidth: Int, hops: Int,
               metric: ExactNN.Metric = ExactNN.Cosine,
               roundTo: Int = 6, symmetrize: Boolean = true,
               excluded: Option[DataFrame] = None,
               allowed: Option[org.apache.spark.sql.Column] = None,
               pruneScanMax: Int = 0): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    val und0 = undirected(graph, symmetrize)
    val vecs = allowed match {
      case Some(p) => vectors.select(col(idCol).as("node"),
        col(vecCol).as("nv"), p.cast("boolean").as("ok"))
      case None => vectors.select(col(idCol).as("node"), col(vecCol).as("nv"))
    }
    val q = broadcast(queries.select(col("query_id"), col("qv")))

    // The walk's per-hop state is the SMALL side by the algorithm's own
    // contract: the frontier is ≤ queries × beamWidth rows (the output
    // of a top-beamWidth cut — a hard bound, not an estimate), and the
    // scored candidate set is frontier × (degree + 1), bounded by the
    // graph's degree invariant (k-NN construction; GraphMaintainer's
    // scheduled refine restores it under streaming inserts). Broadcast
    // both so NEITHER the edge table nor the vector table shuffles on
    // any hop — the corpus-scale sides are probed in place, which is
    // both the 100 TB shape (a per-hop edge/corpus shuffle would be the
    // walk's scale killer on non-bucketed graphs) and, measured at
    // sf0.1, ~2x off the board walks' wall time (per-hop stage latency
    // was 4 shuffles, now the dedup + top-k pair only).
    //
    // The bound is per QUERY BATCH: the forced broadcast collects
    // ~batch × beamWidth × (degree + 1) rows to the driver per hop, so
    // a serving loop must size its micro-batches accordingly (e.g. 10k
    // queries × beam 32 × degree 17 ≈ 5.4M skinny rows — fine; a
    // million-query batch is not — split it). Degree is part of the
    // bound: run GraphMaintainer's scheduled refine (or watch its
    // degree watermark) so hub growth under streaming inserts doesn't
    // silently inflate the frontier fan-out.
    def score(cands: DataFrame,
              candIds: Option[IndexedSeq[Long]] = None): DataFrame = {
      // candIds (pruned serving): the vector probe reads only the
      // candidate ids' buckets/row-groups instead of the corpus — the
      // InSet is a superset of the join's matches, so the result is
      // unchanged
      val v = candIds.fold(vecs)(ids =>
        vecs.where(col("node").isInCollection(ids)))
      val scored = v.join(broadcast(cands), "node")
        .join(q, "query_id")
      val out = Seq(col("query_id"), col("node"),
        round(metric.dist(col("qv"), col("nv")), roundTo).as("dist")) ++
        (if (allowed.isDefined) Seq(col("ok")) else Nil)
      scored.select(out: _*)
    }
    // bounded frontier-id collection for pruned serving: None when
    // disabled or past the cap (the hop then runs the full-scan form)
    // cast to long before collecting: the unpruned path is type-generic,
    // so an Int-id store must not fail only when pruning is enabled
    // (isInCollection coerces the column side back for the filter)
    def collectIds(df: DataFrame, cap: Int): Option[IndexedSeq[Long]] =
      if (cap <= 0) None
      else {
        val t = df.select(col(df.columns.head).cast("long"))
          .distinct().limit(cap + 1).collect()
        if (t.length > cap) None else Some(t.map(_.getLong(0)).toIndexedSeq)
      }

    // Distinct-aware bounded cut (TopK.topKDistinct): candidate rows
    // arrive WITH duplicates — a node reached from several beam nodes,
    // plus the carry-over union — and the buffer skips equal
    // (dist, node) pairs on insert, so the per-hop dedup that used to
    // be its own dropDuplicates EXCHANGE costs nothing: one shuffle
    // per hop total, identical rows (dist is a pure function of
    // (query, node), so duplicates always carry equal dists).
    def cut(scored: DataFrame, width: Int): DataFrame =
      scored
        .groupBy("query_id")
        .agg(TopK.topKDistinct(width)(col("node"), col("dist")).as("nn"))
        .select(col("query_id"), explode(col("nn")).as("n"))
        .select(col("query_id"), col("n.vec_id").as("node"),
          col("n.dist").as("dist"))

    // Each hop's beam is LAZILY localCheckpoint-ed: the per-query loop
    // state must not re-execute previous rounds (the MMR lesson,
    // SCALE.md round 9) — each hop references its predecessor twice
    // (neighbor expansion + carry-over union), so an unpersisted chain
    // re-evaluates 2^hops times. An EAGER materialization per hop costs
    // one scheduled job per hop (~1 s/hop stage latency at sf0.1), and
    // plain persist() keeps the EXECUTION linear but NOT the plan TREE:
    // the cached plan is substituted as an InMemoryRelation that still
    // nests its child plan, and every action renders the plan string
    // for the SQL listener — a doubly-referenced chain prints 2^hops
    // copies of the base plan (×2 again under AQE's current+initial
    // rendering), which at hops=8 is a multi-GB string and a driver OOM
    // in explainString (the r11 GraphDeleteSpec failure). Lazy
    // checkpoint gets both: the logical plan truncates to a LogicalRDD
    // leaf IMMEDIATELY (plans, canonicalization, and explain strings
    // stay linear per hop) while the RDD materializes inside the single
    // final job, each hop's blocks persisted on first compute and
    // reused by the second reference. Hop RDDs are released explicitly
    // once the result materializes — a serving loop calling beamFrom
    // per micro-batch (StreamingGraphServeSpec's pattern) pins nothing
    // between calls. Lineage caveat (same note as connectedComponents):
    // checkpoint trades recompute-on-loss for bounded plans — on a
    // cluster with executor-loss concerns, swap for reliable
    // checkpoint(dir).
    val hopRdds = scala.collection.mutable.ListBuffer.empty[
      org.apache.spark.rdd.RDD[_]]
    def hopCheckpoint(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(eager = false)
      ck.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          hopRdds += lr.rdd
        case _ =>
      }
      ck
    }
    // Constrained-search pool: the best k ALLOWED nodes seen at ANY hop
    // (the beam's own carry-over makes the final beam the global
    // top-beamWidth of visited nodes, but that argument only holds for
    // the unfiltered order — an allowed node can fall out of the beam
    // to disallowed rows and must still be servable). `absorb` shares
    // one lazy checkpoint of the hop's scored candidates between the
    // beam cut and the pool cut, so filtering adds zero extra scoring
    // passes — one bounded k-cut per hop is the whole cost. The
    // unfiltered path is UNTOUCHED plan-for-plan (absorb is identity).
    // Symmetrize ONCE per walk, not once per hop: `und` is referenced
    // by every hop's expansion join, and because each hop's beam plan
    // is checkpoint-truncated, each hop's execution would otherwise
    // re-run the union + dropDuplicates shuffle over the full edge
    // table — (hops + 1) redundant O(E) dedup rounds per walk (guide
    // §2.4: remove shuffles outright). The lazy checkpoint
    // materializes inside the first hop's job and is released with
    // the hop RDDs. The pre-symmetrized path (symmetrize = false)
    // keeps the raw scan: a bucketed store plans it with zero
    // Exchange, and a checkpoint would only pin corpus-sized blocks.
    val und = if (symmetrize) hopCheckpoint(und0) else und0
    // `absorb` shares one lazy checkpoint of the hop's scored
    // candidates between the beam cut and the pool, and only COLLECTS
    // the hop's allowed rows — the pool is cut ONCE after the loop:
    // iterated per-hop top-w over unions equals top-w of the total
    // union (bounded top-k is idempotent/associative over unions), so
    // deferring the cut deletes one aggregation Exchange per hop at
    // identical rows (guide §2.4).
    var allowedParts: List[DataFrame] = Nil
    def absorb(scored: DataFrame): DataFrame = allowed match {
      case None => scored
      case Some(_) =>
        val ck = hopCheckpoint(scored)
        allowedParts ::= ck.where(col("ok"))
          .select(col("query_id"), col("node"), col("dist"))
        ck
    }
    val entryIds = collectIds(entries.select(col("node")), pruneScanMax)
    var beam = hopCheckpoint(cut(absorb(score(entries, entryIds)),
      beamWidth))
    for (_ <- 1 to hops) {
      val beamIds = collectIds(beam.select(col("node")), pruneScanMax)
      // pruned hop: the edge read is an InSet on the bucket column
      // (src) — only the frontier's buckets are scanned; the bounded
      // slice is checkpointed once and feeds both the expansion join
      // and the dst-id collect that prunes the vector probe
      val (edges, candIds) = beamIds match {
        case Some(ids) =>
          val slice = hopCheckpoint(
            und.where(col("src").isInCollection(ids)))
          // the vector probe's InSet is held to the SAME cap: a
          // frontier×degree dst set can reach hundreds of thousands of
          // ids, and an In expression that size costs more in analysis
          // + task-closure shipping than the scan it prunes (measured,
          // SCALE.md §Index lifecycle) — past the cap only the edge
          // read prunes
          val dstIds = collectIds(slice.select(col("dst")), pruneScanMax)
          (slice, dstIds.map(d => (d ++ ids).distinct))
        case None => (und, None)
      }
      val nbrs = edges
        .join(broadcast(beam.select(col("query_id"), col("node").as("src"))),
          "src")
        .select(col("query_id"), col("dst").as("node"))
      // no dropDuplicates: duplicate (query, node) candidates score
      // map-side (each is one extra codegen'd distance) and collapse
      // in the cut's distinct-aware buffer — trading bounded duplicate
      // compute for a whole per-hop shuffle round
      val cands = nbrs.unionByName(beam.select(col("query_id"), col("node")))
      beam = hopCheckpoint(cut(absorb(score(cands, candIds)), beamWidth))
    }
    val pool = allowed match {
      case None => beam
      case Some(_) =>
        val all = allowedParts.reduce(_ unionByName _)
        // the beamWidth (not k) pool cut only matters when `excluded`
        // rows must not evict live allowed candidates before the
        // anti-join (the `beamWidth ≥ k + expected deletes` slack);
        // with no exclusions the final k-cut below subsumes it — the
        // k-prefix of a top-w order IS the top-k — so skip the extra
        // aggregation entirely
        if (excluded.isDefined) cut(all, beamWidth) else all
    }
    val served = excluded.fold(pool) { t =>
      pool.join(broadcast(t.select(col("vec_id").as("node"))),
        Seq("node"), "left_anti")
    }
    val result = graft.text.Dedup.materializeRelease(
      cut(served.select(col("query_id"), col("node"), col("dist")), k)
        .select(col("query_id"), col("node").as("vec_id"), col("dist")))
    hopRdds.foreach(_.unpersist(false))
    result
  }

  /** ONE walk serving SEVERAL beamWidth operating points — the sweep
    * form of [[beamFrom]] (the `q_autotune_graph_beam` arms). The
    * per-(arm, query) beams evolve independently, so |widths| separate
    * walks compute row-identical results — but each separate walk pays
    * its own Exchange + broadcast pair per hop, and at sweep shapes
    * that triples every hop's scheduled-job latency. Here the arm
    * dimension rides the rows instead: every frame is keyed
    * (arm, query_id), each hop is ONE expansion join + ONE scoring
    * pass + ONE bounded cut for all arms together.
    *
    * Row-for-row identity with the per-arm walks (spec-pinned,
    * GraphSearchSpec "beamFromWidths"): a beam cut at width w is the
    * w-prefix of the distinct-aware (dist, node) order, and the
    * [[TopK.topKDistinct]] buffer at capacity max(widths) holds the
    * max-width smallest distinct pairs — so `slice(nn, 1, arm)` IS the
    * capacity-`arm` buffer's content, hop for hop (the buffer keeps
    * pairs sorted; dedup-evicted pairs fail the same rank test at any
    * capacity ≥ w). Scoring, rounding, and the final k-cut are the
    * same code paths as [[beamFrom]].
    *
    * Plain-walk form only (no filtered pool / tombstones / pruned
    * scans — the sweep grades raw operating points; compose those
    * features per-arm via [[beamFrom]] when needed).
    *
    * @param widths strictly ascending beamWidth arms, all ≥ k
    * @return (arm, query_id, vec_id, dist) — arm = the beamWidth
    */
  def beamFromWidths(graph: DataFrame, vectors: DataFrame, idCol: String,
                     vecCol: String, queries: DataFrame, entries: DataFrame,
                     k: Int, widths: Seq[Int], hops: Int,
                     metric: ExactNN.Metric = ExactNN.Cosine,
                     roundTo: Int = 6,
                     symmetrize: Boolean = true): DataFrame = {
    require(widths.nonEmpty, "beamFromWidths: empty width list")
    require(widths == widths.sorted && widths.distinct == widths,
      s"beamFromWidths: widths must be strictly ascending (got $widths)")
    require(widths.forall(_ >= k),
      s"beamFromWidths: every width must be >= k=$k (got $widths)")
    val spark = queries.sparkSession
    import spark.implicits._
    val maxW = widths.max
    val armsDf = widths.toDF("arm")
    val vecs = vectors.select(col(idCol).as("node"), col(vecCol).as("nv"))
    val q = broadcast(queries.select(col("query_id"), col("qv")))
    val hopRdds = scala.collection.mutable.ListBuffer.empty[
      org.apache.spark.rdd.RDD[_]]
    def hopCheckpoint(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(eager = false)
      ck.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          hopRdds += lr.rdd
        case _ =>
      }
      ck
    }
    val und = {
      val u = undirected(graph, symmetrize)
      if (symmetrize) hopCheckpoint(u) else u
    }
    // the arm replication is a 3-ish-row broadcast nested-loop — no
    // shuffle; qv stays OUT of the replicated frames (the scoring join
    // reattaches it per query_id, identical for every arm)
    val entriesA = entries.select(col("query_id"), col("node"))
      .crossJoin(broadcast(armsDf))
    def score(cands: DataFrame): DataFrame =
      vecs.join(broadcast(cands), "node")
        .join(q, "query_id")
        .select(col("arm"), col("query_id"), col("node"),
          round(metric.dist(col("qv"), col("nv")), roundTo).as("dist"))
    // one distinct-aware buffer at the MAX width; each arm's beam is
    // the sorted buffer's arm-prefix (identity argument in the doc)
    def cutBeams(scored: DataFrame): DataFrame =
      scored.groupBy("arm", "query_id")
        .agg(TopK.topKDistinct(maxW)(col("node"), col("dist")).as("nn"))
        .select(col("arm"), col("query_id"),
          explode(slice(col("nn"), lit(1), col("arm"))).as("n"))
        .select(col("arm"), col("query_id"), col("n.vec_id").as("node"),
          col("n.dist").as("dist"))
    var beam = hopCheckpoint(cutBeams(score(entriesA)))
    for (_ <- 1 to hops) {
      val nbrs = und
        .join(broadcast(beam.select(col("arm"), col("query_id"),
          col("node").as("src"))), "src")
        .select(col("arm"), col("query_id"), col("dst").as("node"))
      val cands = nbrs.unionByName(
        beam.select(col("arm"), col("query_id"), col("node")))
      beam = hopCheckpoint(cutBeams(score(cands)))
    }
    val result = graft.text.Dedup.materializeRelease(
      beam.groupBy("arm", "query_id")
        .agg(TopK.topKDistinct(k)(col("node"), col("dist")).as("nn"))
        .select(col("arm"), col("query_id"), explode(col("nn")).as("n"))
        .select(col("arm"), col("query_id"), col("n.vec_id").as("vec_id"),
          col("n.dist").as("dist")))
    hopRdds.foreach(_.unpersist(false))
    result
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-query allowed count within the walk's LOCAL neighborhood —
    * the density estimate behind [[beamFromFiltered]]'s routing: each
    * query's entry nodes are expanded ONE graph hop (exactly the
    * walk's first candidate set), scored, cut to the `beamWidth`
    * NEAREST in the UNFILTERED order (the region the greedy descent
    * converges into), and the allowed rows among them counted.
    * Returns (query_id, local_allowed).
    *
    * Why this and not selectivity: the 1M measurement (SCALE.md
    * §filtered ANN, round 14) shows filtered-walk recall is a density
    * property — a 10%-selective filter on 10-point clusters leaves ~1
    * allowed row per local neighborhood and the walk serves 0.22
    * recall with NO walk parameter able to move it, while the same
    * selectivity with locally-dense allowed rows serves 1.000. The
    * count of allowed rows among the nearest beamWidth candidates is
    * the cheapest observable that separates the two regimes, and the
    * walk was about to compute these exact rows anyway (hop 0 + 1),
    * so the estimate costs roughly one hop of the walk it gates.
    *
    * Scale shape: candidates are bounded by queries × entries ×
    * (degree + 1) — the walk's own per-hop bound; the frontier
    * broadcasts, the edge and vector tables are probed in place, and
    * the only shuffle is the bounded dedup + per-query window. */
  def localAllowedCounts(graph: DataFrame, vectors: DataFrame,
                         idCol: String, vecCol: String, queries: DataFrame,
                         entries: DataFrame, beamWidth: Int,
                         allowed: org.apache.spark.sql.Column,
                         metric: ExactNN.Metric = ExactNN.Cosine,
                         roundTo: Int = 6,
                         symmetrize: Boolean = true,
                         excluded: Option[DataFrame] = None): DataFrame = {
    val und = undirected(graph, symmetrize)
    // `excluded` (pending tombstones) rows stay IN the top-beamWidth
    // window — the walk routes through them, so they occupy local
    // slots — but must not COUNT as allowed: the walk never serves
    // them, so a store with many pending deletes would otherwise
    // overestimate servable local density and route `walk` into a
    // starved neighborhood. ANDed into the `ok` flag via a broadcast
    // left join (the tombstone set is batch-sized).
    val okRaw = vectors.select(col(idCol).as("node"), col(vecCol).as("nv"),
      allowed.cast("boolean").as("ok"))
    // distinct() on the tombstone side: a raw tombstone log legitimately
    // carries the same id at several seqs (at-least-once replays), and
    // this is a plain LEFT join — a duplicate would multiply the vector
    // row and deflate the density estimate (the serve paths' left_anti
    // joins are dup-safe; only this flag join needs the guard)
    val vecs = excluded.fold(okRaw) { t =>
      okRaw.join(
          broadcast(t.select(col("vec_id").as("node")).distinct()
            .withColumn("_excl", lit(true))),
          Seq("node"), "left")
        .select(col("node"), col("nv"),
          (col("ok") && col("_excl").isNull).as("ok"))
    }
    val q = broadcast(queries.select(col("query_id"), col("qv")))
    val ent = entries.select(col("query_id"), col("node"))
    val nbrs = und
      .join(broadcast(ent.select(col("query_id"), col("node").as("src"))),
        "src")
      .select(col("query_id"), col("dst").as("node"))
    // dedup before scoring: a node reached from several entries must
    // count once in the top-beamWidth window (bounded frame — one
    // shuffle of ≤ queries × entries × (degree + 1) skinny rows)
    val cands = ent.unionByName(nbrs).dropDuplicates("query_id", "node")
    val scored = vecs.join(broadcast(cands), "node").join(q, "query_id")
      .select(col("query_id"), col("node"),
        round(metric.dist(col("qv"), col("nv")), roundTo).as("dist"),
        col("ok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist"), col("node"))
    val counts = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= beamWidth)
      .groupBy("query_id")
      .agg(sum(when(col("ok"), lit(1L)).otherwise(lit(0L)))
        .as("local_allowed"))
    // zero-fill queries with no surviving local candidates (entry nodes
    // absent from `vectors`, empty entry sets): dropping them would
    // overstate the median in exactly the starved regime this signal
    // exists to catch — the LshIndex/IvfIndex.localAllowedCounts rule,
    // applied to the graph estimator (round-16 ADVICE).
    queries.select(col("query_id"))
      .join(counts, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("local_allowed"), lit(0L)).as("local_allowed"))
  }

  /** The routing decision [[beamFromFiltered]] executes, as data — so
    * specs pin it and oracle rows replay it the way `q_autotune_*`
    * rows replay tuning decisions. One counts pass over `vectors`
    * (predicate map-side); the density estimate runs only when the
    * selectivity cutoff does not already bind and `densityDispatch`
    * is on. The median (exact, interpolated — `percentile(0.5)`,
    * DuckDB-replayable) is compared against k: a median query that
    * cannot fill k locally means the walk cannot either. */
  def filteredDecision(graph: DataFrame, vectors: DataFrame, idCol: String,
                       vecCol: String, queries: DataFrame,
                       entries: DataFrame, k: Int, beamWidth: Int,
                       allowed: org.apache.spark.sql.Column,
                       metric: ExactNN.Metric = ExactNN.Cosine,
                       roundTo: Int = 6, symmetrize: Boolean = true,
                       maxExactFraction: Double =
                         FilteredSearch.DefaultMaxExactFraction,
                       maxAutoExactFraction: Double =
                         FilteredSearch.DefaultMaxAutoExactFraction,
                       densityDispatch: Boolean = true,
                       excluded: Option[DataFrame] = None,
                       knownCounts: Option[(Long, Long)] = None)
      : FilteredSearch.Decision = {
    // `excluded` (pending tombstones) feeds the density estimate only
    // (see [[localAllowedCounts]]); the corpus/allowed COUNTS keep
    // including excluded rows — the tombstone log is batch-sized by
    // the maintenance contract, so its effect on a corpus-level
    // selectivity ratio is noise, while recounting through an
    // anti-join would shuffle the corpus per decision.
    // `knownCounts` = (corpusCount, allowedCount) skips the counts
    // pass entirely — the `Lsh.searchAllFiltered` pass-through for
    // serving loops that track selectivity upstream (two corpus
    // aggregates per batch otherwise).
    val (corpusN, allowedN) = knownCounts.getOrElse {
      val counts = vectors.agg(
        count(lit(1)).as("corpus"),
        count(when(allowed, lit(1))).as("allowed")).head()
      (counts.getLong(0), counts.getLong(1))
    }
    // the ladder itself (short-circuit order, percentile aggregate,
    // empty-estimate-is-starved rule) is FilteredSearch.decide — one
    // implementation across graph/LSH/IVF
    FilteredSearch.decide(allowedN, corpusN, k, maxExactFraction,
      maxAutoExactFraction, densityDispatch, bucket = false,
      localAllowed = localAllowedCounts(graph, vectors, idCol, vecCol,
        queries, entries, beamWidth, allowed, metric, roundTo, symmetrize,
        excluded))
  }

  /** Constrained graph search under the [[FilteredSearch]] dispatch —
    * the graph twin of `LshIndex.searchAllFiltered`, routing on BOTH
    * signals the 1M measurements say matter (SCALE.md §filtered ANN):
    *
    *  - selectivity ≤ `maxExactFraction` → exact scan over the allowed
    *    subset (tiny by definition; recall 1.0 by construction);
    *  - locally DENSE filter (median query sees ≥ k allowed rows among
    *    its beamWidth nearest entry-hop candidates,
    *    [[localAllowedCounts]]) → the filtered beam walk ([[beamFrom]]
    *    `allowed`: route through everything, serve the per-hop pool);
    *  - density-STARVED filter with the subset still ≤
    *    `maxAutoExactFraction` of the corpus → exact scan again — the
    *    measured regime where the walk silently serves 0.22 recall at
    *    10% selectivity and quadrupling the beam moves it +0.003;
    *  - starved AND too large to scan → the walk runs, with a logged
    *    warning naming the measured risk and the build-time answer
    *    ([[graft.ann.KnnGraph.fromLshSameLabel]] + [[labelRing]]).
    *
    * `densityDispatch = false` restores the round-13 selectivity-only
    * rule (and skips the estimator's one-hop cost). The decision
    * itself is available as data via [[filteredDecision]]. */
  def beamFromFiltered(graph: DataFrame, vectors: DataFrame, idCol: String,
                       vecCol: String, queries: DataFrame, entries: DataFrame,
                       k: Int, beamWidth: Int, hops: Int,
                       allowed: org.apache.spark.sql.Column,
                       metric: ExactNN.Metric = ExactNN.Cosine,
                       roundTo: Int = 6, symmetrize: Boolean = true,
                       excluded: Option[DataFrame] = None,
                       maxExactFraction: Double =
                         FilteredSearch.DefaultMaxExactFraction,
                       maxAutoExactFraction: Double =
                         FilteredSearch.DefaultMaxAutoExactFraction,
                       densityDispatch: Boolean = true,
                       knownCounts: Option[(Long, Long)] = None): DataFrame = {
    val d = filteredDecision(graph, vectors, idCol, vecCol, queries,
      entries, k, beamWidth, allowed, metric, roundTo, symmetrize,
      maxExactFraction, maxAutoExactFraction, densityDispatch,
      excluded, knownCounts)
    FilteredSearch.warnings(d, k, beamWidth, "graph",
      "nearest local candidates",
      "Consider label-augmented construction (KnnGraph.labelAware) " +
        "or raising maxAutoExactFraction; for an ARBITRARY (non-label) " +
        "predicate there is no in-graph serve-time fix — the measured " +
        "collapse is reachability, not budget — but a bucket index " +
        "over the same corpus serves it scoped " +
        "(LshIndex/IvfIndex.searchAllScoped, recovery measured at 1M).",
      maxAutoExactFraction)
      .foreach(log.warn)
    if (d.route.exact) {
      val subset = vectors.where(allowed)
        .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      val excl = excluded.fold(subset)(t =>
        subset.join(broadcast(t.select(col("vec_id"))), Seq("vec_id"),
          "left_anti"))
      ExactNN.topK(queries.select(col("query_id"), col("qv")), excl, k,
        metric, roundTo = roundTo)
    } else beamFrom(graph, vectors, idCol, vecCol, queries, entries, k,
      beamWidth, hops, metric, roundTo, symmetrize, excluded, Some(allowed))
  }
}
