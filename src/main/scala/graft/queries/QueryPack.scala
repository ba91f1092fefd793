package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of driver-contract queries: each key appears in
  * `SparkEntry.queries`, and (when SQL-expressible) in
  * `SparkEntry.oracleSql` with the DuckDB-equivalent SQL. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]

  protected def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** JVM-local memo for deterministic shared builds consumed by more
    * than one query (seeded graphs, verified pair pipelines): the
    * builds are pure, so sharing across Verify's concurrent query
    * threads changes no output — it only deletes redundant recompute.
    * Keyed per-session on the session REFERENCE (not its identity hash,
    * which a later session could collide with after GC); within a
    * session, computeIfAbsent on (sfDir, tag) evaluates each build
    * exactly once, and dependencies between memoized builds must be
    * resolved BEFORE entering the compute lambda (nested computes on
    * one ConcurrentHashMap are unsupported). Cache DataFrame values
    * with `localCheckpoint()` so lineage never re-executes.
    *
    * Lifetime honesty: the WeakHashMap alone cannot free anything —
    * the memoized values are DataFrames/indexes that strongly reference
    * their SparkSession (value→key, the pattern the WeakHashMap javadoc
    * warns about), so entries are ALSO evicted explicitly whenever any
    * memoized() call observes a key whose SparkContext has stopped
    * (checkpoint blocks die with the context anyway). A session that is
    * merely dereferenced but shares a live context keeps its builds for
    * the JVM lifetime — acceptable for the certification board's
    * one-session-per-JVM processes, stated here so nobody mistakes the
    * weak keys for a working lifetime story.
    *
    * LOCAL-MODE MACHINERY, not library API: `localCheckpoint` stores
    * blocks on executors without lineage, so on a real cluster an
    * executor loss makes every dependent frame irrecoverable. The memo
    * exists so the certification board (Verify/Bench, single-JVM
    * local[32]) builds each shared index once; production callers hold
    * their own index references or use the persisted-index paths. */
  private val buildMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]]())
  /** Run independent query legs as concurrent Spark jobs (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially — at board scale most legs are chains of tiny stages
    * that leave the cores idle, so overlapping them converts sequential
    * stage latency into concurrent stage latency). Each thunk must be
    * an INDEPENDENT computation (no shared mutable state, memo
    * dependencies resolved by the caller first); results are returned
    * in argument order, so scheduling cannot change a row; every leg
    * settles before the first failure is rethrown
    * ([[graft.ann.ParallelLegs]]). */
  protected def inParallel[T](thunks: (() => T)*): Seq[T] =
    graft.ann.ParallelLegs(thunks: _*)

  protected def memoized[T <: AnyRef](s: SparkSession, dir: String,
                                      tag: String)(f: => T): T = {
    val perSession = buildMemo.synchronized {
      val it = buildMemo.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k != null && k.sparkContext.isStopped) it.remove()
      }
      val got = buildMemo.get(s)
      if (got != null) got
      else {
        val fresh =
          new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()
        buildMemo.put(s, fresh)
        fresh
      }
    }
    perSession.computeIfAbsent((dir, tag), _ => {
      // time the build and publish it to the registry: shared builds
      // land in whichever query touches them FIRST, so a bench reading
      // only per-query wall times can mistake a first-touch build for a
      // serving regression (the round-12 q_graph_beam_seeded post-mortem)
      // — the registry lets Bench stamp build cost as its own line item
      val t0 = System.nanoTime()
      val v = f
      QueryPack.buildSeconds.merge(tag, (System.nanoTime() - t0) / 1e9,
        (a, b) => Double.box(a + b))
      v
    }).asInstanceOf[T]
  }
}

object QueryPack {
  /** Wall seconds of each memoized shared build that ran in THIS JVM,
    * keyed by memo tag (summed across sf dirs/sessions — the bench is
    * one-session-per-JVM). Dependencies between memoized builds are
    * resolved before entering the compute lambda (see [[QueryPack
    * .memoized]]), so each tag's time excludes its dependencies'. Read
    * by [[graft.Bench]] to split one-time build cost out of the
    * first-touch query's wall time in BENCH_SPREAD. */
  val buildSeconds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Root for the dump-and-check side channels (seeded index builds and
    * searches dump parquet here so DuckDB can cross-check them in SQL).
    * Configurable via `-Dgraft.dump.root` so two concurrent sessions
    * can't clobber each other's dumps; a `def` so the property is read
    * when the query (and its generated oracle SQL) runs, not at class
    * init. Verify dumps `oracle_sql.json` in the same JVM that ran the
    * queries, so both sides of the compare see the same root. */
  def dumpRoot: String = sys.props.getOrElse("graft.dump.root", "/tmp")
}
