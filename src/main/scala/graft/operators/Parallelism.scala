package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism helpers (optimization guide §2.5/§2.6).
  *
  * Two recurring fixed-cost patterns in the query battery — both of which
  * disappear at production scale but serialize whole operators at bench
  * scale, and both of which the optimizer cannot fix by itself:
  *
  *  - [[widen]]: a scan whose bytes fit inside ONE scan split arrives as
  *    1-2 partitions; every downstream broadcast join / codegen kernel /
  *    partial top-k then runs on ONE core while 31 idle (guide §2.5
  *    "input skew: one huge unsplittable file — repartition immediately
  *    after the read"). Round-robin repartition to the session's default
  *    parallelism. The condition is derived from the INPUT SIZE (logical
  *    stats vs `spark.sql.files.maxPartitionBytes`), so a real-scale
  *    store — which already arrives in hundreds of splits — is untouched:
  *    this is explicitly NOT a local[32] constant (the no-op branch is
  *    the production path).
  *
  *  - [[parRequests]]: a serving request loop submits one Spark job per
  *    request; sequential submission pays the full dispatch floor
  *    (~13 ms on this box) per request with every executor idle between
  *    jobs. A resident server handles requests CONCURRENTLY — guide
  *    §2.6 "overlap independent jobs: submit them from a small thread
  *    pool so the next job's tasks back-fill executors freed by the
  *    current job's tail". Results are assembled in request order, so
  *    outputs are byte-identical to the sequential loop (each request's
  *    computation is independent and internally deterministic).
  */
object Parallelism {

  /** Round-robin repartition a small input to the default parallelism;
    * no-op when the input is already wide (its bytes exceed one scan
    * split) or the session is single-core. Safe wherever per-row work is
    * independent of partitioning (joins with broadcast sides, per-row
    * scoring, partial top-k with total-order ties).
    */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    if (p <= 1) df
    else {
      val bytes = df.queryExecution.analyzed.stats.sizeInBytes
      val split = spark.sessionState.conf.filesMaxPartitionBytes
      if (bytes >= 0 && bytes < split) df.repartition(p) else df
    }
  }

  /** Eagerly materialize (localCheckpoint) a SMALL expensive projection
    * so every consumer — e.g. both sides of a self-join — reads the
    * computed blocks instead of re-running the projection; NO-OP when
    * the projection's estimated bytes exceed one scan split (the same
    * stats gate as [[widen]], applied to what would be pinned): at
    * scale the projection runs distributed inside each consumer anyway,
    * and pinning unreplicated lineage-free blocks would cost executor
    * storage and fault tolerance (guide §5 — a lost executor makes a
    * localCheckpoint unrecoverable mid-query). The materialization
    * lives with the returned plan instance and is rebuilt from the
    * inputs on every operator invocation — never a cross-run cache.
    */
  def materializeSmall(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    if (bytes >= 0 && bytes < split) df.localCheckpoint(true) else df
  }

  /** Hash-repartition by a list-tree write's key with an EXPLICIT
    * width, pinning the write stage's task count. `repartition(key)`
    * without a count is AQE-coalescible: a segment whose bytes sit under
    * the advisory partition size collapses to ONE write task that writes
    * every list's file SEQUENTIALLY. An explicit count is never
    * coalesced (AQE leaves user-specified numPartitions alone), so the
    * per-file fixed cost spreads across the executors. Hash
    * partitioning on the key keeps the one-file-per-list invariant at
    * ANY width — a given key lives in exactly one task — so file count
    * and contents are unchanged; width beyond the number of distinct
    * keys just yields empty tasks (no file opened, ~free). The width is
    * the session's default parallelism: the deployment's executor
    * width, not a local-mode constant.
    */
  def pinWriteWidth(df: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame =
    df.repartition(
      math.max(1, df.sparkSession.sparkContext.defaultParallelism), key)

  /** Map `f` over requests with a bounded pool (default: enough threads
    * to hide job-dispatch latency, capped at 16), preserving request
    * order in the result. `f` must be independent per request and safe
    * to invoke concurrently (Spark job submission is; driver-side
    * read-only index scans are).
    */
  def parRequests[A, B](reqs: Seq[A], threads: Int = 16)(f: A => B): Seq[B] = {
    val n = math.max(1, math.min(threads, reqs.size))
    if (n == 1) reqs.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // daemon threads + shutdownNow on ANY exit: a failed request must
      // not leave stragglers racing the caller's cleanup (e.g. a
      // `finally close()` on the serving handle) — queued requests are
      // dropped, in-flight ones are interrupted and awaited briefly
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n,
        r => { val t = new Thread(r); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      var ok = false
      try {
        val out = Await.result(Future.sequence(reqs.map(r => Future(f(r)))),
          Duration.Inf)
        ok = true
        out
      } finally {
        if (ok) pool.shutdown()
        else {
          pool.shutdownNow()
          pool.awaitTermination(10,
            java.util.concurrent.TimeUnit.SECONDS)
        }
      }
    }
  }
}
