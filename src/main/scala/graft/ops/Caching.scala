package graft.ops

import org.apache.spark.sql.DataFrame

/** Deterministic cache lifecycle for query builders.
  *
  * Several builders cache an intermediate because multiple plan branches
  * read it (signature tables, gram tables, tf tables — the persisted-
  * intermediate pattern). Returning a LAZY result that still references
  * that cache leaks it into the shared session: across a 93-query
  * Verify/Bench run (or any long-lived production session) leaked blocks
  * accumulate, LRU eviction churns, and later queries pay unpredictable
  * GC.
  *
  * [[materializeAndRelease]] closes the lifecycle, in one of two ways
  * decided by whether a [[scope]] is open on the calling thread:
  *
  *  - Inside a scope (Bench, Verify's pool futures, the pipelines.* batch
  *    jobs), the result is returned lazily CACHED — a composed
  *    kernel's consumers still reuse one materialization — and the result
  *    and its intermediates are registered with the scope, which
  *    unpersists them when it exits (or at [[release]]), after the
  *    caller's action. This skips the eager checkpoint job and its
  *    result-block round trip (measured ~16 % of wall across the
  *    checkpoint-pattern queries at sf0.1). A cached-but-not-checkpointed
  *    result can be RECOMPUTED under memory pressure; every registered
  *    builder's plan is deterministic by repo doctrine (seeded fits,
  *    md5-derived sampling), so recompute changes nothing — do not
  *    register a nondeterministic plan.
  *  - Outside any scope, the call is its own scope: the result is eagerly
  *    materialized via `localCheckpoint(eager = true)` — which truncates
  *    lineage, so the caller's action reads the checkpointed blocks and
  *    never the about-to-be-released cache — then every intermediate is
  *    unpersisted immediately, even if the job fails.
  *
  * Scopes are per thread, so concurrent callers never release each
  * other's registrations; [[SessionArtifacts.inParallel]] installs the
  * caller's scope on its pool threads. Spark's CacheManager keys cache
  * entries by plan, so two scopes that cache the SAME plan share one
  * entry — the first release drops it and the other side recomputes it
  * (same answer, deterministic plans).
  *
  * Scale notes: checkpoint blocks are RESULT-sized (every registered query
  * returns a reduced frame — per-doc stats, pair lists, top-k reports),
  * not corpus-sized, and they are freed automatically by Spark's
  * ContextCleaner once the returned frame becomes unreachable — nothing
  * accrues for the life of the session. At production scale, swap
  * localCheckpoint for a reliable checkpoint directory if executor loss
  * must be survivable mid-query — same trade documented at
  * [[ConnectedComponents]]. Results are identical on every path; only
  * the cache lifecycle differs.
  */
object Caching {
  /** Session conf switch: when "true", return the LAZY result unchanged
    * (no checkpoint, no cache, no registration). For PLAN INSPECTION only
    * — the checkpointed return is a LogicalRDD scan, which would blind a
    * plan audit (PlanAuditSpec) to the real shuffle/join/pushdown shape
    * of the computation. */
  val PassthroughKey = "graft.caching.passthrough"

  /** The frames registered under one [[scope]]. Concurrent: pool threads
    * running under the scope register into it. */
  private[ops] type Scope = java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  private val open = new ThreadLocal[Scope]

  /** Runs `body` (build → act) with a fresh scope open on this thread;
    * everything registered in it is unpersisted when `body` returns or
    * throws. Scopes nest: the enclosing one is restored on exit. */
  def scope[T](body: => T): T = {
    val s = new Scope
    within(Some(s))(try body finally drain(s))
  }

  /** The scope open on this thread, if any — captured by thread pools
    * and re-installed on their threads through [[within]]. */
  private[ops] def current: Option[Scope] = Option(open.get)

  /** Runs `body` with `s` installed as this thread's scope (no scope
    * when `None`); the thread's previous scope is restored on exit.
    * Releasing stays with whoever opened `s`. */
  private[ops] def within[T](s: Option[Scope])(body: => T): T = {
    val prev = open.get
    open.set(s.orNull)
    try body finally open.set(prev)
  }

  /** Unpersists everything registered so far in this thread's scope,
    * which stays open — a batch pipeline's stage boundary, after the
    * stage's action. A no-op outside a scope. */
  def release(): Unit = current.foreach(drain)

  private def drain(s: Scope): Unit = {
    var df = s.poll()
    while (df != null) {
      try df.unpersist() catch { case scala.util.control.NonFatal(_) => () }
      df = s.poll()
    }
  }

  def materializeAndRelease(result: DataFrame, intermediates: DataFrame*): DataFrame =
    if (result.sparkSession.conf.get(PassthroughKey, "false") == "true") result
    else current match {
      case Some(s) =>
        val cached = result.cache()
        intermediates.foreach(s.add)
        s.add(cached)
        cached
      case None =>
        try result.localCheckpoint(true)
        finally intermediates.foreach(_.unpersist())
    }
}
