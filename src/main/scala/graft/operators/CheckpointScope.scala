package graft.operators

import org.apache.spark.sql.{Dataset, GraftSqlBridge}

/** Deterministic release of DEAD checkpoint blocks — the round-13 fix
  * for the failure that killed the round-12 single-JVM sf100 sweep.
  *
  * `localCheckpoint` blocks are dropped by Spark's ContextCleaner only
  * after the DRIVER GARBAGE-COLLECTS the checkpointed RDD object (the
  * cleaner holds weak references and reacts to their collection). In a
  * long multi-query session the driver heap rarely pressures old-gen,
  * so every query's one-shot pins (GlobalOrder range frames, packed
  * kernel tiles, basket sets) and every iterative operator's dead
  * rounds pile up in the block manager's storage memory until an
  * unlucky aggregation finds no execution memory left — observed as a
  * whole-JVM SparkOutOfMemoryError 42 minutes into a 26-query sf100
  * run (BENCH_sf100_r12.json, n_clean = 0). `System.gc()` between
  * queries (ScaleSweep's former per-query GC switch, which this scope
  * replaced) is the blunt workaround; this scope is the deterministic
  * contract: the HARNESS declares query boundaries, and every
  * checkpoint a query created —
  * minus the ones the session-level caches explicitly retain — is
  * released the moment the query's results are consumed.
  *
  * The lifecycle, one entry per way a checkpoint is made or freed:
  *   - [[pin]] — the only ONE-SHOT pin: an eager `localCheckpoint`
  *     (carried stats kept) of a frame built once and read by several
  *     consumers of the same query; registered with the enclosing
  *     scope.
  *   - [[LoopCheckpoint]] — the only LOOP cut: carried stats dropped,
  *     reliable storage when `spark.graft.checkpoint.reliable` is set;
  *     registered like a pin. [[LoopCheckpoint.Rolling]] frees round
  *     r the moment round r+1 lands, through [[release]], even inside
  *     a retained build (a cached artifact needs its FINAL round only).
  *   - [[retained]] — marks a region (the QueryHelpers session-cache
  *     builders) whose checkpoints outlive the creating query: they
  *     are NOT registered with the enclosing scope.
  *   - [[scoped]] — wraps one query (build + consume); every
  *     checkpoint registered inside is released when the body returns
  *     or throws.
  *
  * Thread-local by design: plan construction and the consuming action
  * run on the harness thread (`graft.Suite.guarded`); Spark's
  * internal task threads never construct graft checkpoints. A scope
  * on thread A never sees thread B's checkpoints — concurrent query
  * runners each get their own scope.
  */
object CheckpointScope {

  private val frames = new ThreadLocal[java.util.ArrayList[Dataset[_]]]()
  private val retainDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Called by [[pin]] and [[LoopCheckpoint]] on every checkpoint they
    * create. */
  private[operators] def register(ds: Dataset[_]): Unit = {
    val buf = frames.get()
    if (buf != null && retainDepth.get() == 0) buf.add(ds)
  }

  /** Run `body` with its checkpoints EXEMPT from the enclosing scope —
    * for session-cache builders whose results later queries read
    * (releasing them at first-query end would strand every later
    * consumer on dead blocks). Nests. */
  def retained[T](body: => T): T = {
    retainDepth.set(retainDepth.get() + 1)
    try body finally retainDepth.set(retainDepth.get() - 1)
  }

  /** Run one query (construction AND consumption) and release every
    * checkpoint it registered. Nested scopes release their own frames
    * only. Release is unconditional on the body's outcome — a failed
    * query's half-built pins are exactly the blocks that must not
    * outlive it. */
  def scoped[T](body: => T): T = {
    val prev = frames.get()
    val buf = new java.util.ArrayList[Dataset[_]]()
    frames.set(buf)
    try body finally {
      frames.set(prev)
      buf.forEach(ds => release(ds))
    }
  }

  /** Eager pin + scope registration for ONE-SHOT frames: a relation
    * built once and consumed by a few sibling branches of the SAME
    * query. Behaviorally identical to `.localCheckpoint(true)`, plus
    * release at the owning query's end. Keeps the carried origin stats
    * (only loop-carried frames compound them — [[LoopCheckpoint]]), and
    * ignores `spark.graft.checkpoint.reliable`: a one-shot pin's worst
    * case on executor loss is recomputing its own subtree once, not
    * worth a reliable write of a corpus-scale relation per query.
    * Usable mid-chain via `.transform(CheckpointScope.pin)`. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.localCheckpoint(true)
    register(p)
    p
  }

  /** Drop `ds`'s checkpointed RDD blocks (non-blocking). No-op for
    * non-checkpoint plans and stopped contexts; never throws — release
    * runs in finally blocks where a secondary failure would mask the
    * query's own. */
  def release(ds: Dataset[_]): Unit =
    try {
      if (!ds.sparkSession.sparkContext.isStopped)
        GraftSqlBridge.checkpointRdd(ds).foreach(_.unpersist(false))
    } catch {
      case ie: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }

  /** Test hook: number of frames the current thread's scope holds. */
  private[graft] def pendingCount: Int = {
    val buf = frames.get()
    if (buf == null) 0 else buf.size()
  }
}
