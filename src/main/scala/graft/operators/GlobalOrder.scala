package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed global ordering: `row_number` / `rank` / `ntile` /
  * running sums over a TOTAL order without the single-partition
  * WindowExec.
  *
  * `Window.orderBy(...)` with no partition spec requires
  * `SinglePartition` — Spark moves the ENTIRE input through one
  * exchange into one task and sorts it on one core. Invisible at
  * sf0.01; at 100 TB it is the first thing that stops finishing. This
  * operator computes the identical numbering the way a distributed
  * engine must:
  *
  *   1. split points over the sort key are sampled ONCE (driver-side
  *      weighted reservoir — the same sketch Spark's own
  *      `RangePartitioner` runs eagerly when an RDD sort constructs
  *      its partitioner) and captured as LITERALS in the plan;
  *   2. every row's range id is a DETERMINISTIC O(log P) bisect
  *      expression over those literal bounds — re-evaluating the plan
  *      can never re-assign a row to a different range, which is what
  *      lets the two consumers below share nothing but the expression;
  *   3. the window runs per range (P-way parallel) over ONE hash
  *      shuffle, while the P-row offset table (rows/rank-base/value-sum
  *      per range, prefix-summed — P rows, the one place a tiny
  *      unpartitioned window is the RIGHT tool) aggregates map-side
  *      from the PRE-shuffle frame and is broadcast back.
  *
  * A `repartitionByRange` plan must be pinned, because the SQL range
  * exchange re-samples split points per execution and the two
  * consumers would disagree on pids; that pin was the measured sf100
  * scale-killer (BASELINE round 13: ≈ 45 GB of block churn). Literal
  * bounds make the pid a pure function of the row, so NOTHING needs
  * pinning: the only full-width pass over the input is the window's
  * own shuffle write; the sample and the offsets are key-pruned scans.
  *
  * Physical placement: ranges are mapped to shuffle partitions through
  * a driver-computed slot table — for range j a small int v_j with
  * `pmod(murmur3(v_j), P) = j` — so `repartition(P, place)` puts each
  * range in its OWN task (hash placement of P arbitrary ids into P
  * buckets would stack ~3 ranges on an unlucky task; the slot table
  * restores the range partitioner's balance without its sampling
  * re-execution). A spec pins the bijection against hash-function
  * drift.
  *
  * A derived input (join/aggregate/window or a nondeterministic
  * expression in its cache-substituted plan) is pinned ONCE, one-shot
  * (see [[reEvalCheap]]). Sort keys the driver-side sample cannot
  * order (see [[comparable]]) take the pinned range-exchange plan.
  *
  * Semantics notes:
  *   - ties: equal sort keys get equal bisect pids (the comparison is
  *     null-safe equality on every column), so `rank` (and
  *     `row_number` under a total tiebreak — what every call site
  *     uses) matches the global-window value exactly;
  *   - sort direction / null ordering ride on the `Column`s
  *     themselves (`col.desc` etc.) and are honored by both the
  *     driver-side sample ordering and the bisect expression;
  *   - `ntile(n)` is derived from the global row number with SQL
  *     NTILE's exact uneven-bucket rule (first `total mod n` buckets
  *     one row larger), so it is bit-compatible with both engines'
  *     NTILE at any total. */
object GlobalOrder {

  private val PID = "__go_pid"
  private val PLACE = "__go_place"

  /** Row-count threshold below which the plain single-partition window
    * beats the distributed numbering: the distributed form pays a fixed
    * stage tax (bounds sample job + hash shuffle + offset join,
    * ~1-1.5 s at local[32]) that only amortizes once the relation is
    * big enough that ONE task sorting it is the slower evil. Default
    * 1M: measured at sf1, a 1.5M-row double-ntile was already FASTER
    * distributed (2.62 s) than single-task (3.36 s), while the gated
    * post-aggregation relations (≤150k rows) sit far below either
    * bound. Conf-tunable per deployment. */
  def smallThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.globalorder.smallThreshold", "1000000").toLong

  /** Cardinality gate for the `*Auto` variants: a caller-supplied bound
    * decides statically (zero cost — use it when the bound is provable,
    * e.g. a post-aggregation keyed by a dimension); with no bound the
    * input is persisted and counted in ONE job — the count action
    * materializes the cache, BOTH branches read the cached blocks, and
    * (the part an eager checkpoint cannot replicate) any SIBLING plan
    * containing the same subtree hits the cache too, by the
    * CacheManager's plan match — callers like q_calibration's total
    * aggregate lean on exactly that (a localCheckpoint swap was
    * measured at 2.2-2.8× on the gated bench queries and reverted).
    * MEMORY_AND_DISK: storage-evictable and spilling, never an OOM
    * vector when the gate discovers the input is big.
    *
    * The unmatched persist WOULD accumulate one CacheManager entry per
    * invocation for the session lifetime (the ADVICE r10 leak), so the
    * gate keeps a small PER-SESSION FIFO of its pinned frames and
    * unpersists the oldest beyond [[GatePinCap]] — by then the owning
    * query has long materialized, and even a straggler merely
    * recomputes (unpersist never affects correctness). Per-session
    * (round-12): a JVM-global FIFO let one session's gates evict
    * another's still-warm pins (doubling work, not breaking anything)
    * and strongly retained up to 8 frames — and through them stopped
    * SparkContexts — for the process lifetime. Now pins from one
    * session never evict another session's, and every gate first
    * purges entries whose context has stopped (their blocks died with
    * the context; dropping the map entry releases the reference). */
  private[graft] val GatePinCap = 8
  /** Aggregate bound ACROSS sessions (round-13, ADVICE): sessions from
    * `spark.newSession()` share one LIVE context, so the isStopped
    * purge never fires for them — a server minting short-lived
    * sessions would otherwise hold GatePinCap frames per session
    * without bound. Beyond this total, the OLDEST session's oldest
    * pin is evicted (unpersist never affects correctness). */
  private[graft] val GlobalPinCap = GatePinCap * 4
  private val gatePins = new java.util.LinkedHashMap[
    org.apache.spark.sql.SparkSession, java.util.ArrayDeque[DataFrame]]()
  /** Test hook: the live pin FIFO for `spark` (copied). */
  private[graft] def gatePinSnapshot(
      spark: org.apache.spark.sql.SparkSession): Seq[DataFrame] =
    gatePins.synchronized {
      Option(gatePins.get(spark))
        .map(dq => dq.toArray(new Array[DataFrame](0)).toSeq)
        .getOrElse(Seq.empty)
    }
  private def gated(df: DataFrame, bound: Option[Long]): (DataFrame, Long) =
    bound match {
      case Some(n) => (df, n)
      // scan-rooted (or already cached/checkpointed) input: re-evaluation
      // is a column-pruned scan, so the gate needs NO pin — one count
      // job over the pruned scan (parquet row-group counts) decides the
      // branch, and whichever branch runs re-reads the scan for free.
      // Persisting here would be a REGRESSION at scale: MEMORY_AND_DISK
      // of a 150M-row fact projection is exactly the block churn the
      // round-14 literal-bounds rewrite deleted from the bounds path.
      // (Derived inputs keep the persist below — for them the pin IS
      // the cache the query's sibling aggregates hit, the round-11
      // measurement the q_abc_class call site records.)
      case None if reEvalCheap(df) => (df, df.count())
      case None =>
        val spark = df.sparkSession
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        gatePins.synchronized {
          // purge dead sessions: their cached blocks are already gone
          // (unpersist on a stopped context throws), and keeping the
          // entry would pin the stopped SparkContext on the heap
          gatePins.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
          var dq = gatePins.get(spark)
          if (dq == null) {
            dq = new java.util.ArrayDeque[DataFrame]()
            gatePins.put(spark, dq)
          }
          dq.addLast(p)
          // the eviction must never fail the CURRENT query — but
          // swallow only NonFatal, re-asserting interrupts
          def drop(old: DataFrame): Unit =
            try old.unpersist(false) catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt()
              case scala.util.control.NonFatal(_) => ()
            }
          if (dq.size > GatePinCap) drop(dq.removeFirst())
          // aggregate cap across live sessions: evict oldest-session
          // pins first (insertion order = session age); empty deques
          // leave the map so a long-gone session stops occupying a slot
          var total = 0
          gatePins.values.forEach(d => total += d.size)
          while (total > GlobalPinCap) {
            val it = gatePins.entrySet().iterator()
            val oldest = it.next()
            drop(oldest.getValue.removeFirst())
            if (oldest.getValue.isEmpty) it.remove()
            total -= 1
          }
        }
        (p, p.count())
    }

  // ------------------------------------------------------------------
  // Deterministic range assignment.
  // ------------------------------------------------------------------

  /** One sort key: the bare key column (direction stripped), its
    * requested output order, and its resolved type. */
  private case class SortSpec(key: Column, asc: Boolean, nullsFirst: Boolean,
                              dt: DataType)

  /** Strip `SortOrder` wrappers off the caller's sort columns and
    * resolve each key's type against `df` (one analysis pass, no job).
    * Bare columns default to asc-nulls-first — `orderBy`'s own rule. */
  private def sortSpecs(df: DataFrame, sortCols: Seq[Column]): Seq[SortSpec] = {
    val parts = sortCols.map { c =>
      GraftSqlBridge.sortOrderOf(c).getOrElse((c, true, true))
    }
    val dts = df.select(parts.map(_._1): _*).schema.map(_.dataType)
    parts.zip(dts).map { case ((k, asc, nf), dt) => SortSpec(k, asc, nf, dt) }
  }

  /** Key types the driver-side sample can order (external row values
    * implement Comparable). Anything else falls back to the pinned
    * range-exchange plan rather than guessing an ordering. */
  private def comparable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Driver-side output-order comparison of two sampled key rows. */
  private def keyOrdering(specs: Seq[SortSpec]): Ordering[Row] =
    new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        var i = 0
        while (i < specs.length) {
          val sp = specs(i)
          val (x, y) = (a.get(i), b.get(i))
          val c =
            if (x == null && y == null) 0
            else if (x == null) { if (sp.nullsFirst) -1 else 1 }
            else if (y == null) { if (sp.nullsFirst) 1 else -1 }
            else {
              val n = x.asInstanceOf[Comparable[Any]].compareTo(y)
              if (sp.asc) n else -n
            }
          if (c != 0) return c
          i += 1
        }
        0
      }
    }

  /** Sample ≤ P−1 strictly increasing (in output order) split-point
    * key tuples: a per-partition reservoir over the key projection
    * (ONE key-pruned job — the same sketch an RDD `RangePartitioner`
    * collects when it is constructed), then weighted selection so
    * unevenly-sized input partitions don't bias the bounds. */
  private def sampleBounds(df: DataFrame, specs: Seq[SortSpec],
                           p: Int): Array[Row] = {
    val keys = df.select(specs.zipWithIndex.map {
      case (sp, i) => sp.key.as(s"__go_k$i") }: _*)
    val rdd = keys.rdd
    val nPart = math.max(1, rdd.getNumPartitions)
    val sampleSize = math.min(20.0 * p, 1e6)
    val perPart = math.max(1, math.ceil(3 * sampleSize / nPart).toInt)
    val sketch: Array[(Long, Array[Row])] =
      rdd.mapPartitionsWithIndex { (idx, it) =>
        // seeded per partition: the sample is collected once and its
        // values become plan literals, so determinism here is about
        // reproducible plans, not correctness
        val rng = new java.util.Random(0x9E3779B97F4A7C15L ^ idx.toLong)
        val res = new Array[Row](perPart)
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          if (n < perPart) res(n.toInt) = r
          else {
            val j = (rng.nextDouble() * (n + 1)).toLong
            if (j < perPart) res(j.toInt) = r
          }
          n += 1
        }
        Iterator.single((n, res.take(math.min(n, perPart.toLong).toInt)))
      }.collect()
    val ord = keyOrdering(specs)
    val totalRows = sketch.map(_._1).sum
    if (totalRows == 0) return Array.empty
    // weight each sampled row by the rows it represents, walk the
    // sorted sample emitting a bound every totalWeight/p
    val weighted = sketch.flatMap { case (cnt, rows) =>
      if (rows.isEmpty) Array.empty[(Row, Double)]
      else { val w = cnt.toDouble / rows.length; rows.map(r => (r, w)) }
    }.sortBy(_._1)(ord)
    val step = totalRows.toDouble / p
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Row]
    var cum = 0.0
    var target = step
    var i = 0
    while (i < weighted.length && bounds.length < p - 1) {
      cum += weighted(i)._2
      if (cum >= target) {
        val cand = weighted(i)._1
        // equal keys must share a range: skip a candidate equal to the
        // previous bound instead of emitting an empty range
        if (bounds.isEmpty || ord.compare(cand, bounds.last) > 0) {
          bounds += cand
          target += step
        }
      }
      i += 1
    }
    bounds.toArray
  }

  private def litOf(v: Any, dt: DataType): Column =
    GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt))

  /** `true` iff the row's key tuple sorts STRICTLY AFTER the literal
    * bound in output order — lexicographic over the sort columns,
    * null-safe per each column's null ordering. */
  private def afterBound(specs: Seq[SortSpec], bound: Row): Column =
    specs.zipWithIndex.foldRight(lit(false)) { case ((sp, i), rest) =>
      val v = bound.get(i)
      val eqC = if (v == null) sp.key.isNull else sp.key <=> litOf(v, sp.dt)
      val afterC =
        if (v == null) { if (sp.nullsFirst) sp.key.isNotNull else lit(false) }
        else {
          val cmp = if (sp.asc) sp.key > litOf(v, sp.dt)
                    else sp.key < litOf(v, sp.dt)
          // a null key compares null — resolve it to its sort position
          coalesce(cmp, lit(!sp.nullsFirst))
        }
      afterC || (eqC && rest)
    }

  /** Bisect the literal bounds: pid = number of bounds the key sorts
    * strictly after, as an O(log P)-deep nested-CASE tree (a flat
    * when-chain would pay P lexicographic comparisons per row). */
  private def bisectPid(specs: Seq[SortSpec], bounds: Array[Row]): Column = {
    def tree(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(afterBound(specs, bounds(mid)), tree(mid + 1, hi))
          .otherwise(tree(lo, mid))
      }
    tree(0, bounds.length).cast("int")
  }

  /** For each range j a small nonneg int v with
    * `pmod(murmur3(v, 42), p) = j` — the seed/mod pair
    * `repartition(p, intCol)`'s HashPartitioning applies — so placing
    * by v_j lands range j in physical partition j: one range per task,
    * no hash stacking. Driver cost: ~p tries per slot. */
  private[graft] def placeSlots(ranges: Int, p: Int): Array[Int] =
    Array.tabulate(ranges) { j =>
      var v = 0
      while ({
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        val m = h % p
        (if (m < 0) m + p else m) != j
      }) v += 1
      v
    }

  /** The range-assigned frames one numbering consumes. `win`: the
    * shuffled frame the per-range window runs over, partitioned by
    * [[partCol]] (+ group columns). `agg`: the frame the offsets
    * aggregate from — PRE-shuffle on the literal-bounds path (map-side
    * partial aggregation), the pinned frame on the range-exchange path.
    * Both carry [[PID]], the monotone range id offsets order by. */
  private case class Ranged(win: DataFrame, agg: DataFrame, partCol: String)

  /** Whether re-evaluating `df` is no worse than a (column-pruned)
    * scan: its CACHE-SUBSTITUTED plan holds only leaves (parquet
    * relations, checkpointed LogicalRDDs, InMemoryRelations) under
    * per-row operators, all DETERMINISTIC. The literal-bounds plan
    * evaluates its input three times (sample, shuffle feed, offsets)
    * and the `*Auto` gate once more (the count): free over a scan or a
    * cached frame, but a join/aggregate/window would re-run per
    * consumer, and a nondeterministic Project/Filter (rand()) would
    * hand each consumer a different row set. Those inputs are pinned
    * once instead ([[ranged]] via [[CheckpointScope]], [[gated]] via
    * its persist), which snapshots one row set for everyone. */
  private def reEvalCheap(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.withCachedData.collectFirst {
      case p if !p.isInstanceOf[LeafNode] && !p.isInstanceOf[Project] &&
                !p.isInstanceOf[Filter] && !p.isInstanceOf[SubqueryAlias] => p
      case p if !p.expressions.forall(_.deterministic) => p
    }.isEmpty
  }

  /** Assign deterministic range ids over the sort order. */
  private def ranged(df: DataFrame, sortCols: Seq[Column], parts: Int): Ranged = {
    val spark = df.sparkSession
    val p =
      if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val specs = sortSpecs(df, sortCols)
    if (!specs.forall(s => comparable(s.dt))) {
      // pinned plan: the SQL range exchange re-samples split points
      // per execution, so the frame must be materialized (a
      // LoopCheckpoint cut, stats dropped) for its two consumers to
      // agree on pids
      val s = LoopCheckpoint(
        df.repartitionByRange(p, sortCols: _*)
          .withColumn(PID, spark_partition_id()))
      Ranged(s, s, PID)
    } else {
      // a derived input is pinned once (one-shot, released with the
      // query) so the sample, the shuffle feed and the offsets read one
      // evaluation; a cheap leaf-rooted input is re-read as is
      val src = if (reEvalCheap(df)) df else CheckpointScope.pin(df)
      val bounds = sampleBounds(src, specs, p)
      val slots = placeSlots(bounds.length + 1, p)
      val tagged = src
        .withColumn(PID, bisectPid(specs, bounds))
        .withColumn(PLACE,
          element_at(typedLit(slots.toSeq), col(PID) + lit(1)))
      Ranged(tagged.repartition(p, col(PLACE)), tagged, PLACE)
    }
  }

  // ------------------------------------------------------------------
  // The numbering core: global and grouped row number / rank / running
  // sums are one [[distributed]] plan; the global form has no groups.
  //
  // Grouping fixes the LOW-CARDINALITY-partition window:
  // `Window.partitionBy(g).orderBy(k)` parallelizes by GROUP, so 3
  // return flags move a fact table into 3 tasks, each sorting its group
  // single-threaded. Range-assigning on (group ++ sort) keeps it P-way
  // parallel; the offset table is ≤ G·P rows, so it is meant for few
  // groups (at high G the plain grouped window is already parallel).
  // ------------------------------------------------------------------

  /** One numbered output column: `fn` is its window function, `lift`
    * the aggregate whose exclusive per-(group, range) prefix lifts the
    * per-range value to the global one. */
  private case class Numbering(out: String, fn: WindowSpec => Column,
                               lift: Column)

  private def rowNumberFn(w: WindowSpec): Column =
    row_number().over(w).cast("long")
  private def rankFn(w: WindowSpec): Column = rank().over(w).cast("long")

  /** The running sums' frame over (groups, sort) — the frame
    * row_number / rank / ntile resolve to anyway. */
  private def frame(groups: Seq[Column], sortCols: Seq[Column]): WindowSpec =
    Window.partitionBy(groups: _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Exclusive per-group prefix of each aggregate, ordered by pid
    * (≤ G·P rows), as `__go_off0..N-1` — the one offset table. */
  private def offsets(s: DataFrame, groupCols: Seq[String],
                      aggCols: Seq[Column]): DataFrame = {
    val keys = col(PID) +: groupCols.map(col)
    val named = aggCols.zipWithIndex.map { case (a, i) => a.as(s"__go_n$i") }
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(PID)
      .rowsBetween(Window.unboundedPreceding, -1)
    val counted = s.groupBy(keys: _*).agg(named.head, named.tail: _*)
    aggCols.indices.foldLeft(counted) { (d, i) =>
      d.withColumn(s"__go_off$i",
        coalesce(sum(col(s"__go_n$i")).over(w), lit(0L)))
    }.select(keys ++ aggCols.indices.map(i => col(s"__go_off$i")): _*)
  }

  /** Range-assign on (groups ++ sort), run every window per (range,
    * group), add its exclusive offset. Equal (group, key) rows share a
    * range (null-safe-equal bisect), so rank keeps its gaps. */
  private def distributed(df: DataFrame, groupCols: Seq[String],
                          sortCols: Seq[Column], nums: Seq[Numbering],
                          parts: Int): DataFrame = {
    val r = ranged(df, groupCols.map(col) ++ sortCols, parts)
    val w = frame(col(r.partCol) +: groupCols.map(col), sortCols)
    val local = nums.zipWithIndex.foldLeft(r.win) { case (d, (n, i)) =>
      d.withColumn(s"__go_w$i", n.fn(w)) }
    val offs = broadcast(offsets(r.agg, groupCols, nums.map(_.lift)))
    nums.zipWithIndex.foldLeft(local.join(offs, PID +: groupCols)) {
      case (d, (n, i)) =>
        d.withColumn(n.out, col(s"__go_off$i") + col(s"__go_w$i"))
    }.drop(Seq(PID, PLACE) ++ nums.indices.flatMap(i =>
      Seq(s"__go_w$i", s"__go_off$i")): _*)
  }

  /** `row_number()` over `sortCols` (per group of `groupCols`) as
    * LongType `out`; deterministic iff the sort totally orders each
    * group — the window's own contract. */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
                    groupCols: Seq[String] = Nil, parts: Int = 0): DataFrame =
    distributed(df, groupCols, sortCols,
      Seq(Numbering(out, rowNumberFn, count(lit(1)))), parts)

  /** `rank()` (gap semantics) over `sortCols` (per group of `groupCols`). */
  def withRank(df: DataFrame, sortCols: Seq[Column], out: String,
               groupCols: Seq[String] = Nil, parts: Int = 0): DataFrame =
    distributed(df, groupCols, sortCols,
      Seq(Numbering(out, rankFn, count(lit(1)))), parts)

  /** Global `ntile(n)` over `sortCols`: SQL NTILE's exact rule from
    * the global row number — base bucket size `total div n`, first
    * `total mod n` buckets get one extra row. */
  def withNtile(df: DataFrame, n: Int, sortCols: Seq[Column], out: String,
                parts: Int = 0): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    val numbered = withRowNumber(df, sortCols, "__go_grn", parts = parts)
    // total row count re-aggregates the INPUT (scan + count, no sort)
    // rather than re-evaluating the numbered plan a second time
    val total = df.agg(count(lit(1)).as("__go_total"))
    numbered.crossJoin(broadcast(total))
      .withColumn(out, expr(
        s"""CASE
           |  WHEN __go_total < $n THEN __go_grn
           |  WHEN __go_grn <= (__go_total div $n + 1) * (__go_total % $n)
           |    THEN (__go_grn - 1) div (__go_total div $n + 1) + 1
           |  ELSE __go_total % $n
           |    + (__go_grn - 1 - (__go_total div $n + 1) * (__go_total % $n))
           |      div (__go_total div $n) + 1
           |END""".stripMargin))
      .drop("__go_grn", "__go_total")
  }

  /** Running sums of each `(valueCol, out)` over `sortCols` (per group
    * of `groupCols`) in ONE range shuffle however many sums share the
    * order (the q_ks_test shape). LongType overflow semantics are the
    * window's (offsets sum in BIGINT); widen a value upstream if its
    * total needs it. */
  def withRunningSums(df: DataFrame, sortCols: Seq[Column],
                      sums: Seq[(Column, String)],
                      groupCols: Seq[String] = Nil,
                      parts: Int = 0): DataFrame = {
    checkSums(df, sums)
    // each value is projected once ahead of the range assignment; the
    // window and the offset aggregate both read that column
    val vs = sums.indices.map(i => s"__go_v$i")
    val nums = sums.zip(vs).map { case ((_, o), v) =>
      Numbering(o, sum(col(v)).over(_), sum(col(v))) }
    val valued = df.select(col("*") +: sums.zip(vs).map {
      case ((c, _), v) => c.as(v) }: _*)
    distributed(valued, groupCols, sortCols, nums, parts).drop(vs: _*)
  }

  private def checkSums(df: DataFrame, sums: Seq[(Column, String)]): Unit = {
    val outs = sums.map(_._2)
    require(outs.nonEmpty, "need at least one (valueCol, out) sum")
    require(outs.distinct.size == outs.size,
      s"duplicate output names in sums: ${outs.mkString(", ")} — " +
        "the withColumn fold would silently clobber the earlier sum")
    val clash = outs.filter(df.columns.contains)
    require(clash.isEmpty,
      s"running-sum output names already in the input: ${clash.mkString(", ")}" +
        " — they would silently replace the input columns; rename them")
  }

  // ------------------------------------------------------------------
  // Cardinality-gated `*Auto` variants. The distributed numbering is
  // the right DEFAULT — an unpartitioned window is the first thing
  // that stops finishing at 100 TB — but its fixed stage tax (~1-1.5 s
  // at local[32]) is pure loss on a PROVABLY small relation
  // (post-aggregation by a dimension key, distinct-value histograms).
  // At or below [[smallThreshold]] rows the plain window runs, whatever
  // the group count; above it the distributed form runs unchanged, with
  // bit-identical values and column types. `bound`: a caller-supplied
  // row-count bound, when one is provable, skips the count; with
  // `None`, [[gated]] counts a re-evaluable input bare and pins a
  // derived one once (the cache the query's sibling aggregates hit).
  // ------------------------------------------------------------------

  /** The one gate: at or below [[smallThreshold]] rows add each
    * `(out, fn)` as a plain window over (groups, sort); above it run
    * `big` on the gated input. */
  private def auto(df: DataFrame, bound: Option[Long],
                   groupCols: Seq[String], sortCols: Seq[Column],
                   small: Seq[(String, WindowSpec => Column)])(
                   big: DataFrame => DataFrame): DataFrame = {
    val (src, n) = gated(df, bound)
    if (n > smallThreshold(df.sparkSession)) big(src)
    else {
      val w = frame(groupCols.map(col), sortCols)
      small.foldLeft(src) { case (d, (o, fn)) => d.withColumn(o, fn(w)) }
    }
  }

  def withRowNumberAuto(df: DataFrame, sortCols: Seq[Column], out: String,
                        groupCols: Seq[String] = Nil,
                        bound: Option[Long] = None,
                        parts: Int = 0): DataFrame =
    auto(df, bound, groupCols, sortCols, Seq(out -> rowNumberFn))(
      withRowNumber(_, sortCols, out, groupCols, parts))

  def withRankAuto(df: DataFrame, sortCols: Seq[Column], out: String,
                   groupCols: Seq[String] = Nil, bound: Option[Long] = None,
                   parts: Int = 0): DataFrame =
    auto(df, bound, groupCols, sortCols, Seq(out -> rankFn))(
      withRank(_, sortCols, out, groupCols, parts))

  /** The small branch is the built-in NTILE, whose uneven-bucket rule
    * [[withNtile]] reproduces at every remainder class. */
  def withNtileAuto(df: DataFrame, n: Int, sortCols: Seq[Column], out: String,
                    bound: Option[Long] = None, parts: Int = 0): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    auto(df, bound, Nil, sortCols,
        Seq(out -> ((w: WindowSpec) => ntile(n).over(w).cast("long"))))(
      withNtile(_, n, sortCols, out, parts))
  }

  /** Names are validated before the gate, so both branches reject alike. */
  def withRunningSumsAuto(df: DataFrame, sortCols: Seq[Column],
                          sums: Seq[(Column, String)],
                          groupCols: Seq[String] = Nil,
                          bound: Option[Long] = None,
                          parts: Int = 0): DataFrame = {
    checkSums(df, sums)
    auto(df, bound, groupCols, sortCols,
        sums.map { case (v, o) => o -> ((w: WindowSpec) => sum(v).over(w)) })(
      withRunningSums(_, sortCols, sums, groupCols, parts))
  }
}
