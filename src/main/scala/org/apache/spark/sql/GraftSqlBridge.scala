package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * converters so graft's custom Catalyst expressions can be exposed as
  * ordinary `Column`s without routing every call through the function
  * registry + SQL strings. Standard extension-library pattern (the
  * spark-package namespace exists exactly for this kind of shim).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Decompose a sort column (`col.desc`, `asc_nulls_last(...)`, …)
    * into (bare key column, ascending?, nullsFirst?). `None` when the
    * column carries no sort direction — callers apply `orderBy`'s
    * asc-nulls-first default. Works on the LAZY Column node (a plain
    * `expression(c)` hands back an unconverted `ColumnNodeExpression`
    * wrapper that no catalyst `SortOrder` pattern can see). */
  def sortOrderOf(c: Column): Option[(Column, Boolean, Boolean)] =
    c.node match {
      case internal.SortOrder(child, dir, nullOrd, _) =>
        Some((Column(child),
          dir == internal.SortOrder.Ascending,
          nullOrd == internal.SortOrder.NullsFirst))
      case _ => None
    }

  /** Wrap a (resolved) logical plan as a DataFrame — how graft's custom
    * logical operators (e.g. `graft.plans.AsOfJoinPlan`) re-enter the
    * public Dataset API. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Strip the origin statistics Spark 4 preserves through an eager
    * `localCheckpoint` (SPARK-39748: `LogicalRDD` carries the source
    * plan's `Statistics` so checkpointing doesn't lose CBO info).
    * In an ITERATIVE DataFrame loop that preservation is a time bomb:
    * round r's plan multiplies the carried sizeInBytes through its
    * join tree (a 3-level pointer-jump chain raises it to the ~4th
    * power), the checkpoint carries THAT product into round r+1, and
    * the BigInt's bit length grows geometrically — by round ~10 the
    * driver hangs multiplying million-bit integers inside
    * SizeInBytesOnlyStatsPlanVisitor (observed: ConnectedComponents
    * on the sf1 sweep, main thread pinned in BigInteger.multiply).
    * Rebuilding the LogicalRDD without originStats resets each round
    * to the default estimate while KEEPING the checkpointed RDD,
    * output partitioning, and ordering — zero data movement. */
  def dropCarriedStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        // The checkpoint was EAGER, so the blocks exist — replace the
        // carried estimate with the RDD's ACTUAL cached size where the
        // block manager reports one (keeps small loop frames broadcast-
        // eligible); otherwise fall back to the default estimate.
        val actual = df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize)
          .filter(_ > 0L)
          .map(sz => catalyst.plans.logical.Statistics(BigInt(sz)))
        ofRows(df.sparkSession, new execution.LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(
          df.sparkSession.asInstanceOf[classic.SparkSession], actual, None))
      case _ => df
    }

  /** The checkpointed RDD behind an (eagerly) checkpointed frame, if
    * its plan is a `LogicalRDD` — the handle
    * `graft.operators.CheckpointScope` uses to release dead checkpoint
    * blocks deterministically instead of waiting for a driver GC to
    * reach the ContextCleaner's weak references. */
  def checkpointRdd(ds: Dataset[_])
      : Option[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.analyzed match {
      case l: execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Spark's hidden-name rule for file listings (`private[spark]`):
    * `_x` without `=`, `.x` and `x._COPYING_` are skipped,
    * `_metadata`/`_common_metadata` kept — so a listing made outside
    * `InMemoryFileIndex` keeps exactly the files `spark.read` would. */
  def hiddenFileName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** `StructType.asNullable` (`private[spark]`): every file relation's
    * data schema goes through it in `DataSource.resolveRelation`. */
  def asNullable(schema: types.StructType): types.StructType =
    schema.asNullable

  /** Raise a proper `AnalysisException` (the constructors are
    * `private[sql]`) for invalid arguments to graft's injected SQL
    * functions — function-builder validation errors should surface at
    * analysis time with a readable message, not as ClassCastException
    * at build time. */
  def analysisError(message: String): Nothing =
    throw new AnalysisException("USER_RAISED_EXCEPTION",
      Map("errorMessage" -> message))

  /** Standard "parameter must be a foldable literal" analysis error. */
  def nonFoldableArgumentError(funcName: String, paramName: String,
      paramType: org.apache.spark.sql.types.DataType): Nothing =
    throw org.apache.spark.sql.errors.QueryCompilationErrors
      .nonFoldableArgumentError(funcName, paramName, paramType)
}
