package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CappedCollectLongs, MisraGriesAgg, PackInt8, SkillPointsExpr, TopKAgg, UnpackInt8, VecDot, ZOrderKey}

/** SQL surface for the engine's native expressions (SURVEY.md §2.10):
  * makes `skill_points`, `vec_dot` and `top_k` callable from
  * `spark.sql(...)`.
  *
  * Two registration paths, same builders:
  *  - [[GraftExtensions]] for session construction
  *    (`.withExtensions(new GraftExtensions)`) or cluster-wide via
  *    `spark.sql.extensions=graft.GraftExtensions` — the deployment path.
  *  - [[GraftFunctions.register]] for an already-running session (local
  *    mode reuses one SparkContext, so a second builder can't inject
  *    extensions) — the embedded/test path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftFunctions.tableDescriptors.foreach { case (name, info, builder) =>
      e.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.RowNumberStrategy)
    // The graftstore SQL front door (Delta's DeltaSqlParser/DeltaAnalysis
    // architecture): the parser adds the maintenance verbs (OPTIMIZE /
    // VACUUM / DESCRIBE HISTORY), the post-hoc rule routes the
    // already-parseable row-level commands (DELETE/UPDATE/MERGE INTO on
    // a graftstore relation) into the store's transactional ops. BOTH
    // need session-construction injection — a parser cannot be swapped
    // into a live session, so SQL DML requires `.withExtensions(new
    // GraftExtensions)` (or spark.sql.extensions=graft.GraftExtensions);
    // the Scala API needs neither.
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // HINT-batch rule (runs BEFORE the Resolution batch): ALTER TABLE
    // RENAME/DROP COLUMN on a v1 table is rejected by Spark's own
    // ResolveSessionCatalog the moment the table reference resolves —
    // even a same-batch extension rule is too late (built-ins run
    // first each iteration). The hint batch sees the statement with the
    // table still unresolved, so the rule can claim graftstore tables
    // via its own catalog lookup and leave everything else untouched.
    e.injectHintResolutionRule(session => new graft.plans.GraftAlterRule(session))
    e.injectPostHocResolutionRule(_ => graft.plans.GraftDmlRule)
    // AFTER the DML rule (same Once batch, injection order): DML matches
    // the marker relation; every remaining marker then upgrades to the
    // vectorized physical-schema scan + alias projection.
    e.injectPostHocResolutionRule(_ => graft.sources.GraftStoreVectorizeRule)
  }
}

object GraftFunctions {

  private def stringArg(e: Expression, fn: String): String = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a string literal argument, got: $other")
  }

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal argument, got: $other")
  }

  /** (name, info, builder) triples shared by both registration paths. */
  val descriptors: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("skill_points",
      new ExpressionInfo(classOf[SkillPointsExpr].getName, "skill_points"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "skill_points(level, 'skill')")
        SkillPointsExpr(args.head, stringArg(args(1), "skill_points"))
      }),
    ("vec_dot",
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot(a, b)")
        VecDot(args.head, args(1))
      }),
    ("top_k",
      new ExpressionInfo(classOf[TopKAgg].getName, "top_k"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "top_k(struct(score, id), k)")
        TopKAgg(args.head, intArg(args(1), "top_k")).toAggregateExpression()
      }),
    ("pack_int8",
      new ExpressionInfo(classOf[PackInt8].getName, "pack_int8"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "pack_int8(embedding, scale)")
        PackInt8(args.head, args(1))
      }),
    ("unpack_int8",
      new ExpressionInfo(classOf[UnpackInt8].getName, "unpack_int8"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "unpack_int8(bytes, scale)")
        UnpackInt8(args.head, args(1))
      }),
    ("zorder_key",
      new ExpressionInfo(classOf[ZOrderKey].getName, "zorder_key"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "zorder_key(a, b)")
        ZOrderKey(args.head, args(1))
      }),
    ("misra_gries",
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "misra_gries"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "misra_gries(term, k)")
        MisraGriesAgg(args.head, intArg(args(1), "misra_gries")).toAggregateExpression()
      }),
    ("capped_collect_longs",
      new ExpressionInfo(classOf[CappedCollectLongs].getName, "capped_collect_longs"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "capped_collect_longs(value, cap)")
        CappedCollectLongs(args.head, intArg(args(1), "capped_collect_longs"))
          .toAggregateExpression()
      }))

  /** Table-valued functions, same two registration paths. */
  val tableDescriptors: Seq[(String, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    // `SELECT * FROM table_changes('<table or path>', start [, end])`
    // — Delta's SQL door to the row-level change feed
    // (graft.sinks.VersionedStore.readRowChanges): every change
    // committed in versions start..end INCLUSIVE (end defaults to the
    // current version), as the table schema + `_change_type`
    // (insert | delete | update_preimage | update_postimage) +
    // `_commit_version`. Bounds are version numbers or timestamp
    // STRINGS (Delta's dual form): a start timestamp resolves to the
    // first commit stamped AT OR AFTER it (the earliest change the
    // window can contain), an end timestamp to the latest commit
    // stamped at or before it — both through the publish-stamped
    // commit clock. An empty range (start past the last commit) is a
    // zero-row frame with the same schema, not an error.
    ("table_changes",
      new ExpressionInfo("graft.GraftFunctions", "table_changes"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "table_changes('<table or path>', start [, end]) — versions " +
            "or timestamp strings")
        val spark = SparkSession.active
        val ref = stringArg(args.head, "table_changes")
        val root = graft.plans.GraftTableRef.resolveRoot(spark, ref)
        import graft.sinks.{VersionedStore => VS}
        val cur = VS.currentVersion(spark, root)
        def boundArg(e: Expression, isStart: Boolean): Long = e match {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
          case Literal(v: Long, org.apache.spark.sql.types.LongType)   => v
          case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
            val ts = VS.parseTravelTimestamp(v.toString,
              spark.sessionState.conf.sessionLocalTimeZone)
            if (isStart) {
              // first commit stamped AT OR AFTER ts: one before it is
              // the floor — resolve the floor and step past it. A ts
              // before every stamp floors to nothing → start at 1.
              val floor = try VS.versionAtTimestamp(spark, root, ts - 1,
                canReturnLastCommit = true)
              catch { case _: IllegalArgumentException => 0L }
              floor + 1
            } else VS.versionAtTimestamp(spark, root, ts,
              canReturnLastCommit = true)
          case other => throw new IllegalArgumentException(
            s"table_changes expects a literal version number or " +
              s"timestamp string, got: $other")
        }
        val start = boundArg(args(1), isStart = true)
        require(start >= 1,
          s"startVersion must be >= 1 (the first commit), got $start")
        val end = if (args.length == 3) boundArg(args(2), isStart = false)
                  else cur
        // Delta's bounds are inclusive commit versions; readRowChanges
        // covers (since, to]. A start past the current version is the
        // legal empty window (CDC pollers ask it constantly); a NUMERIC
        // end past the current version stays readRowChanges's loud
        // "does not exist" (a timestamp end already floors to current).
        val since = (start - 1) min cur
        graft.sinks.VersionedStore.readRowChanges(spark, root,
            since, end) match {
          case Some(df) => df.queryExecution.logical
          case None =>
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              graft.sources.VersionedCdc.sourceSchemaFor(spark, root,
                cdf = true)).queryExecution.logical
        }
      }))

  /** Register into a live session's function registries. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
    val tableRegistry = spark.sessionState.tableFunctionRegistry
    tableDescriptors.foreach { case (name, info, builder) =>
      tableRegistry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }

  /** Install a planner strategy into an already-running session,
    * idempotently (the live-session twin of [[GraftExtensions]]'s
    * injectPlannerStrategy). */
  def installStrategy(spark: SparkSession,
                      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies :+= strategy

  /** Install the optimizer rewrites into an already-running session (the
    * live-session twin of [[GraftExtensions]]'s injectOptimizerRule). */
  def installOptimizations(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRule
}
