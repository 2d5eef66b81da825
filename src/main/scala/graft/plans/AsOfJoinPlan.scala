package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BoundReference, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** A whole-operator Catalyst extension (SURVEY.md §2 L): the as-of
  * join as a first-class `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, instead of the composed union+window formulation in
  * `Reports.asofEventOrder`.
  *
  * Both implementations are kept deliberately: the composed form shows
  * the operator is *expressible* declaratively; this one shows the
  * engine-extension path when an operator deserves its own physical
  * algorithm. The custom exec declares
  * `requiredChildDistribution`/`requiredChildOrdering`, so Catalyst
  * inserts the hash exchanges and sorts exactly as it would for a
  * built-in sort-merge join — at scale each task merge-walks one
  * co-partitioned (user-clustered, time-sorted) slice of events and
  * orders in O(n+m) with O(1) state, strictly less work than the
  * union+window (which sorts the union) and with no row-explosion
  * probe join anywhere.
  *
  * Row contract (by position): probe side = (uid: Long, ts: Long,
  * payload: Long), build side = (uid: Long, ts: Long, key: Long).
  * Output = probe columns + (matched_ts, matched_key), both nullable
  * — the most recent build row with ts ≤ probe ts; ties on ts take
  * the largest key (build side is sorted (uid, ts, key) and the walk
  * keeps the LAST qualifying row).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    matchedTs: AttributeReference, matchedKey: AttributeReference)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ Seq(matchedTs, matchedKey)
  // the match columns are GENERATED here, not derived from children —
  // without this the analyzer reports them missing-from-input
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(matchedTs, matchedKey))
  // the merge walk consumes EVERY child column positionally; without
  // this ColumnPruning sees no expressions referencing the children
  // and rewrites them to empty projections
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoin = copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  def apply(left: LogicalPlan, right: LogicalPlan): AsOfJoin =
    AsOfJoin(left, right,
      AttributeReference("matched_ts", LongType, nullable = true)(),
      AttributeReference("matched_key", LongType, nullable = true)())
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    matchedTs: AttributeReference, matchedKey: AttributeReference)
    extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output ++ Seq(matchedTs, matchedKey)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(matchedTs, matchedKey))

  // cluster both sides by the user key; Catalyst plants the exchanges
  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(left.output.head)),
    ClusteredDistribution(Seq(right.output.head)))

  // and the per-partition sorts that make the merge walk valid
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(left.output.head, Ascending), SortOrder(left.output(1), Ascending)),
    Seq(SortOrder(right.output.head, Ascending), SortOrder(right.output(1), Ascending),
      SortOrder(right.output(2), Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val resultTypes = output.map(_.dataType).toArray
    left.execute().zipPartitions(right.execute()) { (probeIter, buildIter) =>
      val build = buildIter.buffered
      // per-PARTITION buffers, reused across every row: the 2-slot
      // primitive match holder, the joined view, and one codegen'd
      // UnsafeProjection — no per-row Array[Any]/boxing, and the rows
      // handed downstream are UnsafeRows (exchanges and sorts consume
      // them without a conversion pass). Reusing the projection's
      // target row is the standard exec contract (consumers copy if
      // they buffer), same as the built-in sort-merge join.
      val matchRow = new SpecificInternalRow(Seq(LongType, LongType))
      val joined = new JoinedRow
      val project = UnsafeProjection.create(resultTypes)
      new Iterator[InternalRow] {
        // O(1) state: the last qualifying build row for the current uid
        private var curUid = Long.MinValue
        private var has = false
        private var mTs = 0L
        private var mKey = 0L
        private var mKeyNull = false

        override def hasNext: Boolean = probeIter.hasNext

        override def next(): InternalRow = {
          val p = probeIter.next()
          // a NULL uid/ts probe row matches nothing (SQL null-equality
          // semantics — getLong would read 0 and as-of-match it against
          // uid 0's build rows); such rows sort FIRST, so skipping them
          // without advancing the walk preserves the merge invariant
          if (p.isNullAt(0) || p.isNullAt(1)) {
            matchRow.setNullAt(0); matchRow.setNullAt(1)
            return project(joined(p, matchRow))
          }
          val uid = p.getLong(0)
          val ts = p.getLong(1)
          if (uid != curUid) { curUid = uid; has = false }
          // drop build rows for earlier users — and rows with a null
          // uid/ts, which can satisfy no match predicate (they sort
          // first under NULLS FIRST, and a null ts can never be ≤ ts)
          while (build.hasNext && (build.head.isNullAt(0) || build.head.isNullAt(1) ||
              build.head.getLong(0) < uid)) build.next()
          // absorb build rows for this user at or before the probe time;
          // last one wins = max ts, then max key (build sort order)
          while (build.hasNext && build.head.getLong(0) == uid &&
              build.head.getLong(1) <= ts) {
            val b = build.next()
            has = true; mTs = b.getLong(1)
            mKeyNull = b.isNullAt(2)
            mKey = if (mKeyNull) 0L else b.getLong(2)
          }
          if (has) {
            matchRow.setLong(0, mTs)
            if (mKeyNull) matchRow.setNullAt(1) else matchRow.setLong(1, mKey)
          } else { matchRow.setNullAt(0); matchRow.setNullAt(1) }
          project(joined(p, matchRow))
        }
      }
    }
  }

  // ---- whole-stage codegen (SortMergeJoinExec's produce-only
  // pattern: both children feed the stage as row iterators, the merge
  // walk itself is generated into the stage body, and downstream
  // operators consume our columns as local variables with no
  // intermediate row materialization at all) ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    Seq(left.execute(), right.execute())

  // our output vars reference mutable walk state that the next probe
  // row overwrites — a buffering parent must copy
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val probeInput = ctx.addMutableState("scala.collection.Iterator", "asofProbeInput",
      v => s"$v = inputs[0];")
    val buildInput = ctx.addMutableState("scala.collection.Iterator", "asofBuildInput",
      v => s"$v = inputs[1];")
    // the one-row lookahead over the build side + the O(1) walk state
    val bufRow = ctx.addMutableState("InternalRow", "asofBuildRow")
    val curUid = ctx.addMutableState("long", "asofCurUid",
      v => s"$v = Long.MIN_VALUE;")
    val has = ctx.addMutableState("boolean", "asofHas")
    val mTs = ctx.addMutableState("long", "asofMTs")
    val mKey = ctx.addMutableState("long", "asofMKey")
    val mKeyNull = ctx.addMutableState("boolean", "asofMKeyNull")
    val probeRow = ctx.freshName("probeRow")
    val uid = ctx.freshName("uid")
    val ts = ctx.freshName("ts")
    // probe columns read straight off the iterator row
    ctx.INPUT_ROW = probeRow
    ctx.currentVars = null
    val probeVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    // SortMergeJoinExec pattern: emit every probe column's declaration
    // ONCE via evaluateVariables (which blanks each ExprCode's code) and
    // only then hand the vars to consume(). Re-interpolating .code after
    // consume() can declare the same local twice when the parent embeds
    // deferred var code (janino error → silent interpreted fallback).
    val evaluatedProbe = evaluateVariables(probeVars)
    // matched columns are the walk-state variables themselves, gated
    // per row: a NULL-uid/ts probe row matches nothing and must not
    // surface the PREVIOUS row's walk state
    val pNull = ctx.freshName("probeNull")
    val rowHas = ctx.freshName("rowHas")
    val dropB = ctx.freshName("dropBuild")
    val tsVar = ExprCode(code"",
      JavaCode.isNullExpression(s"!$rowHas"), JavaCode.variable(mTs, LongType))
    val keyVar = ExprCode(code"",
      JavaCode.isNullExpression(s"(!$rowHas || $mKeyNull)"),
      JavaCode.variable(mKey, LongType))
    val consumed = consume(ctx, probeVars ++ Seq(tsVar, keyVar))
    s"""
       |while ($probeInput.hasNext()) {
       |  InternalRow $probeRow = (InternalRow) $probeInput.next();
       |  boolean $pNull = $probeRow.isNullAt(0) || $probeRow.isNullAt(1);
       |  long $uid = $pNull ? 0L : $probeRow.getLong(0);
       |  long $ts = $pNull ? 0L : $probeRow.getLong(1);
       |  if (!$pNull) {
       |    if ($uid != $curUid) { $curUid = $uid; $has = false; }
       |    if ($bufRow == null && $buildInput.hasNext()) {
       |      $bufRow = (InternalRow) $buildInput.next();
       |    }
       |    while ($bufRow != null) {
       |      // null uid/ts build rows (sorted first) match nothing; then
       |      // drop earlier users. Split into a named local: janino
       |      // mis-parses a parenthesized || group that starts with a
       |      // mutable-state array access as a cast type.
       |      boolean $dropB = $bufRow.isNullAt(0) || $bufRow.isNullAt(1);
       |      if (!$dropB) $dropB = $bufRow.getLong(0) < $uid;
       |      if (!$dropB) break;
       |      $bufRow = $buildInput.hasNext() ? (InternalRow) $buildInput.next() : null;
       |    }
       |    while ($bufRow != null && $bufRow.getLong(0) == $uid && $bufRow.getLong(1) <= $ts) {
       |      $has = true; $mTs = $bufRow.getLong(1);
       |      $mKeyNull = $bufRow.isNullAt(2);
       |      $mKey = $mKeyNull ? 0L : $bufRow.getLong(2);
       |      $bufRow = $buildInput.hasNext() ? (InternalRow) $buildInput.next() : null;
       |    }
       |  }
       |  boolean $rowHas = !$pNull && $has;
       |  $evaluatedProbe
       |  $consumed
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec = copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node onto its exec. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, ts, key) =>
      AsOfJoinExec(planLater(l), planLater(r), ts, key) :: Nil
    case _ => Nil
  }
}

/** Probe-side filter pushdown for [[AsOfJoin]] (VERDICT r13 #5 —
  * RangeBandJoin's `PushFilterThroughRangeBandJoin` applied to the
  * as-of operator): a deterministic conjunct referencing only probe
  * columns commutes with the join — each probe row's match depends
  * only on the build side, never on other probe rows — so it sinks
  * below the custom node and from there Spark's own rules carry it to
  * the parquet scan (`PushedFilters`). Build-side or generated-column
  * (`matched_ts`/`matched_key`) conjuncts must NOT move: dropping
  * build rows changes which row is "most recent" for surviving
  * probes, and generated columns don't exist below the node.
  */
object PushFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j @ AsOfJoin(left, _, _, _)) =>
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = j.withNewChildren(
          Seq(Filter(push.reduce(And), left), j.right)).asInstanceOf[AsOfJoin]
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Public API for the custom operator. */
object AsOf {
  /** As-of join two frames on the positional contract (uid, ts,
    * payload/key). Idempotently installs the planner strategy in the
    * session.
    */
  def join(spark: SparkSession, probe: DataFrame, build: DataFrame): DataFrame = {
    // the exec reads children positionally as longs — fail at PLAN
    // time with a typed message instead of garbage reads at runtime
    def check(df: DataFrame, side: String): Unit = {
      val fields = df.schema.fields
      require(fields.length == 3 && fields.forall(_.dataType == LongType),
        s"AsOf.join $side side must be exactly (uid: Long, ts: Long, value: Long); " +
          s"got ${df.schema.simpleString}")
    }
    check(probe, "probe"); check(build, "build")
    // synchronized on the session's ExperimentalMethods: the
    // check-then-append races under concurrent first calls (and
    // RangeBand.join appends to the same lists) — see RangeBand.join
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(AsOfJoinStrategy))
        exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
      if (!exp.extraOptimizations.contains(PushFilterThroughAsOfJoin))
        exp.extraOptimizations = exp.extraOptimizations :+ PushFilterThroughAsOfJoin
    }
    GraftSqlShim.ofRows(spark,
      AsOfJoin(GraftSqlShim.logicalPlan(probe), GraftSqlShim.logicalPlan(build)))
  }
}
