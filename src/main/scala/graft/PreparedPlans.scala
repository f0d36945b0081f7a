package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.{BoundPlan, ColumnShim}

/** Prepared plans for the per-question query paths: a plan whose shape
  * is fixed by the store or index state and whose literals change with
  * every question (a query vector, its probe list, its terms) is
  * analyzed once per state and shape, and each later question binds its
  * literals into the analyzed plan instead of building and analyzing
  * the plan again. The optimizer and the physical planner still run per
  * question, so the physical plan is the one a fresh build gives.
  *
  * The caller's `key` names everything the plan depends on besides its
  * literals: the state it reads (so a new store version or a rebuilt
  * index is a new key) and every setting that shapes it. The literals'
  * types and count join the key, so a bound value always takes its
  * slot's type. Entries live in a [[SessionCache]] of [[MaxEntries]],
  * scoped by the path the plan reads, so a writer that retires that
  * state can [[invalidate]] them.
  */
object PreparedPlans {
  private val MaxEntries = 256

  // the analyzed plan and the literal instances it was built with;
  // None when a slot did not survive analysis as the instance it went
  // in as, so no binding can be trusted for that key
  private final case class Template(plan: LogicalPlan, slots: Seq[Literal])
  private val templates = new SessionCache[Option[Template]](MaxEntries)

  /** The DataFrame `build` gives for `values`, passed to it as literal
    * columns in the same order. The first call per (`scope`, `key`,
    * value types) builds and analyzes the plan and keeps it; later calls
    * replace the kept literals with `values` in the analyzed plan.
    */
  def dataset(spark: SparkSession, scope: String, key: Any, values: Seq[Literal])(
      build: Seq[Column] => DataFrame): DataFrame = {
    var built: DataFrame = null
    val template = templates.getOrElseUpdate(spark, scope, (key, values.map(_.dataType))) {
      // fresh instances, so no literal the caller shares elsewhere can
      // be taken for a slot
      val slots = values.map(l => Literal(l.value, l.dataType))
      built = build(slots.map(ColumnShim.column))
      val plan = BoundPlan.analyzed(built)
      if (BoundPlan.occurrences(plan, slots).forall(_ > 0)) Some(Template(plan, slots))
      else None
    }
    if (built != null) built
    else template match {
      case Some(t) => BoundPlan.bind(spark, t.plan, t.slots, values)
      case None    => build(values.map(ColumnShim.column))
    }
  }

  /** `values` for the slots of one IN list, padded to a multiple of 8
    * by repeating the last: the optimizer drops an IN list's repeats
    * (`OptimizeIn`), so the padded plan optimizes to the unpadded one,
    * and lists of 1 to 8 values share one prepared plan.
    */
  def inList(values: Seq[Literal]): Seq[Literal] =
    if (values.isEmpty) values
    else values ++ Seq.fill((8 - values.size % 8) % 8)(values.last)

  /** A key part that stands for `frame` by identity: it equals only the
    * key of the same frame (of its analyzed plan, by reference). Two
    * frames read from one path count as equal plans in Spark, whatever
    * files each listed, so a plan over a caller's frame is keyed by the
    * frame, never by plan equality.
    */
  def frameKey(frame: DataFrame): AnyRef = new FrameKey(BoundPlan.analyzed(frame))

  private final class FrameKey(private val plan: LogicalPlan) {
    override def equals(o: Any): Boolean = o match {
      case k: FrameKey => k.plan eq plan
      case _           => false
    }
    override def hashCode: Int = System.identityHashCode(plan)
  }

  /** Drop the plans kept for scopes starting with `prefix`. */
  def invalidate(prefix: String): Unit = templates.invalidate(prefix)
}
