package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` pieces a prepared plan needs: the
  * analyzed plan behind a DataFrame, and a DataFrame made straight from
  * an analyzed plan without running the Analyzer again.
  */
object BoundPlan {
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** How many times each of `slots` (by reference, not by value) occurs
    * in `plan`'s expressions, subqueries included.
    */
  def occurrences(plan: LogicalPlan, slots: Seq[Literal]): Seq[Int] = {
    val index = new java.util.IdentityHashMap[Literal, Int]()
    slots.zipWithIndex.foreach { case (l, i) => index.put(l, i) }
    val counts = new Array[Int](slots.size)
    plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case l: Literal if index.containsKey(l) => counts(index.get(l)) += 1
      case _ =>
    }))
    counts.toSeq
  }

  /** `plan` with every occurrence of `slots(i)` (by reference) replaced
    * by `values(i)`, marked analyzed, as a DataFrame: the Analyzer
    * returns a plan already marked analyzed as it is, so the DataFrame
    * costs no analysis. `plan` must be analyzed and `values(i)` of
    * `slots(i)`'s type, so the bound plan stays resolved.
    */
  def bind(spark: SparkSession, plan: LogicalPlan, slots: Seq[Literal],
           values: Seq[Literal]): DataFrame = {
    require(slots.size == values.size &&
      slots.zip(values).forall { case (s, v) => s.dataType == v.dataType },
      "a bound value must take the type of its slot")
    val index = new java.util.IdentityHashMap[Literal, Literal]()
    slots.zip(values).foreach { case (s, v) => index.put(s, v) }
    val bound = plan.transformUpWithSubqueries { case p =>
      p.transformExpressions { case l: Literal if index.containsKey(l) => index.get(l) }
    }
    bound.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], bound)
  }
}
