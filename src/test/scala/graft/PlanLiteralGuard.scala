package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType}

/** Session extension that fails any optimized plan whose literals hold
  * more than [[PlanLiteralGuard.MaxFloats]] floating-point numbers in
  * total, subqueries included. A matrix literal in a plan is re-optimized
  * and rendered on every explain, AQE update and micro-batch; constant
  * matrices belong in a [[graft.functions.HeldMatrix]] beside the plan.
  *
  * The test session ([[SparkSpec]]) is built with it; a main runs under
  * it with `-Dspark.sql.extensions=graft.PlanLiteralGuard` and the test
  * classes on the class path. At JVM exit it prints the largest count it
  * saw in one plan. Test oracles that keep a former literal formula as
  * their reference evaluate it inside [[PlanLiteralGuard.allowing]].
  */
class PlanLiteralGuard extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => PlanLiteralGuard.Check)
}

object PlanLiteralGuard {
  val MaxFloats = 256

  /** The largest per-plan count seen in this JVM, allowed plans aside. */
  val largest = new AtomicLong(0)

  private val allowed = ThreadLocal.withInitial[Boolean](() => false)

  /** Run `f` with the check off on this thread: for reference formulas
    * in tests, which keep the literals the program no longer plans. */
  def allowing[T](f: => T): T = {
    val was = allowed.get
    allowed.set(true)
    try f finally allowed.set(was)
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    System.err.println(s"plan literal guard: largest plan held " +
      s"${largest.get} floating-point literal values (limit $MaxFloats)")))

  /** Floating-point numbers inside one literal value of type `t`. */
  def floats(v: Any, t: DataType): Long = (v, t) match {
    case (null, _) => 0
    case (_, DoubleType | FloatType) => 1
    case (a: ArrayData, ArrayType(DoubleType | FloatType, _)) =>
      a.numElements()
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => floats(a.get(i, et), et)).sum
    case (m: MapData, MapType(kt, vt, _)) =>
      floats(m.keyArray(), ArrayType(kt)) + floats(m.valueArray(), ArrayType(vt))
    case (r: InternalRow, st: StructType) =>
      st.fields.indices.map(i =>
        floats(r.get(i, st.fields(i).dataType), st.fields(i).dataType)).sum
    case _ => 0
  }

  /** Floating-point numbers in all literals of `plan` and its subqueries. */
  def count(plan: LogicalPlan): Long = {
    var n = 0L
    plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case Literal(v, t) => n += floats(v, t)
      case _ =>
    }))
    n
  }

  object Check extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (allowed.get) return plan
      val n = count(plan)
      largest.accumulateAndGet(n, math.max)
      if (n > MaxFloats) throw new IllegalStateException(
        s"optimized plan holds $n floating-point literal values " +
          s"(limit $MaxFloats): hold constant matrices in a HeldMatrix\n" +
          plan.treeString.take(4000))
      plan
    }
  }
}
