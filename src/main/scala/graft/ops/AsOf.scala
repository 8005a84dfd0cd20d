package graft.ops

import graft.plans.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CatalystBridge

/** User-facing as-of join API over the custom operator stack
  * ([[graft.plans.AsOfJoin]] logical node → [[graft.plans.AsOfJoinStrategy]] →
  * AsOfJoinExec merge). Column arguments are names, resolved against
  * each side's analyzed plan (the sides keep distinct attribute ids, so
  * duplicate names across sides are fine — project/rename beforehand if
  * you need both in the output).
  *
  * The strategy comes from [[graft.GraftExtensions]] at session build; on
  * a session built without the extensions the join fails at planning
  * with Spark's "No plan for AsOfJoin". */
object AsOf {

  /** Left-outer as-of join: each left row gets the right row with the
    * greatest rightTime <= leftTime within the same key (direction
    * "backward"), the least rightTime >= leftTime ("forward"), or the
    * closer of the two with ties backward ("nearest" — integral-backed
    * time types only, since it subtracts). */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    val lp = CatalystBridge.analyzed(left)
    val rp = CatalystBridge.analyzed(right)
    def resolve(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${plan.output.map(_.name)}"))
    val (lk, rk) = (resolve(lp, leftKey), resolve(rp, rightKey))
    val (lt, rt) = (resolve(lp, leftTime), resolve(rp, rightTime))
    // fail fast at plan time: the exec's orderings assume matching,
    // orderable types — a mismatch here would otherwise surface as a
    // wrong answer or a deep executor-side cast failure
    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) throw new IllegalArgumentException(msg)
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.types.DataType
    def same(a: DataType, b: DataType) =
      DataType.equalsStructurally(a, b, ignoreNullability = true)
    check(same(lk.dataType, rk.dataType),
      s"as-of key types differ: $leftKey is ${lk.dataType.simpleString}, " +
        s"$rightKey is ${rk.dataType.simpleString}")
    check(same(lt.dataType, rt.dataType),
      s"as-of time types differ: $leftTime is ${lt.dataType.simpleString}, " +
        s"$rightTime is ${rt.dataType.simpleString}")
    check(RowOrdering.isOrderable(lk.dataType),
      s"as-of key type ${lk.dataType.simpleString} is not orderable")
    check(RowOrdering.isOrderable(lt.dataType),
      s"as-of time type ${lt.dataType.simpleString} is not orderable")
    check(Set("backward", "forward", "nearest")(direction),
      s"as-of direction must be backward/forward/nearest, got $direction")
    if (direction == "nearest" || tolerance.isDefined) {
      import org.apache.spark.sql.types._
      val ok = lt.dataType match {
        case TimestampType | TimestampNTZType | DateType |
             ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      check(ok, "nearest/tolerance as-of needs an integral-backed time " +
        s"type (timestamp/date/integer), got ${lt.dataType.simpleString}")
      tolerance.foreach(t => check(t >= 0, s"tolerance must be >= 0, got $t"))
    }
    CatalystBridge.ofRows(left.sparkSession,
      AsOfJoin(lp, rp, lk, rk, lt, rt, direction, tolerance))
  }
}
