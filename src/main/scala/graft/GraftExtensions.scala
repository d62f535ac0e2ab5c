package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.LongDot

/** SparkSessionExtensions entry point — makes the engine's native
  * expressions available to plain SQL users:
  *
  *   spark.sql("SELECT long_dot(a, b) FROM vecs")
  *
  * Wire up through the `spark.sql.extensions` conf:
  *   .config("spark.sql.extensions", GraftExtensions.className)
  * (`className` is "graft.GraftExtensions").
  *
  * Only expressions live here; whole-operator semantics in this library
  * deliberately stay in the DataFrame layer because Catalyst's built-in
  * rules already produce the right physical plans for them (SURVEY §4.2)
  * — an injected Rule/Strategy would be surface without substance.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("long_dot"),
      new ExpressionInfo(classOf[LongDot].getName, "long_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "long_dot(arrayA, arrayB) takes 2 arguments")
        LongDot(children.head, children(1))
      }))
  }
}

object GraftExtensions {
  val className: String = classOf[GraftExtensions].getName
}
