package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.classic.ExpressionUtils

import scala.collection.immutable

/** Bridge into Spark's `private[sql]` Column ⇄ Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`), which Spark 4 hides
  * behind the ColumnNode indirection. Custom native expressions
  * ([[graft.functions.VecDot]]) need exactly these two calls; a
  * one-object file in a `org.apache.spark.sql` subpackage is the standard
  * extension-library move (the alternative — per-session FunctionRegistry
  * injection via SparkSessionExtensions — forces every helper to resolve
  * an active session and go through SQL-string plumbing for what is a
  * plain expression-tree construction).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN values` as ONE reference-held `InSet`: the generated code reads
    * the set through `references[i]`, so it is the same for every value set
    * and a new query reuses Spark's compiled class (an `isin` literal list
    * is inlined into the code, compiling fresh classes per distinct list).
    * Parquet still receives it as a pushed `In` filter and partition
    * pruning still evaluates it.
    *
    * For a `Long` or `String` column. The values become Catalyst internal
    * values (`String` → `UTF8String`; a raw `String` never matches), held in
    * one concrete class, `immutable.HashSet`: the generated code casts the
    * reference to the set's class at compile time, and other Scala sets
    * either name another class (`Set1`…`Set4`: new code per size) or come
    * back from task serialization as one (a map's key set returns as a
    * `Set2`, failing the cast). Not for int columns: `InSet` over
    * `IntegerType` compiles a `switch` with the values inlined. Spark's
    * cached-batch pruning reads `In` but not `InSet`: read a pinned table
    * through [[PinnedTable.rowsIn]], which skips the batches itself. */
  def inSet(c: Column, values: Iterable[Any]): Column =
    column(InSet(expression(c),
      immutable.HashSet.from(values.iterator.map(CatalystTypeConverters.convertToCatalyst))))
}
