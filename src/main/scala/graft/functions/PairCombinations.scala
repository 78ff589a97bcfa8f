package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods

/** All C(n,2) ordered pairs of a (sorted) struct array in one tight loop —
  * the in-bucket candidate-pair generation behind
  * [[graft.operators.Dedup.bucketPairs]]. The compositional form
  * `flatten(transform(es, (x,i) => transform(slice(...), y => struct)))`
  * interprets three nested lambdas per bucket; this emits the structs
  * directly. Input order is preserved, so an input sorted by its first
  * field yields pairs whose `a` sorts before `b`. */
object PairCombinationsStructImpl {
  /** C(n,2), in Long: the Int product `n * (n - 1)` wraps from
    * n = 46 342 on. */
  def pairCount(n: Int): Long = n.toLong * (n - 1) / 2

  def compute(entries: ArrayData, numFields: Int): ArrayData = {
    val n = entries.numElements()
    val count = pairCount(n)
    if (count > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalArgumentException(
        s"pair_combinations_struct: a bucket of $n entries has $count " +
          s"pairs, more than the largest array " +
          s"(${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH}); cap the bucket " +
          "size before pairing")
    val out = new Array[Any](count.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val a = entries.getStruct(i, numFields).copy()
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](
          a, entries.getStruct(j, numFields).copy()))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `pair_combinations_struct(entries ARRAY<STRUCT<...>>) ->
  * ARRAY<STRUCT<a, b>>`: each entry is a (sorted-first-by-id) struct, and
  * pairs carry both entries whole, so downstream verification needs no
  * join back onto a side table. */
case class PairCombinationsStruct(child: Expression) extends UnaryExpression {
  private lazy val entryType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", entryType, nullable = false),
    StructField("b", entryType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StructType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pair_combinations_struct requires ARRAY<STRUCT>, got ${other.sql}")
    }
  override def nullSafeEval(entries: Any): Any =
    PairCombinationsStructImpl.compute(
      entries.asInstanceOf[ArrayData], entryType.length)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PairCombinationsStructImpl.compute($c, ${entryType.length})")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "pair_combinations_struct"
}

object PairFunctions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pair_combinations_struct",
      exprs => PairCombinationsStruct(exprs.head), "scala_udf")

  def pairCombinationsStruct(entries: Column): Column =
    call_function("pair_combinations_struct", entries)
}
