package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpr
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64 over a string column's UTF-8 bytes as a NATIVE Catalyst
  * expression with `doGenCode` — the brief's extension ladder step (b): a
  * codegen'd Expression beats a typed Dataset map (which forces a
  * Serialize/DeserializeToObject boundary and breaks whole-stage codegen)
  * and beats any UDF. `UTF8String.getBytes` IS the UTF-8 encoding, so the
  * result is bit-identical to [[TextFunctions.fnv1a64]] (spec-gated) and to
  * the DuckDB HUGEINT mod-2^64 replay the oracle twins use.
  *
  * First consumer: [[graft.operators.Quality.classifierScore]]'s feature
  * hashing — token -> bucket now runs inside the scan stage's generated
  * code instead of a flatMap closure.
  */
case class Fnv1a64Expr(child: Expression) extends UnaryExpression {
  // input typing: the Column face casts to string (AbstractDataType /
  // ExpectsInputTypes are private[sql] in Spark 4 — same note as TopKPairs)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fnv1a64"

  override protected def nullSafeEval(input: Any): Any =
    TextFunctions.fnv1a64(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("fnvBytes")
      val i = ctx.freshName("fnvI")
      val h = ctx.freshName("fnvH")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0xcbf29ce484222325L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h ^= ($bytes[$i] & 0xffL);
         |  $h *= 0x100000001b3L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64Expr =
    copy(child = newChild)
}

object FnvExpr {
  /** Column face of [[Fnv1a64Expr]] (casts its input to string). */
  def fnv1a64(c: Column): Column = GraftExpr.column(Fnv1a64Expr(GraftExpr.expr(c.cast("string"))))
}
