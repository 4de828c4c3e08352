package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import scala.reflect.ClassTag

/** One graft SQL function: its name, argument count and Catalyst
  * builder. Both install paths — `GraftExtensions` at session build and
  * [[register]] on an existing session — go through [[builder]], so the
  * argument count is checked in one place for every function: a wrong
  * count fails analysis naming the function, instead of silently
  * dropping an argument or failing with an index error.
  */
final class SqlFunction private[functions] (val name: String, val arity: Int,
    className: String, build: Seq[Expression] => Expression) {

  val builder: Seq[Expression] => Expression = args => {
    if (args.length != arity)
      throw new IllegalArgumentException(
        s"$name expects $arity argument(s), got ${args.length}")
    build(args)
  }

  /** Entry for `SparkSessionExtensions.injectFunction`. */
  def injection: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(className, name), builder)

  /** Register in an existing session's function registry (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}

/** The table of graft SQL functions. Each expression's companion
  * `register` installs its own entry; [[all]] is what
  * `GraftExtensions` injects and `GraftSession.register` registers.
  */
object SqlFunctions {
  private def fn[T <: Expression](name: String, arity: Int)(build: Seq[Expression] => T)(
      implicit ct: ClassTag[T]): SqlFunction =
    new SqlFunction(name, arity, ct.runtimeClass.getName, build)

  /** A literal Int argument (k, window width), folded at analysis. */
  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  val dot = fn("graft_dot", 2)(a => DotProduct(a(0), a(1)))
  val unit = fn("graft_unit", 1)(a => UnitVector(a(0)))
  val qunit = fn("graft_qunit", 1)(a => QuantUnitVector(a(0)))
  val shingles = fn("graft_shingles", 2)(a => TokenShingles(a(0), int(a(1))))
  val grams = fn("graft_grams", 2)(a => TokenGrams(a(0), int(a(1))))
  val topk = fn("graft_topk", 2)(a => BoundedTopK(int(a(0)), a(1)))
  val spaceSaving = fn("graft_spacesaving", 2)(a => SpaceSaving(int(a(0)), a(1)))
  val simhash = fn("graft_simhash", 1)(a => SimHash64(a(0)))
  val minhash = fn("graft_minhash", 1)(a => MinHashSig(a(0)))
  val sortedHashes = fn("graft_sorted_hashes", 1)(a => SortedHashes(a(0)))
  val sortedIntersect = fn("graft_sorted_intersect", 2)(a => SortedIntersectCount(a(0), a(1)))
  val rademacher = fn("graft_rademacher", 1)(a => RademacherSketch(a(0)))
  val srp126 = fn("graft_srp126", 1)(a => Srp126(a(0)))
  val rollingHashes = fn("graft_rolling_hashes", 1)(a => RollingHashes(a(0)))
  val winnowedHashes = fn("graft_winnowed_hashes", 1)(a => WinnowedHashes(a(0)))

  val all: Seq[SqlFunction] = Seq(dot, unit, qunit, shingles, grams, topk,
    spaceSaving, simhash, minhash, sortedHashes, sortedIntersect, rademacher,
    srp126, rollingHashes, winnowedHashes)
}
