package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Banded MinHash signature of one shingle set as a native codegen
  * expression: `minhash_bands(grams, numHashes, bands)` returns
  * ARRAY<BIGINT> of `bands` band hashes, and the EMPTY array for an
  * empty or NULL `grams`.
  *
  * Bit-identical to the aggregate pipeline it replaces, where each
  * shingle `g` is exploded to its own row and grouped back per doc:
  *  - shingle hash `h = xxhash64(g)` (a NULL shingle hashes to the
  *    seed, as `xxhash64` skips NULL inputs);
  *  - min-hash `m_j = min over g of xxhash64(j, h)` for
  *    j < numHashes (`j` an INT literal);
  *  - band `k = xxhash64(m_{r·k}, …, m_{r·k+r−1})`, r = numHashes/bands.
  * `xxhash64` is Spark's XXH64 seeded with 42, chained left to right
  * through its arguments, so every step is one static
  * [[org.apache.spark.sql.catalyst.expressions.XXH64]] call here.
  *
  * Why an expression: the aggregate form is an explode, a 64-way `min`
  * hash aggregate and a shuffle on the doc id, only to fold rows that
  * all came from ONE input row back together. Here the signature is
  * row-local — one pass over the doc's shingles keeping `numHashes`
  * running minima — so a band table is a `posexplode` with no
  * exchange. ExpressionSpec pins the equality with the aggregate form
  * over the fixture corpus.
  */
case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _)
        if bands >= 1 && numHashes >= bands && numHashes % bands == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (ARRAY<STRING>, numHashes, bands) with bands " +
        s">= 1 dividing numHashes, got (${other.simpleString}, " +
        s"$numHashes, $bands)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = MinHashBands.name
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) MinHashBands.empty()
    else MinHashBands.compute(v.asInstanceOf[ArrayData], numHashes, bands)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code +
        code"""
          |$javaType ${ev.value} = ${c.isNull} ?
          |  graft.plans.MinHashBands.empty() :
          |  graft.plans.MinHashBands.compute(${c.value}, $numHashes, $bands);
          |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashBands = copy(child = newChild)
}

object MinHashBands {
  val name = "minhash_bands"

  /** `xxhash64`'s seed */
  private val Seed = 42L
  private val EmptyArr = UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])

  /** The empty/NULL-input result — a method so generated code can call
    * it. */
  def empty(): ArrayData = EmptyArr

  /** One pass over the shingles; shared verbatim by interpreted eval and
    * generated code (the [[WordNgrams]] static-call pattern). */
  def compute(grams: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val n = grams.numElements()
    if (n == 0) return EmptyArr
    // xxhash64(j, h) = hashLong(h, hashInt(j, seed)): the per-j seed is
    // row-invariant
    val seeds = new Array[Long](numHashes)
    val mins = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      seeds(j) = XXH64.hashInt(j, Seed)
      mins(j) = Long.MaxValue
      j += 1
    }
    var i = 0
    while (i < n) {
      val h = if (grams.isNullAt(i)) Seed
        else XXH64.hashUTF8String(grams.getUTF8String(i), Seed)
      j = 0
      while (j < numHashes) {
        val m = XXH64.hashLong(h, seeds(j))
        if (m < mins(j)) mins(j) = m
        j += 1
      }
      i += 1
    }
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var k = 0
    while (k < bands) {
      var b = Seed
      var r = 0
      while (r < rows) { b = XXH64.hashLong(mins(rows * k + r), b); r += 1 }
      out(k) = b
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
