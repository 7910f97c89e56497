package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType,
  StringType}

/** Native codegen'd 64-bit SimHash over a token array: each token's
  * `XXH64.hashUTF8String(tok, seed)` votes +1 on its set bits and −1 on
  * its clear bits; bit i of the fingerprint is set iff tally i > 0.
  * Bit-identical to `explode(toks)` → `xxhash64(t)` (seed 42) → 64
  * `sum(when(bit set, 1).otherwise(-1))` votes → `groupBy(doc_id)`
  * (SimHashSpec's reference), but computed in one loop per row: no
  * per-token rows, no shuffle.
  *
  * `seed` is the hash seed the token hash starts from: 42 is Spark's
  * `xxhash64(t)`; `XXH64.hashLong(1L, 42L)` is `xxhash64(lit(1L), t)`
  * (Spark folds its arguments left to right, each into the previous
  * hash). A null token hashes to the seed itself (Spark's hash
  * functions skip nulls). An EMPTY input array yields null: no token,
  * no fingerprint.
  */
final case class SimHashFp(child: Expression, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"simhash_fp expects ARRAY<STRING>, got ${dt.sql}")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "simhash_fp"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n == 0) return null
    val ones = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = if (x.isNullAt(i)) seed
        else XXH64.hashUTF8String(x.getUTF8String(i), seed)
      var b = 0
      while (b < 64) {
        ones(b) += (h >>> b).toInt & 1
        b += 1
      }
      i += 1
    }
    // tally = ones − (n − ones) > 0  ⇔  2·ones > n
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (2L * ones(b) > n) fp |= 1L << b
      b += 1
    }
    fp
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = classOf[XXH64].getName
      val n = ctx.freshName("n")
      val ones = ctx.freshName("ones")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |final int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int[] $ones = new int[64];
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $h = $a.isNullAt($i)
         |      ? ${seed}L : $xxh.hashUTF8String($a.getUTF8String($i), ${seed}L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $ones[$b] += (int) ($h >>> $b) & 1;
         |    }
         |  }
         |  long $fp = 0L;
         |  for (int $b = 0; $b < 64; $b++) {
         |    if (2L * $ones[$b] > $n) $fp |= 1L << $b;
         |  }
         |  ${ev.value} = $fp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHashFp = copy(child = newChild)
}

/** The 56 permuted-block keys of a 64-bit SimHash fingerprint (Manku et
  * al., WWW'07): the fingerprint splits into 8 blocks of 8 bits, and
  * table t — the t-th 5-block combination of `(0 until 8)
  * .combinations(5)` — keys on its 5 blocks packed low to high into a
  * 40-bit value (block of position p at bits 8p..8p+7). Position t of
  * the result is table t's key, so `posexplode` yields the (tbl, key)
  * rows of `explode(array(struct(lit(t), key_t)))` over 56 structs of 5
  * shift/mask terms (SimHashSpec's reference) from one loop per row.
  * A null fingerprint yields null.
  */
final case class SimHashBlockKeys(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"simhash_block_keys expects BIGINT, got ${dt.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "simhash_block_keys"

  override def nullSafeEval(a: Any): Any = {
    val fp = a.asInstanceOf[Long]
    val keys = new Array[Long](SimHashBlockKeys.Tables)
    var t = 0
    while (t < SimHashBlockKeys.Tables) {
      var key = 0L
      var p = 0
      while (p < 5) {
        val shift = SimHashBlockKeys.shifts(t * 5 + p)
        key |= ((fp >>> shift) & 255L) << (p * 8)
        p += 1
      }
      keys(t) = key
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, fp => {
      val shiftsRef = ctx.addReferenceObj("simhashBlockShifts",
        SimHashBlockKeys.shifts, "int[]")
      val tables = SimHashBlockKeys.Tables
      val keys = ctx.freshName("keys")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val key = ctx.freshName("key")
      val blk = ctx.freshName("blk")
      // Shift and mask as separate compound assignments: Janino
      // mis-parses some parenthesized shifts on an assignment RHS as
      // casts (see SigPack).
      s"""
         |final long[] $keys = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $key = 0L;
         |  for (int $p = 0; $p < 5; $p++) {
         |    long $blk = $fp >>> $shiftsRef[$t * 5 + $p];
         |    $blk &= 255L;
         |    $blk <<= $p * 8;
         |    $key |= $blk;
         |  }
         |  $keys[$t] = $key;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHashBlockKeys = copy(child = newChild)
}

object SimHashBlockKeys {
  /** C(8,5) = 56 tables. */
  val Tables: Int = 56

  /** Bit offsets of each table's 5 blocks, table-major: `shifts(5t + p)`
    * is 8 × the p-th block of the t-th combination.
    */
  private val shifts: Array[Int] =
    (0 until 8).combinations(5).flatten.map(_ * 8).toArray
}
