package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Bridge

/** Column/SQL surface for the native expressions in this package.
  *
  * Two registration paths:
  *  - [[GraftExtensions]] for session construction time
  *    (`.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.functions.GraftExtensions`) — the
  *    idiomatic plugin route for a shared cluster deployment;
  *  - [[Native.register]] for an already-built session (idempotent) —
  *    what the query library calls defensively so `qdot_long` resolves
  *    in SQL text regardless of how the session was made.
  *
  * The Column helpers below construct the expression directly
  * (`ExpressionUtils.column`), so DataFrame-API users need no
  * registration at all.
  */
object Native {

  /** Codegen'd integer dot product (see [[QDotLong]]). */
  def qdotLong(a: Column, b: Column): Column =
    Bridge.column(QDotLong(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd integer squared norm: qdot_long(a, a). The argument is
    * expected to be an attribute (array re-access is O(1); an inline
    * computed child would be evaluated twice).
    */
  def qnorm2Long(a: Column): Column = qdotLong(a, a)

  /** Codegen'd k-band MinHash signature (see [[MinHashSig]]). */
  def minhashSig(hs: Column, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(hs), k))

  /** Codegen'd 64-bit SimHash of a token array (see [[SimHashFp]]);
    * seed 42 is Spark's `xxhash64(t)`.
    */
  def simhashFp(toks: Column, seed: Long): Column =
    Bridge.column(SimHashFp(Bridge.expression(toks), seed))

  /** Codegen'd 56 permuted-block keys of a 64-bit SimHash fingerprint
    * (see [[SimHashBlockKeys]]); position t is table t's 40-bit key.
    */
  def simhashBlockKeys(fp: Column): Column =
    Bridge.column(SimHashBlockKeys(Bridge.expression(fp)))

  /** Codegen'd positional-agreement count between two signatures (see
    * [[SigAgree]]) — `sigAgree(a, b) / k` estimates Jaccard.
    */
  def sigAgree(a: Column, b: Column): Column =
    Bridge.column(SigAgree(Bridge.expression(a), Bridge.expression(b)))

  /** Low-byte signature packing for the byte-proxy prefilter (see
    * [[SigPack]]) — k longs → k/8 longs of payload.
    */
  def sigPack(sig: Column): Column =
    Bridge.column(SigPack(Bridge.expression(sig)))

  /** Byte-agreement count between two packed signatures (see
    * [[SigAgreeBytes]]) — `sigAgreeBytes(pack(a), pack(b)) >=
    * sigAgree(a, b)` always.
    */
  def sigAgreeBytes(a: Column, b: Column): Column =
    Bridge.column(
      SigAgreeBytes(Bridge.expression(a), Bridge.expression(b)))

  private[functions] val registrations
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("qdot_long"),
        new ExpressionInfo(classOf[QDotLong].getName, "qdot_long"),
        { args =>
          require(args.length == 2, "qdot_long takes exactly 2 arguments")
          QDotLong(args(0), args(1))
        }),
      (
        FunctionIdentifier("minhash_sig"),
        new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
        { args =>
          require(args.length == 2,
            "minhash_sig takes (hashes ARRAY<BIGINT>, k INT literal)")
          val k = args(1) match {
            case org.apache.spark.sql.catalyst.expressions
              .Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
            case other => throw new IllegalArgumentException(
              s"minhash_sig k must be an INT literal, got $other")
          }
          MinHashSig(args(0), k)
        }),
      (
        FunctionIdentifier("sig_agree"),
        new ExpressionInfo(classOf[SigAgree].getName, "sig_agree"),
        { args =>
          require(args.length == 2, "sig_agree takes exactly 2 arguments")
          SigAgree(args(0), args(1))
        }),
      (
        FunctionIdentifier("sig_pack"),
        new ExpressionInfo(classOf[SigPack].getName, null, "sig_pack",
          "_FUNC_(sig ARRAY<BIGINT>) - Packs each value's low byte, 8 " +
            "per output long; the signature length must be a multiple " +
            "of 8 (any other length raises).", ""),
        { args =>
          require(args.length == 1, "sig_pack takes exactly 1 argument")
          SigPack(args(0))
        }),
      (
        FunctionIdentifier("sig_agree_bytes"),
        new ExpressionInfo(classOf[SigAgreeBytes].getName,
          "sig_agree_bytes"),
        { args =>
          require(args.length == 2,
            "sig_agree_bytes takes exactly 2 arguments")
          SigAgreeBytes(args(0), args(1))
        }))

  /** Register the native functions on a live session (idempotent —
    * re-registration just overwrites with the same builder).
    */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (ident, info, builder) =>
      Bridge.registerFunction(spark, ident, info, builder)
    }
}

/** SparkSessionExtensions plugin registering graft's native functions —
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Native.registrations.foreach(ext.injectFunction)
}
