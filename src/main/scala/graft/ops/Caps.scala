package graft.ops

/** Shared plumbing for the output-quadratic guard family (VERDICT r18
  * item 3): every pair-list operator whose output can go quadratic
  * prices its candidate volume first and refuses loudly past a cap —
  * see [[Relational.intervalJoinGuarded]] (the pattern's prototype),
  * [[Graph.coOccurrenceEdgesGuarded]],
  * [[graft.text.Dedup.ngramJaccardPairs]]'s `maxPairs`, and
  * [[graft.text.Similarity.cosinePairsGuarded]].
  *
  * Each guard memoizes its ESTIMATE in [[Memo]] (warm re-pricing cost
  * cooc 0.54 s, interval 0.91 s, ngram 0.12 s, embed 0.13 s —
  * `sweeps/sweep_guardcost.jsonl`), never its decision: every call
  * compares against ITS cap, so an over-cap corpus always refuses.
  */
object Caps {

  /** Env-var long parse, defensive: a malformed value ('2e8',
    * '200_000_000', …) names the variable and the offending text
    * instead of surfacing a bare NumberFormatException from query
    * construction (ADVICE r18).
    */
  def longEnv(name: String, default: Long): Long =
    parseLong(name, sys.env.get(name), default)

  private[graft] def parseLong(name: String, raw: Option[String],
                               default: Long): Long =
    raw match {
      case None => default
      case Some(v) =>
        try v.trim.toLong
        catch {
          case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$name='$v' is not a valid long " +
                s"(plain digits — e.g. $default)", e)
        }
    }

  /** Saturating double→long for guard estimates. Guard sums run in
    * DOUBLE so that pathological concentrations can never overflow
    * BIGINT into an ANSI ArithmeticException (ADVICE r18); any
    * non-finite or ≥Long.Max reading saturates to Long.MaxValue —
    * "exceeds every cap", the safe direction for a guard.
    */
  def saturate(d: Double): Long =
    if (!java.lang.Double.isFinite(d) || d >= Long.MaxValue.toDouble)
      Long.MaxValue
    else math.max(0L, d.toLong)
}
