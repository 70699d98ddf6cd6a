package graft

import org.apache.spark.sql.SparkSession

/** Validated parsing for the engine's session confs.
  *
  * Two conf classes, two failure disciplines (hardened repo-wide after
  * ADVICE r16 flagged the raw-parse class on `graft.assets.prune`):
  *
  *  - STRATEGY/SEMANTIC confs (thresholds, caps, feature gates) fail
  *    LOUDLY on an unparseable value — a typo must surface as a clear
  *    error naming the conf at plan-build time, never as a raw JVM
  *    `NumberFormatException: For input string` with no pointer to which
  *    of a session's confs was wrong, and never as a silently-applied
  *    default that changes a strategy pick behind the user's back. These
  *    parsers are that seam.
  *  - BEST-EFFORT POLICY confs (artifact retention) parse defensively at
  *    their call site instead, because a policy typo must never fail work
  *    that already succeeded (`AssetStore.markAndPrune`).
  *
  * Range constraints (0-means-disabled, >=1, ...) stay at the call sites
  * that own the semantics — several harness levers deliberately pass 0 to
  * force a strategy path (`graft.minhash.dfCap`, `hotListMaxDriver`,
  * `graft.stream.broadcastMaxKeys`), so these helpers validate only
  * parseability, not sign.
  */
object GraftConf {

  private def parseFail(key: String, v: String, want: String): Nothing =
    throw new IllegalArgumentException(
      s"conf $key must be $want, got '$v'")

  /** The conf as a Long, `default` when unset, loud named error on a typo. */
  def long(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException => parseFail(key, v, "an integer") }
    }.getOrElse(default)

  /** The conf as an Int, `default` when unset, loud named error on a typo. */
  def int(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key).map { v =>
      try v.trim.toInt
      catch { case _: NumberFormatException => parseFail(key, v, "an integer") }
    }.getOrElse(default)

  /** The conf as a Boolean, `default` when unset; only case-insensitive
    * literal true/false parse — anything else is a loud named error. */
  def bool(spark: SparkSession, key: String, default: Boolean): Boolean =
    spark.conf.getOption(key).map { v =>
      v.trim.toLowerCase match {
        case "true"  => true
        case "false" => false
        case _       => parseFail(key, v, "true or false")
      }
    }.getOrElse(default)

  /** A feature-gate conf: false when unset (the `exists(_.toBoolean)`
    * shape, with the loud named error on a typo). */
  def flag(spark: SparkSession, key: String): Boolean =
    bool(spark, key, default = false)
}
