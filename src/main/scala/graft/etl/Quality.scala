package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** V0–V4: the reference's assertion-style data-quality gate
  * (main.py:167-186, invoked at :234-239) as a reusable Check ADT.
  *
  * The reference runs each assert as its own full-column pandas
  * reduction; here ALL checks ride along the caller's own action as
  * Observation metrics (no separate gate scan), one violation count per
  * check. The gate throws QualityException before anything is published
  * — the same abort-before-write control flow as the reference's
  * try/assert/return.
  *
  * NULL semantics follow pandas (SURVEY §2.5): a NULL fails `between`
  * and `>=` tests, so predicates are wrapped NOT COALESCE(pred, FALSE).
  */
object Quality {

  sealed trait Check {
    def name: String
    /** 1 for a violating row, 0 otherwise. */
    def violation: Column
  }

  final case class NotNull(c: String) extends Check {
    val name = s"not_null($c)"
    val violation: Column = when(col(c).isNull, 1L).otherwise(0L)
  }
  final case class InRange(c: String, lo: Double, hi: Double) extends Check {
    val name = s"in_range($c,$lo,$hi)"
    val violation: Column =
      when(not(coalesce(col(c).between(lo, hi), lit(false))), 1L).otherwise(0L)
  }
  final case class NonNegative(c: String) extends Check {
    val name = s"non_negative($c)"
    val violation: Column =
      when(not(coalesce(col(c) >= 0, lit(false))), 1L).otherwise(0L)
  }
  /** Arbitrary row predicate: violation when NOT COALESCE(pred, FALSE). */
  final case class Predicate(name: String, pred: Column) extends Check {
    val violation: Column = when(not(coalesce(pred, lit(false))), 1L).otherwise(0L)
  }

  final case class QualityException(failures: Map[String, Long])
    extends RuntimeException(
      "quality gate failed: " + failures.map { case (k, v) => s"$k=$v" }.mkString(", "))

  /** V0: schema-level column-presence check (no job). */
  def requireColumns(df: DataFrame, cols: Seq[String]): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw QualityException(missing.map(c => s"column_exists($c)" -> 1L).toMap)
  }

  private def validate(checks: Seq[Check]): Unit = {
    require(checks.nonEmpty, "no checks given")
    val dup = checks.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate check names would shadow each other in the result map: ${dup.mkString(", ")}")
  }

  /** Gate checks attached as Observation metrics: the violation counts
    * are measured DURING the caller's own action (a staging write), not
    * by a separate gate scan — the one-pass half of write-audit-publish
    * (see Sinks.publishAudited). Pair with [[assertObserved]] after the
    * action completes. */
  def observedChecks(df: DataFrame, checks: Seq[Check]): (DataFrame, Observation) = {
    validate(checks)
    val obs = Observation()
    val metrics = checks.map(c => sum(c.violation).as(c.name))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** V4, the audit half of write-audit-publish: read the violation counts
    * [[observedChecks]] collected during the action; throw
    * QualityException naming every failing check with its count. Null
    * metrics (zero-row frame: sum over no rows) count as clean. */
  def assertObserved(obs: Observation, checks: Seq[Check]): Unit = {
    val row = obs.get
    val failed = checks.flatMap { c =>
      Option(row(c.name)).map(v => c.name -> v.asInstanceOf[Long])
    }.filter(_._2 > 0).toMap
    if (failed.nonEmpty) throw QualityException(failed)
  }

  /** The reference's exact silver gate (main.py:175-184). */
  def silverChecks: Seq[Check] = Seq(
    NotNull("ano"), NotNull("mes"), NotNull("nome_orgao"), NotNull("nome_favorecido"),
    InRange("mes", 1, 12), NonNegative("valor"))
}
