package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C1–C7: the reference's cast / normalization surface (SURVEY.md §2.3)
  * with the pandas-semantics decisions made explicit. All transforms are
  * narrow (no shuffle) and column-guarded like the reference's
  * `if col in df.columns` pattern (main.py:212,225,230,252).
  */
object Cleaning {

  /** P3: apply a transform only when the column exists. */
  def ifColumn(df: DataFrame, c: String)(f: DataFrame => DataFrame): DataFrame =
    if (df.columns.contains(c)) f(df) else df

  /** C1 — strict int cast with whole-column fallback (main.py:142-146):
    * pandas astype(int) raises if ANY value is non-numeric, the reference
    * catches and keeps the original column. Equivalent: count try_cast
    * failures among non-nulls; cast only when zero. One extra aggregate
    * job — the price of "all-or-nothing" semantics in a distributed
    * setting (documented; prefer coercing casts in new code).
    */
  def strictCastOrKeep(df: DataFrame, c: String, to: String): DataFrame =
    ifColumn(df, c) { d =>
      val failures = d
        .where(col(c).isNotNull && expr(s"try_cast(`$c` AS $to)").isNull)
        .limit(1).count()
      if (failures == 0) d.withColumn(c, col(c).cast(to)) else d
    }

  /** C2 — coercing numeric cast + null fill (main.py:212-213):
    * pd.to_numeric(errors='coerce').fillna(0). */
  def coerceDoubleFillZero(df: DataFrame, c: String): DataFrame =
    ifColumn(df, c)(_.withColumn(c,
      coalesce(expr(s"try_cast(`$c` AS DOUBLE)"), lit(0.0))))

  /** C4 — nullable long cast, coerce-to-null (main.py:228-231). */
  def coerceLong(df: DataFrame, c: String): DataFrame =
    ifColumn(df, c)(_.withColumn(c, expr(s"try_cast(`$c` AS BIGINT)")))

  /** C3 — upper+trim text normalization (main.py:215-226). Null-safe:
    * we deliberately do NOT replicate pandas' astype(str) artifact that
    * turns NaN into the literal string "NAN" (SURVEY §2.3 C3) — nulls
    * stay null so the quality gate actually gates. */
  def normalizeText(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => ifColumn(d, c)(_.withColumn(c, upper(trim(col(c))))))

  /** C5 — coercing date parse (main.py:251-253): ISO string -> date,
    * null on failure (pd.to_datetime errors='coerce'). */
  def parseDate(df: DataFrame, c: String): DataFrame =
    ifColumn(df, c)(_.withColumn(c, expr(s"try_cast(`$c` AS DATE)")))

  /** The full bronze->silver cleaning pass in reference order
    * (main.py:209-231): valor coerce+fill, nome_* normalization,
    * ano/mes nullable casts. Date parse (C5) runs after the quality
    * gate, as in the reference (main.py:252 runs after :234-239). */
  def silverClean(bronze: DataFrame): DataFrame = {
    val valor = coerceDoubleFillZero(bronze, "valor")
    val named = normalizeText(valor, GastosSchema.normalizedNomeColumns)
    Seq("ano", "mes").foldLeft(named)(coerceLong)
  }
}
