package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** V0–V4 (SURVEY §2.5), including the pandas NULL-fails-between rule.
  * The gate runs the way the medallion runs it: checks observed during
  * an action, then audited. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  /** observedChecks → an action → assertObserved. */
  private def gate(df: DataFrame, checks: Seq[Quality.Check]): Unit = {
    val (observed, obs) = Quality.observedChecks(df, checks)
    observed.collect()
    Quality.assertObserved(obs, checks)
  }

  test("observedChecks counts violations per check in one pass") {
    val df = Seq(
      (Some(1), Some(100.0)),  // clean
      (Some(13), Some(-5.0)),  // mes out of range, negative valor
      (None, None)             // nulls: fail NotNull AND (pandas) fail range/neg
    ).toDF("mes", "valor")
    val e = intercept[Quality.QualityException] {
      gate(df, Seq(Quality.NotNull("mes"), Quality.InRange("mes", 1, 12),
        Quality.NonNegative("valor")))
    }
    assert(e.failures("not_null(mes)") == 1L)
    assert(e.failures("in_range(mes,1.0,12.0)") == 2L) // 13 AND null both fail (pandas semantics)
    assert(e.failures("non_negative(valor)") == 2L)    // -5 AND null
  }

  test("assertObserved passes on clean data, throws with per-check counts on dirty") {
    val clean = Seq((1, 10.0), (12, 0.0)).toDF("mes", "valor")
    gate(clean, Seq(Quality.InRange("mes", 1, 12), Quality.NonNegative("valor")))
    val dirty = Seq((1, -1.0)).toDF("mes", "valor")
    val e = intercept[Quality.QualityException] {
      gate(dirty, Seq(Quality.NonNegative("valor")))
    }
    assert(e.failures == Map("non_negative(valor)" -> 1L))
  }

  test("requireColumns throws naming every missing column") {
    val df = Seq(1).toDF("ano")
    val e = intercept[Quality.QualityException] {
      Quality.requireColumns(df, Seq("ano", "mes", "valor"))
    }
    assert(e.failures.keySet == Set("column_exists(mes)", "column_exists(valor)"))
  }

  test("gate on empty input passes (no rows → no violations, sum=null→0)") {
    val empty = Seq.empty[(Int, Double)].toDF("mes", "valor")
    gate(empty, Quality.silverChecks.filter(_.name.contains("mes")))
  }
}
