package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** O1/O2 — the reference's linear pipeline driver (main.py:326-334):
  * fetch → bronze → silver → gold, sequential, fail-soft (each stage
  * logs and returns on error; later stages still run against whatever
  * upstream data exists). Fail-soft is configurable — `failFast = true`
  * rethrows, which is what a production scheduler usually wants.
  *
  * Each stage is lazy DataFrame composition with exactly one action at
  * its sink, so Catalyst sees the whole stage plan (pushdown, pruning,
  * WSCG); the only shuffle in the entire flow is gold's groupBy.
  *
  * Every layer write is write-audit-publish (see [[Sinks]]): each
  * full-run layer is replaced by a whole-table swap, each recomputed
  * partition by a per-leaf swap. The published path is absent between
  * `swapInto`'s two renames, and a multi-partition recompute is not
  * atomic across partitions.
  *
  * Silver and gold read their input layer under its declared schema
  * (`GastosSchema.bronze`/`silver`), so no stage pays a schema-inference
  * job. A column outside the declared schema is not carried forward; a
  * declared column the files lack reads as null, and the silver gate's
  * `not_null` checks reject it before anything is published.
  */
object Pipeline {

  /** `metrics` carries what the stage observed while running — e.g.
    * `rows_written`, measured inside the write job via the Observation
    * API (in Sinks' staging write), never by a second action: the
    * reference prints its per-stage row counts from the in-memory frame
    * (main.py:242-247, 287, 309); a distributed engine that re-counted
    * would re-execute the stage. */
  final case class StageResult(name: String, ok: Boolean, error: Option[String],
      metrics: Map[String, Long] = Map.empty)

  final case class Stage(name: String, run: SparkSession => Map[String, Long])

  def run(spark: SparkSession, stages: Seq[Stage], failFast: Boolean = false): Seq[StageResult] =
    stages.map { st =>
      try {
        val metrics = st.run(spark)
        StageResult(st.name, ok = true, None, metrics)
      } catch {
        case e: Throwable if !failFast =>
          StageResult(st.name, ok = false, Some(e.toString))
        case e: Throwable => throw e
      }
    }

  /** The reference's raw→bronze→silver→gold medallion flow over a local
    * directory tree. Stage semantics follow main.py exactly:
    *   bronze  (main.py:104-164): read raw pages, strict int cast ano/mes
    *           (keep-original on failure), partitioned snappy write;
    *   silver  (main.py:189-267): coerce valor (null→0), normalize 6
    *           nome_* cols, nullable ano/mes, QUALITY GATE (abort before
    *           any data becomes visible), then date parse, write — the
    *           gate is the audit of the staging write (metrics observed
    *           during that ONE pass) instead of a separate gate scan;
    *   gold    (main.py:270-323): group-sum valor to total_gasto per
    *           (ano, mes, nome_orgao), write.
    */
  def medallion(rawGlob: String, bronzePath: String, silverPath: String,
      goldPath: String): Seq[Stage] = Seq(
    Stage("raw_to_bronze", { spark =>
      // ano/mes are already IntegerType in the declared read schema
      // (GastosSchema.raw), so the reference's astype(int) (C1,
      // main.py:142-146) is satisfied at parse time — malformed values
      // become null under PERMISSIVE and the silver gate catches them.
      // strictCastOrKeep stays available for string-typed inputs.
      Map("rows_written" -> Sinks.publishAudited(
        Sources.readRawPages(spark, rawGlob), bronzePath, () => ()))
    }),
    silverStage("bronze_to_silver", bronzePath, silverPath, None),
    goldStage("silver_to_gold", silverPath, goldPath, None))

  /** Partition-scoped incremental recompute (SURVEY §4.1): rebuild
    * silver+gold ONLY for the given (ano, mes) partitions, with the full
    * run's stage bodies. Taking explicit partition values — not an
    * arbitrary Column — is a safety contract: the per-leaf swap replaces
    * whole partitions, so a row-level filter here would silently drop
    * every non-matching row of the touched partitions. The partition
    * filter prunes each scan to the matching hive directories; untouched
    * partitions are never read or rewritten. Daily at 100 TB this is the
    * difference between reprocessing one day and reprocessing the lake. */
  def incrementalSilverGold(bronzePath: String, silverPath: String,
      goldPath: String, partitions: Seq[(Int, Int)]): Seq[Stage] = {
    require(partitions.nonEmpty, "no partitions to recompute")
    Seq(silverStage("bronze_to_silver_incremental", bronzePath, silverPath, Some(partitions)),
      goldStage("silver_to_gold_incremental", silverPath, goldPath, Some(partitions)))
  }

  private def silverStage(name: String, bronzePath: String, silverPath: String,
      partitions: Option[Seq[(Int, Int)]]): Stage =
    Stage(name, { spark =>
      val cleaned = Cleaning.silverClean(
        readLayer(spark, bronzePath, GastosSchema.bronze, partitions))
      // the gate columns (ano/mes/nome_*/valor) are untouched by the
      // date parse, so auditing the dated frame == gating the cleaned one
      val dated = Cleaning.parseDate(cleaned, "data_pagamento")
      val (observed, gate) = Quality.observedChecks(dated, Quality.silverChecks)
      Map("rows_written" -> publish(observed, silverPath, partitions, "bronze",
        () => Quality.assertObserved(gate, Quality.silverChecks)))
    })

  private def goldStage(name: String, silverPath: String, goldPath: String,
      partitions: Option[Seq[(Int, Int)]]): Stage =
    Stage(name, { spark =>
      val silver = readLayer(spark, silverPath, GastosSchema.silver, partitions)
      val gold = Aggregates.goldAggregate(silver)
        .select(col("ano"), col("mes"), col("nome_orgao"), col("total_gasto"))
      Map("rows_written" -> publish(gold, goldPath, partitions, "silver", () => ()))
    })

  private def readLayer(spark: SparkSession, path: String, schema: StructType,
      partitions: Option[Seq[(Int, Int)]]): DataFrame = {
    val layer = Sources.readParquetLayer(spark, path, schema)
    partitions.fold(layer)(ps => layer.where(ps
      .map { case (ano, mes) => col("ano") === ano && col("mes") === mes }
      .reduce(_ || _)))
  }

  /** A full run publishes by whole-table swap, a recompute by per-leaf
    * swap. A requested partition that became empty upstream has no leaf
    * to swap and would keep its stale rows, so a recompute observes the
    * (ano, mes) values of its staging write and fails in the audit,
    * before anything is published. */
  private def publish(df: DataFrame, path: String,
      partitions: Option[Seq[(Int, Int)]], source: String, audit: () => Unit): Long =
    partitions match {
      case None => Sinks.publishAudited(df, path, audit)
      case Some(requested) =>
        val written = Observation()
        Sinks.publishAuditedPartitions(
          df.observe(written, collect_set(struct(col("ano"), col("mes"))).as("partitions")),
          path, { () =>
            // the declared layer schemas type ano/mes Int, silverClean Long
            val present = written.get("partitions").asInstanceOf[scala.collection.Seq[Row]]
              .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).intValue)).toSet
            val empty = requested.filterNot(present.contains)
            if (empty.nonEmpty) throw new IllegalStateException(
              s"partitions ${empty.mkString(", ")} have no $source rows; a recompute " +
                "cannot clear them — delete the dead partitions explicitly")
            audit()
          })
    }
}
