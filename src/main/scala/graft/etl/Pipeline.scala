package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** O1/O2 — the reference's linear pipeline driver (main.py:326-334):
  * fetch → bronze → silver → gold, sequential, fail-soft (each stage
  * logs and returns on error; later stages still run against whatever
  * upstream data exists). Fail-soft is configurable — `failFast = true`
  * rethrows, which is what a production scheduler usually wants.
  *
  * Each stage is lazy DataFrame composition with exactly one action at
  * its sink, so Catalyst sees the whole stage plan (pushdown, pruning,
  * WSCG); the only shuffle in the entire flow is gold's groupBy.
  */
object Pipeline {

  /** `metrics` carries what the stage observed while running — e.g.
    * `rows_written`, measured inside the write job via the Observation
    * API (Sinks.writePartitionedCounted), never by a second action: the
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
    *           gate runs as write-audit-publish (metrics observed during
    *           ONE staging-write pass, publish by atomic move;
    *           Sinks.publishAudited) instead of a separate gate scan +
    *           write pass;
    *   gold    (main.py:270-323): require {ano,mes,nome_orgao,valor},
    *           group-sum to total_gasto, write.
    */
  def medallion(rawGlob: String, bronzePath: String, silverPath: String,
      goldPath: String): Seq[Stage] = Seq(
    Stage("raw_to_bronze", { spark =>
      // ano/mes are already IntegerType in the declared read schema
      // (GastosSchema.raw), so the reference's astype(int) (C1,
      // main.py:142-146) is satisfied at parse time — malformed values
      // become null under PERMISSIVE and the silver gate catches them.
      // strictCastOrKeep stays available for string-typed inputs.
      Map("rows_written" -> Sinks.writePartitionedCounted(
        Sources.readRawPages(spark, rawGlob), bronzePath))
    }),
    Stage("bronze_to_silver", { spark =>
      val bronze = Sources.readParquetLayer(spark, bronzePath)
      val cleaned = Cleaning.silverClean(bronze)
      Quality.requireColumns(cleaned, Seq("ano", "mes", "nome_orgao", "nome_favorecido"))
      // the gate columns (ano/mes/nome_*/valor) are untouched by the
      // date parse, so auditing the dated frame == gating the cleaned one
      val dated = Cleaning.parseDate(cleaned, "data_pagamento")
      val (observed, gate) = Quality.observedChecks(dated, Quality.silverChecks)
      Map("rows_written" -> Sinks.publishAudited(observed, silverPath,
        () => Quality.assertObserved(gate, Quality.silverChecks)))
    }),
    Stage("silver_to_gold", { spark =>
      val silver = Sources.readParquetLayer(spark, silverPath)
      Quality.requireColumns(silver, Seq("ano", "mes", "nome_orgao", "valor"))
      val gold = Aggregates.goldAggregate(silver)
        .select(col("ano"), col("mes"), col("nome_orgao"), col("total_gasto"))
      Map("rows_written" -> Sinks.writePartitionedCounted(gold, goldPath))
    }))

  /** Partition-scoped incremental recompute (SURVEY §4.1): rebuild
    * silver+gold ONLY for the given (ano, mes) partitions. Taking
    * explicit partition values — not an arbitrary Column — is a safety
    * contract: dynamic partition overwrite replaces whole partitions, so
    * a row-level filter here would silently drop every non-matching row
    * of the touched partitions. The partition filter prunes the bronze
    * scan to the matching hive directories; untouched partitions are
    * never read or rewritten. Daily at 100 TB this is the difference
    * between reprocessing one day and reprocessing the lake. */
  def incrementalSilverGold(bronzePath: String, silverPath: String,
      goldPath: String, partitions: Seq[(Int, Int)]): Seq[Stage] = {
    require(partitions.nonEmpty, "no partitions to recompute")
    val partitionFilter = partitions
      .map { case (ano, mes) => col("ano") === ano && col("mes") === mes }
      .reduce(_ || _)
    Seq(
      Stage("bronze_to_silver_incremental", { spark =>
        val bronze = Sources.readParquetLayer(spark, bronzePath).where(partitionFilter)
        // dynamic overwrite can only REPLACE partitions present in the
        // written frame — a requested partition that became empty in
        // bronze would silently keep its stale silver/gold rows. Fail
        // loudly instead; deleting dead partitions is an explicit op.
        val present = bronze.select(col("ano"), col("mes")).distinct().collect()
          .map(r => (r.getAs[Number]("ano").intValue, r.getAs[Number]("mes").intValue)).toSet
        val empty = partitions.filterNot(present.contains)
        if (empty.nonEmpty) throw new IllegalStateException(
          s"partitions ${empty.mkString(", ")} have no bronze rows; dynamic " +
            "overwrite cannot clear them — delete the dead partitions explicitly")
        val cleaned = Cleaning.silverClean(bronze)
        Quality.requireColumns(cleaned, Seq("ano", "mes", "nome_orgao", "nome_favorecido"))
        // one-pass gate, partition-scoped publish: metrics observed
        // during the staging write, only the recomputed partitions move
        val dated = Cleaning.parseDate(cleaned, "data_pagamento")
        val (observed, gate) = Quality.observedChecks(dated, Quality.silverChecks)
        Map("rows_written" -> Sinks.publishAuditedPartitions(observed, silverPath,
          () => Quality.assertObserved(gate, Quality.silverChecks)))
      }),
      Stage("silver_to_gold_incremental", { spark =>
        val silver = Sources.readParquetLayer(spark, silverPath).where(partitionFilter)
        Quality.requireColumns(silver, Seq("ano", "mes", "nome_orgao", "valor"))
        val gold = Aggregates.goldAggregate(silver)
          .select(col("ano"), col("mes"), col("nome_orgao"), col("total_gasto"))
        Map("rows_written" -> Sinks.overwritePartitionsOfCounted(gold, goldPath))
      }))
  }
}
