package graft.etl

import graft.SparkSpec
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** End-to-end raw→bronze→silver→gold over reference-shaped fixture pages
  * (FIXTURES.md §A) with RECOMPUTED expectations (never committed-artifact
  * bytes — SURVEY §1.4 caveat 2).
  */
class PipelineSpec extends SparkSpec {

  private def record(ano: Int, mes: Int, orgao: String, fav: String, valor: String,
      dataPagamento: String = "\"2011-01-15\""): String =
    s"""{"ano": $ano, "mes": $mes, "codigo_acao": "4002",
       |"codigo_elemento_despesa": 39, "codigo_favorecido": "***687963**",
       |"codigo_funcao": 6, "codigo_grupo_despesa": 3, "codigo_orgao": 52111,
       |"codigo_orgao_superior": 52000, "codigo_programa": 2058,
       |"codigo_subfuncao": 181, "codigo_unidade_gestora": 167086,
       |"data_pagamento": $dataPagamento, "data_pagamento_original": null,
       |"gestao_pagamento": "00001", "linguagem_cidada": null,
       |"nome_acao": "acao x", "nome_elemento_despesa": "Outros",
       |"nome_favorecido": "$fav", "nome_funcao": "defesa",
       |"nome_grupo_despesa": "custeio", "nome_orgao": "$orgao",
       |"nome_orgao_superior": "MIN", "nome_programa": "prog",
       |"nome_subfuncao": "sub", "nome_unidade_gestora": "ug",
       |"numero_documento": "2011OB000001", "valor": "$valor"}""".stripMargin.replace("\n", " ")

  test("medallion pipeline: raw pages → gold aggregate, recomputed expectation") {
    val root = tmpDir("pipeline")
    val rawDir = Paths.get(root, "raw"); Files.createDirectories(rawDir)
    // envelope page: 3 records, two orgaos, one unparseable valor (→0.0)
    val page1 = s"""{"count": 4, "next": null, "previous": null, "results": [
      ${record(2011, 1, " fundo nacional de saúde ", "fav a", "100.10")},
      ${record(2011, 1, "fundo nacional de saúde", "fav b", "0.90")},
      ${record(2011, 2, "agencia beta", "fav c", "not-a-number")}]}"""
    // legacy bare-array page: 1 record (reference SKIPS these; we read them)
    val page2 = s"""[${record(2012, 3, "agencia beta", "fav d", "7.00", "null")}]"""
    Files.write(rawDir.resolve("gastos-diretos_gastos_page_1.json"),
      page1.getBytes(StandardCharsets.UTF_8))
    Files.write(rawDir.resolve("gastos-diretos_gastos_page_2.json"),
      page2.getBytes(StandardCharsets.UTF_8))

    val results = Pipeline.run(spark, Pipeline.medallion(
      s"$root/raw/*.json", s"$root/bronze", s"$root/silver", s"$root/gold"))
    assert(results.forall(_.ok), results.mkString("; "))
    // observed per-stage row counts (measured inside the write job, no
    // second action) — the reference's informational prints, as data
    assert(results.map(r => r.name -> r.metrics("rows_written")).toMap == Map(
      "raw_to_bronze" -> 4L, "bronze_to_silver" -> 4L, "silver_to_gold" -> 3L))

    val bronze = spark.read.parquet(s"$root/bronze")
    assert(bronze.count() == 4)
    assert(bronze.schema("valor").dataType.typeName == "string") // bronze keeps raw types
    assert(bronze.schema("ano").dataType.typeName == "integer")  // C1 strict cast applied

    val silver = spark.read.parquet(s"$root/silver")
    assert(silver.schema("valor").dataType.typeName == "double")
    assert(silver.schema("data_pagamento").dataType.typeName == "date")
    val orgaos = silver.select("nome_orgao").distinct().collect().map(_.getString(0)).toSet
    assert(orgaos == Set("FUNDO NACIONAL DE SAÚDE", "AGENCIA BETA")) // C3 normalize

    // partition cols come back as int from hive-dir inference; cast for comparison
    val gold = spark.read.parquet(s"$root/gold")
      .selectExpr("CAST(ano AS BIGINT)", "CAST(mes AS BIGINT)", "nome_orgao", "total_gasto")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(gold == Set(
      (2011L, 1L, "FUNDO NACIONAL DE SAÚDE", 101.0),
      (2011L, 2L, "AGENCIA BETA", 0.0),   // coerced valor → 0.0 still aggregates
      (2012L, 3L, "AGENCIA BETA", 7.0)))
    // write-audit-publish leaves no staging or swap residue on success
    assert(!Files.exists(Paths.get(s"$root/silver.staging")))
    assert(!Files.exists(Paths.get(s"$root/silver.old")))
  }

  test("quality gate aborts silver before the write (fail-soft reports, no output)") {
    val root = tmpDir("pipeline-gate")
    val rawDir = Paths.get(root, "raw"); Files.createDirectories(rawDir)
    // mes=13 violates InRange(mes,1,12) at the silver gate
    val bad = s"""{"count": 1, "next": null, "previous": null, "results": [
      ${record(2011, 13, "orgao", "fav", "1.00")}]}"""
    Files.write(rawDir.resolve("gastos-diretos_gastos_page_1.json"),
      bad.getBytes(StandardCharsets.UTF_8))

    val results = Pipeline.run(spark, Pipeline.medallion(
      s"$root/raw/*.json", s"$root/bronze", s"$root/silver", s"$root/gold"))
    assert(results.find(_.name == "raw_to_bronze").exists(_.ok))
    val silverRes = results.find(_.name == "bronze_to_silver").get
    assert(!silverRes.ok && silverRes.error.get.contains("in_range(mes"))
    assert(!Files.exists(Paths.get(s"$root/silver"))) // abort-before-publish
    // write-audit-publish: the failed staging write must be cleaned up too
    assert(!Files.exists(Paths.get(s"$root/silver.staging")))
    assert(results.find(_.name == "silver_to_gold").exists(!_.ok)) // fail-soft: ran, failed on missing input
  }

  test("incremental recompute rewrites only the filtered partitions") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("pipeline-incr")
    val rawDir = Paths.get(root, "raw"); Files.createDirectories(rawDir)
    val page = s"""{"count": 3, "next": null, "previous": null, "results": [
      ${record(2011, 1, "orgao a", "fav", "10.00")},
      ${record(2011, 2, "orgao a", "fav", "20.00")},
      ${record(2012, 1, "orgao b", "fav", "30.00")}]}"""
    Files.write(rawDir.resolve("gastos-diretos_gastos_page_1.json"),
      page.getBytes(StandardCharsets.UTF_8))
    val full = Pipeline.run(spark, Pipeline.medallion(
      s"$root/raw/*.json", s"$root/bronze", s"$root/silver", s"$root/gold"))
    assert(full.forall(_.ok), full.mkString("; "))

    // remember gold file timestamps per partition, then recompute only 2011/mes=1
    def goldFiles() = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(s"$root/gold")).iterator.asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = goldFiles()
    Thread.sleep(20)
    val incr = Pipeline.run(spark, Pipeline.incrementalSilverGold(
      s"$root/bronze", s"$root/silver", s"$root/gold", Seq((2011, 1))))
    assert(incr.forall(_.ok), incr.mkString("; "))
    val after = goldFiles()

    // untouched partitions keep their files byte-for-byte (same path, same mtime)
    val untouchedBefore = before.filterNot(_._1.contains("ano=2011/mes=1"))
    assert(untouchedBefore.forall { case (p, t) => after.get(p).contains(t) })
    // partition-scoped publish leaves no staging or swap residue
    assert(!Files.exists(Paths.get(s"$root/silver.staging")))
    assert(!Files.exists(Paths.get(s"$root/silver.old")))
    assert(!Files.exists(Paths.get(s"$root/gold.staging")))
    // the recomputed partition has fresh files
    assert(after.keys.exists(_.contains("ano=2011/mes=1")))
    assert(!before.filter(_._1.contains("ano=2011/mes=1")).keySet
      .subsetOf(after.keySet)) // old file replaced
    // and the table still reads complete + correct
    val gold = spark.read.parquet(s"$root/gold")
      .selectExpr("CAST(ano AS BIGINT)", "CAST(mes AS BIGINT)", "total_gasto")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gold == Set((2011L, 1L, 10.0), (2011L, 2L, 20.0), (2012L, 1L, 30.0)))
  }

  test("incremental gate failure discards staging and leaves existing silver untouched") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpDir("pipeline-incr-gate")
    val rawDir = Paths.get(root, "raw"); Files.createDirectories(rawDir)
    val page = s"""{"count": 2, "next": null, "previous": null, "results": [
      ${record(2011, 1, "orgao a", "fav", "10.00")},
      ${record(2011, 2, "orgao a", "fav", "20.00")}]}"""
    Files.write(rawDir.resolve("gastos-diretos_gastos_page_1.json"),
      page.getBytes(StandardCharsets.UTF_8))
    val full = Pipeline.run(spark, Pipeline.medallion(
      s"$root/raw/*.json", s"$root/bronze", s"$root/silver", s"$root/gold"))
    assert(full.forall(_.ok), full.mkString("; "))

    // poison ONLY partition (2011, 1) in bronze: a negative valor that
    // the silver gate must reject during the incremental recompute
    val bad = spark.read.parquet(s"$root/bronze")
      .where(col("ano") === 2011 && col("mes") === 1)
      .withColumn("valor", lit("-5.00"))
    Sinks.writePartitioned(bad, s"$root/bronze", mode = "append")

    val silverBefore = spark.read.parquet(s"$root/silver")
      .selectExpr("CAST(ano AS BIGINT)", "CAST(mes AS BIGINT)", "valor")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incr = Pipeline.run(spark, Pipeline.incrementalSilverGold(
      s"$root/bronze", s"$root/silver", s"$root/gold", Seq((2011, 1))))
    val silverRes = incr.find(_.name == "bronze_to_silver_incremental").get
    assert(!silverRes.ok && silverRes.error.get.contains("non_negative(valor"))
    // audited staging discarded; the published silver is bit-identical
    assert(!Files.exists(Paths.get(s"$root/silver.staging")))
    assert(!Files.exists(Paths.get(s"$root/silver.old")))
    val silverAfter = spark.read.parquet(s"$root/silver")
      .selectExpr("CAST(ano AS BIGINT)", "CAST(mes AS BIGINT)", "valor")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(silverAfter == silverBefore)
  }

  /** A fresh root whose `raw` holds one page of three records, in
    * partitions 2011/1, 2011/2 and 2012/1. */
  private def threePartitionRaw(prefix: String): String = {
    val root = tmpDir(prefix)
    val rawDir = Paths.get(root, "raw"); Files.createDirectories(rawDir)
    val page = s"""{"count": 3, "next": null, "previous": null, "results": [
      ${record(2011, 1, "orgao a", "fav", "10.00")},
      ${record(2011, 2, "orgao a", "fav", "20.00")},
      ${record(2012, 1, "orgao b", "fav", "30.00")}]}"""
    Files.write(rawDir.resolve("gastos-diretos_gastos_page_1.json"),
      page.getBytes(StandardCharsets.UTF_8))
    root
  }

  /** A lake built by one full run over [[threePartitionRaw]]'s page.
    * Returns its root. */
  private def threePartitionLake(prefix: String): String = {
    val root = threePartitionRaw(prefix)
    val full = Pipeline.run(spark, Pipeline.medallion(
      s"$root/raw/*.json", s"$root/bronze", s"$root/silver", s"$root/gold"))
    assert(full.forall(_.ok), full.mkString("; "))
    root
  }

  /** Every parquet file under `dir` with its mtime. */
  private def layerFiles(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator.asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
  }

  test("incremental recompute of a partition with no bronze rows publishes nothing") {
    val root = threePartitionLake("pipeline-incr-empty")
    val layers = Seq("silver", "gold").map(l => s"$root/$l")
    val before = layers.map(layerFiles)
    Thread.sleep(20)
    // (2011, 1) has bronze rows, (2013, 5) has none
    val incr = Pipeline.run(spark, Pipeline.incrementalSilverGold(
      s"$root/bronze", s"$root/silver", s"$root/gold", Seq((2011, 1), (2013, 5))))
    val silverRes = incr.find(_.name == "bronze_to_silver_incremental").get
    assert(!silverRes.ok && silverRes.error.get.contains("partitions (2013,5) have no bronze rows"),
      silverRes)
    // fail-soft runs gold next: (2013, 5) has no silver rows either
    val goldRes = incr.find(_.name == "silver_to_gold_incremental").get
    assert(!goldRes.ok && goldRes.error.get.contains("partitions (2013,5) have no silver rows"),
      goldRes)
    // not even the present partition (2011, 1) was published
    assert(layers.map(layerFiles) == before)
    for (l <- layers; residue <- Seq(".staging", ".old"))
      assert(!Files.exists(Paths.get(l + residue)), l + residue)
  }

  test("job counts per stage: full run and one-partition recompute") {
    val root = threePartitionLake("pipeline-jobs")
    def jobsPerStage(stages: Seq[Pipeline.Stage]): Seq[(String, Int)] =
      stages.map(st => st.name -> jobsDuring(st.run(spark))._2)
    val full = jobsPerStage(Pipeline.medallion(
      s"$root/raw/*.json", s"$root/bronze", s"$root/silver", s"$root/gold"))
    val incr = jobsPerStage(Pipeline.incrementalSilverGold(
      s"$root/bronze", s"$root/silver", s"$root/gold", Seq((2011, 1))))
    // bronze and silver: the write; gold: groupBy's shuffle + the
    // write. Layers are read under their declared schemas, so no stage
    // runs a schema-inference job, and the recompute checks its
    // partitions on the write itself, at no extra job.
    assert((full, incr) == ((
      Seq("raw_to_bronze" -> 1, "bronze_to_silver" -> 1, "silver_to_gold" -> 2),
      Seq("bronze_to_silver_incremental" -> 1, "silver_to_gold_incremental" -> 2))))
  }

  test("declared layer schemas equal what Spark infers from the written layers") {
    val root = threePartitionLake("pipeline-schemas")
    for ((layer, declared) <- Seq("bronze" -> GastosSchema.bronze,
        "silver" -> GastosSchema.silver, "gold" -> GastosSchema.gold))
      assert(spark.read.parquet(s"$root/$layer").schema == declared, layer)
  }

  test("a bronze without nome_orgao fails the silver gate and publishes nothing") {
    val root = threePartitionLake("pipeline-no-orgao")
    // the declared read turns the missing column into nulls for the gate
    Sinks.writePartitioned(spark.read.parquet(s"$root/bronze").drop("nome_orgao"),
      s"$root/bronze-no-orgao")
    val silver = s"$root/silver-no-orgao"
    val stages = Pipeline.medallion(s"$root/raw/*.json", s"$root/bronze-no-orgao", silver,
      s"$root/gold-no-orgao").filter(_.name == "bronze_to_silver")
    val e = intercept[Quality.QualityException] { Pipeline.run(spark, stages, failFast = true) }
    assert(e.failures.keySet.contains("not_null(nome_orgao)"), e.failures)
    for (residue <- Seq("", ".staging", ".old"))
      assert(!Files.exists(Paths.get(silver + residue)), silver + residue)
  }

  test("a full run and a one-partition recompute fork no process") {
    val root = threePartitionRaw("pipeline-forks")
    val (results, forks) = forksDuring {
      Pipeline.run(spark, Pipeline.medallion(
        s"$root/raw/*.json", s"$root/bronze", s"$root/silver", s"$root/gold")) ++
        Pipeline.run(spark, Pipeline.incrementalSilverGold(
          s"$root/bronze", s"$root/silver", s"$root/gold", Seq((2011, 1))))
    }
    assert(results.forall(_.ok), results.mkString("; "))
    assert(forks.isEmpty, forks)
  }

  test("Pipeline publishes only through write-audit-publish; no dynamic overwrite remains") {
    def code(f: java.io.File): String =
      new String(Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val mainSrc = new java.io.File("src/main/scala")
    assert(mainSrc.isDirectory, s"src/main/scala not found from ${new java.io.File(".").getAbsolutePath}")
    assert(!scalaFiles(mainSrc).exists(f => code(f).contains("partitionOverwriteMode")))
    val pipeline = code(new java.io.File(mainSrc, "graft/etl/Pipeline.scala"))
    assert("Sinks\\.(\\w+)".r.findAllMatchIn(pipeline).map(_.group(1)).toSet ==
      Set("publishAudited", "publishAuditedPartitions"))
    assert(!pipeline.contains(".collect("))
  }

  test("failFast rethrows instead of recording") {
    val boom = Pipeline.Stage("boom", _ => throw new RuntimeException("x"))
    intercept[RuntimeException] { Pipeline.run(spark, Seq(boom), failFast = true) }
    val soft = Pipeline.run(spark, Seq(boom))
    assert(soft == Seq(Pipeline.StageResult("boom", ok = false, Some("java.lang.RuntimeException: x"))))
  }
}
