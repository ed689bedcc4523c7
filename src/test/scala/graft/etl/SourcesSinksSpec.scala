package graft.etl

import graft.SparkSpec
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** S5/S7/S8: page readers (both forms + malformed tolerance) and the
  * hive-partitioned sink roundtrip. */
class SourcesSinksSpec extends SparkSpec {

  private val rec =
    """{"ano": 2011, "mes": 1, "codigo_acao": "4002", "codigo_favorecido": "x",
      |"nome_orgao": "Orgao", "valor": "428.14"}""".stripMargin.replace("\n", " ")

  test("readRawPages: envelope, bare-array and corrupt pages") {
    val dir = tmpDir("sources")
    Files.write(Paths.get(dir, "p1.json"),
      s"""{"count": 2, "next": null, "previous": null, "results": [$rec, $rec]}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(dir, "p2.json"),
      s"""[$rec]""".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(dir, "p3.json"),
      "{{{not json".getBytes(StandardCharsets.UTF_8))

    // each page form on its own: envelope explodes results, a bare array
    // yields its elements, a corrupt file yields nothing
    assert(Sources.readRawPages(spark, s"$dir/p1.json").count() == 2)
    assert(Sources.readRawPages(spark, s"$dir/p2.json").count() == 1)
    assert(Sources.readRawPages(spark, s"$dir/p3.json").count() == 0)
    val all = Sources.readRawPages(spark, s"$dir/*.json")
    assert(all.count() == 3)
    assert(all.columns.length == 28) // full declared gastos schema
    assert(all.select("valor").distinct().collect().head.getString(0) == "428.14")
  }

  test("partitioned sink: hive layout, partition discovery, append vs overwrite") {
    import spark.implicits._
    val df = Seq((2011, 1, "A", 1.0), (2011, 2, "B", 2.0))
      .toDF("ano", "mes", "k", "v")
    val path = tmpDir("sink") + "/bronze"
    Sinks.writePartitioned(df, path)
    assert(Files.isDirectory(Paths.get(path, "ano=2011", "mes=1")))
    val schema = spark.read.parquet(path).schema
    val back = Sources.readParquetLayer(spark, path, schema)
    assert(back.count() == 2)
    assert(back.select("ano").distinct().collect().head.get(0) == 2011)
    // append accumulates (the reference's de-facto mode, SURVEY §1.4.4) ...
    Sinks.writePartitioned(df, path, mode = "append")
    assert(Sources.readParquetLayer(spark, path, schema).count() == 4)
    // ... overwrite resets
    Sinks.writePartitioned(df, path, mode = "overwrite")
    assert(Sources.readParquetLayer(spark, path, schema).count() == 2)
  }

  test("publishAuditedPartitions with EMPTY partitionBy swaps the whole table root") {
    import spark.implicits._
    val path = tmpDir("sink-depth0") + "/flat"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    val n1 = Sinks.publishAuditedPartitions(v1, path, () => (), partitionBy = Seq.empty)
    assert(n1 == 2L)
    assert(spark.read.parquet(path).count() == 2)
    // second publish replaces, leaves no .staging/.old residue
    val v2 = Seq((3L, "c")).toDF("id", "k")
    assert(Sinks.publishAuditedPartitions(v2, path, () => (), partitionBy = Seq.empty) == 1L)
    assert(spark.read.parquet(path).as[(Long, String)].collect().toSet == Set((3L, "c")))
    assert(!Files.exists(Paths.get(path + ".staging")))
    assert(!Files.exists(Paths.get(path + ".old")))
  }
}
