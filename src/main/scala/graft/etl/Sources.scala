package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers (SURVEY.md §2.1 S5/S6/S8).
  *
  * The reference loops json.load over a sorted glob and concatenates
  * page["results"] (main.py:109-124) — single-threaded, whole corpus in
  * RAM. Here each page file is one row of a distributed wholetext
  * scan: union-all across pages is implicit, schema is declared (no
  * sampling pass), and malformed files parse to null and are dropped —
  * the same per-file tolerance as the reference's try/except skip.
  */
object Sources {

  /** S5: both page forms in ONE pass over the files — envelope pages
    * ({count,next,previous,results:[...]}) and the legacy bare-array
    * pages ([{...}, ...]; 55 of the reference's 1021 committed files,
    * which its loader silently skips, main.py:119). Wholetext read,
    * parse the envelope shape, fall back to the bare-array shape only
    * for files where the envelope parse came up empty (coalesce
    * short-circuits, so the minority form pays the second parse, not
    * the whole corpus). Corrupt files parse to null under both shapes
    * and are dropped, matching the reference's per-file try/except skip
    * (main.py:122). */
  def readRawPages(spark: SparkSession, glob: String): DataFrame = {
    val record = GastosSchema.raw
    val arrayType = org.apache.spark.sql.types.ArrayType(record)
    val parsed = spark.read.option("wholetext", true).text(glob)
      .select(coalesce(
        from_json(col("value"), GastosSchema.envelopeOf(record)).getField("results"),
        from_json(col("value"), arrayType)).as("records"))
    parsed.where(col("records").isNotNull)
      .select(explode(col("records")).as("r"))
      .select(col("r.*"))
      // drop phantom all-null records (e.g. a bare array containing {})
      .where(record.fieldNames.map(col(_).isNotNull).reduce(_ || _))
  }

  /** S8/S9: partitioned parquet scan with hive partition discovery —
    * Spark does natively what pd.read_parquet / pyarrow ds.dataset do in
    * the reference (main.py:198, 283-286) — under a declared schema
    * (GastosSchema.bronze/silver/gold), so no job samples the footers.
    * A column the files lack reads as null; one the schema lacks is not
    * read. */
  def readParquetLayer(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
}
