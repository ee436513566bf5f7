package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DatasusEtl, Sinks}

/** The reference's whole `npm run etl:run` (SURVEY §3 E1) as one call:
  * decode a corpus of .dbc files, derive partition columns from names,
  * load the partitioned lake idempotently, and return the run-etl.ts
  * summary (A2/A3/A4/A6 aggregations) — four process/node boundaries and
  * two queues collapsed into a single linear DataFrame job.
  */
object Pipeline {

  final case class LoadReport(summary: DataFrame, perTable: DataFrame)

  /** @param dbcGlob input .dbc files (e.g. "s3://bucket/month/&#42;.dbc")
    * @param lakeDir partitioned parquet lake root (tipo/uf/competencia)
    * @return the load report DataFrames (lazy; cheap to collect). */
  def run(spark: SparkSession, dbcGlob: String, lakeDir: String): LoadReport = {
    val decoded = DatasusEtl.withFileMeta(
      spark.read.format("dbc").option("mode", "permissive").load(dbcGlob)
        .withColumn("_path", col("_file")))
    Sinks.writeLake(decoded, lakeDir)

    val lake = readLake(spark, lakeDir)
    val perTable = lake.groupBy(col("tipo_arquivo").as("tabela"))
      .agg(count(lit(1)).as("total_registros"),
           countDistinct(col("arquivo")).as("n_arquivos"),
           round(count(lit(1)) / countDistinct(col("arquivo"))).cast("long")
             .as("media_registros"),
           sort_array(collect_set(col("competencia"))).as("competencias_existentes"))
    val summary = perTable.agg(
      sum(col("total_registros")).as("total_registros_inseridos"),
      count(lit(1)).as("tabelas_distintas"),
      sum(col("n_arquivos")).as("arquivos_processados"))
    LoadReport(summary, perTable)
  }

  /** The lake columns the load report reads. competência is a
    * zero-padded code ("0501" = 2005-01) and partition-dir type inference
    * would read it back as an int and drop the padding; an explicit
    * schema types the partition columns as strings without touching the
    * caller's session conf. */
  private[graft] def readLake(spark: SparkSession, lakeDir: String): DataFrame =
    spark.read.schema("arquivo STRING, tipo_arquivo STRING, uf STRING, competencia STRING")
      .parquet(lakeDir)

  /** The reference's actual load target — a SQL database per file type
    * with duplicate-competência protection (datasus.service.ts:15-39) —
    * as one call: decode, derive partition columns, then per-tipo
    * `Sinks.appendNewCompetencias` (all-text DDL create-if-absent, batch
    * append, already-loaded months skipped). Returns per-tipo
    * (appended, skipped) counts. Tipos are bounded (~15), so the
    * driver-side loop is over table names, never data. */
  def runToJdbc(spark: SparkSession, dbcGlob: String, url: String,
                props: java.util.Properties = new java.util.Properties(),
                textType: String = "STRING"): Map[String, (Long, Long)] = {
    // persist: the decode (blast + DBF parse) must run once, not once for
    // the tipo listing plus once per tipo table
    val decoded = DatasusEtl.withFileMeta(
      spark.read.format("dbc").option("mode", "permissive").load(dbcGlob)
        .withColumn("_path", col("_file")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tipos = decoded.select("tipo_arquivo").distinct()
        .collect().map(_.getString(0)).sorted
      tipos.map { tipo =>
        val t = decoded.filter(col("tipo_arquivo") === tipo).drop("tipo_arquivo")
        tipo -> Sinks.appendNewCompetencias(
          t, url, s"datasus_$tipo".toLowerCase, props, textType = textType)
      }.toMap
    } finally decoded.unpersist()
  }
}
