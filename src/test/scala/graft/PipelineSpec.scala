package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EtlFixtures

/** End-to-end pipeline: decode -> partitioned lake -> report, idempotent. */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("pipeline loads the lake, reports totals, and re-runs idempotently") {
    val base = EtlFixtures.ensure(spark, sf)
    val lake = java.nio.file.Files.createTempDirectory("graft_pipe").toFile.getPath + "/lake"

    val r1 = Pipeline.run(spark, s"$base/RD*.dbc", lake)
    val s1 = r1.summary.collect()(0)
    val nOrders = Tables.orders(spark, sf).count()
    assert(s1.getAs[Long]("total_registros_inseridos") == nOrders)
    assert(s1.getAs[Long]("tabelas_distintas") == 1)
    assert(s1.getAs[Long]("arquivos_processados") == 5)

    val per = r1.perTable.collect()(0)
    assert(per.getAs[scala.collection.Seq[String]]("competencias_existentes").toSeq == Seq("2501"))

    // month re-load: same totals, no duplicate append
    val r2 = Pipeline.run(spark, s"$base/RD*.dbc", lake)
    assert(r2.summary.collect()(0).getAs[Long]("total_registros_inseridos") == nOrders)

    // lake reads partition-prune on uf
    val one = spark.read.parquet(lake).filter(col("uf") === "PE")
    assert(one.count() > 0 && one.count() < nOrders)
  }

  test("pipeline keeps competência's zero padding without changing the caller's conf") {
    val base = EtlFixtures.ensure(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_conf")
    val in = java.nio.file.Files.createDirectories(dir.resolve("in"))
    // the fixtures under names whose competência starts with a zero
    new java.io.File(base).listFiles().map(_.getName).filter(_.matches("RD..2501\\.dbc"))
      .foreach(n => java.nio.file.Files.copy(java.nio.file.Paths.get(base, n),
        in.resolve(n.replace("2501", "0501"))))
    // a fresh session, so that no earlier run has touched its conf
    val caller = spark.newSession()
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val before = caller.conf.getOption(key)

    val r = Pipeline.run(caller, s"$in/RD*.dbc", s"$dir/lake")
    val nOrders = Tables.orders(spark, sf).count()
    val s1 = r.summary.collect()(0)
    assert((s1.getAs[Long]("total_registros_inseridos"), s1.getAs[Long]("tabelas_distintas"),
      s1.getAs[Long]("arquivos_processados")) == ((nOrders, 1L, 5L)))
    val per = r.perTable.collect()(0)
    assert(per.getAs[String]("tabela") == "RD")
    assert(per.getAs[Long]("total_registros") == nOrders && per.getAs[Long]("n_arquivos") == 5)
    assert(per.getAs[Long]("media_registros") == math.round(nOrders / 5.0))
    assert(per.getAs[scala.collection.Seq[String]]("competencias_existentes").toSeq == Seq("0501"))
    assert(caller.conf.getOption(key) == before)
  }
}
