package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // warm shared fixtures once before the parallel fan-out
    try graft.queries.EtlFixtures.ensure(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[verify] fixtures: ${e.getMessage}") }
    // queries are independent Spark jobs — run 4 at a time to overlap
    // scheduling gaps (the scheduler interleaves their stages)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // local-iteration subset: GRAFT_ONLY=q_a,q_b runs just those queries
    // (the driver never sets it, so the gate always runs the full map)
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
