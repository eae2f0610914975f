package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Builder's fast loop: SPARK_GRAFT_VERIFY_ONLY=x57,x76 dumps only the
    // named queries (prefix match). Unset (the driver) → everything.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // Queries run CONCURRENTLY on one session: most of the sequential gate's
    // wall time is per-query driver work (analysis, codegen compile, job
    // setup) that parallelizes across threads even on few cores, so the
    // 120+-query gate stays runnable every round as the registry grows.
    // Safe because queries share nothing mutable: results land in per-query
    // output dirs, the only side-effecting query (x102) uses a fresh temp
    // dir per invocation, no query registers temp views, and Spark's
    // FunctionRegistry (GraftFunctions.register) is synchronized.
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.filter(kv => selected(kv._1)).toSeq
      .map { case (name, fn) => scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }}
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(SparkEntry.oracleSql))
    spark.stop()
  }
}
