package graft

/**
 * Plan-dump main (round 17, optimization deliverable), the repo's one plan
 * dumper: writes `.explain("formatted")` for selected declared queries to
 * text files, so plan-shape claims in OPTIMIZATION notes are checkable
 * against committed artifacts without running Spark.
 *
 * Usage: sbt "runMain graft.PlanDump x34_dedup_components,x156_components_collapsed"
 * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as the bench;
 *      SPARK_GRAFT_PLAN_OUT (default plans/r17) output directory;
 *      SPARK_GRAFT_PLAN_SUFFIX (default "after") file suffix.
 *
 * The session comes from [[GraftSession.local]], as Bench's does, so the
 * dumped plan is the plan the bench times. Queries whose operators run
 * driver-coordinated loops (the components family) execute those loops
 * during construction; the dump is the FINAL frame's plan —
 * loop-internal shapes are evidenced by event-log profiles instead.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r17"))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "after")
    val only = args.headOption.filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(outDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"plandump: wrote $name ($suffix)")
        } catch { case e: Throwable =>
          System.err.println(s"plandump: $name FAILED: $e")
        }
      }
    spark.stop()
  }
}
