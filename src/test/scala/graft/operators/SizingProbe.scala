package graft.operators

/** Measurement main (test scope — run with `sbt "Test/runMain
  * graft.operators.SizingProbe <fixture-dir>"`): what the pair-shuffle
  * sizing proxy reads at a given fixture, unloaded vs loaded. The fixture
  * directory is a REQUIRED argument (round-13 ADVICE: no absolute-path
  * default baked into the tree). */
object SizingProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.error("usage: SizingProbe <fixture-dir> (e.g. a tools/make_sfN.py output)"))
    val spark = graft.GraftSession.local(8)
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.sources.Tables.read(spark, dir, "documents")
    val shArr = DedupOps.shingleRelation(docs)
    val pre = DedupOps.measuredLeafBytes(shArr.queryExecution.optimizedPlan)
    val preMass = DedupOps.measuredJoinMass(shArr.queryExecution.optimizedPlan)
    println(s"PROBE unloaded leaf bytes: $pre  calibrated massPerSess: ${preMass / 32 / (1L << 20)} MB")
    shArr.count()
    val fresh = DedupOps.shingleRelation(
      graft.sources.Tables.read(spark, dir, "documents"))
    val post = DedupOps.measuredLeafBytes(fresh.queryExecution.optimizedPlan)
    val postMass = DedupOps.measuredJoinMass(fresh.queryExecution.optimizedPlan)
    println(s"PROBE loaded leaf bytes: $post  calibrated massPerSess: ${postMass / 32 / (1L << 20)} MB")
    println(s"PROBE decision: ${DedupOps.pairShufflePartitions(fresh)}")
    spark.stop()
  }
}
