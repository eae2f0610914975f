package graft

/**
 * Train the repo's BPE merge table: `runMain graft.BpeTrain <sfDir> <out>
 * [nMerges]`. Deterministic for a given corpus (see
 * [[graft.operators.BpeOps.trainMerges]]), so re-running against the same
 * data reproduces `src/main/resources/graft/bpe_merges.txt` byte-for-byte
 * — the tokenizer is a versioned artifact, regenerated only when the
 * training corpus is deliberately changed.
 */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BpeTrain <sfDir> <outFile> [nMerges]")
    val nMerges = if (args.length > 2) args(2).toInt else 40
    val spark = GraftSession.local()
    val docs = graft.sources.Tables.read(spark, args(0), "documents")
    val merges = graft.operators.BpeOps.trainMerges(docs, nMerges)
    val text = graft.functions.BpeSegment.encode(merges) + "\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(args(1)), text.getBytes("UTF-8"))
    println(s"wrote ${merges.length} merges to ${args(1)}")
    spark.stop()
  }
}
