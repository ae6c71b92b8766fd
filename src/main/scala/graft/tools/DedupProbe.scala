package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** noop-sink isolation of the dup-cluster derivation chain (guide §1.4):
  * times each sub-stage of verifiedPairs + the CC collapse so the wall
  * time of doc_dup_clusters can be attributed to a specific operator.
  * Usage: runMain graft.tools.DedupProbe <sfDir> */
object DedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus())
    import graft.ops.Dedup

    def time(label: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      f
      println(f"[dedupprobe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      spark.sparkContext.setJobDescription(null)
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // warmup pass so codegen/JIT costs don't land on the first stage
    noop(docs.select(md5(col("text"))))

    val withHash = docs.select(col("doc_id"), col("text"),
      Dedup.exactDupKey(col("doc_id"), col("text")).as("_h"))
    val reps = withHash.groupBy(col("_h")).agg(min(col("doc_id")).as("_rep"))
    time("reps groupBy")(noop(reps))
    val repDocs = docs.join(reps.select(col("_rep").as("doc_id")), Seq("doc_id"))
    time("repDocs join")(noop(repDocs))
    time("minhashBuckets")(noop(Dedup.minhashBuckets(repDocs)))
    time("candidatePairs")(noop(
      Dedup.candidatePairs(Dedup.minhashBuckets(repDocs))))
    var pairs: DataFrame = null
    time("verifiedPairs (full)") {
      pairs = Dedup.verifiedPairs(repDocs).localCheckpoint()
    }
    time("CC runWithNodes") {
      noop(graft.canonical.ConnectedComponents.runWithNodes(
        reps.select(col("_rep").cast("long").as("id")),
        pairs.select(col("a").cast("long").as("src"),
          col("b").cast("long").as("dst"))))
    }
    time("dupClusters end-to-end")(noop(Dedup.dupClusters(docs)))
    spark.stop()
  }
}
