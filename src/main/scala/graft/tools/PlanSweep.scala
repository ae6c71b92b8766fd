package graft.tools
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    val dir = "/root/testdata/sf0.001"
    for (name <- args) {
      println(s"===== $name =====")
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
      val smj = "SortMergeJoin".r.findAllIn(p).size
      val exch = "Exchange".r.findAllIn(p).size
      val wsc = "WholeStageCodegen".r.findAllIn(p).size
      println(s"$name: BHJ=$broadcasts SMJ=$smj Exchange=$exch WSCG=$wsc")
      p.linesIterator.filter(l => l.contains("Scan") && l.contains("ReadSchema")).take(3).foreach(l => println("  " + l.take(200)))
    }
    spark.stop()
  }
}
