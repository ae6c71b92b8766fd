package graft.tools


/** Dump `.explain("formatted")` of declared queries to files — the
  * optimization-round evidence trail (plans/r06/<query>_<suffix>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [query...]
  * (no query list = all declared queries). Queries whose result is built
  * from driver-side rows (emb_k_sweep, emb_cluster_align) dump the trivial
  * LocalTableScan plan; their distributed passes are documented in
  * OPTIMIZATION notes instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/plans/r06")
    val suffix = args.lift(2).getOrElse("before")
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Session.local(graft.Session.cpus())
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERROR: $e" }
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try w.write(plan) finally w.close()
      println(s"[plandump] $name -> ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
