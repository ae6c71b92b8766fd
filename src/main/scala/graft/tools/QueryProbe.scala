package graft.tools


/** Per-query timing probe against committed stage tables (the
  * intended consumption pattern — Bench measures the cold end-to-end
  * story instead).
  *
  * Usage: runMain graft.tools.QueryProbe <sfDir> <reps> <query...>
  * (formatted plans: graft.tools.PlanDump).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = args.drop(2).toSeq
    val spark = graft.Session.local(graft.Session.cpus())
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name reps=${times.map(t => f"$t%.2f").mkString("/")} s")
    }
    spark.stop()
  }
}
