package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query timing and plan probe over the registered queries
  * ([[graft.SparkEntry.queries]]) on the committed stage tables.
  *
  * Usage: runMain graft.tools.Probe <sfDir> <reps> [--plans <dir> <suffix>] [query...]
  *
  * Every named query (all of them when none is named) prints one line: the
  * first execution, which also builds any lazy stage the query reads, and
  * `reps` warm ones. Each execution is timed as the query's construction
  * plus `queryExecution.toRdd.count()`, under the query's name as the job
  * description. With `--plans` the query's formatted plan is then written
  * to `<dir>/<query>_<suffix>.txt`.
  *
  * Pipeline stages are profiled by `graph.Pipeline.main` on a fresh
  * `-Dgraft.stage.dir`: every committed stage records its wall time, rows
  * and rows/s.
  */
object Probe {

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2,
      "usage: Probe <sfDir> <reps> [--plans <dir> <suffix>] [query...]")
    val (sfDir, reps) = (args(0), args(1).toInt)
    val (plans, named) = args.drop(2) match {
      case Seq("--plans", dir, suffix, names @ _*) => (Some((dir, suffix)), names)
      case names => (None, names)
    }
    val queries = graft.SparkEntry.queries
    val unknown = named.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (named.isEmpty) queries.keys.toSeq.sorted else named
    plans.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      val build = queries(name)
      spark.sparkContext.setJobDescription(name)
      val secs = try (0 to reps).map { _ =>
        val t0 = System.nanoTime()
        build(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      } finally spark.sparkContext.setJobDescription(null)
      println(f"[probe] $name first=${secs.head}%.2f " +
        s"warm=${secs.tail.map(t => f"$t%.2f").mkString("/")} s")
      plans.foreach { case (dir, suffix) =>
        Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"),
          build(spark, sfDir).queryExecution.explainString(FormattedMode))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(Runtime.getRuntime.availableProcessors)
    try run(spark, args.toSeq) finally spark.stop()
  }
}
