package graft.tools


import graft.link.Resolve
import graft.schema.Mention
import graft.streaming.StatefulResolve

/** Head-to-head: declarative windowed resolver (4 conversation-keyed
  * shuffles) vs single-shuffle stateful walker, on the committed mentions
  * stage. runMain graft.tools.ResolveBench <sfDir> */
object ResolveBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus())
    import spark.implicits._
    val m = graft.graph.Pipeline.mentions(spark, sfDir)
    m.count() // ensure committed + warm fs cache
    def time(label: String)(f: => Long): Unit = {
      // best of 3
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[rb] $label%-12s best=${times.map(_._1).min}%6.2f s  rows=${times.head._2}")
    }
    time("windowed")(Resolve.resolved(m).count())
    time("stateful")(StatefulResolve.resolve(spark, m.as[Mention]).count())
    spark.stop()
  }
}
