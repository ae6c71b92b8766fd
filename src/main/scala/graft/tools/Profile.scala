package graft.tools

import graft.sources.Transcripts
import graft.extract.Extract
import graft.link.Resolve
import graft.triples.Triples
import graft.canonical.Canonical

/** Stage-by-stage profiler for the KG pipeline (identifies the hot stage —
  * north-rule requirement). Usage: runMain graft.tools.Profile <sfDir>. */
object Profile {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus())

    val t = Transcripts.fromTpch(spark, sfDir)
    time("transcripts.count")(println("  rows=" + t.count()))
    time("transcripts.count (2nd)")(t.count())
    val m = Extract.mentions(t)
    time("mentions.count")(println("  rows=" + m.count()))
    val mc = m.cache()
    time("mentions cache build")(mc.count())
    val r = Resolve.resolved(mc)
    time("resolved.count")(println("  rows=" + r.count()))
    val rc = r.cache()
    time("resolved cache build")(rc.count())
    val ents = Triples.entityNames(mc)
    time("entityNames.count")(println("  rows=" + ents.count()))
    val tri = Triples.knownOnly(rc, ents)
    time("triples.count")(println("  rows=" + tri.count()))
    val nodes = Canonical.nodes(ents)
    val edges = Canonical.edges(tri, nodes)
    time("edges.count")(println("  rows=" + edges.count()))
    time("edges.count (2nd)")(edges.count())
    if (args.contains("--explain")) edges.explain("formatted")
    spark.stop()
  }
}
