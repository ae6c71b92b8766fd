package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.Transcripts
import graft.extract.Extract
import graft.link.Resolve
import graft.triples.Triples

/** Phase-level scaling probe: where does the wall time go at p8 vs p32? */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toLong).getOrElse(500000L)
    for (p <- Seq(8, 32)) {
      val spark = graft.Session.local(p)
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"[probe] p=$p%-3d $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
      }
      val corpus = Transcripts.synthetic(spark, nConvs, 12)
      time("gen.count")(corpus.count())
      time("gen.count2")(corpus.count())
      val m = Extract.mentions(corpus)
      time("mentions.count")(m.count())
      val mc = m.localCheckpoint()
      time("mentions.checkpoint")(mc.count())
      val r = Resolve.resolved(mc)
      time("resolved.count")(r.count())
      time("resolved.count2")(r.count())
      time("triples.count")(
        Triples.knownOnly(r, Triples.entityNames(mc)).count())
      if (sys.env.contains("PROBE_EXPLAIN") && p == 8) r.explain("formatted")
      spark.stop()
    }
  }
}
