package graft.tools

import org.apache.spark.storage.StorageLevel

import graft.sources.Transcripts
import graft.extract.Extract

/** Minimal anti-scaling isolator: runMain graft.tools.MicroProbe <p> <mode>
  * mode: count | persist | write */
object MicroProbe {
  def main(args: Array[String]): Unit = {
    val p = args(0).toInt
    val mode = args(1)
    val nConvs = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val spark = graft.Session.local(p)
    // warmup
    Extract.mentions(Transcripts.synthetic(spark, 2000, 12)).count()
    val m = Extract.mentions(Transcripts.synthetic(spark, nConvs, 12))
    val t0 = System.nanoTime()
    val n = mode match {
      case "count" => m.count()
      case "persist" =>
        val c = m.persist(StorageLevel.MEMORY_ONLY); val r = c.count(); r
      case "write" =>
        val tmp = java.nio.file.Files.createTempDirectory("mp").toString
        m.write.parquet(s"$tmp/m"); 0L
    }
    println(f"[micro] p=$p mode=$mode rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
