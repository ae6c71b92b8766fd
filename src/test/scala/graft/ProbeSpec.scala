package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}

import graft.graph.StageStore
import graft.tools.Probe

class ProbeSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("probe prints one timing line per query and writes its formatted plan") {
    withStageRoot {
      val dir = Files.createTempDirectory("graft_probe").toString
      val out = new ByteArrayOutputStream()
      Console.withOut(out) {
        Probe.run(spark, Seq(sfDir, "1", "--plans", dir, "t", "kg_triples"))
      }
      val lines = out.toString.split("\n").filter(_.startsWith("[probe]"))
      assert(lines.length === 1, out.toString)
      assert(lines.head.matches("""\[probe\] kg_triples first=\d+\.\d\d warm=\d+\.\d\d s"""),
        lines.head)
      val plan = new String(Files.readAllBytes(Paths.get(dir, "kg_triples_t.txt")))
      assert(plan.contains("== Physical Plan =="), plan.take(400))
    }
  }

  test("an unknown query name fails before any query runs, naming it") {
    withStageRoot {
      val ex = intercept[IllegalArgumentException] {
        Probe.run(spark, Seq(sfDir, "1", "kg_triples", "no_such_query"))
      }
      assert(ex.getMessage.contains("no_such_query"))
      assert(!new File(StageStore.baseFor(sfDir)).exists(),
        "kg_triples must not have run: no stage may be committed")
    }
  }
}
