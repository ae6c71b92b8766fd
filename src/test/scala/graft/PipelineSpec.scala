package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.graph.{Pipeline, StageStore}

/** Checkpoint/resume semantics of the staged pipeline (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics"). */
class PipelineSpec extends SparkSpec {

  test("stages are computed once and reused; pipeline is resumable") {
    withStageRoot {
      val sfDir = "/root/testdata/sf0.001"
      val n1 = Pipeline.runAll(spark, sfDir)
      assert(n1 > 0)
      // mutate the committed mentions stage: a resumed run must NOT
      // recompute it (it reads the committed table as-is)
      val base = StageStore.baseFor(sfDir)
      val marker = spark.read.parquet(s"$base/mentions").count()
      val n2 = Pipeline.runAll(spark, sfDir)
      assert(n2 === n1, "resumed run must reuse committed stages")
      assert(spark.read.parquet(s"$base/mentions").count() === marker)
    }
  }

  test("a rebuilt stage carries exactly one set of lineage rows") {
    withStageRoot {
      val sfDir = "/root/testdata/sf0.001"
      Pipeline.mentions(spark, sfDir)
      val dir = new org.apache.hadoop.fs.Path(StageStore.baseFor(sfDir), "mentions")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
      val rows = Pipeline.mentions(spark, sfDir).count()
      val lin = StageStore.lineage(spark, sfDir).filter(col("stage") === "mentions")
      val pids = lin.select("partition_id").collect().map(_.getInt(0))
      assert(pids.length > 0 && pids.distinct.length === pids.length,
        "one lineage row per partition of the rebuilt table")
      assert(lin.agg(sum("output_rows")).head.getLong(0) === rows)
    }
  }

  test("append-incremental: a new conv batch unions with committed stages, equals full recompute") {
    // conversation-local stages make appends O(new batch): process the new
    // conversations alone, union with the committed tables, re-run only
    // the vocabulary semi-join. Must be row-identical to rebuilding the
    // whole corpus (including cross-batch links: a new conv defining an
    // entity an OLD conv referenced flips that old relation into a triple).
    val full = graft.sources.Transcripts.synthetic(spark, 30, 8)
    val old = full.filter(xxhash64(col("conv_id")) % 2 === 0)
    val neu = full.filter(xxhash64(col("conv_id")) % 2 =!= 0)
    val mOld = graft.extract.Extract.mentions(old)
    val (m, r, t) = Pipeline.appendBatch(mOld, graft.link.Resolve.resolved(mOld), neu)
    val mFull = graft.extract.Extract.mentions(full)
    val rFull = graft.link.Resolve.resolved(mFull)
    val tFull = graft.triples.Triples.knownOnly(
      rFull, graft.triples.Triples.entityNames(mFull))
    assert(rowSet(m) === rowSet(mFull), "mention stage must be append-exact")
    assert(rowSet(r) === rowSet(rFull), "resolution must be conversation-local (append-exact)")
    assert(rowSet(t) === rowSet(tFull), "incremental triples must equal full recompute")
    assert(t.count() > 0)
  }

  test("viz export: bounded top-k subgraph as one self-contained HTML file") {
    withStageRoot {
      val out = Files.createTempDirectory("graft_viz").resolve("g.html").toString
      graft.tools.Viz.export(spark, "/root/testdata/sf0.001", out, k = 40)
      val html = new String(Files.readAllBytes(java.nio.file.Paths.get(out)))
      assert(html.contains("<canvas"))
      assert(html.contains("supplier:") || html.contains("customer:") ||
        html.contains("part:"), "top-degree node names must be embedded")
      // bounded regardless of corpus size: k nodes + capped edges only
      assert(html.length < 200000, s"viz must stay O(k), got ${html.length} bytes")
    }
  }

  test("lineage has per-partition rows; metrics carry stage throughput") {
    withStageRoot {
      val sfDir = "/root/testdata/sf0.001"
      Pipeline.runAll(spark, sfDir)
      val lin = StageStore.lineage(spark, sfDir)
      assert(lin.columns.toSet ===
        Set("stage", "partition_id", "output_rows", "wall_ms"))
      val stages = lin.select("stage").distinct()
        .collect().map(_.getString(0)).toSet
      assert(Set("mentions", "resolved", "triples", "nodes", "edges",
        "version_nodes", "version_edges").subsetOf(stages))
      // per-partition: at least one stage has multiple partition rows
      val maxParts = lin.groupBy("stage").count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(maxParts >= 1)
      val met = StageStore.metrics(spark, sfDir)
      val names = met.select("name").distinct().collect().map(_.getString(0)).toSet
      assert(Set("output_rows", "wall_ms", "rows_per_sec").subsetOf(names))
      assert(names.contains("approx_distinct_convs"),
        "conv-bearing stages must record a cardinality estimate")
      // lineage row counts must equal the committed table counts
      val mentionsRows = lin.filter(col("stage") === "mentions")
        .agg(sum("output_rows")).collect()(0).getLong(0)
      assert(mentionsRows === spark.read
        .parquet(s"${StageStore.baseFor(sfDir)}/mentions").count())
    }
  }
}
