package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.StageStore

/** A stage commits in one rename: a build that fails leaves nothing at
  * the stage path, and writers racing for one stage commit one table with
  * one set of lineage rows. */
class StageStoreSpec extends SparkSpec {

  private def tiny: DataFrame = spark.range(0, 100, 1, 4)
    .select(col("id"), (col("id") % 7).cast("string").as("conv_id"))

  /** Runs `f` on a real (empty) input dir under a fresh stage root: a
    * missing input path would stamp a new nonce, and so a new stage base,
    * on every call. */
  private def withInput[A](f: String => A): A = withStageRoot {
    f(Files.createTempDirectory("graft_stage_input").toString)
  }

  /** The stage's lineage is one row per partition summing to `rows`, and
    * its metrics hold one output_rows value. */
  private def assertOneSet(input: String, stage: String, rows: Long): Unit = {
    val lin = StageStore.lineage(spark, input).filter(col("stage") === stage)
    val pids = lin.select("partition_id").collect().map(_.getInt(0))
    assert(pids.nonEmpty && pids.distinct.length === pids.length)
    assert(lin.agg(sum("output_rows")).head.getLong(0) === rows)
    val met = StageStore.metrics(spark, input)
      .filter(col("stage") === stage && col("name") === "output_rows")
    assert(met.collect().map(_.getDouble(2)).toSeq === Seq(rows.toDouble))
  }

  test("a build that throws in one task commits nothing; the next call commits once") {
    withInput { input =>
      val base = new File(StageStore.baseFor(input))
      val boom = udf((id: Long) =>
        if (id == 57L) throw new IllegalStateException("injected") else id)
      intercept[Exception] {
        StageStore.getOrCreate(spark, input, "tiny") {
          tiny.select(boom(col("id")).as("id"), col("conv_id"))
        }
      }
      assert(!new File(base, "tiny").exists, "nothing at the stage path")
      assert(Option(base.list()).toSeq.flatten.isEmpty, "the failed commit's sibling is removed")
      assert(StageStore.lineage(spark, input).count() === 0)
      assert(StageStore.metrics(spark, input).count() === 0)

      assertSameRows(StageStore.getOrCreate(spark, input, "tiny")(tiny), tiny)
      assertOneSet(input, "tiny", 100)
    }
  }

  test("two writers racing for one stage commit one table and one set of lineage") {
    withInput { input =>
      // both writers pass the exists check before either builds
      val bothBuilding = new CyclicBarrier(2)
      def writer = Future {
        rowSet(StageStore.getOrCreate(spark, input, "tiny") {
          bothBuilding.await(60, TimeUnit.SECONDS)
          tiny
        })
      }
      val (a, b) = (writer, writer)
      val expected = rowSet(tiny)
      assert(Await.result(a, 2.minutes) === expected)
      assert(Await.result(b, 2.minutes) === expected)
      assertOneSet(input, "tiny", 100)
      val base = new File(StageStore.baseFor(input))
      assert(base.list().toSeq === Seq("tiny"), "the loser's sibling is discarded")
      assert(!new File(base, "tiny").listFiles().exists(_.isDirectory),
        "no sibling nested inside the stage directory")
    }
  }
}
