package kgbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.graph.{Pipeline, StageStore}

/** The benchmark's JVM side; kgbench/run.py builds and launches it, and
  * kgbench/README.md describes the workloads and metrics.
  *
  * Arguments: --mode build|serve|append|prepare|record --seed N
  * --seconds S --trace 0|1 --cores N --work DIR --fixed DIR
  * --expected FILE --sidecar FILE. A measuring mode prints the result JSON
  * as its last stdout line.
  */
object Main {

  /** The base corpus is fixed: only the append batches follow --seed. */
  val CorpusSeed = 42L
  val CorpusSf = 0.002
  val BatchConvs = 2000
  val BatchTurns = 12
  val WarmupBatches = 5

  /** The 8 stages `Pipeline.runAll` commits, in its order. */
  val CoreStages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "mentions" -> Pipeline.mentions _,
    "resolved" -> Pipeline.resolved _,
    "nodes" -> Pipeline.nodes _,
    "triples" -> Pipeline.triples _,
    "minted_nodes" -> Pipeline.mintedNodes _,
    "edges" -> Pipeline.edges _,
    "version_nodes" -> Pipeline.versionNodes _,
    "version_edges" -> Pipeline.versionEdges _)
  val CoreNames: Seq[String] = CoreStages.map(_._1)

  /** Queries timed by `serve`, in sorted-name order. A pass over all 92
    * queries costs about 45 s warm and 65 s cold even on a small corpus,
    * more than a run can afford, so serve times 15:
    *  - the cheapest consumer of each lazily built query-side stage but
    *    the near-duplicate ones (decontam_hits, node_clusters and ensemble,
    *    transcripts and hier_nodes, pyg_local); building dup_pairs and
    *    dup_clusters alone takes 10 s of a first pass;
    *  - the heaviest warm queries: connected components, PageRank and the
    *    segment-edge window;
    *  - one query each of the ev_ and rel_ families;
    *  - six light queries, one or two per family, whose time is mostly the
    *    per-query floor, so that the median query is a light one in every
    *    run. */
  val Served: Seq[String] = Seq("doc_decontam", "doc_quality", "emb_cluster_ensemble",
    "emb_lsh_buckets", "ev_latest", "ev_sessions", "kg_components", "kg_hierarchy_nodes",
    "kg_nodes", "kg_pagerank", "kg_pyg_nodes", "kg_segment_edges", "kg_triples",
    "kg_version_latest", "rel_top_parts").sorted

  /** Served queries whose warm latency is a per-layer metric of its own. */
  val HeavyQueries = Seq("kg_components", "kg_pagerank", "kg_segment_edges")

  val Families = Seq("kg", "doc", "emb", "ev", "rel")

  final case class Args(mode: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
      work: String, fixed: String, expected: String, sidecar: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.toSeq.grouped(2)
      .collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, default: String) = kv.getOrElse(k, default)
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("mode"), get("seed", "0").toLong, get("seconds", "0").toInt,
      get("trace", "0") == "1", need("cores").toInt, need("work"), need("fixed"),
      need("expected"), get("sidecar", ""))
    require(Set("build", "serve", "append", "prepare", "record")(a.mode), s"unknown mode ${a.mode}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val run = new Run(parse(argv))
    val ok = try run.execute() finally run.close()
    if (!ok) sys.exit(1)
  }
}

/** One benchmark process: set-up, the workload's timed loop, checks, output. */
final class Run(a: Main.Args) {
  import Main._

  private val t0 = System.nanoTime()
  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  private val work = new File(a.work).getAbsoluteFile
  rm(work)
  work.mkdirs()
  private val fixed = new File(a.fixed).getAbsoluteFile
  private val corpus = new File(fixed, "corpus").getPath
  private val preparedStages = new File(fixed, "stages")
  // `prepare` commits the core into the prepared stage root; every other
  // mode works in a stage root of its own run
  System.setProperty("graft.stage.dir",
    (if (a.mode == "prepare") preparedStages else new File(work, "stages")).getPath)

  private val spark = SparkSession.builder()
    .master(s"local[${a.cores}]")
    .config("spark.sql.shuffle.partitions", a.cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val tracer = new Tracer(if (a.trace) spark.sparkContext else null)

  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val setup = mutable.LinkedHashMap("session_s" -> secs(t0))
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var queryTimes = Seq.empty[(String, Double, Seq[Double])]
  /** serve's first pass, warm passes and lazy-stage MB, for its layers. */
  private var served = (Seq.empty[(String, Double, Long)], Seq.empty[Seq[(String, Double, Long)]], 0.0)

  private val expected: Map[String, Long] =
    if (a.mode == "record" || a.mode == "prepare") Map.empty
    else scala.io.Source.fromFile(a.expected).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> f(1).toLong).toMap
  private val recorded = mutable.LinkedHashMap.empty[String, Long]

  /** Compares an observed count with the recorded one (or records it). */
  private def expect(key: String, got: Long): Boolean =
    if (a.mode == "record") { recorded(key) = got; true }
    else check(expected.get(key).contains(got),
      s"$key: got $got, expected ${expected.getOrElse(key, "none recorded")}")

  private def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }

  /** Runs one operation: times `work` alone, then checks its output with
    * `verify`. Returns the seconds and the output if both succeeded. */
  private def op[T](name: String)(work: => T)(verify: T => Boolean): Option[(Double, T)] = {
    attempted += 1
    val r = try {
      val start = System.nanoTime()
      val out = work
      val s = secs(start)
      if (verify(out)) Some((s, out)) else None
    } catch {
      case e: Throwable => failures += s"$name threw ${e.getClass.getName}: ${e.getMessage}"; None
    }
    if (r.isEmpty) failed += 1
    r
  }

  // ---- stage tables -------------------------------------------------------

  private def stageBase = new File(StageStore.baseFor(corpus))

  private def committed(): Seq[String] =
    Option(stageBase.listFiles()).toSeq.flatten
      .filter(d => !d.getName.startsWith("_") && new File(d, "_SUCCESS").exists)
      .map(_.getName).sorted

  private def bytes(f: File): Long =
    if (f.isDirectory) f.listFiles().map(bytes).sum else f.length

  private def stageMb(names: Seq[String]): Double =
    names.map(n => bytes(new File(stageBase, n))).sum / 1e6

  /** Output rows per committed stage, from the stage store's own metrics. */
  private def stageRows(): Map[String, Long] =
    StageStore.metrics(spark, corpus).filter(col("name") === "output_rows")
      .collect().map(r => r.getString(0) -> r.getDouble(2).toLong).toMap

  private def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  private def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copy(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.COPY_ATTRIBUTES)

  /** The committed core holds exactly the 8 stages, with the recorded rows
    * per stage and the recorded edge count. */
  private def checkCore(what: String, edges: Long): Boolean = {
    val rows = stageRows()
    (Seq(check(committed() == CoreNames.sorted, s"$what: committed ${committed()}"),
      expect("edges", edges)) ++ CoreNames.map(s => expect(s"stage.$s", rows.getOrElse(s, -1L))))
      .forall(identity)
  }

  /** A cold build: wipe the corpus's stage base, then `Pipeline.runAll`
    * (traced: the 8 accessors one at a time in runAll's order, each in its
    * own span). Checks that it started with no committed stage and ended
    * with the recorded core. Returns the build's seconds if it passed. */
  private def coldBuild(span: String): Option[Double] = {
    rm(stageBase)
    check(committed().isEmpty, s"$span: a stage was committed before the cold build")
    op(span) {
      tracer.span(span) {
        if (!tracer.enabled) Pipeline.runAll(spark, corpus)
        else {
          // runAll's closing edge count belongs to the edges stage
          var edges = 0L
          CoreStages.foreach { case (stage, build) =>
            tracer.span(s"$span.$stage") {
              val df = build(spark, corpus)
              if (stage == "edges") edges = df.count()
            }
          }
          edges
        }
      }
    }(edges => checkCore(span, edges)).map(_._1)
  }

  /** Set-up of serve and append: the core committed by `prepare` (the one
    * stage base under its root), copied into this run's stage root and
    * checked. */
  private def restoreCore(): Unit = {
    val r0 = System.nanoTime()
    val prepared = Option(preparedStages.listFiles()).toSeq.flatten.filter(_.isDirectory)
    if (check(prepared.size == 1, s"expected one prepared stage base, found ${prepared.size}")) {
      copy(prepared.head, stageBase)
      checkCore("restored core", Pipeline.edges(spark, corpus).count())
    }
    setup("restore_s") = secs(r0)
  }

  /** Repeats `step` while the next repetition, taking as long as the last
    * one, would end within --seconds of `start`; runs it at least once. */
  private def timedLoop(start: Long)(step: => Unit): Unit = {
    var last = 0.0
    do {
      val s0 = System.nanoTime()
      step
      last = secs(s0)
    } while (secs(start) + last <= a.seconds)
  }

  // ---- modes --------------------------------------------------------------

  def execute(): Boolean = a.mode match {
    case "prepare" => prepare()
    case "record" => record()
    case "build" => finish(build())
    case "serve" => finish(serve())
    case "append" => finish(append())
  }

  /** Generates the fixed corpus and commits its core stages, in a process
    * of its own so that no measured process inherits its warm JIT. */
  private def prepare(): Boolean = {
    rm(fixed)
    Corpus.write(spark, corpus, CorpusSeed, CorpusSf)
    Pipeline.runAll(spark, corpus)
    Files.writeString(new File(fixed, "_DONE").toPath, s"seed=$CorpusSeed sf=$CorpusSf\n")
    true
  }

  /** Records the counts the checks compare against: core rows, edges and
    * every query's row count on the fixed corpus. */
  private def record(): Boolean = {
    restoreCore()
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      op(q)(SparkEntry.queries(q)(spark, corpus).queryExecution.toRdd.count())(
        rows => expect(s"query.$q", rows))
    }
    Files.writeString(Paths.get(a.expected),
      "# key<TAB>count on the fixed base corpus; written by `run.py --record`\n" +
        recorded.map { case (k, v) => s"$k\t$v\n" }.mkString)
    failures.foreach(f => System.err.println(s"[kgbench] $f"))
    failures.isEmpty
  }

  /** `build`: a cold build as warm-up (the first build in the process pays
    * for JIT compilation and code generation), then timed cold builds. */
  private def build(): Timed = {
    val w0 = System.nanoTime()
    val firstS = coldBuild("warmup").getOrElse(0.0)
    setup("warmup_s") = secs(w0)
    val setupS = secs(t0)
    val walls = mutable.ArrayBuffer.empty[Double]
    timedLoop(System.nanoTime())(coldBuild("build").foreach(walls += _))
    samples("build_s") = walls.toSeq
    Timed(setupS, walls.toSeq, firstS, walls.toSeq,
      expected.getOrElse("edges", 0L).toDouble * walls.size, stageMb(CoreNames))
  }

  /** `serve`: the first pass over the served queries (it builds their lazy
    * query-side stages), then warm passes for --seconds. */
  private def serve(): Timed = {
    restoreCore()
    val setupS = secs(t0)
    check(committed() == CoreNames.sorted,
      s"lazy stages were committed before the first pass: ${committed()}")
    val first = pass("serve.first")
    val lazyMb = stageMb(committed().filterNot(CoreNames.toSet))
    val warm = mutable.ArrayBuffer.empty[Seq[(String, Double, Long)]]
    timedLoop(System.nanoTime())(warm += pass("serve.warm"))

    samples("first_pass_s") = Seq(first.map(_._2).sum)
    samples("warm_pass_s") = warm.map(_.map(_._2).sum).toSeq
    queryTimes = Served.map(q => (q, first.find(_._1 == q).fold(-1.0)(_._2),
      warm.flatMap(_.find(_._1 == q)).map(_._2).toSeq))
    served = (first, warm.toSeq, lazyMb)
    Timed(setupS, warm.flatten.map(_._2).toSeq, first.map(_._2).sum,
      warm.map(_.map(_._2).sum).toSeq, warm.flatten.map(_._3).sum.toDouble, stageMb(committed()))
  }

  /** One pass over the served queries, each fully materialized
    * (`queryExecution.toRdd.count()`): (query, seconds, rows) of those that
    * ran and returned their recorded row count. */
  private def pass(name: String): Seq[(String, Double, Long)] =
    tracer.span(name) {
      Served.flatMap { q =>
        op(q) {
          tracer.span(s"serve.q.$q") {
            val df = tracer.span("serve.construct")(SparkEntry.queries(q)(spark, corpus))
            tracer.span("serve.plan")(df.queryExecution.executedPlan)
            tracer.span("serve.exec")(df.queryExecution.toRdd.count())
          }
        }(rows => expect(s"query.$q", rows)).map { case (s, rows) => (q, s, rows) }
      }
    }

  /** `append`: a closed loop with one client. Each batch of new
    * conversations goes through `Pipeline.appendBatch` on top of the
    * committed mentions/resolved; its triples are forced and checked
    * against the generator's own record. */
  private def append(): Timed = {
    restoreCore()
    val cm = Pipeline.mentions(spark, corpus)
    val cr = Pipeline.resolved(spark, corpus)
    val coreTriples = expected.getOrElse("stage.triples", 0L)
    var next = 0
    def batch(): Option[(Double, Long)] = {
      val b = AppendGen.batch(a.seed, next, BatchConvs, BatchTurns)
      val id = s"batch $next"
      next += 1
      val df = spark.createDataFrame(b.turns)
      op(id) {
        tracer.span("append.batch") {
          val (_, _, triples) = tracer.span("append.extract")(Pipeline.appendBatch(cm, cr, df))
          tracer.span("append.resolve_join")(triples.agg(count(lit(1)),
            collect_list(when(col("conv_id").startsWith(b.convPrefix), struct(
              col("conv_id"), col("turn_idx"), col("mention_idx"), col("hop"),
              col("subj"), col("pred"), col("obj"))))).head())
        }
      } { row =>
        val got = AppendGen.digest(row.getSeq[Row](1).map(r =>
          AppendGen.Triple(r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
            r.getString(4), r.getString(5), r.getString(6))))
        check(got == b.expected, s"$id: engine $got, generator ${b.expected}") &
          check(row.getLong(0) == coreTriples + b.expected.count,
            s"$id: ${row.getLong(0)} triples in all, expected $coreTriples + ${b.expected.count}")
      }.map { case (s, _) => (s, b.expected.count) }
    }
    val w0 = System.nanoTime()
    val firstS = (1 to WarmupBatches).map(_ => batch()).head.fold(0.0)(_._1)
    setup("warmup_s") = secs(w0)
    val setupS = secs(t0)
    val done = mutable.ArrayBuffer.empty[(Double, Long)]
    timedLoop(System.nanoTime())(batch().foreach(done += _))
    val lat = done.map(_._1).toSeq
    samples("batch_s") = lat
    Timed(setupS, lat, firstS, lat, done.map(_._2).sum.toDouble, stageMb(committed()))
  }

  // ---- per-layer metrics (traced run) -------------------------------------

  private def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile of a sample (0 for an empty one). */
  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = r.toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (r - lo)
    }

  private def layer(name: String, unit: String)(v: Double): Unit = layers(name) = (v, unit)

  /** Spans named `name` anywhere below `root`. */
  private def under(root: Span, name: String): Seq[Span] = {
    val kids = tracer.children(root)
    kids.filter(_.name == name) ++ kids.flatMap(under(_, name))
  }

  /** Build-stage layers from the timed builds; rows and MB are read from
    * the committed stages, which every workload has. */
  private def buildLayers(): Unit = {
    val builds = tracer.named("build")
    val wall = median(builds.map(_.seconds))
    layer("build.wall_s", "s")(wall)
    val rows = stageRows()
    val stageWalls = CoreNames.map { s =>
      val spans = builds.flatMap(under(_, s"build.$s"))
      val st = spans.map(tracer.stats)
      val w = median(spans.map(_.seconds))
      layer(s"build.$s.wall_s", "s")(w)
      layer(s"build.$s.rows", "count")(rows.getOrElse(s, 0L).toDouble)
      layer(s"build.$s.mb", "MB")(stageMb(Seq(s)))
      layer(s"build.$s.shuffle_mb", "MB")(median(st.map(_.shuffleBytes / 1e6)))
      layer(s"build.$s.spill_mb", "MB")(median(st.map(_.spillBytes / 1e6)))
      layer(s"build.$s.skew", "ratio")(median(st.map(_.skew)))
      layer(s"build.$s.jobs", "count")(median(st.map(_.jobs.toDouble)))
      w
    }
    layer("build.stage_cover", "ratio")(if (wall > 0) stageWalls.sum / wall else 0.0)
  }

  private def serveLayers(): Unit = {
    val (first, warm, lazyMb) = served
    def family(xs: Seq[(String, Double, Long)], f: String) =
      xs.filter(_._1.takeWhile(_ != '_') == f).map(_._2).sum
    Families.foreach { f =>
      layer(s"serve.$f.first_s", "s")(family(first, f))
      layer(s"serve.$f.warm_s", "s")(median(warm.map(family(_, f))))
    }
    val warmSpans = tracer.named("serve.warm")
    Seq("construct", "plan", "exec").foreach { p =>
      layer(s"serve.${p}_s", "s")(median(warmSpans.map(under(_, s"serve.$p").map(_.seconds).sum)))
    }
    val st = warmSpans.map(tracer.stats)
    layer("serve.jobs", "count")(median(st.map(_.jobs.toDouble)))
    layer("serve.tasks", "count")(median(st.map(_.tasks.toDouble)))
    layer("serve.lazy_stage_mb", "MB")(lazyMb)
    HeavyQueries.foreach { q =>
      layer(s"serve.q.$q.warm_s", "s")(median(warm.flatMap(_.filter(_._1 == q)).map(_._2)))
    }
  }

  private def appendLayers(): Unit = {
    val timed = tracer.named("append.batch").drop(WarmupBatches)
    def kids(n: String) = timed.flatMap(under(_, n)).map(_.seconds)
    layer("append.extract_s", "s")(median(kids("append.extract")))
    layer("append.resolve_join_s", "s")(median(kids("append.resolve_join")))
    val st = timed.map(tracer.stats)
    layer("append.corpus_read_mb", "MB")(median(st.map(_.inputBytes / 1e6)))
    layer("append.shuffle_mb", "MB")(median(st.map(_.shuffleBytes / 1e6)))
    layer("append.jobs", "count")(median(st.map(_.jobs.toDouble)))
  }

  // ---- output -------------------------------------------------------------

  /** What a workload measured: set-up seconds, the warm operation
    * latencies, the first (cold) pass, every warm pass, rows produced by
    * the warm passes, and committed stage MB at the end. */
  final case class Timed(setupS: Double, ops: Seq[Double], firstS: Double,
      passes: Seq[Double], rows: Double, stageMb: Double)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def finish(t: Timed): Boolean = {
    val e2e = Seq(
      ("setup_s", t.setupS, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("first_s", t.firstS, "s"),
      ("pass_s", median(t.passes), "s"),
      ("op_p50_s", median(t.ops), "s"),
      ("op_p90_s", pct(t.ops, 0.9), "s"),
      ("rows_per_s", if (t.passes.isEmpty) 0.0 else t.rows / t.passes.sum, "1/s"),
      ("stage_mb", t.stageMb, "MB"))
    if (tracer.enabled) {
      // every traced run reports every layer; a layer the workload does
      // not run reads 0
      buildLayers()
      serveLayers()
      appendLayers()
      Seq("session_s", "restore_s", "warmup_s").foreach(k =>
        layer(s"setup.$k", "s")(setup.getOrElse(k, 0.0)))
      e2e.foreach { case (k, v, u) => layer(s"traced.$k", u)(v) }
    }
    val correct = failures.isEmpty && failed == 0 && attempted > 0
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    def metrics(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s"""${Json.str(k)}:{"value":${num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val perLayer = layers.toSeq.map { case (k, (v, u)) => (k, v, u) }

    val side = mutable.LinkedHashMap[String, String](
      "mode" -> Json.str(a.mode), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString, "cores" -> a.cores.toString,
      "corpus" -> s"""{"seed":$CorpusSeed,"sf":$CorpusSf}""",
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "setup" -> obj(setup.map { case (k, v) => k -> v.toString }),
      "samples" -> obj(samples.map { case (k, v) => k -> v.mkString("[", ",", "]") }),
      "queries" -> obj(queryTimes.map { case (q, f, w) =>
        q -> s"""{"first_s":$f,"warm_s":${w.mkString("[", ",", "]")}}""" }),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(perLayer),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"))
    if (tracer.enabled) side("spans") = tracer.toJson
    Files.writeString(Paths.get(a.sidecar), obj(side) + "\n")
    failures.foreach(f => System.err.println(s"[kgbench] check failed: $f"))
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${metrics(if (tracer.enabled) perLayer else e2e)}}""")
    correct
  }

  def close(): Unit = spark.stop()
}
