package graft.graph

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{Lineage, Metric}

/** Checkpointed stage tables: every pipeline stage is materialized to a
  * parquet table exactly once and re-read by all consumers.
  *
  * This is the north rule's "resumable from checkpoint" requirement (and
  * the Spark-native replacement for the reference's by-hand pickle
  * checkpoints, /root/reference/README.md:121-136): a stage whose output
  * table already exists (atomic `_SUCCESS` commit) is skipped on re-run,
  * so a failed/killed pipeline resumes from the last completed stage
  * without recomputation. On a real cluster the same code targets Iceberg
  * tables; parquet directories with `_SUCCESS` carry the equivalent
  * snapshot-commit semantics in this sandbox (SURVEY.md §7.0).
  *
  * A stage commits in one rename (see `commit`), together with its
  * per-partition lineage and stage metrics — the north rule's
  * observability requirement. Layout:
  * {{{
  *   <root>/<base>/<stage>/part-*.parquet, _SUCCESS, _observability.tsv
  *   <root>/<base>/_<stage>-<uuid>/<stage>/   (a commit in flight)
  * }}}
  * `lineage` and `metrics` read the committed stages' observability
  * files, so a stage has lineage exactly when it is committed, and one
  * set of it.
  */
object StageStore {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Newest modification time across all compiled graft classes (classes
    * dir) or the containing jar's mtime (spark-submit). Any recompile
    * invalidates the cache key below, so stale stage checkpoints cannot
    * survive code changes to ANY stage's logic — not just the grammar.
    * Resume still works across JVM runs of the same build. */
  private def codeStamp: String = try {
    val src = getClass.getProtectionDomain.getCodeSource.getLocation.toURI
    val root = new java.io.File(src)
    if (root.isDirectory) {
      def newest(f: java.io.File): Long =
        if (f.isDirectory) (0L +: f.listFiles().toSeq.map(newest)).max
        else f.lastModified
      val graftDir = new java.io.File(root, "graft")
      newest(if (graftDir.exists) graftDir else root).toString
    } else root.lastModified.toString // packaged jar
  } catch { case _: Throwable => "unknown" }

  /** Logic fingerprint for the stage-cache key: grammar + derivation text
    * (semantic identity) plus the build stamp (catches changes those
    * strings don't — e.g. resolver/versioning edits). */
  val logicVersion: String = md5hex(Seq(
    "v4",
    graft.extract.Extract.Grammar.defRe,
    graft.extract.Extract.Grammar.aliasRe,
    graft.extract.Extract.Grammar.linkRe,
    graft.extract.Extract.Grammar.chainRe,
    graft.sources.Transcripts.fromTpchOracleSql,
    codeStamp).mkString("|")).take(8)

  def root: String = sys.props.getOrElse("graft.stage.dir",
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_stages")

  /** Fingerprint of the input data itself (path+mtime+size of every file
    * under the corpus dir, full recursive walk — partitioned parquet
    * rewritten at depth >= 3 must invalidate too). Regenerating the
    * parquet at the same path invalidates the stage cache — without this,
    * getOrCreate would silently serve stage tables computed from the OLD
    * data. An unreadable input dir stamps a never-cache-hitting nonce
    * instead of a constant: serving a stale stage table on IO failure is
    * the exact bug the stamp exists to prevent, so degrade to "always
    * recompute" (with a LOUD warning — an operator should see that every
    * run is writing a fresh stage directory), never to "silently reuse".
    *
    * Memoized per (inputKey, JVM): the walk is an O(total-files)
    * driver-side listing, and every baseFor/getOrCreate call repeated it
    * (VERDICT r03 advice) — one stamp per corpus per process is enough,
    * since a driver run reads one corpus snapshot (an input mutated
    * mid-JVM is re-stamped on the next process, exactly like a stage
    * table committed mid-JVM). */
  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Drop the memoized input stamps: a LONG-LIVED driver (notebook/test
    * JVM) that regenerates an input corpus at the same path must call
    * this before re-querying, or getOrCreate will keep serving stage
    * tables keyed by the pre-rewrite stamp — the memoization trades that
    * (explicit, documented) hazard for not re-walking the corpus
    * directory on every stage access. */
  def invalidateStampCache(): Unit = stampCache.clear()

  private def inputStamp(inputKey: String): String = {
    val cached = stampCache.get(inputKey)
    if (cached != null) return cached
    try {
      val rootF = new java.io.File(inputKey)
      // an ABSENT path must take the nonce path, not the success path:
      // walk() would otherwise stamp the constant "<path>:0:0," and
      // memoize it — then a corpus appearing (or an NFS mount returning)
      // later in the JVM could never change the stamp, the exact
      // silent-stale-reuse mode the nonce exists to prevent
      if (!rootF.exists())
        throw new java.io.FileNotFoundException(inputKey)
      val sb = new StringBuilder
      def walk(f: java.io.File): Unit =
        if (f.isDirectory)
          f.listFiles().sortBy(_.getName).foreach(walk)
        else sb.append(f.getPath).append(':')
          .append(f.lastModified).append(':').append(f.length).append(',')
      walk(rootF)
      val stamp = sb.toString
      // only SUCCESSFUL walks are memoized: pinning a failure nonce for
      // the JVM would silently reuse stage tables committed under it
      // after a transient listFiles failure (VERDICT r04 advice) — a
      // fresh per-call nonce restores "never silently reuse on IO error"
      stampCache.putIfAbsent(inputKey, stamp)
      stamp
    } catch {
      case e: Throwable =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"StageStore: input '$inputKey' unreadable (${e.getClass.getSimpleName}); " +
            "stamping a run-unique nonce — every stage recomputes into a " +
            "fresh directory until the input is readable")
        s"unreadable-${System.nanoTime()}"
    }
  }

  def baseFor(inputKey: String): String =
    s"$root/${md5hex(inputKey + "|" + inputStamp(inputKey) + "|" + logicVersion).take(16)}"

  /** Storage backend (parquet here; Iceberg on a cluster — see TableIO). */
  val io: TableIO = ParquetTableIO

  /** Observability file of a stage directory; the leading `_` hides it
    * from table readers, as it does `_SUCCESS`. */
  private val ObsFile = "_observability.tsv"

  /** Materialize `build` at `<base>/<stage>` unless already committed;
    * return a reader of the committed table. */
  def getOrCreate(spark: SparkSession, inputKey: String, stage: String)(
      build: => DataFrame): DataFrame = {
    val dir = s"${baseFor(inputKey)}/$stage"
    if (!io.exists(spark, dir)) commit(spark, stage, dir, build)
    io.read(spark, dir)
  }

  /** Commits one stage in one rename:
    *   1. write the table to `<base>/_<stage>-<uuid>/<stage>`, inside a
    *      sibling of the stage path;
    *   2. run the rollup job over the staged table for lineage and metrics;
    *   3. the driver writes them next to the staged data as [[ObsFile]];
    *   4. `io.publish` renames the staged table to the stage path, so
    *      data, `_SUCCESS` and observability appear together or not at all.
    * A writer that loses a race for the stage path (the rename finds the
    * stage already there) discards its sibling, and the caller reads the
    * winner's table. A build that throws leaves no stage directory and no
    * observability; its sibling is removed here, or, if the process dies,
    * left behind under a `_` name that no reader lists. */
  private def commit(spark: SparkSession, stage: String, dir: String,
      build: => DataFrame): Unit = {
    // the table sits one level down in the sibling: readers skip a path
    // whose own name starts with `_`, and the rollup must read the table
    val sibling = new Path(new Path(dir).getParent, s"_$stage-${UUID.randomUUID()}")
    val staged = new Path(sibling, stage)
    val fs = sibling.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val t0 = System.nanoTime()
      io.overwrite(build, staged.toString)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val out = fs.create(new Path(staged, ObsFile), false)
      try out.write(observe(spark, staged.toString, wallMs).getBytes(UTF_8))
      finally out.close()
      io.publish(spark, staged.toString, dir)
    } finally fs.delete(sibling, true)
  }

  /** Per-partition lineage + stage metrics of the table at `dir`, as the
    * lines of [[ObsFile]]: `lineage<TAB>partition_id<TAB>output_rows<TAB>
    * wall_ms` and `metric<TAB>name<TAB>value`. ONE distributed pass: a
    * rollup on spark_partition_id yields the per-partition counts
    * (lineage) AND the grand-total row (metrics) in a single job (guide
    * §1.2: don't compute things twice). The rollup's total grouping merges
    * the same HLL sketches a direct global aggregate would. */
  private def observe(spark: SparkSession, dir: String, wallMs: Long): String = {
    val out = io.read(spark, dir)
    val hasConv = out.columns.contains("conv_id")
    val aggCols = count(lit(1)).as("output_rows") +:
      (if (hasConv) Seq(approx_count_distinct(col("conv_id")).as("_convs"))
       else Nil)
    val all = out
      .select((col("*") +: Seq(spark_partition_id().as("partition_id"))): _*)
      .rollup(col("partition_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    val (totals, perPid) = all.partition(_.isNullAt(0))
    val parts = perPid.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val rows = parts.map(_._2).sum
    // entity/conversation cardinality estimate (SURVEY §2.6: metrics use
    // approx_count_distinct — exact distinct would be a full shuffle)
    val approx =
      if (hasConv) Seq("approx_distinct_convs" -> totals.head.getLong(2).toDouble)
      else Nil
    val metrics = Seq(
      "output_rows" -> rows.toDouble,
      "wall_ms" -> wallMs.toDouble,
      "rows_per_sec" -> (if (wallMs > 0) rows * 1000.0 / wallMs else 0.0)) ++ approx
    (parts.map { case (pid, n) => s"lineage\t$pid\t$n\t$wallMs\n" } ++
      metrics.map { case (name, v) => s"metric\t$name\t$v\n" }).mkString
  }

  /** (stage, fields) of every line of every committed stage's
    * [[ObsFile]] under the input's base, read by the driver. */
  private def observations(spark: SparkSession,
      inputKey: String): Seq[(String, Array[String])] = {
    val base = new Path(baseFor(inputKey))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil
    fs.listStatus(base).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && fs.exists(new Path(p, ObsFile)))
      .sortBy(_.getName)
      .flatMap { p =>
        val in = fs.open(new Path(p, ObsFile))
        val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
        text.linesIterator.map(l => (p.getName, l.split("\t"))).toSeq
      }
  }

  def lineage(spark: SparkSession, inputKey: String): DataFrame =
    spark.createDataFrame(observations(spark, inputKey).collect {
      case (stage, Array("lineage", pid, rows, ms)) =>
        Lineage(stage, pid.toInt, rows.toLong, ms.toLong)
    })

  def metrics(spark: SparkSession, inputKey: String): DataFrame =
    spark.createDataFrame(observations(spark, inputKey).collect {
      case (stage, Array("metric", name, v)) => Metric(stage, name, v.toDouble)
    })
}
