package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, min}

import graft.sources.Transcripts
import graft.extract.Extract
import graft.link.Resolve
import graft.triples.Triples
import graft.canonical.Canonical
import graft.ops.{Clustering, Dedup}
import graft.version.Versions

/** The staged KG-construction dataflow, and the one place where stages
  * are declared: every `StageStore.getOrCreate` call is in this file, and
  * the query modules read stages only through the accessors below. Every
  * stage reads the *committed table* of its upstream stage (not its
  * plan), so:
  *   - each stage computes exactly once per input corpus (no re-derivation
  *     across the many consumers of `mentions`/`resolved`);
  *   - a killed run resumes at the first uncommitted stage;
  *   - per-stage lineage/metrics commit inside each stage's table
  *     directory (StageStore).
  *
  * Stage DAG (reference lifecycle, SURVEY.md §3.1). `runAll` builds the 8
  * core stages; a stage marked (lazy) is built by the first query that
  * reads it:
  * {{{
  *   corpus -> mentions +-> resolved +-> triples -> edges
  *                      |            +-> minted_nodes
  *                      +-> nodes -----> triples, minted_nodes, edges
  *                      |     +-> pyg_local (lazy)
  *                      +-> version_nodes -> version_edges
  *   corpus -> transcripts (lazy) -> hier_nodes (lazy)
  *   embeddings -> node_clusters (lazy) -> ensemble (lazy)
  *   documents +-> decontam_hits (lazy)
  *             +-> dup_pairs_t<ppm> (lazy) -> dup_clusters_t<ppm> (lazy)
  *             +-> dup_index (lazy)
  * }}}
  * Why lazy:
  *   - `transcripts`: committing it on the mentions path measured ~30 s
  *     against ~11 s for the fused derivation + extraction at sf0.1, so
  *     extraction does not read it and the build does not write it
  *     (BENCH.md §1c);
  *   - the other lazy stages serve queries only; building them in
  *     `runAll` would move their cost onto every build, including builds
  *     that serve no query.
  */
object Pipeline {

  /** Committed stage table for the 7 transcript-consuming QUERIES (turn
    * roles, hierarchy x2, segments x2, turn edges, transcript dump),
    * which would otherwise each re-run the orders⋈lineitem join +
    * per-order window — measured ~31s of the 84s query total at sf0.1
    * (VERDICT r02 #3). Consumers filtering turn_idx (Hierarchy) get
    * parquet pushdown off the committed table instead of a full
    * re-derivation. Lazy (see the header): extraction keeps the fused
    * derivation + regex plan. In a real deployment transcripts ARE the
    * input table; this stage exists only because the sandbox derives
    * them. */
  def transcripts(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "transcripts") {
      Transcripts.fromTpch(spark, sfDir)
    }

  def mentions(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "mentions") {
      Extract.mentions(Transcripts.fromTpch(spark, sfDir))
    }

  /** Hierarchy node table (corpus/month/conv leaves with dense bucketed
    * IDs): four query consumers (hierarchy nodes + edges, the
    * conv→entity bridge, config rows) would otherwise each re-run the
    * turn-0 projection and both bucketed-ID passes. A tiny table (one
    * row per conversation + folders), so the stage write is cheap and
    * every consumer after the first reads parquet. */
  def hierNodes(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "hier_nodes") {
      Hierarchy.nodes(transcripts(spark, sfDir))
    }

  def resolved(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "resolved") {
      Resolve.resolved(mentions(spark, sfDir))
    }

  def entityNames(spark: SparkSession, sfDir: String): DataFrame =
    Triples.entityNames(mentions(spark, sfDir))

  /** Append-only incremental build over a NEW batch of conversations.
    *
    * Extraction and resolution are conversation-local (every window and
    * join keys on conv_id), so the new batch is processed ALONE and
    * unioned with the committed stage tables — the existing corpus is
    * never re-derived. The only whole-corpus step is the vocabulary
    * semi-join (a relation in an old conversation may name an entity the
    * new batch just defined), which re-runs as ONE hash semi-join over
    * the unioned tables — the 100 TB cost of an append is
    * O(new batch) + one join, not O(corpus).
    *
    * Dense IDs are deliberately NOT incremental: the bucketed assigner
    * re-keys from the unioned triple set downstream (a new name shifts
    * its bucket's sequence — stable IDs across appends would need an ID
    * ledger, a different contract than the reference's rebuild-world
    * semantics, knowledge_graph.py rebuilds all IDs per run too).
    * Returns (mentions, resolved, triples) over the combined corpus. */
  def appendBatch(committedMentions: DataFrame, committedResolved: DataFrame,
      newTranscripts: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // materialize the new batch's extraction ONCE — it feeds three arms
    // (mention union, resolve, vocabulary) and regex extraction is the
    // expensive step; a production append would StageStore-commit it,
    // matching the rest of this module
    val nm = Extract.mentions(newTranscripts).localCheckpoint()
    val m = committedMentions.unionByName(nm)
    val r = committedResolved.unionByName(Resolve.resolved(nm))
    (m, r, Triples.knownOnly(r, Triples.entityNames(m)))
  }

  def nodes(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "nodes") {
      Canonical.nodes(entityNames(spark, sfDir))
    }

  /** The entity vocabulary for the triple-forming joins is read from the
    * COMMITTED nodes table (one row per name by construction), not
    * re-derived: entityNames is a distinct over the full entity_def
    * mention stream — one corpus-sized shuffle — and deriving it again
    * here and in mintedNodes would run that shuffle three times per
    * pipeline instead of once (inside the nodes stage). */
  def triples(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "triples") {
      Triples.knownOnly(resolved(spark, sfDir),
        nodes(spark, sfDir).select("canonical_name"))
    }

  def mintedNodes(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "minted_nodes") {
      Canonical.mintedNodes(
        nodes(spark, sfDir),
        Triples.mintedNames(resolved(spark, sfDir),
          nodes(spark, sfDir).select("canonical_name")))
    }

  def edges(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "edges") {
      Canonical.edges(triples(spark, sfDir), nodes(spark, sfDir))
    }

  def versionNodes(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "version_nodes") {
      Versions.versionNodes(mentions(spark, sfDir))
    }

  def versionEdges(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "version_edges") {
      Versions.versionEdges(versionNodes(spark, sfDir))
    }

  /** Per-type contiguous local index shared by the PyG export pair —
    * committed so the eager two-phase assignment (checkpoint +
    * count-collect + window) runs once, not once per consuming query. */
  def pygLocal(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "pyg_local") {
      Canonical.denseIdsBucketedBy(nodes(spark, sfDir), "node_type")
    }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** 8-gram decontamination hits (doc_id, n_hits) for the standard
    * benchmark split (doc_id % 100 == 0): three queries (doc_decontam,
    * doc_source_stats, doc_clean_corpus) share it instead of each
    * re-shingling the training corpus (VERDICT r05 #4). */
  def decontamHits(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "decontam_hits") {
      val d = documents(spark, sfDir)
      Dedup.decontaminate(d, d.filter(col("doc_id") % 100 === 0))
        .select(col("doc_id").cast("long").as("doc_id"), col("n_hits"))
    }

  /** Single-Lloyd clustering (vec_id, cluster): the kg_cluster_* and the
    * emb_* consumers share one Lloyd chain per corpus instead of each
    * re-running assignment + means + reassignment (VERDICT r03 #6). */
  def nodeClusters(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "node_clusters") {
      Clustering.lloydStep(embeddings(spark, sfDir))
    }

  /** Two-member ensemble co-assignment: member A is the committed
    * node_clusters table (seed window 0), member B the seed-8 Lloyd
    * chain; emb_cluster_ensemble and emb_cluster_align both read it, so
    * the two chains run once per corpus. Joined per vector exactly as
    * Clustering.ensemble (both sides distinct per vec_id). */
  def ensemble(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "ensemble") {
      val k = 8
      val a = nodeClusters(spark, sfDir).withColumnRenamed("cluster", "cluster_a")
      val b = Clustering.lloydStep(embeddings(spark, sfDir), k, seedFrom = k)
        .withColumnRenamed("cluster", "cluster_b")
      a.join(b, Seq("vec_id"))
        .select(col("vec_id"), col("cluster_a"), col("cluster_b"),
          (col("cluster_a") * k + col("cluster_b")).as("consensus_key"))
    }

  /** The threshold is part of the pair semantics, so it is part of the
    * stage name: without it a 0.7-threshold caller after a 0.5 run would
    * silently read 0.5-threshold pairs. */
  private def thresholdTag(threshold: Double): String =
    s"t${math.round(threshold * 1e6)}"

  /** Verified near-dup pairs (a, b, jaccard) over the exact-dup
    * representatives (Dedup.dupClustersWithPairs): the
    * minhash -> candidates -> verify chain runs once per corpus, and the
    * cluster collapse re-reads the committed table (VERDICT r04 #5). */
  private def dupPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame =
    StageStore.getOrCreate(spark, sfDir, s"dup_pairs_${thresholdTag(threshold)}") {
      Dedup.dupClustersWithPairs(documents(spark, sfDir), null,
        threshold = threshold)._1
    }

  /** Dedup.dupClusters over the committed [[dupPairs]]: warm callers pay
    * one table read, no digest re-derivation and no CC rounds. */
  def dupClusters(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame =
    StageStore.getOrCreate(spark, sfDir, s"dup_clusters_${thresholdTag(threshold)}") {
      Dedup.dupClustersWithPairs(documents(spark, sfDir),
        dupPairs(spark, sfDir, threshold), threshold = threshold)._2
    }

  /** Near-dup index of the corpus: the minhash band buckets of its
    * exact-dup representatives (the same pre-collapse as
    * Dedup.dupClustersWithPairs — identical texts index once). Index
    * once, probe incrementally with Dedup.checkAgainstIndex. */
  def dupIndex(spark: SparkSession, sfDir: String): DataFrame =
    StageStore.getOrCreate(spark, sfDir, "dup_index") {
      val docs = documents(spark, sfDir)
      val reps = docs
        .select(col("doc_id"), Dedup.exactDupKey(col("doc_id"), col("text")).as("_h"))
        .groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      Dedup.minhashBuckets(docs.join(reps, Seq("doc_id")))
    }

  /** Run every stage to completion (idempotent / resumable). The two
    * branches downstream of `mentions` are independent — the resolve
    * chain (resolved -> nodes -> triples -> minted -> edges) and the
    * version chain (version_nodes -> version_edges) — so they run as
    * concurrent jobs from two driver threads (guide §2.6 "overlap
    * independent jobs"): the version chain's tasks back-fill executor
    * cores left idle by the resolve chain's stage tails, instead of
    * serializing ~3 s of version work after the edge count. Stage
    * ordering WITHIN each branch is unchanged, so per-stage recorded
    * walls still cover their own work (modulo shared-host concurrency,
    * which the lineage rows disclose). Returns the emitted edge count. */
  def runAll(spark: SparkSession, sfDir: String): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    mentions(spark, sfDir)
    val versionBranch = Future {
      versionNodes(spark, sfDir)
      versionEdges(spark, sfDir)
    }
    resolved(spark, sfDir)
    nodes(spark, sfDir)
    triples(spark, sfDir)
    mintedNodes(spark, sfDir)
    val e = edges(spark, sfDir).count()
    Await.result(versionBranch, Duration.Inf)
    e
  }

  /** spark-submit entry point: `graft.graph.Pipeline <sfDir>`. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local(graft.Session.cpus(), "WARN")
    val t0 = System.nanoTime()
    val nEdges = runAll(spark, sfDir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"pipeline":"kg","sfDir":"$sfDir","edges":$nEdges,"sec":$sec,"triples_per_sec":${nEdges / sec}}""")
    StageStore.metrics(spark, sfDir).show(100, truncate = false)
    spark.stop()
  }
}
