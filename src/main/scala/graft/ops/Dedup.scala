package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All hashing is md5-hex based so the DuckDB oracle can reproduce results
  * bit-for-bit (engine-native hash functions differ between engines);
  * lexicographic minima over hex strings are order-free and associative,
  * i.e. map-side combinable — the property that matters at 100 TB.
  */
object Dedup {

  /** Shingles over an already-materialized words-array COLUMN. Higher-order
    * functions evaluate their lambda interpreted, re-computing any
    * non-attribute subtree once per element — so `w` must be a bound
    * attribute (project `split(text)` in a previous select), never the
    * `split` expression itself (measured ~250 redundant splits/doc
    * otherwise). `orig` is the fallback single shingle for texts shorter
    * than n words. */
  def shinglesOfWords(w: Column, orig: Column, n: Int): Column =
    when(size(w) >= n,
      transform(
        sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
      .otherwise(array(orig))

  /** Word n-gram shingles of a text column (assumes >= n words, falls back
    * to the whole text otherwise). Convenience form for per-row use on
    * SMALL inputs (candidate verification); corpus-scale paths go through
    * [[shinglesOfWords]] with a materialized words column. */
  def shingles(text: Column, n: Int): Column =
    shinglesOfWords(split(text, " "), text, n)

  /** One minhash value: lexicographic min of md5(seed || '|' || shingle).
    * A distinct min-wise hash per seed.
    *
    * NOTE: as a nested higher-order expression this evaluates the whole
    * shingle subtree per seed and resists codegen — fine for a handful of
    * short arrays, pathological over a corpus. The corpus-scale path is
    * [[minhashSignatures]] (identical md5 values, ~180x faster). */
  def minhash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => md5(concat(lit(s"$seed|"), s))))

  /** MinHash signatures at corpus scale: explode the distinct shingles once
    * and compute all k signatures as codegen'd `min(md5(seed || shingle))`
    * aggregates grouped by doc id — one shuffle, map-side combinable (min
    * is associative), linear in total shingle count. Emits one row per doc:
    * (idCol, <prefix>0 .. <prefix>{k-1}). Values are bit-identical to
    * [[minhash]] (min over duplicates == min over distinct). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int, k: Int, prefix: String = "m"): DataFrame = {
    // words materialized as an attribute BEFORE the shingle lambda (see
    // shinglesOfWords: a non-attribute subtree re-evaluates per element).
    // STRICT n-grams (the decontaminate/repetition rule, applied family-
    // wide): a doc with fewer than `ngram` words has no n-gram and emits
    // no signature — every shingle-CTE oracle already drops such docs,
    // so the whole-text fallback was a latent cross-engine desync that
    // only the corpus's word-count convention papered over
    val words = docs.select(col(idCol), col(textCol).as("_t"),
      split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= ngram)
    val sh = words.select(col(idCol),
      explode(array_distinct(shinglesOfWords(col("_w"), col("_t"), ngram))).as("_sg"))
    val aggs = (0 until k).map(s =>
      min(md5(concat(lit(s"$s|"), col("_sg")))).as(s"$prefix$s"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact dedup: group identical texts, keep the minimum id as the
    * canonical representative (hash-groupBy; one shuffle on the digest). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Grouping key of the exact-dup representatives that every near-dup
    * chain collapses to (min id per key). A doc with fewer than 3 words
    * (the chain's ngram) has NO minhash signature, so the all-docs chain
    * can never pair it: the md5 digest only groups docs that CAN carry a
    * signature, and shorter docs get a per-doc unique key (ADVICE r05:
    * the unconditional md5 grouped identical short docs under a min-id
    * rep with keep = 0 — a latent cross-engine desync only the corpus's
    * >= 10-word convention hid). */
  def exactDupKey(id: Column, text: Column): Column =
    when(size(split(text, " ")) >= 3, md5(text))
      .otherwise(concat(lit("short|"), id.cast("string")))

  /** Streaming exact dedup: first-seen text wins within the watermark
    * horizon (`dropDuplicatesWithinWatermark` keyed by the content
    * digest). Dedup state is bounded by the watermark delay — the
    * property that matters for an unbounded ingest (a plain
    * dropDuplicates would grow state forever). The digest is the same
    * md5 the batch [[exact]] groups by, so batch and streaming dedup
    * agree on what "identical" means. */
  def streamingExact(docs: DataFrame, tsCol: String = "ts",
      delay: String = "10 minutes", textCol: String = "text"): DataFrame =
    docs.withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("text_hash")

  /** MinHash signatures + LSH band buckets: k hashes, k/rowsPerBand bands;
    * docs sharing any (band, bucket) are near-dup candidates. Returns one
    * row per (doc, band). */
  def minhashBuckets(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3, k: Int = 8,
      rowsPerBand: Int = 2): DataFrame =
    bandsOf(minhashSignatures(docs, idCol, textCol, ngram, k), idCol, k,
      rowsPerBand)

  /** LSH band buckets of a signature frame (idCol, m0..m{k-1}) — one
    * pass: a union of per-band selects would recompute the signature
    * subtree once per band (same trap Transcripts.fromTpch avoids). */
  private def bandsOf(withSig: DataFrame, idCol: String, k: Int,
      rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).cast("long").as("band"), md5(concat(parts: _*)).as("bucket"))
    }
    withSig
      .select(col(idCol), inline(array(bandStructs: _*)))
      .select(col(idCol), col("band"), col("bucket"))
  }

  /** Candidate near-dup pairs: same (band, bucket), a < b, deduped across
    * bands.
    *
    * Degenerate-bucket cap: a (band, bucket) holding B docs emits B^2/2
    * rows from the self-join — AQE skew-split spreads the shuffle but
    * cannot shrink the quadratic OUTPUT, so one boilerplate-heavy shard
    * (millions of near-identical docs sharing a bucket) explodes at scale.
    * Buckets above `maxBucket` are therefore star-collapsed: every member
    * pairs with the bucket's min-id representative only (B-1 rows, linear).
    * An oversized LSH bucket is by construction a near-duplicate clique,
    * so connecting members through the representative preserves dedup
    * semantics (the downstream union-find/grouping closes the clique);
    * only sub-threshold false-positive members lose their direct pair,
    * which exact-Jaccard verification would have discarded anyway. */
  def candidatePairs(buckets: DataFrame, idCol: String = "doc_id",
      maxBucket: Int = 1000): DataFrame = {
    val sized = buckets
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_rep"))
    val withSz = buckets.join(sized, Seq("band", "bucket"))
    val small = withSz.filter(col("_n") <= maxBucket)
    val a = small.select(col("band"), col("bucket"), col(idCol).as("a"))
    val b = small.select(col("band"), col("bucket"), col(idCol).as("b"))
    val full = a.join(b, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    val star = withSz.filter(col("_n") > maxBucket && col(idCol) =!= col("_rep"))
      .select(col("_rep").as("a"), col(idCol).as("b"))
    full.unionByName(star).distinct()
  }

  /** Verify candidates with exact shingle-set Jaccard; keeps pairs with
    * similarity >= threshold. */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text", ngram: Int = 3): DataFrame = {
    // strict n-grams (see minhashSignatures) — a sub-ngram doc can never
    // be a candidate (it has no signature), so the filter only keeps the
    // verify side consistent with the generation side
    val withSh = docs
      .select(col(idCol), col(textCol).as("_t"), split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= ngram)
      .select(col(idCol),
        array_distinct(shinglesOfWords(col("_w"), col("_t"), ngram)).as("sh"))
    pairs
      .join(withSh.select(col(idCol).as("a"), col("sh").as("sha")), "a")
      .join(withSh.select(col(idCol).as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("uni", (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Near-duplicate clusters — the collapse step a dedup pass runs after
    * pair generation: verified near-dup pairs become edges of an
    * undirected similarity graph, connected components assign every doc a
    * `dup_group` (the min doc id of its group, singletons included), and
    * `keep = 1` marks the canonical representative a dedup pass would
    * retain. Pair generation is the bucketed LSH path (never all-pairs)
    * and the CC loop is O(log n) rounds of key-partitioned joins — both
    * 100 TB-safe. The default threshold 1/2 is decided on integers in the
    * oracle (3·inter >= |A|+|B|), so engines agree exactly. */
  def dupClusters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.5): DataFrame =
    dupClustersWithPairs(docs, null, idCol, textCol, threshold)._2

  /** [[dupClusters]] plus the representative-level verified pair frame it
    * used (exposed so Pipeline.dupClusters can commit exactly the pairs
    * the collapse consumed). `stagedPairs` non-null short-circuits the
    * pair derivation with a committed table.
    *
    * EXACT-DUP PRE-COLLAPSE (measured at sf10, BENCH §1e): identical
    * texts — the dominant duplicate class in a web-scale corpus — first
    * collapse to their min-id representative via the same md5 digest
    * [[exact]] groups by; the minhash -> candidates -> verify chain then
    * runs over DISTINCT TEXTS only. Without this, an exact-dup clique of
    * size m sits in one LSH bucket and emits m²/2 candidate pairs per
    * band UNDER the star-collapse cap (the cap only bites above
    * maxBucket) — candidate volume grows quadratically in the
    * duplication factor while the distinct-text count stays flat
    * (doc_dup_clusters drew 247 s of its sf10 wall from intra-clique
    * candidates). Results are IDENTICAL to the all-docs chain: an exact
    * dup has Jaccard 1 with its representative, so jaccard(a, b) =
    * jaccard(rep(a), rep(b)) and every pair decision — and therefore
    * every connected component — is unchanged; members inherit their
    * representative's component through the digest join, and the group
    * minimum is always a representative (each rep is the min of its
    * exact group).
    *
    * Exact-dup groups are keyed by [[exactDupKey]], so identical
    * sub-ngram docs stay singletons (keep = 1, dup_group = own id),
    * exactly as the full-graph oracle leaves them. */
  private[graft] def dupClustersWithPairs(docs: DataFrame, stagedPairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5): (DataFrame, DataFrame) = {
    val withHash = docs.select(col(idCol), col(textCol),
      exactDupKey(col(idCol), col(textCol)).as("_h"))
    val reps = withHash.groupBy(col("_h")).agg(min(col(idCol)).as("_rep"))
    val repDocs = docs.join(
      reps.select(col("_rep").as(idCol)), Seq(idCol))
    val pairs = Option(stagedPairs)
      .getOrElse(verifiedPairs(repDocs, idCol, textCol, threshold))
    val comp = graft.canonical.ConnectedComponents.runWithNodes(
      reps.select(col("_rep").cast("long").as("id")),
      pairs.select(col("a").cast("long").as("src"),
        col("b").cast("long").as("dst")))
    val out = withHash.join(reps, Seq("_h"))
      .join(comp, col("_rep").cast("long") === col("id"))
      .select(col(idCol), col("component").as("dup_group"),
        (col(idCol).cast("long") === col("component")).cast("long").as("keep"))
    (pairs, out)
  }

  /** The verified near-dup pair set (a, b, jaccard): minhash -> LSH
    * candidates -> exact-Jaccard verification — the expensive 3-stage
    * derivation in front of any collapse/sampling consumer.
    *
    * ONE shingle derivation (split + n-gram + distinct) feeds BOTH the
    * signature chain and the Jaccard verification: the previous
    * composition re-derived the per-doc shingle arrays inside
    * verifyJaccard, and candidatePairs' two bucket consumers (size table
    * + join-back) re-executed the whole signature chain a second time —
    * three corpus text passes where one suffices (guide §1.2 "don't
    * compute things twice"). The shingle-array and bucket frames are
    * localCheckpointed (executor-local memory+disk); a production-scale
    * deployment would commit them as stage tables instead. Values are
    * bit-identical to the previous chain (same shingles, same seeded
    * minima, same bands). */
  def verifiedPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.5): DataFrame = {
    val ngram = 3; val k = 8; val rowsPerBand = 2
    val withSh = docs
      .select(col(idCol), col(textCol).as("_t"), split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= ngram)
      .select(col(idCol),
        array_distinct(shinglesOfWords(col("_w"), col("_t"), ngram)).as("sh"))
      .localCheckpoint()
    val sh = withSh.select(col(idCol), explode(col("sh")).as("_sg"))
    val aggs = (0 until k).map(s =>
      min(md5(concat(lit(s"$s|"), col("_sg")))).as(s"m$s"))
    val withSig = sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val buckets = bandsOf(withSig, idCol, k, rowsPerBand).localCheckpoint()
    candidatePairs(buckets, idCol)
      .join(withSh.select(col(idCol).as("a"), col("sh").as("sha")), "a")
      .join(withSh.select(col(idCol).as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("uni", (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Train↔eval decontamination — the n-gram-overlap scrub every LLM
    * training pipeline runs before training (flag training docs sharing
    * any word n-gram with a benchmark/eval set; 8-grams here, the
    * GPT-3/PaLM-style window). Both sides shingle once (explode +
    * distinct, md5 keys); the eval side is a benchmark — tiny by
    * construction — so the membership join is size-gated (broadcast
    * below the gate, AQE above); the training corpus streams through
    * exactly once. Output: one row per CONTAMINATED training doc with
    * its distinct-hit count (callers left-join to keep clean docs).
    *
    * STRICT n-grams: a doc with fewer than `ngram` words has no n-gram
    * and contributes nothing on either side (no whole-text fallback —
    * a short eval doc's full text can never equal a train n-gram anyway,
    * so the fallback would only manufacture asymmetric phantom hits). */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 8): DataFrame = {
    def sh(df: DataFrame): DataFrame = df
      .select(col(idCol), col(textCol).as("_t"), split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= ngram)
      .select(col(idCol),
        explode(array_distinct(shinglesOfWords(col("_w"), col("_t"), ngram))).as("_s"))
      .select(col(idCol), md5(col("_s")).as("sh"))
    val evalSh = sh(evalSet).select("sh").distinct()
    // (doc, sh) is distinct BY CONSTRUCTION (array_distinct per doc), so
    // a plain count equals count_distinct — cheaper in batch (no
    // distinct-expand) and legal on a STREAMING train side (streaming
    // aggregations reject count_distinct; this runs as a stream-static
    // join + stateful count, see StreamingSpec parity test)
    sh(train)
      .join(graft.canonical.Joins.dim(evalSh), Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-ROW minhash band buckets (no explode/groupBy): each row
    * computes its own k signatures via the nested-HOF [[minhash]] —
    * fine at per-row granularity (a handful of short arrays; the
    * corpus-scale explode path is [[minhashBuckets]], bit-identical
    * values) — then emits one row per band. Aggregation-free, so it
    * runs UNCHANGED on a streaming frame in append mode (the property
    * [[checkAgainstIndex]] needs: probing is a stateless projection +
    * stream-static joins, no watermarked aggregation state). */
  def rowBuckets(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", ngram: Int = 3, k: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    // strict n-grams, matching minhashBuckets and every shingle oracle —
    // on the streaming ingest path no corpus word-count convention
    // protects the fallback, so strictness here is load-bearing
    val withSh = docs.select(col(idCol), col(textCol).as("_t"),
      split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= ngram)
      .select(col(idCol),
        array_distinct(shinglesOfWords(col("_w"), col("_t"), ngram)).as("_sg"))
    val sigs = (0 until k).map(s => minhash(col("_sg"), s).as(s"m$s"))
    val withSig = withSh.select(col(idCol) +: sigs: _*)
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).cast("long").as("band"), md5(concat(parts: _*)).as("bucket"))
    }
    withSig.select(col(idCol), inline(array(bandStructs: _*)))
  }

  /** Probe new documents against a committed corpus index: bucket
    * equi-join -> distinct (new, corpus-rep) candidates -> exact
    * integer-ppm Jaccard against the corpus texts. Batch cost is
    * O(new batch + matched candidates), NEVER O(corpus): the corpus
    * contributes only its committed index (size-gated dim join) and —
    * via a left-semi join on the candidate ids BEFORE the shingle
    * projection — the texts of matched candidates only (VERDICT r05 #1:
    * the previous plan computed split + array_distinct for EVERY corpus
    * document and relied on the join to discard non-candidates, which
    * Catalyst cannot push below the projection). The pre-filter engages
    * above the broadcast size gate: a gate-fitting corpus is cheaper to
    * shingle wholesale than to route through the extra semi-join
    * shuffle (measured at sf0.1). `newDocs` may be a
    * STREAMING frame — [[rowBuckets]] is aggregation-free and the joins
    * are stream-static, so the probe runs in append mode (StreamingSpec
    * parity); the candidate semi-join is batch-only (a streaming
    * candidate set cannot filter the static side mid-plan — the
    * streaming-scale fix is committing per-rep shingle arrays next to
    * the index, which this signature cannot see). Emits
    * (new_id, corpus_id, jaccard_ppm) at jaccard_ppm >= minJaccardPpm
    * (integer compare — engine-exact). */
  def checkAgainstIndex(newDocs: DataFrame, index: DataFrame,
      corpusDocs: DataFrame, minJaccardPpm: Long = 500000L,
      idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // the probe side derives ONCE (shingles carried through the band
    // explode), so a streaming newDocs needs no second self-derivation
    // — every join below is then stream-static
    val withSh = newDocs.select(col(idCol).as("new_id"),
      col(textCol).as("_t"), split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= ngram) // strict: see rowBuckets
      .select(col("new_id"),
        array_distinct(shinglesOfWords(col("_w"), col("_t"), ngram)).as("_sgn"))
    val sigs = (0 until k).map(s => minhash(col("_sgn"), s).as(s"m$s"))
    val withSig = withSh.select(col("new_id") +: col("_sgn") +: sigs: _*)
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).cast("long").as("band"), md5(concat(parts: _*)).as("bucket"))
    }
    val probe = withSig
      .select(col("new_id"), col("_sgn"), inline(array(bandStructs: _*)))
    val cand0 = probe
      .join(graft.canonical.Joins.dim(
        index.select(col(idCol).as("corpus_id"), col("band"), col("bucket"))),
        Seq("band", "bucket"))
      .select(col("new_id"), col("_sgn"), col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
    // the candidate set feeds BOTH the corpus pre-filter and the verify
    // join; dropDuplicates plants an Exchange at the shared subtree, so
    // runtime exchange reuse executes the probe+index derivation ONCE (an
    // eager localCheckpoint here measured SLOWER: it serializes the
    // candidate job before the main job instead of sharing the exchange)
    val cand = cand0
    // batch + over-the-gate corpus: only candidate corpus docs are ever
    // shingled (left_semi on the candidate ids BEFORE the projection —
    // the candidate set is O(matches)). A corpus small enough to
    // broadcast is cheaper to shingle wholesale than to pre-filter
    // through an extra shuffle, so the same size gate every other
    // corpus-scaling join uses decides here too.
    val corpusSrc =
      if (newDocs.isStreaming || graft.canonical.Joins.fitsBroadcast(corpusDocs))
        corpusDocs
      else corpusDocs.join(
        graft.canonical.Joins.dim(
          cand.select(col("corpus_id").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
    val corpusSh = corpusSrc.select(col(idCol).as("corpus_id"),
      col(textCol).as("_t"), split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= ngram)
      .select(col("corpus_id"),
        array_distinct(shinglesOfWords(col("_w"), col("_t"), ngram)).as("_sgc"))
    cand
      .join(corpusSh, Seq("corpus_id"))
      .withColumn("_i", size(array_intersect(col("_sgn"), col("_sgc"))).cast("double"))
      .withColumn("jaccard_ppm",
        round(col("_i") / (size(col("_sgn")) + size(col("_sgc"))
          - col("_i")).cast("double") * 1e6).cast("long"))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
      .select(col("new_id"), col("corpus_id"), col("jaccard_ppm"))
  }

  /** [[decontaminate]] over normalization-for-hashing text (X6 composed
    * in front of the 8-gram shingling): real decontamination pipelines
    * match case/comment/whitespace-insensitively — a benchmark answer
    * that survives into training data with only its casing or comments
    * changed must still be flagged. The normalization is a pure per-row
    * projection (regexp chain, no shuffle), so stream/batch parity is
    * preserved: the train side can be a streaming frame exactly as in
    * [[decontaminate]]. Strict sub-ngram semantics apply AFTER
    * normalization (a doc whose normalized form drops below `ngram`
    * words contributes nothing). */
  def decontaminateNormalized(train: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 8): DataFrame = {
    def norm(df: DataFrame): DataFrame =
      df.withColumn(textCol, TextOps.normalizeForHash(col(textCol)))
    decontaminate(norm(train), norm(evalSet), idCol, textCol, ngram)
  }

  /** 16-bit SimHash from the top bit of 16 md5-hex positions per token
    * (each hex-digit top bit is an independent 1-bit hash). Portable to
    * any engine with md5 + substr. */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", md5(col("w")))
    val sums = (1 to 16).map(p =>
      sum(when(substring(col("h"), p, 1) >= "8", 1).otherwise(-1)).as(s"b$p"))
    val agg = tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val bits = (1 to 16).map(p => when(col(s"b$p") > 0, "1").otherwise("0"))
    agg.select(col(idCol), concat(bits: _*).as("simhash"))
  }

  /** Token-level Jaccard similarity within a blocking key (here `source`),
    * via an inverted-index self-join; emits top-k pairs per block.
    * This is the n-gram Jaccard near-dup primitive with blocking to bound
    * the pair explosion (same-block pairs only).
    *
    * Document-frequency cap: a token appearing in f docs of one block
    * yields f^2 candidate rows in the self-join, so stopword-class tokens
    * (df > maxDf within their block) are dropped from the inverted index
    * before the join — the standard frequency-filtering step. Candidate
    * generation is then bounded by maxDf^2 per (block, token). Union sizes
    * keep the full token sets (the cut only thins the intersection counts
    * of stopword-dominated pairs, which were never near-dups). */
  def jaccardTopPairs(docs: DataFrame, blockCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text", topK: Int = 5,
      maxDf: Int = 100): DataFrame = {
    val tok = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("w"))
    val sizes = tok.groupBy("id").agg(count(lit(1)).as("sz"))
    val rare = tok.groupBy("blk", "w").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("blk", "w")
    val kept = tok.join(rare, Seq("blk", "w"))
    val a = kept.select(col("blk"), col("w"), col("id").as("a"))
    val b = kept.select(col("blk"), col("w"), col("id").as("b"))
    val common = a.join(b, Seq("blk", "w"))
      .filter(col("a") < col("b"))
      .groupBy("blk", "a", "b").agg(count(lit(1)).as("inter"))
    // sizes has one row per document — unbounded; no broadcast hint (AQE
    // picks broadcast only while it actually fits)
    val scored = common
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
      // scaled-integer score (parts-per-million): floating-point rounding
      // differs in the last ulp across engines, integers compare exactly
      .withColumn("jaccard_ppm",
        round(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double") * 1e6)
          .cast("long"))
    val w = Window.partitionBy("blk")
      .orderBy(col("jaccard_ppm").desc, col("a"), col("b"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("blk"), col("a"), col("b"), col("jaccard_ppm"), col("rk").cast("long").as("rk"))
  }
}
