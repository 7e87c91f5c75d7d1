package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash group-by), MinHash+LSH banding, SimHash hamming pairs,
  * and exact n-gram Jaccard. The reference's analog is frame-level
  * "only unique frames" sampling (SURVEY.md §2.5 F3); these generalize
  * it to content-defined document identity at 100 TB scale.
  *
  * Scale design: exact dedup is one hash shuffle on a 16-byte digest;
  * MinHash/SimHash are projection-only signature computations followed
  * by an equi-join on (band, bucket) — the quadratic pair space is never
  * materialized, and bucket skew is bounded by the band width.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content hash with the
    * surviving (minimum) id and the duplicate count. */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(md5(col(text)).as("content_hash"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep only the first (min id) row of each exact-duplicate group —
    * the "deduplicated corpus" view. */
  def dropExactDuplicates(docs: DataFrame, id: String, text: String): DataFrame = {
    val keep = exactGroups(docs, id, text).select(col("keep_id").as(id))
    docs.join(keep, id) // inner join on surviving ids; no row explosion (md5 collisions aside)
  }

  /** Exact pairwise n-gram Jaccard >= threshold, blocked by a partition
    * column (e.g. source) so the pair space stays bounded per block.
    * Shingles are hashed to 64-bit before the self-join: the shuffle
    * carries (block, long) keys instead of full n-gram strings —
    * identical pair counts barring a 2^-64 collision. */
  def jaccardPairs(docs: DataFrame, id: String, text: String, block: String,
      n: Int, threshold: Double): DataFrame = {
    // single-pass native shingle hashing (see ShingleHashes scaladoc for
    // why the declarative transform/sequence form is quadratic).
    // localCheckpoint (eager): the plan is a diamond (both self-join
    // sides + sizes), and without reuse Spark re-scans and re-hashes the
    // corpus per arm. Checkpoint blocks are reference-tracked by the
    // ContextCleaner and freed on GC — unlike Dataset.persist, repeated
    // invocations in a long-lived session don't leak cache entries. The
    // materialized relation is per-doc hash signatures (~8B/shingle),
    // two orders smaller than the raw text; tradeoff: lineage is cut,
    // so an executor loss re-runs the query instead of recomputing.
    val hashed = docs.select(col(id).as("doc"), col(block).as("blk"),
      shingleHashes(col(text), n).as("shs"))
      .localCheckpoint()
    val sizes = hashed.select(col("doc"), size(col("shs")).as("n_sh"))
    val sh = hashed.select(col("doc"), col("blk"), explode(col("shs")).as("shingle"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.blk") === col("b.blk") && col("a.shingle") === col("b.shingle") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("a_id"), col("b.doc").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "a_id").withColumnRenamed("n_sh", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc", "b_id").withColumnRenamed("n_sh", "n_b"), "b_id")
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"), col("jaccard"))
  }

  /** Containment pairs — the asymmetric sibling of [[jaccardPairs]]:
    * containment = |A ∩ B| / min(|A|, |B|), the measure that catches a
    * SHORT document embedded in a long one (quotes, truncations,
    * boilerplate wrappers) where symmetric Jaccard stays low because
    * the union is dominated by the long side. Same shape: one native
    * shingle-hash pass (checkpointed against the self-join diamond),
    * block-keyed equi-join, per-pair intersection count — never a
    * doc×doc pair space. Output adds `contained_id`, the smaller-set
    * doc (ties → a_id: with equal sizes and containment 1.0 the docs
    * are shingle-identical). */
  def containmentPairs(docs: DataFrame, id: String, text: String,
      block: String, n: Int, threshold: Double): DataFrame = {
    val hashed = docs.select(col(id).as("doc"), col(block).as("blk"),
      shingleHashes(col(text), n).as("shs"))
      .localCheckpoint()
    val sizes = hashed.select(col("doc"), size(col("shs")).as("n_sh"))
    val sh = hashed.select(col("doc"), col("blk"), explode(col("shs")).as("shingle"))
    sh.as("a").join(sh.as("b"),
        col("a.blk") === col("b.blk") && col("a.shingle") === col("b.shingle") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("a_id"), col("b.doc").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc", "a_id").withColumnRenamed("n_sh", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc", "b_id").withColumnRenamed("n_sh", "n_b"), "b_id")
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .withColumn("contained_id",
        when(col("n_a") <= col("n_b"), col("a_id")).otherwise(col("b_id")))
      .select(col("a_id"), col("b_id"), col("inter"), col("n_a"), col("n_b"),
        col("containment"), col("contained_id"))
  }

  /** Exact all-pairs Jaccard ≥ threshold WITHOUT blocking — the prefix
    * filter of the All-Pairs / PPJoin family (Bayardo et al., WWW'07;
    * Xiao et al., WWW'08): order every document's shingles by global
    * rarity (document frequency asc, hash asc — one shared total
    * order), keep only the first |A| − ⌈t·|A|⌉ + 1 of each document
    * ("the prefix"), and generate candidates by equi-joining PREFIXES.
    * Any pair with Jaccard ≥ t has overlap ≥ ⌈t·|A|⌉, so by pigeonhole
    * it shares at least one prefix element — candidate generation is
    * LOSSLESS, and the exact verify (set intersection of the two hash
    * signatures, candidates only) makes the result identical to the
    * quadratic all-pairs join. The exact complement of [[lshNearDup]]
    * (probabilistic recall) and [[jaccardPairs]] (needs a blocking
    * key): rare-first prefixes mean candidates must share a RARE
    * shingle, so the pair space collapses at corpus scale while
    * common shingles ("the quick") never generate candidates.
    *
    * Scale shape: shingles are 8-byte hashes end to end; one shuffle
    * for document frequency, one per-doc window for the prefix cut,
    * one equi-join on the (rare) prefix hashes, and a per-candidate
    * array intersection — never a doc×doc pair space. The ceil is
    * epsilon-relaxed so float rounding can only LENGTHEN a prefix
    * (extra candidates), never shorten it (lost pairs).
    *
    * Output: (a_id, b_id, inter, uni, jaccard), exact. */
  def prefixJaccardPairs(docs: DataFrame, id: String, text: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "prefixJaccardPairs: threshold must be in (0, 1]")
    // localCheckpoint: the signature relation feeds three arms (df,
    // prefix, verify) — same diamond rationale as jaccardPairs
    val hashed = docs.select(col(id).as("doc"),
        shingleHashes(col(text), n).as("shs"))
      .localCheckpoint()
    val sh = hashed.select(col("doc"), explode(col("shs")).as("shingle"))
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("freq"))
    // rarity-order WITHOUT a window: re-collect each doc's (freq,
    // shingle) pairs and sort inside the array — a hash aggregate plus
    // a per-row O(k log k) sort replaces the window's full
    // shuffle-and-sort of the corpus-sized token stream AND the extra
    // join against a per-doc size relation (|shs| == array length)
    val prefix = sh.join(df, "shingle")
      .groupBy(col("doc"))
      .agg(array_sort(collect_list(struct(col("freq"), col("shingle"))))
        .as("fs"))
      .select(col("doc"), size(col("fs")).as("n_sh"),
        posexplode(slice(col("fs"), lit(1),
          (size(col("fs")) -
            ceil(size(col("fs")) * lit(threshold) - lit(1e-9)) + 1)
            .cast("int"))))
      .select(col("doc"), col("col.shingle").as("shingle"),
        (col("pos") + 1).as("rk"), col("n_sh"))
    // NOT checkpointed despite feeding both candidate-join sides: the
    // identical subtrees share their exchanges via ReusedExchange, and
    // an A/B at sf0.1 measured the eager pin ~1.5x SLOWER (it blocks
    // on an extra materialization the reuse already avoids)
    // PPJoin positional filter on top of the prefix join: a shared
    // token at ranks (i, j) bounds the pair's possible overlap by
    // 1 + min(|A|−i, |B|−j); if even that best case misses the pair
    // requirement α = ⌈t/(1+t)·(|A|+|B|)⌉ the token cannot witness a
    // qualifying pair. A pair qualifies if ANY shared prefix token
    // passes, so the filter is lossless — and it is what keeps
    // candidates near the true pair count when the vocabulary is small
    // and even "rare" shingles recur across many documents. The ceil
    // is epsilon-relaxed like the prefix cut (rounding may only weaken
    // the filter, never drop a true pair).
    val pairAlpha = ceil((col("a.n_sh") + col("b.n_sh")) *
      lit(threshold / (1 + threshold)) - lit(1e-9))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
          lit(1) + least(col("a.n_sh") - col("a.rk"),
            col("b.n_sh") - col("b.rk")) >= pairAlpha)
      .select(col("a.doc").as("a_id"), col("b.doc").as("b_id")).distinct()
    cand
      .join(hashed.select(col("doc").as("a_id"), col("shs").as("sa")), "a_id")
      .join(hashed.select(col("doc").as("b_id"), col("shs").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"), col("jaccard"))
  }

  /** Cross-source duplicate-overlap matrix — the corpus diagnostic that
    * tells you which sources are copies of each other before you start
    * mixing them: for every pair of sources, how many distinct n-gram
    * shingles they share and the Jaccard similarity of their shingle
    * sets.
    *
    * Scale design: never a source×source or doc×doc join. Shingles are
    * 64-bit hashes (one [[graft.plans.ShingleHashes]] projection), and
    * the corpus crosses exactly ONE shuffle — the per-shingle
    * collect_set of sources, which dedups internally and is BOUNDED by
    * the source count (small and enumerable by definition). Per-source
    * totals and the pair matrix both derive from that one materialized
    * per-shingle relation; pair expansion is an array transform over
    * the set, so the final matrix is at most |sources|²/2 rows,
    * whatever the corpus size.
    *
    * Output: (src_a, src_b, n_shared, n_a, n_b, jaccard) for every
    * source pair sharing at least one shingle; src_a < src_b. */
  def sourceOverlap(docs: DataFrame, by: String, text: String, n: Int): DataFrame = {
    // distinct + collect_set fuse into ONE shuffle on sh (collect_set
    // dedups internally); the result is one row per distinct shingle —
    // the smallest relation in the plan — and it feeds both arms, so
    // materialize THAT, not the (src, sh) pair stream
    val srcSets = docs.select(col(by).as("src"),
        explode(shingleHashes(col(text), n)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .localCheckpoint()
    // per-source distinct-shingle counts derive from the same source
    // sets — no second corpus-sized shuffle
    val perSrc = srcSets.select(explode(col("srcs")).as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    val pairs = srcSets
      .filter(size(col("srcs")) >= 2)
      .select(explode(flatten(transform(col("srcs"), (x, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(perSrc.select(col("src").as("src_a"), col("n_sh").as("n_a")), "src_a")
      .join(perSrc.select(col("src").as("src_b"), col("n_sh").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
  }

  /** MinHash + LSH banding candidate pairs: signature of `numPerm`
    * permutations, banded into `bands` groups of numPerm/bands rows;
    * docs sharing any band bucket become candidates. Output: distinct
    * (a_id, b_id, n_shared_bands).
    *
    * Permutation family is Kirsch–Mitzenmacher over one md5 per shingle:
    * h1/h2 are the two 52-bit halves of md5(shingle) and permutation p
    * hashes to h1 + p·h2 (no overflow: p·h2 < 2^57). One cryptographic
    * hash + numPerm multiply-adds per shingle beats numPerm seeded
    * hashes, and — because md5/hex-parse exist in any SQL engine — the
    * whole operator is oracle-checkable, where an xxhash64 family is
    * Spark-only. 52-bit halves keep every value exact in BIGINT and
    * DOUBLE on both sides.
    *
    * The whole signature is ONE projection per document — the
    * single-pass native [[graft.plans.MinhashMd5]] expression (shingle,
    * hash, fold minima in one row-local loop) — so nothing shuffles
    * until the (doc, band, bucket) band join. Docs shorter than
    * shingleN words have no signature (NULL, filtered). */
  def minhashCandidates(docs: DataFrame, id: String, text: String,
      shingleN: Int, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val rows = numPerm / bands
    val sig = docs.select(col(id).as("doc"),
      minhashMd5(col(text), shingleN, numPerm).as("ms"))
      .filter(col("ms").isNotNull)
    val banded = sig.select(col("doc"), explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until rows).map(r =>
          element_at(col("ms"), b * rows + r + 1)): _*)).as("bucket"))
    }: _*)).as("bb"))
      .select(col("doc"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("a_id"), col("b.doc").as("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Incremental exact dedup — the append-only ingestion path: from a
    * batch of incoming documents keep ONE doc per content hash (min id)
    * whose hash is not already in the `seen` relation (the digest index
    * of everything previously ingested). Batch-internal duplicates
    * collapse in the same pass. Only 16-byte digests cross the shuffle;
    * the anti join is a plain equi-join, so at 100 TB the seen index
    * streams through the join instead of broadcasting. The index is NOT
    * pre-deduplicated: left_anti gives identical results against
    * duplicate keys, so a distinct() would only add a full extra
    * shuffle+agg of the index per batch.
    *
    * Output: (content_hash, id, n_in_batch) for the surviving docs. */
  def incrementalNew(incoming: DataFrame, id: String, text: String,
      seen: DataFrame, seenHash: String): DataFrame = {
    val grouped = incoming.groupBy(md5(col(text)).as("content_hash"))
      .agg(min(col(id)).as(id), count(lit(1)).as("n_in_batch"))
    grouped.join(
      seen.select(col(seenHash).as("content_hash")),
      Seq("content_hash"), "left_anti")
  }

  /** Streaming ingestion dedup with a PERSISTENT, growing digest index:
    * each micro-batch collapses internally, anti-joins the index table,
    * appends the survivors to `corpusTable`, and appends their digests
    * to `indexTable` — so duplicates are dropped across batches AND
    * across restarts (the index is a catalog table, not stream state,
    * so it is unbounded-retention where dropDuplicatesWithinWatermark
    * is watermark-bounded; that is the point). The per-batch work is
    * the [[incrementalNew]] plan: digests only through the shuffle.
    *
    * Delivery: the two appends are not atomic, so a crash between them
    * replays the batch as at-least-once into the corpus (the index is
    * written LAST, so it never claims content the corpus doesn't have —
    * replay can duplicate corpus rows, never lose them). Exactly-once
    * across both tables needs a transactional table format underneath.
    *
    * Returns a foreachBatch function for
    * `stream.writeStream.foreachBatch(...)`; tables are created on
    * first use. */
  def dedupIngest(id: String, text: String,
      corpusTable: String, indexTable: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      val seen =
        if (spark.catalog.tableExists(indexTable)) spark.table(indexTable)
        else spark.emptyDataFrame.select(lit("").as("content_hash")).limit(0)
      val fresh = incrementalNew(batch, id, text, seen, "content_hash")
        .join(batch, Seq(id))
        .localCheckpoint() // pin: both appends must see the SAME survivors
      fresh.select(batch.columns.map(col): _*)
        .write.mode("append").saveAsTable(corpusTable)
      fresh.select(md5(col(text)).as("content_hash"))
        .write.mode("append").saveAsTable(indexTable)
    }
  }

  /** Streaming exact dedup (the reference's "only unique frames" path,
    * F3, as a standing query): drop records whose content digest was
    * already seen within the watermark window. State is bounded by the
    * watermark delay — the streaming twin of [[dropExactDuplicates]]. */
  def streamingDedup(stream: DataFrame, text: String, eventTime: String,
      delay: String): DataFrame =
    stream
      .withColumn("_graft_content_hash", md5(col(text)))
      .withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark("_graft_content_hash")
      .drop("_graft_content_hash") // output schema == input schema

  /** 64-bit SimHash signature per (doc, block): ONE projection per doc
    * via the single-pass native [[graft.plans.SimhashMd5]] expression —
    * token bits come from the two 32-bit md5 halves, so the signature
    * (and therefore the whole pair set) is recomputable by any SQL
    * engine for the oracle, where xxhash64 bits are Spark-only. No
    * shuffle: the old explode + 64-conditional-sum aggregate shape paid
    * a multi-second one-time codegen/JIT cost for its 64-buffer
    * aggregate and a token-explode shuffle; the expression form pays
    * neither. */
  private def simhashSignatures(docs: DataFrame, id: String, text: String,
      block: String): DataFrame = {
    docs.select(col(id).as("doc"), col(block).as("blk"),
      simhashMd5(col(text)).as("sig"))
  }

  /** SimHash near-dup pairs within a blocking column: 64-bit signatures,
    * pairs at hamming distance <= maxHamming.
    *
    * Pair generation is pigeonhole-banded, NOT all-pairs: the signature
    * splits into maxHamming+1 bit bands, and any pair at hamming <=
    * maxHamming must agree EXACTLY on at least one band (fewer bands
    * differ than bands exist). Candidates therefore come from an
    * equi-join on (block, band, band-value) — near-linear in practice —
    * and are rescored with the full 64-bit hamming distance, so the
    * output is identical to the quadratic all-pairs form
    * ([[simhashPairsExhaustive]], kept as the small-scale test oracle).
    * A pair agreeing on several bands appears once per band; the
    * final distinct() collapses those (hamming is pair-determined). */
  def simhashPairs(docs: DataFrame, id: String, text: String, block: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    // localCheckpoint (eager): both self-join arms read the signatures,
    // and without reuse each arm re-tokenizes the corpus and re-runs the
    // 64-aggregate vote pass. The materialized relation is one
    // (doc, blk, 8-byte sig) row per doc — tiny at any corpus size.
    // Same lifecycle rationale as in [[jaccardPairs]].
    val sig = simhashSignatures(docs, id, text, block).localCheckpoint()
    val nBands = maxHamming + 1
    val base = 64 / nBands
    val rem = 64 % nBands // first `rem` bands get one extra bit
    val banded = sig.select(col("doc"), col("blk"), col("sig"),
      posexplode(array((0 until nBands).map { b =>
        val off = b * base + math.min(b, rem)
        val width = base + (if (b < rem) 1 else 0)
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftrightunsigned(col("sig"), off).bitwiseAND(lit(mask))
      }: _*)).as(Seq("band", "bandval")))
    banded.as("a").join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.band") === col("b.band") &&
          col("a.bandval") === col("b.bandval") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("a_id"), col("b.doc").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over an undirected edge list — the clustering
    * step that turns near-dup PAIRS (from [[jaccardPairs]] /
    * [[minhashCandidates]] / [[simhashPairs]]) into dup GROUPS, so a
    * pipeline can keep one canonical doc per group. Returns
    * (v: long, comp: long) where comp is the minimum vertex id in the
    * component; only vertices that appear in an edge are returned.
    *
    * Algorithm: iterative min-label propagation. Every pass each vertex
    * takes the min of its own label and its neighbors' labels; stop when
    * no label changes. Each pass shuffles only (long, long) rows; pass
    * count is O(component diameter), which for dedup graphs (dense
    * near-clique clusters of mutually-similar docs) is 2-3. For graphs
    * with adversarially long chains, star-contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") converges in
    * O(log n) passes — not needed for the dedup-cluster shape.
    * localCheckpoint per pass truncates the growing lineage and lets the
    * ContextCleaner free superseded label relations.
    *
    * Small-graph fast path (`Route.bySize`): at or below 2^20
    * edges (≈ 16 MB collected) the edge list is union-found on the
    * driver in one pass — identical output, none of the per-pass
    * plan/shuffle overhead that dominates iterative Spark jobs on tiny
    * relations. Dedup graphs are tiny relative to the corpus (pairs of
    * NEAR-duplicates, post-banding), so this is the common case even at
    * 100 TB; anything larger takes the distributed loop. */
  def connectedComponents(edges: DataFrame, a: String, b: String,
      maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
    val undBase = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    Route.bySize(undBase, 1L << 20) { und =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      und.collect().foreach { row =>
        val (s, d) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(s, s)
        parent.getOrElseUpdate(d, d)
        val (rs, rd) = (find(s), find(d))
        // attach the larger root under the smaller: every root stays the
        // minimum id of its component, so find() IS the comp label
        if (rs < rd) parent(rd) = rs else if (rd < rs) parent(rs) = rd
      }
      parent.keys.toSeq.map(v => (v, find(v))).toDF("v", "comp")
    } { und =>
      var labels = und.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("comp")).localCheckpoint()
      // convergence rides the label pass itself: a long accumulator counts
      // labels lowered by the neighbor minimum DURING the eager
      // localCheckpoint materialization — ONE action per pass. Task
      // retries can only over-count, and only zero-vs-nonzero is read, so
      // the at-most-once caveat of accumulators is harmless here.
      var changed = true
      var iter = 0
      while (changed && iter < maxIter) {
        val acc = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
        val nbrMin = und.join(labels, und("src") === labels("v"))
          .groupBy(und("dst").as("v")).agg(min(col("comp")).as("nbr"))
        val next = labels.join(nbrMin, Seq("v"), "left")
          .select(col("v"), col("comp"), coalesce(col("nbr"), col("comp")).as("nbr"))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            it.map { case (v, comp, nbr) =>
              if (nbr < comp) { acc.add(1); (v, nbr) } else (v, comp)
            }
          }
          .toDF("v", "comp").localCheckpoint()
        labels = next
        changed = acc.value > 0
        iter += 1
      }
      require(!changed, s"connectedComponents did not converge within $maxIter passes")
      labels
    }
  }

  /** Cluster assignment for a whole corpus: every doc gets a component
    * (singletons are their own), plus an `is_canonical` flag marking the
    * minimum-id survivor of each cluster — the doc a dedup pipeline
    * keeps. */
  def dupClusters(docs: DataFrame, id: String, pairs: DataFrame,
      a: String = "a_id", b: String = "b_id"): DataFrame = {
    val comp = connectedComponents(pairs, a, b)
    docs.select(col(id).cast("long").as("doc_id"))
      .join(comp, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
      .withColumn("is_canonical", col("component") === col("doc_id"))
  }

  /** Positional n-token window hashes: one row per (doc, start-token
    * position) with the md5 of the window TEXT — md5 so any SQL engine
    * recomputes the identical key (the shingle_strings stance; xxhash64
    * would be Spark-only). Single-pass native projection
    * ([[graft.plans.WindowMd5s]] — split once, roll the window); the
    * declarative transform/sequence form re-inlined split() per lambda
    * element and dominated q100/q101's runtime. */
  private def windowHashes(docs: DataFrame, id: String, text: String,
      n: Int): DataFrame = {
    docs.select(col(id).as("doc"),
      posexplode(windowMd5s(col(text), n))
        .as(Seq("pos", "h")))
  }

  /** Exact-substring duplicate spans (the ExactSubstr policy of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better"): every n-token window whose text occurs `minCount`+ times
    * ANYWHERE in the corpus is marked, and overlapping-or-adjacent
    * marked windows merge into maximal per-document removal spans
    * `[span_start, span_end)` (token positions, 0-based).
    *
    * `keepFirst = false` (the paper's tool) marks ALL occurrences;
    * `keepFirst = true` exempts the canonical first occurrence (minimum
    * (doc, pos)) of each window — window-granular, so a kept window's
    * tokens can still fall inside a neighboring span's removal range.
    *
    * Scale shape (100 TB): window hashing is a pure projection; the
    * occurrence count is one map-side-combined aggregation on 32-byte
    * digests; marking joins each window to AT MOST ONE surviving digest
    * row (equi-join, no fan-out); the span merge is a per-document
    * window function — partition size is bounded by document length,
    * never corpus size. No all-pairs stage exists anywhere. */
  def substringSpans(docs: DataFrame, id: String, text: String,
      n: Int, minCount: Long = 2, keepFirst: Boolean = false): DataFrame = {
    // The plan is a diamond (window rows feed both the duplicate-digest
    // aggregation and the mark join) and deliberately UNPINNED: the
    // single-pass window_md5s projection is cheap enough that running
    // it once per arm beats materializing a token-count-sized relation
    // to executor disk (measured a wash at sf0.1; at 100 TB the
    // re-projection wins — no disk write, no lineage break).
    val wins = windowHashes(docs, id, text, n)
    val dup = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc"), col("pos"))).as("first"))
      .filter(col("n_occ") >= minCount)
    val all = wins.join(dup, "h")
    val marked =
      if (keepFirst)
        all.filter(!(col("doc") === col("first.doc") &&
          col("pos") === col("first.pos")))
      else all
    val byDoc = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(byDoc)
    val newSpan = when(prev.isNull || col("pos") > prev + lit(n), 1).otherwise(0)
    marked.select(col("doc"), col("pos"), newSpan.as("ns"))
      .withColumn("sid", sum(col("ns")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc"), col("sid"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n)).cast("long").as("span_end"),
        count(lit(1)).as("n_wins"))
      .select(col("doc").as(id), col("span_start"), col("span_end"),
        col("n_wins"))
  }

  /** Apply [[substringSpans]] to the corpus: per doc, the kept-token
    * count, removed-token count, and the md5 of the cleaned
    * (space-rejoined) text — the digest rather than the full cleaned
    * string keeps the result relation audit-sized while still proving
    * the exact cleaned bytes. The span list (small: only documents with
    * duplicated spans) aggregates per doc and joins back by id; token
    * filtering is a higher-order-function projection, no per-token
    * explode on the corpus side. */
  def substringDedupClean(docs: DataFrame, id: String, text: String,
      n: Int, minCount: Long = 2, keepFirst: Boolean = false): DataFrame = {
    val spans = substringSpans(docs, id, text, n, minCount, keepFirst)
      .groupBy(col(id))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val w = tokens(col(text))
    docs.join(spans, Seq(id), "left")
      .select(col(id), w.as("w"),
        coalesce(col("spans"),
          array().cast("array<struct<span_start:long,span_end:long>>"))
          .as("spans"))
      .withColumn("kept", filter(col("w"), (t, i) =>
        !exists(col("spans"), s =>
          i >= s.getField("span_start") && i < s.getField("span_end"))))
      .select(col(id),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_md5"))
  }

  /** All-pairs SimHash within a block — O(n²) per block; retained ONLY
    * as the exactness oracle for [[simhashPairs]] at test scale. */
  private[graft] def simhashPairsExhaustive(docs: DataFrame, id: String,
      text: String, block: String, maxHamming: Int): DataFrame = {
    val sig = simhashSignatures(docs, id, text, block)
    sig.as("a").join(sig.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc") < col("b.doc"))
      .withColumn("hamming", bit_count(col("a.sig").bitwiseXOR(col("b.sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc").as("a_id"), col("b.doc").as("b_id"), col("hamming"))
  }
}
