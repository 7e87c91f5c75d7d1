package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{deletionVariants, md5U52}

/** Fuzzy entity resolution — the record-linkage half of dedup: where
  * [[Dedup]] finds near-identical *documents*, this finds near-identical
  * *entity strings* (names, addresses, product titles) under edit
  * distance. The reference's first-match-by-distance loop
  * (`/root/reference/src/prediction_producer.py:313-325`) is the vector
  * analog; this is the string analog every training-data pipeline needs
  * for author/site/license dedup before mixing corpora.
  *
  * Scale design — FastSS deletion neighborhoods (Bocek et al. 2007),
  * NOT an all-pairs Levenshtein scan: each string explodes into len+1
  * blocking keys (itself plus every single-character deletion), and
  * candidates come from an EQUI-join on those keys. Carrying the
  * deletion POSITION makes the k=1 candidate set EXACT, no verify pass:
  * two distinct strings are within edit distance 1 iff they share a
  * deletion at the SAME position (that is precisely a substitution) or
  * one equals a deletion of the other (insertion/deletion) — different-
  * position collisions like "ab"/"ba" (ed 2) never join. At 100 TB:
  * one hash equi-join on short string keys (×(len+1) fan-out, each key
  * shared by at most ~alphabet×len rows), no cartesian anywhere, no
  * per-candidate DP — the same bucketed-not-all-pairs contract as
  * MinHash/SimHash (PlanSpec pins it).
  */
object EntityResolution {

  /** The deletion-1 neighborhood of `c`: the string itself (deletion
    * position 0) plus the string with character i removed, i = 1..len.
    * Pure built-ins (`sequence` + `transform` + `substr`) — stays
    * inside whole-stage codegen, no UDF. */
  def deletionNeighborhood(c: Column): Column =
    transform(
      sequence(lit(0), length(c)),
      i => when(i === 0, c)
        .otherwise(concat(c.substr(lit(1), i - 1),
                          c.substr(i + 1, length(c)))))

  /** [[deletionNeighborhood]] keeping each variant's deletion position
    * (0 = the string itself) — the tag that makes k=1 blocking exact. */
  def deletionNeighborhoodPos(c: Column): Column =
    transform(
      sequence(lit(0), length(c)),
      i => struct(
        when(i === 0, c)
          .otherwise(concat(c.substr(lit(1), i - 1),
                            c.substr(i + 1, length(c)))).as("v"),
        i.as("p")))

  /** All pairs of rows whose `name` strings are within edit distance 1
    * (substitution, insertion, or deletion — or exact duplicates),
    * found via the position-tagged deletion-neighborhood equi-join.
    * Output: (a_id, b_id, a_name, b_name, dist) with a_id < b_id and
    * dist = 0 for equal names, 1 otherwise; one row per pair however
    * many blocking keys it shares (exact duplicates share them all —
    * the aggregation collapses the routes). */
  def editDistanceOnePairs(df: DataFrame, idCol: String,
      nameCol: String): DataFrame = {
    // native single-pass variant build (value-identical to
    // deletionNeighborhoodPos — EntityGraphSpec pins it): the
    // declarative transform evaluates an interpreted when/concat/substr
    // tree per character per row
    val keyed = df.select(
        col(idCol).as("_id"), col(nameCol).as("_name"),
        explode(deletionVariants(col(nameCol))).as("_kp"))
      .select(col("_id"), col("_name"),
        col("_kp.v").as("_blk"), col("_kp.p").as("_pos"))
      // both self-join sides read this relation; materialize the
      // neighborhood explosion once instead of re-running the
      // per-character variant build per side (dual-arm convention)
      .localCheckpoint()
    val a = keyed.toDF("a_id", "a_name", "_blk", "_apos")
    val b = keyed.toDF("b_id", "b_name", "_blkb", "_bpos")
    a.join(b, a("_blk") === b("_blkb") && a("a_id") < b("b_id") &&
        // same-position deletion = substitution; position 0 on either
        // side = insertion/deletion (or equality); anything else is
        // ed >= 2 and must not match
        (a("_apos") === b("_bpos") || a("_apos") === 0 || b("_bpos") === 0))
      .select(col("a_id"), col("b_id"), col("a_name"), col("b_name"))
      .distinct()
      .withColumn("dist",
        when(col("a_name") === col("b_name"), 0).otherwise(1))
  }

  /** One comparison field of a probabilistic linkage: `attr` names the
    * record column, `agree` builds the agreement predicate from the
    * pair's two sides, and the weights are the Fellegi–Sunter
    * log-likelihood contributions (log(m/u) on agreement,
    * log((1−m)/(1−u)) on disagreement — POSITIVE for discriminating
    * agreement, NEGATIVE for disagreement). Weights arrive as caller
    * literals, estimated offline (EM or labeled pairs) exactly like
    * the frozen quantizers/codebooks elsewhere in the tier — keeping
    * them literal is also what makes the score a fixed-length fold of
    * exact doubles, hash-portable with no cross-row float sum. */
  final case class LinkField(attr: String,
      agree: (Column, Column) => Column,
      wAgree: Double, wDisagree: Double,
      /** Optional agreement-key extractor enabling the `minScore`
        * candidate pushdown: when set, the contract is
        * coalesce(agree(a, b), false) ⟺
        * (key(a) IS NOT NULL AND key(b) IS NOT NULL AND key(a) = key(b))
        * — i.e. the predicate is an equality on a derived key (lower(),
        * a normalization, identity). Fields whose agreement is not
        * equality-shaped (e.g. a similarity threshold) leave it None
        * and simply disable the pushdown for patterns containing them. */
      key: Option[Column => Column] = None)

  /** Probabilistic record linkage, Fellegi–Sunter (1969) shape:
    * candidate pairs come ONLY from an equi-join on `block` (never a
    * cross join — the blocking key bounds per-key fan-out exactly like
    * the MinHash bands and FastSS deletion keys), and every candidate
    * pair scores as the sum of its per-field agreement weights.
    * Missing values on either side contribute the disagreement weight
    * (conservative — an absent field is no evidence of a match).
    *
    * Scale: one self equi-join on the blocking key; per-block work is
    * O(blockSize²), so the BLOCKING FUNCTION is the scale contract
    * (the standard ER stance — pick blocks that cap at ~10³ records;
    * compose multiple blocking passes by unioning scored pairs). The
    * score projection is shuffle-free.
    *
    * RE-BLOCKING (the SemDeDup hot-cell guard applied to linkage):
    * when `blockBudget` is set and a block outgrows it, the block
    * splits into ceil(size/budget) parity sub-blocks by an md5 coin on
    * `subKey`, and pairs generate only WITHIN a sub-block — in-block
    * pair work stays ~budget × blockSize (linear in data) instead of
    * blockSize² (quadratic). `subKey` must be a CONTENT column stable
    * across the record variants a match should bridge (a name's digit
    * tail, a normalized address) — a stable subKey sends true pairs to
    * the SAME sub-block, so only cross-sub COINCIDENCE pairs are
    * skipped; a random subKey would shed recall. This is the standard
    * secondary-blocking practice, and it is deterministic +
    * oracle-mirrorable (md5 % nsub on both engines). Blocks at or
    * under the budget pair exhaustively, so small-scale results are
    * IDENTICAL to the unbudgeted form.
    *
    * Output: (a_id, b_id, agree_<attr>… one boolean per field, score),
    * one row per in-block pair with a_id < b_id. */
  def linkageScores(records: DataFrame, id: String, block: Column,
      fields: Seq[LinkField], subKey: Column = lit(0),
      blockBudget: Long = Long.MaxValue,
      minScore: Option[Double] = None): DataFrame = {
    require(fields.nonEmpty, "linkageScores: at least one field")
    require(blockBudget > 0, "linkageScores: blockBudget must be positive")
    val attrs = fields.map(_.attr).distinct
    val base0 = records.select(
      (col(id).as("_id") +: block.as("_blk") +: subKey.as("_sk") +:
        attrs.map(col)): _*)
    val base =
      if (blockBudget == Long.MaxValue)
        base0.withColumn("_sub", lit(0L)).drop("_sk")
      else {
        // one block-sized aggregate joined back (AQE broadcasts it);
        // nsub = ceil(size/budget), sub = md5-parity of the subKey
        val sizes = base0.groupBy(col("_blk")).agg(count(lit(1)).as("_csz"))
        base0.join(sizes, Seq("_blk"))
          .withColumn("_nsub",
            ceil(col("_csz").cast("double") / lit(blockBudget.toDouble))
              .cast("long"))
          .withColumn("_sub",
            md5U52(col("_sk").cast("string"), 8, 25)
              .cast("long") % col("_nsub"))
          .drop("_sk", "_csz", "_nsub")
      }
    // both self-join sides (and, under the minScore pushdown, every
    // pattern branch) read this relation: materialize it once instead
    // of re-running the projection [+ sizes aggregate + sub-block
    // stamp] per side per branch — the dual-arm convention. Record-
    // table-sized, so executor-local storage is bounded by the input.
    val baseCk = base.localCheckpoint()
    val aSide = baseCk.select(
      (col("_id").as("a_id") +: col("_blk") +: col("_sub") +:
        attrs.map(n => col(n).as(s"_a_$n"))): _*)
      // explicit spread before the per-block pair expansion: the record
      // table is small (AQE coalesces it toward one partition) and the
      // b-side broadcasts, so without this the blockSize²-row pair
      // stream generates single-threaded. Costs one record-table
      // shuffle; AQE never coalesces a user repartition.
      .repartition(records.sparkSession.sessionState.conf.numShufflePartitions)
    val bSide = baseCk.select(
      (col("_id").as("b_id") +: col("_blk").as("_blkb") +:
        col("_sub").as("_subb") +:
        attrs.map(n => col(n).as(s"_b_$n"))): _*)
    // minScore candidate pushdown (the Bloom/semi-join pre-filter
    // discipline): the score is a PURE FUNCTION of the agreement
    // pattern, so linkageScores(minScore = Some(m)) emits exactly
    // linkageScores().filter(score >= m) — but candidates can come
    // from EQUI-joins on the minimal satisfying patterns' agreement
    // keys instead of the full ~budget×n in-block pair stream (at
    // sf0.1 that stream is ~5M pairs for ~90k qualifying; at 100× it
    // is ~590M). Enabled when every weight is monotone (wAgree >=
    // wDisagree, so qualifying patterns are upward-closed) and every
    // field of every minimal satisfying pattern carries an equality
    // `key`; otherwise the full pairing + filter runs. Branch i joins
    // on (block, sub, keys of pattern i) and excludes pairs whose
    // agreements already cover an earlier pattern, so each qualifying
    // pair is emitted exactly once — and the join stays an equi-join
    // (never a theta scan) on both engines' plans.
    val minimalPatterns: Option[Seq[Seq[LinkField]]] = minScore.flatMap { m =>
      if (!fields.forall(f => f.wAgree >= f.wDisagree)) None
      else {
        val k = fields.size
        val satisfying = (0 until (1 << k)).filter { mask =>
          fields.zipWithIndex.map { case (f, i) =>
            if ((mask & (1 << i)) != 0) f.wAgree else f.wDisagree
          }.sum >= m
        }
        val sat = satisfying.toSet
        val minimal = satisfying.filter { mask =>
          fields.indices.forall { i =>
            (mask & (1 << i)) == 0 || !sat.contains(mask & ~(1 << i))
          }
        }
        val pats = minimal.map(mask =>
          fields.zipWithIndex.collect {
            case (f, i) if (mask & (1 << i)) != 0 => f
          }.toSeq)
        if (pats.nonEmpty && pats.forall(_.forall(_.key.isDefined)))
          Some(pats.toSeq)
        else None
      }
    }
    def agreeOf(f: LinkField): Column =
      coalesce(f.agree(col(s"_a_${f.attr}"), col(s"_b_${f.attr}")),
        lit(false))
    val inBlock = col("_blk") === col("_blkb") &&
      col("_sub") === col("_subb") && col("a_id") < col("b_id")
    val pairs = minimalPatterns match {
      case Some(pats) =>
        pats.zipWithIndex.map { case (p, i) =>
          val keyEq = p.map(f =>
            f.key.get(col(s"_a_${f.attr}")) === f.key.get(col(s"_b_${f.attr}")))
          val excl = pats.take(i).map(q =>
            !q.map(agreeOf).reduceLeft(_ && _))
          aSide.join(bSide, (Seq(inBlock) ++ keyEq ++ excl).reduceLeft(_ && _))
        }.reduceLeft(_ unionByName _)
      case None =>
        aSide.join(bSide, inBlock)
    }
    val withAgree = fields.foldLeft(pairs) { (df, f) =>
      df.withColumn(s"agree_${f.attr}", agreeOf(f))
    }
    val score = fields.map { f =>
      when(col(s"agree_${f.attr}"), lit(f.wAgree)).otherwise(lit(f.wDisagree))
    }.reduceLeft(_ + _)
    val out = withAgree.select(
      (col("a_id") +: col("b_id") +:
        fields.map(f => col(s"agree_${f.attr}")) :+ score.as("score")): _*)
    minScore.map(m => out.filter(col("score") >= lit(m))).getOrElse(out)
  }

  /** Resolve scored pairs into entities: pairs at or above `threshold`
    * become edges, [[Dedup.connectedComponents]] labels the clusters
    * (min-id label), and every input record gets an entity — matched
    * records their component, singletons themselves. is_canonical
    * marks the min-id member, the survivor a keep-one policy retains.
    * Output: (rec_id, entity, is_canonical) — one row per record. */
  def entities(records: DataFrame, id: String, scored: DataFrame,
      threshold: Double): DataFrame = {
    val comp = Dedup.connectedComponents(
      scored.filter(col("score") >= threshold), "a_id", "b_id")
    records.select(col(id).cast("long").as("rec_id"))
      .join(comp, col("rec_id") === col("v"), "left")
      .select(col("rec_id"),
        coalesce(col("comp"), col("rec_id")).as("entity"))
      .withColumn("is_canonical", col("entity") === col("rec_id"))
  }

  /** Golden-record survivorship: one synthesized record per entity,
    * each field independently taking its MODAL non-null value across
    * the entity's members (ties break to the smallest value — fully
    * deterministic, no "first row wins" arrival-order dependence).
    * This is the field-level complement of the keep-one-document
    * policy (q175): keep-one discards the losers whole; survivorship
    * fuses the best-attested value of every column.
    *
    * One melt (entity, field, value) projection, one count aggregate,
    * one per-(entity, field) top-1 window over the bounded
    * value-spine, one pivot back — no join wider than the entity
    * table. Values compare as strings (the melt needs one type);
    * callers normalize first if numeric tie-break order matters.
    * Output: (entity, n_records, <attr>… one string column each). */
  def goldenRecord(withEntity: DataFrame, entity: String, id: String,
      attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "goldenRecord: at least one attribute")
    import org.apache.spark.sql.expressions.Window
    val melted = withEntity.select(
      col(entity).as("_e"),
      explode(array(attrs.map(a =>
        struct(lit(a).as("f"), col(a).cast("string").as("v"))): _*))
        .as("_fv"))
      .select(col("_e"), col("_fv.f").as("_f"), col("_fv.v").as("_v"))
      .filter(col("_v").isNotNull)
    val w = Window.partitionBy(col("_e"), col("_f"))
      .orderBy(col("_n").desc, col("_v"))
    val winners = melted.groupBy(col("_e"), col("_f"), col("_v"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
    val sizes = withEntity.groupBy(col(entity).as("_e"))
      .agg(count_distinct(col(id)).as("n_records"))
    // explicit max(when(...)) pivot keeps column order and types
    // deterministic (pivot() would re-derive them from the data)
    val aggs = attrs.map(a =>
      max(when(col("_f") === a, col("_v"))).as(a))
    val golden = winners.groupBy(col("_e")).agg(aggs.head, aggs.tail: _*)
    sizes.join(golden, Seq("_e"))
      .select((col("_e").as("entity") +: col("n_records") +:
        attrs.map(col)): _*)
  }

  /** STREAMING record linkage — the ingest twin of [[linkageScores]]
    * in the [[Similarity.semDedupIngest]] shape: each micro-batch
    * scores (a) its own in-block pairs and (b) its arrivals against
    * every EARLIER-ARRIVED record in the block-bucketed index table,
    * appends pairs at or above `threshold` to `matchTable`, and lands
    * all arrivals in the index. Because every cross-batch pair is
    * scored exactly once (each record pairs against strictly earlier
    * batches plus its own batch), the union of all appended matches
    * over any batch split EQUALS the one-shot batch
    * [[linkageScores]].filter(score ≥ threshold) over everything
    * ingested — StreamingSpec pins the equality. Requires SYMMETRIC
    * agreement predicates (equality-shaped, as linkage fields are):
    * cross-batch pairs normalize to (least id, greatest id), so
    * f.agree(x, y) must equal f.agree(y, x).
    *
    * Scale shape: the index side of the cross-batch join arrives
    * bucketed on the blocking key, so the growing index never
    * shuffles — each batch shuffles only itself; per-batch work is
    * batch × in-block index slice, the semDedupIngest contract.
    *
    * Delivery: exactly-once through the [[Sketches.landDelta]]
    * delta-partition contract — replayed batch ids at or below the
    * state mark skip whole, and a crash-window redelivery rewrites its
    * own match/index partitions; the seniority join reads only
    * strictly earlier index partitions, so the replayed score set is
    * identical. Match schema: (a_id, b_id, score, batch_id); index
    * schema: (_id, _blk, attrs…, batch_id). */
  def linkageIngest(id: String, block: Column, fields: Seq[LinkField],
      threshold: Double, matchTable: String, indexTable: String,
      stateTable: String, indexBuckets: Int = 32): (DataFrame, Long) => Unit = {
    require(fields.nonEmpty, "linkageIngest: at least one field")
    val attrs = fields.map(_.attr).distinct
    (batch: DataFrame, batchId: Long) => if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import spark.implicits._
      val lastBatch: Long =
        if (spark.catalog.tableExists(stateTable))
          spark.table(stateTable).head().getLong(0)
        else -1L
      if (batchId > lastBatch) {
        val proj = batch.select(
          (col(id).as("_id") +: block.as("_blk") +: attrs.map(col)): _*)
          .localCheckpoint() // feeds both joins and the index landing
        val seen =
          if (spark.catalog.tableExists(indexTable))
            spark.table(indexTable).filter(col("batch_id") < batchId)
              .drop("batch_id")
          else proj.limit(0)
        val inBatch = linkageScores(proj, "_id", col("_blk"), fields)
          .filter(col("score") >= threshold)
          .select(col("a_id"), col("b_id"), col("score"))
        val aSide = seen.select(
          (col("_id").as("a_id") +: col("_blk") +:
            attrs.map(n => col(n).as(s"_a_$n"))): _*)
        val bSide = proj.select(
          (col("_id").as("b_id") +: col("_blk").as("_blkb") +:
            attrs.map(n => col(n).as(s"_b_$n"))): _*)
        val crossPairs = aSide.join(bSide, col("_blk") === col("_blkb"))
        val withAgree = fields.foldLeft(crossPairs) { (df, f) =>
          df.withColumn(s"agree_${f.attr}",
            coalesce(f.agree(col(s"_a_${f.attr}"), col(s"_b_${f.attr}")),
              lit(false)))
        }
        val score = fields.map { f =>
          when(col(s"agree_${f.attr}"), lit(f.wAgree))
            .otherwise(lit(f.wDisagree))
        }.reduceLeft(_ + _)
        val vsIndex = withAgree.select(
            least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"),
            score.as("score"))
          .filter(col("score") >= threshold)
        Sketches.landDelta(inBatch.unionByName(vsIndex), batchId, matchTable)
        Sketches.landDelta(proj, batchId, indexTable,
          Some((indexBuckets, "_blk")))
        Seq(batchId).toDF("last_batch")
          .write.mode("overwrite").saveAsTable(stateTable)
      }
    }
  }
}
