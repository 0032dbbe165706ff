package graft.lsh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.GraftConfig
import graft.util.Hashing

/** P4 + V4 + J1 — LSH banding and candidate-pair emission (SURVEY.md §2.2,
  * §2.3, §2.4).
  *
  * The reference's per-round scheme (`/root/reference/lsh_based_clustering.py
  * :531-548,633-647`): pick a random k-of-m lane subset, compact the chosen
  * MinHash values to one integer, sort rows by it, and pair only ADJACENT
  * equal signatures — a bucket of b rows yields exactly b-1 chained pairs,
  * never C(b,2). Rounds are an OR-construction: more rounds only add pairs.
  *
  * Spark realization: banding is MONOTONE, so L rounds whose candidate
  * generation doesn't depend on intermediate merges are FUSED into one job
  * (SURVEY.md §7.3 — the main scale lever): L band hashes are computed as
  * column expressions (whole-stage codegen), exploded, and shuffled once.
  * A fused macro pass of T rounds explodes all T×L bands in ONE scan of
  * its focus relation ([[explodeFusedBands]]): each row picks the literal
  * (seed, lanes) list of the rounds that sample it and hashes per exploded
  * row, so the plan has no per-round branches and keeps the focus
  * relation's partition count.
  * Within a bucket, chaining is a window `lag` — with SALTING for
  * skew-heavy mega-buckets (north rule): each bucket is split into
  * `saltShards` shards keyed by a per-(row, bucket) hash; rows chain within
  * their shard, and shard minima are chained across shards, preserving the
  * exact "b rows → b-1 pairs" connectivity while capping any single window
  * partition at ~bucket/shards rows.
  *
  * Shuffle diet (round 4, VERDICT r3 #1): the exploded relation is TWO
  * columns, `(row_id, band_hash)` — the per-round SEED is folded into the
  * band hash itself, so the hash alone keys buckets globally and the band
  * int the round-3 plan carried through the L×n wide exchange is gone.
  * Seeds are unique per (macro round, band) and domain-separated from the
  * chunk-phase round seeds, so buckets of different rounds can only merge
  * on a 64-bit hash collision — and banding being an OR-construction,
  * a collision only ADDS candidates (verification still gates every pair).
  */
object Banding {

  private final val BAND_DOMAIN = 0x42414E44L // "BAND"

  /** Per-round band seeds for the L fused rounds of one macro iteration —
    * each seed both draws the round's k-of-m lane subset and domain-
    * separates the round's buckets inside the band hash. */
  def laneSeeds(cfg: GraftConfig, macroRound: Int): Array[Long] =
    Array.tabulate(cfg.bandRounds)(r =>
      Hashing.hash3(cfg.seed, BAND_DOMAIN, macroRound.toLong * 100000L + r))

  /** Seeded k-of-m lane subsets for rounds [0, L) of a macro iteration. */
  def lanes(cfg: GraftConfig, macroRound: Int): Array[Array[Int]] =
    laneSeeds(cfg, macroRound).map(Hashing.sampleIndices(_, cfg.m, cfg.k))

  /** One band of a macro iteration: its seed and its k lane indices. */
  private final case class Band(seed: Long, lanes: Seq[Int])

  private def bands(cfg: GraftConfig, macroRound: Int): Seq[Band] =
    laneSeeds(cfg, macroRound).zip(lanes(cfg, macroRound)).toSeq
      .map { case (seed, ls) => Band(seed, ls.toSeq) }

  /** One globally-keyed band-hash column per round, for a `minhash` array
    * column: hash r = xxhash64(seed_r, minhash[lanes_r]). Exposed as
    * individual columns so callers can BATCH the explode over subsets of
    * rounds (bounding the in-flight shuffle footprint of one query —
    * buckets live entirely within one round's hash, so batching never
    * splits a bucket and the emitted chain-pair set is identical). */
  def bandHashCols(minhashCol: Column, cfg: GraftConfig, macroRound: Int): Seq[Column] =
    bands(cfg, macroRound).map { b =>
      xxhash64((lit(b.seed) +: b.lanes.map(i => minhashCol.getItem(i))): _*)
    }

  /** Exploded (row_id, band_hash) relation for the fused macro rounds
    * `rounds` over a focus relation with `row_id`, `minhash` and an int
    * rank `rk`: rows of rank 0 are banded in every round, rows of rank r
    * in the rounds j with `rankOf(j) == r`, any other rank in none. A CASE
    * on `rk` picks the row's literal list of (seed, lanes) bands and ONE
    * explode emits it, so the plan scans `focus` once and keeps its
    * partitioning. The projection after the explode is O(k), not one hash
    * expression per band (T×L of them in one generated method):
    * band_hash = xxhash64(seed, minhash[lanes(0)], …, minhash[lanes(k-1)])
    * — the same value [[bandHashCols]] computes for that round and band. */
  def explodeFusedBands(focus: DataFrame, cfg: GraftConfig, rounds: Seq[Int],
      rankOf: Int => Int): DataFrame = {
    def bandsOf(js: Seq[Int]): Column = typedLit(js.flatMap(bands(cfg, _)))
    val pick = rounds.groupBy(rankOf).toSeq.sortBy(_._1)
      .foldLeft(when(col("rk") === 0, bandsOf(rounds))) { case (c, (r, js)) =>
        c.when(col("rk") === r, bandsOf(js))
      }
    val band = col("band")
    focus.select(col("row_id"), col("minhash"), explode(pick).as("band"))
      .select(col("row_id"), xxhash64((band("seed") +: (0 until cfg.k).map(i =>
        col("minhash").getItem(band("lanes").getItem(i)))): _*).as("band_hash"))
  }

  /** V4 — salted within-bucket chaining. Input must have columns
    * (row_id, band_hash); output is normalized pairs (a < b), distinct.
    *
    * Connectivity invariant: for every band_hash bucket of b rows the
    * emitted pairs form a spanning chain (b-1 pairs): rows chain within a
    * salt shard, shard minima chain across shards. This is the reference's
    * adjacency pairing (`:507-509,541-542,639-641`) made skew-proof.
    *
    * Plan shape (round-2 fix): the wide (band_hash, salt) exchange of the
    * exploded L×n relation happens exactly ONCE — the window pass that
    * emits the intra-shard chain. Round 1 derived the shard minima from a
    * second branch off the same window, and Catalyst's column pruning
    * specialized the branches into TWO wide exchanges (PlanAudit finding,
    * commit e0388f1). The shard minimum is simply min(row_id) per shard (the
    * chain is ordered by row_id), so it is now recomputed via a hash
    * aggregate whose map-side partial aggregation means only distinct
    * (band_hash, salt, min) tuples are shuffled — a tiny exchange, bounded
    * by buckets × saltShards, never L×n. The input is scanned twice, but
    * callers keep it cheap to recompute (cached features + codegen'd hash
    * columns), trading a second wide SHUFFLE for a second map pass.
    */
  def chainPairs(buckets: DataFrame, saltShards: Int): DataFrame = {
    val salted = buckets.withColumn(
      "salt", pmod(xxhash64(col("row_id"), col("band_hash")), lit(saltShards)))

    // alias y := row_id AFTER the window: aliasing before it makes Catalyst
    // carry BOTH y and row_id through the wide exchange (round-4 PlanAudit
    // finding — one redundant 8-byte column on every exploded row)
    val wIntra = Window.partitionBy("band_hash", "salt").orderBy("row_id")
    val intra = salted
      .withColumn("x", lag("row_id", 1).over(wIntra))
      .where(col("x").isNotNull)
      .select(col("x"), col("row_id").as("y"))

    // Shard minima chained across shards of the same bucket — partial-agg
    // shuffle (≤ saltShards rows per bucket) + a small window.
    val wInter = Window.partitionBy("band_hash").orderBy("salt", "mn")
    val inter = salted
      .groupBy("band_hash", "salt").agg(min("row_id").as("mn"))
      .withColumn("prev", lag("mn", 1).over(wInter))
      .where(col("prev").isNotNull)
      .select(col("prev").as("x"), col("mn").as("y"))

    intra.select("x", "y").unionAll(inter)
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Full fused banding pass: features (row_id, minhash) → candidate pairs
    * (a, b), a < b, distinct across all L rounds. */
  def candidatePairs(features: DataFrame, cfg: GraftConfig, macroRound: Int): DataFrame =
    chainPairs(features.select(col("row_id"),
      explode(array(bandHashCols(col("minhash"), cfg, macroRound): _*)).as("band_hash")),
      cfg.saltShards)
}
