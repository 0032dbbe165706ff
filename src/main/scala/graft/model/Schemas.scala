package graft.model

import org.apache.spark.sql.types._

/** Core row types of the engine (SURVEY.md §1.2).
  *
  * The input table shape is fixed by the north rule (BASELINE.json
  * `input_hint`): an Iceberg-style table of image + caption pairs.
  */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String, // "png" | "jpg"
    caption: String,
    phash: Long
)

/** Input row + the planted ground truth; the pipeline never sees
  * `true_cluster_id` (it is metric-only, mirroring the reference where truth
  * structures exist only for accuracy computation,
  * `/root/reference/lsh_based_clustering.py:157-158`). */
final case class GenRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    true_cluster_id: Long,
    part_id: Int
)

/** Per-row derived features (SURVEY.md §2.2 P1/P2).
  * `shingles` carries caption q-grams AND pHash bit n-grams (domain-tagged,
  * duplicates preserved — Sorensen-Dice divides by list lengths, reference
  * `lsh_based_clustering.py:242`). */
final case class FeatureRow(
    row_id: Long,
    caption: String,
    shingles: Array[Long],
    minhash: Array[Int], // length m; 32-bit lanes (MinHash.signature doc)
    simhash: Long,
    phash: Long
)

final case class Assignment(row_id: Long, cluster_id: Long)

final case class CandidatePair(a: Long, b: Long) // normalized a < b

object Schemas {
  /** The north-rule input schema (BASELINE.json input_hint). */
  val imageSchema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("phash", LongType, nullable = false)
  ))

  val truthSchema: StructType = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("image_id", StringType, nullable = false),
    StructField("true_cluster_id", LongType, nullable = false)
  ))
}

/** Pipeline hyper-parameters, defaults mirroring the reference
  * (`/root/reference/lsh_based_clustering.py:64` — q=6, k=3, m=40, L=32,
  * distance_threshold=12; thresholds at `:522`, `:569-570`; reps at `:110`).
  */
final case class GraftConfig(
    q: Int = 6,
    k: Int = 3,
    m: Int = 40,
    bandRounds: Int = 32,          // L
    distanceThreshold: Int = 12,
    // NOTE: the reference's stricter chunk-phase verify thresholds
    // (0.32/0.28, ref :522) are intentionally NOT configured: the fused
    // verify at sdHigh/sdLow (Pipeline.initialState) accepts a superset of
    // what the chunk phase would, which is monotone/recall-safe — see the
    // comment at the fused-verify site (VERDICT r2 #6 removed the dead knobs)
    sdHigh: Double = 0.25,         // :569
    sdLow: Double = 0.22,          // :570
    repsPerCluster: Int = 5,       // :110
    hammingThreshold: Int = 16,    // graft: phash bit distance confirm (AND-side)
    minLcs: Int = 16,              // graft: suffix-array exact-match confirm
    saltShards: Int = 16,          // fixed salt fan-out inside hot buckets
    usePhash: Boolean = true,      // false = text-only corpora (e.g. evyat DNA
                                   // parity): no pHash bit n-grams in shingles
    anchorAlphabet: String = "etaoinshrdlucmfwyp", // chunk-phase anchor draw;
                                   // "ACGT" for DNA parity (ref :491)
    chunkRounds: Int = 8,          // fused common-substring rounds (ref: ≤64 adaptive)
    maxMacroRounds: Int = 0,       // 0 = adaptive (C6, ref :123-125,:602 scaled by L);
                                   // >0 = fixed budget + minWorkRate stop (tests)
    fusedBandRowCap: Long = 512000000L, // max exploded (row, band) rows per fused
                                   // macro-round pass: passSize fuses T rounds only
                                   // while T × L × |focus| stays under this, so a
                                   // fused pass's wide exchange is bounded by the
                                   // same volume as round 0's explode at any scale
    minWorkRate: Double = 0.005,   // :571 low_work_rate analog (explicit mode only)
    round0Batches: Int = 1,        // split the round-0 explode/verify into
                                   // this many sequentially-retired queries:
                                   // per-bucket chains are identical (a
                                   // bucket never spans batches), so the
                                   // edge set is unchanged; in-flight
                                   // shuffle scratch divides by ~batches.
                                   // Tune to the executor-disk budget; >1
                                   // only pays at the 10M+-row scales where
                                   // one query's intermediates outgrow disk
    seed: Long = 42L
)
