package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Similarity
import graft.cluster.{ConnectedComponents, Pipeline}
import graft.dedup.DocDedup
import graft.eval.Metrics
import graft.gen.SyntheticCorpus
import graft.lsh.Banding
import graft.mm.Multimodal
import graft.model.GraftConfig
import graft.text.TextOps

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (names carry the §2 operator ids), plus the training-data
  * pipeline extensions (dedup / similarity / text / multimodal). Every
  * SQL-expressible operator has a DuckDB oracle in `oracleSql` with
  * IDENTICAL column names and types; hash-internal operators (MinHash,
  * SimHash, hyperplane LSH) are rows-only here and correctness-tested
  * against planted ground truth in ScalaTest instead.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic document bucketing used by several operator demos:
    * bucket = (lang, n_chars % 20); the SQL mirror is a window partition. */
  private def docBuckets(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id").as("row_id"),
      xxhash64(col("lang"), pmod(col("n_chars"), lit(20))).as("band_hash"))

  /** V4 chain pairs over the doc buckets (saltShards=1 ⇒ plain adjacency
    * chaining, exactly the reference's sort-adjacent pairing). */
  private def docChainPairs(s: SparkSession, dir: String): DataFrame =
    Banding.chainPairs(docBuckets(s, dir), saltShards = 1)

  /** Real connected-components assignment over the chain edges. */
  private def docClusters(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).select(col("doc_id").as("row_id"))
    ConnectedComponents.assign(ids,
      ConnectedComponents.components(s, docChainPairs(s, dir)))
  }

  /** pred/truth pair for the metric operators (M1–M6): pred = chain-CC
    * clusters, truth = source column (impure w.r.t. pred ⇒ nondegenerate). */
  private def predTruth(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pred = docClusters(s, dir)
    val truth = docs(s, dir).select(
      col("doc_id").as("row_id"), col("source").as("true_cluster_id"))
    (pred, truth)
  }

  private def metricsReport(s: SparkSession, dir: String): Metrics.Report = {
    val (pred, truth) = predTruth(s, dir)
    Metrics.evaluate(s, pred, truth)
  }

  private def r6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Flagship: full image+caption dedup pipeline on a deterministic
    * synthetic corpus (the north-rule capability); driver smoke-checks
    * rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val gen = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(groups = 60)).cache()
    val res = Pipeline.run(spark, SyntheticCorpus.imagesOf(gen), GraftConfig(seed = 7L))
    val rep = Metrics.evaluate(spark, res.assign, SyntheticCorpus.truthOf(gen))
    import spark.implicits._
    val out = Seq((rep.n, rep.clusters, rep.singles, r6(rep.dupPairRecall),
      r6(rep.dupPairPrecision), rep.falsePositives))
      .toDF("n", "clusters", "singles", "dup_pair_recall", "dup_pair_precision", "false_positives")
    gen.unpersist()
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational / aggregation coverage (A1/A8 analogs) ----
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // A5/O3 — per-group top-k via window (the reps_per_cluster machinery)
    "a5_topk_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("l_suppkey"), col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"), col("rk").cast("long").as("rk"))
    }),

    // A7/S2 — majority vote (modal event_type per user, deterministic tie-break)
    "a7_majority_vote" -> ((s, dir) => {
      val counts = s.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("cnt").desc, col("event_type"))
      counts.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select("user_id", "event_type", "cnt")
    }),

    // A2 — singles count (clusters of size 1)
    "a2_singles_count" -> ((s, dir) => {
      docClusters(s, dir).groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .agg(sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singles"),
          count(lit(1)).as("clusters"))
    }),

    // A4 — average cluster (chunk) size
    "a4_avg_group_size" -> ((s, dir) => {
      docClusters(s, dir).groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .agg(round(avg("sz"), 6).as("avg_size"))
    }),

    // ---- pipeline-stage operators over documents ----
    // P1 — q-gram shingling stats (list + set sizes, 4-grams); guarded so
    // texts shorter than the gram width yield an empty list (Spark sequence
    // reverses on a descending range, DuckDB range is empty — ADVICE r1)
    "p1_shingle_stats" -> ((s, dir) => {
      val grams = when(length(col("text")) >= 4,
        transform(sequence(lit(1), length(col("text")) - 3),
          i => col("text").substr(i, lit(4))))
        .otherwise(typedLit(Array.empty[String]))
      docs(s, dir).select(col("doc_id"),
        size(grams).cast("long").as("n_grams"),
        size(array_distinct(grams)).cast("long").as("n_distinct"))
    }),

    // P3 — common-substring anchor signature (cmn_substr transposition)
    "p3_cmn_substr" -> ((s, dir) => {
      val start = greatest(instr(col("text"), lit("data")), lit(1))
      docs(s, dir).select(col("doc_id"),
        col("text").substr(start, lit(12)).as("sig"))
    }),

    // V4/J1/O1 — sort-adjacency candidate pairing via bucket chaining
    "v4_adjacency_pairs" -> ((s, dir) => docChainPairs(s, dir)),

    // V1 — Sorensen-Dice + Jaccard verification on the candidate pairs
    "v1_dice_pairs" -> ((s, dir) =>
      DocDedup.ngramJaccardPairs(docs(s, dir), docChainPairs(s, dir), q = 3)),

    // V2 — edit-distance confirm (built-in levenshtein, prefix-bounded)
    "v2_levenshtein_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      val fa = d.select(col("doc_id").as("a"), col("text").as("t_a"))
      val fb = d.select(col("doc_id").as("b"), col("text").as("t_b"))
      docChainPairs(s, dir).join(fa, "a").join(fb, "b")
        .select(col("a"), col("b"),
          levenshtein(substring(col("t_a"), 1, 60), substring(col("t_b"), 1, 60))
            .cast("long").as("lev60"))
    }),

    // C1/C2/C3 — union-find via large-star/small-star connected components
    "cc_min_label" -> ((s, dir) => docClusters(s, dir)
      .select(col("row_id").as("doc_id"), col("cluster_id"))),

    // exact dedup — hash-groupBy canonicalization (prefix key to get groups)
    "dedup_exact" -> ((s, dir) =>
      DocDedup.exact(docs(s, dir), md5(substring(col("text"), 1, 12)))
        .select(col("doc_id"), col("canonical_id"), col("group_size"))),

    // S2/A7/O4 — cluster export: majority label + sorted members
    "s2_export_clusters" -> ((s, dir) => {
      val joined = docClusters(s, dir)
        .join(docs(s, dir).select(col("doc_id").as("row_id"), col("source")), "row_id")
      val counts = joined.groupBy("cluster_id", "source").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("cnt").desc, col("source"))
      val majority = counts.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1).select(col("cluster_id"), col("source").as("majority_source"))
      val members = joined.groupBy("cluster_id")
        .agg(array_join(transform(sort_array(collect_list(col("row_id"))),
            x => x.cast("string")), ",").as("members"),
          count(lit(1)).as("sz"))
      members.join(majority, "cluster_id")
        .select("cluster_id", "majority_source", "sz", "members")
    }),

    // ---- metric operators M1–M6 (single-row outputs) ----
    "m1_gamma_accuracy" -> ((s, dir) => {
      val rep = metricsReport(s, dir)
      import s.implicits._
      Seq((r6(rep.gammaAccuracy(0.6)), r6(rep.gammaAccuracy(0.8)),
        r6(rep.gammaAccuracy(0.95)), r6(rep.gammaAccuracy(1.0))))
        .toDF("g060", "g080", "g095", "g100")
    }),
    "m2_confusion" -> ((s, dir) => {
      val rep = metricsReport(s, dir)
      import s.implicits._
      Seq((rep.falsePositives, rep.trueNegatives, rep.falseNegatives,
        rep.truePositives, r6(rep.csi)))
        .toDF("fp", "tn", "fn", "tp", "csi")
    }),
    "m3_nmi" -> ((s, dir) => {
      val rep = metricsReport(s, dir)
      import s.implicits._
      Seq(Tuple1(r6(rep.nmi))).toDF("nmi")
    }),
    "m4_ari" -> ((s, dir) => {
      val rep = metricsReport(s, dir)
      import s.implicits._
      Seq(Tuple1(r6(rep.adjustedRand))).toDF("ari")
    }),
    "m5_purity" -> ((s, dir) => {
      val rep = metricsReport(s, dir)
      import s.implicits._
      Seq(Tuple1(r6(rep.purity))).toDF("purity")
    }),
    "m6_dup_pair_stats" -> ((s, dir) => {
      val rep = metricsReport(s, dir)
      import s.implicits._
      Seq((r6(rep.dupPairRecall), r6(rep.dupPairPrecision)))
        .toDF("recall", "precision")
    }),

    // ---- text analysis ----
    "text_tokens" -> ((s, dir) => TextOps.tokenStats(docs(s, dir))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_chars_obs").cast("long").as("n_chars_obs"), col("n_subwords"))),
    "text_quality" -> ((s, dir) => TextOps.qualityScore(docs(s, dir))
      .select(col("doc_id"), col("mean_word_len"), col("stopword_ratio"),
        col("n_punct").cast("long").as("n_punct"))),
    "text_langid" -> ((s, dir) => TextOps.langId(docs(s, dir))
      .select(col("doc_id"), col("lang_pred"), col("score_en"), col("score_de"),
        col("score_es"), col("score_fr"))),
    "text_fingerprint" -> ((s, dir) => TextOps.fingerprint(docs(s, dir))),

    // ---- similarity search over embeddings ----
    "sim_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e, k = 5, dim = 64)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long").as("rk"))
    }),
    // LSH-bucketed ANN — deterministic given its seeds, so the sf0.01
    // (query, neighbor, rank) set is pinned as a VALUES oracle (VERDICT r2
    // #4); the float sim column is dropped from the compared output (the
    // driver's hash compare is exact and literal-vs-computed doubles can
    // differ in the last ulp). Recall vs brute force is owned by ScalaTest.
    // nPlanes is passed explicitly: autoPlanes(n) = 4 for every n ≤ 8192,
    // which covers BOTH driver fixtures (sf0.01: 500 vectors, sf0.1: 2000),
    // so this is behavior-identical to the autoPlanes default while skipping
    // its per-call corpus count() job (VERDICT r3 #6). The pinned VALUES
    // oracle below is coupled to exactly this plane count.
    "sim_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(s, e.where(col("vec_id") < 10), e, k = 5, dim = 64,
        nPlanes = Similarity.autoPlanes(8192))
        .select(col("query_id"), col("neighbor_id"), col("rk").cast("long").as("rk"))
    }),

    // ---- hash-internal dedup (deterministic given seeds: sf0.01 histograms
    // pinned as VALUES oracles; planted-truth semantics in DocDedupSpec) ----
    "dedup_minhash_lsh" -> ((s, dir) =>
      DocDedup.minhashLsh(s, docs(s, dir), GraftConfig(q = 5, bandRounds = 16), 0.92)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))),
    "dedup_simhash" -> ((s, dir) =>
      DocDedup.simhash(s, docs(s, dir), hammingMax = 3)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))),

    // ---- multimodal plumbing (payload = utf-8 bytes of text; decode STUB).
    // Oracle note (ADVICE r1): the DuckDB mirrors read characters via
    // ascii/substr where Spark reads bytes — equivalent only because the
    // documents fixture is ASCII; byte-exact for any input on the Spark side.
    "mm_payload_meta" -> ((s, dir) => {
      val payloads = docs(s, dir).select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      Multimodal.extractMeta(s, payloads)
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("first_byte").cast("long").as("first_byte"),
          col("fake_w").cast("long").as("fake_w"),
          col("fake_h").cast("long").as("fake_h"))
    }),

    // real-decode path: payloads sniffed by magic bytes; PNG/JPEG decode via
    // javax.imageio (pixels → w/h/pHash), others degrade to the fake (these
    // text payloads all take the degrade branch; the real branch is
    // pixel-verified against the generator in MultimodalDecodeSpec)
    "mm_decode_meta" -> ((s, dir) => {
      val payloads = docs(s, dir).select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      Multimodal.decodeMeta(s, payloads)
        .select(col("doc_id"), col("fmt_detected"),
          col("w").cast("long").as("w"), col("h").cast("long").as("h"),
          col("phash"))
    }),

    // frame-sampling analog: k deterministic byte offsets per payload
    "mm_frame_samples" -> ((s, dir) => {
      val payloads = docs(s, dir).select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      Multimodal.sampleOffsets(s, payloads, k = 4)
        .select(col("doc_id"), col("sample_idx").cast("long").as("sample_idx"),
          col("byte_offset").cast("long").as("byte_offset"),
          col("byte_value").cast("long").as("byte_value"))
    }),

    // ---- flagship image pipeline (rows-only; planted-truth ScalaTest) ----
    "pipeline_images_e2e" -> ((s, dir) => entry(s))
  )

  /** DuckDB-dialect oracles; column names/types match the Spark outputs. */
  def oracleSql: Map[String, String] = {
    val chainPairs =
      """WITH chain AS (
        |  SELECT doc_id, lag(doc_id) OVER (
        |      PARTITION BY lang, n_chars % 20 ORDER BY doc_id) AS prev
        |  FROM documents)
        |SELECT prev AS a, doc_id AS b FROM chain WHERE prev IS NOT NULL""".stripMargin
    val clusters =
      """SELECT doc_id, min(doc_id) OVER (
        |    PARTITION BY lang, n_chars % 20) AS cluster_id
        |FROM documents""".stripMargin
    val contingency =
      s"""WITH pred AS ($clusters),
        |joined AS (
        |  SELECT p.doc_id, p.cluster_id, d.source AS truth
        |  FROM pred p JOIN documents d ON p.doc_id = d.doc_id),
        |cont AS (
        |  SELECT cluster_id, truth, count(*)::BIGINT AS nij
        |  FROM joined GROUP BY 1, 2),
        |psz AS (
        |  SELECT cluster_id, CAST(sum(nij) AS BIGINT) AS ni,
        |         count(*)::BIGINT AS dt FROM cont GROUP BY 1),
        |tsz AS (
        |  SELECT truth, CAST(sum(nij) AS BIGINT) AS nj FROM cont GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM joined)""".stripMargin

    Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |  round(sum(l_quantity), 4) AS sum_qty,
          |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
          |  count(*)::BIGINT AS n_rows
          |FROM lineitem GROUP BY 1, 2""".stripMargin,

      "a5_topk_per_group" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber::BIGINT AS l_linenumber,
          |  l_extendedprice, rk::BIGINT AS rk
          |FROM (SELECT *, row_number() OVER (PARTITION BY l_suppkey
          |        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
          |      FROM lineitem) WHERE rk <= 3""".stripMargin,

      "a7_majority_vote" ->
        """SELECT user_id, event_type, cnt FROM (
          |  SELECT user_id, event_type, count(*)::BIGINT AS cnt,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY count(*) DESC, event_type) AS rk
          |  FROM events GROUP BY user_id, event_type) WHERE rk = 1""".stripMargin,

      "a2_singles_count" ->
        s"""WITH cl AS ($clusters)
          |SELECT CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singles,
          |  count(*)::BIGINT AS clusters
          |FROM (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1)""".stripMargin,

      "a4_avg_group_size" ->
        s"""WITH cl AS ($clusters)
          |SELECT round(avg(sz), 6) AS avg_size
          |FROM (SELECT cluster_id, count(*)::BIGINT AS sz FROM cl GROUP BY 1)""".stripMargin,

      "p1_shingle_stats" ->
        """SELECT doc_id,
          |  len(list_transform(range(1, length(text) - 2),
          |      i -> substr(text, i::INT, 4)))::BIGINT AS n_grams,
          |  len(list_distinct(list_transform(range(1, length(text) - 2),
          |      i -> substr(text, i::INT, 4))))::BIGINT AS n_distinct
          |FROM documents""".stripMargin,

      "p3_cmn_substr" ->
        """SELECT doc_id,
          |  substr(text, greatest(instr(text, 'data'), 1), 12) AS sig
          |FROM documents""".stripMargin,

      "v4_adjacency_pairs" -> chainPairs,

      "v1_dice_pairs" ->
        s"""WITH pairs AS ($chainPairs),
          |g AS (SELECT doc_id,
          |        list_transform(range(1, length(text) - 1),
          |          i -> substr(text, i::INT, 3)) AS grams
          |      FROM documents)
          |SELECT p.a, p.b,
          |  round(len(list_intersect(list_distinct(ga.grams), list_distinct(gb.grams)))::DOUBLE
          |    / (len(list_distinct(ga.grams)) + len(list_distinct(gb.grams))
          |       - len(list_intersect(list_distinct(ga.grams), list_distinct(gb.grams)))), 6) AS jaccard,
          |  round(2.0 * len(list_intersect(list_distinct(ga.grams), list_distinct(gb.grams)))
          |    / (len(ga.grams) + len(gb.grams)), 6) AS dice
          |FROM pairs p
          |JOIN g ga ON ga.doc_id = p.a
          |JOIN g gb ON gb.doc_id = p.b""".stripMargin,

      "v2_levenshtein_pairs" ->
        s"""WITH pairs AS ($chainPairs)
          |SELECT p.a, p.b,
          |  levenshtein(substr(da.text, 1, 60), substr(db.text, 1, 60))::BIGINT AS lev60
          |FROM pairs p
          |JOIN documents da ON da.doc_id = p.a
          |JOIN documents db ON db.doc_id = p.b""".stripMargin,

      "cc_min_label" -> clusters,

      "dedup_exact" ->
        """SELECT doc_id,
          |  min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 12))) AS canonical_id,
          |  count(*) OVER (PARTITION BY md5(substr(text, 1, 12)))::BIGINT AS group_size
          |FROM documents""".stripMargin,

      "s2_export_clusters" ->
        s"""WITH cl AS ($clusters),
          |joined AS (SELECT c.doc_id, c.cluster_id, d.source
          |  FROM cl c JOIN documents d ON c.doc_id = d.doc_id),
          |maj AS (SELECT cluster_id, source AS majority_source FROM (
          |  SELECT cluster_id, source, row_number() OVER (PARTITION BY cluster_id
          |    ORDER BY count(*) DESC, source) AS rk
          |  FROM joined GROUP BY cluster_id, source) WHERE rk = 1)
          |SELECT j.cluster_id, m.majority_source, count(*)::BIGINT AS sz,
          |  string_agg(j.doc_id, ',' ORDER BY j.doc_id) AS members
          |FROM joined j JOIN maj m ON j.cluster_id = m.cluster_id
          |GROUP BY j.cluster_id, m.majority_source""".stripMargin,

      "m1_gamma_accuracy" ->
        s"""$contingency,
          |pure AS (
          |  SELECT p.ni, t.nj FROM psz p
          |  JOIN cont c ON c.cluster_id = p.cluster_id
          |  JOIN tsz t ON t.truth = c.truth
          |  WHERE p.dt = 1),
          |tot AS (SELECT count(*)::DOUBLE AS n_clusters FROM psz)
          |SELECT
          |  round(coalesce((SELECT sum(CASE WHEN ni <= nj AND ni >= 0.6 * nj THEN 1 ELSE 0 END) FROM pure), 0) / t.n_clusters, 6) AS g060,
          |  round(coalesce((SELECT sum(CASE WHEN ni <= nj AND ni >= 0.8 * nj THEN 1 ELSE 0 END) FROM pure), 0) / t.n_clusters, 6) AS g080,
          |  round(coalesce((SELECT sum(CASE WHEN ni <= nj AND ni >= 0.95 * nj THEN 1 ELSE 0 END) FROM pure), 0) / t.n_clusters, 6) AS g095,
          |  round(coalesce((SELECT sum(CASE WHEN ni <= nj AND ni >= 1.0 * nj THEN 1 ELSE 0 END) FROM pure), 0) / t.n_clusters, 6) AS g100
          |FROM tot t""".stripMargin,

      "m2_confusion" ->
        s"""$contingency,
          |panchor AS (SELECT cluster_id, truth AS anchor_truth FROM (
          |  SELECT cluster_id, truth,
          |    row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rk
          |  FROM joined) WHERE rk = 1),
          |tanchor AS (SELECT truth, cluster_id AS anchor_pred FROM (
          |  SELECT truth, cluster_id,
          |    row_number() OVER (PARTITION BY truth ORDER BY doc_id) AS rk
          |  FROM joined) WHERE rk = 1),
          |fpc AS (SELECT count(*)::BIGINT AS fp FROM joined j
          |  JOIN panchor pa ON j.cluster_id = pa.cluster_id
          |  WHERE j.truth <> pa.anchor_truth),
          |fnc AS (SELECT count(*)::BIGINT AS fn FROM joined j
          |  JOIN tanchor ta ON j.truth = ta.truth
          |  WHERE j.cluster_id <> ta.anchor_pred)
          |SELECT fp, (n - fp)::BIGINT AS tn, fn, (n - fn)::BIGINT AS tp,
          |  round((n - fn)::DOUBLE / ((n - fn) + fn + fp), 6) AS csi
          |FROM fpc, fnc, nn""".stripMargin,

      "m3_nmi" ->
        s"""$contingency,
          |mi AS (SELECT sum((c.nij::DOUBLE / n.n) *
          |    ln(c.nij::DOUBLE * n.n / (p.ni::DOUBLE * t.nj))) AS v
          |  FROM cont c JOIN psz p ON c.cluster_id = p.cluster_id
          |  JOIN tsz t ON c.truth = t.truth, nn n),
          |hu AS (SELECT -sum((ni::DOUBLE / n.n) * ln(ni::DOUBLE / n.n)) AS v FROM psz, nn n),
          |hv AS (SELECT -sum((nj::DOUBLE / n.n) * ln(nj::DOUBLE / n.n)) AS v FROM tsz, nn n)
          |SELECT round(greatest(mi.v / ((hu.v + hv.v) / 2), 0), 6) AS nmi
          |FROM mi, hu, hv""".stripMargin,

      "m4_ari" ->
        s"""$contingency,
          |pb AS (SELECT sum(nij::DOUBLE * (nij - 1) / 2) AS v FROM cont),
          |pp AS (SELECT sum(ni::DOUBLE * (ni - 1) / 2) AS v FROM psz),
          |pt AS (SELECT sum(nj::DOUBLE * (nj - 1) / 2) AS v FROM tsz)
          |SELECT round(
          |  (pb.v - pp.v * pt.v / (n.n::DOUBLE * (n.n - 1) / 2))
          |  / ((pp.v + pt.v) / 2 - pp.v * pt.v / (n.n::DOUBLE * (n.n - 1) / 2)), 6) AS ari
          |FROM pb, pp, pt, nn n""".stripMargin,

      "m5_purity" ->
        s"""$contingency
          |SELECT round(sum(mx)::DOUBLE / any_value(n.n), 6) AS purity
          |FROM (SELECT cluster_id, max(nij) AS mx FROM cont GROUP BY 1), nn n""".stripMargin,

      "m6_dup_pair_stats" ->
        s"""$contingency,
          |pb AS (SELECT sum(nij::DOUBLE * (nij - 1) / 2) AS v FROM cont),
          |pp AS (SELECT sum(ni::DOUBLE * (ni - 1) / 2) AS v FROM psz),
          |pt AS (SELECT sum(nj::DOUBLE * (nj - 1) / 2) AS v FROM tsz)
          |SELECT round(pb.v / pt.v, 6) AS recall,
          |  round(pb.v / pp.v, 6) AS precision
          |FROM pb, pp, pt""".stripMargin,

      "text_tokens" ->
        """SELECT doc_id,
          |  len(string_split(text, ' '))::BIGINT AS n_tokens,
          |  length(text)::BIGINT AS n_chars_obs,
          |  CAST(list_sum(list_transform(string_split(text, ' '),
          |    w -> (length(w) + 3) // 4)) AS BIGINT) AS n_subwords
          |FROM documents""".stripMargin,

      "text_quality" ->
        """SELECT doc_id,
          |  round(length(text)::DOUBLE / len(string_split(text, ' ')), 6) AS mean_word_len,
          |  round(len(list_filter(string_split(text, ' '),
          |    w -> w IN ('the','a','of','and','to','in','is','on')))::DOUBLE
          |    / len(string_split(text, ' ')), 6) AS stopword_ratio,
          |  (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS n_punct
          |FROM documents""".stripMargin,

      "text_langid" ->
        """WITH s AS (SELECT doc_id,
          |  ((length(text) - length(replace(text, ' the ', ''))) / 5
          |   + (length(text) - length(replace(text, ' and ', ''))) / 5
          |   + (length(text) - length(replace(text, ' is ', ''))) / 4)::BIGINT AS score_en,
          |  ((length(text) - length(replace(text, ' der ', ''))) / 5
          |   + (length(text) - length(replace(text, ' und ', ''))) / 5
          |   + (length(text) - length(replace(text, ' ist ', ''))) / 5)::BIGINT AS score_de,
          |  ((length(text) - length(replace(text, ' el ', ''))) / 4
          |   + (length(text) - length(replace(text, ' la ', ''))) / 4
          |   + (length(text) - length(replace(text, ' es ', ''))) / 4)::BIGINT AS score_es,
          |  ((length(text) - length(replace(text, ' le ', ''))) / 4
          |   + (length(text) - length(replace(text, ' et ', ''))) / 4
          |   + (length(text) - length(replace(text, ' est ', ''))) / 5)::BIGINT AS score_fr
          |  FROM documents)
          |SELECT doc_id,
          |  CASE WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
          |    WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
          |    WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
          |    WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
          |    ELSE 'fr' END AS lang_pred,
          |  score_en, score_de, score_es, score_fr
          |FROM s""".stripMargin,

      "text_fingerprint" ->
        """SELECT doc_id,
          |  CAST(list_reduce(list_transform(range(1, length(text) + 1),
          |    i -> ascii(substr(text, i::INT, 1))::BIGINT),
          |    (h, c) -> (h * 31 + c) % 1000000007) AS BIGINT) AS fingerprint
          |FROM documents""".stripMargin,

      "sim_cosine_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
          |  FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
          |scored AS (SELECT query_id, neighbor_id,
          |  list_reduce(list_transform(range(1, 65),
          |    i -> q_emb[i::INT]::DOUBLE * c_emb[i::INT]::DOUBLE), (x, y) -> x + y)
          |  / (sqrt(list_reduce(list_transform(range(1, 65),
          |       i -> q_emb[i::INT]::DOUBLE * q_emb[i::INT]::DOUBLE), (x, y) -> x + y))
          |   * sqrt(list_reduce(list_transform(range(1, 65),
          |       i -> c_emb[i::INT]::DOUBLE * c_emb[i::INT]::DOUBLE), (x, y) -> x + y))) AS sim
          |  FROM c, q WHERE query_id <> neighbor_id)
          |SELECT query_id, neighbor_id, round(sim, 6) AS sim, rk::BIGINT AS rk
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |        ORDER BY sim DESC, neighbor_id) AS rk FROM scored)
          |WHERE rk <= 5""".stripMargin,

      "mm_frame_samples" ->
        """SELECT doc_id, i::BIGINT AS sample_idx,
          |  (octet_length(encode(text)) * i // 4)::BIGINT AS byte_offset,
          |  ascii(substr(text, (octet_length(encode(text)) * i // 4)::INT + 1, 1))::BIGINT AS byte_value
          |FROM documents, range(0, 4) t(i)""".stripMargin,

      // ---- pinned oracles for hash-internal dedup + the flagship e2e ----
      // These operators are deterministic given their seeds, so their
      // sf0.01 outputs are pinned as literal expected tables: the driver's
      // hash compare then enforces the exact cluster-size histograms (and
      // recall/precision = 1.0, FP = 0 for the flagship) instead of a weak
      // rows-only check. Semantic correctness (planted near-dup truth) is
      // owned by DocDedupSpec / PipelineSpec; these rows pin regressions.
      "dedup_minhash_lsh" ->
        """SELECT sz::BIGINT AS sz, n_clusters::BIGINT AS n_clusters
          |FROM (VALUES (1, 453), (2, 22), (3, 1)) t(sz, n_clusters)""".stripMargin,

      "dedup_simhash" ->
        """SELECT sz::BIGINT AS sz, n_clusters::BIGINT AS n_clusters
          |FROM (VALUES (1, 457), (2, 17), (3, 3)) t(sz, n_clusters)""".stripMargin,

      // sim_ann_lsh: deterministic given its hyperplane seeds — the sf0.01
      // top-5 neighbor set per query, pinned like the dedup histograms.
      // COUPLED to nPlanes = 4 (= autoPlanes for any corpus ≤ 8192 vectors,
      // passed explicitly in the query above): changing the plane count or
      // the fixture size invalidates these rows.
      "sim_ann_lsh" ->
        ("""SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
          |  rk::BIGINT AS rk FROM (VALUES """.stripMargin +
          "(0, 365, 1), (0, 334, 2), (0, 387, 3), (0, 423, 4), (0, 73, 5), " +
          "(1, 386, 1), (1, 27, 2), (1, 407, 3), (1, 195, 4), (1, 64, 5), " +
          "(2, 117, 1), (2, 450, 2), (2, 145, 3), (2, 188, 4), (2, 418, 5), " +
          "(3, 130, 1), (3, 149, 2), (3, 343, 3), (3, 174, 4), (3, 231, 5), " +
          "(4, 114, 1), (4, 496, 2), (4, 408, 3), (4, 482, 4), (4, 280, 5), " +
          "(5, 404, 1), (5, 419, 2), (5, 157, 3), (5, 33, 4), (5, 359, 5), " +
          "(6, 350, 1), (6, 430, 2), (6, 145, 3), (6, 437, 4), (6, 386, 5), " +
          "(7, 340, 1), (7, 425, 2), (7, 209, 3), (7, 334, 4), (7, 381, 5), " +
          "(8, 39, 1), (8, 138, 2), (8, 403, 3), (8, 497, 4), (8, 380, 5), " +
          "(9, 49, 1), (9, 489, 2), (9, 414, 3), (9, 386, 4), (9, 107, 5)" +
          ") t(query_id, neighbor_id, rk)"),

      "pipeline_images_e2e" ->
        """SELECT 566::BIGINT AS n, 60::BIGINT AS clusters, 4::BIGINT AS singles,
          |  1.0::DOUBLE AS dup_pair_recall, 1.0::DOUBLE AS dup_pair_precision,
          |  0::BIGINT AS false_positives""".stripMargin,

      "mm_decode_meta" ->
        """SELECT doc_id, 'unknown' AS fmt_detected,
          |  (1 + ascii(substr(text, 1, 1)) % 64)::BIGINT AS w,
          |  (1 + ascii(substr(text, 2, 1)) % 64)::BIGINT AS h,
          |  0::BIGINT AS phash
          |FROM documents""".stripMargin,

      "mm_payload_meta" ->
        """SELECT doc_id,
          |  octet_length(encode(text))::BIGINT AS n_bytes,
          |  ascii(substr(text, 1, 1))::BIGINT AS first_byte,
          |  (1 + ascii(substr(text, 1, 1)) % 64)::BIGINT AS fake_w,
          |  (1 + ascii(substr(text, 2, 1)) % 64)::BIGINT AS fake_h
          |FROM documents""".stripMargin
    )
  }
}
