package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables.t
import Dedup.{decimalDot, decimalNormSq, phashSql}

/** Approximate-nearest-neighbor / similarity-search surface over the
  * `embeddings` table (64-dim float vectors).
  *
  * Two paths, as a large-scale pipeline needs both:
  *  - brute-force exact top-k: broadcast the (small) query set against
  *    the distributed corpus — one linear scan, the honest baseline and
  *    the correctness reference for any ANN index;
  *  - sign-LSH bucketed ANN: `Planes` deterministic hyperplanes
  *    (portable pseudo-random construction) → `Planes`-bit bucket
  *    signature → candidates from Hamming-≤1 buckets (query probes its
  *    bucket + `Planes` neighbors) → exact re-rank. The bucket join is
  *    the 100 TB path: the corpus is hashed once, queries touch
  *    (Planes+1)/2^Planes of the space.
  *
  * All cosine arithmetic uses the decimal-accumulated dot product
  * ([[Dedup.decimalDot]]) so scores are bit-identical to the DuckDB
  * oracle; ranks are made total with a vec_id tiebreak.
  */
object Similarity {

  val K = 10
  val NumQueries = 5 // vec_id < 5 are the query vectors

  /** Sign-LSH hyperplane count — the recall/cost dial. Size it to the
    * corpus: 2^Planes buckets should hold ~corpus/2^Planes ≳ k vectors
    * each or Hamming-1 probing finds too few candidates to fill a
    * top-k (measured by `sim_recall_eval`: 12 planes over the ~500-
    * vector fixture made 4096 near-empty buckets and recall 0.04; 6
    * planes → 64 buckets ≈ 8 vectors each). At 100 TB the same rule
    * gives ~20+ planes — the dial grows with log2(corpus), which is
    * exactly why it is a named constant and not a magic number.
    */
  val Planes = 6

  private def planeSignSql(j: Int, iExpr: String): String =
    s"CASE WHEN ${phashSql(s"concat('p${j}_', CAST($iExpr AS VARCHAR))")} % 2 = 1 THEN 1 ELSE -1 END"

  /** Deterministic ±1 hyperplane matrix [plane][dim], dims 1-based:
    * sign of a portable md5 hash bit of "p{j}_{i}" — the exact value
    * the oracle's [[planeSignSql]] computes per row, but evaluated
    * ONCE on the driver and shipped as literal arrays (the per-row
    * md5-per-plane-per-dim formulation cost rows × Planes × 64 md5
    * calls).
    */
  private[operators] lazy val planeSigns: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until Planes).map { j =>
      (1 to 64).map { i =>
        val digest = md.digest(s"p${j}_$i".getBytes("UTF-8"))
        val hex = digest.take(4).map(b => f"$b%02x").mkString // first 8 hex chars
        if (java.lang.Long.parseLong(hex, 16) % 2 == 1) 1.0 else -1.0
      }
    }
  }

  // ------------------------------------------------- brute-force top-k

  /** Exact cosine top-k for each query vector. Queries (vec_id < 5) are
    * broadcast; the corpus side never shuffles — rank is a small window
    * over k·|queries| candidate rows after a per-partition scan.
    */
  def topkBruteForce(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecExpressions.floatDot
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), decimalNormSq(col("embedding")).as("nsq"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nsq").as("q_nsq"))
    // two-phase: native-codegen double scoring of the full corpus, keep
    // everything within a SCORE band of the K-th fast score, exact-
    // decimal rescore only those. The band (1e-9) is >> the double-vs-
    // decimal divergence (< 1e-12), so the exact top-K is always inside
    // it — unlike a fixed rank cutoff, which silently drops the true
    // K-th neighbor when more than that many candidates crowd the
    // boundary within rounding error.
    val fast = e.filter(col("vec_id") >= NumQueries).crossJoin(broadcast(queries))
      .withColumn("fcos",
        floatDot(col("q_emb"), col("embedding")) / (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
    val wAll = Window.partitionBy(col("q_id")).orderBy(desc("fcos"), asc("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val candidates = fast.withColumn("kth_fcos", nth_value(col("fcos"), K).over(wAll))
      .filter(col("kth_fcos").isNull || col("fcos") >= col("kth_fcos") - lit(1e-9))
    val scored = candidates
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .orderBy("q_id", "rank")
  }

  private val topkBruteForceOracle =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |elems AS (
       |  SELECT vec_id, embedding[i] AS val, i FROM e,
       |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |norms AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS nsq
       |  FROM elems GROUP BY vec_id),
       |dots AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    CAST(sum(CAST(CAST(eq.val AS DOUBLE) * CAST(ec.val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM e q JOIN e c ON q.vec_id < $NumQueries AND c.vec_id >= $NumQueries
       |  JOIN elems eq ON eq.vec_id = q.vec_id
       |  JOIN elems ec ON ec.vec_id = c.vec_id AND ec.i = eq.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.q_id, d.vec_id,
       |    round(d.dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 12) AS cosine
       |  FROM dots d JOIN norms nq ON d.q_id = nq.vec_id
       |  JOIN norms nc ON d.vec_id = nc.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, cosine, rank FROM ranked
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- sign-LSH bucketed

  /** Random-hyperplane LSH: corpus bucketed by the `Planes`-bit sign
    * signature; each query probes its own bucket plus all Hamming-1
    * neighbors, then exact-re-ranks candidates (top-5). Deterministic
    * planes ⇒ the oracle reproduces bucketing bit-for-bit.
    */
  def topkLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), decimalNormSq(col("embedding")).as("nsq"))

    // signature: bit j = [dot(v, plane_j) > 0]; planes are literal ±1
    // arrays (driver-precomputed, same md5 construction as the oracle),
    // projection stays exact-decimal so the sign decision is
    // bit-identical to the oracle's decimal sum
    def signature(emb: Column): Column = {
      val bits = (0 until Planes).map { j =>
        val signs = typedLit(planeSigns(j))
        val proj = aggregate(
          zip_with(emb, signs,
            (v, s) => (v.cast("double") * s).cast("decimal(38,20)")),
          lit(0).cast("decimal(38,20)"), (acc, v) => (acc + v).cast("decimal(38,20)"))
        when(proj > 0, lit(1L << j)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }

    val corpus = e.filter(col("vec_id") >= NumQueries)
      .withColumn("sig", signature(col("embedding")))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nsq").as("q_nsq"), signature(col("embedding")).as("q_sig"))
    // probe buckets: own signature + each single-bit flip
    val probes = queries.select(col("q_id"), col("q_emb"), col("q_nsq"),
        explode(array((col("q_sig") +: (0 until Planes).map(j =>
          col("q_sig").bitwiseXOR(lit(1L << j)))): _*)).as("probe_sig"))
    val candidates = probes.join(corpus, col("probe_sig") === col("sig"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    candidates
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("q_id", "rank")
  }

  private val topkLshOracle: String = {
    val sigBits = (0 until Planes).map { j =>
      s"""CASE WHEN (SELECT CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * (${planeSignSql(j, "i")}) AS DECIMAL(38,20))) AS DECIMAL(38,20))
         |  FROM (SELECT unnest(generate_series(1, len(embedding))) AS i)) > 0
         |  THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    val flips = (0 until Planes).map(j => s"xor(sig, ${1L << j})").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |elems AS (
       |  SELECT vec_id, embedding[i] AS val, i FROM e,
       |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |norms AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS nsq
       |  FROM elems GROUP BY vec_id),
       |sigs AS (
       |  SELECT vec_id, CAST($sigBits AS BIGINT) AS sig FROM e),
       |corpus AS (
       |  SELECT vec_id, sig FROM sigs WHERE vec_id >= $NumQueries),
       |queries AS (
       |  SELECT vec_id AS q_id, sig FROM sigs WHERE vec_id < $NumQueries),
       |probes AS (
       |  SELECT q_id, unnest([sig, $flips]) AS probe_sig FROM queries),
       |cand AS (
       |  SELECT DISTINCT p.q_id, c.vec_id FROM probes p
       |  JOIN corpus c ON p.probe_sig = c.sig),
       |dots AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    CAST(sum(CAST(CAST(eq.val AS DOUBLE) * CAST(ec.val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM cand
       |  JOIN elems eq ON eq.vec_id = cand.q_id
       |  JOIN elems ec ON ec.vec_id = cand.vec_id AND ec.i = eq.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.q_id, d.vec_id,
       |    round(d.dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 12) AS cosine
       |  FROM dots d JOIN norms nq ON d.q_id = nq.vec_id
       |  JOIN norms nc ON d.vec_id = nc.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------------------- IVF cells

  /** Cells a query probes (of the 10 label-derived centroids). */
  val IvfProbes = 2

  /** IVF-style ANN: the corpus is assigned once to its nearest
    * centroid cell; each query probes its [[IvfProbes]] best cells and
    * exact-re-ranks only those candidates (top-5).
    *
    * Centroids are the per-label exact-decimal SUM vectors — cosine is
    * scale-invariant, so the sum acts as the mean without a division
    * (decimal division semantics differ across engines; sums are
    * bit-exact). Assignment and probing order use the same
    * decimal-accumulated cosine as every other score here, with a
    * label-ascending tiebreak, so the oracle reproduces cell
    * membership exactly.
    *
    * Scale: centroid build is one groupBy over the corpus; assignment
    * is a broadcast of K centroids against a linear scan; the query
    * join touches IvfProbes/K of the corpus — the standard IVF
    * recall/cost dial.
    */
  /** Memoized per (session, dataset), like [[Dedup.shingleIndex]]: the
    * norm-carrying embeddings frame is referenced by several plan
    * branches across IVF consumers, so it is built once per session
    * and cached (rows × 8B·dims, tiny per vector) instead of leaking a
    * new cache per invocation. Bounded + stopped-session-purging
    * ([[graft.util.IndexMemo]]); assumes the dataset under `dir` is
    * immutable for the session (call `invalidate` after a rewrite).
    */
  private val embNorms = new graft.util.IndexMemo[DataFrame](8)(_.unpersist(false))

  /** Cached (vec_id, label, embedding, nsq) with the interpreted
    * per-row decimal norm fold paid once per session.
    */
  private[operators] def embWithNorms(spark: SparkSession, dir: String): DataFrame =
    embNorms.getOrElseUpdate(spark, dir) {
      t(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          decimalNormSq(col("embedding")).as("nsq"))
        .cache()
    }

  def topkIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embWithNorms(spark, dir)
    // the ranked cell assignment is an ingest-time artifact — read the
    // persisted index ([[ClusterIndex.ivfCells]]), never recompute here
    val rankedCells = ClusterIndex.ivfCells(spark, dir)

    val corpus = rankedCells.filter(col("cell_rank") === 1 && col("vec_id") >= NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
    val probes = rankedCells.filter(col("cell_rank") <= IvfProbes && col("vec_id") < NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
      .select(col("vec_id").as("q_id"), col("cell"),
        col("embedding").as("q_emb"), col("nsq").as("q_nsq"))

    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    probes.join(corpus, "cell")
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("q_id", "rank")
  }

  /** The IVF ranked cell assignment (vec_id, c_label, cell_rank) —
    * ONE corpus clustering job, run at ingest by
    * [[ClusterIndex.ensureBuilt]] and persisted as the `ivf_cells`
    * icelite table; [[topkIvf]] and the recall harness read the table
    * back instead of invoking this. Deterministic (exact-decimal
    * accumulation, label-ascending tiebreaks), so the persisted rows
    * are bit-identical to an inline recompute — [[ClusterIndexSpec]]
    * proves it and the DuckDB oracle replays the same pipeline.
    */
  def ivfRankedCells(spark: SparkSession, dir: String): DataFrame =
    rankCellsUnder(embWithNorms(spark, dir), ivfCentroids(spark, dir))

  /** The frozen IVF cell model: per-label centroid component sums
    * (c_label, i, cval) over the corpus — exact decimal accumulation
    * (sums stand in for means because cosine is scale-invariant).
    * Persisted by [[ClusterIndex]] so later batches rank cells without
    * touching the corpus.
    */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame = {
    val Dec = "decimal(38,20)"
    // all centroid arithmetic is RELATIONAL (explode → decimal
    // hash-agg): the decimal sums run inside whole-stage codegen,
    // unlike a per-row interpreted array fold, and the shape is
    // byte-for-byte the oracle's CTE pipeline
    embWithNorms(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i0", "v")))
      .select(col("label").as("c_label"), (col("i0") + 1).as("i"),
        col("v").cast("double").as("val"))
      .groupBy(col("c_label"), col("i"))
      .agg(sum(col("val").cast(Dec)).cast("double").as("cval"))
  }

  /** Ranked cell assignment (vec_id, c_label, cell_rank) of arbitrary
    * norm-carrying vectors under EXPLICIT centroids — shared by the
    * corpus build and the incremental batch path
    * ([[ClusterIndex.appendVectors]]), so both are bit-identical by
    * construction: one broadcast of the cells×dims centroid table
    * against a linear scan of the vectors.
    */
  private[operators] def rankCellsUnder(e: DataFrame, celems: DataFrame): DataFrame = {
    val Dec = "decimal(38,20)"
    val elems = e
      .select(col("vec_id"), col("nsq"),
        posexplode(col("embedding")).as(Seq("i0", "v")))
      .select(col("vec_id"), col("nsq"),
        (col("i0") + 1).as("i"), col("v").cast("double").as("val"))
    val cnorms = celems.groupBy(col("c_label"))
      .agg(sum((col("cval") * col("cval")).cast(Dec)).cast("double").as("c_nsq"))
    // vec × cell exact-decimal cosine, ranked per vec (label-asc ties)
    val cellcos = elems.join(broadcast(celems), "i")
      .groupBy(col("vec_id"), col("c_label"))
      .agg(sum((col("val") * col("cval")).cast(Dec)).cast("double").as("cdot"),
        first(col("nsq")).as("nsq"))
      .join(broadcast(cnorms), "c_label")
      .select(col("vec_id"), col("c_label"),
        (col("cdot") / (sqrt(col("nsq")) * sqrt(col("c_nsq")))).as("cell_cos"))
    val wCell = Window.partitionBy(col("vec_id")).orderBy(desc("cell_cos"), asc("c_label"))
    cellcos.withColumn("cell_rank", row_number().over(wCell))
      .select(col("vec_id"), col("c_label"), col("cell_rank"))
  }

  // --------------------------------------------------------- KNN join

  /** Query-side size of the KNN JOIN: every vec_id below this is a
    * query, the rest are corpus — a query SET 20× [[NumQueries]],
    * chosen to make broadcast-of-queries the wrong plan on purpose.
    */
  val KnnQueries = 100

  /** Neighbors returned per query by [[knnJoin]]. */
  val KnnK = 3

  /** KNN JOIN — batch ANN for a LARGE query set. The broadcast top-k
    * ([[topkBruteForce]], [[topkIvf]]) dies when the query side stops
    * fitting in a broadcast (scoring every (query, corpus) pair is
    * |Q|·|C| work); the scale shape is instead: both sides carry their
    * IVF cell from the persisted index, co-partition ON CELL in a
    * shuffle-hash join (each task scores one cell's queries against
    * that cell's corpus — never the cross product), then per-query
    * top-k. Work drops to |Q|·probes/K of the corpus and parallelism
    * follows the cell count. The `shuffle_hash` hint pins the
    * co-partitioned plan so a size misestimate can't silently fall
    * back to broadcasting a 100-million-row query set.
    *
    * Scoring is the usual two-phase: native-codegen double cosine
    * prefilter with a 1e-9 band around the k-th fast score, exact
    * decimal rescore of survivors only.
    */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecExpressions.floatDot
    val e = embWithNorms(spark, dir)
    val rankedCells = ClusterIndex.ivfCells(spark, dir)
    val corpus = rankedCells.filter(col("cell_rank") === 1 && col("vec_id") >= KnnQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
    val probes = rankedCells.filter(col("cell_rank") <= IvfProbes && col("vec_id") < KnnQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
      .select(col("vec_id").as("q_id"), col("cell"),
        col("embedding").as("q_emb"), col("nsq").as("q_nsq"))
    val fast = probes.hint("shuffle_hash").join(corpus, "cell")
      .withColumn("fcos",
        floatDot(col("q_emb"), col("embedding")) / (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
    val wAll = Window.partitionBy(col("q_id")).orderBy(desc("fcos"), asc("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val kept = fast.withColumn("kth_fcos", nth_value(col("fcos"), KnnK).over(wAll))
      .filter(col("kth_fcos").isNull || col("fcos") >= col("kth_fcos") - lit(1e-9))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    kept
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .orderBy("q_id", "rank")
  }

  /** Probe width under an attribute filter — the classic filtered-ANN
    * probe EXPANSION: a filter thins every probed cell, so the query
    * widens its probe set (2× [[IvfProbes]]) to recover candidate
    * volume at the same index.
    */
  val FilteredProbes = IvfProbes * 2

  /** Attribute-FILTERED ANN (the production vector-search shape:
    * "nearest neighbors among documents WHERE lang = 'en'"): the
    * corpus side of the probe join is pre-joined to the metadata
    * filter, so the filter applies BEFORE scoring — no post-filtering
    * of an unfiltered top-k (which under-fills k precisely when the
    * filter is selective) — and each query probes [[FilteredProbes]]
    * cells instead of [[IvfProbes]], the standard expansion dial.
    *
    * Scale: the filter arrives as a key-join of doc ids (broadcastable
    * when selective) against the PERSISTED cell assignment; scoring
    * still touches only probed-cell survivors — filter selectivity s
    * cuts the scoring join to s·probes/K of the corpus.
    */
  def topkFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = embWithNorms(spark, dir)
    val rankedCells = ClusterIndex.ivfCells(spark, dir)
    val keep = t(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val corpus = rankedCells.filter(col("cell_rank") === 1 && col("vec_id") >= NumQueries)
      .join(keep, "vec_id")
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
    val probes = rankedCells
      .filter(col("cell_rank") <= FilteredProbes && col("vec_id") < NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
      .select(col("vec_id").as("q_id"), col("cell"),
        col("embedding").as("q_emb"), col("nsq").as("q_nsq"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    probes.join(corpus, "cell")
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("q_id", "rank")
  }

  /** Oracle chain shared by `sim_topk_ivf` (query bound [[NumQueries]],
    * top-5), `sim_knn_join` (query bound [[KnnQueries]], top-[[KnnK]])
    * and `sim_topk_filtered` (probe expansion + corpus-side attribute
    * filter): cell ranking, probe/corpus split at `qBound`, exact-
    * decimal scoring, per-query rank.
    */
  private def ivfTopkOracleSql(
      qBound: Int, k: Int, probes: Int = IvfProbes, corpusExtra: String = ""): String =
    s"""${ivfScoredCteSql(qBound, probes, corpusExtra)},
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** The IVF candidate-generation + exact-scoring CTE chain up to
    * `scored(q_id, vec_id, cosine)` — the shared prefix of the top-k,
    * KNN-join, filtered and RANGE oracles (only the final consumption
    * of the scores differs).
    */
  private def ivfScoredCteSql(
      qBound: Int, probes: Int = IvfProbes, corpusExtra: String = ""): String =
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |elems AS (
       |  SELECT vec_id, label, embedding[i] AS val, i FROM e,
       |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |norms AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS nsq
       |  FROM elems GROUP BY vec_id),
       |celems AS (
       |  SELECT label AS c_label, i,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS cval
       |  FROM elems GROUP BY label, i),
       |cnorms AS (
       |  SELECT c_label,
       |    CAST(sum(CAST(cval * cval AS DECIMAL(38,20))) AS DOUBLE) AS c_nsq
       |  FROM celems GROUP BY c_label),
       |cellcos AS (
       |  SELECT ev.vec_id, ce.c_label,
       |    CAST(sum(CAST(CAST(ev.val AS DOUBLE) * ce.cval AS DECIMAL(38,20))) AS DOUBLE)
       |      / (sqrt(any_value(n.nsq)) * sqrt(any_value(cn.c_nsq))) AS cell_cos
       |  FROM elems ev
       |  JOIN celems ce ON ev.i = ce.i
       |  JOIN norms n ON n.vec_id = ev.vec_id
       |  JOIN cnorms cn ON cn.c_label = ce.c_label
       |  GROUP BY ev.vec_id, ce.c_label),
       |ranked_cells AS (
       |  SELECT vec_id, c_label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, c_label) AS cell_rank
       |  FROM cellcos),
       |corpus AS (
       |  SELECT vec_id, c_label AS cell FROM ranked_cells
       |  WHERE cell_rank = 1 AND vec_id >= $qBound$corpusExtra),
       |probes AS (
       |  SELECT vec_id AS q_id, c_label AS cell FROM ranked_cells
       |  WHERE cell_rank <= $probes AND vec_id < $qBound),
       |cand AS (
       |  SELECT DISTINCT p.q_id, c.vec_id FROM probes p JOIN corpus c USING (cell)),
       |dots AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    CAST(sum(CAST(CAST(eq.val AS DOUBLE) * CAST(ec.val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM cand
       |  JOIN elems eq ON eq.vec_id = cand.q_id
       |  JOIN elems ec ON ec.vec_id = cand.vec_id AND ec.i = eq.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.q_id, d.vec_id,
       |    round(d.dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 12) AS cosine
       |  FROM dots d JOIN norms nq ON d.q_id = nq.vec_id
       |  JOIN norms nc ON d.vec_id = nc.vec_id)""".stripMargin

  private val topkIvfOracle: String = ivfTopkOracleSql(NumQueries, 5)

  private val knnJoinOracle: String = ivfTopkOracleSql(KnnQueries, KnnK)

  private val topkFilteredOracle: String = ivfTopkOracleSql(
    NumQueries, 5, probes = FilteredProbes,
    corpusExtra =
      "\n    AND vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')")

  // ------------------------------------------------------- range search

  /** Cosine radius of the range search — every candidate at or above
    * this similarity is returned (rendered identically as a literal in
    * both engines; scores are the shared 12-place rounded exact-
    * decimal cosine, so the threshold compare can never split).
    */
  val RangeTau = 0.25

  /** RANGE (radius) search — the other half of a vector-search API
    * next to top-k: return ALL corpus vectors within a similarity
    * radius of each query, however many there are (dedup mining and
    * "find everything that matches this template" run on radius, not
    * rank — k is unknowable when the answer size varies 1000× across
    * queries). Same persisted-IVF candidate generation as [[topkIvf]]
    * (each query touches IvfProbes cells of the corpus, never all of
    * it), then the two-phase score: native-codegen double cosine keeps
    * only candidates within 1e-9 of the radius (the band dwarfs the
    * double-vs-decimal divergence, so no true match is lost), exact-
    * decimal rescore of the survivors, and the final compare runs on
    * the rounded exact score — bit-identical to the oracle's. No
    * window operator at all: a radius query needs no rank, so the
    * plan is join → scan-local score → filter, the cheapest ANN
    * consumption shape there is.
    */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecExpressions.floatDot
    val e = embWithNorms(spark, dir)
    val rankedCells = ClusterIndex.ivfCells(spark, dir)
    val corpus = rankedCells.filter(col("cell_rank") === 1 && col("vec_id") >= NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
    val probes = rankedCells.filter(col("cell_rank") <= IvfProbes && col("vec_id") < NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
      .select(col("vec_id").as("q_id"), col("cell"),
        col("embedding").as("q_emb"), col("nsq").as("q_nsq"))
    probes.join(corpus, "cell")
      .withColumn("fcos",
        floatDot(col("q_emb"), col("embedding")) / (sqrt(col("q_nsq")) * sqrt(col("nsq"))))
      .filter(col("fcos") >= lit(RangeTau) - lit(1e-9))
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"))
      .filter(col("cosine") >= lit(RangeTau))
      .orderBy("q_id", "vec_id")
  }

  private val rangeSearchOracle: String =
    s"""${ivfScoredCteSql(NumQueries)}
       |SELECT q_id, vec_id, cosine FROM scored
       |WHERE cosine >= $RangeTau ORDER BY q_id, vec_id""".stripMargin

  // ----------------------------------------------------- MMR re-ranking

  /** MMR pool and pick sizes: the greedy diversifier selects [[MmrK]]
    * results from each query's top-[[MmrPool]] relevance candidates.
    */
  val MmrPool = 10
  val MmrK = 5

  /** Maximal-marginal-relevance re-rank — the diversification pass a
    * production retrieval stack runs between ANN and the consumer
    * (RAG context assembly, dedup-aware search): from each query's
    * top-[[MmrPool]] IVF candidates, greedily pick [[MmrK]] results
    * maximizing `0.5·sim(q,d) − 0.5·max_{s∈picked} sim(d,s)` — high
    * relevance, but penalized for redundancy against what's already
    * chosen.
    *
    * Shape: the greedy loop is K−1 BOUNDED relational rounds (the
    * [[graft.operators.TextAnalysis]] perceptron pattern — a fixed
    * small constant of driver-side iterations, each round fully
    * distributed): candidate-pair similarities among pool members are
    * computed ONCE (|Q|·pool² rows, scan-local per q_id cell), each
    * round is one join + hash-agg max-penalty + one per-query window
    * argmax over ≤pool rows, and the accumulating pick set is
    * truncated-lineage-checkpointed so round k's plan never re-derives
    * rounds 1..k−1. All scores are the shared 12-place-rounded exact-
    * decimal cosines; the MMR combination multiplies them by 0.5
    * (exact in IEEE) and subtracts — bit-identical in both engines, so
    * the pick sequence can never split on float drift.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = embWithNorms(spark, dir)
    val rankedCells = ClusterIndex.ivfCells(spark, dir)
    val corpus = rankedCells.filter(col("cell_rank") === 1 && col("vec_id") >= NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
    val probes = rankedCells.filter(col("cell_rank") <= IvfProbes && col("vec_id") < NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
      .join(e, "vec_id")
      .select(col("vec_id").as("q_id"), col("cell"),
        col("embedding").as("q_emb"), col("nsq").as("q_nsq"))
    val wPool = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    val pool = probes.join(corpus, "cell")
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"))
      .withColumn("rn", row_number().over(wPool)).filter(col("rn") <= MmrPool)
      .drop("rn").persist()
    val poolE = pool.join(e.select(col("vec_id"), col("embedding"), col("nsq")), "vec_id")
    val pairs = poolE.select(col("q_id"), col("vec_id").as("av"),
        col("embedding").as("aemb"), col("nsq").as("ansq"))
      .join(poolE.select(col("q_id"), col("vec_id").as("bv"),
        col("embedding").as("bemb"), col("nsq").as("bnsq")), "q_id")
      .filter(col("av") =!= col("bv"))
      .select(col("q_id"), col("av"), col("bv"),
        round(decimalDot(col("aemb"), col("bemb")) /
          (sqrt(col("ansq")) * sqrt(col("bnsq"))), 12).as("psim"))
      .persist()
    try {
      val wPick = Window.partitionBy(col("q_id"))
      var picked = pool
        .withColumn("rn", row_number().over(wPick.orderBy(desc("cosine"), asc("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("cosine"), lit(1).as("pick"))
        .localCheckpoint(true)
      for (k <- 2 to MmrK) {
        val pen = pairs
          .join(picked.select(col("q_id"), col("vec_id").as("bv")), Seq("q_id", "bv"))
          .groupBy(col("q_id"), col("av")).agg(max(col("psim")).as("maxsim"))
          .withColumnRenamed("q_id", "pen_q")
        val pick = pool
          .join(picked.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
          .join(pen, col("q_id") === col("pen_q") && col("vec_id") === col("av"))
          .select(col("q_id"), col("vec_id"), col("cosine"),
            (lit(0.5) * col("cosine") - lit(0.5) * col("maxsim")).as("mmr"))
          .withColumn("rn", row_number().over(wPick.orderBy(desc("mmr"), asc("vec_id"))))
          .filter(col("rn") === 1)
          .select(col("q_id"), col("vec_id"), col("cosine"), lit(k).as("pick"))
        picked = picked.union(pick).localCheckpoint(true)
      }
      picked.select(col("q_id"), col("pick"), col("vec_id"), col("cosine"))
        .orderBy("q_id", "pick")
    } finally { pool.unpersist(); pairs.unpersist() }
  }

  private val mmrRerankOracle: String = {
    val rounds = (2 to MmrK).map { k =>
      val prev = s"sel${k - 1}"
      s"""p$k AS (
         |  SELECT q_id, vec_id, cosine, $k AS pick FROM (
         |    SELECT c.q_id, c.vec_id, c.cosine,
         |      row_number() OVER (PARTITION BY c.q_id
         |        ORDER BY 0.5 * c.cosine - 0.5 * m.maxsim DESC, c.vec_id) AS rn
         |    FROM cpool c
         |    JOIN (
         |      SELECT cp.q_id, cp.av, max(cp.psim) AS maxsim
         |      FROM cp JOIN $prev s ON cp.q_id = s.q_id AND cp.bv = s.vec_id
         |      GROUP BY 1, 2) m
         |      ON m.q_id = c.q_id AND m.av = c.vec_id
         |    WHERE NOT EXISTS (
         |      SELECT 1 FROM $prev s
         |      WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)) x
         |  WHERE rn = 1),
         |sel$k AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM p$k)""".stripMargin
    }.mkString(",\n")
    s"""${ivfScoredCteSql(NumQueries)},
       |cpool AS (
       |  SELECT q_id, vec_id, cosine FROM (
       |    SELECT q_id, vec_id, cosine,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rn
       |    FROM scored) x WHERE rn <= $MmrPool),
       |cp AS MATERIALIZED (
       |  SELECT a.q_id, a.vec_id AS av, b.vec_id AS bv,
       |    round(
       |      CAST(sum(CAST(CAST(ea.val AS DOUBLE) * CAST(eb.val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE)
       |      / (sqrt(any_value(na.nsq)) * sqrt(any_value(nb.nsq))), 12) AS psim
       |  FROM cpool a
       |  JOIN cpool b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
       |  JOIN elems ea ON ea.vec_id = a.vec_id
       |  JOIN elems eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
       |  JOIN norms na ON na.vec_id = a.vec_id
       |  JOIN norms nb ON nb.vec_id = b.vec_id
       |  GROUP BY 1, 2, 3),
       |sel1 AS MATERIALIZED (
       |  SELECT q_id, vec_id, cosine, 1 AS pick FROM (
       |    SELECT q_id, vec_id, cosine,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosine DESC, vec_id) AS rn
       |    FROM cpool) x WHERE rn = 1),
       |$rounds
       |SELECT q_id, pick, vec_id, cosine FROM sel$MmrK
       |ORDER BY q_id, pick""".stripMargin
  }

  // --------------------------------------------------- SQ8 quantization

  /** Scalar-quantized (int8) similarity — the memory-bound scale path:
    * embeddings stored as 256-level codes (4× smaller than float32, the
    * difference between fitting an index in RAM or not at 100 TB), with
    * per-vector min/max calibration. Scoring runs over the DEQUANTIZED
    * reconstruction; top-5 per query with the usual exact-decimal dot.
    * Quantization uses floor(x + 0.5) — identical in every engine,
    * unlike round()'s half-even/half-up split.
    */
  def topkSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).cast("double").as("mn"),
        array_max(col("embedding")).cast("double").as("mx"))
      // a constant vector has mx == mn: scale clamps to 1 so every
      // code is 0 and the reconstruction is exactly mn (no div-by-zero,
      // whose semantics differ between engines)
      .withColumn("scale",
        when(col("mx") > col("mn"), (col("mx") - col("mn")) / 255.0).otherwise(lit(1.0)))
      .withColumn("q", transform(col("embedding"), v =>
        least(lit(255.0), floor((v.cast("double") - col("mn")) / col("scale") + 0.5))))
      .withColumn("deq", transform(col("q"), c => col("mn") + c * col("scale")))
      .select(col("vec_id"), col("deq"),
        decimalNormSq(col("deq")).as("nsq"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("deq").as("q_deq"), col("nsq").as("q_nsq"))
    val scored = e.filter(col("vec_id") >= NumQueries).crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_deq"), col("deq")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine_q8"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine_q8"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("q_id", "rank")
  }

  private val topkSq8Oracle =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_min(embedding) AS DOUBLE) AS mn,
       |    CAST(list_max(embedding) AS DOUBLE) AS mx
       |  FROM embeddings),
       |cal AS (
       |  SELECT vec_id, embedding, mn,
       |    CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS scale
       |  FROM e),
       |deq AS (
       |  SELECT vec_id, i,
       |    mn + least(255.0, floor((CAST(embedding[i] AS DOUBLE) - mn) / scale + 0.5)) * scale AS val
       |  FROM cal, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |norms AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(val * val AS DECIMAL(38,20))) AS DOUBLE) AS nsq
       |  FROM deq GROUP BY vec_id),
       |dots AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    CAST(sum(CAST(dq.val * dc.val AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM e q JOIN e c ON q.vec_id < $NumQueries AND c.vec_id >= $NumQueries
       |  JOIN deq dq ON dq.vec_id = q.vec_id
       |  JOIN deq dc ON dc.vec_id = c.vec_id AND dc.i = dq.i
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.q_id, d.vec_id,
       |    round(d.dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 12) AS cosine_q8
       |  FROM dots d JOIN norms nq ON d.q_id = nq.vec_id
       |  JOIN norms nc ON d.vec_id = nc.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine_q8,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine_q8 DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, cosine_q8, rank FROM ranked
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------- product quantization

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims each (64-dim
    * vectors), [[PqK]] codes per subspace — each corpus vector stores
    * PqM·log2(PqK) bits instead of 64 floats, the memory-bound ANN
    * standard one step past SQ8 (a production setup uses m=8..16,
    * k=256 — the dials scale, the pipeline does not change).
    */
  val PqM = 4
  val PqSubDim = 16
  val PqK = 8

  /** Assignment passes of the PQ trainer (assign → update → assign,
    * like [[Clustering.Iters]]); the oracle unrolls the same count.
    */
  val PqIters = 2

  /** ADC candidates exact-rescored per query (the PQ recall dial). */
  val PqRerank = 20

  private val Dec = "decimal(38,20)"

  /** (id, m, j, val) subvector elements: dim i (1-based) lands in
    * subspace m = (i-1) div [[PqSubDim]] at offset j = (i-1) mod
    * [[PqSubDim]] + 1 — the relational shape every PQ pass runs on.
    */
  private def pqSubElems(df: DataFrame, idCol: String): DataFrame = df
    .select(col("vec_id").as(idCol), posexplode(col("embedding")).as(Seq("i0", "v")))
    .select(col(idCol), expr(s"i0 DIV $PqSubDim").cast("int").as("m"),
      (col("i0") % PqSubDim + 1).cast("int").as("j"),
      col("v").cast("double").as("val"))

  /** Assignment of subvector elements under EXPLICIT codebooks
    * (m, cid, j, cval): exact-decimal squared-L2 per (vector, subspace,
    * code), argmin by (dist asc, cid asc). Shared by the trainer and
    * the incremental batch path ([[pqAssign]]) so both are
    * bit-identical by construction. PQ distances are L2, not cosine —
    * subvector norms carry signal, so the spherical sum-for-mean trick
    * does not apply; codebook centroids are component MEANS (exact
    * decimal sum ÷ integer count, one IEEE division per component).
    */
  private def pqAssignUnder(elems: DataFrame, books: DataFrame): DataFrame = {
    val dist = elems.join(broadcast(books), Seq("m", "j"))
      .groupBy(col("vec_id"), col("m"), col("cid"))
      .agg(sum(((col("val") - col("cval")) * (col("val") - col("cval"))).cast(Dec))
        .cast("double").as("dist"))
    val w = Window.partitionBy(col("vec_id"), col("m")).orderBy(asc("dist"), asc("cid"))
    dist.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid"))
  }

  /** Assign a NEW vector batch under FROZEN persisted codebooks — the
    * incremental index-maintenance path ([[ClusterIndex.appendVectors]]):
    * one broadcast of the m·k×subdim codebook table against a linear
    * batch scan, no re-training, no corpus scan.
    */
  def pqAssign(batch: DataFrame, books: DataFrame): DataFrame =
    pqAssignUnder(pqSubElems(batch, "vec_id"), books)

  /** PQ trainer: all [[PqM]] subspace codebooks in ONE Lloyd chain
    * (the subspace id is just a grouping column — each round is one
    * broadcast of the m·k×subdim codebook table against a linear scan
    * of the exploded corpus, exactly the [[Clustering]] sweep shape).
    * Seeds are the first [[PqK]] CORPUS vectors' subvectors (cid =
    * vec_id − [[NumQueries]]), so both engines converge through
    * identical states. Returns (codes, codebooks) from one chain —
    * the codes are the assignment under exactly those codebooks, the
    * pair [[ClusterIndex]] persists together.
    */
  private[operators] def pqTrain(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val elems = pqSubElems(
      embWithNorms(spark, dir).filter(col("vec_id") >= NumQueries), "vec_id")
    def update(a: DataFrame): DataFrame =
      elems.join(a, Seq("vec_id", "m"))
        .groupBy(col("m"), col("cid"), col("j"))
        .agg((sum(col("val").cast(Dec)).cast("double") / count(lit(1))).as("cval"))
    var books = elems.filter(col("vec_id") < NumQueries + PqK)
      .select(col("m"), (col("vec_id") - NumQueries).cast("int").as("cid"),
        col("j"), col("val").as("cval"))
    var codes: DataFrame = null
    for (r <- 1 to PqIters) {
      codes = pqAssignUnder(elems, books)
      if (r < PqIters) books = update(codes).localCheckpoint(true)
    }
    (codes, books)
  }

  /** PQ ANN with ADC scoring — the registered query. Codes + codebooks
    * come from the PERSISTED ingest-time index
    * ([[ClusterIndex.pqCodes]]/[[ClusterIndex.pqCodebooks]]); per query
    * the work is: an m·k lookup TABLE of (query subvector · centroid)
    * dots (broadcast — m·k·|queries| rows), one linear pass over the
    * integer code table summing [[PqM]] table entries per corpus
    * vector (asymmetric distance computation — the scan never touches
    * a float vector), top-[[PqRerank]] by approximate cosine, then the
    * usual exact-decimal rescore of ONLY those survivors → top-5.
    * Approximate cosine = adc_dot / (‖q‖·‖reconstruction‖) with the
    * reconstruction norm also table-served per code, so the
    * approximate phase is integer-keyed lookups + 4-term sums — the
    * shape that stays CPU-bound, not memory-bound, at 100 TB.
    */
  def topkPq(spark: SparkSession, dir: String): DataFrame = {
    val codes = ClusterIndex.pqCodes(spark, dir)
    val (lookup, qn) = adcLookup(spark, dir)
    val approx = codes.join(broadcast(lookup), Seq("m", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("tdot").cast(Dec)).cast("double").as("adot"),
        sum(col("cnsq").cast(Dec)).cast("double").as("rnsq"))
      .join(broadcast(qn), "q_id")
      .withColumn("ascore", col("adot") / (sqrt(col("q_nsq")) * sqrt(col("rnsq"))))
    adcRescoreTop5(spark, dir, approx)
  }

  /** ADC machinery shared by [[topkPq]] and [[topkIvfPq]]: the
    * broadcast per-(query, subspace, code) lookup table — (query
    * subvector · centroid) dots joined with per-code reconstruction
    * norms — plus the query-norm frame. m·k·|queries| + m·k rows,
    * built once per query set from the persisted codebooks.
    */
  private def adcLookup(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val books = ClusterIndex.pqCodebooks(spark, dir)
    val queries = embWithNorms(spark, dir).filter(col("vec_id") < NumQueries)
    val qsub = pqSubElems(queries, "q_id")
    val tdot = qsub.join(broadcast(books), Seq("m", "j"))
      .groupBy(col("q_id"), col("m"), col("cid"))
      .agg(sum((col("val") * col("cval")).cast(Dec)).cast("double").as("tdot"))
    val cnsq = books.groupBy(col("m"), col("cid"))
      .agg(sum((col("cval") * col("cval")).cast(Dec)).cast("double").as("cnsq"))
    val lookup = tdot.join(cnsq, Seq("m", "cid"))
    val qn = queries.select(col("vec_id").as("q_id"), col("nsq").as("q_nsq"))
    (lookup, qn)
  }

  /** Shared PQ tail: cut the approximate ranking at [[PqRerank]] per
    * query, exact-decimal rescore ONLY those survivors, emit top-5.
    * `approx` must carry (q_id, vec_id, ascore, q_nsq).
    */
  private def adcRescoreTop5(spark: SparkSession, dir: String, approx: DataFrame): DataFrame = {
    val e = embWithNorms(spark, dir)
    val wA = Window.partitionBy(col("q_id")).orderBy(desc("ascore"), asc("vec_id"))
    val cand = approx.withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= PqRerank)
      .select(col("q_id"), col("vec_id"), col("ascore"))
    val qe = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("nsq").as("q_nsq"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    cand
      .join(e.select(col("vec_id"), col("embedding"), col("nsq")), "vec_id")
      .join(broadcast(qe), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(decimalDot(col("q_emb"), col("embedding")) /
          (sqrt(col("q_nsq")) * sqrt(col("nsq"))), 12).as("cosine"),
        round(col("ascore"), 12).as("ascore"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("q_id", "rank")
  }

  /** IVF-PQ fused ANN — the canonical large-corpus serving composition
    * (an inverted-file index deciding WHICH vectors to look at, product
    * quantization deciding HOW CHEAPLY to look at each): candidates
    * come from the persisted IVF cell assignment (each query probes
    * its [[IvfProbes]] best cells, exactly [[topkIvf]]'s pruning), and
    * only those candidates' integer codes are ADC-scored — the ADC
    * pass touches IvfProbes/K of the corpus instead of all of it, and
    * the exact-decimal rescore touches [[PqRerank]] rows per query.
    * At 100 TB neither full-corpus term exists: the scan is code rows
    * of the probed cells only, which is why production ANN deployments
    * run this composition rather than either half alone. All state
    * (cells, codes, codebooks) is read from [[ClusterIndex]] — built
    * once at ingest, never per query.
    */
  def topkIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val rankedCells = ClusterIndex.ivfCells(spark, dir)
    val corpusCells = rankedCells.filter(col("cell_rank") === 1 && col("vec_id") >= NumQueries)
      .select(col("vec_id"), col("c_label").as("cell"))
    val probes = rankedCells.filter(col("cell_rank") <= IvfProbes && col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("c_label").as("cell"))
    val cand = probes.join(corpusCells, "cell")
      .select(col("q_id"), col("vec_id")).distinct()
    val codes = ClusterIndex.pqCodes(spark, dir)
    val (lookup, qn) = adcLookup(spark, dir)
    val approx = cand.join(codes, "vec_id")
      .join(broadcast(lookup), Seq("q_id", "m", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("tdot").cast(Dec)).cast("double").as("adot"),
        sum(col("cnsq").cast(Dec)).cast("double").as("rnsq"))
      .join(broadcast(qn), "q_id")
      .withColumn("ascore", col("adot") / (sqrt(col("q_nsq")) * sqrt(col("rnsq"))))
    adcRescoreTop5(spark, dir, approx)
  }

  /** The PQ pipeline as a DuckDB CTE chain (subvector explode → seeded
    * Lloyd rounds → codes → ADC lookup tables → candidate cut → exact
    * rescore), `p`-prefixed names so it composes inside the recall
    * oracle without clashing with the other methods' CTEs.
    */
  /** The seeded Lloyd-round CTE fold (pd/pa/pc per round) shared by
    * every PQ oracle chain; assumes `pq_corpus` and `pc0` are already
    * in scope. The final assignment is `pa{PqIters}` under codebook
    * [[pqFinalBookSql]].
    */
  private def pqRoundsSql: String = (1 to PqIters).map { r =>
    val upd =
      if (r == PqIters) "" // the last round's codebook is never used
      else s""",
         |pc$r AS (
         |  SELECT ce.m, a.cid, ce.j,
         |    CAST(sum(CAST(ce.val AS DECIMAL(38,20))) AS DOUBLE) / count(*) AS cval
         |  FROM pq_corpus ce JOIN pa$r a ON ce.vec_id = a.vec_id AND ce.m = a.m
         |  GROUP BY 1, 2, 3)""".stripMargin
    s""",
       |pd$r AS (
       |  SELECT ce.vec_id, ce.m, c.cid,
       |    CAST(sum(CAST((ce.val - c.cval) * (ce.val - c.cval) AS DECIMAL(38,20))) AS DOUBLE) AS dist
       |  FROM pq_corpus ce JOIN pc${r - 1} c ON ce.m = c.m AND ce.j = c.j
       |  GROUP BY 1, 2, 3),
       |pa$r AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
       |    FROM pd$r) WHERE rn = 1)""".stripMargin + upd
  }.mkString

  /** The codebook CTE name the final PQ assignment used. */
  private def pqFinalBookSql: String = s"pc${PqIters - 1}"

  private val topkPqOracle: String = {
    val rounds = pqRoundsSql
    val fb = pqFinalBookSql // the codebook the final assignment used
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |elems AS (
       |  SELECT vec_id, embedding[i] AS val, i FROM e,
       |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |norms AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS nsq
       |  FROM elems GROUP BY vec_id),
       |pqe AS (
       |  SELECT vec_id, CAST((i - 1) // $PqSubDim AS INTEGER) AS m,
       |    CAST((i - 1) % $PqSubDim + 1 AS INTEGER) AS j,
       |    CAST(val AS DOUBLE) AS val
       |  FROM elems),
       |pq_corpus AS (SELECT * FROM pqe WHERE vec_id >= $NumQueries),
       |pc0 AS (
       |  SELECT m, CAST(vec_id - $NumQueries AS INTEGER) AS cid, j, val AS cval
       |  FROM pq_corpus WHERE vec_id < $NumQueries + $PqK)$rounds,
       |ptd AS (
       |  SELECT qe.vec_id AS q_id, c.m, c.cid,
       |    CAST(sum(CAST(qe.val * c.cval AS DECIMAL(38,20))) AS DOUBLE) AS tdot
       |  FROM pqe qe JOIN $fb c ON qe.m = c.m AND qe.j = c.j
       |  WHERE qe.vec_id < $NumQueries GROUP BY 1, 2, 3),
       |pcn AS (
       |  SELECT m, cid,
       |    CAST(sum(CAST(cval * cval AS DECIMAL(38,20))) AS DOUBLE) AS cnsq
       |  FROM $fb GROUP BY 1, 2),
       |papprox AS (
       |  SELECT t.q_id, k.vec_id,
       |    CAST(sum(CAST(t.tdot AS DECIMAL(38,20))) AS DOUBLE) AS adot,
       |    CAST(sum(CAST(n.cnsq AS DECIMAL(38,20))) AS DOUBLE) AS rnsq
       |  FROM pa$PqIters k
       |  JOIN ptd t ON k.m = t.m AND k.cid = t.cid
       |  JOIN pcn n ON k.m = n.m AND k.cid = n.cid
       |  GROUP BY 1, 2),
       |pasc AS (
       |  SELECT p.q_id, p.vec_id,
       |    p.adot / (sqrt(nq.nsq) * sqrt(p.rnsq)) AS ascore
       |  FROM papprox p JOIN norms nq ON nq.vec_id = p.q_id),
       |pcand AS (
       |  SELECT q_id, vec_id, ascore FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY ascore DESC, vec_id) AS rn
       |    FROM pasc) WHERE rn <= $PqRerank),
       |pdots AS (
       |  SELECT pcand.q_id, pcand.vec_id, any_value(pcand.ascore) AS ascore,
       |    CAST(sum(CAST(CAST(eq.val AS DOUBLE) * CAST(ec.val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM pcand
       |  JOIN elems eq ON eq.vec_id = pcand.q_id
       |  JOIN elems ec ON ec.vec_id = pcand.vec_id AND ec.i = eq.i
       |  GROUP BY 1, 2),
       |pscored AS (
       |  SELECT d.q_id, d.vec_id,
       |    round(d.dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 12) AS cosine,
       |    round(d.ascore, 12) AS ascore
       |  FROM pdots d JOIN norms nq ON d.q_id = nq.vec_id
       |  JOIN norms nc ON d.vec_id = nc.vec_id),
       |pranked AS (
       |  SELECT q_id, vec_id, cosine, ascore,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM pscored)
       |SELECT q_id, vec_id, cosine, ascore, rank FROM pranked
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** The fused IVF-PQ pipeline as one DuckDB CTE chain: the IVF half
    * (cell centroids → ranked cells → probe/corpus split → candidate
    * pairs) feeding the PQ half (seeded Lloyd rounds → codes → ADC
    * lookup restricted to the candidates → shortlist → exact rescore).
    * `f`-prefixed tail names so it composes inside the recall oracle.
    */
  private val topkIvfPqOracle: String = {
    val rounds = pqRoundsSql
    val fb = pqFinalBookSql
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |elems AS (
       |  SELECT vec_id, label, embedding[i] AS val, i FROM e,
       |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |norms AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS nsq
       |  FROM elems GROUP BY vec_id),
       |celems AS (
       |  SELECT label AS c_label, i,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS cval
       |  FROM elems GROUP BY label, i),
       |cnorms AS (
       |  SELECT c_label,
       |    CAST(sum(CAST(cval * cval AS DECIMAL(38,20))) AS DOUBLE) AS c_nsq
       |  FROM celems GROUP BY c_label),
       |cellcos AS (
       |  SELECT ev.vec_id, ce.c_label,
       |    CAST(sum(CAST(CAST(ev.val AS DOUBLE) * ce.cval AS DECIMAL(38,20))) AS DOUBLE)
       |      / (sqrt(any_value(n.nsq)) * sqrt(any_value(cn.c_nsq))) AS cell_cos
       |  FROM elems ev
       |  JOIN celems ce ON ev.i = ce.i
       |  JOIN norms n ON n.vec_id = ev.vec_id
       |  JOIN cnorms cn ON cn.c_label = ce.c_label
       |  GROUP BY ev.vec_id, ce.c_label),
       |ranked_cells AS (
       |  SELECT vec_id, c_label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cell_cos DESC, c_label) AS cell_rank
       |  FROM cellcos),
       |corpus AS (
       |  SELECT vec_id, c_label AS cell FROM ranked_cells
       |  WHERE cell_rank = 1 AND vec_id >= $NumQueries),
       |probes AS (
       |  SELECT vec_id AS q_id, c_label AS cell FROM ranked_cells
       |  WHERE cell_rank <= $IvfProbes AND vec_id < $NumQueries),
       |cand AS (
       |  SELECT DISTINCT p.q_id, c.vec_id FROM probes p JOIN corpus c USING (cell)),
       |pqe AS (
       |  SELECT vec_id, CAST((i - 1) // $PqSubDim AS INTEGER) AS m,
       |    CAST((i - 1) % $PqSubDim + 1 AS INTEGER) AS j,
       |    CAST(val AS DOUBLE) AS val
       |  FROM elems),
       |pq_corpus AS (SELECT * FROM pqe WHERE vec_id >= $NumQueries),
       |pc0 AS (
       |  SELECT m, CAST(vec_id - $NumQueries AS INTEGER) AS cid, j, val AS cval
       |  FROM pq_corpus WHERE vec_id < $NumQueries + $PqK)$rounds,
       |ptd AS (
       |  SELECT qe.vec_id AS q_id, c.m, c.cid,
       |    CAST(sum(CAST(qe.val * c.cval AS DECIMAL(38,20))) AS DOUBLE) AS tdot
       |  FROM pqe qe JOIN $fb c ON qe.m = c.m AND qe.j = c.j
       |  WHERE qe.vec_id < $NumQueries GROUP BY 1, 2, 3),
       |pcn AS (
       |  SELECT m, cid,
       |    CAST(sum(CAST(cval * cval AS DECIMAL(38,20))) AS DOUBLE) AS cnsq
       |  FROM $fb GROUP BY 1, 2),
       |fapprox AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    CAST(sum(CAST(t.tdot AS DECIMAL(38,20))) AS DOUBLE) AS adot,
       |    CAST(sum(CAST(n.cnsq AS DECIMAL(38,20))) AS DOUBLE) AS rnsq
       |  FROM cand
       |  JOIN pa$PqIters k ON k.vec_id = cand.vec_id
       |  JOIN ptd t ON t.q_id = cand.q_id AND k.m = t.m AND k.cid = t.cid
       |  JOIN pcn n ON k.m = n.m AND k.cid = n.cid
       |  GROUP BY 1, 2),
       |fasc AS (
       |  SELECT p.q_id, p.vec_id,
       |    p.adot / (sqrt(nq.nsq) * sqrt(p.rnsq)) AS ascore
       |  FROM fapprox p JOIN norms nq ON nq.vec_id = p.q_id),
       |fcand AS (
       |  SELECT q_id, vec_id, ascore FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY ascore DESC, vec_id) AS rn
       |    FROM fasc) WHERE rn <= $PqRerank),
       |fdots AS (
       |  SELECT fcand.q_id, fcand.vec_id, any_value(fcand.ascore) AS ascore,
       |    CAST(sum(CAST(CAST(eq.val AS DOUBLE) * CAST(ec.val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM fcand
       |  JOIN elems eq ON eq.vec_id = fcand.q_id
       |  JOIN elems ec ON ec.vec_id = fcand.vec_id AND ec.i = eq.i
       |  GROUP BY 1, 2),
       |fscored AS (
       |  SELECT d.q_id, d.vec_id,
       |    round(d.dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 12) AS cosine,
       |    round(d.ascore, 12) AS ascore
       |  FROM fdots d JOIN norms nq ON d.q_id = nq.vec_id
       |  JOIN norms nc ON d.vec_id = nc.vec_id),
       |franked AS (
       |  SELECT q_id, vec_id, cosine, ascore,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM fscored)
       |SELECT q_id, vec_id, cosine, ascore, rank FROM franked
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------ recall eval

  /** ANN evaluation harness: recall of each approximate method (LSH,
    * IVF, PQ, fused IVF-PQ, SQ8) against the exact brute-force top-k, measured as
    * |method ∩ exact| / |exact| — the number every ANN deployment
    * tracks when tuning its probe/band/quantization dials. Composes
    * the existing pipelines (left-semi against the exact set, one tiny
    * agg); recall is a single integer division, portable by
    * construction.
    */
  def recallEval(spark: SparkSession, dir: String): DataFrame = {
    // every ANN method emits top-5, so the exact side must be its own
    // top-5 PREFIX (same k on both sides, or a perfect method would
    // read as recall 0.5); materialized once — it feeds both the
    // intersection and the baseline count
    val exact = topkBruteForce(spark, dir).filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id")).localCheckpoint(true)
    val tagged = Seq(
      "ivf" -> topkIvf(spark, dir),
      "ivfpq" -> topkIvfPq(spark, dir),
      "lsh" -> topkLsh(spark, dir),
      "pq" -> topkPq(spark, dir),
      "sq8" -> topkSq8(spark, dir))
      .map { case (m, df) => df.select(lit(m).as("method"), col("q_id"), col("vec_id")) }
      .reduce(_ unionByName _)
    val base = exact.agg(count(lit(1)).as("baseline"))
    val hits = tagged.join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("hits"))
    // static method list: a method with ZERO hits must report recall 0
    // — the failure this eval exists to surface — not vanish from the
    // groupBy output
    import spark.implicits._
    Seq("ivf", "ivfpq", "lsh", "pq", "sq8").toDF("method")
      .join(hits, Seq("method"), "left")
      .crossJoin(broadcast(base))
      .select(col("method"), coalesce(col("hits"), lit(0L)).as("hits"), col("baseline"),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("baseline")).as("recall"))
      .orderBy("method")
  }

  private val recallEvalOracle: String =
    s"""WITH exact_k AS (
       |  SELECT q_id, vec_id FROM ($topkBruteForceOracle) x WHERE rank <= 5),
       |ivf_k AS (SELECT q_id, vec_id FROM ($topkIvfOracle) x),
       |ivfpq_k AS (SELECT q_id, vec_id FROM ($topkIvfPqOracle) x),
       |lsh_k AS (SELECT q_id, vec_id FROM ($topkLshOracle) x),
       |pq_k AS (SELECT q_id, vec_id FROM ($topkPqOracle) x),
       |sq8_k AS (SELECT q_id, vec_id FROM ($topkSq8Oracle) x),
       |tagged AS (
       |  SELECT 'ivf' AS method, * FROM ivf_k
       |  UNION ALL SELECT 'ivfpq', * FROM ivfpq_k
       |  UNION ALL SELECT 'lsh', * FROM lsh_k
       |  UNION ALL SELECT 'pq', * FROM pq_k
       |  UNION ALL SELECT 'sq8', * FROM sq8_k),
       |base AS (SELECT count(*) AS baseline FROM exact_k),
       |hits AS (
       |  SELECT method, count(*) AS hits FROM tagged t
       |  WHERE EXISTS (SELECT 1 FROM exact_k e
       |                WHERE e.q_id = t.q_id AND e.vec_id = t.vec_id)
       |  GROUP BY method),
       |methods AS (SELECT unnest(['ivf', 'ivfpq', 'lsh', 'pq', 'sq8']) AS method)
       |SELECT m.method, coalesce(hits, 0) AS hits, baseline,
       |  CAST(coalesce(hits, 0) AS DOUBLE) / baseline AS recall
       |FROM methods m LEFT JOIN hits USING (method) CROSS JOIN base
       |ORDER BY m.method""".stripMargin

  // ------------------------------------------------- class centroids

  /** Per-label embedding centroid (the class-prototype vector used for
    * cluster seeding, nearest-class-mean labeling, and drift checks),
    * emitted as (label, component, mean) rows. The component means
    * come from exact decimal sums ÷ integer counts — one IEEE division
    * each, bit-identical cross-engine.
    *
    * Scale: posexplode → hash-agg on (label, i) — shuffle volume is
    * labels × dims (tiny), with map-side partial aggregation doing the
    * real reduction; the corpus is scanned once.
    */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame = {
    val Dec = "decimal(38,20)"
    t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("i0", "v")))
      .select(col("label"), (col("i0") + 1).as("i"), col("v").cast("double").as("val"))
      .groupBy(col("label"), col("i"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("val").cast(Dec)).cast("double").as("csum"))
      .select(col("label"), col("i"), col("n_vecs"),
        round(col("csum") / col("n_vecs"), 12).as("mean_val"))
      .orderBy("label", "i")
  }

  private val embedCentroidsOracle =
    """WITH elems AS (
      |  SELECT label, i, CAST(embedding[i] AS DOUBLE) AS val FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u)
      |SELECT label, CAST(i AS INTEGER) AS i, count(*) AS n_vecs,
      |  round(CAST(sum(CAST(val AS DECIMAL(38,20))) AS DOUBLE) / count(*), 12)
      |    AS mean_val
      |FROM elems GROUP BY label, i
      |ORDER BY label, i""".stripMargin

  // ------------------------------------------------ centroid outliers

  /** Flagged outliers per label by [[embedOutliers]]. */
  val EmbedOutlierK = 5

  /** Embedding-space outlier report: the [[EmbedOutlierK]] vectors
    * FARTHEST from their own label's centroid, per label — the
    * mislabeled/corrupted-embedding screen run before any
    * cluster-derived artifact (centroid seeding, nearest-class-mean
    * labeling, SemDeDup) trusts the label column. Distance is the
    * squared L2 to the component-mean centroid; means are exact
    * decimal sums ÷ integer counts and the squared diffs re-accumulate
    * in decimal, so `dist2` is bit-identical cross-engine.
    *
    * Scale: centroids are a labels×dims aggregate (map-side partials)
    * broadcast back against one exploded corpus scan; the per-vector
    * reduce partitions on (label, vec_id) — its natural key — and the
    * final window ranks labels×k rows. Same shape as
    * [[rankCellsUnder]], with a top-k instead of an argmax.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val elems = t(spark, dir, "embeddings")
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "v")))
      .select(col("label"), col("vec_id"), (col("i0") + 1).as("i"),
        col("v").cast("double").as("val"))
    val cents = elems.groupBy(col("label"), col("i"))
      .agg((sum(col("val").cast(Dec)).cast("double") / count(lit(1))).as("mu"))
    val d2 = elems.join(broadcast(cents), Seq("label", "i"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum(((col("val") - col("mu")) * (col("val") - col("mu"))).cast(Dec))
        .cast("double").as("d2"))
    val w = Window.partitionBy(col("label")).orderBy(desc("d2"), asc("vec_id"))
    d2.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= EmbedOutlierK)
      .select(col("label"), col("vec_id"), round(col("d2"), 12).as("dist2"), col("rank"))
      .orderBy("label", "rank")
  }

  private val embedOutliersOracle =
    s"""WITH elems AS (
       |  SELECT label, vec_id, i, CAST(embedding[i] AS DOUBLE) AS val FROM embeddings,
       |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |cents AS (
       |  SELECT label, i,
       |    CAST(sum(CAST(val AS DECIMAL(38,20))) AS DOUBLE) / count(*) AS mu
       |  FROM elems GROUP BY label, i),
       |d2 AS (
       |  SELECT e.label, e.vec_id,
       |    CAST(sum(CAST((e.val - c.mu) * (e.val - c.mu) AS DECIMAL(38,20))) AS DOUBLE) AS d2
       |  FROM elems e JOIN cents c ON e.label = c.label AND e.i = c.i
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT label, vec_id, round(d2, 12) AS dist2,
       |    CAST(row_number() OVER (PARTITION BY label
       |      ORDER BY d2 DESC, vec_id) AS INTEGER) AS rank
       |  FROM d2)
       |SELECT label, vec_id, dist2, rank FROM ranked
       |WHERE rank <= $EmbedOutlierK ORDER BY label, rank""".stripMargin

  // ------------------------------------------------- kNN classification

  /** kNN majority-vote classification over the PERSISTED IVF index —
    * what a production labeling pipeline does with its ANN index:
    * classify incoming vectors by the plurality label of their top-5
    * approximate neighbors (ties → smallest label). The neighbor set
    * is EXACTLY [[topkIvf]]'s gated output (one code path), so the
    * candidate generation stays cell-pruned (probes/K of the corpus,
    * never a full scan) and the vote is a ≤ 5-row-per-query hash-agg
    * plus a row_number window — all-integer, bit-stable cross-engine.
    * Reports prediction vs the held-out true label per query.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = t(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    val votes = topkIvf(spark, dir).join(labels, "vec_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("n_votes"), asc("label"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("n_votes"))
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .select(col("q_id"), col("pred_label"), col("true_label"), col("n_votes"),
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L).as("correct"))
      .orderBy("q_id")
  }

  private val knnClassifyOracle =
    s"""WITH knn AS (SELECT * FROM (${ivfTopkOracleSql(NumQueries, 5)}) ivf),
       |votes AS (
       |  SELECT k.q_id, e.label, count(*) AS n_votes
       |  FROM knn k JOIN embeddings e ON e.vec_id = k.vec_id
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT q_id, label AS pred_label, n_votes FROM (
       |    SELECT q_id, label, n_votes,
       |      row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS rn
       |    FROM votes) x
       |  WHERE rn = 1)
       |SELECT p.q_id, p.pred_label, e.label AS true_label, p.n_votes,
       |  CAST(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM pred p JOIN embeddings e ON e.vec_id = p.q_id
       |ORDER BY p.q_id""".stripMargin

  // ---------------------------------------------------------- registry

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("embed_centroids", embedCentroids _, Some(embedCentroidsOracle),
      "per-label class-prototype centroids as (label, component, mean) rows"),
    GraftQuery("sim_topk_bruteforce", topkBruteForce _, Some(topkBruteForceOracle),
      "exact cosine top-10 per query vector (broadcast scan)"),
    GraftQuery("sim_topk_lsh", topkLsh _, Some(topkLshOracle),
      "sign-LSH bucketed ANN with Hamming-1 probing + exact re-rank"),
    GraftQuery("sim_topk_ivf", topkIvf _, Some(topkIvfOracle),
      "IVF-cell ANN: decimal-sum centroids, 2-cell probe, exact re-rank"),
    GraftQuery("sim_mmr_rerank", mmrRerank _, Some(mmrRerankOracle),
      "maximal-marginal-relevance diversification: greedy K-pick over the IVF " +
        "top-pool, redundancy-penalized, bounded relational rounds"),
    GraftQuery("sim_range_search", rangeSearch _, Some(rangeSearchOracle),
      "radius vector search over the persisted IVF cells: all matches within " +
        "a cosine threshold, two-phase scored, no window operator"),
    GraftQuery("sim_topk_filtered", topkFiltered _, Some(topkFilteredOracle),
      "attribute-filtered ANN: metadata filter pre-join + probe expansion over the persisted IVF cells"),
    GraftQuery("sim_knn_join", knnJoin _, Some(knnJoinOracle),
      "cell-co-partitioned shuffle KNN join for a large query set (no broadcast)"),
    GraftQuery("sim_topk_sq8", topkSq8 _, Some(topkSq8Oracle),
      "int8 scalar-quantized similarity (memory-bound scale path)"),
    GraftQuery("sim_topk_pq", topkPq _, Some(topkPqOracle),
      "product-quantization ANN: persisted subspace codebooks + codes, ADC table scoring, exact rescore"),
    GraftQuery("sim_topk_ivfpq", topkIvfPq _, Some(topkIvfPqOracle),
      "fused IVF-PQ ANN: cell-pruned candidates ADC-scored from the persisted code table, exact rescore"),
    GraftQuery("sim_recall_eval", recallEval _, Some(recallEvalOracle),
      "recall@k of each ANN method vs the exact brute-force top-k"),
    GraftQuery("embed_outliers", embedOutliers _, Some(embedOutliersOracle),
      "per-label centroid-distance outliers (mislabel/corruption screen for the embedding table)"),
    GraftQuery("embed_knn_classify", knnClassify _, Some(knnClassifyOracle),
      "kNN majority-vote classification over the persisted IVF index (cell-pruned neighbors, integer vote)"))
}
