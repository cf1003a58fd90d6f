package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables.t
import graft.operators.Dedup.{phash, phashSql}

/** Training-data curation operators beyond dedup/similarity (the
  * remaining first-class pieces of a 100 TB pipeline): deterministic
  * dataset splitting, stratified and uniform sampling, corpus n-gram
  * statistics, rational TF-IDF term scoring, length histograms, and a
  * sliding event-time revenue window.
  *
  * Portability rules (same as the rest of the suite): all "randomness"
  * is hash-derived (md5 prefix → uint32 — [[Dedup.phash]]), scores are
  * either pure integers or a SINGLE IEEE division of exact integers,
  * and every query carries a total ORDER BY.
  *
  * Scale notes: hash-based splitting/sampling is stateless per row (no
  * global shuffle, no coordination — the property that makes the split
  * reproducible across reruns AND machines); n-gram/TF-IDF pipelines
  * are explode → hash-agg shapes that partition on their natural keys;
  * the uniform sample is a TakeOrderedAndProject (no global sort).
  */
object Pipeline {

  // -------------------------------------------------- dataset splitting

  /** Deterministic train/validation/test assignment by content-stable
    * hash bucket (80/10/10). The split is a pure function of doc_id —
    * rerunning on a grown corpus keeps every existing document's
    * assignment, the property training pipelines need to avoid
    * train/test leakage across snapshots.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(phash(col("doc_id").cast("string")), lit(100))
    t(spark, dir, "documents")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("split")
  }

  private val splitAssignOracle =
    s"""WITH b AS (
       |  SELECT *, ${phashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'validation'
       |            ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  count(DISTINCT lang) AS n_langs
       |FROM b GROUP BY 1 ORDER BY split""".stripMargin

  /** Leakage-free split: near-duplicate documents must land in the
    * SAME split, or the held-out set silently contains paraphrases of
    * training rows and evals overstate generalization. Group id = the
    * connected-component root of the LSH-verified near-dup graph
    * ([[Dedup.dupClusters]]); docs outside any cluster group as
    * themselves. The split decision then hashes the GROUP, not the
    * doc, so a whole dup-cluster moves together.
    *
    * Scale shape: the cluster map is proportional to the DUPLICATED
    * subset (pairs survive LSH band buckets + verification), far
    * smaller than the corpus — the left join broadcasts under the
    * optimizer's size rule; the split itself stays a stateless
    * row-local hash like [[splitAssign]].
    */
  def splitGroupAware(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val grouped = t(spark, dir, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    // salt decorrelates from the per-doc split's hash stream
    val bucket = pmod(phash(concat(lit("grp:"), col("group_id").cast("string"))), lit(100))
    grouped
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test"))
      .orderBy("doc_id")
  }

  private val splitGroupAwareOracle =
    s"""WITH RECURSIVE ${Dedup.clusterOracleCtes},
       |grp AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
       |SELECT doc_id, group_id,
       |  CASE WHEN b < 80 THEN 'train'
       |       WHEN b < 90 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, group_id,
       |    ${phashSql("'grp:' || CAST(group_id AS VARCHAR)")} % 100 AS b
       |  FROM grp) s
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- stratified sampling

  /** Deterministic Bernoulli-by-hash sampling at 20% per language
    * stratum: the keep decision hashes (lang, doc_id), so each stratum
    * is sampled independently and reproducibly with zero coordination —
    * rows are kept or dropped locally at scan time, nothing shuffles.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val keep = pmod(phash(concat_ws(":", col("lang"), col("doc_id").cast("string"))), lit(1000))
    t(spark, dir, "documents")
      .filter(keep < 200)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  // concat_ws on BOTH sides: Spark's concat_ws skips NULL args while
  // `||` is null-poisoning — a null lang would silently diverge
  private val stratifiedSampleOracle =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE ${phashSql("concat_ws(':', lang, CAST(doc_id AS VARCHAR))")} % 1000 < 200
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- weighted sample

  /** Length-weighted sampling: keep probability is
    * 0.5 · min(n_chars, cap)/cap — proportional to document length up
    * to the cap, so longer documents are proportionally more likely to
    * survive (the curation move when token mass matters more than
    * document count; the absolute rate depends on the corpus's length
    * distribution). The decision `hash/2³² < p` is evaluated as the
    * INTEGER cross-multiplication `h · cap < min(n,cap) · 2³¹` so both
    * engines decide from exact integer arithmetic (no float compare to
    * diverge on). The hash is SALTED with the sampler's name: each
    * sampler/splitter must draw independent "randomness" from the same
    * doc_id, or their selections correlate (a doc kept here would
    * always also be in the uniform sample's low-hash prefix).
    * Zero-coordination and scan-local like the other samplers.
    */
  val WeightCapChars = 4000L

  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = phash(concat_ws(":", lit("wsample"), col("doc_id").cast("string")))
    // h * cap < min(n_chars, cap) * 2^31  ⇒  keep (p = 0.5·min(n,cap)/cap)
    val keep = h * lit(WeightCapChars) <
      least(col("n_chars"), lit(WeightCapChars)) * lit(2147483648L)
    t(spark, dir, "documents")
      .filter(keep)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val weightedSampleOracle =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${phashSql("concat_ws(':', 'wsample', CAST(doc_id AS VARCHAR))")} * $WeightCapChars
       |      < least(n_chars, $WeightCapChars) * 2147483648
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ uniform sample

  /** Uniform k-sample by hash order: the 50 smallest doc-id hashes form
    * a stable pseudo-random sample. Plans as TakeOrderedAndProject —
    * per-partition top-k then a driver merge of k·partitions rows, no
    * global sort, the right shape for "give me a sample of the corpus"
    * at any scale.
    */
  def sampleTopkHash(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        phash(col("doc_id").cast("string")).as("h"))
      .orderBy("h", "doc_id")
      .limit(50)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  private val sampleTopkHashOracle =
    s"""SELECT doc_id, lang, n_chars FROM (
       |  SELECT doc_id, lang, n_chars,
       |    ${phashSql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents ORDER BY h, doc_id LIMIT 50)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- correlated join sampling

  /** Join-sample keep rate, percent. */
  val JoinSamplePct = 5

  /** CORRELATED (join-consistent) sampling — the estimator trick that
    * makes sampled joins work at 100 TB: both tables keep a row iff
    * the SAME hash of the JOIN KEY falls under the rate, so the join
    * of the samples IS the sample of the join restricted to the kept
    * key set (independent per-table sampling would keep a matching
    * PAIR only with probability p², destroying the estimate). One
    * scan-local filter per side (pushes to the scan — p of each table
    * is ever read into the join), then the ordinary key join; the
    * per-group estimate scales by 1/p ONCE. Dev pipelines run their
    * entire logic over the consistent 5% world and every join still
    * matches.
    */
  def sampleJoinConsistent(spark: SparkSession, dir: String): DataFrame = {
    def keep(k: Column): Column =
      pmod(phash(concat(lit("jk:"), k.cast("string"))), lit(100)) < JoinSamplePct
    val o = t(spark, dir, "orders").filter(keep(col("o_orderkey")))
    val l = t(spark, dir, "lineitem").filter(keep(col("l_orderkey")))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sample"),
        (count(lit(1)) * (100L / JoinSamplePct)).as("n_est"))
      .orderBy("o_orderpriority")
  }

  private val sampleJoinConsistentOracle = {
    val keepO = s"${phashSql("concat('jk:', CAST(o_orderkey AS VARCHAR))")} % 100 < $JoinSamplePct"
    val keepL = s"${phashSql("concat('jk:', CAST(l_orderkey AS VARCHAR))")} % 100 < $JoinSamplePct"
    s"""SELECT o_orderpriority, count(*) AS n_sample,
       |  count(*) * ${100L / JoinSamplePct} AS n_est
       |FROM (SELECT * FROM orders WHERE $keepO) o
       |JOIN (SELECT * FROM lineitem WHERE $keepL) l ON o.o_orderkey = l.l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  // -------------------------------------------------- length histogram

  /** Document-length histogram: 100-char buckets capped at 20+ — the
    * standard pre-training length-distribution diagnostic. Pure integer
    * arithmetic; one hash-agg on the bucket id.
    */
  def docLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("bucket", least(expr("n_chars DIV 100"), lit(20L)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("bucket")

  private val docLengthHistogramOracle =
    """SELECT CAST(least(n_chars // 100, 20) AS INTEGER) AS bucket,
      |  count(*) AS n_docs,
      |  CAST(min(n_chars) AS BIGINT) AS min_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars
      |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------- n-gram statistics

  /** Top-5 bigrams per language — corpus n-gram statistics (the
    * aggregate twin of the dedup shingle pipeline): codegen'd
    * posexplode + window lead + concat, one hash-agg on (lang, bigram),
    * bounded per-group top-k window. Integer counts end to end.
    */
  def ngramCounts(spark: SparkSession, dir: String): DataFrame = {
    // shared scan-local n-gram stream (no shuffle before the count —
    // the earlier posexplode + lead-over-window build paid a full
    // shuffle+sort by doc_id first)
    val bigrams = Dedup.wordNgramStream(t(spark, dir, "documents"), 2, " ", Seq("lang"))
      .select(col("lang"), col("s").as("bigram"))
    val counts = bigrams.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
    val wr = Window.partitionBy(col("lang")).orderBy(desc("n"), asc("bigram"))
    counts.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("bigram"), col("n"))
      .orderBy("lang", "rank")
  }

  private val ngramCountsOracle =
    """WITH words AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |bi AS (
      |  SELECT lang, w[i] || ' ' || w[i+1] AS bigram
      |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) u),
      |c AS (SELECT lang, bigram, count(*) AS n FROM bi GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, bigram, n,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS INTEGER) AS rank
      |  FROM c)
      |SELECT lang, rank, bigram, n FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  // --------------------------------------------------------- TF-IDF

  /** Rational TF-IDF: score = tf · N / df with a SINGLE exact-integer
    * division — same ranking as log-idf (both monotone in N/df) without
    * cross-engine libm risk. df is one hash-agg over the (doc, term)
    * stream; N broadcasts as a 1-row literal; the top-3 window is
    * bounded per doc. Output scoped to doc_id < 50 (df/N still computed
    * over the FULL corpus).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.filter(col("doc_id") < 50)
      .join(df_, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * col("n_docs")).cast("double") / col("df")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), asc("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  private val tfidfTopTermsOracle =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok
      |  WHERE len(term) > 0 GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  WHERE tf.doc_id < 50),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, term) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------ sliding time window

  /** 7-day sliding revenue per order priority: daily exact-decimal
    * pre-aggregation (shrinks the window input from rows to days —
    * the two-level shape that keeps sliding windows viable on a 100 TB
    * fact table), then a RANGE frame over the day number. The window
    * sums stay in decimal (exact, order-independent) and only cast to
    * double at the output boundary.
    */
  def slidingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderdate"))
      .agg(sum(col("o_totalprice").cast("decimal(27,2)")).as("day_rev"),
        count(lit(1)).as("n_orders"))
      .withColumn("day", datediff(col("o_orderdate"), lit("1970-01-01")))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .select(col("o_orderpriority"), col("o_orderdate"), col("n_orders"),
        col("day_rev").cast("double").as("day_revenue"),
        sum(col("day_rev")).over(w).cast("double").as("rev_7d"),
        sum(col("n_orders")).over(w).as("orders_7d"))
      .orderBy("o_orderpriority", "o_orderdate")
  }

  private val slidingRevenueOracle =
    """WITH daily AS (
      |  SELECT o_orderpriority, o_orderdate,
      |    sum(CAST(o_totalprice AS DECIMAL(27,2))) AS day_rev,
      |    count(*) AS n_orders,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
      |  n_orders,
      |  CAST(day_rev AS DOUBLE) AS day_revenue,
      |  CAST(sum(day_rev) OVER w AS DOUBLE) AS rev_7d,
      |  CAST(sum(n_orders) OVER w AS BIGINT) AS orders_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderpriority, o_orderdate""".stripMargin

  // ------------------------------------------------------ curation funnel

  /** The end-to-end curation funnel in ONE pass: per language, how many
    * documents enter, survive the quality gate (same integer point
    * system as `text_quality`: length in range +5, has stopwords +3,
    * low punctuation +2, keep at ≥ 8), and additionally survive exact
    * dedup (first doc per content hash) — plus the character mass that
    * remains. This is the report a curation run publishes per
    * snapshot. One projection + one window on the content hash + one
    * hash-agg by lang; at 100 TB each stage is scan-local except the
    * dedup window's single shuffle on the hash.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    t(spark, dir, "documents")
      .withColumn("pts", TextAnalysis.qualityPoints(col("text")))
      .withColumn("first_of_hash", row_number().over(w) === 1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("pts") >= 8, 1).otherwise(0)).as("n_quality"),
        sum(when(col("pts") >= 8 && col("first_of_hash"), 1).otherwise(0)).as("n_kept"),
        sum(when(col("pts") >= 8 && col("first_of_hash"), col("n_chars")).otherwise(0L))
          .as("chars_kept"))
      .orderBy("lang")
  }

  private val curationFunnelOracle: String = {
    s"""WITH scored AS (
       |  SELECT doc_id, lang, n_chars,
       |    ${TextAnalysis.qualityPointsSql("text")} AS pts,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS first_of_hash
       |  FROM documents)
       |SELECT lang, count(*) AS n_total,
       |  CAST(sum(CASE WHEN pts >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(sum(CASE WHEN pts >= 8 AND first_of_hash THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN pts >= 8 AND first_of_hash THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
       |FROM scored GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------- mixture planning

  /** Data-mixture plan: downsampling rates that balance the corpus
    * across sources (uniform target mixture with no upsampling — every
    * source keeps `min(source token mass)` tokens, the standard
    * rebalancing move for over-represented web crawl). `rate` is ONE
    * IEEE division of two exact integer token masses.
    *
    * Scale: one hash-agg by source (map-side partials), then a
    * broadcast of the K-row source table against itself via a window
    * min — nothing per-document moves.
    */
  def mixRates(spark: SparkSession, dir: String): DataFrame = {
    val perSource = t(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).cast("long").as("total_tokens"))
    perSource
      .withColumn("target_tokens", min(col("total_tokens")).over(Window.partitionBy()))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("target_tokens"),
        round(col("target_tokens").cast("double") / col("total_tokens"), 12).as("rate"))
      .orderBy("source")
  }

  private val mixRatesOracle =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |  FROM documents GROUP BY 1)
      |SELECT source, n_docs, total_tokens,
      |  CAST(min(total_tokens) OVER () AS BIGINT) AS target_tokens,
      |  round(CAST(min(total_tokens) OVER () AS DOUBLE) / total_tokens, 12) AS rate
      |FROM s ORDER BY source""".stripMargin

  /** TEMPERATURE-flattened mixture plan (the published multilingual
    * recipe: sample share q_i ∝ n_i^α with α = 0.5, so low-resource
    * sources are up-weighted relative to their natural share instead
    * of drowned by the head source). α is fixed at 0.5 because the
    * exponent is then `sqrt` — a correctly-rounded IEEE primitive both
    * engines agree on bit-exactly, unlike a general transcendental
    * `pow`. The share denominator Σ√n is summed in DECIMAL so
    * cross-source accumulation order can't perturb the last bits;
    * every emitted fraction is a single rounded IEEE division.
    *
    * Scale: a K-row plan from one aggregated scan — the application
    * step is [[mixApply]]'s broadcast-threshold pattern.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).cast("long").as("total_tokens"))
      .withColumn("w", sqrt(col("total_tokens").cast("double")))
    val w = Window.partitionBy()
    s
      .withColumn("wsum", sum(col("w").cast("decimal(38,12)")).over(w).cast("double"))
      .withColumn("budget", sum(col("total_tokens")).over(w)) // exact long sum
      .withColumn("share", round(col("w") / col("wsum"), 12))
      .withColumn("target_tokens",
        floor(col("share") * col("budget").cast("double")))
      .select(col("source"), col("total_tokens"), col("share"), col("target_tokens"),
        least(lit(1.0),
          round(col("target_tokens").cast("double") / col("total_tokens"), 12)).as("rate"))
      .orderBy("source")
  }

  private val mixTemperatureOracle =
    """WITH s AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |  FROM documents GROUP BY 1),
      |w AS (SELECT source, total_tokens,
      |        sqrt(CAST(total_tokens AS DOUBLE)) AS w FROM s),
      |agg AS (SELECT source, total_tokens, w,
      |  CAST(sum(CAST(w AS DECIMAL(38,12))) OVER () AS DOUBLE) AS wsum,
      |  CAST(sum(total_tokens) OVER () AS BIGINT) AS budget FROM w),
      |sh AS (SELECT source, total_tokens,
      |         round(w / wsum, 12) AS share, budget FROM agg)
      |SELECT source, total_tokens, share,
      |  CAST(floor(share * CAST(budget AS DOUBLE)) AS BIGINT) AS target_tokens,
      |  LEAST(1.0, round(CAST(floor(share * CAST(budget AS DOUBLE)) AS DOUBLE)
      |    / total_tokens, 12)) AS rate
      |FROM sh ORDER BY source""".stripMargin

  /** Keep-decision resolution for [[mixApply]] (rate quantized to
    * 1/[[MixRes]]). 10⁴ keeps `target·MixRes` inside a BIGINT even at
    * petabyte-scale per-source token counts (overflow would need
    * ~9·10¹⁴ tokens in one source).
    */
  val MixRes = 10000

  /** The mixture plan APPLIED: each document keeps/drops by comparing
    * its per-source hash draw against an integer threshold derived
    * from [[mixRates]]'s rate — `threshold = target·MixRes div total`
    * — so the decision is pure integer arithmetic (no float rate ever
    * compared) and reproducible document-by-document across engines
    * and reruns. Output is the per-source realized sample, which lands
    * within sampling noise of the planned uniform token target.
    *
    * Scale: the K-row threshold table broadcasts; the keep decision is
    * scan-local — the same zero-coordination property as
    * [[stratifiedSample]], now with data-derived rates.
    */
  def mixApply(spark: SparkSession, dir: String): DataFrame =
    mixKeptDocs(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("nt")).cast("long").as("tokens_kept"))
      .orderBy("source")

  /** The mixture-kept document set (doc_id, source, nt) — the integer-
    * threshold keep decision shared by [[mixApply]] (which reports it)
    * and [[corpusOrder]] (which orders it).
    */
  private def mixKeptDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("nt"))
    // the K per-source totals come to the driver, where their min is
    // taken: a global window over them would run through a
    // single-partition exchange
    val totals = docs
      .groupBy(col("source"))
      .agg(sum(col("nt")).cast("long").as("total_tokens"))
    val totalRows = totals.collect()
    val target = totalRows.filterNot(_.isNullAt(1)).map(_.getLong(1)).minOption
    val thresholds = spark.createDataFrame(java.util.Arrays.asList(totalRows: _*), totals.schema)
      .withColumn("target_tokens", target.map(lit).getOrElse(lit(null)).cast("long"))
      .select(col("source"),
        expr(s"target_tokens * $MixRes DIV total_tokens").as("keep_threshold"))
    val draw = pmod(phash(concat_ws(":", col("source"), col("doc_id").cast("string"))),
      lit(MixRes))
    docs.join(broadcast(thresholds), Seq("source"))
      .filter(draw < col("keep_threshold"))
      .select(col("doc_id"), col("source"), col("nt"))
  }

  private val mixApplyOracle =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents),
       |s AS (
       |  SELECT source, CAST(sum(nt) AS BIGINT) AS total_tokens FROM d GROUP BY 1),
       |thr AS (
       |  SELECT source,
       |    CAST(min(total_tokens) OVER () AS BIGINT) * $MixRes // total_tokens
       |      AS keep_threshold
       |  FROM s)
       |SELECT source, count(*) AS n_docs_kept,
       |  CAST(sum(nt) AS BIGINT) AS tokens_kept
       |FROM d JOIN thr USING (source)
       |WHERE ${phashSql(s"concat_ws(':', source, CAST(doc_id AS VARCHAR))")} % $MixRes
       |      < keep_threshold
       |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------- training order

  /** Deterministic training-order interleave — the epoch schedule a
    * data loader consumes after curation. The mixture-kept corpus
    * ([[mixKeptDocs]]) is shuffled WITHIN each source by a salted
    * portable hash, then sources are merged by stride scheduling: the
    * r-th of a source's n docs sits at normalized position
    * (r − 0.5)/n, so ANY prefix of the global order carries every
    * source in proportion to its kept size (a sequential reader sees a
    * stationary mixture instead of all of one source first — the
    * property mixture training needs from its input order; each
    * source's deviation from its proportional share is < 1 doc in any
    * prefix).
    *
    * Scale: the within-source shuffle rank AND the global position are
    * both [[DistributedRank]] numberings — range-sort + bounded count
    * fold + offset + partition-local row_number; no single-task window
    * exists in the plan. One IEEE division per doc for the stride key;
    * everything else is integer.
    */
  def corpusOrder(spark: SparkSession, dir: String): DataFrame =
    strideOrder(mixKeptDocs(spark, dir).select(col("doc_id"), col("source")))

  /** Stride-scheduled interleave of an arbitrary (doc_id, source)
    * document set — shared by [[corpusOrder]] (mixture-kept raw
    * corpus) and [[corpusFinalOrder]] (the fully-gated curated
    * corpus).
    */
  private def strideOrder(kept: DataFrame): DataFrame = {
    val shuffleKey = phash(concat_ws(":", lit("order"), col("doc_id").cast("string")))
    val ranked = DistributedRank.withRank(
      kept.withColumn("shuf", shuffleKey),
      Seq("source"), Seq(col("shuf"), col("doc_id")), "src_pos")
    // per-source sizes as a broadcast K-row table (map-side partial
    // agg), NOT a count window — a window over source would re-exchange
    // every row by source hash just to attach one number
    val nSrc = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
    val keyed = ranked
      .join(broadcast(nSrc), "source")
      .withColumn("okey", (col("src_pos").cast("double") - lit(0.5)) / col("n_src"))
      .select(col("doc_id"), col("source"), col("src_pos"), col("okey"))
    DistributedRank.withRank(keyed, Seq.empty,
      Seq(col("okey"), col("source"), col("doc_id")), "global_pos")
      .select(col("global_pos"), col("doc_id"), col("source"), col("src_pos"),
        round(col("okey"), 12).as("order_key"))
      .orderBy("global_pos")
  }

  /** Oracle-side stride-order chain over a prior CTE `src`(doc_id,
    * source): within-source hash-shuffle rank, stride key, global
    * numbering — the SQL mirror of [[strideOrder]].
    */
  private def strideOrderSql(src: String): String =
    s"""ord_r AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${phashSql("concat_ws(':', 'order', CAST(doc_id AS VARCHAR))")}, doc_id)
       |      AS BIGINT) AS src_pos,
       |    count(*) OVER (PARTITION BY source) AS n_src
       |  FROM $src),
       |ord_k AS (
       |  SELECT *, (CAST(src_pos AS DOUBLE) - 0.5) / n_src AS okey FROM ord_r)
       |SELECT
       |  CAST(row_number() OVER (ORDER BY okey, source, doc_id) AS BIGINT) AS global_pos,
       |  doc_id, source, src_pos, round(okey, 12) AS order_key
       |FROM ord_k ORDER BY global_pos""".stripMargin

  private val corpusOrderOracle =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents),
       |s AS (
       |  SELECT source, CAST(sum(nt) AS BIGINT) AS total_tokens FROM d GROUP BY 1),
       |thr AS (
       |  SELECT source,
       |    CAST(min(total_tokens) OVER () AS BIGINT) * $MixRes // total_tokens
       |      AS keep_threshold
       |  FROM s),
       |kept AS (
       |  SELECT d.doc_id, d.source FROM d JOIN thr USING (source)
       |  WHERE ${phashSql(s"concat_ws(':', source, CAST(doc_id AS VARCHAR))")} % $MixRes
       |        < keep_threshold),
       |${strideOrderSql("kept")}""".stripMargin

  // ------------------------------------------- token-budget greedy fill

  /** Fraction of the corpus token mass the budgeted sample targets
    * (denominator of the integer division — budget = total DIV 2).
    */
  val BudgetDiv = 2

  /** Token-BUDGET-constrained selection — the op that fills a fixed
    * training budget ("the next run reads N tokens") with the best
    * available documents instead of a rate-sampled cross-section:
    * a global budget (half the corpus token mass) is allocated across
    * sources by the α = 0.5 temperature shares ([[mixTemperature]]'s
    * exact sqrt/DECIMAL/rounded-division math, so low-resource sources
    * keep a super-proportional slice), then each source admits its
    * documents best-quality-first ([[TextAnalysis.qualityPoints]],
    * doc_id tiebreak) while the running token mass stays within the
    * allocation. Output is the per-source realized fill: allocation,
    * docs/tokens admitted, and the quality score of the worst admitted
    * document (the IMPLIED quality cutoff the budget buys).
    *
    * Scale shape: the allocation is a K-row frame from one aggregated
    * scan (broadcast back); the greedy fill is ONE window per source
    * partition — `sum(nt) ROWS UNBOUNDED PRECEDING` under a total
    * (quality, doc_id) order, so the only full-corpus exchange keys on
    * source. Exact greedy fill is inherently a per-source ordered
    * pass; a head source big enough to skew its partition would use
    * the two-pass quantile-cutoff shape ([[RelationalExt]]'s exact
    * quantile selection) to pre-split the order — the contract here is
    * the exact fill.
    */
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame =
    sampleTokenBudgetOn(t(spark, dir, "documents"))

  private[operators] def sampleTokenBudgetOn(input: DataFrame): DataFrame = {
    val docs = input
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        TextAnalysis.qualityPoints(col("text")).cast("long").as("pts"))
    val all = Window.partitionBy()
    val alloc = docs.groupBy(col("source"))
      .agg(sum(col("nt")).as("total_tokens"))
      .withColumn("w", sqrt(col("total_tokens").cast("double")))
      .withColumn("wsum", sum(col("w").cast("decimal(38,12)")).over(all).cast("double"))
      .withColumn("budget_all", expr(s"sum(total_tokens) over () DIV $BudgetDiv"))
      .withColumn("share", round(col("w") / col("wsum"), 12))
      .select(col("source"), col("total_tokens"),
        floor(col("share") * col("budget_all").cast("double")).cast("long")
          .as("budget_tokens"))
    val fill = Window.partitionBy(col("source"))
      .orderBy(col("pts").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("running", sum(col("nt")).over(fill))
      .join(broadcast(alloc), Seq("source"))
      .withColumn("sel", col("running") <= col("budget_tokens"))
      .groupBy(col("source"))
      .agg(max(col("total_tokens")).as("total_tokens"),
        max(col("budget_tokens")).as("budget_tokens"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("sel"), col("nt")).otherwise(0L)).as("tokens_selected"),
        min(when(col("sel"), col("pts"))).as("quality_cutoff"))
      .orderBy("source")
  }

  private val sampleTokenBudgetOracle =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |    CAST(${TextAnalysis.qualityPointsSql("text")} AS BIGINT) AS pts
       |  FROM documents),
       |tot AS (
       |  SELECT source, CAST(sum(nt) AS BIGINT) AS total_tokens FROM d GROUP BY 1),
       |agg AS (
       |  SELECT source, total_tokens, sqrt(CAST(total_tokens AS DOUBLE)) AS w,
       |    CAST(sum(CAST(sqrt(CAST(total_tokens AS DOUBLE)) AS DECIMAL(38,12)))
       |      OVER () AS DOUBLE) AS wsum,
       |    CAST(sum(total_tokens) OVER () AS BIGINT) // $BudgetDiv AS budget_all
       |  FROM tot),
       |alloc AS (
       |  SELECT source, total_tokens,
       |    CAST(floor(round(w / wsum, 12) * CAST(budget_all AS DOUBLE)) AS BIGINT)
       |      AS budget_tokens
       |  FROM agg),
       |ranked AS (
       |  SELECT *, sum(nt) OVER (PARTITION BY source
       |    ORDER BY pts DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS running
       |  FROM d),
       |sel AS (
       |  SELECT r.source, a.total_tokens, a.budget_tokens, r.nt, r.pts,
       |    r.running <= a.budget_tokens AS sel
       |  FROM ranked r JOIN alloc a USING (source))
       |SELECT source,
       |  max(total_tokens) AS total_tokens,
       |  max(budget_tokens) AS budget_tokens,
       |  CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |  CAST(coalesce(sum(CASE WHEN sel THEN nt END), 0) AS BIGINT)
       |    AS tokens_selected,
       |  CAST(min(CASE WHEN sel THEN pts END) AS BIGINT) AS quality_cutoff
       |FROM sel GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ quality threshold sweep

  /** Quality-threshold sweep: for every cut point of the integer
    * quality score, the document/token mass that survives — the curve
    * an engineer reads before choosing the gate. ONE corpus scan
    * reduces to ≤ 11 (points, count, tokens) rows; the threshold
    * fan-out is an 11 × ≤11 broadcast nested loop over those
    * pre-aggregated rows, so the sweep costs the same as a single
    * threshold at any corpus size.
    */
  def qualitySweep(spark: SparkSession, dir: String): DataFrame = {
    val perPoint = t(spark, dir, "documents")
      .select(TextAnalysis.qualityPoints(col("text")).as("p"),
        size(split(col("text"), " ")).as("nt"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("nd"), sum(col("nt")).cast("long").as("tok"))
    val thr = spark.range(0, 11).select(col("id").cast("int").as("q_min"))
    val sweep = thr.join(perPoint, col("p") >= col("q_min"), "left")
      .groupBy(col("q_min"))
      .agg(coalesce(sum(col("nd")), lit(0L)).as("n_docs"),
        coalesce(sum(col("tok")), lit(0L)).as("n_tokens"))
    // survivors are monotone non-increasing in q_min, so the q_min=0
    // row IS the corpus total — a window max over the 11-row sweep,
    // not a second corpus scan
    val all = Window.partitionBy()
    sweep
      .select(col("q_min"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / max(col("n_docs")).over(all), 12)
          .as("doc_frac"),
        round(col("n_tokens").cast("double") / max(col("n_tokens")).over(all), 12)
          .as("token_frac"))
      .orderBy("q_min")
  }

  private val qualitySweepOracle = {
    s"""WITH scored AS (
       |  SELECT ${TextAnalysis.qualityPointsSql("text")} AS p,
       |    len(string_split(text, ' ')) AS nt
       |  FROM documents),
       |pp AS (
       |  SELECT p, count(*) AS nd, CAST(sum(nt) AS BIGINT) AS tok
       |  FROM scored GROUP BY 1),
       |thr AS (SELECT unnest(generate_series(0, 10)) AS q_min),
       |sweep AS (
       |  SELECT CAST(q_min AS INTEGER) AS q_min,
       |    CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_docs,
       |    CAST(coalesce(sum(tok), 0) AS BIGINT) AS n_tokens
       |  FROM thr LEFT JOIN pp ON p >= q_min
       |  GROUP BY q_min)
       |SELECT q_min, n_docs, n_tokens,
       |  round(CAST(n_docs AS DOUBLE) / max(n_docs) OVER (), 12) AS doc_frac,
       |  round(CAST(n_tokens AS DOUBLE) / max(n_tokens) OVER (), 12) AS token_frac
       |FROM sweep ORDER BY q_min""".stripMargin
  }

  // ------------------------------------------- end-to-end corpus artifact

  /** THE composed deliverable of the curation suite: every gate the
    * standalone queries expose, run as ONE plan, emitting the manifest
    * a training run actually consumes — per (source, split): documents
    * entering, surviving each gate (cumulatively, in pipeline order),
    * and the final post-mixture document/token mass.
    *
    * Stage order (each flag IDENTICAL to its standalone query, so the
    * attritions reconcile — asserted by `CorpusFinalSpec`):
    *   1. eval-suite exclusion (doc_id % [[Hygiene.BenchMod]] — the
    *      docs standing in for the benchmark are not corpus),
    *   2. quality gate (`text_quality` points ≥ 8, as `curation_funnel`),
    *   3. near-dup survivor selection (`dedup_keep_best` — docs outside
    *      any cluster survive by definition),
    *   4. substring-run gate (`dedup_substring`: docs that are the
    *      HIGHER id of any verbatim ≥ W-token run pair drop — first
    *      occurrence of a repeated span survives),
    *   5. n-gram decontamination (`decontam_overlap`: any df-capped
    *      5-gram shared with the eval suite flags the doc),
    *   6. semantic decontamination (`decontam_semantic`: embedding
    *      cosine ≥ threshold vs any eval vector; docs without an
    *      embedding pass — vec_id is the doc_id of the embedded subset),
    *   7. line-level cleanup (`text_line_dedup`'s boilerplate lines
    *      drop from every survivor — a CONTENT transform, not a doc
    *      gate: the doc's token mass shrinks to `nt_clean`, reported
    *      per group as `tokens_line_dropped`),
    *   8. leakage-free split (`split_group_aware`: the split hashes the
    *      dup-cluster root, never the doc),
    *   9. mixture apply (`mix_apply`'s integer-threshold draw, with the
    *      per-source CLEAN token totals computed over the CURATED
    *      corpus — the plan a real run derives after cleaning, not
    *      before; the draw is salted so it is independent of
    *      `mix_apply`'s). Uniform (min-source) targets by default;
    *      `corpus_final_temperature` runs the same stack with
    *      `mix_temperature`'s α = 0.5 flattened targets instead.
    *
    * Scale shape: gates 1/2 are scan-local projections; 3–6 left-join
    * maps proportional to the duplicated/contaminated subsets (tiny
    * next to the corpus — AQE broadcasts them), each served from the
    * persisted shingle index / memoized LSH pair set; stage 7 reads
    * the persisted [[LineIndex]] df table, so no stage re-derives what
    * an index already holds; 8/9 are stateless hash decisions; the
    * only full-corpus shuffles are the line-segmentation hash-agg and
    * the final (source, split) hash-agg, whose partial aggregation
    * reduces map-side to K·3 rows per task.
    */
  def corpusFinal(spark: SparkSession, dir: String): DataFrame =
    corpusFinalOn(spark, dir, temperature = false)

  /** [[corpusFinal]] with the temperature-flattened mixture (same gate
    * stack, `mix_temperature`'s targets over the curated clean token
    * masses, an independent draw salt).
    */
  def corpusFinalTemperature(spark: SparkSession, dir: String): DataFrame =
    corpusFinalOn(spark, dir, temperature = true)

  /** α = 0.5 temperature keep-thresholds from a per-source
    * `(source, total_tokens)` frame — [[mixTemperature]]'s exact share
    * math (sqrt weights, DECIMAL-summed denominator, 12-digit rounded
    * IEEE division), reduced to the integer draw threshold. A source
    * whose flattened target meets or exceeds its mass keeps everything
    * (threshold caps at [[MixRes]]).
    */
  private[operators] def temperatureKeepThresholds(totals: DataFrame): DataFrame = {
    val w = Window.partitionBy()
    totals
      .withColumn("w", sqrt(col("total_tokens").cast("double")))
      .withColumn("wsum", sum(col("w").cast("decimal(38,12)")).over(w).cast("double"))
      .withColumn("budget", sum(col("total_tokens")).over(w))
      .withColumn("share", round(col("w") / col("wsum"), 12))
      .select(col("source"),
        least(lit(MixRes.toLong), expr(
          s"cast(floor(share * cast(budget as double)) as bigint) * $MixRes DIV total_tokens"))
          .as("keep_threshold"))
  }

  private def corpusFinalOn(
      spark: SparkSession, dir: String, temperature: Boolean): DataFrame =
    manifestFromFlags(corpusFinalFlags(spark, dir), temperature)

  /** The full-recompute per-doc flags frame the final manifest folds
    * (the incremental path derives the same columns from
    * [[CurationState]] instead).
    */
  private[operators] def corpusFinalFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(col("doc_id") % Hygiene.BenchMod =!= 0)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        TextAnalysis.qualityPoints(col("text")).as("pts"))
    val lineClean = Dedup.lineCleanTokens(spark, dir)
    val survivors = Dedup.keepBest(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("keep").as("dedup_keep"))
    val substrBad = Dedup.substringFlagged(spark, dir)
      .select(col("doc_id"), lit(true).as("substr_bad"))
    val ngramBad = Hygiene.decontamOverlap(spark, dir)
      .select(col("doc_id"), lit(true).as("ngram_bad"))
    val semBad = Hygiene.decontamSemantic(spark, dir)
      .select(col("vec_id").as("doc_id"), lit(true).as("sem_bad"))
    val flags = docs
      .join(lineClean, Seq("doc_id"), "left")
      .join(survivors, Seq("doc_id"), "left")
      .join(substrBad, Seq("doc_id"), "left")
      .join(ngramBad, Seq("doc_id"), "left")
      .join(semBad, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("nt"), col("pts"),
        coalesce(col("nt_clean"), lit(0L)).as("ntc"),
        coalesce(col("dedup_keep"), lit(true)).as("dedup_keep"),
        coalesce(col("substr_bad"), lit(false)).as("substr_bad"),
        coalesce(col("ngram_bad"), lit(false)).as("ngram_bad"),
        coalesce(col("sem_bad"), lit(false)).as("sem_bad"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    flags
  }

  /** The manifest stage shared VERBATIM by [[corpusFinal]] and the
    * incremental curation read ([[CurationState.corpusIncremental]]):
    * from a per-doc flags frame `(doc_id, source, nt, pts, ntc,
    * dedup_keep, substr_bad, ngram_bad, sem_bad, group_id)` — however
    * those flags were derived, full recompute or incremental state —
    * assign the group-hashed split, fold the gate conjunctions, derive
    * the mixture thresholds over the surviving clean token mass, and
    * aggregate the per-(source, split) manifest. One code path means
    * the two queries can never drift on split/mixture/aggregation
    * semantics.
    */
  private[operators] def manifestFromFlags(
      flagsIn: DataFrame, temperature: Boolean): DataFrame =
    finalKeeps(flagsIn, temperature)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("q_ok"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("q_ok") && col("dedup_keep"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("sub_ok"), 1L).otherwise(0L)).as("n_substr"),
        sum(when(col("surv"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("mix_keep"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("mix_keep"), col("ntc")).otherwise(0L)).as("tokens_final"),
        sum(when(col("surv"), col("nt") - col("ntc")).otherwise(0L))
          .as("tokens_line_dropped"))
      .orderBy("source", "split")

  /** The per-document end of the gate stack: split assignment, the
    * gate conjunctions, mixture thresholds over surviving clean token
    * mass, and each document's final `mix_keep` — everything
    * [[manifestFromFlags]] aggregates, exposed per-doc so the ORDERED
    * curated corpus ([[corpusFinalOrder]]) can consume the same
    * decisions the manifest reports.
    */
  private[operators] def finalKeeps(flagsIn: DataFrame, temperature: Boolean): DataFrame = {
    val bucket = pmod(phash(concat(lit("grp:"), col("group_id").cast("string"))), lit(100))
    val flags = flagsIn
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test"))
      .withColumn("q_ok", col("pts") >= 8)
      .withColumn("sub_ok", col("q_ok") && col("dedup_keep") && !col("substr_bad"))
      .withColumn("surv", col("sub_ok") && !col("ngram_bad") && !col("sem_bad"))
    val totals = flags.filter(col("surv"))
      .groupBy(col("source")).agg(sum(col("ntc")).as("total_tokens"))
    val thresholds =
      if (temperature) temperatureKeepThresholds(totals)
      else totals
        .withColumn("target_tokens", min(col("total_tokens")).over(Window.partitionBy()))
        .select(col("source"),
          expr(s"target_tokens * $MixRes DIV total_tokens").as("keep_threshold"))
    val salt = if (temperature) "cft" else "cf"
    val draw = pmod(phash(concat_ws(":", lit(salt), col("source"), col("doc_id").cast("string"))),
      lit(MixRes))
    flags.join(broadcast(thresholds), Seq("source"), "left")
      .withColumn("mix_keep",
        coalesce(col("surv") && draw < col("keep_threshold"), lit(false)))
  }

  /** Oracle CTE chain down to the per-doc `fin` frame (split, gate
    * booleans, mix_keep per doc_id) — shared by the manifest oracle
    * and the curated-order oracle, mirroring [[finalKeeps]].
    */
  private def corpusFinalDocCtes(temperature: Boolean): String = {
    val grpB = phashSql("'grp:' || CAST(group_id AS VARCHAR)")
    val salt = if (temperature) "cft" else "cf"
    val drawSql = phashSql(s"concat_ws(':', '$salt', f.source, CAST(f.doc_id AS VARCHAR))")
    val thr =
      if (temperature)
        s"""thr AS (
           |  SELECT source, LEAST($MixRes,
           |    CAST(floor(share * CAST(budget AS DOUBLE)) AS BIGINT)
           |      * $MixRes // total_tokens) AS keep_threshold
           |  FROM (
           |    SELECT source, total_tokens, budget, round(w / wsum, 12) AS share
           |    FROM (
           |      SELECT source, total_tokens, w,
           |        CAST(sum(CAST(w AS DECIMAL(38,12))) OVER () AS DOUBLE) AS wsum,
           |        CAST(sum(total_tokens) OVER () AS BIGINT) AS budget
           |      FROM (
           |        SELECT source, total_tokens,
           |          sqrt(CAST(total_tokens AS DOUBLE)) AS w
           |        FROM tot) tw) ta) ts)""".stripMargin
      else
        s"""thr AS (
           |  SELECT source,
           |    CAST(min(total_tokens) OVER () AS BIGINT) * $MixRes // total_tokens
           |      AS keep_threshold
           |  FROM tot)""".stripMargin
    s"""WITH RECURSIVE ${Dedup.clusterOracleCtes},
       |${Dedup.survivorOracleCtes},
       |${Dedup.lineCleanOracleCtes},
       |${Dedup.substringFlaggedOracleCtes},
       |bench AS (SELECT DISTINCT s FROM e WHERE doc_id % ${Hygiene.BenchMod} = 0),
       |ngram_bad AS (
       |  SELECT DISTINCT e.doc_id FROM e JOIN bench USING (s)
       |  WHERE e.doc_id % ${Hygiene.BenchMod} <> 0),
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |velems AS (
       |  SELECT vec_id, embedding[i] AS val, i FROM emb,
       |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
       |vnorms AS (
       |  SELECT vec_id,
       |    CAST(sum(CAST(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS nsq
       |  FROM velems GROUP BY vec_id),
       |vdots AS (
       |  SELECT c.vec_id AS vec_id, q.vec_id AS q_id,
       |    CAST(sum(CAST(CAST(c.val AS DOUBLE) * CAST(q.val AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE) AS dot
       |  FROM velems c JOIN velems q ON c.i = q.i
       |    AND q.vec_id < ${Similarity.NumQueries} AND c.vec_id >= ${Similarity.NumQueries}
       |  GROUP BY 1, 2),
       |sem_bad AS (
       |  SELECT DISTINCT d.vec_id AS doc_id
       |  FROM vdots d
       |  JOIN vnorms nc ON d.vec_id = nc.vec_id
       |  JOIN vnorms nq ON d.q_id = nq.vec_id
       |  WHERE round(dot / (sqrt(nc.nsq) * sqrt(nq.nsq)), 12)
       |        >= ${Hygiene.SemDecontamThreshold}),
       |base AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
       |    coalesce(lc.ntc, 0) AS ntc,
       |    ${TextAnalysis.qualityPointsSql("d.text")} AS pts,
       |    coalesce(r.rn = 1, TRUE) AS dedup_keep,
       |    d.doc_id IN (SELECT doc_id FROM substr_bad) AS substr_bad,
       |    d.doc_id IN (SELECT doc_id FROM ngram_bad) AS ngram_bad,
       |    d.doc_id IN (SELECT doc_id FROM sem_bad) AS sem_bad,
       |    coalesce(c.cluster_id, d.doc_id) AS group_id
       |  FROM documents d
       |  LEFT JOIN lclean lc ON lc.doc_id = d.doc_id
       |  LEFT JOIN comp c ON c.id = d.doc_id
       |  LEFT JOIN ranked r ON r.doc_id = d.doc_id
       |  WHERE d.doc_id % ${Hygiene.BenchMod} <> 0),
       |flags AS (
       |  SELECT *,
       |    CASE WHEN b < 80 THEN 'train'
       |         WHEN b < 90 THEN 'validation'
       |         ELSE 'test' END AS split,
       |    pts >= 8 AS q_ok,
       |    (pts >= 8 AND dedup_keep AND NOT substr_bad) AS sub_ok,
       |    (pts >= 8 AND dedup_keep AND NOT substr_bad
       |      AND NOT ngram_bad AND NOT sem_bad) AS surv
       |  FROM (SELECT *, $grpB % 100 AS b FROM base) x),
       |tot AS (
       |  SELECT source, CAST(sum(ntc) AS BIGINT) AS total_tokens
       |  FROM flags WHERE surv GROUP BY 1),
       |$thr,
       |fin AS (
       |  SELECT f.doc_id, f.source, f.split, f.nt, f.ntc, f.q_ok, f.dedup_keep,
       |    f.sub_ok, f.surv,
       |    coalesce(f.surv AND $drawSql % $MixRes < t.keep_threshold, FALSE) AS mix_keep
       |  FROM flags f LEFT JOIN thr t USING (source))""".stripMargin
  }

  private[operators] def corpusFinalOracleFor(temperature: Boolean): String =
    s"""${corpusFinalDocCtes(temperature)}
       |SELECT source, split,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(sum(CASE WHEN q_ok AND dedup_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       |  CAST(sum(CASE WHEN sub_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_substr,
       |  CAST(sum(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       |  CAST(sum(CASE WHEN mix_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       |  CAST(sum(CASE WHEN mix_keep THEN ntc ELSE 0 END) AS BIGINT) AS tokens_final,
       |  CAST(sum(CASE WHEN surv THEN nt - ntc ELSE 0 END) AS BIGINT)
       |    AS tokens_line_dropped
       |FROM fin GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  private val corpusFinalOracle: String = corpusFinalOracleFor(temperature = false)
  private val corpusFinalTemperatureOracle: String =
    corpusFinalOracleFor(temperature = true)

  /** The ordered curated corpus — the artifact a training run actually
    * consumes: the documents that survived the FULL gate stack
    * ([[corpusFinal]]'s quality/dedup/substring/decontam/mixture
    * conjunction, train split only) emitted in the stride-scheduled
    * interleave, so a data loader reading the schedule sequentially
    * sees the curated mixture stationary from the first batch. Same
    * per-doc decisions the manifest aggregates ([[finalKeeps]] —
    * one code path), same order machinery as [[corpusOrder]]
    * ([[strideOrder]]: two [[DistributedRank]] numberings, no
    * single-task window).
    */
  def corpusFinalOrder(spark: SparkSession, dir: String): DataFrame =
    CurationState.orderedCorpus(spark, dir)

  /** The full-recompute derivation of the ordered curated corpus —
    * the reference the state-served query must equal
    * ([[CorpusOrderSpec]] asserts bit-equality).
    */
  private[operators] def corpusFinalOrderRecompute(spark: SparkSession, dir: String): DataFrame =
    orderedFromFlags(corpusFinalFlags(spark, dir))

  /** Gate stack tail shared by both derivations: final keeps (uniform
    * mixture, train split) into the stride interleave.
    */
  private[operators] def orderedFromFlags(flags: DataFrame): DataFrame =
    strideOrder(
      finalKeeps(flags, temperature = false)
        .filter(col("mix_keep") && col("split") === "train")
        .select(col("doc_id"), col("source")))

  private val corpusFinalOrderOracle: String =
    s"""${corpusFinalDocCtes(temperature = false)},
       |keptord AS (
       |  SELECT doc_id, source FROM fin WHERE mix_keep AND split = 'train'),
       |${strideOrderSql("keptord")}""".stripMargin

  // ------------------------------------------------- output shard layout

  /** Token mass one output shard targets in [[corpusShards]] — the
    * knob a writer derives from its target file size (here sized so
    * every test SF yields a multi-shard layout).
    */
  val ShardTargetTokens = 20000L

  /** Physical output layout for the curated corpus — the step after
    * [[corpusFinal]]'s manifest: over the docs surviving the cheap
    * gates (eval-suite exclusion + the quality gate, the same flags
    * `corpus_final` stage 1–2 applies), derive the shard COUNT from
    * the surviving token mass (`max(1, total DIV target)` — the same
    * rule a writer uses to hit a target file size), assign every doc
    * its shard by deterministic salted hash, and emit the per-shard
    * manifest (docs, token/char mass, balance factor = shard tokens ÷
    * ideal). Hash sharding gives E[balance]=1 with no coordination;
    * the manifest row is what a training loader consumes to schedule
    * shard reads.
    *
    * Scale: the total is ONE 1-row broadcast (crossJoin of a 1-row
    * aggregate — the suite's standing pattern for corpus-level
    * constants); assignment is a scan-local hash projection, and the
    * only full-corpus shuffle is the final hash-agg onto n_shards
    * rows with map-side partials. At 100 TB the writer would follow
    * with `repartition(n_shards, shard_id)` + per-shard files — the
    * assignment column IS that exchange's key.
    */
  def corpusShards(spark: SparkSession, dir: String): DataFrame =
    corpusShardsOn(t(spark, dir, "documents"))

  private[operators] def corpusShardsOn(input: DataFrame): DataFrame = {
    val docs = input
      .filter(col("doc_id") % Hygiene.BenchMod =!= 0 &&
        TextAnalysis.qualityPoints(col("text")) >= 8)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"), col("n_chars"))
    val tot = docs.agg(sum(col("nt")).as("total_tokens"))
      .select(col("total_tokens"),
        greatest(lit(1L), expr(s"total_tokens DIV $ShardTargetTokens")).as("n_shards"))
    docs.crossJoin(broadcast(tot))
      .withColumn("shard_id",
        pmod(phash(concat(lit("shard:"), col("doc_id").cast("string"))), col("n_shards")))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"),
        sum(col("n_chars")).as("chars"),
        max(col("n_shards")).as("ns"), max(col("total_tokens")).as("tt"))
      .select(col("shard_id"), col("n_docs"), col("tokens"), col("chars"),
        round((col("tokens") * col("ns")).cast("double") / col("tt"), 12).as("balance"))
      .orderBy("shard_id")
  }

  private val corpusShardsOracle =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt, n_chars
       |  FROM documents
       |  WHERE doc_id % ${Hygiene.BenchMod} <> 0
       |    AND ${TextAnalysis.qualityPointsSql("text")} >= 8),
       |tot AS (
       |  SELECT CAST(sum(nt) AS BIGINT) AS tt,
       |    greatest(1, CAST(sum(nt) AS BIGINT) // $ShardTargetTokens) AS ns
       |  FROM d),
       |s AS (
       |  SELECT d.*, ns, tt,
       |    ${phashSql("'shard:' || CAST(doc_id AS VARCHAR)")} % ns AS shard_id
       |  FROM d, tot)
       |SELECT shard_id, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS chars,
       |  round(CAST(sum(nt) * max(ns) AS DOUBLE) / max(tt), 12) AS balance
       |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------- registry

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("corpus_shards", corpusShards _, Some(corpusShardsOracle),
      "token-mass-derived output shard layout: deterministic hash assignment + balance manifest"),
    GraftQuery("corpus_final", corpusFinal _, Some(corpusFinalOracle),
      "end-to-end curated-corpus manifest: quality → keep-best → substring gate → decontam → line cleanup → split → mixture, per (source, split)"),
    GraftQuery("corpus_final_temperature", corpusFinalTemperature _,
      Some(corpusFinalTemperatureOracle),
      "corpus_final under the α=0.5 temperature-flattened mixture targets"),
    GraftQuery("corpus_final_order", corpusFinalOrder _, Some(corpusFinalOrderOracle),
      "the ordered curated corpus: full gate stack survivors (train split) in the stride interleave"),
    GraftQuery("mix_rates", mixRates _, Some(mixRatesOracle),
      "data-mixture plan: per-source downsampling rates to a uniform token target"),
    GraftQuery("mix_temperature", mixTemperature _, Some(mixTemperatureOracle),
      "temperature-flattened mixture plan (q ∝ n^0.5, decimal-exact share denominator)"),
    GraftQuery("mix_apply", mixApply _, Some(mixApplyOracle),
      "mixture plan applied: integer-threshold hash sampling per source"),
    GraftQuery("sample_token_budget", sampleTokenBudget _, Some(sampleTokenBudgetOracle),
      "token-budget greedy fill: sqrt-share allocation per source, best-quality-first admission"),
    GraftQuery("corpus_order", corpusOrder _, Some(corpusOrderOracle),
      "deterministic training-order interleave: stride-scheduled source merge, distributed global numbering"),
    GraftQuery("quality_sweep", qualitySweep _, Some(qualitySweepOracle),
      "survival curve over every quality-score cut (one scan, pre-aggregated sweep)"),
    GraftQuery("split_group_aware", splitGroupAware _, Some(splitGroupAwareOracle),
      "leakage-free split: whole near-dup clusters assigned to one split"),
    GraftQuery("split_assign", splitAssign _, Some(splitAssignOracle),
      "deterministic hash-bucket train/val/test split (80/10/10)"),
    GraftQuery("stratified_sample", stratifiedSample _, Some(stratifiedSampleOracle),
      "per-stratum Bernoulli-by-hash sampling (20% per lang, zero coordination)"),
    GraftQuery("sample_join_consistent", sampleJoinConsistent _, Some(sampleJoinConsistentOracle),
      "correlated key-hash sampling: the join of the samples IS the sample of the join"),
    GraftQuery("sample_topk_hash", sampleTopkHash _, Some(sampleTopkHashOracle),
      "uniform k-sample by hash order (TakeOrderedAndProject)"),
    GraftQuery("weighted_sample", weightedSample _, Some(weightedSampleOracle),
      "length-weighted sampling via integer cross-multiplication (no float compare)"),
    GraftQuery("doc_length_histogram", docLengthHistogram _, Some(docLengthHistogramOracle),
      "document length histogram, 100-char buckets capped at 20"),
    GraftQuery("ngram_counts", ngramCounts _, Some(ngramCountsOracle),
      "top-5 bigrams per language (corpus n-gram stats)"),
    GraftQuery("tfidf_top_terms", tfidfTopTerms _, Some(tfidfTopTermsOracle),
      "rational TF-IDF top-3 terms per doc (integer-exact scoring)"),
    GraftQuery("window_sliding_revenue", slidingRevenue _, Some(slidingRevenueOracle),
      "7-day sliding revenue via daily decimal pre-agg + RANGE frame"),
    GraftQuery("curation_funnel", curationFunnel _, Some(curationFunnelOracle),
      "per-language quality-gate + dedup funnel report in one pass"))
}
