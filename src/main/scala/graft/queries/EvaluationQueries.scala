package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Evaluation & reliability operators (round 10): the model-evaluation
  * and operational-planning queries a training-data platform runs after
  * the data is curated — exact ROC-AUC, survival (Kaplan–Meier) risk
  * tables, per-column profiling censuses, compaction planning,
  * leakage-safe target encoding, and seasonal forecast-quality scoring.
  * Same determinism discipline as the rest of the registry: integer
  * arithmetic until the final division, midranks instead of float
  * cumulants, tie-free window orders, StableAgg decimal sums for double
  * accumulations.
  */
object EvaluationQueries extends Registry {

  /** Exact ROC-AUC via the Mann–Whitney rank-sum identity:
    * AUC = (Σ midrank(positives) − nP(nP+1)/2) / (nP·nN), where the
    * midrank of a tied score group is min-rank + (ties−1)/2 — the exact
    * tie-corrected estimator, not a trapezoid approximation. Label =
    * (event_type = 'purchase'), score = value. Midranks are rationals
    * with denominator 2, so 2·Σmidrank is an exact integer and AUC is
    * ONE double division at the end — bit-identical on any engine or
    * partitioning.
    *
    * Scale: rank() needs a global score order — ONE range-partitioned
    * sort (the same cost as any global ranking); ties resolved by a
    * per-score count broadcast-joined... no: both windows share the one
    * sort. Output is a single row. At 100 TB the same identity runs on
    * a per-score histogram (score cardinality ≪ rows) — the q184
    * bounded-domain device; this is the row-level exact form.
    */
  private val q291 = Q("q291_exact_auc",
    (s, d) => {
      val byScore = Window.orderBy("value")
      val perScore = Window.partitionBy("value")
      val ranked = Tables.events(s, d)
        .select(col("value"),
          (col("event_type") === "purchase").cast("int").as("label"))
        .withColumn("minrank", rank().over(byScore).cast("long"))
        .withColumn("ties", count(lit(1)).over(perScore))
      // 2·midrank = 2·minrank + ties − 1 (exact integers)
      ranked.agg(
          sum(col("label")).as("n_pos"),
          sum(lit(1) - col("label")).as("n_neg"),
          sum(when(col("label") === 1,
            lit(2L) * col("minrank") + col("ties") - 1L).otherwise(0L))
            .as("two_rank_sum"))
        .select(col("n_pos"), col("n_neg"),
          ((col("two_rank_sum") - col("n_pos") * (col("n_pos") + 1L)).cast("double")
            / (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double"))).as("auc"))
    },
    Some("""WITH r AS (SELECT value,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
          CAST(rank() OVER (ORDER BY value) AS BIGINT) AS minrank,
          COUNT(*) OVER (PARTITION BY value) AS ties
        FROM events)
      SELECT CAST(SUM(label) AS BIGINT) AS n_pos,
        CAST(SUM(1 - label) AS BIGINT) AS n_neg,
        CAST(SUM(CASE WHEN label = 1 THEN 2 * minrank + ties - 1 ELSE 0 END)
              - SUM(label) * (SUM(label) + 1) AS DOUBLE)
          / (2.0::DOUBLE * CAST(SUM(label) * SUM(1 - label) AS DOUBLE)) AS auc
      FROM r"""))

  /** Kaplan–Meier risk table over per-user activity lifetimes: duration
    * = last−first event (hours, floored to integers), right-censored if
    * the user was still active in the final 12 h of the tape. One row
    * per distinct EVENT time (durations with ≥1 death): n_at_risk (all
    * subjects with duration ≥ t), deaths, censored-at-t, and the exact
    * hazard d/n as one division. These are the estimator's sufficient
    * statistics; the survival curve Π(1−dᵢ/nᵢ) is a cumulative FLOAT
    * product whose cross-engine bit-identity no SQL engine guarantees,
    * so the gate pins the risk table and the certificate folds the
    * product in Scala.
    *
    * Scale: one user_id aggregation (the tape shuffle), then all
    * windows over the |durations|-row table — bounded by distinct
    * lifetimes, not events.
    */
  private val q292 = Q("q292_kaplan_meier",
    (s, d) => {
      val ev = Tables.events(s, d)
      val horizon = ev.agg(max(col("ts_ms")).as("max_ms"))
      val subj = ev.groupBy("user_id")
        .agg(min(col("ts_ms")).as("first_ms"), max(col("ts_ms")).as("last_ms"))
        .crossJoin(broadcast(horizon))
        .select(
          expr("(last_ms - first_ms) div 3600000").as("dur_h"),
          (col("last_ms") >= col("max_ms") - 43200000L).cast("int").as("censored"))
      val byTime = subj.groupBy("dur_h")
        .agg(sum(lit(1) - col("censored")).as("deaths"),
          sum(col("censored")).as("censored_n"),
          count(lit(1)).as("ending"))
      val atRisk = Window.orderBy("dur_h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      byTime
        .withColumn("n_risk", sum(col("ending")).over(atRisk))
        .filter(col("deaths") > 0)
        .select(col("dur_h"), col("n_risk"), col("deaths"), col("censored_n"),
          (col("deaths").cast("double") / col("n_risk").cast("double")).as("hazard"))
        .orderBy("dur_h")
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      h AS (SELECT MAX(ms) AS max_ms FROM e),
      subj AS (SELECT
          CAST((MAX(ms) - MIN(ms)) // 3600000 AS BIGINT) AS dur_h,
          CASE WHEN MAX(ms) >= (SELECT max_ms FROM h) - 43200000 THEN 1 ELSE 0 END AS censored
        FROM e GROUP BY user_id),
      t AS (SELECT dur_h, SUM(1 - censored) AS deaths, SUM(censored) AS censored_n,
          COUNT(*) AS ending
        FROM subj GROUP BY dur_h),
      r AS (SELECT *, SUM(ending) OVER (ORDER BY dur_h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk FROM t)
      SELECT dur_h, CAST(n_risk AS BIGINT) AS n_risk,
        CAST(deaths AS BIGINT) AS deaths, CAST(censored_n AS BIGINT) AS censored_n,
        CAST(deaths AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard
      FROM r WHERE deaths > 0 ORDER BY dur_h"""))

  /** Per-column profiling census of `orders` (the dbt/Deequ-style table
    * profile that gates ingest): one output row per column with null
    * count, exact distinct count, and min/max rendered to strings. All
    * per-column aggregates computed in ONE aggregation pass and
    * unpivoted from a single row — the multi-count(distinct) Expand is
    * the exact path (|cols|× the scan internally, still one shuffle of
    * partial aggregates); the 100 TB profile swaps exact distincts for
    * q156's HLL sketches, same dataflow.
    */
  private val q293 = Q("q293_profile_census",
    (s, d) => {
      // fanOut (r14): the single-row-group fixture scan ran the Expand×5 +
      // partial multi-distinct aggregate in ONE task (bench_stages: 2.8 s
      // wall ≈ 3 s cpu, serialized); at any real file count this is a no-op.
      // r15 (the q156 dedupe-first treatment — see q134's note): the
      // Expand×5 multi-distinct carried every null/min/max buffer per
      // (gid, value) group — 23 s of task CPU at sf0.1. Now one plain
      // single-group stats pass (no Expand) plus ONE dedupe-first pass for
      // all five exact distinct counts over injective value strings; the
      // exchange carries distinct (name, value) pairs with no buffers.
      val o = Tables.fanOut(Tables.orders(s, d))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      val statsExprs = cols.flatMap { c =>
        Seq(
          sum(col(c).isNull.cast("long")).as(s"${c}__nl"),
          min(col(c)).cast("string").as(s"${c}__mn"),
          max(col(c)).cast("string").as(s"${c}__mx"))
      }
      val stats = o.agg(statsExprs.head, statsExprs.tail: _*)
      val dist = graft.operators.Curation.distinctCounts(o, cols)
      def pick(suffix: String) =
        cols.tail.foldLeft(
          when(col("col_name") === cols.head, col(s"${cols.head}__$suffix"))) {
          (acc, c) => acc.when(col("col_name") === c, col(s"${c}__$suffix"))
        }
      // literal column-name spine so the output is 5 rows even on an empty
      // table (the old single-agg form's semantics, and the oracle's: an
      // ungrouped aggregate always returns one row per UNION arm)
      val names = s.range(1)
        .select(explode(array(cols.map(lit): _*)).as("col_name"))
      names.join(broadcast(dist), Seq("col_name"), "left")
        .na.fill(0L, Seq("n_distinct"))
        .crossJoin(broadcast(stats))
        .select(col("col_name"), pick("nl").as("nulls"), col("n_distinct"),
          pick("mn").as("min_s"), pick("mx").as("max_s"))
        .orderBy("col_name")
    },
    Some("""SELECT 'o_custkey' AS col_name,
        CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        CAST(MIN(o_custkey) AS VARCHAR) AS min_s, CAST(MAX(o_custkey) AS VARCHAR) AS max_s
      FROM orders
      UNION ALL SELECT 'o_orderkey',
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
        CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
      FROM orders
      UNION ALL SELECT 'o_orderpriority',
        CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
      FROM orders
      UNION ALL SELECT 'o_orderstatus',
        CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
      FROM orders
      UNION ALL SELECT 'o_totalprice',
        CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
        CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
      FROM orders
      ORDER BY col_name"""))

  /** Compaction plan by sorted cumulative fill: a lakehouse table's file
    * inventory (synthesized metadata-plane: one "file" per
    * (order-month, priority) with bytes ∝ rows) is laid out in
    * (bytes DESC, key) order and chunked at a 128 KB target by
    * bin = floor(running_bytes_before / target) — the deterministic
    * planner real compactors (Iceberg binpack, Delta OPTIMIZE) run on
    * metadata only. Output per bin: file count, total bytes, fill
    * ratio. Oversized single files get their own bin by construction.
    *
    * Scale: the plan costs |files| metadata rows — the data plane is
    * untouched until the rewrite executes; one window over the
    * inventory, one |bins| aggregate.
    */
  private val q294 = Q("q294_compaction_plan",
    (s, d) => {
      val target = 131072L
      val files = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("mon"),
          col("o_orderpriority").as("pri"))
        .agg((count(lit(1)) * 64L).as("bytes"))
      val ord = Window.orderBy(desc("bytes"), asc("mon"), asc("pri"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val planned = files
        .withColumn("cum_after", sum(col("bytes")).over(ord))
        .withColumn("bin_id", expr(s"(cum_after - bytes) div ${target}L"))
      planned.groupBy("bin_id")
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"))
        .withColumn("fill_pct",
          col("bin_bytes").cast("double") / lit(target.toDouble) * 100.0)
        .orderBy("bin_id")
    },
    Some("""WITH f AS (SELECT date_trunc('month', o_orderdate) AS mon,
          o_orderpriority AS pri, COUNT(*) * 64 AS bytes
        FROM orders GROUP BY 1, 2),
      p AS (SELECT bytes,
          SUM(bytes) OVER (ORDER BY bytes DESC, mon, pri
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_after
        FROM f),
      b AS (SELECT CAST((cum_after - bytes) // 131072 AS BIGINT) AS bin_id, bytes
        FROM p)
      SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
        CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
        CAST(SUM(bytes) AS DOUBLE) / 131072.0::DOUBLE * 100.0::DOUBLE AS fill_pct
      FROM b GROUP BY bin_id ORDER BY bin_id"""))

  /** Leakage-safe K-fold target encoding: encode o_orderpriority by the
    * mean o_totalprice computed from the OTHER four folds (fold =
    * o_orderkey % 5) — enc(pri, fold) = (Σ_all − Σ_fold)/(n_all −
    * n_fold). Both sums ride the exact decimal route so the
    * subtraction is exact and the encoding is partition-count- and
    * engine-invariant. Emitting the (pri, fold) encoding TABLE (joined
    * back to rows at train time) instead of a per-row column keeps the
    * output |pri|×K.
    *
    * Scale: one (pri, fold) aggregation over the facts, then windows
    * over the 25-row table. The encode-join back to the fact table is
    * a broadcast by construction.
    */
  private val q295 = Q("q295_target_encoding",
    (s, d) => {
      // keep the per-fold sum DECIMAL through the window so sum_all −
      // sum_fold is exact; only the final quotient is a double op
      val byFold = Tables.orders(s, d)
        .select(col("o_orderpriority").as("pri"),
          pmod(col("o_orderkey"), lit(5)).cast("int").as("fold"),
          col("o_totalprice"))
        .groupBy("pri", "fold")
        .agg(count(lit(1)).as("n_fold"),
          sum(col("o_totalprice").cast("decimal(38,6)")).as("sum_fold_dec"))
      val overPri = Window.partitionBy("pri")
      byFold
        .withColumn("n_all", sum(col("n_fold")).over(overPri))
        .withColumn("sum_all_dec", sum(col("sum_fold_dec")).over(overPri))
        .select(col("pri"), col("fold"), col("n_fold"),
          ((col("sum_all_dec") - col("sum_fold_dec")).cast("double")
            / (col("n_all") - col("n_fold")).cast("double")).as("oof_mean"))
        .orderBy("pri", "fold")
    },
    Some("""WITH bf AS (SELECT o_orderpriority AS pri,
          CAST(o_orderkey % 5 AS INTEGER) AS fold,
          COUNT(*) AS n_fold,
          SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,6))) AS sum_fold_dec
        FROM orders GROUP BY 1, 2)
      SELECT pri, fold, CAST(n_fold AS BIGINT) AS n_fold,
        CAST(CAST(SUM(sum_fold_dec) OVER (PARTITION BY pri) - sum_fold_dec
            AS VARCHAR) AS DOUBLE)
          / CAST(SUM(n_fold) OVER (PARTITION BY pri) - n_fold AS DOUBLE) AS oof_mean
      FROM bf ORDER BY pri, fold"""))

  /** Seasonal-naive forecast quality (MASE-style): daily event counts
    * per type, forecast(t) = y(t−7 days); score = Σ|y−ŷ| over the
    * forecastable days divided by the 1-step naive error Σ|y_t −
    * y_{t−1}| on the same days — the scale-free forecastability census
    * run before fitting anything heavier. Counts are integers, so both
    * error sums are EXACT integers and the ratio is one double
    * division; days with no 7-back observation are excluded (not
    * zero-filled) and n_scored says how many scored.
    *
    * Scale: one (type, day) aggregation bounds everything downstream
    * by |types × days|; the lag windows run on that table, not the
    * tape.
    */
  private val q296 = Q("q296_seasonal_mase",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
        .agg(count(lit(1)).as("y"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val scored = daily
        .withColumn("y_prev", lag(col("y"), 1).over(w))
        .withColumn("prev_day", lag(col("day"), 1).over(w))
        .withColumn("y_season", lag(col("y"), 7).over(w))
        .withColumn("season_day", lag(col("day"), 7).over(w))
        // the tape is dense per type, but require TRUE calendar lags so
        // the estimator stays honest if a type goes dark for a day
        .filter(col("season_day") === col("day") - 7 &&
          col("prev_day") === col("day") - 1)
      scored.groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"),
          sum(abs(col("y") - col("y_season"))).as("seasonal_abs_err"),
          sum(abs(col("y") - col("y_prev"))).as("naive_abs_err"))
        .withColumn("mase", col("seasonal_abs_err").cast("double")
          / col("naive_abs_err").cast("double"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
          COUNT(*) AS y
        FROM events GROUP BY 1, 2),
      l AS (SELECT event_type, day, y,
          lag(y, 1) OVER w AS y_prev, lag(day, 1) OVER w AS prev_day,
          lag(y, 7) OVER w AS y_season, lag(day, 7) OVER w AS season_day
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        CAST(SUM(abs(y - y_season)) AS BIGINT) AS seasonal_abs_err,
        CAST(SUM(abs(y - y_prev)) AS BIGINT) AS naive_abs_err,
        CAST(SUM(abs(y - y_season)) AS DOUBLE)
          / CAST(SUM(abs(y - y_prev)) AS DOUBLE) AS mase
      FROM l WHERE season_day = day - 7 AND prev_day = day - 1
      GROUP BY event_type ORDER BY event_type"""))

  /** RAG-style fixed-stride chunking: every document split into
    * overlapping token windows (size 32, stride 24 — 8-token overlap,
    * the retrieval-context shape), emitted as a chunk TABLE with
    * per-chunk token count and boundary tokens. Chunk count =
    * floor((n−9)/24)+1 (≥1 even for short docs), so every token lands
    * in ≥1 chunk and interior tokens in ≤2. Complements q:CDC chunking
    * (content-defined boundaries, FrontierQueries) with the fixed-
    * geometry splitter embedding pipelines actually use.
    *
    * Scale: pure scan-local Generate — tokenize once, explode
    * `sequence(0, n_chunks−1)`, slice per index; no shuffle before the
    * gate's orderBy. The chunk table is ~n/stride rows per doc, the
    * planned fan-out of any chunk-embedding pass.
    */
  private val q297 = Q("q297_rag_chunking",
    (s, d) => {
      import graft.operators.TextAnalysis
      val toks = TextAnalysis.tokens(col("text"))
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("chunk_idx",
          explode(sequence(lit(0), greatest(expr("(n - 9) div 24"), lit(0)))))
        .withColumn("chunk", slice(col("toks"), col("chunk_idx") * 24 + 1, lit(32)))
      chunks.select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          element_at(col("chunk"), 1).as("first_tok"),
          element_at(col("chunk"), -1).as("last_tok"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (SELECT doc_id, len(toks) AS n,
          GREATEST((len(toks) - 9) // 24, 0) + 1 AS n_chunks, toks FROM t),
      ch AS (SELECT doc_id, i - 1 AS chunk_idx,
          toks[(i-1)*24 + 1 : LEAST((i-1)*24 + 32, n)] AS chunk
        FROM c, UNNEST(range(1, n_chunks + 1)) AS u(i))
      SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        CAST(len(chunk) AS BIGINT) AS n_tokens,
        chunk[1] AS first_tok, chunk[-1] AS last_tok
      FROM ch ORDER BY doc_id, chunk_idx"""))

  /** Exact n-gram decontamination census (the GPT-3-style eval-leak
    * screen, exact complement to q62's bloom pass): the held-out split
    * (doc_id % 10 = 0) contributes its DISTINCT 8-gram set; every
    * training doc reports how many of its 8-gram occurrences appear in
    * that set. Output = contaminated docs only (sparse by
    * construction), with total grams, contaminated occurrences, and
    * the fraction as one division.
    *
    * Scale: both sides tokenize once and shuffle on the gram key
    * (semi-join); the held-out side is distinct-reduced BEFORE the
    * join, so its shuffle is |unique grams|. At 100 TB the held-out
    * gram set is a broadcast (eval corpora are tiny) and the train
    * side never re-shuffles — the exact-match fallback after the bloom
    * prefilter has screened candidates.
    */
  private val q298 = Q("q298_ngram_decontam",
    (s, d) => {
      import graft.operators.TextAnalysis
      val grams = Tables.fanOut(Tables.documents(s, d)) // r14: 8-gram explode off the 1-task scan
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        // shingles() already guards the short-doc descending-sequence
        // trap and is the same space-joined n-gram shape the dedup
        // family shuffles on
        .select(col("doc_id"),
          explode(TextAnalysis.shingles(col("toks"), 8)).as("gram"))
      val holdout = grams.filter(col("doc_id") % 10 === 0)
        .select("gram").distinct()
      val train = grams.filter(col("doc_id") % 10 =!= 0)
      val perDoc = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val contam = train.join(holdout, "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contam"))
      perDoc.join(contam, "doc_id")
        .select(col("doc_id"), col("n_grams"), col("n_contam"),
          (col("n_contam").cast("double") / col("n_grams").cast("double"))
            .as("contam_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, array_to_string(toks[i.i : i.i + 7], ' ') AS gram
        FROM (SELECT doc_id, toks, len(toks) AS n FROM t) s,
        UNNEST(range(1, GREATEST(n - 7, 0) + 1)) AS i(i)),
      hold AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      train AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0),
      pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
      ct AS (SELECT doc_id, COUNT(*) AS n_contam FROM train
        WHERE gram IN (SELECT gram FROM hold) GROUP BY doc_id)
      SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        CAST(n_contam AS BIGINT) AS n_contam,
        CAST(n_contam AS DOUBLE) / CAST(n_grams AS DOUBLE) AS contam_frac
      FROM pd JOIN ct USING (doc_id) ORDER BY doc_id"""))

  /** Shared retrieval scaffolding for q299/q300: every (query anchor ×
    * corpus) candidate with BOTH metric ranks — cosine (descending) and
    * squared L2 (ascending) — each tie-broken by id. One broadcast
    * cross of the 5-anchor set against a single corpus scan (the q26
    * shape), ONE qid exchange feeding both rank windows. Folds ascend
    * the vector left-to-right with a 0.0 init on both engines (the
    * q144/q26 ordered-reduce device), so ranks are engine-exact.
    */
  private def rankedCandidates(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = Tables.fanOut(Tables.embeddings(s, d))
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"),
      col("label").as("c_label"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("q_label"))
    def fold(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0.0d), (a, x) => a + x)
    def asD(c: org.apache.spark.sql.Column) = c.cast("double")
    val dotQC = fold(zip_with(col("qvec"), col("vec"), (x, y) => asD(x) * asD(y)))
    val dotQQ = fold(zip_with(col("qvec"), col("qvec"), (x, y) => asD(x) * asD(y)))
    val dotCC = fold(zip_with(col("vec"), col("vec"), (x, y) => asD(x) * asD(y)))
    val l2sq = fold(zip_with(col("qvec"), col("vec"),
      (x, y) => (asD(x) - asD(y)) * (asD(x) - asD(y))))
    val wCos = Window.partitionBy("qid").orderBy(desc("cos_sim"), asc("id"))
    val wL2 = Window.partitionBy("qid").orderBy(asc("l2_sq"), asc("id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .withColumn("cos_sim", dotQC / (sqrt(dotQQ) * sqrt(dotCC)))
      .withColumn("l2_sq", l2sq)
      .withColumn("rank_cos", row_number().over(wCos).cast("int"))
      .withColumn("rank_l2", row_number().over(wL2).cast("int"))
  }

  /** Shared DuckDB mirror of [[rankedCandidates]]. */
  private val duckRanked =
    """q AS (SELECT vec_id AS qid, embedding AS qvec, label AS q_label
        FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS id, embedding AS vec, label AS c_label FROM embeddings),
      m AS (SELECT qid, q_label, id, c_label,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, len(qvec)+1),
              i -> CAST(qvec[i] AS DOUBLE) * CAST(vec[i] AS DOUBLE))), (a, v) -> a + v)
          / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(1, len(qvec)+1),
                i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))), (a, v) -> a + v))
            * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(1, len(vec)+1),
                i -> CAST(vec[i] AS DOUBLE) * CAST(vec[i] AS DOUBLE))), (a, v) -> a + v))) AS cos_sim,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, len(qvec)+1),
              i -> (CAST(qvec[i] AS DOUBLE) - CAST(vec[i] AS DOUBLE))
                 * (CAST(qvec[i] AS DOUBLE) - CAST(vec[i] AS DOUBLE)))), (a, v) -> a + v) AS l2_sq
        FROM q CROSS JOIN c WHERE id <> qid),
      rk AS (SELECT *,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, id) AS INTEGER) AS rank_cos,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY l2_sq, id) AS INTEGER) AS rank_l2
        FROM m)"""

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of the two
    * metric rankings: rrf = 1/(60+rank_cos) + 1/(60+rank_l2) — the
    * standard hybrid-retrieval combiner (lexical+vector in production;
    * two vector metrics here, which genuinely disagree on this corpus).
    * Each term is one exact double division and the sum is a single
    * two-operand add — engine-exact without any decimal machinery.
    * Top-10 fused per anchor, tie-broken by id.
    *
    * Scale: piggybacks the q26 candidate shape; fusing k lists at
    * 100 TB fuses their top-k TABLES (KB each), never re-scores the
    * corpus.
    */
  private val q299 = Q("q299_rrf_fusion",
    (s, d) => {
      val fused = rankedCandidates(s, d)
        .withColumn("rrf_score",
          lit(1.0d) / (lit(60.0d) + col("rank_cos").cast("double"))
            + lit(1.0d) / (lit(60.0d) + col("rank_l2").cast("double")))
      val w = Window.partitionBy("qid").orderBy(desc("rrf_score"), asc("id"))
      fused.withColumn("fused_rank", row_number().over(w).cast("int"))
        .filter(col("fused_rank") <= 10)
        .select("qid", "fused_rank", "id", "rank_cos", "rank_l2", "rrf_score")
        .orderBy("qid", "fused_rank")
    },
    Some(s"""WITH $duckRanked,
      f AS (SELECT qid, id, rank_cos, rank_l2,
          1.0::DOUBLE / (60.0::DOUBLE + CAST(rank_cos AS DOUBLE))
            + 1.0::DOUBLE / (60.0::DOUBLE + CAST(rank_l2 AS DOUBLE)) AS rrf_score
        FROM rk),
      o AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY rrf_score DESC, id) AS INTEGER) AS fused_rank FROM f)
      SELECT qid, fused_rank, id, rank_cos, rank_l2, rrf_score
      FROM o WHERE fused_rank <= 10 ORDER BY qid, fused_rank"""))

  /** nDCG@10 of the cosine ranking against label relevance (rel = 1 iff
    * the neighbor carries the anchor's label): DCG folds rel·w over
    * ranks 1..10 IN RANK ORDER with a 0.0 init; the discounts 1/log2(i+1)
    * and their left-fold cumulative sums are COMPILE-TIME literals
    * (identical digits on both engines — no runtime log anywhere, the
    * engine's libm-free stance), so IDCG = cumw[n_rel] exactly. The
    * retrieval-quality gate that closes the loop opened by q258 (recall)
    * and q291 (AUC).
    *
    * Scale: the ranking is the q26 candidate table; the fold is over 10
    * rows per anchor.
    */
  private val q300 = Q("q300_ndcg_at_10",
    (s, d) => {
      val W = array(Seq(1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
        0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
        0.31546487678572877, 0.3010299956639812, 0.2890648263178879)
        .map(lit): _*)
      val CUMW = array(Seq(1.0, 1.6309297535714575, 2.1309297535714578,
        2.5616063116448506, 2.9484591188793923, 3.3046663059874146,
        3.637999639320748, 3.953464516106477, 4.254494511770458,
        4.543559338088346).map(lit): _*)
      val top = rankedCandidates(s, d)
        .filter(col("rank_cos") <= 10)
        .withColumn("rel", (col("c_label") === col("q_label")).cast("int"))
        .withColumn("term", col("rel").cast("double") * element_at(W, col("rank_cos")))
      top.groupBy("qid")
        .agg(sum(col("rel")).as("n_rel"),
          aggregate(
            transform(array_sort(collect_list(struct(col("rank_cos").as("r"),
              col("term").as("t")))), x => x.getField("t")),
            lit(0.0d), (a, x) => a + x).as("dcg"))
        .withColumn("idcg",
          when(col("n_rel") > 0, element_at(CUMW, col("n_rel").cast("int")))
            .otherwise(lit(0.0d)))
        .withColumn("ndcg",
          when(col("n_rel") > 0, col("dcg") / col("idcg")).otherwise(lit(0.0d)))
        .select("qid", "n_rel", "dcg", "idcg", "ndcg")
        .orderBy("qid")
    },
    Some(s"""WITH $duckRanked,
      -- literals via VARCHAR casts: DuckDB's numeric-literal path goes
      -- through DECIMAL and double-rounds 17-digit mantissas (the
      -- OracleSql.dsum rationale applied to constants)
      w AS (SELECT [CAST('1.0' AS DOUBLE), CAST('0.6309297535714575' AS DOUBLE), CAST('0.5' AS DOUBLE), CAST('0.43067655807339306' AS DOUBLE), CAST('0.38685280723454163' AS DOUBLE), CAST('0.3562071871080222' AS DOUBLE), CAST('0.3333333333333333' AS DOUBLE), CAST('0.31546487678572877' AS DOUBLE), CAST('0.3010299956639812' AS DOUBLE), CAST('0.2890648263178879' AS DOUBLE)] AS ws,
        [CAST('1.0' AS DOUBLE), CAST('1.6309297535714575' AS DOUBLE), CAST('2.1309297535714578' AS DOUBLE), CAST('2.5616063116448506' AS DOUBLE), CAST('2.9484591188793923' AS DOUBLE), CAST('3.3046663059874146' AS DOUBLE), CAST('3.637999639320748' AS DOUBLE), CAST('3.953464516106477' AS DOUBLE), CAST('4.254494511770458' AS DOUBLE), CAST('4.543559338088346' AS DOUBLE)] AS cumws),
      top AS (SELECT qid,
          CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel, rank_cos
        FROM rk WHERE rank_cos <= 10),
      agg AS (SELECT qid, SUM(rel) AS n_rel,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(rel AS DOUBLE) * (SELECT ws FROM w)[rank_cos]
              ORDER BY rank_cos)), (a, v) -> a + v) AS dcg
        FROM top GROUP BY qid)
      SELECT qid, CAST(n_rel AS BIGINT) AS n_rel, dcg,
        CASE WHEN n_rel > 0 THEN (SELECT cumws FROM w)[CAST(n_rel AS INTEGER)]
          ELSE 0.0::DOUBLE END AS idcg,
        CASE WHEN n_rel > 0 THEN dcg / (SELECT cumws FROM w)[CAST(n_rel AS INTEGER)]
          ELSE 0.0::DOUBLE END AS ndcg
      FROM agg ORDER BY qid"""))

  override val all: Seq[Q] =
    Seq(q291, q292, q293, q294, q295, q296, q297, q298, q299, q300)
}
