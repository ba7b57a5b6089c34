package graft.text
import graft.Pinned.PinnedOps

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import TextFunctions._

/** Verify-gate entries for the text-analysis + dedup surface
  * (SURVEY §2.C). Oracle-checked wherever DuckDB can express the same
  * semantics (tokenization, ratios, rolling-hash fingerprints, exact
  * dedup, brute-force n-gram Jaccard); MinHash/SimHash pipelines are
  * engine-hash-based and so rows-only here, with their quality
  * properties (recall vs brute force) pinned in the unit suite.
  */
object TextQueries {

  /** Versioned document store for incremental dedup: v1 = the first
    * crawl (doc_id < 400), v2 = the next crawl (doc_id >= 400 PLUS 50
    * "re-crawled" copies of early docs arriving under new ids +10000 —
    * planted because the synthetic corpus has no exact duplicates, and
    * the oracle replants the same rule from the raw table). The store
    * row model carries the text identity as vc = the first-15-hex md5
    * prefix parsed as BIGINT, the engine-portable digest the hashed-
    * features query established. A [[graft.Fixtures]] fixture keyed on
    * the documents table.
    */
  private def docStoreBase(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Fixtures.cached(s, d, "docstore", "documents") { base =>
      import graft.sources.SnapshotStore
      val h = expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id").cast("string").as("key"), col("lang").as("part"),
        lit(0L).as("seq"), h.as("vc"))
      val docs = Tables.documents(s, d)
      SnapshotStore.commit(s, base, rows(docs.where(col("doc_id") < 400)))
      SnapshotStore.commit(s, base, rows(
        docs.where(col("doc_id") >= 400).unionByName(
          docs.where(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + 10000L))))
    }

  /** The text_levenshtein_pairs pipeline over an arbitrary (doc_id,
    * text) corpus — extracted so LevenshteinContractSpec can exercise
    * the CANDIDATE CONTRACT on synthetic corpora and pin equivalence
    * with the exhaustive length-band form (the r9 shape) at sf0.001:
    * the signature tier drops, BY DESIGN, (i) pairs whose 3-shingle
    * Jaccard falls below the 0.6 prefix bound (edits smeared across
    * >~40% of the words) and (ii) docs with <3 tokens (empty shingle
    * set); the spec makes both boundaries explicit and turns any
    * corpus drift that violates "drops nothing on THIS corpus" into a
    * loud failure instead of a silent recall regression the
    * same-scheme oracle cannot see.
    */
  private[graft] def levenshteinPairs(
      docs: org.apache.spark.sql.DataFrame,
      materialize: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        _.pinned): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // MATERIALIZATION POLICY: the shingled doc table feeds THREE
    // consumers (the df-rank pass and both sides of the verify join);
    // without a pin each consumer re-runs the shingle explode. The
    // default localCheckpoint holds O(corpus) rows x (text + shingle
    // set) in executor block storage with NO lineage fallback — fine
    // at bench scale, but at 100x it competes with shuffle memory and
    // an executor loss kills the job. The 100 TB substitute is
    // persist(StorageLevel.DISK_ONLY) (recompute-on-loss, spills off
    // heap) or a scratch-parquet write; the pipeline's OUTPUT is
    // materialization-invariant — LevenshteinContractSpec pins
    // checkpoint == persist(DISK_ONLY) — so the swap is a deployment
    // choice, not a semantics change.
    val sh = materialize(docs
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"),
        array_distinct(shingles(col("text"), 3)).as("shset"))
      .where(size(col("shset")) > 0))
    val ex = sh.select(col("doc_id"), col("n"), size(col("shset")).as("l"),
      explode(col("shset")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val sig = ex.join(dfreq, "s")
      .withColumn("rk",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")))
      .where(col("rk") <= col("l") - expr("(6*l + 9) div 10") + 1)
      .select("doc_id", "n", "s")
    val cand = sig.as("a").join(sig.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n") - col("b.n")) <= 20)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // 26 longs per doc, computed once on the doc table — never per pair
    val hh = sh.select(col("doc_id"), col("text"),
      expr("transform(sequence(97, 122), c -> " +
        "CAST(length(lower(text)) - length(replace(lower(text), char(c))) AS BIGINT))").as("h"))
    cand
      .join(hh.toDF("a_id", "a_text", "a_h"), "a_id")
      .join(hh.toDF("b_id", "b_text", "b_h"), "b_id")
      .where(aggregate(zip_with(col("a_h"), col("b_h"), (x, y) => abs(x - y)),
        lit(0L), (acc, v) => acc + v) <= 40)
      .withColumn("lev", levenshtein(col("a_text"), col("b_text"), 20).cast("long"))
      .where(col("lev") >= 0)
      .select("a_id", "b_id", "lev")
      .orderBy("a_id", "b_id")
  }

  /** The r9 EXHAUSTIVE length-band form of the same verifier — every
    * pair within 20 chars of length is a candidate, no signature
    * pruning. Corpus-quadratic (band occupancy ∝ corpus at a fixed
    * length distribution), so it is NOT registered as a query; it
    * exists as the reference implementation the contract spec compares
    * the signature tier against on bounded corpora.
    */
  private[graft] def levenshteinPairsExhaustive(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("n"))
    val a = base.toDF("a_id", "a_text", "a_n")
    val b = base.toDF("b_id", "b_text", "b_n")
    a.join(b, col("a_id") < col("b_id") &&
        abs(col("a_n") - col("b_n")) <= 20)
      .withColumn("lev", levenshtein(col("a_text"), col("b_text"), 20).cast("long"))
      .where(col("lev") >= 0)
      .select("a_id", "b_id", "lev")
      .orderBy("a_id", "b_id")
  }

  /** See [[graft.tick.StoreQueries.benchSetups]]. */
  private[graft] val benchSetups
      : Map[String, (org.apache.spark.sql.SparkSession, String) => Unit] = Map(
    "dedup_incremental" -> ((s, d) => { docStoreBase(s, d); () }))

  val defs: Map[String, QueryDef] = Map(

    // INCREMENTAL dedup across store versions — the production shape
    // of exact dedup at 100 TB: a nightly crawl commits as a snapshot,
    // and only the CDF INSERT set (the new docs) is checked against
    // the prior corpus — never a full-corpus self-join. Here: the
    // v1->v2 change feed yields the 150 new docs, their digests
    // anti-probe v1's digest set (broadcast — at scale a bloom
    // pre-filter then a digest-keyed join), and each new doc reports
    // whether it duplicates the prior corpus. Exercises
    // SnapshotStore.changes in an actual pipeline role; hash-exact
    // vs an oracle that replants the same crawl split from raw docs.
    "dedup_incremental" -> QueryDef(
      """WITH h AS (SELECT doc_id,
        |         CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
        |       FROM documents),
        |v1 AS (SELECT h FROM h WHERE doc_id < 400),
        |newd AS (SELECT doc_id + 10000 AS doc_id, h FROM h WHERE doc_id < 50
        |         UNION ALL
        |         SELECT doc_id, h FROM h WHERE doc_id >= 400)
        |SELECT n.doc_id,
        |  CAST(CASE WHEN EXISTS (SELECT 1 FROM v1 WHERE v1.h = n.h)
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
        |FROM newd n ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.sources.SnapshotStore
      val base = docStoreBase(s, d)
      val newDocs = SnapshotStore.changes(s, base, 1, 2)
        .where(col("change_type") === "insert")
        .select(col("key").cast("long").as("doc_id"), col("vc").as("h"))
      val prior = SnapshotStore.readVersion(s, base, 1)
        .select(col("vc").as("h")).distinct()
        .withColumn("dup", lit(1L))
      newDocs.join(broadcast(prior), Seq("h"), "left")
        .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("is_dup"))
        .orderBy("doc_id")
    },

    // token + BPE-ish subword counting, char stats
    "text_token_stats" -> QueryDef(
      s"""SELECT doc_id,
         |  ${tokenCountSql("text")} AS n_tokens,
         |  ${bpeishTokenCountSql("text")} AS n_bpeish,
         |  length(text) AS n_chars_m,
         |  ${meanTokenLenSql("text")} AS mean_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // tokenize ONCE: the materialized `toks` projection survives
      // CollapseProject (non-cheap alias, multiple consumers), so the
      // regex split runs once per row instead of once per stat
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          tokenCountOf(col("toks")).as("n_tokens"),
          bpeishTokenCount(col("text")).as("n_bpeish"),
          length(col("text")).as("n_chars_m"),
          meanTokenLenOf(col("toks")).as("mean_tok_len"))
        .orderBy("doc_id")
    },

    // quality scoring: length/punct/stopword ratio composite
    "text_quality" -> QueryDef(
      s"""SELECT doc_id,
         |  ${stopwordRatioSql("text")} AS stop_ratio,
         |  ${punctRatioSql("text")} AS punct_ratio,
         |  ${qualityScoreSql("text")} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // same tokenize-once shape as text_token_stats
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          stopwordRatioOf(col("toks")).as("stop_ratio"),
          punctRatio(col("text")).as("punct_ratio"),
          qualityScoreOf(col("text"), col("toks")).as("quality"))
        .orderBy("doc_id")
    },

    // language id: marker-token heuristic, per-language doc counts
    "text_langid" -> QueryDef(
      s"""SELECT ${langIdSql("text")} AS pred_lang, COUNT(*) AS n
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(tokens(col("text")).as("toks"))
        .select(langIdOf(col("toks")).as("pred_lang"))
        .groupBy("pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang")
    },

    // Karp-Rabin rolling-hash fingerprint (exact mod-arithmetic: same
    // BIGINT result in any engine)
    "text_fingerprint" -> QueryDef(
      s"""SELECT doc_id, ${fingerprintSql("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // the hashing trick (feature hashing): every token maps to one of
    // 256 buckets through an md5-derived hash, and the doc's sparse
    // feature vector is the per-(doc, bucket) count — fixed-width
    // features for linear probes / quality classifiers with NO
    // vocabulary to build, ship, or grow. Per-row hashing + ONE
    // map-side-combinable aggregate on (doc, bucket); the bucket id is
    // the same 8-hex-digit parse in both engines, so the whole sparse
    // matrix is hash-exact. Scan-bound at any corpus size.
    "text_hashed_features" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents)
         |SELECT doc_id,
         |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
         |  COUNT(*) AS n
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % 256").as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "bucket")
    },

    // exact dedup: one survivor per distinct text, via 128-bit digest
    "dedup_exact" -> QueryDef(
      """SELECT md5(text) AS digest, MIN(doc_id) AS survivor_id,
        |  COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy("digest")
    },

    // SUBSTRING-level duplicate detection (the Lee et al. 2022
    // "Deduplicating Training Data" signal at span granularity):
    // 10-token spans appearing in >= 2 documents, reported per doc as
    // (total spans, duplicated spans). Doc-level MinHash misses a
    // boilerplate paragraph pasted into otherwise-distinct documents;
    // this catches exactly that. Scale shape: one explode + one
    // span-keyed partial-agg shuffle + one span-keyed join — work is
    // O(total tokens), never a doc-pair space. Spans travel as strings
    // here for oracle exactness; the 100 TB variant hashes them
    // (xxhash64) to 8 bytes before the shuffle, identical topology.
    // 47 docs share 969 spans in the real sf0.01 corpus, so the
    // verifier checks live duplicate structure.
    "dedup_duplicate_spans" -> QueryDef(
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |              FROM documents),
        |spans AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+9], ' ') AS span
        |          FROM toks, UNNEST(range(1, len(t)-9+1)) AS u(i)
        |          WHERE len(t) >= 10),
        |c AS (SELECT span, COUNT(*) AS nd FROM spans GROUP BY 1)
        |SELECT s.doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |FROM spans s JOIN c USING (span)
        |GROUP BY 1 HAVING n_dup_spans > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("t"))
      val spans = toks.where(size(col("t")) >= 10)
        .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("t")) - 9),
            i => concat_ws(" ", slice(col("t"), i, lit(10))))).as("span"))
        .distinct()
      val c = spans.groupBy("span").agg(count(lit(1)).as("nd"))
      spans.join(c, "span")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .where(col("n_dup_spans") > 0)
        .orderBy("doc_id")
    },

    // SPAN REMOVAL — the ACTION step after dedup_duplicate_spans'
    // detection (Lee et al. 2022 remove the duplicated substring, not
    // the whole document): every token position covered by a 10-token
    // span that appears in >= 2 distinct documents is cut, and the
    // document is rebuilt from the surviving tokens in order. Output
    // is the full corpus (cleaned text + removal counts), so the
    // oracle checks the rebuild, the coverage union, and the no-op
    // docs in one pass. Scale shape: one explode to spans, one
    // span-keyed agg for the dup set, one span-keyed join + a 10x
    // coverage explode, one anti-join on (doc, pos) and one per-doc
    // rebuild agg — all O(total tokens), never a doc-pair space; the
    // rebuild's sort_array(collect_list) is per-doc bounded by doc
    // length, the same bound the tokenizer already imposes. Spans
    // travel as strings for oracle exactness (the 100 TB variant
    // xxhash64-hashes them before the shuffle, identical topology;
    // coverage positions are (doc, int) pairs either way). The
    // cleaned text is the normalized token join — the declared
    // semantics, since removal runs post-normalization in a real
    // pipeline. 47 docs lose tokens on the real sf0.01 corpus, so the
    // gate checks live removal structure, not a vacuous identity.
    "dedup_span_removal" -> QueryDef(
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |              FROM documents),
        |spans AS (SELECT doc_id, i, array_to_string(t[i:i+9], ' ') AS span
        |          FROM toks, UNNEST(range(1, len(t)-9+1)) AS u(i)
        |          WHERE len(t) >= 10),
        |dup AS (SELECT span FROM spans GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT s.doc_id, j AS pos
        |        FROM spans s JOIN dup USING (span), UNNEST(range(s.i, s.i+10)) AS v(j)),
        |tok AS (SELECT doc_id, CAST(u.p[1] AS BIGINT) AS pos, u.p[2] AS w
        |        FROM (SELECT doc_id, list_zip(range(1, len(t)+1), t) AS z FROM toks),
        |             UNNEST(z) AS u(p)),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.w
        |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |         WHERE cov.pos IS NULL),
        |rb AS (SELECT doc_id, COUNT(*) AS n_kept,
        |         string_agg(w, ' ' ORDER BY pos) AS cleaned
        |       FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(len(t.t) - COALESCE(rb.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(rb.cleaned, '') AS cleaned
        |FROM toks t LEFT JOIN rb ON t.doc_id = rb.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      // body extracted to Dedup.spanRemoval (r12) so the pipeline
      // interlock can run the identical semantics on a deduped corpus
      Dedup.spanRemoval(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy("doc_id")
    },

    // exact 3-gram Jaccard near-dup pairs over the FULL corpus as a
    // shingle-keyed equi-join: explode distinct shingles -> self-join
    // on the shingle -> count per (a,b) pair = |A∩B| -> join set sizes
    // back for the union term. Identical output to the brute-force
    // all-pairs form (a zero-intersection pair can never pass a
    // positive threshold), but the pair space never materializes: work
    // is Σ_shingle df² (2.8M rows at sf0.1, max df 25), an equi-join
    // shuffle, not O(docs²). At 100 TB the same plan holds UNTIL a
    // head shingle's df tracks the corpus; the designed degradation is
    // the df-cap tier (Dedup.shinglePairStats with maxDf — exercised
    // oracle-green as dedup_jaccard_capped below, identical-to-uncapped
    // pinned in DedupSpec), which bounds the join at cap·shingle-mass.
    // DedupSpec's "shingle df stays bounded" canary makes a df blowup
    // on THIS uncapped form observable (one loud failure, not a silent
    // quadratic bench regression) and names the capped tier as the
    // fix. Integer-compared 0.3 threshold as before.
    "dedup_ngram_jaccard" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS shset
         |  FROM documents),
         |sz AS (SELECT doc_id, len(shset) AS n FROM sh),
         |ex AS (SELECT doc_id, unnest(shset) AS s FROM sh),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |      FROM ex a JOIN ex b USING (s) WHERE a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |FROM p JOIN sz sa ON p.a_id = sa.doc_id
         |       JOIN sz sb ON p.b_id = sb.doc_id
         |WHERE inter * 10 >= 3 * (sa.n + sb.n - inter)
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      // r18 (guide §2.3 — shuffle keys and metadata, not re-derived
      // relations): each exploded row carries its doc's set size, so
      // the pair aggregate picks the sizes up as max() of a
      // per-group constant — the two sz joins AND the second
      // tokenize+shingle pass that built sz are gone. Both join legs
      // stay the SAME projection (n on both sides), so the shingle
      // exchange is still computed once and reused for the other leg.
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("shset"))
      val ex = sh.select(col("doc_id"),
        size(col("shset")).cast("long").as("n"), explode(col("shset")).as("s"))
      val p = ex.toDF("a_id", "na", "s").join(ex.toDF("b_id", "nb", "s"), "s")
        .where(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"),
          max("na").as("na"), max("nb").as("nb"))
      p.withColumn("uni", col("na") + col("nb") - col("inter"))
        // integer-compare the 0.3 threshold: no fp boundary ambiguity;
        // inter >= 1 by construction, so uni >= 1 (no 0/0)
        .where(col("inter") * 10 >= col("uni") * 3)
        .select(col("a_id"), col("b_id"),
          (col("inter").cast("double") / col("uni")).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // The df-CAPPED tier of the exact-Jaccard verifier — the 100 TB
    // degradation path the uncapped Σ df² queries name: shingles with
    // document frequency > 200 are dropped BEFORE the pair join
    // (Dedup.shinglePairStats), so a corpus-linear head shingle costs
    // one filtered df pass instead of a df² pair blowup; Jaccard is
    // then exact over the CAPPED shingle sets. On this corpus max df
    // is ~25, so the cap is inert and the output is IDENTICAL to
    // dedup_ngram_jaccard (pinned in DedupSpec at sf0.001 alongside a
    // synthetic hot-shingle corpus where the cap cuts the candidate
    // space 19900 → 1); the ORACLE applies the same cap, so the gate
    // checks the capped semantics themselves, not just the overlap.
    "dedup_jaccard_capped" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS shset
         |  FROM documents),
         |ex0 AS (SELECT doc_id, unnest(shset) AS s FROM sh),
         |keep AS (SELECT s FROM ex0 GROUP BY 1 HAVING count(*) <= 200),
         |ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN keep USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |      FROM ex a JOIN ex b USING (s) WHERE a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |FROM p JOIN sz sa ON p.a_id = sa.doc_id
         |       JOIN sz sb ON p.b_id = sb.doc_id
         |WHERE inter * 10 >= 3 * (sa.n + sb.n - inter)
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      Dedup.shinglePairStats(Tables.documents(s, d), col("text"),
          col("doc_id"), shingleN = 3, maxDf = Some(200L))
        .withColumn("uni", col("na") + col("nb") - col("inter"))
        .where(col("inter") * 10 >= col("uni") * 3)
        .select(col("a_id"), col("b_id"),
          (col("inter").cast("double") / col("uni")).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // SIMILARITY-THRESHOLD PROFILE — the diagnostic a dedup pipeline
    // runs BEFORE committing to a cutoff: the full pairwise-Jaccard
    // histogram (decile bins) over every pair sharing at least one
    // shingle. The 0.3/0.8/0.9 thresholds the dedup tiers use are
    // policy; this table shows where the corpus's similarity mass
    // actually sits (a fat 0.2-0.4 band means a 0.3 cutoff deletes
    // aggressively; an empty one means it's free). Same Σ df²
    // shingle-keyed equi-join as dedup_ngram_jaccard — zero-overlap
    // pairs are absent by construction (they'd all land in bin 0 of a
    // quadratic pair space nobody should materialize), and the same
    // df canary bounds the hot-shingle risk. All-integer output.
    "dedup_threshold_profile" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS shset
         |  FROM documents),
         |sz AS (SELECT doc_id, len(shset) AS n FROM sh),
         |ex AS (SELECT doc_id, unnest(shset) AS s FROM sh),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |      FROM ex a JOIN ex b USING (s) WHERE a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |j AS (SELECT inter, sa.n + sb.n - inter AS uni
         |      FROM p JOIN sz sa ON p.a_id = sa.doc_id
         |             JOIN sz sb ON p.b_id = sb.doc_id)
         |SELECT CAST(least((inter * 10) // uni, 9) AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(inter) AS BIGINT) AS inter_sum,
         |  CAST(SUM(uni) AS BIGINT) AS uni_sum
         |FROM j GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
      // r18: sizes ride the exploded rows (see text_containment /
      // dedup_ngram_jaccard) — no sz joins, no second shingle pass
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("shset"))
      val ex = sh.select(col("doc_id"),
        size(col("shset")).cast("long").as("n"), explode(col("shset")).as("s"))
      val p = ex.toDF("a_id", "na", "s").join(ex.toDF("b_id", "nb", "s"), "s")
        .where(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"),
          max("na").as("na"), max("nb").as("nb"))
      p.withColumn("uni", col("na") + col("nb") - col("inter"))
        .groupBy(least(expr("(inter * 10) div uni"), lit(9L)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          sum("inter").as("inter_sum"), sum("uni").as("uni_sum"))
        .orderBy("bin")
    },

    // character-level edit-distance near-dup pairs: the verifier tier
    // OCR/typo-corrupted duplicates need, where shingle Jaccard decays
    // but levenshtein stays tiny (planted pairs sit at <= 8 edits vs
    // >= 39 for the closest background pair). CANDIDATES come from the
    // prefix-filter signature tier (the same AllPairs machinery
    // dedup_prefix_filter gates), at a relaxed Jaccard-0.6 signature:
    // rarest-first word-3-shingle prefixes of length l - ceil(0.6 l)
    // + 1 joined on the shingle — O(corpus * prefix_len * posting_df),
    // NEVER a pair space over the corpus (the r9 length-band self-join
    // grew quadratically: band occupancy ∝ corpus at a fixed length
    // distribution; this tier's posting lists are df-bounded by the
    // rarest-first order). Semantics: a pair must share a signature
    // shingle to be considered — a <= 20-edit pair on ~300-char docs
    // retains shingle Jaccard far above 0.6 (planted pairs measure
    // >= 0.8; the r9 exhaustive band join returned the IDENTICAL pair
    // set at sf0.01 and sf0.1), so the reshape drops nothing here and
    // is the documented contract at scale. Candidates then pass the
    // exact char-histogram prefilter (every edit op changes the char
    // multiset by at most 2 in L1, so lev <= 20 implies L1 <= 40 —
    // zero false negatives among candidates) before the BANDED
    // O(len*k) DP (threshold arg -> -1 above 20). Length filter and
    // band use length(text) directly — no reliance on the stored
    // n_chars column (TestdataSchemaSpec pins n_chars == length(text)
    // as a generator-drift canary anyway).
    "text_levenshtein_pairs" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, text, n, sset AS shset FROM (
         |    SELECT doc_id, text, length(text) AS n,
         |           list_distinct(${shinglesSql("text", 3)}) AS sset
         |    FROM documents)
         |  WHERE len(sset) > 0),
         |ex AS (SELECT doc_id, n, len(shset) AS l, unnest(shset) AS s FROM sh),
         |df AS (SELECT s, count(*) AS df FROM ex GROUP BY 1),
         |rk AS (SELECT ex.doc_id, ex.n, ex.l, ex.s,
         |         row_number() OVER (PARTITION BY ex.doc_id ORDER BY df.df, ex.s) AS rk
         |       FROM ex JOIN df ON ex.s = df.s),
         |sig AS (SELECT doc_id, n, s FROM rk WHERE rk <= l - ((6 * l + 9) // 10) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |         FROM sig a JOIN sig b ON a.s = b.s AND a.doc_id < b.doc_id
         |         WHERE abs(a.n - b.n) <= 20),
         |hh AS (SELECT doc_id, text, list_transform(range(97, 123), c ->
         |         CAST(length(lower(text)) - length(replace(lower(text), chr(CAST(c AS INT)), '')) AS BIGINT)) AS h
         |       FROM sh),
         |v AS (SELECT c.a_id, c.b_id, x.text AS a_text, y.text AS b_text
         |      FROM cand c JOIN hh x ON x.doc_id = c.a_id
         |                  JOIN hh y ON y.doc_id = c.b_id
         |      WHERE list_reduce(list_transform(list_zip(x.h, y.h),
         |              p -> abs(p[1] - p[2])), (u, w) -> u + w) <= 40)
         |SELECT a_id, b_id, CAST(levenshtein(a_text, b_text) AS BIGINT) AS lev
         |FROM v WHERE levenshtein(a_text, b_text) <= 20
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      levenshteinPairs(Tables.documents(s, d))
    },

    // asymmetric containment pairs over the FULL corpus: |A∩B| / |A| ≥
    // 0.8 flags doc A as a near-SUBSET of B (quote/excerpt detection —
    // Jaccard misses these when B is much longer). Directional, so both
    // orientations can fire for true near-dups. Same shingle-keyed
    // equi-join topology as dedup_ngram_jaccard (a pair with zero
    // shared shingles can never reach a positive containment when
    // |A| > 0, so only joined pairs matter); the equi-join keeps both
    // directions because the join emits (a,b) and (b,a) rows.
    "text_containment" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS shset
         |  FROM documents),
         |sz AS (SELECT doc_id, len(shset) AS n FROM sh),
         |ex AS (SELECT doc_id, unnest(shset) AS s FROM sh),
         |p AS (SELECT a.doc_id AS sub_id, b.doc_id AS super_id, count(*) AS inter
         |      FROM ex a JOIN ex b USING (s) WHERE a.doc_id <> b.doc_id
         |      GROUP BY 1, 2)
         |SELECT sub_id, super_id,
         |  CAST(inter AS DOUBLE) / sa.n AS containment
         |FROM p JOIN sz sa ON p.sub_id = sa.doc_id
         |WHERE inter * 10 >= 8 * sa.n
         |ORDER BY sub_id, super_id""".stripMargin) { (s, d) =>
      // r18 (guide §2.3): sizes ride the exploded rows (see
      // dedup_ngram_jaccard) — the sub-side size join and the second
      // shingle pass are gone — and the <>-join collapses to the
      // ORDERED (a < b) join + a 2-way orientation explode after the
      // aggregate (the shape text_containment_capped already ships):
      // the <> join pushed every unordered pair through the pair
      // aggregate TWICE; this halves the aggregate's input. Both
      // legs keep the identical projection and both size columns are
      // consumed by the fan-out, so the one shingle exchange serves
      // both sides via reuse.
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("shset"))
      val ex = sh.select(col("doc_id"),
        size(col("shset")).cast("long").as("n"), explode(col("shset")).as("s"))
      val p = ex.toDF("a_id", "na", "s").join(ex.toDF("b_id", "nb", "s"), "s")
        .where(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"),
          max("na").as("na"), max("nb").as("nb"))
      p.select(explode(array(
          struct(col("a_id").as("sub_id"), col("b_id").as("super_id"),
            col("inter"), col("na").as("n")),
          struct(col("b_id").as("sub_id"), col("a_id").as("super_id"),
            col("inter"), col("nb").as("n")))).as("r"))
        .select("r.*")
        .where(col("inter") * 10 >= col("n") * 8)
        .select(col("sub_id"), col("super_id"),
          (col("inter").cast("double") / col("n")).as("containment"))
        .orderBy("sub_id", "super_id")
    },

    // The df-CAPPED tier of the containment detector — text_containment's
    // 100 TB degradation path (the same designed demotion
    // dedup_jaccard_capped gives the symmetric verifier): shingles with
    // document frequency > 200 drop BEFORE the pair join
    // (Dedup.shinglePairStats), bounding the join at Σ_{df≤cap} df²,
    // and containment is then exact over the CAPPED sets — |A∩B|/|A|
    // with hot shingles out of both the intersection and |A|. On this
    // corpus max df ~25, so the cap is inert and the output is
    // IDENTICAL to text_containment (pinned in DedupSpec alongside a
    // hot-shingle corpus where the cap collapses the pair space); the
    // ORACLE applies the same cap, so the gate checks the capped
    // semantics themselves. Both orientations come from ONE pair join
    // via a 2-way explode — half the shuffle of the uncapped query's
    // <>-join shape on top of the cap.
    "text_containment_capped" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS shset
         |  FROM documents),
         |ex0 AS (SELECT doc_id, unnest(shset) AS s FROM sh),
         |keep AS (SELECT s FROM ex0 GROUP BY 1 HAVING count(*) <= 200),
         |ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN keep USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |p AS (SELECT a.doc_id AS sub_id, b.doc_id AS super_id, count(*) AS inter
         |      FROM ex a JOIN ex b USING (s) WHERE a.doc_id <> b.doc_id
         |      GROUP BY 1, 2)
         |SELECT sub_id, super_id,
         |  CAST(inter AS DOUBLE) / sa.n AS containment
         |FROM p JOIN sz sa ON p.sub_id = sa.doc_id
         |WHERE inter * 100 >= 80 * sa.n
         |ORDER BY sub_id, super_id""".stripMargin) { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), col("text"),
          col("doc_id"), shingleN = 3, minPct = 80, maxDf = Some(200L))
        .orderBy("sub_id", "super_id")
    },

    // MinHash+LSH near-dedup: engine-hash-based (xxhash64), so no SQL
    // oracle — rows-only; recall properties pinned in DedupSpec
    "dedup_minhash_survivors" -> QueryDef.rowsOnly { (s, d) =>
      Dedup.nearDedupSurvivors(
        Tables.documents(s, d), col("text"), col("doc_id"),
        shingleN = 3, k = 64, bands = 16, threshold = 0.8)
        .orderBy("id")
    },

    // SimHash fingerprint per document — ORACLE-EXACT since r11: the
    // per-token hash is the engine-portable md5-15-hex digest (the
    // same discipline dedup_incremental's identity column and the
    // hashed-features query established), so the ENTIRE simhash —
    // 60 per-bit majority votes over the token multiset — is a plain
    // aggregate both engines compute identically: explode tokens,
    // one groupBy(doc_id) with 60 bit-count sums + n (map-side
    // partial-agg, one shuffle of 62-column rows), majority vote
    // 2*c_j > n mirrors the ±1 sign sum being > 0. The xxhash64
    // fused-Expression variant (Dedup.simhash) remains the faster
    // engine tier for pair search and keeps its DedupSpec pins; this
    // query pins the ALGORITHM itself against an independent engine.
    // Near-pair search stays in the unit suite where the dup
    // structure is controlled — on this shared-vocabulary corpus the
    // pair set is degenerate.
    "dedup_simhash" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok
         |           FROM documents),
         |h AS (SELECT doc_id,
         |        CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
         |      FROM t),
         |a AS (SELECT doc_id, count(*) AS n,
         |        ${(0 until 60).map(j => s"sum((h >> $j) & 1) AS c$j").mkString(", ")}
         |      FROM h GROUP BY 1)
         |SELECT doc_id, CAST(${(0 until 60).map(j =>
               s"(CASE WHEN 2 * c$j > n THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS sh
         |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .selectExpr("doc_id",
          "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) AS h")
      val aggs = count(lit(1)).as("n") +:
        (0 until 60).map(j => expr(s"sum((shiftright(h, $j) & 1))").as(s"c$j"))
      tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
        .selectExpr("doc_id",
          s"CAST(${(0 until 60).map(j =>
            s"(CASE WHEN 2 * c$j > n THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS sh")
        .orderBy("doc_id")
    },

    // TF-IDF vocabulary statistics: explode tokens → per-doc term
    // frequency → document frequency + idf, top-25 terms. Two shuffles
    // (doc-term, then term), both partial-aggregated map-side; the
    // corpus size joins in as a broadcast scalar. Outputs are integers
    // plus one ln() on integer-derived doubles — bit-exact across
    // engines with no decimal scaffolding.
    "text_tfidf" -> QueryDef(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE length(term) >= 3 GROUP BY 1, 2
        |), df AS (
        |  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
        |  FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT term, df, total_tf, round(ln((n + 1.0) / (df + 1.0)), 9) AS idf
        |FROM df, n ORDER BY df DESC, term LIMIT 25""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .where(length(col("term")) >= 3)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
      // idf rounded to 9 dp on both sides: ln() is not IEEE
      // correctly-rounded, so JVM and DuckDB libm can differ in the
      // last ulp (sqrt, by contrast, is exact everywhere)
      df.crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .select(col("term"), col("df"), col("total_tf"),
          round(log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 9).as("idf"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(25)
    },

    // bigram extraction: adjacent-token pairs via an index-sequence HOF
    // (no self-join), global top-20 — the n-gram stage of phrase/
    // collocation mining. Guarded on >= 2 tokens (Spark's sequence()
    // DESCENDS when stop < start — an unguarded size-1 doc would emit
    // ghost pairs, not zero).
    "text_bigrams" -> QueryDef(
      """WITH t AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
        |), b AS (
        |  SELECT unnest(list_transform(list_zip(toks, toks[2:]),
        |    p -> CASE WHEN p[2] IS NULL THEN NULL ELSE p[1] || ' ' || p[2] END)) AS bg
        |  FROM t
        |)
        |SELECT bg, COUNT(*) AS n FROM b WHERE bg IS NOT NULL
        |GROUP BY bg ORDER BY n DESC, bg LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg").asc)
        .limit(20)
    },

    // PMI collocations: bigrams ranked by pointwise mutual information
    // — phrases whose parts co-occur far beyond chance ("new york"
    // scores where "of the" does not, however frequent). PMI =
    // ln(N*n_xy/(n_x*n_y)); ln is monotone, so ranking by the SCALED
    // INTEGER ratio n_xy*N*1e6 div (n_x*n_y) is PMI order with zero
    // fp anywhere — the score column stays hash-exact. Shape: one
    // tokenize pass feeds both the unigram and bigram aggregates
    // (partial-combined on their keys), then two tiny broadcast-sized
    // joins attach the marginals; min-count 5 kills the unstable tail.
    "text_collocations" -> QueryDef(
      """WITH t AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
        |), uni AS (
        |  SELECT w, COUNT(*) AS nw FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1
        |), tot AS (SELECT CAST(SUM(nw) AS BIGINT) AS n FROM uni
        |), bg AS (
        |  SELECT sp[1] AS w1, sp[2] AS w2, COUNT(*) AS nxy FROM (
        |    SELECT unnest(list_transform(list_zip(toks, toks[2:]),
        |      p -> CASE WHEN p[2] IS NULL THEN NULL ELSE [p[1], p[2]] END)) AS sp
        |    FROM t) WHERE sp IS NOT NULL GROUP BY 1, 2)
        |SELECT w1, w2, nxy,
        |  CAST(nxy * n * 1000000 AS BIGINT) // (u1.nw * u2.nw) AS pmi_ratio_ppm
        |FROM bg, tot
        |JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2
        |WHERE nxy >= 5
        |ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(tokens(col("text")).as("toks"))
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw"))
      val tot = uni.agg(sum("nw").cast("long").as("n"))
      val bg = t.where(size(col("toks")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("sp"))
        .groupBy(col("sp.w1").as("w1"), col("sp.w2").as("w2"))
        .agg(count(lit(1)).as("nxy"))
        .where(col("nxy") >= 5)
      bg.crossJoin(broadcast(tot))
        .join(broadcast(uni.select(col("w").as("w1"), col("nw").as("nw1"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("nw").as("nw2"))), "w2")
        .select(col("w1"), col("w2"), col("nxy"),
          expr("nxy * n * 1000000 div (nw1 * nw2)").as("pmi_ratio_ppm"))
        .orderBy(col("pmi_ratio_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // text normalization: lowercase, strip non-alphanumeric to spaces,
    // collapse runs, trim — the canonicalization step before exact
    // dedup / fingerprinting in a training pipeline. The corpus text is
    // already clean, so dirt (markup, case, punctuation) is planted
    // deterministically on every 7th doc to make the op non-trivial;
    // digest-verified. Per-row regex work only — scales with the scan.
    "text_normalize" -> QueryDef(
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN '  <<DOC #' || CAST(doc_id AS VARCHAR) || '>>  ' || upper(text) || '!!  '
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g'))) AS norm_digest,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g'))) AS n_norm,
        |  length(text) AS n_raw
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dirty = when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit("  <<DOC #"), col("doc_id").cast("string"), lit(">>  "),
          upper(col("text")), lit("!!  "))).otherwise(col("text"))
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), "  +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), dirty.as("text"))
        .select(col("doc_id"), md5(norm).as("norm_digest"),
          length(norm).as("n_norm"), length(col("text")).as("n_raw"))
        .orderBy("doc_id")
    },

    // PII scrubbing: count + redact emails and phone numbers (planted
    // on every 10th doc — the corpus itself is synthetic-clean), the
    // compliance pass of a web-scale pipeline. Redaction verified by
    // digest; per-row regex only.
    "text_pii_scrub" -> QueryDef(
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
        |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS scrub_digest
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
      val aug = when(pmod(col("doc_id"), lit(10)) === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-123-4567"))).otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("text"))
        .select(col("doc_id"),
          regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("text"),
            emailRe, "<EMAIL>"), phoneRe, "<PHONE>")).as("scrub_digest"))
        .orderBy("doc_id")
    },

    // repetition scoring (Gopher-style quality signal): distinct-token
    // ratio and the corpus-share of the most frequent bigram per doc.
    // One shuffle (doc_id, bigram) with map-side partial agg; the final
    // per-doc fractions are single exact divisions — fp-parity safe.
    "text_repetition" -> QueryDef(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
        |), eligible AS (
        |  SELECT doc_id, toks FROM t WHERE len(toks) >= 2
        |), b AS (
        |  SELECT doc_id, unnest(list_transform(list_zip(toks, toks[2:]),
        |    p -> CASE WHEN p[2] IS NULL THEN NULL ELSE p[1] || ' ' || p[2] END)) AS bg
        |  FROM eligible
        |), c AS (
        |  SELECT doc_id, bg, COUNT(*) AS n FROM b WHERE bg IS NOT NULL GROUP BY 1, 2
        |), rep AS (
        |  SELECT doc_id, CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_bigram_frac FROM c GROUP BY 1
        |)
        |SELECT e.doc_id AS doc_id,
        |  CAST(len(list_distinct(e.toks)) AS DOUBLE) / len(e.toks) AS uniq_token_ratio,
        |  rep.top_bigram_frac AS top_bigram_frac
        |FROM eligible e JOIN rep ON e.doc_id = rep.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val eligible = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
      val rep = eligible
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg((max(col("n")).cast("double") / sum(col("n"))).as("top_bigram_frac"))
      eligible
        .select(col("doc_id"),
          (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
            .as("uniq_token_ratio"))
        .join(rep, "doc_id")
        .orderBy("doc_id")
    },

    // benchmark decontamination: the GPT-3-style 13-gram collision scan
    // between a (small) benchmark set and the training corpus. The
    // benchmark's distinct shingle set is BROADCAST (benchmarks are
    // tiny vs a 100 TB corpus); the train side streams through an
    // equi-join — no shuffle of the corpus, no pair space. Docs 20-39
    // are planted with a 20-token benchmark snippet so the collision
    // structure is non-trivial at any SF; any natural near-dups of
    // benchmark docs surface too (at sf0.01, doc 245 genuinely shares
    // 71 shingles with a benchmark doc).
    "decontaminate_ngram" -> QueryDef(
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
         |train AS (
         |  SELECT d.doc_id,
         |    CASE WHEN b.doc_id IS NOT NULL
         |      THEN d.text || ' ' || array_to_string(list_slice(${tokensSql("b.text")}, 1, 20), ' ')
         |      ELSE d.text END AS text
         |  FROM documents d LEFT JOIN bench b ON b.doc_id = d.doc_id - 20
         |  WHERE d.doc_id >= 20),
         |bsh AS (SELECT DISTINCT unnest(${shinglesSql("text", 13)}) AS sh FROM bench),
         |tsh AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("text", 13)})) AS sh FROM train)
         |SELECT t.doc_id AS doc_id, COUNT(*) AS n_hits
         |FROM tsh t JOIN bsh USING (sh)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bench = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("b_id"), col("text").as("b_text"))
      val train = docs.where(col("doc_id") >= 20)
        .join(broadcast(bench), col("b_id") === col("doc_id") - 20, "left")
        .select(col("doc_id"),
          when(col("b_id").isNotNull,
            concat(col("text"), lit(" "),
              concat_ws(" ", slice(tokens(col("b_text")), 1, 20))))
            .otherwise(col("text")).as("text"))
      val bsh = bench
        .select(explode(shingles(col("b_text"), 13)).as("sh")).distinct()
      train
        .select(col("doc_id"), explode(array_distinct(shingles(col("text"), 13))).as("sh"))
        .join(broadcast(bsh), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },

    // boilerplate detection: 8-gram spans recurring across >= 2
    // DISTINCT documents (headers/footers/templates in a real crawl;
    // here the planted near-dup structure) and each doc's boilerplate
    // contamination ratio — the pretraining cleanup step between
    // exact dedup (whole doc) and decontamination (vs a benchmark):
    // repeated SPANS inside otherwise-unique docs. Tokenize once;
    // the df aggregate partial-combines on the gram key; the recurring
    // set (~4% of grams here, df-thresholded smaller in practice) comes
    // back via a gram-keyed equi-join — no pair space, no broadcast
    // assumption needed. All integer => hash-exact.
    "text_boilerplate" -> QueryDef(
      s"""WITH tsh AS (SELECT doc_id, unnest(${shinglesSql("text", 8)}) AS sh
         |            FROM documents),
         |bp AS (SELECT sh AS bsh FROM (
         |    SELECT sh, COUNT(DISTINCT doc_id) AS df FROM tsh GROUP BY 1)
         |  WHERE df >= 2)
         |SELECT doc_id, COUNT(*) AS n_spans, COUNT(bsh) AS n_bp,
         |  CAST(COUNT(bsh) * 1000 AS BIGINT) // COUNT(*) AS bp_permille
         |FROM tsh LEFT JOIN bp ON sh = bsh
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val tsh = Tables.documents(s, d)
        .select(col("doc_id"), explode(shingles(col("text"), 8)).as("sh"))
      val bp = tsh.groupBy("sh").agg(countDistinct("doc_id").as("df"))
        .where(col("df") >= 2).select(col("sh").as("bsh"))
      tsh.join(bp, col("sh") === col("bsh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"), count(col("bsh")).as("n_bp"))
        .select(col("doc_id"), col("n_spans"), col("n_bp"),
          expr("n_bp * 1000 div n_spans").as("bp_permille"))
        .orderBy("doc_id")
    },

    // deterministic stratified train/val/test assignment: the doc_id
    // digest prefix is a uniform [0,256) bucket compared against
    // per-language thresholds (en is over-represented, so it gets
    // tighter holdout rates). Pure per-row hashing — reproducible
    // across runs/engines/cluster sizes, no shuffle, and the split
    // survives corpus growth (a doc's assignment never changes).
    "sample_stratified_split" -> QueryDef(
      """WITH h AS (
        |  SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hb
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN hb < (CASE WHEN lang = 'en' THEN '0d' ELSE '1a' END) THEN 'val'
        |       WHEN hb < (CASE WHEN lang = 'en' THEN '1a' ELSE '33' END) THEN 'test'
        |       ELSE 'train' END AS split
        |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      val hb = substring(md5(col("doc_id").cast("string")), 1, 2)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          when(hb < when(col("lang") === "en", "0d").otherwise("1a"), "val")
            .when(hb < when(col("lang") === "en", "1a").otherwise("33"), "test")
            .otherwise("train").as("split"))
        .orderBy("doc_id")
    },

    // corpus profiling — the dataset-card summary row: doc count, token
    // volume, vocabulary size, length extremes. Three independent
    // aggregates (docs, tokens, vocab) broadcast-joined into one row;
    // every stat is an exact integer.
    "corpus_summary" -> QueryDef(
      s"""WITH t AS (
         |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |u AS (SELECT unnest(toks) AS term FROM t)
         |SELECT
         |  (SELECT COUNT(*) FROM t) AS n_docs,
         |  (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM t) AS total_tokens,
         |  (SELECT COUNT(DISTINCT term) FROM u) AS vocab_size,
         |  (SELECT CAST(MIN(len(toks)) AS BIGINT) FROM t) AS min_len,
         |  (SELECT CAST(MAX(len(toks)) AS BIGINT) FROM t) AS max_len""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val docStats = t.agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).as("total_tokens"),
        min(size(col("toks"))).cast("long").as("min_len"),
        max(size(col("toks"))).cast("long").as("max_len"))
      val vocab = t.select(explode(col("toks")).as("term"))
        .agg(countDistinct(col("term")).as("vocab_size"))
      docStats.crossJoin(broadcast(vocab))
        .select("n_docs", "total_tokens", "vocab_size", "min_len", "max_len")
    },

    // URL extraction over planted links (the corpus is synthetic-
    // clean): host and tracking-param pulled by identical regexes on
    // both engines, aggregated per host — the domain-level filter/
    // attribution step of a web-crawl pipeline. Per-row regex only.
    "text_url_extract" -> QueryDef(
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
        |         || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |         || '?ref=r' || CAST(doc_id % 4 AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents),
        |x AS (
        |  SELECT doc_id,
        |    regexp_extract(text, 'https://([a-z0-9.-]+)/', 1) AS host,
        |    regexp_extract(text, '[?&]ref=([a-z0-9]+)', 1) AS ref
        |  FROM aug)
        |SELECT host, COUNT(*) AS n_docs, COUNT(DISTINCT ref) AS n_refs
        |FROM x WHERE host <> ''
        |GROUP BY host ORDER BY host""".stripMargin) { (s, d) =>
      val aug = when(pmod(col("doc_id"), lit(5)) === 0,
        concat(col("text"), lit(" see https://sub"),
          pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.com/p/"),
          col("doc_id").cast("string"), lit("?ref=r"),
          pmod(col("doc_id"), lit(4)).cast("string"))).otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("text"))
        .select(col("doc_id"),
          regexp_extract(col("text"), "https://([a-z0-9.-]+)/", 1).as("host"),
          regexp_extract(col("text"), "[?&]ref=([a-z0-9]+)", 1).as("ref"))
        .where(col("host") =!= "")
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("ref")).as("n_refs"))
        .orderBy("host")
    },

    // unigram-LM surprisal scoring — the CCNet/perplexity-filter shape:
    // corpus unigram probabilities (exact integer freq / total), then
    // each doc's mean negative log-likelihood. The only non-IEEE-exact
    // step, ln(p), rounds to 9 dp BEFORE the per-doc fold (JVM and
    // DuckDB libm can differ in the last ulp); the fold itself is a
    // left fold over the doc's token array on both engines, so sums
    // accumulate in identical order. Model side is a broadcast join
    // (the vocabulary is tiny vs the corpus).
    "text_lm_surprisal" -> QueryDef(
      s"""WITH w AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
         |v AS (SELECT term, COUNT(*) AS freq FROM w GROUP BY 1),
         |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM v),
         |ll AS (
         |  SELECT w.doc_id, round(-ln(CAST(v.freq AS DOUBLE) / t.total), 9) AS nll
         |  FROM w JOIN v USING (term), t),
         |d AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(CAST(round(nll * 1000000000) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sum_nll
         |  FROM ll GROUP BY 1)
         |SELECT doc_id, n_tokens, sum_nll, sum_nll / n_tokens AS mean_surprisal
         |FROM d ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("freq"))
      val total = vocab.agg(sum("freq").as("total"))
      // 9-dp-rounded nll, then EXACT integer accumulation of the fixed-
      // point values: per-group sum order no longer matters at all
      toks
        .join(broadcast(vocab), "term")
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          round(-log(col("freq").cast("double") / col("total")), 9).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum(round(col("nll") * 1000000000L).cast("long")).cast("double")
            / 1000000000.0).as("sum_nll"))
        .select(col("doc_id"), col("n_tokens"), col("sum_nll"),
          (col("sum_nll") / col("n_tokens")).as("mean_surprisal"))
        .orderBy("doc_id")
    },

    // weighted systematic sampling: select ~50 docs with probability
    // proportional to an integer weight (n_chars here — in a real
    // pipeline, a quality score) by walking the cumulative-weight line
    // and keeping each doc whose span crosses a stride boundary. ALL
    // integer arithmetic (prefix sums, scaled floor divisions), so the
    // sample is reproducible across engines/runs/cluster sizes — no
    // RNG, no fp. The ordered prefix sum is TWO-PHASE (r17 — was a
    // single global window, found by the full-surface audit sweep):
    // doc_id-range buckets collapse to per-bucket subtotals, their
    // prefix sum over the tiny bucket axis is each bucket's offset,
    // and the in-bucket running sum is bucket-partitioned — identical
    // cumulative values, no single-partition pass over the docs. The
    // bucket-axis prefix is itself two-level (AxisOffsets, r18): the
    // one unpartitioned window sees n/4096² rows, ceiling in code.
    "sample_weighted" -> QueryDef(
      """WITH w AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents),
        |c AS (
        |  SELECT doc_id, wt,
        |    SUM(wt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(wt) OVER () AS total
        |  FROM w)
        |SELECT doc_id, wt FROM c
        |WHERE (cumw * 50) // total > ((cumw - wt) * 50) // total
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("wt"))
        .withColumn("bkt", expr("doc_id div 4096"))
      val off = w.groupBy("bkt").agg(sum("wt").as("bw"))
      // two-LEVEL exclusive prefix over the bucket axis (r18 — the
      // axis knob as code: the only unpartitioned window runs over
      // n/4096² rows, AxisOffsets' scaladoc states the next ceiling)
      val offs = AxisOffsets.exclusivePrefix(off, "bkt", "bw")
      // total from the bucket subtotals, not a second fact pass; a
      // broadcast scalar (an OVER () window would drag every row
      // through one partition; the oracle's OVER () is numerically
      // identical)
      val total = off.agg(sum("bw").as("total"))
      val wLoc = Window.partitionBy("bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      w.join(broadcast(offs), "bkt")
        .withColumn("cumw", sum("wt").over(wLoc) + col("off"))
        .crossJoin(broadcast(total))
        .where(expr("(cumw * 50) div total > ((cumw - wt) * 50) div total"))
        .select("doc_id", "wt")
        .orderBy("doc_id")
    },

    // context-window packing: split each document into fixed 50-token
    // chunks (the pre-tokenization shard step of a training pipeline).
    // Per-row work only — tokenize, explode the chunk index range,
    // slice — so it scales embarrassingly; chunk content is verified by
    // digest, not by shipping the text.
    "text_chunk" -> QueryDef(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, CAST(floor((len(toks)-1)/50) AS BIGINT))) AS chunk_id
        |  FROM t
        |)
        |SELECT doc_id, chunk_id,
        |  len(list_slice(toks, chunk_id*50+1, chunk_id*50+50)) AS chunk_len,
        |  md5(array_to_string(list_slice(toks, chunk_id*50+1, chunk_id*50+50), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      val k = 50
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      def chunk = slice(col("toks"), (col("chunk_id") * k + 1).cast("int"), lit(k))
      toks
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L),
            floor((size(col("toks")) - 1) / k).cast("long"))).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          size(chunk).cast("long").as("chunk_len"),
          md5(concat_ws(" ", chunk)).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // BPE merge-candidate counting — the inner loop of tokenizer
    // training: count adjacent-character pairs across the corpus,
    // weighted by word frequency. The trick that makes this scale is
    // aggregating words FIRST (the corpus collapses to its vocabulary,
    // orders of magnitude smaller) and only then exploding each
    // distinct word's character pairs once, weighted by its count —
    // the naive per-occurrence explode would shuffle every character
    // of 100 TB. Top pair = the first BPE merge; iterating re-runs
    // this on the merged vocab. All-integer counts, oracle-exact.
    "text_bpe_pairs" -> QueryDef(
      s"""WITH w AS (
         |  SELECT unnest(${tokensSql("text")}) AS word FROM documents),
         |v AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY 1),
         |p AS (
         |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |    SELECT freq, unnest(list_transform(
         |      range(1, length(word)),
         |      i -> word[i] || ' ' || word[i+1])) AS pair
         |    FROM v WHERE length(word) >= 2)
         |  GROUP BY 1)
         |SELECT pair, n FROM p ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .where(length(col("word")) >= 2)
      vocab
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => concat(col("word").substr(i, lit(1)), lit(" "),
            col("word").substr(i + 1, lit(1))))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)
    },

    // composed quality gate: every doc gets a keep/drop verdict with
    // the FIRST failing rule as its reason code — the auditable filter
    // pipeline of a training-data build (a bare boolean filter can't
    // answer "why did we drop 12% of src7"). All rules integer-compare
    // exact counts (no fp thresholds), so the verdict is deterministic
    // and the op stays one pass over the scan.
    "text_filter_audit" -> QueryDef(
      s"""WITH t AS (
         |  SELECT doc_id, lang, ${tokensSql("text")} AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens,
         |  CASE WHEN len(toks) < 30 THEN 'too_short'
         |       WHEN len(list_distinct(toks)) * 100 < len(toks) * 35 THEN 'high_repetition'
         |       WHEN lang NOT IN ('en', 'de', 'fr') THEN 'lang_out_of_scope'
         |       ELSE 'ok' END AS reason,
         |  (len(toks) >= 30 AND len(list_distinct(toks)) * 100 >= len(toks) * 35
         |   AND lang IN ('en', 'de', 'fr')) AS keep
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      val nToks = size(col("toks"))
      val nUniq = size(array_distinct(col("toks")))
      val langOk = col("lang").isin("en", "de", "fr")
      t.select(col("doc_id"), nToks.cast("long").as("n_tokens"),
          when(nToks < 30, "too_short")
            .when(nUniq * 100 < nToks * 35, "high_repetition")
            .when(!langOk, "lang_out_of_scope")
            .otherwise("ok").as("reason"),
          (nToks >= 30 && nUniq * 100 >= nToks * 35 && langOk).as("keep"))
        .orderBy("doc_id")
    },

    // sliding context windows WITH overlap (stride 25 < size 50) — the
    // production chunking mode: consecutive windows share half their
    // tokens so no span is ever split across a boundary without also
    // appearing whole in a neighbor. Same per-row explode shape as
    // text_chunk; windows starting past the end are excluded (the last
    // partial window still emits so no token is dropped).
    "text_chunk_overlap" -> QueryDef(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, CAST(floor((len(toks)-1)/25) AS BIGINT))) AS w
        |  FROM t
        |)
        |SELECT doc_id, w,
        |  len(list_slice(toks, w*25+1, w*25+50)) AS chunk_len,
        |  md5(array_to_string(list_slice(toks, w*25+1, w*25+50), ' ')) AS chunk_md5
        |FROM c WHERE w*25 < len(toks)
        |ORDER BY doc_id, w""".stripMargin) { (s, d) =>
      val stride = 25
      val size50 = 50
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      def chunk = slice(col("toks"), (col("w") * stride + 1).cast("int"), lit(size50))
      toks
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L),
            floor((size(col("toks")) - 1) / stride).cast("long"))).as("w"))
        .where(col("w") * stride < size(col("toks")))
        .select(col("doc_id"), col("w"),
          size(chunk).cast("long").as("chunk_len"),
          md5(concat_ws(" ", chunk)).as("chunk_md5"))
        .orderBy("doc_id", "w")
    },

    // duplicate-cluster grouping: LSH candidates → exact-Jaccard verify
    // (≥ 0.9, integer-compared) → connected components, reported as one
    // row per multi-member cluster. The pair relation is not transitive
    // — the corpus genuinely contains an a~b~c triple (docs 45/267/413)
    // that only clustering collapses to one survivor group. Spark side
    // runs the scale path (banded bucket-join, no pair space); the
    // oracle brute-forces the same edge set and closes it with a
    // recursive CTE. All-integer output — hash-exact.
    "dedup_clusters" -> QueryDef(
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, sset AS shset FROM (
         |    SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS sset
         |    FROM documents)
         |  WHERE len(sset) > 0),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |      WHERE len(list_intersect(a.shset, b.shset)) * 10 >=
         |            9 * (len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset)))
         |        AND len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset)) > 0),
         |e AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
         |assign AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id, COUNT(*) AS n_members, MAX(id) AS max_doc
         |FROM assign GROUP BY 1 HAVING COUNT(*) >= 2
         |ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val shingled = Tables.documents(s, d)
        .select(col("doc_id").as("id"),
          array_distinct(shingles(col("text"), 3)).as("shset"))
        .where(size(col("shset")) > 0)
        .pinned // consumed by sigs + both verify sides
      val sigs = shingled.select(col("id"),
        Dedup.minhashSignature(col("shset"), 64).as("sig"))
      val cands = Dedup.lshCandidatePairs(sigs, "id", "sig", 16)
      // exact verify at >= 0.9: integer-compare (inter*10 >= uni*9), no
      // fp boundary — the corpus has a pair at exactly 9/10
      val sa = shingled.toDF("a_id", "a_sh")
      val sb = shingled.toDF("b_id", "b_sh")
      val edges = cands
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
        .withColumn("uni", size(col("a_sh")) + size(col("b_sh")) - col("inter"))
        .where(col("inter") * 10 >= col("uni") * 9 && col("uni") > 0)
        .select(col("a_id").as("a"), col("b_id").as("b"))
      val assign = Cluster.connectedComponents(shingled.select(col("id")), edges)
      Cluster.clusterSummary(assign)
    },

    // CANONICAL-REPRESENTATIVE selection — the step that ENDS a dedup
    // pipeline: after LSH candidates -> exact verify -> connected
    // components, each near-dup cluster keeps exactly ONE survivor
    // (here: the longest doc, doc_id-tie-broken) and drops the rest.
    // The argmax travels as ONE BIGINT key (n_chars*1e6 + doc_id —
    // unique, order-preserving), so survivor selection is a plain MAX
    // partial aggregate: no per-cluster sort, no row materialization
    // beyond the cluster assignment. Scale shape matches dedup_clusters
    // (LSH-bucketed candidates, never the pair space) plus one
    // map-side-combinable aggregate.
    "dedup_canonical" -> QueryDef(
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, sset AS shset FROM (
         |    SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS sset
         |    FROM documents)
         |  WHERE len(sset) > 0),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |      WHERE len(list_intersect(a.shset, b.shset)) * 10 >=
         |            9 * (len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset)))
         |        AND len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset)) > 0),
         |e AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
         |assign AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |k AS (SELECT a.id, a.cluster_id, d.n_chars * 1000000 + a.id AS kk
         |      FROM assign a JOIN documents d ON d.doc_id = a.id)
         |SELECT cluster_id, CAST(MAX(kk) % 1000000 AS BIGINT) AS rep_doc,
         |       COUNT(*) AS n_members, COUNT(*) - 1 AS n_removed
         |FROM k GROUP BY 1 HAVING COUNT(*) >= 2
         |ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val shingled = Tables.documents(s, d)
        .select(col("doc_id").as("id"),
          array_distinct(shingles(col("text"), 3)).as("shset"))
        .where(size(col("shset")) > 0)
        .pinned
      val sigs = shingled.select(col("id"),
        Dedup.minhashSignature(col("shset"), 64).as("sig"))
      val cands = Dedup.lshCandidatePairs(sigs, "id", "sig", 16)
      val sa = shingled.toDF("a_id", "a_sh")
      val sb = shingled.toDF("b_id", "b_sh")
      val edges = cands
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
        .withColumn("uni", size(col("a_sh")) + size(col("b_sh")) - col("inter"))
        .where(col("inter") * 10 >= col("uni") * 9 && col("uni") > 0)
        .select(col("a_id").as("a"), col("b_id").as("b"))
      val assign = Cluster.connectedComponents(shingled.select(col("id")), edges)
      assign
        .join(Tables.documents(s, d).select(col("doc_id").as("id"), col("n_chars")), "id")
        .select(col("cluster_id"), (col("n_chars") * 1000000L + col("id")).as("kk"))
        .groupBy("cluster_id")
        .agg((max("kk") % 1000000L).cast("long").as("rep_doc"),
          count(lit(1)).as("n_members"),
          (count(lit(1)) - 1).as("n_removed"))
        .where(col("n_members") >= 2)
        .orderBy("cluster_id")
    },

    // Flesch-style READABILITY scoring — the classic quality-filter
    // feature (prune too-simple / machine-garbled docs before
    // training). Word, sentence, and syllable-proxy (vowel-group)
    // counts are exact integers from one pass of per-row array ops —
    // no shuffle at all until the final ORDER BY — and the score then
    // derives in ONE fixed double-op sequence rounded to micro-units,
    // so the fp-heavy formula is still hash-exact. Pure map work:
    // scan-bound at any corpus size.
    "text_readability" -> QueryDef(
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT) AS words,
        |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
        |      x -> len(trim(x)) > 0)) AS BIGINT) AS sents,
        |    CAST(list_sum(list_transform(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(regexp_extract_all(w, '[aeiou]+')))) AS BIGINT) AS syl
        |  FROM documents)
        |SELECT doc_id, words, sents, syl,
        |  CAST(round(1000000 * (206.835
        |    - 1.015 * (CAST(words AS DOUBLE) / sents)
        |    - 84.6 * (CAST(syl AS DOUBLE) / words))) AS BIGINT) AS fre_micro
        |FROM c WHERE words > 0 AND sents > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d).select(col("doc_id"),
        expr("""CAST(size(filter(split(lower(trim(text)), '\\s+'),
          w -> length(w) > 0)) AS BIGINT)""").as("words"),
        expr("""CAST(size(filter(split(text, '[.!?]+'),
          x -> length(trim(x)) > 0)) AS BIGINT)""").as("sents"),
        expr("""CAST(aggregate(transform(split(lower(trim(text)), '\\s+'),
          w -> size(regexp_extract_all(w, '[aeiou]+', 0))),
          0L, (acc, v) -> acc + v) AS BIGINT)""").as("syl"))
      c.where(col("words") > 0 && col("sents") > 0)
        .select(col("doc_id"), col("words"), col("sents"), col("syl"),
          expr("""CAST(round(1000000 * (206.835
            - 1.015 * (CAST(words AS DOUBLE) / sents)
            - 84.6 * (CAST(syl AS DOUBLE) / words))) AS BIGINT)""").as("fre_micro"))
        .orderBy("doc_id")
    },

    // PREFIX-FILTERING set-similarity join (AllPairs/PPJoin family) —
    // the EXACT-candidate-generation alternative to LSH: order each
    // doc's shingles by ascending global document frequency, keep only
    // the first |d| - ceil(0.9|d|) + 1 as its signature, and join on
    // signature shingles. THEOREM: two sets with Jaccard >= 0.9 must
    // share a signature shingle, so unlike MinHash this tier has ZERO
    // false negatives (PrefixFilterSpec pins output == full brute
    // force) while still skipping almost the whole pair space — the
    // rarest-first ordering keeps signature postings short. Scale
    // shape: one df aggregate, one per-doc rank window, a
    // signature-keyed equi-join, then exact verify on candidates only.
    "dedup_prefix_filter" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, sset AS shset FROM (
         |    SELECT doc_id, list_distinct(${shinglesSql("text", 3)}) AS sset
         |    FROM documents)
         |  WHERE len(sset) > 0),
         |ex AS (SELECT doc_id, len(shset) AS l, unnest(shset) AS sh FROM sh),
         |df AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1),
         |rk AS (SELECT ex.doc_id, ex.l, ex.sh,
         |         row_number() OVER (PARTITION BY ex.doc_id
         |                            ORDER BY df.df, ex.sh) AS rk
         |       FROM ex JOIN df ON ex.sh = df.sh),
         |sig AS (SELECT doc_id, sh FROM rk
         |        WHERE rk <= l - ((9 * l + 9) // 10) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |         FROM sig a JOIN sig b
         |           ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |v AS (SELECT c.a, c.b,
         |        len(list_intersect(x.shset, y.shset)) AS inter,
         |        len(x.shset) + len(y.shset)
         |          - len(list_intersect(x.shset, y.shset)) AS uni
         |      FROM cand c JOIN sh x ON x.doc_id = c.a
         |                  JOIN sh y ON y.doc_id = c.b)
         |SELECT a, b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
         |FROM v WHERE inter * 10 >= uni * 9 AND uni > 0
         |ORDER BY a, b""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sh = Tables.documents(s, d)
        .select(col("doc_id").as("id"),
          array_distinct(shingles(col("text"), 3)).as("shset"))
        .where(size(col("shset")) > 0)
        .pinned // feeds the rank pass AND both verify sides
      val ex = sh.select(col("id"), size(col("shset")).as("l"),
        explode(col("shset")).as("sh"))
      val dfreq = ex.groupBy("sh").agg(count(lit(1)).as("df"))
      val rk = ex.join(dfreq, "sh")
        .withColumn("rk",
          row_number().over(Window.partitionBy("id").orderBy("df", "sh")))
      val sig = rk.where(col("rk") <= col("l") - expr("(9*l + 9) div 10") + 1)
        .select("id", "sh")
      val cand = sig.as("a").join(sig.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
        .distinct()
      val sa = sh.toDF("a_id", "a_sh")
      val sb = sh.toDF("b_id", "b_sh")
      cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
        .withColumn("uni",
          size(col("a_sh")) + size(col("b_sh")) - col("inter"))
        .where(col("inter") * 10 >= col("uni") * 9 && col("uni") > 0)
        .select(col("a_id").as("a"), col("b_id").as("b"),
          col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
        .orderBy("a", "b")
    },

    // BALANCED class downsampling — cap every language at 50 docs so a
    // skewed corpus (en is 3x fr here) stops drowning minority classes
    // in training. The kept set is DETERMINISTIC at any cluster size:
    // rank within class by (md5(text), doc_id) — a reproducible
    // pseudo-random order with a total tie-break — and keep rank <= 50.
    // Scale shape: one window per class partition over (hash, id);
    // classes rank independently, so the cap parallelizes across them
    // (a driver-free stratified limit).
    "sample_balanced" -> QueryDef(
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |  FROM documents)
        |SELECT lang, doc_id FROM r WHERE rk <= 50
        |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), row_number().over(w).as("rk"))
        .where(col("rk") <= 50)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    },

    // inverted index: term → document frequency + postings summary
    // (min/max/sum of posting doc ids). The posting lists themselves
    // stay distributed — only per-term integer aggregates come back.
    // One explode + one partial-aggregated shuffle on the term key;
    // at 100 TB this is the standard index-build shape (term-sharded).
    "text_inverted_index" -> QueryDef(
      s"""SELECT term, COUNT(*) AS df,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc
         |FROM (
         |  SELECT doc_id, unnest(list_distinct(${tokensSql("text")})) AS term
         |  FROM documents)
         |GROUP BY term ORDER BY term""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"), sum("doc_id").as("sum_doc"))
        .orderBy("term")
    },

    // ZIPF RANK-FREQUENCY FIT — OLS slope of ln(freq) on ln(rank)
    // over the top-200 vocabulary: the corpus-health fingerprint
    // (natural text sits near slope -1; template/boilerplate-heavy or
    // synthetic corpora bend away). All regression sums are EXACT
    // BIGINT over micro-scaled logs (each ln() rounds to its 1e-6
    // grid once, the ulp-safe idiom from text_entropy), so the
    // partial-aggregated sums are order-independent and the final
    // slope/intercept are one shared double-op sequence. The rank
    // window runs over 200 aggregated vocabulary rows, not tokens.
    "text_zipf_fit" -> QueryDef(
      """WITH f AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        |    FROM documents) t
        |  WHERE length(term) >= 3 GROUP BY 1),
        |r AS (SELECT f, CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT)
        |        AS rk FROM f),
        |t AS (SELECT CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |        CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |      FROM r WHERE rk <= 200),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |        CAST(SUM(x*y) AS BIGINT) AS sxy
        |      FROM t)
        |SELECT n,
        |  CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
        |    AS slope_micro,
        |  CAST(round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_micro
        |FROM g""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val f = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .where(length(col("term")) >= 3)
        .groupBy("term").agg(count(lit(1)).as("f"))
      // top-k FIRST (TakeOrderedAndProject — per-partition heads, no
      // global sort), then the rank window runs over just 200 rows
      val top = f.orderBy(col("f").desc, col("term")).limit(200)
      val t = top.withColumn("rk",
          row_number().over(Window.orderBy(col("f").desc, col("term"))).cast("long"))
        .select(
          expr("CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT)").as("x"),
          expr("CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT)").as("y"))
      t.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x*x")).as("sxx"), sum(expr("x*y")).as("sxy"))
        .selectExpr("n",
          """CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
             AS slope_micro""",
          """CAST(round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_micro""")
    },

    // RAKE KEYWORD EXTRACTION — candidate phrases are maximal runs of
    // non-stopword tokens; each word scores degree/frequency (degree
    // = summed length of phrases it appears in — favors words that
    // live in long collocations), and a phrase scores the sum of its
    // words. The stopword split is NOT a regex: tokens take positions
    // and a running stopword-count window assigns phrase ids (the
    // gaps-and-islands idiom), so both engines segment identically
    // with no regex-dialect risk. Scores are integer ppm (truncating
    // degree*1e6/freq), phrase strings assemble position-ordered —
    // everything hash-gated. Two token-keyed shuffles (freq, deg) +
    // one per-(doc, phrase) aggregate; identical phrase text always
    // scores identically, so the global top-15 is well-defined.
    "text_rake" -> QueryDef(
      """WITH tok AS (
        |  SELECT doc_id, CAST(u.p[1] AS BIGINT) AS pos, u.p[2] AS term
        |  FROM (SELECT doc_id,
        |          list_zip(range(1, len(regexp_split_to_array(lower(text),
        |            '[^a-z]+'))+1),
        |            regexp_split_to_array(lower(text), '[^a-z]+')) AS z
        |        FROM documents), unnest(z) AS u(p)),
        |mk AS (SELECT doc_id, pos, term,
        |         CASE WHEN term IN ('a', 'the', 'and', 'of', 'to', 'in',
        |                            'on', 'is') OR length(term) < 2
        |              THEN 1 ELSE 0 END AS brk
        |       FROM tok),
        |pid AS (SELECT doc_id, pos, term, brk,
        |          CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pid
        |        FROM mk),
        |mem AS (SELECT doc_id, pid, pos, term FROM pid WHERE brk = 0),
        |plen AS (SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen
        |         FROM mem GROUP BY 1, 2),
        |freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
        |         FROM mem GROUP BY 1),
        |deg AS (SELECT m.term, CAST(SUM(p.plen) AS BIGINT) AS deg
        |        FROM mem m JOIN plen p ON m.doc_id = p.doc_id AND m.pid = p.pid
        |        GROUP BY 1),
        |ws AS (SELECT freq.term, CAST(deg.deg * 1000000 // freq.freq AS BIGINT)
        |         AS wscore FROM freq JOIN deg ON freq.term = deg.term),
        |ph AS (SELECT m.doc_id, m.pid,
        |         string_agg(m.term, ' ' ORDER BY m.pos) AS phrase,
        |         CAST(SUM(ws.wscore) AS BIGINT) AS pscore
        |       FROM mem m JOIN ws ON m.term = ws.term
        |       GROUP BY 1, 2)
        |SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur, pscore AS score_micro
        |FROM ph GROUP BY phrase, pscore
        |ORDER BY score_micro DESC, phrase LIMIT 15""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("p", "term")))
        .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"), col("term"))
      val mk = tok.withColumn("brk",
        when(col("term").isin("a", "the", "and", "of", "to", "in", "on", "is") ||
          length(col("term")) < 2, lit(1)).otherwise(lit(0)))
      val wPid = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
      val mem = mk.withColumn("pid", sum("brk").over(wPid).cast("long"))
        .where(col("brk") === 0)
        .select("doc_id", "pid", "pos", "term")
        .pinned // read by plen, freq, deg, and the phrase agg
      val plen = mem.groupBy("doc_id", "pid").agg(count(lit(1)).as("plen"))
      val freq = mem.groupBy("term").agg(count(lit(1)).as("freq"))
      val deg = mem.join(plen, Seq("doc_id", "pid"))
        .groupBy("term").agg(sum("plen").as("deg"))
      val ws = freq.join(deg, "term")
        .select(col("term"), expr("deg * 1000000 div freq").as("wscore"))
      val ph = mem.join(broadcast(ws), "term")
        .groupBy("doc_id", "pid")
        .agg(
          expr("""concat_ws(' ', transform(array_sort(
                  collect_list(struct(pos, term))), x -> x.term))""").as("phrase"),
          sum("wscore").as("pscore"))
      ph.groupBy("phrase", "pscore")
        .agg(count(lit(1)).as("n_occur"))
        .select(col("phrase"), col("n_occur"), col("pscore").as("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase"))
        .limit(15)
    },

    // KNESER-NEY SMOOTHED BIGRAM LM — the classic n-gram language
    // model estimator (absolute discount d = 3/4 plus a continuation
    // back-off weighted by how many distinct contexts a word follows)
    // — the pre-neural LM the surprisal/perplexity quality filters
    // idealize. EVERYTHING is integer: with d = 3/4 the probability
    // over the common denominator 4*c(w1)*T is
    //   [max(4*c12 - 3, 0)*T + 3*N1a(w1)*N1b(w2)] / (4*c1*T)
    // where N1a = distinct successors of w1, N1b = distinct
    // predecessors of w2, T = distinct bigram types — so p_ppm is one
    // truncating division and the whole model is hash-gated. Plan:
    // one adjacent-pair window per doc, then three partial-agged
    // shuffles on the bigram/word keys; top-20 by probability.
    "text_kneser_ney" -> QueryDef(
      """WITH tok AS (
        |  SELECT doc_id, CAST(u.p[1] AS BIGINT) AS pos, u.p[2] AS term
        |  FROM (SELECT doc_id,
        |          list_zip(range(1, len(regexp_split_to_array(lower(text),
        |            '[^a-z]+'))+1),
        |            regexp_split_to_array(lower(text), '[^a-z]+')) AS z
        |        FROM documents), unnest(z) AS u(p)
        |  WHERE length(u.p[2]) >= 2),
        |bg AS (SELECT doc_id, pos, term AS w1,
        |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |       FROM tok),
        |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        |        FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |         CAST(COUNT(*) AS BIGINT) AS n1a
        |       FROM c12 GROUP BY 1),
        |n1b AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c12 GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c12)
        |SELECT c12.w1 AS w1, c12.w2 AS w2, c12.c12 AS c12,
        |  CAST((GREATEST(4 * c12.c12 - 3, 0) * t.t + 3 * c1.n1a * n1b.n1b)
        |       * 1000000 // (4 * c1.c1 * t.t) AS BIGINT) AS p_ppm
        |FROM c12 JOIN c1 ON c12.w1 = c1.w1
        |JOIN n1b ON c12.w2 = n1b.w2 CROSS JOIN t
        |ORDER BY 4 DESC, 1, 2 LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("p", "term")))
        .where(length(col("term")) >= 2)
        .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"), col("term"))
      val wNext = Window.partitionBy("doc_id").orderBy("pos")
      val c12 = tok
        .withColumn("w2", lead("term", 1).over(wNext))
        .where(col("w2").isNotNull)
        .groupBy(col("term").as("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .pinned // feeds c1, n1b, t, and the final join
      val c1 = c12.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1a"))
      val n1b = c12.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val t = c12.agg(count(lit(1)).as("t"))
      c12.join(broadcast(c1), "w1")
        .join(broadcast(n1b), "w2")
        .crossJoin(broadcast(t))
        .select(col("w1"), col("w2"), col("c12"),
          expr("""CAST((GREATEST(4 * c12 - 3, 0L) * t + 3 * n1a * n1b)
                  * 1000000 div (4 * c1 * t) AS BIGINT)""").as("p_ppm"))
        .orderBy(col("p_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // N-GRAM NOVELTY — per held-out document, what fraction of its
    // bigrams never occur in the training split? The memorization /
    // train-val-overlap metric that complements decontamination
    // (which asks "is the benchmark in the corpus"; this asks "how
    // derivative is each document"). The train vocabulary collapses
    // to DISTINCT bigrams before the membership probe, and the probe
    // is a left-anti equi-join keyed on the bigram — at 100 TB the
    // vocabulary shards across the cluster and the join stays
    // key-partitioned (no broadcast assumption). Exact integer
    // counts + truncating ppm; per-doc rows for the 10% held-out.
    "text_ngram_novelty" -> QueryDef(
      """WITH tok AS (
        |  SELECT doc_id, CAST(u.p[1] AS BIGINT) AS pos, u.p[2] AS term
        |  FROM (SELECT doc_id,
        |          list_zip(range(1, len(regexp_split_to_array(lower(text),
        |            '[^a-z]+'))+1),
        |            regexp_split_to_array(lower(text), '[^a-z]+')) AS z
        |        FROM documents), unnest(z) AS u(p)
        |  WHERE length(u.p[2]) >= 2),
        |bg AS (SELECT doc_id, concat(term, ' ',
        |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos)) AS b
        |       FROM tok QUALIFY
        |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
        |train AS (SELECT DISTINCT b FROM bg WHERE doc_id % 10 <> 0),
        |val AS (SELECT doc_id, b FROM bg WHERE doc_id % 10 = 0)
        |SELECT val.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(COUNT(CASE WHEN train.b IS NULL THEN 1 END) AS BIGINT) AS n_novel,
        |  CAST(COUNT(CASE WHEN train.b IS NULL THEN 1 END) * 1000000
        |       // COUNT(*) AS BIGINT) AS novelty_ppm
        |FROM val LEFT JOIN train ON val.b = train.b
        |GROUP BY val.doc_id ORDER BY val.doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wNext = Window.partitionBy("doc_id").orderBy("pos")
      val bg = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("p", "term")))
        .where(length(col("term")) >= 2)
        .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"), col("term"))
        .withColumn("nxt", lead("term", 1).over(wNext))
        .where(col("nxt").isNotNull)
        .select(col("doc_id"), concat(col("term"), lit(" "), col("nxt")).as("b"))
        .pinned // train vocab and the val probe both read it
      val train = bg.where(col("doc_id") % 10 =!= 0).select("b").distinct()
      val valSide = bg.where(col("doc_id") % 10 === 0)
      valSide.join(train.withColumnRenamed("b", "tb"),
          col("b") === col("tb"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          count(when(col("tb").isNull, 1)).as("n_novel"))
        .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
          expr("n_novel * 1000000 div n_bigrams").as("novelty_ppm"))
        .orderBy("doc_id")
    },

    // JENSEN-SHANNON DIVERGENCE — how far the held-out split's
    // unigram distribution drifted from the training split's: the
    // symmetric, bounded ([0, ln 2]) divergence used for corpus-drift
    // and mixture-rebalancing monitors (text_ngram_novelty measures
    // UNSEEN mass; JS measures reweighted SEEN mass). Each
    // term-level contribution p*ln(p/m) rounds its ln to the 1e-6
    // grid once (probabilities are exact count ratios, folded in as
    // integer counts: c_p * ln-term summed BEFORE the n_p division),
    // so the two KL halves are order-independent exact sums. One
    // term-keyed full-outer join of the two count vectors.
    "text_js_divergence" -> QueryDef(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
        |    AS term
        |  FROM documents),
        |t AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cp FROM tok
        |      WHERE length(term) >= 2 AND doc_id % 10 <> 0 GROUP BY 1),
        |v AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cq FROM tok
        |      WHERE length(term) >= 2 AND doc_id % 10 = 0 GROUP BY 1),
        |j AS (SELECT COALESCE(t.term, v.term) AS term,
        |        COALESCE(cp, 0) AS cp, COALESCE(cq, 0) AS cq
        |      FROM t FULL OUTER JOIN v ON t.term = v.term),
        |n AS (SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq
        |      FROM j),
        |terms AS (
        |  SELECT
        |    CASE WHEN cp > 0 THEN cp * CAST(round(ln(
        |      (CAST(cp AS DOUBLE) / np) /
        |      (0.5 * (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq)))
        |      * 1000000) AS BIGINT) ELSE 0 END AS kp,
        |    CASE WHEN cq > 0 THEN cq * CAST(round(ln(
        |      (CAST(cq AS DOUBLE) / nq) /
        |      (0.5 * (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq)))
        |      * 1000000) AS BIGINT) ELSE 0 END AS kq
        |  FROM j, n)
        |SELECT (SELECT np FROM n) AS n_train, (SELECT nq FROM n) AS n_val,
        |  CAST(SUM(kp) // (SELECT np FROM n) AS BIGINT) AS kl_p_micro,
        |  CAST(SUM(kq) // (SELECT nq FROM n) AS BIGINT) AS kl_q_micro,
        |  CAST((SUM(kp) // (SELECT np FROM n)
        |        + SUM(kq) // (SELECT nq FROM n)) // 2 AS BIGINT) AS js_micro
        |FROM terms""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .where(length(col("term")) >= 2)
      val t = tok.where(col("doc_id") % 10 =!= 0)
        .groupBy("term").agg(count(lit(1)).as("cp"))
      val v = tok.where(col("doc_id") % 10 === 0)
        .groupBy("term").agg(count(lit(1)).as("cq"))
      val j = t.join(v, Seq("term"), "full_outer")
        .select(coalesce(col("cp"), lit(0L)).as("cp"),
          coalesce(col("cq"), lit(0L)).as("cq"))
        .pinned // totals + term contributions
      val n = j.agg(sum("cp").as("np"), sum("cq").as("nq"))
      j.crossJoin(broadcast(n))
        .select(
          expr("""CASE WHEN cp > 0 THEN cp * CAST(round(ln(
                  (CAST(cp AS DOUBLE) / np) /
                  (0.5 * (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq)))
                  * 1000000) AS BIGINT) ELSE 0 END""").as("kp"),
          expr("""CASE WHEN cq > 0 THEN cq * CAST(round(ln(
                  (CAST(cq AS DOUBLE) / nq) /
                  (0.5 * (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq)))
                  * 1000000) AS BIGINT) ELSE 0 END""").as("kq"),
          col("np"), col("nq"))
        .groupBy("np", "nq")
        .agg(sum("kp").as("skp"), sum("kq").as("skq"))
        .select(col("np").as("n_train"), col("nq").as("n_val"),
          expr("CAST(skp div np AS BIGINT)").as("kl_p_micro"),
          expr("CAST(skq div nq AS BIGINT)").as("kl_q_micro"),
          expr("CAST((skp div np + skq div nq) div 2 AS BIGINT)").as("js_micro"))
    }
  )
}
