package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Layout, Multimodal, Relevance, Similarity,
  TextAnalysis}
import graft.streaming.StreamingOps

/** Training-data extension queries (SURVEY §7.4): text analysis,
  * dedup family, similarity search, multimodal plumbing, streaming.
  * SQL-expressible ops carry a DuckDB oracle; the hash-family ops
  * (MinHash/SimHash/IVF) are engine-specific and get the driver's
  * rows-only check.
  */
object ExtQueries {
  import Q._

  // SQL twin of Ops.sumMoney over the events `value` column (exact
  // decimal sum → rounded DOUBLE, the hash-proven emission type).
  private val SqlSumValue = sqlSum("value")

  // Reusable oracle fragments for composed queries (SQL twins of the
  // TextAnalysis column expressions; see t1-t4 for the standalone uses)
  private val SqlTokens = "len(string_split_regex(text,'\\s+'))"
  private val SqlFp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
  private def sqlLangScore(markers: Seq[String]): String =
    s"len(list_filter(string_split_regex(text,'\\s+'), x -> list_contains([${
      markers.map(m => s"'$m'").mkString(",")}], x)))"
  private val SqlQuality = sqlRoundDet(
    s"""LEAST(CAST($SqlTokens AS DOUBLE)/50.0, 1.0)*0.4
        + GREATEST(1.0 - (CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
                          / CAST(GREATEST(length(text),1) AS DOUBLE))*10.0, 0.0)*0.3
        + LEAST((CAST(${sqlLangScore(graft.ext.TextAnalysis.EnglishStopwords)} AS DOUBLE)
                 / GREATEST(CAST($SqlTokens AS DOUBLE),1.0))*5.0, 1.0)*0.3""", 4)
  private val SqlLangPred = {
    val scores = graft.ext.TextAnalysis.LangMarkers
      .map { case (lang, markers) => lang -> sqlLangScore(markers) }
    val greatest = s"GREATEST(${scores.map(_._2).mkString(",")})"
    val cases = scores.init.map { case (lang, s) =>
      s"WHEN $s = $greatest THEN '$lang'" }.mkString(" ")
    s"CASE WHEN $greatest = 0 THEN 'und' $cases ELSE '${scores.last._1}' END"
  }

  // -- relevance / curation oracle fragments (t6-t10, e3-e4) ------------
  // BM25 configuration shared between the Spark query and its oracle.
  // Terms chosen for spread in document frequency on the fixture
  // vocabulary; constants interpolated into the SQL via Scala Double
  // toString (shortest round-trip repr), so both engines compute with
  // bit-identical doubles.
  private val Bm25Terms = Seq("spark", "customer", "vector")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** SQL twin of Relevance.bm25TopDocs' per-term score: same tree
    * shape, same left-to-right evaluation (see its scaladoc). */
  private def sqlBm25Term(i: Int): String =
    s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
                 / (CAST(df_$i AS DOUBLE) + 0.5))
        * (CAST(tf_$i AS DOUBLE) * ${Bm25K1 + 1.0})
        / (CAST(tf_$i AS DOUBLE)
           + $Bm25K1 * (1.0 - $Bm25B + $Bm25B
             * (CAST(dl AS DOUBLE)
                / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"""

  // k-family (stored keyword index) query bag: distinct from t7's so
  // the two families' bench rows don't share plans; "shuffle" has
  // df = 0 on the fixture vocabulary, exercising the absent-term
  // (idf of an unseen term, all-zero tf) paths in BOTH engines.
  private val KwTerms = Seq("data", "query", "shuffle")

  /** The t7/k-family BM25 CTE chain (base → stats → scored),
    * parameterized on the LIVE corpus predicate — shared by the
    * ranked top-N oracle ([[sqlKwBm25]]) and the threshold oracle
    * (k12), so both serve shapes score through literally the same
    * SQL tree. */
  private def sqlKwBm25Ctes(livePred: String,
                            terms: Seq[String]): String =
    s"""base AS (SELECT doc_id,
                      len(string_split_regex(text, '\\s+')) AS dl,
                      ${terms.zipWithIndex.map { case (tm, i) =>
                        s"""len(list_filter(string_split_regex(text, '\\s+'),
                            x -> x = '$tm')) AS tf_$i""" }.mkString(",\n")}
                    FROM documents WHERE $livePred),
               stats AS (SELECT COUNT(*) AS n_docs,
                      CAST(SUM(dl) AS BIGINT) AS sum_dl,
                      ${terms.indices.map(i =>
                        s"""CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS df_$i""").mkString(",\n")}
                    FROM base),
               scored AS (SELECT doc_id,
                   ${sqlRoundDet(
                     terms.indices.map(sqlBm25Term).mkString(" + "), 4)}
                     AS score,
                   ${terms.indices.map(i => s"tf_$i").mkString(", ")}
                 FROM base CROSS JOIN stats)"""

  /** The incremental MinHash gate's oracle, shared verbatim by d11
    * (in-query), d15/d15v (stored-index probes — pinned ≡ the gate
    * by the d15 consistency twins, so one SQL serves all), and the
    * d15f small probes: batch-side LSH buckets joined to corpus-side
    * buckets on (band, bhash) (each side under its own 1024 cap,
    * singletons kept), candidate (batch_id, corpus_id) pairs, exact
    * shingle-Jaccard thresholded on the 4dp-rounded value. One
    * [[XxhSql]] cascade over the UNION of the two sides; the
    * predicates are given per column name so the same text filters
    * `documents.doc_id` and `banded.id`. */
  private def sqlMinhashIncrOracle(batchPred: String => String,
                                   corpusPred: String => String,
                                   threshold: Double): String = {
    val unionPred =
      s"(${batchPred("doc_id")}) OR (${corpusPred("doc_id")})"
    s"""WITH ${XxhSql.minhashBandedCtes(unionPred)},
        bb AS (SELECT band, bhash, id FROM banded
               WHERE ${batchPred("id")}),
        cc AS (SELECT band, bhash, id FROM banded
               WHERE ${corpusPred("id")}),
        bbsz AS (SELECT band, bhash, COUNT(*) AS c FROM bb
                 GROUP BY band, bhash),
        ccsz AS (SELECT band, bhash, COUNT(*) AS c FROM cc
                 GROUP BY band, bhash),
        cand AS (SELECT DISTINCT bb.id AS batch_id, cc.id AS corpus_id
                 FROM bb JOIN cc ON bb.band = cc.band
                   AND bb.bhash = cc.bhash
                 JOIN bbsz ON bbsz.band = bb.band
                   AND bbsz.bhash = bb.bhash AND bbsz.c <= 1024
                 JOIN ccsz ON ccsz.band = cc.band
                   AND ccsz.bhash = cc.bhash AND ccsz.c <= 1024),
        ${XxhSql.shingleListCtes("shs", unionPred)},
        scored AS (SELECT batch_id, corpus_id,
            ${XxhSql.sqlJaccard4dp} AS jaccard
          FROM cand
          JOIN shs a ON a.id = batch_id
          JOIN shs b ON b.id = corpus_id)
        SELECT batch_id, corpus_id, jaccard FROM scored
        WHERE jaccard >= $threshold ORDER BY batch_id, corpus_id"""
  }

  // the d11/d15/d15v split and the d15f small-batch slice, as the
  // rows register them
  private def SqlD11Oracle: String = sqlMinhashIncrOracle(
    c => s"$c >= 300", c => s"$c < 300", 0.4)
  private def SqlD15fOracle: String = sqlMinhashIncrOracle(
    c => s"$c >= 300 AND $c < 310", c => s"$c < 300", 0.4)

  /** The BPE trainer's full iterative state as a DuckDB RECURSIVE
    * chain — `bst(round, word, n, syms)` for rounds 0..`numMerges`,
    * over the documents word-frequency table (the same whitespace
    * tokenize + length>0 filter as [[graft.ext.Bpe.wordCounts]]).
    * Each recursion step computes the argmax pair of the CURRENT
    * state as one scalar `min(struct(-count, left, right))` (the
    * trainer's exact (count desc, left, right) tie-break — struct
    * compare is lexicographic) and applies the merge to every word's
    * symbol list with leftmost-first overlap semantics: within a
    * consecutive run of match positions, exactly the even-offset
    * ones merge (the run-parity rule — equivalent to the Spark
    * side's sequential left-to-right fold on overlaps like "aaa").
    * Shared by the b2 (train) and b3 (encode) oracles. */
  private def sqlBpeStateCtes(numMerges: Int): String = {
    def matches(bl: String, br: String) =
      s"""list_filter(range(1, len(syms)),
          i -> syms[i] = $bl AND syms[i+1] = $br)"""
    def starts(bl: String, br: String) =
      s"""list_filter(${matches(bl, br)},
          p -> NOT list_contains(${matches(bl, br)}, p - 1))"""
    def kept(bl: String, br: String) =
      s"""list_filter(${matches(bl, br)}, p -> CAST((p - list_max(
          list_filter(${starts(bl, br)}, q -> q <= p))) AS BIGINT)
          % 2 = 0)"""
    def applyMerge(bl: String, br: String) =
      s"""list_filter(list_transform(range(1, len(syms) + 1),
          j -> CASE WHEN list_contains(${kept(bl, br)}, j)
                      THEN $bl || $br
                    WHEN list_contains(${kept(bl, br)}, j - 1)
                      THEN CAST(NULL AS VARCHAR)
                    ELSE syms[j] END), x -> x IS NOT NULL)"""
    val best =
      """(SELECT min(struct_pack(nc := -pair_count, l := lft, r := rgt))
          FROM (SELECT syms[u.i] AS lft, syms[u.i+1] AS rgt,
                       SUM(n) AS pair_count
                FROM bst, unnest(range(1, len(syms))) AS u(i)
                GROUP BY 1, 2))"""
    s"""bwc AS (SELECT word, COUNT(*) AS n FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents)
          WHERE length(word) > 0 GROUP BY word),
        bw0 AS (SELECT word, n, list_append(list_transform(
            range(1, length(word) + 1), i -> word[i:i]), '</w>')
            AS syms
          FROM bwc),
        bst AS (
          SELECT 0 AS round, word, n, syms FROM bw0
          UNION ALL
          SELECT round + 1, word, n,
            (SELECT ${applyMerge("b.pick.l", "b.pick.r")})
          FROM bst, (SELECT $best AS pick) b
          WHERE round < $numMerges
        )"""
  }

  /** One qid's CANDIDATES-ONLY BM25 page (docs holding ≥ 1 query
    * term — the production no-zero-fill posture probeMany serves):
    * the same CTE chain, ranked after the tf filter, tagged with the
    * qid literal so the k13 multi-query oracle is a UNION ALL of
    * these. `allowedPred` (default none) restricts the RANKED set —
    * the k17 batched-filtered pages' global-statistics semantics
    * (scores over all live docs, rank within allowed ∩ candidates,
    * k11g's shape per qid). */
  private def sqlKwBm25CandPage(qid: Long, terms: Seq[String],
                                topN: Int,
                                allowedPred: String = "TRUE"): String =
    s"""SELECT $qid AS qid, rank, doc_id, score FROM (
          WITH ${sqlKwBm25Ctes("TRUE", terms)},
               ranked AS (SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
                 FROM scored
                 WHERE ($allowedPred)
                   AND (${terms.indices.map(i => s"tf_$i > 0")
                     .mkString(" OR ")}))
          SELECT rank, doc_id, score FROM ranked
          WHERE rank <= $topN)"""

  /** One qid's SCOPED candidates-only page: the CTE chain reduced
    * over `livePred`'s corpus (the subset IS the scoring corpus —
    * k11/k15's statistics semantics), ranked after the tf filter,
    * qid-tagged — the k20 batched-tenant oracle is a UNION ALL of
    * these, each equal to probeTopKTenant's no-zero-fill page. */
  private def sqlKwBm25ScopedCandPage(qid: Long, terms: Seq[String],
                                      topN: Int,
                                      livePred: String): String =
    s"""SELECT $qid AS qid, rank, doc_id, score FROM (
          WITH ${sqlKwBm25Ctes(livePred, terms)},
               ranked AS (SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
                 FROM scored
                 WHERE (${terms.indices.map(i => s"tf_$i > 0")
                   .mkString(" OR ")}))
          SELECT rank, doc_id, score FROM ranked
          WHERE rank <= $topN)"""

  /** One qid's THRESHOLD page (every live doc clearing the bar,
    * k12's shape) tagged with the qid literal — the k18 batched
    * range oracle is a UNION ALL of these. */
  private def sqlKwRangePage(qid: Long, terms: Seq[String],
                             bar: Double): String =
    s"""SELECT $qid AS qid, doc_id, score FROM (
          WITH ${sqlKwBm25Ctes("TRUE", terms)}
          SELECT doc_id, score FROM scored WHERE score >= $bar)"""

  /** One qid's SCOPED threshold page: k23's oracle shape (the CTE
    * chain reduced over `livePred`'s corpus, threshold-filtered, no
    * rank anywhere), qid-tagged — the k25 batched-tenant range
    * oracle is a UNION ALL of these, each equal to
    * probeRangeTenant's page. */
  private def sqlKwScopedRangePage(qid: Long, terms: Seq[String],
                                   bar: Double,
                                   livePred: String): String =
    s"""SELECT $qid AS qid, doc_id, score FROM (
          WITH ${sqlKwBm25Ctes(livePred, terms)}
          SELECT doc_id, score FROM scored WHERE score >= $bar)"""

  // k13's query batch: KwTerms (shared with k1 — the two rows must
  // agree on qid 0's candidates), t7's Bm25Terms (different df
  // spread), and a two-term query with one absent term ("index" has
  // df = 0 on every fixture) exercising the held-terms-only fold.
  private val KwMulti: Seq[(Long, Seq[String])] = Seq(
    0L -> KwTerms,
    1L -> Bm25Terms,
    2L -> Seq("stream", "index"))

  /** The full t7 BM25 oracle, parameterized on the LIVE corpus
    * predicate — the k-family's whole index lifecycle (append,
    * retract, compact, shard merge) serves bit-exact BM25 over its
    * live set, so every lifecycle row shares this one SQL shape with
    * only `livePred` changing. Same CTE chain, same score tree
    * ([[sqlBm25Term]]), same rounding as t7. */
  private def sqlKwBm25(livePred: String, terms: Seq[String],
                        topN: Int): String =
    s"""WITH ${sqlKwBm25Ctes(livePred, terms)},
               ranked AS (SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
                 FROM scored)
               SELECT rank, doc_id, score FROM ranked
               WHERE rank <= $topN ORDER BY rank"""

  /** Oracle-side twin of [[Curation.weightedMix]]'s per-class bound:
    * floor(rate·65536) as 4 lowercase hex digits, the fixed width at
    * which lexicographic string compare equals integer compare. A
    * rate of 1.0 would format as 5 digits ("10000"), which sorts
    * BEFORE "ffff" and would keep ~nothing — so a full-keep bound
    * becomes "g", which sorts after every hex string (the
    * [[graft.ext.Curation.splitAssign]] boundary rule). */
  private def hex4(rate: Double): String = {
    val v = math.floor(rate * 65536.0).toLong
    if (v >= 65536L) "g" else f"$v%04x"
  }

  // DuckDB list literal of TextAnalysis.EnglishStopwords
  private val SqlStopList =
    TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(",")

  // -- shared shingle-pair oracle chain (d4/d6/e2) ----------------------
  // Single source of truth for the 3-gram-Jaccard SQL twin of
  // Dedup.ngramJaccardPairs: `src` rows → distinct 3-gram shingles →
  // per-doc shingle counts → per-pair intersection counts. Tuning the
  // shingle width or join keys happens here, once, for all three
  // oracles that embed the chain.
  private def sqlShinglePairCtes(src: String): String =
    s"""toks AS (
          SELECT doc_id, lang, string_split_regex(text, '\\s+') AS tk
          FROM $src),
        sh AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(list_transform(
                   range(0, GREATEST(len(tk)-3, 0)+1),
                   i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS shingle
          FROM toks),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b
            ON a.lang = b.lang AND a.shingle = b.shingle
           AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)"""

  // Jaccard over the `inter`/`sizes` aliases of sqlShinglePairCtes
  private val SqlJaccard =
    "CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)"

  // -- shared similarity oracle chains (x1/x2/x2_recall) ----------------
  // Cosine in DuckDB list ops: list_dot_product accumulates
  // left-to-right like the Spark-side fold — bit-identical (playbook).
  private def sqlCosRaw(x: String, y: String): String =
    s"""list_dot_product($x, $y)
        / (sqrt(list_dot_product($x, $x)) * sqrt(list_dot_product($y, $y)))"""

  // Brute-force exact top-k chain (x1). Unique aliases (b*) so this
  // chain and the IVF chain compose in ONE WITH for x2_recall.
  private val SqlBruteCtes =
    s"""bq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 20),
        bc AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nvec
               FROM embeddings),
        bp AS (SELECT qid, nid,
                 ${sqlRoundDet(sqlCosRaw("qvec", "nvec"), 4)} AS cosine
               FROM bq, bc WHERE qid <> nid),
        br AS (SELECT qid, nid, cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, nid) AS rank
               FROM bp)"""

  // IVF chain (x2): stride centroids (vec_id % 20 = 0), cosine argmax
  // assignment (ties to lower cid), nprobe=12 probed buckets — the
  // whole pipeline deterministic, so plain SQL reproduces it. nprobe
  // 12 is the measured knee of the recall curve on this corpus
  // (stride recall 0.75-0.79 vs 0.43 at nprobe=4; see x2_recall and
  // ExtSpec's k-means assertion for the ≥0.8 refined path).
  // ist mirrors Similarity.centroids' maxCentroids cap: the effective
  // stride widens to ceil((max_id+1)/4096) once the corpus outgrows
  // 4096 stride-20 samples — below the cap (every shipped fixture)
  // st = 20 and the CTE is byte-identical to the uncapped form.
  // (Standalone val: x9_ann_index_build's inventory oracle needs just
  // the capped sample COUNT without the rest of the IVF chain.)
  // The IVF/PQ oracle CTEs are parameterized on the CENTROID/CODEBOOK
  // sample source (`centPred`, a predicate over embeddings): "TRUE"
  // replays build-from-the-whole-corpus (x2/x7/x8/x9); x10 passes
  // "vec_id % 2 = 0" to replay an index whose assets were trained on
  // the even half and then had the odd half APPENDED — the corpus
  // side (iv/pn/penc/iasg) always spans all of embeddings.
  // the lower-id half of embeddings — x10's asset-training slice
  // ((max+1)/2 with floor division, matching the Spark side's
  // (max(vec_id)+1)/2 toLong)
  private val SqlLowerHalfPred =
    "vec_id < (SELECT (MAX(vec_id) + 1) // 2 FROM embeddings)"

  private def sqlIvfStrideCteFor(centPred: String) =
    s"""ist AS (SELECT GREATEST(20, CAST(CEIL((MAX(vec_id) + 1.0) / 4096)
                                        AS BIGINT)) AS st
                FROM embeddings WHERE $centPred)"""

  private val SqlIvfStrideCte = sqlIvfStrideCteFor("TRUE")

  private def sqlIvfCtesFor(centPred: String) =
    s"""${sqlIvfStrideCteFor(centPred)},
        ic AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings, ist
               WHERE ($centPred) AND vec_id % ist.st = 0),
        iv AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nvec
               FROM embeddings),
        iasg AS (SELECT nid, nvec, cid FROM (
            SELECT iv.nid, iv.nvec, ic.cid,
              ROW_NUMBER() OVER (PARTITION BY iv.nid ORDER BY
                ${sqlCosRaw("iv.nvec", "ic.cvec")} DESC, ic.cid) AS rk
            FROM iv, ic) WHERE rk = 1),
        iq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 20),
        ipr AS (SELECT qid, qvec, cid FROM (
            SELECT iq.qid, iq.qvec, ic.cid,
              ROW_NUMBER() OVER (PARTITION BY iq.qid ORDER BY
                ${sqlCosRaw("iq.qvec", "ic.cvec")} DESC, ic.cid) AS rk
            FROM iq, ic) WHERE rk <= 12),
        ipairs AS (SELECT ipr.qid, iasg.nid,
            ${sqlRoundDet(sqlCosRaw("ipr.qvec", "iasg.nvec"), 4)} AS cosine
          FROM ipr JOIN iasg
            ON ipr.cid = iasg.cid AND ipr.qid <> iasg.nid),
        ir AS (SELECT qid, nid, cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, nid) AS rank
               FROM ipairs)"""

  private val SqlIvfCtes = sqlIvfCtesFor("TRUE")

  // Product-quantization chain (x7): L2-normalize, stride codebook
  // per 16-dim subspace (cid = rank of the sampled vec_id — dense for
  // ANY id distribution, mirroring pqCodebook's positional rank), encode by
  // per-subspace argmax cosine (ties to lower cid — ArgMaxCosine's
  // comparator), LUT dots rounded 6dp, score = the EXPLICIT
  // subspace-ordered 4-term sum rounded 4dp (an unordered SUM could
  // re-associate the FP adds), rank ties to lower nid. Every step
  // deterministic → plain SQL replays the whole pipeline.
  // list_dot_product and DuckDB list slicing are bit-compatible with
  // the Spark-side index-ordered fold and `slice` (1-based, same
  // elements), so hash-exact comparison holds end to end.
  private def sqlPqCtesFor(centPred: String) =
    s"""pv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
        pn AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                   AS vn
               FROM pv),
        pmsub AS (SELECT UNNEST([0, 1, 2, 3]) AS m),
        pcs AS (SELECT vec_id, vn, rn - 1 AS cid FROM (
                  SELECT vec_id, vn,
                    ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                  FROM pn WHERE ($centPred) AND vec_id % 20 = 0)
                WHERE rn <= 256),
        pcb AS (SELECT m, cid, vn[m * 16 + 1 : m * 16 + 16] AS cvec
                FROM pcs, pmsub),
        psub AS (SELECT vec_id AS nid, m,
                   vn[m * 16 + 1 : m * 16 + 16] AS sv
                 FROM pn, pmsub),
        penc AS (SELECT nid, m, cid FROM (
            SELECT psub.nid, psub.m, pcb.cid,
              ROW_NUMBER() OVER (PARTITION BY psub.nid, psub.m ORDER BY
                ${sqlCosRaw("psub.sv", "pcb.cvec")} DESC, pcb.cid) AS rk
            FROM psub JOIN pcb ON psub.m = pcb.m) WHERE rk = 1),
        pq AS (SELECT vec_id AS qid, vn AS qvn FROM pn
               WHERE vec_id < 20),
        plut AS (SELECT qid, pcb.m, pcb.cid,
                   ${sqlRoundDet(
                     "list_dot_product(qvn[pcb.m * 16 + 1 : pcb.m * 16 + 16]," +
                       " pcb.cvec)", 6)} AS v
                 FROM pq, pcb),
        pterm AS (SELECT l.qid, e.nid, e.m, l.v
                  FROM penc e JOIN plut l ON e.m = l.m AND e.cid = l.cid
                  WHERE l.qid <> e.nid),
        pscore AS (SELECT qid, nid,
                     ${sqlRoundDet(
                       "MAX(CASE WHEN m = 0 THEN v END)" +
                         " + MAX(CASE WHEN m = 1 THEN v END)" +
                         " + MAX(CASE WHEN m = 2 THEN v END)" +
                         " + MAX(CASE WHEN m = 3 THEN v END)", 4)} AS score
                   FROM pterm GROUP BY qid, nid),
        pr AS (SELECT qid, nid, score,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score DESC, nid) AS rank
               FROM pscore)"""

  private val SqlPqCtes = sqlPqCtesFor("TRUE")

  // IVF×PQ composition (shared by x8_ivfpq_topk, x8_recall and the
  // stored-index x9_ann_index_probe — the stored path serves the
  // SAME neighbors, so it replays the same SQL): candidates from the
  // IVF probe join, ADC terms from the per-(m, cid) LUT, explicit
  // subspace-ordered 4-term sum, rank ties to lower nid. Requires
  // $SqlIvfCtes and $SqlPqCtes upstream.
  /** The IVFADC candidate/score/rank chain, with an optional
    * corpus-side predicate on iasg.nid — "TRUE" is the unfiltered
    * x8 chain; x11 passes the allowed-subset predicate (pre-filter
    * semantics: candidates are restricted BEFORE scoring/ranking,
    * mirroring AnnIndex.probeTopKFiltered). */
  private def sqlIvfPqRankCtesWhere(nidPred: String) =
    s"""x8cand AS (SELECT ipr.qid, iasg.nid
                   FROM ipr JOIN iasg ON ipr.cid = iasg.cid
                     AND ipr.qid <> iasg.nid
                   WHERE ($nidPred)),
        x8term AS (SELECT c.qid, c.nid, e.m, l.v
                   FROM x8cand c
                   JOIN penc e ON e.nid = c.nid
                   JOIN plut l ON l.qid = c.qid AND l.m = e.m
                     AND l.cid = e.cid),
        x8score AS (SELECT qid, nid,
                      ${sqlRoundDet(
                        "MAX(CASE WHEN m = 0 THEN v END)" +
                          " + MAX(CASE WHEN m = 1 THEN v END)" +
                          " + MAX(CASE WHEN m = 2 THEN v END)" +
                          " + MAX(CASE WHEN m = 3 THEN v END)", 4)}
                        AS score
                    FROM x8term GROUP BY qid, nid),
        x8r AS (SELECT qid, nid, score,
                  ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY score DESC, nid) AS rank
                FROM x8score)"""

  private val SqlIvfPqRankCtes = sqlIvfPqRankCtesWhere("TRUE")

  // pairs → undirected edges → reachability components (comp = min
  // reachable id, the SQL twin of Dedup.connectedComponents' min-label
  // propagation). Requires WITH RECURSIVE; follows sqlShinglePairCtes.
  /** Generic recursive-reachability components over an upstream CTE
    * named `pairs(id_a, id_b)`: comp = min reachable id. Shared by
    * the shingle-pair chain (d6/d8) and the embedding chain (d13). */
  private val SqlComponentsFromPairs: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        verts AS (SELECT DISTINCT src AS id FROM edges),
        reach(src, dst) AS (
          SELECT id, id FROM verts
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src)"""

  private def sqlComponentCtes(threshold: Double): String =
    s"""pairs AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE $SqlJaccard >= $threshold),
        $SqlComponentsFromPairs"""

  val all: Seq[Q] = Seq(

    // Composed corpus-cleaning pipeline: score → quality/length gate →
    // exact dedup, one declarative plan (ext/CorpusPipeline). The
    // oracle composes the same fragments the standalone text queries
    // pin individually.
    Q("e1_corpus_clean",
      (s, dir) => graft.ext.CorpusPipeline.clean(t(s, dir, "documents")),
      Some(s"""WITH scored AS (
                 SELECT doc_id, text, $SqlQuality AS quality,
                        $SqlLangPred AS lang_pred, $SqlTokens AS n_tokens
                 FROM documents),
               g AS (SELECT * FROM scored
                     WHERE quality >= 0.5 AND n_tokens >= 20),
               d AS (SELECT doc_id, quality, lang_pred, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY $SqlFp
                                          ORDER BY doc_id) AS rn
                     FROM g)
               SELECT doc_id, quality, lang_pred, n_tokens
               FROM d WHERE rn = 1 ORDER BY doc_id""")),

    // The near-dup-aware corpus clean: score → gate → exact dedup →
    // jaccard pairs → connected components → one canonical doc per
    // group. The oracle composes the e1 fragments with the d6
    // recursive-reachability components over the same deduped set.
    Q("e2_corpus_neardup_clean",
      (s, dir) => graft.ext.CorpusPipeline.cleanNearDups(
        t(s, dir, "documents")),
      Some(s"""WITH RECURSIVE scored AS (
                 SELECT doc_id, text, lang, $SqlQuality AS quality,
                        $SqlTokens AS n_tokens
                 FROM documents),
               g AS (SELECT * FROM scored
                     WHERE quality >= 0.5 AND n_tokens >= 20),
               ex AS (SELECT doc_id, text, lang, quality, n_tokens FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY $SqlFp
                                                     ORDER BY doc_id) AS rn
                        FROM g) WHERE rn = 1),
               ${sqlShinglePairCtes("ex")},
               ${sqlComponentCtes(0.4)}
               SELECT e.doc_id, e.quality, e.n_tokens
               FROM ex e LEFT JOIN comp c ON c.id = e.doc_id
               WHERE c.comp IS NULL OR c.comp = e.doc_id
               ORDER BY e.doc_id""")),

    // e2's quality-aware sibling: each near-dup group keeps its
    // HIGHEST-quality member (ties to lowest id) — of N mirror
    // copies, keep the best-scoring version, not the one with the
    // smallest crawl-time id. Same recursive-components oracle, the
    // survivor pick swapped for a quality-ranked window.
    Q("e15_neardup_best_survivor",
      (s, dir) => graft.ext.CorpusPipeline.cleanNearDupsBestQuality(
        t(s, dir, "documents")),
      Some(s"""WITH RECURSIVE scored AS (
                 SELECT doc_id, text, lang, $SqlQuality AS quality,
                        $SqlTokens AS n_tokens
                 FROM documents),
               g AS (SELECT * FROM scored
                     WHERE quality >= 0.5 AND n_tokens >= 20),
               ex AS (SELECT doc_id, text, lang, quality, n_tokens FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY $SqlFp
                                                     ORDER BY doc_id) AS rn
                        FROM g) WHERE rn = 1),
               ${sqlShinglePairCtes("ex")},
               ${sqlComponentCtes(0.4)},
               lab AS (SELECT e.doc_id, e.quality, e.n_tokens,
                              COALESCE(c.comp, e.doc_id) AS grp
                       FROM ex e LEFT JOIN comp c ON c.id = e.doc_id)
               SELECT doc_id, quality, n_tokens FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                   ORDER BY quality DESC, doc_id) AS rnk
                 FROM lab)
               WHERE rnk = 1 ORDER BY doc_id""")),

    // The composed curate step: clean → per-class quality cap →
    // deterministic train/holdout hash split. Classes come from
    // `source` (the crawl-domain analog), capped at 15 docs each.
    Q("e5_curated_mix",
      (s, dir) => graft.ext.CorpusPipeline.curate(
        t(s, dir, "documents"), classCol = "source", perClassCap = 15),
      Some(s"""WITH scored AS (
                 SELECT doc_id, text, source, $SqlQuality AS quality,
                        $SqlTokens AS n_tokens
                 FROM documents),
               g AS (SELECT * FROM scored
                     WHERE quality >= 0.5 AND n_tokens >= 20),
               dd AS (SELECT doc_id, source, quality FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY $SqlFp
                                                     ORDER BY doc_id) AS rn
                        FROM g) WHERE rn = 1),
               capped AS (SELECT source, doc_id, quality,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY quality DESC, doc_id) AS rank
                 FROM dd)
               SELECT source, rank, doc_id, quality,
                 CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                      THEN 'holdout' ELSE 'train' END AS split
               FROM capped WHERE rank <= 15 ORDER BY source, rank""")),

    // ---- text analysis ------------------------------------------------

    Q("t1_text_stats",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
          TextAnalysis.punctCount(col("text")).as("n_punct"),
          length(col("text")).as("n_chars_calc"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     len(string_split_regex(text, '\s+')) AS n_tokens,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish,
                     len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                     length(text) AS n_chars_calc
              FROM documents ORDER BY doc_id""")),

    Q("t2_text_quality",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                     ${sqlRoundDet("""LEAST(CAST(len(string_split_regex(text,'\s+')) AS DOUBLE)/50.0, 1.0)*0.4
                         + GREATEST(1.0 - (CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
                                           / CAST(GREATEST(length(text),1) AS DOUBLE))*10.0, 0.0)*0.3
                         + LEAST((CAST(len(list_filter(string_split_regex(text,'\s+'),
                                    x -> list_contains(
                                      ['the','a','an','and','or','of','to','in','is','it'],
                                      x))) AS DOUBLE)
                                  / GREATEST(CAST(len(string_split_regex(text,'\s+'))
                                             AS DOUBLE),1.0))*5.0, 1.0)*0.3""", 4)} AS quality
              FROM documents ORDER BY doc_id""")),

    // e17: per-domain quality percentile — t2's raw score is not
    // comparable ACROSS sources (a mediocre wiki page outscores a
    // good forum post), so curation thresholds ("keep the top 30%")
    // must rank within source. percent_rank over a source-keyed
    // window; ties share a rank on both engines, single-row groups
    // are rank 0, and the window never goes global.
    Q("e17_quality_normalize",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("quality"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .withColumn("q_pct",
            graft.ops.Ops.roundDet(percent_rank().over(w), 4))
          .orderBy("doc_id")
      },
      Some(s"""WITH q AS (SELECT doc_id, source, $SqlQuality AS quality
                          FROM documents)
               SELECT doc_id, source, quality,
                      ${sqlRoundDet(
                        """percent_rank() OVER (PARTITION BY source
                           ORDER BY quality)""", 4)} AS q_pct
               FROM q ORDER BY doc_id""")),

    Q("t3_text_langid",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some("""WITH sc AS (
                SELECT doc_id,
                  len(list_filter(string_split_regex(text,'\s+'),
                    x -> list_contains(['the','a','and','of','to','is'], x))) AS s_en,
                  len(list_filter(string_split_regex(text,'\s+'),
                    x -> list_contains(['der','die','das','und','ist','nicht'], x))) AS s_de,
                  len(list_filter(string_split_regex(text,'\s+'),
                    x -> list_contains(['el','la','los','que','es','y'], x))) AS s_es,
                  len(list_filter(string_split_regex(text,'\s+'),
                    x -> list_contains(['le','la','les','est','et','ne'], x))) AS s_fr,
                  len(list_filter(string_split_regex(text,'\s+'),
                    x -> list_contains(['de','shi','bu','le','wo','ni'], x))) AS s_zh
                FROM documents)
              SELECT doc_id,
                CASE WHEN GREATEST(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                     WHEN s_en = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                     WHEN s_de = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'de'
                     WHEN s_es = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                     WHEN s_fr = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                     ELSE 'zh' END AS lang_pred
              FROM sc ORDER BY doc_id""")),

    Q("t4_text_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents ORDER BY doc_id""")),

    // Corpus vocabulary: token-explode → count → deterministic top-k.
    // The tokenizer-training / vocab-audit staple; at 100 TB the
    // map-side partial aggregate absorbs hot tokens ("the") before
    // the shuffle, so skew stays bounded.
    Q("t5_vocab_topk",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100),
      Some("""SELECT token, COUNT(*) AS n
              FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token
                    FROM documents)
              GROUP BY token ORDER BY n DESC, token LIMIT 100""")),

    // ---- relevance scoring --------------------------------------------

    // TF-IDF top terms per document: tf and df from one (doc, term)
    // aggregation; df/N broadcast back; ranking on the ROUNDED score
    // (term tie-break) so both engines agree at ulp boundaries.
    Q("t6_tfidf_topterms",
      (s, dir) => Relevance.tfidfTopTerms(t(s, dir, "documents"), k = 3),
      Some(s"""WITH toks AS (SELECT doc_id,
                        unnest(string_split_regex(text, '\\s+')) AS term
                      FROM documents),
               tfq AS (SELECT doc_id, term, COUNT(*) AS tf
                       FROM toks GROUP BY doc_id, term),
               dfq AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY term),
               nq AS (SELECT COUNT(*) AS n_docs FROM documents),
               scored AS (SELECT doc_id, tfq.term AS term,
                   ${sqlRoundDet(
                     """CAST(tf AS DOUBLE)
                        * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))""",
                     4)} AS score
                 FROM tfq JOIN dfq ON tfq.term = dfq.term CROSS JOIN nq),
               ranked AS (SELECT doc_id, term, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, term) AS rank
                 FROM scored)
               SELECT doc_id, rank, term, score FROM ranked
               WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // Okapi BM25 top-20 for a fixed query-term bag: per-row HOF term
    // counts, one-row corpus stats broadcast back, fixed-order score
    // tree (see Relevance.bm25TopDocs for the determinism contract).
    Q("t7_bm25_rank",
      (s, dir) => Relevance.bm25TopDocs(t(s, dir, "documents"),
        Bm25Terms, topN = 20, k1 = Bm25K1, b = Bm25B),
      Some(s"""WITH base AS (SELECT doc_id,
                      len(string_split_regex(text, '\\s+')) AS dl,
                      ${Bm25Terms.zipWithIndex.map { case (tm, i) =>
                        s"""len(list_filter(string_split_regex(text, '\\s+'),
                            x -> x = '$tm')) AS tf_$i""" }.mkString(",\n")}
                    FROM documents),
               stats AS (SELECT COUNT(*) AS n_docs,
                      CAST(SUM(dl) AS BIGINT) AS sum_dl,
                      ${Bm25Terms.indices.map(i =>
                        s"""CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS df_$i""").mkString(",\n")}
                    FROM base),
               scored AS (SELECT doc_id,
                   ${sqlRoundDet(
                     Bm25Terms.indices.map(sqlBm25Term).mkString(" + "), 4)}
                     AS score
                 FROM base CROSS JOIN stats),
               ranked AS (SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
                 FROM scored)
               SELECT rank, doc_id, score FROM ranked
               WHERE rank <= 20 ORDER BY rank""")),

    // ---- curation / normalization -------------------------------------

    // Stopword scrub: lexical normalization before shingling/vocab.
    Q("t8_stopword_scrub",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.scrubStopwords(col("text"),
            TextAnalysis.EnglishStopwords).as("clean_text"),
          TextAnalysis.stopwordCount(col("text"),
            TextAnalysis.EnglishStopwords).cast("long").as("n_removed"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                 array_to_string(list_filter(
                   string_split_regex(text, '\\s+'),
                   x -> NOT list_contains([$SqlStopList], x)), ' ')
                   AS clean_text,
                 CAST(len(list_filter(string_split_regex(text, '\\s+'),
                   x -> list_contains([$SqlStopList], x))) AS BIGINT)
                   AS n_removed
               FROM documents ORDER BY doc_id""")),

    // Token-budget histogram: fixed-width bins over the whitespace
    // token count — the distribution profile that sizes a mix.
    Q("t9_token_histogram",
      (s, dir) => Curation.histogram(t(s, dir, "documents"),
        TextAnalysis.tokenCount(col("text")), width = 10),
      Some("""SELECT bin, COUNT(*) AS n FROM (
                SELECT CAST(dl - (dl % 10) AS BIGINT) AS bin FROM (
                  SELECT len(string_split_regex(text, '\s+')) AS dl
                  FROM documents))
              GROUP BY bin ORDER BY bin""")),

    // PII redaction pass over the corpus. The synthetic fixture
    // carries no PII, so this row checks cross-engine pass-through
    // parity of the regex chain (zero hits, text unchanged); the
    // positive-match contract (planted emails/URLs/IPs/phones) is
    // spec-verified in ExtSpec over an inline frame.
    Q("t10_redact",
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.redactPii(col("text")).as("clean_text"),
          TextAnalysis.PiiPatterns.map { case (_, p, _) =>
            TextAnalysis.piiCount(col("text"), p)
          }.reduceLeft(_ + _).as("pii_hits"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                 ${TextAnalysis.PiiPatterns.foldLeft("text") {
                   case (acc, (_, p, r)) =>
                     s"regexp_replace($acc, '$p', '$r', 'g')"
                 }} AS clean_text,
                 CAST(${TextAnalysis.PiiPatterns.map { case (_, p, _) =>
                   s"len(regexp_extract_all(text, '$p'))"
                 }.mkString(" + ")} AS BIGINT) AS pii_hits
               FROM documents ORDER BY doc_id""")),

    // Intra-document repetition: duplicated fraction of word 1-grams
    // and 3-grams — the boilerplate/looping-text quality gate.
    Q("t11_repetition",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__tk"))
        .select(col("doc_id"),
          TextAnalysis.repetitionScoreOfTokens(col("__tk"), 1)
            .as("rep_token"),
          TextAnalysis.repetitionScoreOfTokens(col("__tk"), 3)
            .as("rep_3gram"))
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id,
                      string_split_regex(text, '\\s+') AS t
                    FROM documents),
               ng AS (SELECT doc_id, t AS g1,
                   CASE WHEN len(t) < 3 THEN []
                        ELSE list_transform(range(0, len(t) - 2),
                          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                   END AS g3
                 FROM tk)
               SELECT doc_id,
                 ${sqlRoundDet(
                   """CASE WHEN len(g1) = 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_distinct(g1)) AS DOUBLE)
                                 / CAST(len(g1) AS DOUBLE) END""", 4)}
                   AS rep_token,
                 ${sqlRoundDet(
                   """CASE WHEN len(g3) = 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                                 / CAST(len(g3) AS DOUBLE) END""", 4)}
                   AS rep_3gram
               FROM ng ORDER BY doc_id""")),

    // Vocabulary coverage at a 50-term budget: the OOV rate that
    // decides whether a tokenizer's vocab fits the corpus. The top-50
    // cut is a total order (count desc, token asc — the t5 pattern),
    // so both engines agree on the boundary; the vocab broadcasts
    // back onto the token stream (see Relevance.vocabCoverage).
    Q("t12_oov_rate",
      (s, dir) => Relevance.vocabCoverage(t(s, dir, "documents"),
        vocabSize = 50),
      Some(s"""WITH tok AS (SELECT unnest(string_split_regex(text, '\\s+'))
                              AS token
                            FROM documents),
                    v AS (SELECT token AS vtok FROM tok GROUP BY token
                          ORDER BY COUNT(*) DESC, token LIMIT 50)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types,
                      ${sqlRoundDet(
                        """CAST(SUM(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END)
                                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)""", 6)}
                        AS oov_rate
               FROM tok LEFT JOIN v ON token = vtok""")),

    // Deterministic hash sample (~10%): reproducible, re-partition-
    // stable held-out split — no RNG, rides the scan.
    Q("e3_deterministic_sample",
      (s, dir) => Curation.deterministicSample(
          t(s, dir, "documents"), "doc_id", hexBound = "1a")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
              WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
              ORDER BY doc_id""")),

    // Class-balanced sampling: cap every language at its 25 best-
    // quality documents (quality desc, doc_id tie-break) so no class
    // dominates the mix. One shuffle keyed on lang.
    Q("e4_balanced_sample",
      (s, dir) => Curation.balancedTopK(
          t(s, dir, "documents").withColumn("quality",
            TextAnalysis.qualityScore(col("text"))),
          "lang", k = 25, col("quality").desc, col("doc_id").asc)
        .select("lang", "rank", "doc_id", "quality")
        .orderBy("lang", "rank"),
      Some(s"""WITH scored AS (SELECT doc_id, lang, $SqlQuality AS quality
                               FROM documents),
               ranked AS (SELECT lang, doc_id, quality,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY quality DESC, doc_id) AS rank
                 FROM scored)
               SELECT lang, rank, doc_id, quality FROM ranked
               WHERE rank <= 25 ORDER BY lang, rank""")),

    // Global top-k under a per-domain quota: the 30 best-quality docs
    // with at most 3 from any one source — greedy score-ordered
    // selection that skips domain-exhausted rows, equivalent to the
    // two-window SQL the oracle runs. The Spark side is ONE bounded
    // aggregation (QuotaTopKAgg): map-side partials forward ≤ k
    // quota-valid rows per partition, so neither window's full-data
    // shuffle happens — the x5/TopKAgg posture with the quota folded
    // into the buffer.
    Q("e12_domain_quota",
      (s, dir) => Curation.domainQuotaTopK(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        k = 30, m = 3, scoreCol = "quality", idCol = "doc_id",
        domCol = "source"),
      Some(s"""WITH scored AS (SELECT doc_id, source, $SqlQuality AS quality
                               FROM documents),
               dr AS (SELECT doc_id, source, quality,
                        ROW_NUMBER() OVER (PARTITION BY source
                                           ORDER BY quality DESC, doc_id)
                          AS drank
                      FROM scored),
               g AS (SELECT doc_id, source, quality,
                       ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id)
                         AS rank
                     FROM dr WHERE drank <= 3)
               SELECT rank, doc_id, source, quality FROM g
               WHERE rank <= 30 ORDER BY rank""")),

    // ---- dedup family -------------------------------------------------

    Q("d1_dedup_exact",
      (s, dir) => Dedup.exactByFingerprint(t(s, dir, "documents"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars
              FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                      ORDER BY doc_id) AS rn
                    FROM documents) d
              WHERE rn = 1 ORDER BY doc_id""")),

    // engine-specific hash families: rows-only driver check
    // d2: MinHash+LSH near-dup pairs — HASH-EXACT since round 10:
    // the oracle replays the ENTIRE pipeline in DuckDB SQL, custom
    // Catalyst expressions included — XXH64(shingle, 42) via the
    // XxhSql short-path cascade (mod-2^64 HUGEINT arithmetic,
    // validated against Spark's xxhash64 reference vectors), the 64
    // universal-hash minima, the 16 XXH64-chained band hashes, the
    // (band, bhash) bucket join under the 1024 cap, and the exact
    // shingle-Jaccard verification (threshold on the 4dp-rounded
    // value, as the Spark verifier filters). The candidate SET —
    // not just the verified pairs — is thereby pinned cross-engine.
    Q("d2_dedup_minhash",
      (s, dir) => Dedup.minhashNearDups(t(s, dir, "documents"), 0.4),
      Some(s"""WITH ${XxhSql.minhashBandedCtes("TRUE")},
               bsz AS (SELECT band, bhash, COUNT(*) AS c FROM banded
                       GROUP BY band, bhash),
               cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
                        FROM banded l
                        JOIN banded r ON l.band = r.band
                          AND l.bhash = r.bhash AND l.id < r.id
                        JOIN bsz ON bsz.band = l.band
                          AND bsz.bhash = l.bhash AND bsz.c <= 1024),
               ${XxhSql.shingleListCtes("shs", "TRUE")},
               scored AS (SELECT id_a, id_b,
                   ${XxhSql.sqlJaccard4dp} AS jaccard
                 FROM cand
                 JOIN shs a ON a.id = id_a
                 JOIN shs b ON b.id = id_b)
               SELECT id_a, id_b, jaccard FROM scored
               WHERE jaccard >= 0.4 ORDER BY id_a, id_b""")),

    // d3: SimHash near-dups — HASH-EXACT since round 10 by the same
    // kernel replay: per-document signature = sign of the 64 per-bit
    // vote sums over DISTINCT-token XXH64 hashes (SimHash64's seen-
    // set), pigeonhole 16-bit chunk join, Hamming <= 3 via
    // bit_count(xor). The signature LONGS agree bit-for-bit, so the
    // chunk keys, the candidate set, and the distances all pin.
    Q("d3_dedup_simhash",
      (s, dir) => Dedup.simhashNearDups(t(s, dir, "documents"), maxDist = 3),
      Some(s"""WITH dtok AS (SELECT id, unnest(list_distinct(tk)) AS sh
                 FROM (SELECT doc_id AS id,
                         string_split_regex(text, '\\s+') AS tk
                       FROM documents)),
               ${XxhSql.strHashCtes("dtok", Seq("id"))},
               pw(i, p) AS (VALUES ${(0 until 64).map(i =>
                 s"($i, ${BigInt(1) << i})").mkString(", ")}),
               votes AS (SELECT id, i,
                   SUM(CASE WHEN (hxx // p) % 2 = 1 THEN 1 ELSE -1 END)
                     AS v, MAX(p) AS p
                 FROM xav, pw GROUP BY id, i),
               sigu AS (SELECT id,
                   COALESCE(SUM(CASE WHEN v > 0 THEN p END),
                     CAST(0 AS HUGEINT)) AS us
                 FROM votes GROUP BY id),
               chnk AS (SELECT id, us, c.c AS chunk,
                   CAST((us // c.sh) % 65536 AS BIGINT) AS cval
                 FROM sigu, (VALUES (0, 1), (1, 65536),
                   (2, 4294967296), (3, 281474976710656)) c(c, sh)),
               cnd AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b,
                   l.us AS us_a, r.us AS us_b
                 FROM chnk l JOIN chnk r ON l.chunk = r.chunk
                   AND l.cval = r.cval AND l.id < r.id),
               ham AS (SELECT id_a, id_b,
                   CAST(bit_count(xor(CAST(us_a AS UBIGINT),
                     CAST(us_b AS UBIGINT))) AS INTEGER) AS hamming
                 FROM cnd)
               SELECT id_a, id_b, hamming FROM ham
               WHERE hamming <= 3 ORDER BY id_a, id_b""")),

    Q("d4_dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        threshold = 0.4),
      Some(s"""WITH ${sqlShinglePairCtes("documents")}
              SELECT id_a, id_b,
                     ${sqlRoundDet(SqlJaccard, 4)} AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE $SqlJaccard >= 0.4
              ORDER BY id_a, id_b""")),

    // Exact-substring spans: verbatim passages ≥ 10 tokens shared
    // between documents — the memorization-risk signal Jaccard can't
    // see (a long quote inside two otherwise-unrelated docs). The
    // oracle recomputes the identical diagonal gaps-and-islands chain
    // in SQL; COUNT(*) arithmetic casts to BIGINT (HUGEINT discipline).
    Q("d12_duplicate_spans",
      (s, dir) => Dedup.duplicateSpans(t(s, dir, "documents"),
        minSpan = 10, n = 5, maxDf = 128),
      Some(s"""WITH toks AS (
                SELECT doc_id, lang, string_split_regex(text, '\\s+') AS tk
                FROM documents),
              grams AS (
                SELECT doc_id, lang, i AS pos,
                       array_to_string(tk[i+1:i+5], ' ') AS gram
                FROM toks, UNNEST(range(0, GREATEST(len(tk)-5+1, 0))) AS u(i)
                WHERE len(tk) >= 5),
              hot AS (
                SELECT lang, gram FROM grams GROUP BY lang, gram
                HAVING COUNT(DISTINCT doc_id) > 128),
              pruned AS (
                SELECT g.* FROM grams g ANTI JOIN hot h
                ON g.lang = h.lang AND g.gram = h.gram),
              m AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.pos AS pos_a, a.pos - b.pos AS diag
                FROM pruned a JOIN pruned b
                  ON a.lang = b.lang AND a.gram = b.gram
                 AND a.doc_id < b.doc_id),
              isl AS (
                SELECT id_a, id_b, diag,
                       pos_a - ROW_NUMBER() OVER (
                         PARTITION BY id_a, id_b, diag
                         ORDER BY pos_a) AS island
                FROM m),
              spans AS (
                SELECT id_a, id_b, COUNT(*) + 5 - 1 AS span_tokens
                FROM isl GROUP BY id_a, id_b, diag, island
                HAVING COUNT(*) + 5 - 1 >= 10)
              SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_spans,
                     CAST(MAX(span_tokens) AS BIGINT) AS max_span
              FROM spans GROUP BY id_a, id_b
              ORDER BY id_a, id_b""")),

    // d23: the REWRITE d12 only reports — exact-substring dedup (cut
    // every cross-document duplicated span of >= minSpan tokens from
    // every document carrying it; Lee et al. 2021's curation step).
    // Oracle: d12's CTE chain through the diagonal islands, extended
    // with the interval union (both pair sides), the per-doc
    // gaps-and-islands interval merge, and a positional anti-join
    // scrub — hash-exact, every document in the output.
    Q("d23_scrub_spans",
      (s, dir) => Dedup.scrubDuplicateSpans(t(s, dir, "documents"),
        minSpan = 10, n = 5, maxDf = 128),
      Some(s"""WITH toks AS (
                SELECT doc_id, lang, string_split_regex(text, '\\s+') AS tk
                FROM documents),
              grams AS (
                SELECT doc_id, lang, i AS pos,
                       array_to_string(tk[i+1:i+5], ' ') AS gram
                FROM toks, UNNEST(range(0, GREATEST(len(tk)-5+1, 0))) AS u(i)
                WHERE len(tk) >= 5),
              hot AS (
                SELECT lang, gram FROM grams GROUP BY lang, gram
                HAVING COUNT(DISTINCT doc_id) > 128),
              pruned AS (
                SELECT g.* FROM grams g ANTI JOIN hot h
                ON g.lang = h.lang AND g.gram = h.gram),
              m AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.pos AS pos_a, a.pos - b.pos AS diag
                FROM pruned a JOIN pruned b
                  ON a.lang = b.lang AND a.gram = b.gram
                 AND a.doc_id < b.doc_id),
              isl AS (
                SELECT id_a, id_b, diag, pos_a,
                       pos_a - ROW_NUMBER() OVER (
                         PARTITION BY id_a, id_b, diag
                         ORDER BY pos_a) AS island
                FROM m),
              spans AS (
                SELECT id_a, id_b, diag, MIN(pos_a) AS p0,
                       COUNT(*) + 5 - 1 AS span_tokens
                FROM isl GROUP BY id_a, id_b, diag, island
                HAVING COUNT(*) + 5 - 1 >= 10),
              iv AS (
                SELECT id_a AS doc_id, p0 AS s,
                       p0 + span_tokens - 1 AS e FROM spans
                UNION ALL
                SELECT id_b, p0 - diag,
                       p0 - diag + span_tokens - 1 FROM spans),
              ivo AS (
                SELECT doc_id, s, e,
                       MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS pmax
                FROM iv),
              ivg AS (
                SELECT doc_id, s, e,
                       SUM(CASE WHEN pmax IS NULL OR s > pmax
                           THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
                FROM ivo),
              ivm AS (
                SELECT doc_id, MIN(s) AS s, MAX(e) AS e
                FROM ivg GROUP BY doc_id, grp),
              tokpos AS (
                SELECT doc_id, i AS pos, tk[i+1] AS tok
                FROM toks, UNNEST(range(0, len(tk))) AS u(i)),
              keep AS (
                SELECT t.doc_id, t.pos, t.tok FROM tokpos t
                WHERE NOT EXISTS (SELECT 1 FROM ivm v
                  WHERE v.doc_id = t.doc_id
                    AND t.pos BETWEEN v.s AND v.e)),
              agg AS (
                SELECT doc_id,
                       array_to_string(list(tok ORDER BY pos), ' ')
                         AS kept_text,
                       COUNT(*) AS n_kept
                FROM keep GROUP BY doc_id)
              SELECT k.doc_id AS doc_id,
                     COALESCE(a.kept_text, '') AS clean_text,
                     CAST(len(k.tk) - COALESCE(a.n_kept, 0) AS BIGINT)
                       AS n_scrubbed
              FROM toks k LEFT JOIN agg a ON a.doc_id = k.doc_id
              ORDER BY k.doc_id""")),

    // Near-dup pairs → dedup GROUPS: connected components by min-label
    // propagation over the (hash-exact, see d4) jaccard pair list. The
    // oracle computes the same components with a recursive reachability
    // CTE — comp = min reachable id, identical by definition.
    Q("d6_dedup_components",
      (s, dir) => Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.4)),
      Some(s"""WITH RECURSIVE ${sqlShinglePairCtes("documents")},
              ${sqlComponentCtes(0.4)}
              SELECT id, comp FROM comp ORDER BY id""")),

    // Same components, contraction instead of propagation: the
    // O(log n)-round large-star/small-star path for corpora whose
    // near-dup graphs have deep chains (label propagation is
    // O(diameter) driver round-trips). Identical output by
    // construction — the oracle is d6's recursive-reachability CTE
    // verbatim, so the driver pins both implementations to the same
    // ground truth.
    Q("d8_components_star",
      (s, dir) => Dedup.connectedComponentsStar(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.4)),
      Some(s"""WITH RECURSIVE ${sqlShinglePairCtes("documents")},
              ${sqlComponentCtes(0.4)}
              SELECT id, comp FROM comp ORDER BY id""")),

    // Incremental dedup: a synthetic new batch (disguised duplicates
    // of corpus docs — different ids, case-flipped text, SAME
    // normalized fingerprint — plus genuinely new ' v2' docs) deduped
    // against the full corpus. Only the v2 docs survive; the oracle
    // rebuilds the identical batch in SQL and runs the same
    // survivors-then-anti-join chain.
    Q("d7_dedup_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dups = docs.filter(col("doc_id") % 5 < 2)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            upper(col("text")).as("text"))
        val fresh = docs.filter(col("doc_id") % 5 >= 2)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text"))
        Dedup.incrementalDedup(dups.unionByName(fresh), docs)
          .select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus_fp AS (SELECT $SqlFp AS fp FROM documents),
               b AS (
                 SELECT doc_id + 1000000 AS doc_id, upper(text) AS text
                 FROM documents WHERE doc_id % 5 < 2
                 UNION ALL
                 SELECT doc_id + 1000000 AS doc_id, text || ' v2' AS text
                 FROM documents WHERE doc_id % 5 >= 2),
               bf AS (SELECT doc_id, $SqlFp AS fp FROM b),
               surv AS (SELECT doc_id, fp FROM (
                          SELECT doc_id, fp,
                                 ROW_NUMBER() OVER (PARTITION BY fp
                                                    ORDER BY doc_id) AS rn
                          FROM bf) WHERE rn = 1)
               SELECT s.doc_id, s.fp FROM surv s
               WHERE NOT EXISTS (SELECT 1 FROM corpus_fp c
                                 WHERE c.fp = s.fp)
               ORDER BY s.doc_id""")),

    // Incremental NEAR-dup gate: batch (doc_id >= 300) vs corpus
    // (doc_id < 300) — cross-boundary near-dup pairs only, the
    // per-ingest path that never re-pairs the corpus with itself
    // (see Dedup.minhashIncrementalNearDups). Banding is
    // engine-specific → rows-only driver check; d11_precision below
    // closes the contract with an empty-set oracle.
    // d11: HASH-EXACT since round 10 — the full LSH candidate set
    // and verification replayed in SQL (see sqlMinhashIncrOracle).
    Q("d11_dedup_minhash_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.minhashIncrementalNearDups(
          docs.filter(col("doc_id") >= 300),
          docs.filter(col("doc_id") < 300), threshold = 0.4)
      }, Some(SqlD11Oracle)),

    // d11 contract: every emitted pair sits on the correct side of
    // the batch/corpus boundary and its exact shingle-Jaccard —
    // recomputed through the independent explode-count route —
    // matches the reported value and the threshold.
    Q("d11_precision",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashIncrementalNearDups(
          docs.filter(col("doc_id") >= 300),
          docs.filter(col("doc_id") < 300), threshold = 0.4)
          .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"),
            col("jaccard"))
        Dedup.shingleJaccardFor(pairs, docs)
          .join(pairs, Seq("id_a", "id_b"))
          .filter(col("jaccard_exact") < 0.4 ||
            col("jaccard_exact") =!= col("jaccard") ||
            col("id_a") < 300 || col("id_b") >= 300)
          .select("id_a", "id_b", "jaccard", "jaccard_exact")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS id_a,
                     CAST(NULL AS BIGINT) AS id_b,
                     CAST(NULL AS DOUBLE) AS jaccard,
                     CAST(NULL AS DOUBLE) AS jaccard_exact
              WHERE FALSE""")),

    // threshold 0.3 ≈ p99 of within-label cosine in the synthetic
    // embeddings — high enough to be selective, low enough that the
    // rows-only check sees output (real corpora would use ~0.95).
    // SQL-expressible: blocked brute force is a self-join within
    // label; x1 already proves cosine bit-parity with list_dot_product
    Q("d5_dedup_embedding_cos",
      (s, dir) => Dedup.embeddingNearDups(t(s, dir, "embeddings"),
        threshold = 0.3),
      Some(s"""WITH v AS (SELECT vec_id AS id, label AS blk,
                                CAST(embedding AS DOUBLE[]) AS vec
                         FROM embeddings),
                   p AS (SELECT a.id AS id_a, b.id AS id_b,
                           ${sqlRoundDet("""list_dot_product(a.vec, b.vec)
                                 / (sqrt(list_dot_product(a.vec, a.vec))
                                    * sqrt(list_dot_product(b.vec, b.vec)))""", 4)} AS cosine
                         FROM v a JOIN v b
                           ON a.blk = b.blk AND a.id < b.id)
              SELECT id_a, id_b, cosine FROM p
              WHERE cosine >= 0.3 ORDER BY id_a, id_b""")),

    // Semantic dedup GROUPS: components over the embedding-cosine
    // pair list — the vector-space twin of d6's text components
    // ("these N documents say the same thing" even with disjoint
    // wording, the dedup signal MinHash/shingles cannot see). Pure
    // composition of two oracled operators; the oracle chains d5's
    // pair SQL into the shared recursive-reachability CTE.
    // Star contraction, NOT label propagation: the 0.3-threshold
    // embedding graph chains through vector space (a ~ b ~ c with
    // a !~ c), and at sf0.1 its diameter already exceeds propagation's
    // 20-round bound — the bench caught exactly the deep-chain case
    // connectedComponentsStar's O(log n) rounds exist for.
    Q("d13_semantic_groups",
      (s, dir) => Dedup.connectedComponentsStar(
        Dedup.embeddingNearDups(t(s, dir, "embeddings"), threshold = 0.3)),
      Some(s"""WITH RECURSIVE v AS (
                SELECT vec_id AS id, label AS blk,
                       CAST(embedding AS DOUBLE[]) AS vec
                FROM embeddings),
              pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM v a JOIN v b ON a.blk = b.blk AND a.id < b.id
                WHERE ${sqlRoundDet("""list_dot_product(a.vec, b.vec)
                        / (sqrt(list_dot_product(a.vec, a.vec))
                           * sqrt(list_dot_product(b.vec, b.vec)))""", 4)}
                      >= 0.3),
              $SqlComponentsFromPairs
              SELECT id, comp FROM comp ORDER BY id""")),

    // d14: edit-distance fuzzy key matching (entity resolution over
    // string keys — the typo-tolerant complement of the shingle
    // families, which need token mass and blur on short strings).
    // Spark side blocks with the FastSS 1-deletion neighborhood
    // (exact recall by construction while no variant bucket caps —
    // see editDistancePairs' scaladoc for the maxBucket dial) and
    // verifies candidates with levenshtein; the oracle brute-forces
    // all pairs, so agreement proves the blocking a pure physical
    // detail at every tested scale (hottest variant ≈ 100 rows on
    // the 10× replica, cap 1024).
    Q("d14_fuzzy_match",
      (s, dir) => Dedup.editDistancePairs(
        t(s, dir, "customer"), "c_custkey", "c_name"),
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                     a.c_name AS s_a, b.c_name AS s_b,
                     CAST(levenshtein(a.c_name, b.c_name) AS INTEGER)
                       AS dist
              FROM customer a JOIN customer b
                ON a.c_custkey < b.c_custkey
              WHERE levenshtein(a.c_name, b.c_name) <= 1
              ORDER BY id_a, id_b""")),

    // d15: the STORED dedup index — x9's build/probe split for the
    // incremental near-dup gate. ensure() builds once (one corpus
    // banding pass to a parquet bucket asset); the probed PLAN bands
    // only the batch and equi-joins the stored shards — O(batch +
    // candidates), zero full-corpus passes. The ensure() call ahead
    // of it revalidates by content fingerprint (one corpus scan) —
    // the registry's deliberate posture for mutable fixture dirs,
    // exactly as the x9 rows; production serves with ensure(version
    // = Some(v)), a 1-row meta read (DedupIndex scaladoc). Same
    // split and threshold as d11; banding is engine-specific →
    // rows-only, closed by the consistency twin below.
    Q("d15_dedup_index_probe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val ix = graft.ext.DedupIndex.dirFor(dir)
        graft.ext.DedupIndex.ensure(corpus, ix)
        graft.ext.DedupIndex.probe(docs.filter(col("doc_id") >= 300),
          ix, corpus, threshold = 0.4)
      },
      // HASH-EXACT since round 10: the stored probe ≡ the in-query
      // gate (the d15 consistency twin), so d11's SQL oracles it too
      Some(SqlD11Oracle)),

    // d15 twin: the stored-index probe must equal the in-query
    // incremental gate EXACTLY — same candidates (probe-side bucket
    // capping, see DedupIndex scaladoc), same verification code
    // path, so the symmetric difference of the two result sets is
    // empty, jaccard doubles included.
    Q("d15_index_consistency",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val batch = docs.filter(col("doc_id") >= 300)
        val ix = graft.ext.DedupIndex.dirFor(dir)
        graft.ext.DedupIndex.ensure(corpus, ix)
        val stored = graft.ext.DedupIndex.probe(batch, ix, corpus,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, corpus,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d15v: the PRODUCTION serve posture the d15 row can't measure —
    // ensure(version = Some(v)) is ONE 1-row meta read, zero corpus
    // scans (the registry's d15 row deliberately pays the content-
    // fingerprint scan because fixture dirs can mutate). The version
    // here is StoredIndex.fileVersion — corpus file metadata only
    // (names/lengths/mtimes, no data read) — so a regenerated
    // fixture still rebuilds, honestly, without a scan (caveat: a
    // same-length in-place regeneration landing within the FS mtime
    // granularity is invisible to it — fileVersion's scaladoc states
    // the trade; immutable fixture files fit it). Same probe,
    // same split as d15 → rows-only, closed by d15v_consistency
    // below (and d15_index_consistency, the same probe code path).
    Q("d15v_index_probe_versioned",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_v"
        val v = graft.ext.StoredIndex.fileVersion(s,
          s"$dir/documents.parquet")
        graft.ext.DedupIndex.ensure(corpus, ix, version = Some(v))
        graft.ext.DedupIndex.probe(docs.filter(col("doc_id") >= 300),
          ix, corpus, threshold = 0.4)
      },
      // HASH-EXACT since round 10: the stored probe ≡ the in-query
      // gate (the d15 consistency twin), so d11's SQL oracles it too
      Some(SqlD11Oracle)),

    // d15v twin: the versioned-serve probe must equal the in-query
    // incremental gate exactly, same contract as d15_index_consistency
    // — proving the zero-scan posture serves the identical result.
    Q("d15v_consistency",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val batch = docs.filter(col("doc_id") >= 300)
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_v"
        val v = graft.ext.StoredIndex.fileVersion(s,
          s"$dir/documents.parquet")
        graft.ext.DedupIndex.ensure(corpus, ix, version = Some(v))
        val stored = graft.ext.DedupIndex.probe(batch, ix, corpus,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, corpus,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d15f: the ensure-posture cost split at a PAIR-MASS-FREE
    // operating point. On d15/d15v the probed batch is thousands of
    // docs, so verification pair mass dwarfs the 0.2 s fingerprint
    // scan and the content-vs-version serve delta is invisible in
    // the bench (SCALING r8). These two rows run the IDENTICAL
    // 10-doc probe — sub-second — differing ONLY in the ensure
    // posture, so their bench delta IS the fingerprint scan the
    // versioned posture removes. Probe results are engine-specific
    // (banding) → rows-only, closed by d15f_consistency below, which
    // pins the same small probe ≡ the direct gate hash-exactly.
    Q("d15f_probe_small_content",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val ix = graft.ext.DedupIndex.dirFor(dir)
        graft.ext.DedupIndex.ensure(corpus, ix) // fingerprint scan
        graft.ext.DedupIndex.probe(
          docs.filter(col("doc_id") >= 300 && col("doc_id") < 310),
          ix, corpus, threshold = 0.4)
      }, Some(SqlD15fOracle)), // hash-exact since round 10

    Q("d15f_probe_small_versioned",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_v"
        val v = graft.ext.StoredIndex.fileVersion(s,
          s"$dir/documents.parquet")
        graft.ext.DedupIndex.ensure(corpus, ix, version = Some(v))
        graft.ext.DedupIndex.probe(
          docs.filter(col("doc_id") >= 300 && col("doc_id") < 310),
          ix, corpus, threshold = 0.4)
      }, Some(SqlD15fOracle)), // hash-exact since round 10

    // d15f twin: the small probe (versioned-ensure path — the same
    // probe PLAN as the content row, which differs only in work done
    // eagerly outside it) must equal the direct incremental gate
    // exactly — closing both rows-only rows above.
    Q("d15f_consistency",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val batch = docs.filter(col("doc_id") >= 300 &&
          col("doc_id") < 310)
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_v"
        val v = graft.ext.StoredIndex.fileVersion(s,
          s"$dir/documents.parquet")
        graft.ext.DedupIndex.ensure(corpus, ix, version = Some(v))
        val stored = graft.ext.DedupIndex.probe(batch, ix, corpus,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, corpus,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d15c: probe correctness SURVIVES compaction — build on one
    // split, append another, compact (DedupIndex.compact: shard rows
    // merged per (band, bhash) at rest behind the commit-marker
    // swap), then probe; the result must equal the one-shot gate
    // over the union corpus, bit-exact (empty symmetric difference).
    // Merging at rest is the same regroup probe applies per call, so
    // any drift here would be a real durability bug, not noise.
    Q("d15c_compact_probe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpusA = docs.filter(col("doc_id") < 200)
        val corpusB = docs.filter(col("doc_id") >= 200 &&
          col("doc_id") < 300)
        val corpus = docs.filter(col("doc_id") < 300)
        val batch = docs.filter(col("doc_id") >= 300)
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_compact"
        graft.ext.DedupIndex.build(corpusA, ix)
        graft.ext.DedupIndex.append(corpusB, ix)
        graft.ext.DedupIndex.compact(s, ix)
        val stored = graft.ext.DedupIndex.probe(batch, ix, corpus,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, corpus,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d16: retraction on the dedup index — build on docs<300,
    // tombstone [200,300) (DedupIndex.remove), probe the held-out
    // batch. Tombstones filter the merged buckets BEFORE the
    // maxBucket cap, so the stored probe must equal the one-shot
    // gate over the LIVE corpus bit-exactly (empty symmetric
    // difference, jaccard doubles included) — the retraction twin
    // of the d15 consistency contract.
    Q("d16_dedup_retract",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_retract"
        graft.ext.DedupIndex.build(docs.filter(col("doc_id") < 300), ix)
        graft.ext.DedupIndex.remove(
          docs.filter(col("doc_id") >= 200 && col("doc_id") < 300), ix)
        val live = docs.filter(col("doc_id") < 200)
        val batch = docs.filter(col("doc_id") >= 300)
        val stored = graft.ext.DedupIndex.probe(batch, ix, live,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, live,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d17: the FULL index lifecycle in one chain — build, append,
    // retract, compact (materializes the removal), then append
    // AGAIN into the compacted index, then probe. No other row
    // exercises append-after-compact-after-retraction; the stored
    // probe must still equal the one-shot gate over the live corpus
    // (A ∪ B ∪ C minus the retracted slice) bit-exactly.
    Q("d17_dedup_lifecycle",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_life"
        val a = docs.filter(col("doc_id") < 150)
        val b = docs.filter(col("doc_id") >= 150 && col("doc_id") < 250)
        val slice = docs.filter(col("doc_id") >= 100 &&
          col("doc_id") < 200)
        val c = docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
        graft.ext.DedupIndex.build(a, ix)
        graft.ext.DedupIndex.append(b, ix)
        graft.ext.DedupIndex.remove(slice, ix)
        graft.ext.DedupIndex.compact(s, ix)
        graft.ext.DedupIndex.append(c, ix)
        val live = docs.filter((col("doc_id") < 100 ||
          col("doc_id") >= 200) && col("doc_id") < 300)
        val batch = docs.filter(col("doc_id") >= 300)
        val stored = graft.ext.DedupIndex.probe(batch, ix, live,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, live,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d18: the distributed BUILD story — two shard indexes built
    // independently (zero cross-shard shuffle; at scale these are
    // parallel jobs over corpus slices), merged in O(assets) by
    // DedupIndex.merge (bucket files copy, metas XOR-fold, blooms
    // union — no decode, no shuffle). One shard carries a PENDING
    // TOMBSTONE through the merge. The merged probe must equal the
    // one-shot gate over the union LIVE corpus bit-exactly — empty
    // symmetric difference, hash-exact WHERE FALSE.
    Q("d18_index_merge",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = graft.ext.DedupIndex.dirFor(dir)
        val (ixA, ixB, ixM) =
          (base + "_mA", base + "_mB", base + "_mrg")
        val a = docs.filter(col("doc_id") < 150)
        val b = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
        val gone = docs.filter(col("doc_id") >= 140 &&
          col("doc_id") < 150)
        graft.ext.DedupIndex.build(a, ixA)
        graft.ext.DedupIndex.build(b, ixB)
        graft.ext.DedupIndex.remove(gone, ixA)
        graft.ext.DedupIndex.merge(s, Seq(ixA, ixB), ixM)
        val live = docs.filter(col("doc_id") < 140 ||
          (col("doc_id") >= 150 && col("doc_id") < 300))
        val batch = docs.filter(col("doc_id") >= 300)
        val stored = graft.ext.DedupIndex.probe(batch, ixM, live,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, live,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d19: the continuous BULK-LOAD story — a live serving index
    // absorbs an independently built shard IN PLACE in
    // O(shard-files): the expensive signature pass ran off the
    // serving path (the shard's own build job), the landing is a
    // file copy + meta fold, and the big index's buckets are never
    // read or rewritten (merge's O(total) copy is the one-shot
    // alternative). A pending tombstone sits in the TARGET through
    // the absorb. The absorbed probe must equal the one-shot gate
    // over the union LIVE corpus — empty symmetric difference,
    // hash-exact WHERE FALSE.
    Q("d19_index_absorb",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = graft.ext.DedupIndex.dirFor(dir)
        val (ixT, ixS) = (base + "_abT", base + "_abS")
        val a = docs.filter(col("doc_id") < 150)
        val b = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
        val gone = docs.filter(col("doc_id") >= 140 &&
          col("doc_id") < 150)
        graft.ext.DedupIndex.build(a, ixT)
        graft.ext.DedupIndex.remove(gone, ixT)
        graft.ext.DedupIndex.build(b, ixS)
        graft.ext.DedupIndex.absorb(s, ixS, ixT)
        val live = docs.filter(col("doc_id") < 140 ||
          (col("doc_id") >= 150 && col("doc_id") < 300))
        val batch = docs.filter(col("doc_id") >= 300)
        val stored = graft.ext.DedupIndex.probe(batch, ixT, live,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, live,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // d21: the stored dedup index's operational HEALTH report —
    // x18's MinHash-LSH sibling (accretion debt = bucket_rows vs
    // merged buckets, retraction debt, the merged live bucket
    // histogram whose max nearing the probe cap is the boilerplate-
    // mass signal, bloom armed). The contract: health read from the
    // stored assets must equal the health a FRESH build of the same
    // corpus reports, re-derived through the in-query banding path
    // without touching any asset (DedupIndex.healthFromCorpus) —
    // empty symmetric difference, hash-exact WHERE FALSE. MinHash
    // values are engine-specific (xxhash64), so the histogram is not
    // DuckDB-derivable — this asset-vs-derivation pin is the d15-
    // family's established closure for exactly that; tombstone-
    // bearing states are spec-gated (ExtSpec).
    Q("d21_index_health",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val ix = graft.ext.DedupIndex.dirFor(dir)
        graft.ext.DedupIndex.ensure(corpus, ix)
        val stored = graft.ext.DedupIndex.health(s, ix)
        val derived = graft.ext.DedupIndex.healthFromCorpus(corpus)
        stored.exceptAll(derived)
          .unionByName(derived.exceptAll(stored))
          .orderBy("metric")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS metric,
                     CAST(NULL AS DOUBLE) AS value
              WHERE FALSE""")),

    // d22: serve-while-rebuilding RETRAIN of the dedup index — after
    // an append/retract lifecycle, rebuildStaged lands a complete
    // fresh build (folded buckets, materialized tombstones, re-minted
    // bloom) in a staging dir while the live buckets keep serving,
    // then swaps in a rename-sized window. The swapped-in probe must
    // equal the one-shot gate over the live corpus bit-exactly —
    // empty symmetric difference, hash-exact WHERE FALSE (d17's
    // contract, reached through the staged path instead of
    // compact-in-generation).
    Q("d22_staged_rebuild",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.DedupIndex.dirFor(dir) + "_staged"
        graft.ext.DedupIndex.build(docs.filter(col("doc_id") < 150), ix)
        graft.ext.DedupIndex.append(
          docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), ix)
        graft.ext.DedupIndex.remove(
          docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), ix)
        val live = docs.filter((col("doc_id") < 100 ||
          col("doc_id") >= 200) && col("doc_id") < 300)
        graft.ext.DedupIndex.rebuildStaged(live, ix)
        val batch = docs.filter(col("doc_id") >= 300)
        val stored = graft.ext.DedupIndex.probe(batch, ix, live,
          threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(batch, live,
          threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // The unblocked-corpus near-dup path d5's scaladoc promises: no
    // natural blocking column, so ivfAssign buckets the corpus by
    // nearest centroid (zero-shuffle codegen argmax) and the brute
    // force runs within buckets only. Deterministic end-to-end (stride
    // centroids, tie-to-lower-cid argmax — the x2-proven chain), so
    // the oracle replays the identical blocking in SQL. Approximate
    // by construction: cross-bucket pairs are unseen, the same recall
    // trade x2_recall quantifies for top-k.
    Q("d9_dedup_embedding_ivf",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val assigned = Similarity.ivfAssign(embs,
          Similarity.centroids(embs, stride = 20))
        Dedup.embeddingNearDups(
          assigned.select(col("nid").as("vec_id"), col("cid").as("label"),
            col("nvec").as("embedding")),
          threshold = 0.3)
      },
      Some(s"""WITH $SqlIvfCtes,
                 dp AS (SELECT a.nid AS id_a, b.nid AS id_b,
                          ${sqlRoundDet(sqlCosRaw("a.nvec", "b.nvec"), 4)}
                            AS cosine
                        FROM iasg a JOIN iasg b
                          ON a.cid = b.cid AND a.nid < b.nid)
              SELECT id_a, id_b, cosine FROM dp
              WHERE cosine >= 0.3 ORDER BY id_a, id_b""")),

    // d9 recall instrumentation (the x2_recall of the near-dup
    // blocking dial): what fraction of TRUE ≥0.3 pairs does IVF
    // blocking actually find? Full exact all-pairs mining is the O(n²)
    // job the operator exists to avoid, so the reference set is the
    // exact pairs whose LOWER id falls in a deterministic query
    // sample (vec_id < 50) — the sample side broadcasts, the corpus
    // never shuffles, and the d9 side composes the already-green IVF
    // chain. Fully SQL-expressible, so unlike the sketch rows this
    // recall is hash-exact oracled. Measured 0.2368 (45/190) at
    // sf0.01: mining this near-orthogonal synthetic corpus at cosine
    // 0.3 is the same hostile regime x2_recall documents — single-
    // probe bucket blocking sees only same-bucket pairs. The dial is
    // multi-probe assignment / more centroids; production near-dup
    // mining at ≥0.9 concentrates pairs into one bucket and recalls
    // far higher.
    Q("d9_recall",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val assigned = Similarity.ivfAssign(embs,
          Similarity.centroids(embs, stride = 20))
        val approx = Dedup.embeddingNearDups(
          assigned.select(col("nid").as("vec_id"), col("cid").as("label"),
            col("nvec").as("embedding")),
          threshold = 0.3)
          .select(col("id_a"), col("id_b")).withColumn("m", lit(1))
        val c = embs.select(col("vec_id").as("nid"),
          col("embedding").cast("array<double>").as("nvec"))
        val q = embs.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qvec"))
        val exact = c.join(broadcast(q), col("qid") < col("nid"))
          .withColumn("cosine", graft.ops.Ops.roundDet(
            Similarity.cosine(col("qvec"), col("nvec")), 4))
          .filter(col("cosine") >= 0.3)
          .select(col("qid").as("id_a"), col("nid").as("id_b"))
        exact.join(approx, Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_matched"))
          .withColumn("recall", graft.ops.Ops.roundDet(
            col("n_matched").cast("double") / col("n_exact").cast("double"),
            4))
      },
      Some(s"""WITH $SqlIvfCtes,
                 dp AS (SELECT a.nid AS id_a, b.nid AS id_b,
                          ${sqlRoundDet(sqlCosRaw("a.nvec", "b.nvec"), 4)}
                            AS cosine
                        FROM iasg a JOIN iasg b
                          ON a.cid = b.cid AND a.nid < b.nid),
                 ap AS (SELECT id_a, id_b, 1 AS m FROM dp
                        WHERE cosine >= 0.3),
                 sq AS (SELECT vec_id AS qid,
                          CAST(embedding AS DOUBLE[]) AS qvec
                        FROM embeddings WHERE vec_id < 50),
                 ex AS (SELECT qid AS id_a, iv.nid AS id_b
                        FROM sq, iv
                        WHERE qid < iv.nid
                          AND ${sqlRoundDet(sqlCosRaw("qvec", "iv.nvec"), 4)}
                              >= 0.3)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                      CAST(COUNT(ap.m) AS BIGINT) AS n_matched,
                      ${sqlRoundDet(
                        "CAST(COUNT(ap.m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
                        4)} AS recall
               FROM ex LEFT JOIN ap USING (id_a, id_b)""")),

    // d9's recall DIAL, exercised: multi-probe assignment indexes each
    // vector under its 2 nearest centroids (ArgTopCosine — one fused
    // codegen pass, zero corpus shuffle, ~2× index rows), so a true
    // pair split across single-probe buckets is found whenever the
    // probe sets intersect. Same sampled-exact reference as d9_recall;
    // a pair sharing both buckets is counted once (DISTINCT before the
    // match join). Measured at sf0.01: recall 0.6737 (128/190) vs
    // single-probe's 0.2368 — a 2.8× lift for 2× index size, on the
    // hostile near-orthogonal corpus at cosine 0.3 where bucket
    // boundaries cut through everything. Hash-exact oracled like
    // d9_recall (the whole chain is deterministic).
    Q("d9_recall_mp",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val assigned = Similarity.ivfAssignMulti(embs,
          Similarity.centroids(embs, stride = 20), nprobe = 2)
        val approx = Dedup.embeddingNearDups(
          assigned.select(col("nid").as("vec_id"), col("cid").as("label"),
            col("nvec").as("embedding")),
          threshold = 0.3)
          .select("id_a", "id_b").distinct().withColumn("m", lit(1))
        val c = embs.select(col("vec_id").as("nid"),
          col("embedding").cast("array<double>").as("nvec"))
        val q = embs.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qvec"))
        val exact = c.join(broadcast(q), col("qid") < col("nid"))
          .withColumn("cosine", graft.ops.Ops.roundDet(
            Similarity.cosine(col("qvec"), col("nvec")), 4))
          .filter(col("cosine") >= 0.3)
          .select(col("qid").as("id_a"), col("nid").as("id_b"))
        exact.join(approx, Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_matched"))
          .withColumn("recall", graft.ops.Ops.roundDet(
            col("n_matched").cast("double") / col("n_exact").cast("double"),
            4))
      },
      Some(s"""WITH $SqlIvfCtes,
                 imp AS (SELECT nid, nvec, cid FROM (
                     SELECT iv.nid, iv.nvec, ic.cid,
                       ROW_NUMBER() OVER (PARTITION BY iv.nid ORDER BY
                         ${sqlCosRaw("iv.nvec", "ic.cvec")} DESC, ic.cid) AS rk
                     FROM iv, ic) WHERE rk <= 2),
                 mdp AS (SELECT DISTINCT a.nid AS id_a, b.nid AS id_b
                         FROM imp a JOIN imp b
                           ON a.cid = b.cid AND a.nid < b.nid
                         WHERE ${sqlRoundDet(sqlCosRaw("a.nvec", "b.nvec"), 4)}
                               >= 0.3),
                 ap AS (SELECT id_a, id_b, 1 AS m FROM mdp),
                 sq AS (SELECT vec_id AS qid,
                          CAST(embedding AS DOUBLE[]) AS qvec
                        FROM embeddings WHERE vec_id < 50),
                 ex AS (SELECT qid AS id_a, iv.nid AS id_b
                        FROM sq, iv
                        WHERE qid < iv.nid
                          AND ${sqlRoundDet(sqlCosRaw("qvec", "iv.nvec"), 4)}
                              >= 0.3)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                      CAST(COUNT(ap.m) AS BIGINT) AS n_matched,
                      ${sqlRoundDet(
                        "CAST(COUNT(ap.m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
                        4)} AS recall
               FROM ex LEFT JOIN ap USING (id_a, id_b)""")),

    // ---- similarity search -------------------------------------------

    Q("x1_sim_bruteforce_topk",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH $SqlBruteCtes
              SELECT qid, rank, nid, cosine FROM br WHERE rank <= 5
              ORDER BY qid, rank""")),

    Q("x2_sim_ivf_topk",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 20), k = 5,
          nprobe = 12)
      },
      Some(s"""WITH $SqlIvfCtes
              SELECT qid, rank, nid, cosine FROM ir WHERE rank <= 5
              ORDER BY qid, rank""")),

    // IVF recall instrumentation: overlap of the approximate (x2) and
    // exact (x1) top-k sets — the number that makes the approximation
    // honest. Fully SQL-expressible by composing the two green chains
    // above; the k-means-refined recall (kmeansIters > 0, not
    // SQL-oracleable because means are FP-order-dependent) is asserted
    // ≥ this stride recall in ExtSpec.
    Q("x2_recall",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(embs, q, k = 5)
          .select("qid", "nid")
        val approx = Similarity.ivfTopK(embs, q, k = 5, nprobe = 12)
          .select("qid", "nid").withColumn("m", lit(1))
        exact.join(approx, Seq("qid", "nid"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_matched"))
          .withColumn("recall", graft.ops.Ops.roundDet(
            col("n_matched").cast("double") / col("n_exact").cast("double"), 4))
      },
      Some(s"""WITH $SqlBruteCtes, $SqlIvfCtes,
                 e AS (SELECT qid, nid FROM br WHERE rank <= 5),
                 a AS (SELECT qid, nid, 1 AS m FROM ir WHERE rank <= 5)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                      CAST(COUNT(a.m) AS BIGINT) AS n_matched,
                      ${sqlRoundDet(
                        "CAST(COUNT(a.m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 4)} AS recall
               FROM e LEFT JOIN a USING (qid, nid)""")),

    // unblocked cosine-LSH near-neighbor pairs (banded sign-random-
    // projection, MinHash-style AND/OR); hash family engine-specific →
    // rows-only check, exact-cosine verification inside.
    // Knobs for THIS corpus: the synthetic embeddings mine at an
    // unrealistically low cosine 0.3 (66° — sign bits agree only 60%
    // of the time), so bands are narrowed to 12 bits and doubled to 32
    // for ~6-22% recall across the 0.3-0.5 cosine range; 2^12 bucket
    // keys per band still exceeds the tested corpus sizes (bandBits ≳
    // log2(n) rule). Production near-dup mining at cosine ≥ 0.9 uses
    // the defaults (32×16-bit bands ⇒ ~94% recall, 65k keys/band).
    // x3: HASH-EXACT since round 10 — the sign matrix, the banded
    // projections (ordered folds), the bucket join and the cosine
    // verification all replayed in SQL (XxhSql scaladoc).
    Q("x3_sim_lsh_pairs",
      (s, dir) => Similarity.lshNearDups(t(s, dir, "embeddings"),
        threshold = 0.3, numBands = 32, bandBits = 12),
      Some(XxhSql.hyperplaneLshPairsOracle(
        threshold = 0.3, numBands = 32, bandBits = 12))),

    // ---- sketch-family contract checks --------------------------------
    // The MinHash/SimHash/LSH sketches are engine-specific (their
    // outputs can't be SQL-oracled), but their CONTRACTS can: every
    // emitted pair carries a similarity claim that is exactly
    // recomputable. Each *_precision query recomputes the claim through
    // an INDEPENDENT formulation and emits the violations — provably
    // empty, so the DuckDB oracle is the empty set with the same
    // schema. This closes the driver's last `no_oracle` blind spot
    // (the reference's own test philosophy: verify the contract you
    // claim, test/test_download_url.py:13-15).

    // d2 contract: every MinHash pair has exact shingle-Jaccard ≥
    // threshold AND the reported jaccard equals the exact one. The
    // recomputation goes through the explode-and-count join path —
    // not minhashNearDups' array_intersect verification — so the two
    // formulations check each other.
    Q("d2_precision",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDups(docs, 0.4)
        Dedup.shingleJaccardFor(pairs, docs)
          .join(pairs, Seq("id_a", "id_b"))
          .filter(col("jaccard_exact") < 0.4 ||
            col("jaccard_exact") =!= col("jaccard") ||
            col("id_a") >= col("id_b"))
          .select("id_a", "id_b", "jaccard", "jaccard_exact")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS id_a,
                     CAST(NULL AS BIGINT) AS id_b,
                     CAST(NULL AS DOUBLE) AS jaccard,
                     CAST(NULL AS DOUBLE) AS jaccard_exact
              WHERE FALSE""")),

    // d3 contract: every SimHash pair is correctly ordered and its
    // recomputed Hamming distance (fresh signature pass over the text,
    // XOR + popcount outside the pigeonhole join) matches the reported
    // one and respects maxDist.
    Q("d3_precision",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.simhashNearDups(docs, maxDist = 3)
        val sigs = docs.select(col("doc_id").as("id"),
          Dedup.simhash(col("text")).as("sig"))
        pairs
          .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
          .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
          .withColumn("hamming_rec",
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
          .filter(col("hamming_rec") > 3 ||
            col("hamming_rec") =!= col("hamming").cast("long") ||
            col("id_a") >= col("id_b"))
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("long").as("hamming"), col("hamming_rec"))
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS id_a,
                     CAST(NULL AS BIGINT) AS id_b,
                     CAST(NULL AS BIGINT) AS hamming,
                     CAST(NULL AS BIGINT) AS hamming_rec
              WHERE FALSE""")),

    // x3 contract: every LSH pair's cosine clears the threshold when
    // recomputed with the interpreted HOF fold (Similarity.dot) — the
    // reference implementation the fused codegen'd CosineSimilarity
    // expression claims bit-parity with — so this also cross-checks
    // the custom doGenCode against its specification.
    Q("x3_precision",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val pairs = Similarity.lshNearDups(embs,
          threshold = 0.3, numBands = 32, bandBits = 12)
        val vecs = embs.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        pairs
          .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
          .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
          .withColumn("cosine_rec", graft.ops.Ops.roundDet(
            Similarity.dot(col("vec_a"), col("vec_b")) /
              (sqrt(Similarity.dot(col("vec_a"), col("vec_a"))) *
               sqrt(Similarity.dot(col("vec_b"), col("vec_b")))), 4))
          .filter(col("cosine_rec") < 0.3 ||
            col("cosine_rec") =!= col("cosine") ||
            col("id_a") >= col("id_b"))
          .select("id_a", "id_b", "cosine", "cosine_rec")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS id_a,
                     CAST(NULL AS BIGINT) AS id_b,
                     CAST(NULL AS DOUBLE) AS cosine,
                     CAST(NULL AS DOUBLE) AS cosine_rec
              WHERE FALSE""")),

    // MMR-diversified top-k: relevance traded against redundancy over
    // the x1 candidate pool. Iterative greedy state is not one SQL
    // query (k chained argmax steps, each conditioned on the previous
    // picks) → rows-only check, with the full selection contract
    // closed by x6_precision below — the d2/d3/x3 playbook.
    // x6: MMR-diversified top-k — HASH-EXACT since round 10: the
    // greedy chain is deterministic over 4dp-rounded cosines (see
    // Similarity.mmrTopK's determinism contract), so DuckDB replays
    // it as a recursive CTE — per iteration, the argmax-gain pick is
    // min(struct(-gain, nid, …)) over the not-yet-selected pool
    // (struct compare = lexicographic = the Spark side's
    // (-gain, nid) array_sort head), with the selected vectors
    // carried as a list for the max-sim term. (1.0 - 0.7) appears
    // textually so both engines compute the identical double
    // 0.30000000000000004 — b1_bpe_merges' literal-fidelity rule.
    Q("x6_mmr_topk",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        Similarity.mmrTopK(embs, embs.filter(col("vec_id") < 20),
          k = 5, poolSize = 20, lambdaDiv = 0.7)
      },
      Some {
        val gainExpr = sqlRoundDet(
          "0.7 * c.score - (1.0 - 0.7) * COALESCE(list_max(" +
            "list_transform(m.sel_vecs, s -> " +
            s"${sqlRoundDet(sqlCosRaw("c.nvec", "s"), 4)})), 0.0)", 4)
        s"""WITH RECURSIVE $SqlBruteCtes,
             pv AS (SELECT br.qid, br.nid, br.cosine AS score, bc.nvec
                    FROM br JOIN bc ON bc.nid = br.nid
                    WHERE br.rank <= 20),
             mmr AS (
               SELECT qid, 0 AS sel_rank, CAST(NULL AS BIGINT) AS nid,
                      CAST(NULL AS DOUBLE) AS score,
                      CAST(NULL AS DOUBLE) AS gain,
                      CAST([] AS BIGINT[]) AS sel_ids,
                      CAST([] AS DOUBLE[][]) AS sel_vecs
               FROM (SELECT DISTINCT qid FROM pv)
               UNION ALL
               SELECT qid, sel_rank + 1, pick.nid, pick.score, pick.gain,
                      list_append(sel_ids, pick.nid),
                      list_append(sel_vecs, pick.nvec)
               FROM (
                 SELECT m.qid, m.sel_rank, m.sel_ids, m.sel_vecs,
                        min(struct_pack(ng := -($gainExpr),
                                        nid := c.nid,
                                        gain := $gainExpr,
                                        score := c.score,
                                        nvec := c.nvec)) AS pick
                 FROM mmr m JOIN pv c ON c.qid = m.qid
                 WHERE m.sel_rank < 5
                   AND NOT list_contains(m.sel_ids, c.nid)
                 GROUP BY ALL
               )
             )
             SELECT qid, sel_rank, nid, score, gain FROM mmr
             WHERE sel_rank >= 1 ORDER BY qid, sel_rank"""
      }),

    // x6 contract: greedy optimality AT EVERY STEP — no candidate
    // still open at step i (in the pool, not yet selected) may beat
    // the step-i pick's gain, where gain is recomputed through an
    // INDEPENDENT formulation: join/group-by over the (step ×
    // candidate) grid with the interpreted HOF cosine
    // (Similarity.dot), vs the fold's fused codegen cosine — so the
    // row also cross-checks the custom expression, like x3_precision.
    // Bit-parity holds because every pairwise cosine is rounded 4dp
    // BEFORE the max (max of rounded is order-free) and the gain tree
    // λ·score − (1−λ)·maxSim is the same fixed double expression on
    // both sides. Provably empty → empty-set oracle.
    Q("x6_precision",
      (s, dir) => {
        val lam = 0.7
        val embs = t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") < 20)
        val sel = Similarity.mmrTopK(embs, q, k = 5, poolSize = 20,
          lambdaDiv = lam)
        val vecs = embs.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        def cosRec(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
          graft.ops.Ops.roundDet(
            Similarity.dot(a, b) /
              (sqrt(Similarity.dot(a, a)) * sqrt(Similarity.dot(b, b))), 4)
        val cands = Similarity.bruteForceTopK(embs, q, 20)
          .select(col("qid").as("cqid"), col("nid").as("cid"),
            col("cosine").as("cscore"))
          .join(vecs.select(col("id").as("cid"), col("vec").as("cvec")),
            "cid")
        val steps = sel.select(col("qid").as("sqid"), col("sel_rank"),
          col("nid").as("sel_nid"), col("gain").as("sel_gain"))
        val prior = sel.select(col("qid").as("pqid"),
            col("sel_rank").as("j"), col("nid").as("pnid"))
          .join(vecs.select(col("id").as("pnid"), col("vec").as("pvec")),
            "pnid")
        // (step × candidate) grid — bounded: |q|·k·poolSize rows —
        // left-joined to the strictly-earlier picks that define the
        // step's diversity penalty (step 1 joins nothing: maxSim 0)
        cands.join(steps, col("cqid") === col("sqid"))
          .join(prior, col("cqid") === col("pqid") &&
            col("j") < col("sel_rank"), "left")
          .groupBy(col("cqid").as("qid"), col("sel_rank"), col("cid"),
            col("cscore"), col("sel_nid"), col("sel_gain"))
          .agg(
            max(when(col("pvec").isNotNull,
              cosRec(col("cvec"), col("pvec")))).as("max_sim"),
            max(when(col("pnid") === col("cid"), lit(1))
              .otherwise(lit(0))).as("taken"))
          .filter(col("taken") === 0) // candidate still open at step i
          .withColumn("gain_rec", graft.ops.Ops.roundDet(
            lit(lam) * col("cscore") -
              lit(1.0 - lam) * coalesce(col("max_sim"), lit(0.0)), 4))
          .filter(col("gain_rec") > col("sel_gain") ||
            (col("gain_rec") === col("sel_gain") &&
              col("cid") < col("sel_nid")))
          .select(col("qid"), col("sel_rank").cast("long").as("sel_rank"),
            col("cid").as("nid"), col("gain_rec"),
            col("sel_gain"))
          .orderBy("qid", "sel_rank", "nid")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS qid,
                     CAST(NULL AS BIGINT) AS sel_rank,
                     CAST(NULL AS BIGINT) AS nid,
                     CAST(NULL AS DOUBLE) AS gain_rec,
                     CAST(NULL AS DOUBLE) AS sel_gain
              WHERE FALSE""")),

    // Product-quantization ADC top-k (Jégou et al.'s PQ re-expressed
    // declaratively): codes = 4 codeword ids per vector (16× cheaper
    // per-pair scoring than the dim-wide dot, 64× smaller searchable
    // form), scoring = 4 positional LUT lookups per pair. The whole
    // chain — normalize, stride codebook, argmax-cosine encode, LUT,
    // explicit ordered 4-term sum — is deterministic, so unlike the
    // hash-family sketches (d2/d3/x3) this approximate index is
    // hash-exact ORACLED, not just contract-bounded. k=5 over the
    // same query slice as x1/x2 for cross-family comparability.
    Q("x7_pq_topk",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        Similarity.pqTopK(embs, embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH $SqlPqCtes
               SELECT qid, rank, nid, score
               FROM pr WHERE rank <= 5 ORDER BY qid, rank""")),

    // PQ recall against the exact brute-force top-k (the x2_recall
    // pattern): how much of the true top-5 the 4×16-dim spherical
    // codebook retains on this corpus. Both chains deterministic →
    // the recall VALUE itself is hash-oracled, so the quality of the
    // compression dial is pinned, not asserted.
    Q("x7_recall",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(embs, q, k = 5)
          .select("qid", "nid")
        val approx = Similarity.pqTopK(embs, q, k = 5)
          .select("qid", "nid").withColumn("m", lit(1))
        exact.join(approx, Seq("qid", "nid"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_matched"))
          .withColumn("recall", graft.ops.Ops.roundDet(
            col("n_matched").cast("double") / col("n_exact").cast("double"),
            4))
      },
      Some(s"""WITH $SqlBruteCtes, $SqlPqCtes,
                 e AS (SELECT qid, nid FROM br WHERE rank <= 5),
                 a AS (SELECT qid, nid, 1 AS m FROM pr WHERE rank <= 5)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                      CAST(COUNT(a.m) AS BIGINT) AS n_matched,
                      ${sqlRoundDet(
                        "CAST(COUNT(a.m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
                        4)} AS recall
               FROM e LEFT JOIN a USING (qid, nid)""")),

    // Heavy-hitters sketch contract (the stat-API sibling of the
    // d2/d3/x3 precision rows): `stat.freqItems` (Karp-Papadimitriou-
    // Shenker) guarantees NO FALSE NEGATIVES — every token whose
    // occurrence share exceeds the support threshold must appear in
    // the sketch output (false positives are allowed and expected).
    // This query emits the exact-side heavy hitters the sketch
    // MISSED, so the output is provably empty and the driver can
    // judge a result no SQL engine can replay. The exact side is one
    // token-keyed aggregation with the one-row total broadcast back;
    // the sketch side is a single-pass bounded-state aggregate.
    Q("t13_heavyhitters_contract",
      (s, dir) => {
        val support = 0.02
        val toks = t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        val sketch = toks.stat.freqItems(Seq("token"), support)
          .select(explode(col("token_freqItems")).as("fi_token"))
        val counts = toks.groupBy("token").agg(count(lit(1)).as("n"))
        val heavy = counts
          .crossJoin(broadcast(counts.agg(sum(col("n")).as("__total"))))
          .filter(col("n").cast("double") > lit(support) * col("__total"))
        heavy.join(broadcast(sketch),
            col("token") === col("fi_token"), "left_anti")
          .select("token", "n")
          .orderBy("token")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS token,
                     CAST(NULL AS BIGINT) AS n
              WHERE FALSE""")),

    // Character-entropy junk signal: one codegen'd pass per row (the
    // CharEntropy expression). The oracle rebuilds the identical fold:
    // per-codepoint counts listed ASCENDING (DuckDB's binary UTF-8
    // collation = codepoint order, the kernel's TreeMap order), summed
    // left-to-right; 4-dp rounding absorbs the 1-ulp libm log2 spread.
    Q("t14_char_entropy",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.Ops.roundDet(
            TextAnalysis.charEntropy(col("text")), 4).as("char_entropy"))
        .orderBy("doc_id"),
      Some(s"""WITH ch AS (
                SELECT doc_id, unnest(string_split(text, '')) AS c
                FROM documents),
              cnt AS (
                SELECT doc_id, c, COUNT(*) AS n
                FROM ch GROUP BY doc_id, c),
              agg AS (
                SELECT doc_id,
                       list(CAST(n AS DOUBLE) ORDER BY c) AS ns,
                       SUM(n) AS total
                FROM cnt GROUP BY doc_id),
              h AS (
                SELECT doc_id,
                       list_sum(list_transform(ns,
                         n -> (n / total) * log2(n / total))) AS s
                FROM agg)
              SELECT doc_id,
                     ${sqlRoundDet("CASE WHEN s = 0 THEN 0.0 ELSE -s END", 4)}
                       AS char_entropy
              FROM h ORDER BY doc_id""")),

    // Character-bigram cross-entropy vs the corpus's own bigram model
    // — the perplexity-filter proxy. The oracle rebuilds the identical
    // model (C(c1c2)/C(c1·)) and folds each doc's terms ascending by
    // bigram, the same order as the Spark side's sort_array'd fold.
    Q("t15_bigram_xent",
      (s, dir) => Relevance.charBigramCrossEntropy(t(s, dir, "documents")),
      Some(s"""WITH chs AS (
                SELECT doc_id, string_split(text, '') AS cs
                FROM documents),
              bg AS (
                SELECT doc_id, cs[i+1] || cs[i+2] AS b
                FROM chs, UNNEST(range(0, GREATEST(len(cs)-1, 0))) u(i)
                WHERE len(cs) >= 2),
              db AS (
                SELECT doc_id, b, COUNT(*) AS n FROM bg GROUP BY doc_id, b),
              m AS (
                SELECT b, CAST(SUM(n) AS BIGINT) AS c12 FROM db GROUP BY b),
              m2 AS (
                SELECT b, c12,
                       CAST(SUM(c12) OVER (PARTITION BY b[1:1]) AS BIGINT)
                         AS c1
                FROM m),
              t AS (
                SELECT d.doc_id, d.b, d.n,
                       CAST(d.n AS DOUBLE)
                         * log2(CAST(m2.c12 AS DOUBLE)
                                / CAST(m2.c1 AS DOUBLE)) AS term
                FROM db d JOIN m2 ON d.b = m2.b),
              agg AS (
                SELECT doc_id, list(term ORDER BY b) AS ts,
                       CAST(SUM(n) AS BIGINT) AS n_bigrams
                FROM t GROUP BY doc_id)
              SELECT doc_id, n_bigrams,
                     ${sqlRoundDet("-list_sum(ts) / n_bigrams", 4)}
                       AS bits_per_char
              FROM agg ORDER BY doc_id""")),

    // t16: PMI collocations (Relevance.pmiBigrams scaladoc pins the
    // formula, the minCount floor, and the rounded-rank cut). The
    // oracle rebuilds both count tables from the same whitespace
    // tokens (1-based list indexing vs the lambda's 0-based — both
    // pair l[i] with its successor) with IDENTICAL division order in
    // the pmi expression, so the doubles agree bit-for-bit pre-round.
    Q("t16_pmi_collocations",
      (s, dir) => Relevance.pmiBigrams(t(s, dir, "documents")),
      Some(s"""WITH toks AS (
                 SELECT string_split_regex(text, '\\s+') AS l
                 FROM documents),
               uni AS (
                 SELECT w, COUNT(*) AS c
                 FROM (SELECT unnest(l) AS w FROM toks) GROUP BY w),
               big AS (
                 SELECT l[i] AS lw, l[i+1] AS rw
                 FROM toks, unnest(generate_series(1, len(l) - 1)) u(i)
                 WHERE len(l) >= 2),
               bcnt AS (
                 SELECT lw, rw, COUNT(*) AS c_ab FROM big GROUP BY lw, rw),
               tot AS (
                 SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n1,
                        (SELECT CAST(SUM(c_ab) AS BIGINT) FROM bcnt) AS n2)
               SELECT lw, rw, c_ab,
                      ${sqlRoundDet(
                        """log2((CAST(c_ab AS DOUBLE) / n2)
                           / ((CAST(ul.c AS DOUBLE) / n1)
                              * (CAST(ur.c AS DOUBLE) / n1)))""", 4)}
                        AS pmi
               FROM bcnt
               JOIN uni ul ON bcnt.lw = ul.w
               JOIN uni ur ON bcnt.rw = ur.w
               CROSS JOIN tot
               WHERE c_ab >= 5
               ORDER BY pmi DESC, lw, rw LIMIT 50""")),

    // t17: the corpus data card — one scan, one aggregation, a
    // (metric, value) report of volume / hygiene / language mix. The
    // oracle re-derives every per-doc signal with the t1/t2/t3/t4
    // fragments and reduces them in one pass; quality sums in
    // DECIMAL(18,4) on both engines (per-doc scores are exact 4-dp,
    // so the sum is order-independent → avg hash-exact).
    Q("t17_datacard",
      (s, dir) => TextAnalysis.datacard(t(s, dir, "documents")),
      Some(s"""WITH sc AS (
                SELECT text, $SqlTokens AS t, $SqlQuality AS q,
                       length(text) AS c, $SqlFp AS f,
                  len(list_filter(string_split_regex(text,'\\s+'),
                    x -> list_contains(['the','a','and','of','to','is'], x))) AS s_en,
                  len(list_filter(string_split_regex(text,'\\s+'),
                    x -> list_contains(['der','die','das','und','ist','nicht'], x))) AS s_de,
                  len(list_filter(string_split_regex(text,'\\s+'),
                    x -> list_contains(['el','la','los','que','es','y'], x))) AS s_es,
                  len(list_filter(string_split_regex(text,'\\s+'),
                    x -> list_contains(['le','la','les','est','et','ne'], x))) AS s_fr,
                  len(list_filter(string_split_regex(text,'\\s+'),
                    x -> list_contains(['de','shi','bu','le','wo','ni'], x))) AS s_zh
                FROM documents),
              lab AS (
                SELECT *,
                  CASE WHEN GREATEST(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                       WHEN s_en = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                       WHEN s_de = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'de'
                       WHEN s_es = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                       WHEN s_fr = GREATEST(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                       ELSE 'zh' END AS l
                FROM sc),
              a AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       CAST(SUM(t) AS DOUBLE) AS n_tokens,
                       CAST(SUM(c) AS DOUBLE) AS n_chars,
                       CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE) AS q_sum,
                       CAST(COUNT(DISTINCT f) AS DOUBLE) AS n_fp,
                       CAST(SUM(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS DOUBLE) AS n_lowq,
                       CAST(SUM(CASE WHEN l = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_en,
                       CAST(SUM(CASE WHEN l = 'de' THEN 1 ELSE 0 END) AS DOUBLE) AS n_de,
                       CAST(SUM(CASE WHEN l = 'es' THEN 1 ELSE 0 END) AS DOUBLE) AS n_es,
                       CAST(SUM(CASE WHEN l = 'fr' THEN 1 ELSE 0 END) AS DOUBLE) AS n_fr,
                       CAST(SUM(CASE WHEN l = 'zh' THEN 1 ELSE 0 END) AS DOUBLE) AS n_zh,
                       CAST(SUM(CASE WHEN l = 'und' THEN 1 ELSE 0 END) AS DOUBLE) AS n_und
                FROM lab)
              SELECT 'n_docs' AS metric, n_docs AS value FROM a
              UNION ALL SELECT 'n_tokens', n_tokens FROM a
              UNION ALL SELECT 'n_chars', n_chars FROM a
              UNION ALL SELECT 'avg_tokens', ${sqlRoundDet("n_tokens / n_docs", 4)} FROM a
              UNION ALL SELECT 'avg_chars', ${sqlRoundDet("n_chars / n_docs", 4)} FROM a
              UNION ALL SELECT 'avg_quality', ${sqlRoundDet("q_sum / n_docs", 4)} FROM a
              UNION ALL SELECT 'dup_rate', ${sqlRoundDet("1.0 - n_fp / n_docs", 6)} FROM a
              UNION ALL SELECT 'low_quality_rate', ${sqlRoundDet("n_lowq / n_docs", 6)} FROM a
              UNION ALL SELECT 'share_en', ${sqlRoundDet("n_en / n_docs", 6)} FROM a
              UNION ALL SELECT 'share_de', ${sqlRoundDet("n_de / n_docs", 6)} FROM a
              UNION ALL SELECT 'share_es', ${sqlRoundDet("n_es / n_docs", 6)} FROM a
              UNION ALL SELECT 'share_fr', ${sqlRoundDet("n_fr / n_docs", 6)} FROM a
              UNION ALL SELECT 'share_zh', ${sqlRoundDet("n_zh / n_docs", 6)} FROM a
              UNION ALL SELECT 'share_und', ${sqlRoundDet("n_und / n_docs", 6)} FROM a
              ORDER BY metric""")),

    // ---- multimodal plumbing -----------------------------------------

    // container sizes: PNG = 8 signature + 25 IHDR chunk; WAVE = 44
    // canonical header — payload bytes = the UTF-8 text (MediaWrap)
    Q("m1_multimodal_meta",
      (s, dir) => Multimodal.withByteLen(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .select("doc_id", "media_type", "byte_len")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CASE CAST(doc_id % 3 AS INTEGER)
                       WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS media_type,
                     CAST(CASE WHEN doc_id % 3 = 0 THEN 33 ELSE 44 END
                          + octet_length(encode(text)) AS BIGINT) AS byte_len
              FROM documents ORDER BY doc_id""")),

    // the decoder parses real container headers; the oracle predicts
    // the decoded metadata from the same doc_id/text-length
    // derivations the MediaWrap writer embedded (PNG: dims from the
    // id, 1 frame; WAVE: rate 8000+(id%5)*2000, channels 1+(id%2),
    // sample frames = data bytes / block align at 16-bit PCM)
    Q("m2_multimodal_decode",
      (s, dir) => Multimodal.decode(s,
          Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .toDF()
        .select("doc_id", "media_type", "byte_len", "width", "height", "n_frames")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CASE CAST(doc_id % 3 AS INTEGER)
                       WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS media_type,
                     CAST(CASE WHEN doc_id % 3 = 0 THEN 33 ELSE 44 END
                          + octet_length(encode(text)) AS BIGINT) AS byte_len,
                     CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 1920 + 1
                               ELSE 8000 + (doc_id % 5) * 2000 END AS INTEGER) AS width,
                     CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 1080 + 1
                               ELSE doc_id % 2 + 1 END AS INTEGER) AS height,
                     CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                               ELSE octet_length(encode(text))
                                    // (2 * (doc_id % 2 + 1)) END AS INTEGER) AS n_frames
              FROM documents ORDER BY doc_id""")),

    // frame sampling: every 100th sample frame of each video row via
    // a sequence generator — the oracle replays the stride with
    // range(); n_frames derives from the WAVE block align exactly as
    // in m2
    Q("m3_frame_sample",
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.decode(s,
            Multimodal.mediaFromDocuments(t(s, dir, "documents"))),
          stride = 100)
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH v AS (
                SELECT doc_id,
                       octet_length(encode(text))
                         // (2 * (doc_id % 2 + 1)) AS n_frames
                FROM documents WHERE doc_id % 3 = 2)
              SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
                     CAST(unnest(range(0, n_frames, 100)) AS BIGINT)
                       AS frame_idx
              FROM v ORDER BY doc_id, frame_idx""")),

    // resize: the PNG container is REWRITTEN with fit-to-box dims
    // (longer side → 224, integer floor division, data untouched) and
    // decoded AGAIN, so the oracle checks the whole
    // wrap→resize→re-decode chain from the id-derived original dims
    Q("m4_resize",
      (s, dir) => Multimodal.decode(s,
          Multimodal.resizeImages(
            Multimodal.decode(s,
              Multimodal.mediaFromDocuments(t(s, dir, "documents"))),
            maxSide = 224).toDF())
        .toDF()
        .filter(col("media_type") === "image")
        .select("doc_id", "width", "height", "byte_len")
        .orderBy("doc_id"),
      Some("""WITH o AS (
                SELECT doc_id,
                       CAST(doc_id % 1920 + 1 AS BIGINT) AS w0,
                       CAST(doc_id % 1080 + 1 AS BIGINT) AS h0,
                       octet_length(encode(text)) AS data_len
                FROM documents WHERE doc_id % 3 = 0)
              SELECT doc_id,
                     CAST(CASE WHEN GREATEST(w0, h0) <= 224 THEN w0
                          ELSE GREATEST(w0 * 224 // GREATEST(w0, h0), 1)
                          END AS INTEGER) AS width,
                     CAST(CASE WHEN GREATEST(w0, h0) <= 224 THEN h0
                          ELSE GREATEST(h0 * 224 // GREATEST(w0, h0), 1)
                          END AS INTEGER) AS height,
                     CAST(33 + data_len AS BIGINT) AS byte_len
              FROM o ORDER BY doc_id""")),

    // feature extraction: unsigned-byte count/mean/min/max over the
    // data section in one fused codegen pass (ByteStats). The fixture
    // data section is the UTF-8 text and the corpus is ASCII, so the
    // oracle folds over ascii(char) — an independent formulation of
    // the same bytes
    Q("m5_media_features",
      (s, dir) => Multimodal.extractFeatures(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(s"""WITH b AS (
                SELECT doc_id,
                       CASE CAST(doc_id % 3 AS INTEGER)
                         WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                         ELSE 'video' END AS media_type,
                       list_transform(range(1, length(text) + 1),
                         i -> ascii(substr(text, CAST(i AS INTEGER), 1)))
                         AS bytes
                FROM documents)
              SELECT doc_id, media_type,
                     CAST(len(bytes) AS BIGINT) AS n_bytes,
                     ${sqlRoundDet(
                       """CAST(COALESCE(list_aggregate(bytes, 'sum'), 0) AS DOUBLE)
                          / CAST(GREATEST(len(bytes), 1) AS DOUBLE)""", 4)}
                       AS byte_mean,
                     CAST(COALESCE(list_aggregate(bytes, 'min'), 0) AS BIGINT)
                       AS byte_min,
                     CAST(COALESCE(list_aggregate(bytes, 'max'), 0) AS BIGINT)
                       AS byte_max
              FROM b ORDER BY doc_id""")),

    // ---- sessionization ----------------------------------------------

    // batch formulation: lag + running-sum analytic windows (coverage
    // beyond the reference's single ROW_NUMBER window: frames, lag)
    Q("w2_sessionize",
      (s, dir) => graft.ext.Sessions.sessionize(t(s, dir, "events"), gapMinutes = 30),
      Some(s"""WITH l AS (
                 SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
                        THEN 1 ELSE 0 END AS new_s
                 FROM events),
               s AS (
                 SELECT user_id, ts, value,
                        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_id
                 FROM l)
               SELECT user_id, session_id, MIN(ts) AS session_start,
                      MAX(ts) AS session_end, COUNT(*) AS n_events,
                      $SqlSumValue AS sum_value
               FROM s GROUP BY user_id, session_id
               ORDER BY user_id, session_id""")),

    // native session_window API (the built-in operator, vs w2's
    // explicit lag+running-sum formulation). Semantics differ at the
    // boundary — session_window starts a NEW session at gap ≥ 30 min
    // (w2: > 30 min) and its session end is last-event + gap, both
    // mirrored exactly in the oracle (timestamp comparison, no
    // date_diff truncation).
    Q("w3_session_window",
      (s, dir) => t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          graft.ops.Ops.sumMoney(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      Some(s"""WITH l AS (
                 SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             IS NULL
                         OR ts >= lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts)
                            + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
                 FROM events),
               g AS (
                 SELECT user_id, ts, value,
                        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
                 FROM l)
               SELECT user_id,
                      CAST(MIN(ts) AS TIMESTAMP) AS session_start,
                      CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP)
                        AS session_end,
                      COUNT(*) AS n_events, $SqlSumValue AS sum_value
               FROM g GROUP BY user_id, sid
               ORDER BY user_id, session_start""")),

    // Cumulative distinct users by day — the scalable rewrite of a
    // running COUNT(DISTINCT) window: first-seen per user (key-hashed
    // shuffle), day buckets, then a running sum over one row per DAY
    // (the audited, calendar-bounded global window). DuckDB's running
    // SUM(BIGINT) yields HUGEINT → cast.
    Q("w4_cumulative_users",
      (s, dir) => graft.ext.Sessions.cumulativeNewKeys(
        t(s, dir, "events"), period = "hour"),
      Some("""WITH fs AS (
                SELECT user_id, MIN(ts) AS first_ts
                FROM events GROUP BY user_id),
              d AS (
                SELECT date_trunc('hour', first_ts) AS period,
                       COUNT(*) AS new_keys
                FROM fs GROUP BY 1)
              SELECT CAST(period AS TIMESTAMP) AS period, new_keys,
                     CAST(SUM(new_keys) OVER (ORDER BY period
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_keys
              FROM d ORDER BY period""")),

    // w5: first-touch conversion funnel view → click → purchase
    // within 7 days of the first view (Sessions.funnel scaladoc pins
    // the greedy-first chain semantics). The oracle builds the same
    // chain as three dependent min-aggregates; both engines count
    // users whose chain completes inside the window.
    Q("w5_funnel",
      (s, dir) => graft.ext.Sessions.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"), windowDays = 7),
      Some(s"""WITH t0 AS (SELECT user_id, MIN(ts) AS t0 FROM events
                           WHERE event_type = 'view' GROUP BY user_id),
               t1 AS (SELECT e.user_id, MIN(e.ts) AS t1
                      FROM events e JOIN t0 ON e.user_id = t0.user_id
                      WHERE e.event_type = 'click' AND e.ts > t0.t0
                      GROUP BY e.user_id),
               t2 AS (SELECT e.user_id, MIN(e.ts) AS t2
                      FROM events e JOIN t1 ON e.user_id = t1.user_id
                      WHERE e.event_type = 'purchase' AND e.ts > t1.t1
                      GROUP BY e.user_id),
               f AS (SELECT t0.user_id, t0.t0, t1.t1, t2.t2
                     FROM t0 LEFT JOIN t1 ON t0.user_id = t1.user_id
                             LEFT JOIN t2 ON t0.user_id = t2.user_id),
               c AS (SELECT COUNT(t0) AS n0,
                            COUNT(CASE WHEN t1 <= t0 + INTERVAL 7 DAY
                                       THEN 1 END) AS n1,
                            COUNT(CASE WHEN t2 <= t0 + INTERVAL 7 DAY
                                       THEN 1 END) AS n2
                     FROM f)
               SELECT step, event_type, n_users,
                      CASE WHEN n0 = 0 THEN NULL
                           ELSE ${sqlRoundDet(
                             "CAST(n_users AS DOUBLE) / n0", 4)}
                      END AS pct_of_first
               FROM (SELECT 1 AS step, 'view' AS event_type,
                            n0 AS n_users, n0 FROM c
                     UNION ALL
                     SELECT 2, 'click', n1, n0 FROM c
                     UNION ALL
                     SELECT 3, 'purchase', n2, n0 FROM c)
               ORDER BY step""")),

    // w6: weekly cohort retention grid — users bucketed by first-
    // event week, counted per active week offset, retention as a
    // fraction of the cohort's week-0 size. Monday-truncated weeks
    // on both engines make offset = days/7 exact; DuckDB's
    // date_trunc('week') yields DATE, hence the TIMESTAMP cast.
    Q("w6_cohort_retention",
      (s, dir) => graft.ext.Sessions.cohortRetention(t(s, dir, "events")),
      Some(s"""WITH f AS (SELECT user_id, MIN(ts) AS first_ts
                          FROM events GROUP BY user_id),
               a AS (SELECT DISTINCT
                       date_trunc('week', f.first_ts) AS cw,
                       date_diff('day', date_trunc('week', f.first_ts),
                                 date_trunc('week', e.ts)) // 7 AS wo,
                       e.user_id
                     FROM events e JOIN f ON e.user_id = f.user_id),
               g AS (SELECT cw, wo, COUNT(*) AS n_active
                     FROM a GROUP BY cw, wo),
               w AS (SELECT cw, wo, n_active,
                       MAX(CASE WHEN wo = 0 THEN n_active END)
                         OVER (PARTITION BY cw) AS cohort_size
                     FROM g)
               SELECT CAST(cw AS TIMESTAMP) AS cohort_week,
                      CAST(wo AS INTEGER) AS week_offset,
                      n_active, cohort_size,
                      ${sqlRoundDet(
                        "CAST(n_active AS DOUBLE) / cohort_size", 4)}
                        AS retention
               FROM w ORDER BY cohort_week, week_offset""")),

    // w7: peak concurrent sessions per hour — sweep-line over
    // session boundary deltas, NOT an interval self-join (see
    // Sessions.hourlyConcurrency: the pair mass of "which sessions
    // overlap" is quadratic; the delta running-sum is linear with a
    // calendar-bounded global window, w4's audited shape). The hour
    // peak includes the level CARRIED IN from before the hour's
    // first boundary (lag of the running sum), so an hour opening on
    // a session-end boundary still reports its true early-hour peak.
    // Oracle: w2's sessionize CTE feeding the same delta/running-sum
    // /lag chain.
    Q("w7_concurrency",
      (s, dir) => graft.ext.Sessions.hourlyConcurrency(
        t(s, dir, "events"), gapMinutes = 30),
      Some("""WITH l AS (
                 SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
                        THEN 1 ELSE 0 END AS new_s
                 FROM events),
               s AS (
                 SELECT user_id, ts,
                        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
                 FROM l),
               g AS (
                 SELECT user_id, sid, MIN(ts) AS session_start,
                        MAX(ts) AS session_end
                 FROM s GROUP BY user_id, sid),
               d AS (
                 SELECT m, CAST(SUM(dd) AS BIGINT) AS delta FROM (
                   SELECT date_trunc('minute', session_start) AS m,
                          1 AS dd FROM g
                   UNION ALL
                   SELECT date_trunc('minute', session_end)
                            + INTERVAL 1 MINUTE, -1 FROM g)
                 GROUP BY m),
               c AS (
                 SELECT m, delta,
                        CAST(SUM(delta) OVER (ORDER BY m
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
                 FROM d),
               c2 AS (
                 SELECT m, conc,
                        CAST(COALESCE(lag(conc) OVER (ORDER BY m), 0)
                          AS BIGINT) AS carried
                 FROM c)
               SELECT CAST(date_trunc('hour', m) AS TIMESTAMP) AS hour,
                      CAST(GREATEST(MAX(conc), min_by(carried, m))
                        AS BIGINT) AS max_concurrent,
                      COUNT(*) AS n_boundaries
               FROM c2 GROUP BY 1 ORDER BY hour""")),

    // streaming twin: flatMapGroupsWithState over a replayed stream.
    // A session is emitted when a later event closes it or when the
    // final watermark (max ts - 1 min, ms precision) passes its
    // end + gap event-time timeout; only sessions still open within
    // 31 min of stream end stay in state unemitted. The oracle
    // replicates exactly that rule on the batch result.
    Q("st2_sessionize_stream",
      (s, dir) => graft.streaming.StatefulSessions.replayEvents(s, dir, 30)
        .orderBy("user_id", "session_id"),
      Some(s"""WITH l AS (
                 SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
                        THEN 1 ELSE 0 END AS new_s
                 FROM events),
               s AS (
                 SELECT user_id, ts, value,
                        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_id
                 FROM l),
               g AS (
                 SELECT user_id, session_id, MIN(ts) AS session_start,
                        MAX(ts) AS session_end, COUNT(*) AS n_events,
                        $SqlSumValue AS sum_value
                 FROM s GROUP BY user_id, session_id)
               SELECT user_id, session_id, session_start, session_end,
                      n_events, sum_value
               FROM g
               WHERE session_id < (SELECT MAX(g2.session_id) FROM g g2
                                   WHERE g2.user_id = g.user_id)
                  OR (SELECT epoch_ms(MAX(ts)) FROM events)
                     - epoch_ms(session_end) > 1860000
               ORDER BY user_id, session_id""")),

    // ---- streaming ----------------------------------------------------

    Q("st1_stream_tumbling",
      (s, dir) => StreamingOps.tumblingEventCounts(s, dir),
      Some(s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                      event_type, COUNT(*) AS n_events,
                      ${sqlSum("value")} AS sum_value
               FROM events GROUP BY 1, 2
               ORDER BY window_start, event_type""")),

    // streaming drift monitor: the stream owns the windowed bin
    // counts; the PSI arithmetic is a batch epilogue over the
    // (windows × bins)-bounded sink. The oracle recomputes both the
    // full-corpus reference shares and the per-day-window shares, with
    // the same every-(window, ref-bin) frame (an absent bin IS the
    // drift signal) and the same eps floor.
    // st11: the stream-MAINTAINED dedup index must be exactly the
    // index a batch build would produce over whatever corpus the
    // stream accepted. The replay ingests the documents table in two
    // drops through StreamingDedupIngest (probe-gate → quarantine
    // near-dups → append clean to corpus store + index), then probes
    // a HELD-OUT batch through the streamed index and through the
    // direct one-shot gate over the accumulated corpus: the
    // symmetric difference must be empty (hash-exact WHERE FALSE),
    // jaccard doubles included. Fresh temp dirs per run — each
    // execution replays the whole ingest, so the bench row prices
    // the maintained-index pipeline end-to-end.
    Q("st11_dedup_ingest_stream",
      (s, dir) => {
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st11_").toString
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        StreamingDedupIngest.stage(
          docs.filter(col("doc_id") < 250), s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        StreamingDedupIngest.stage(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 400),
          s"$root/staging", "d2")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val held = docs.filter(col("doc_id") >= 400)
        val stored = graft.ext.DedupIndex.probe(held, s"$root/ix",
          ingest.corpus(), threshold = 0.4)
        val direct = Dedup.minhashIncrementalNearDups(held,
          ingest.corpus(), threshold = 0.4)
        stored.exceptAll(direct).unionByName(direct.exceptAll(stored))
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS batch_id,
                     CAST(NULL AS BIGINT) AS corpus_id,
                     CAST(NULL AS DOUBLE) AS jaccard
              WHERE FALSE""")),

    // st19: the ADMISSION GATE (quality predicate riding the ingest,
    // the filter every training pipeline runs beside dedup) commutes
    // with pre-filtering the stream: the same two drops through (a)
    // an ingest with admit = quality >= 0.5 and (b) an ungated ingest
    // fed only the quality-passing rows must build IDENTICAL corpora
    // (admission runs before the near-dup gate, so the gate sees the
    // same rows in the same batches), while (a)'s quarantine holds
    // exactly (b)'s near-dups ∪ the quality rejects. Both audited as
    // empty symmetric differences, hash-exact WHERE FALSE.
    Q("st19_quality_gated_ingest",
      (s, dir) => {
        import graft.streaming.StreamingDedupIngest
        import graft.streaming.StreamingDedupIngest.stage
        val docs = t(s, dir, "documents").select("doc_id", "text")
          .localCheckpoint()
        val q = TextAnalysis.qualityScore(col("text"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_st19_").toString
        val gated = new StreamingDedupIngest(s, s"$root/gx",
          s"$root/gc", s"$root/gq", admit = Some(q >= 0.5))
        val plain = new StreamingDedupIngest(s, s"$root/px",
          s"$root/pc", s"$root/pq")
        def drop(f: org.apache.spark.sql.DataFrame, n: String): Unit = {
          stage(f, s"$root/gs", n)
          stage(f.filter(q >= 0.5), s"$root/ps", n)
          gated.ingestAvailable(s"$root/gs", s"$root/gck")
          plain.ingestAvailable(s"$root/ps", s"$root/pck")
        }
        drop(docs.filter(col("doc_id") < 250), "d1")
        drop(docs.filter(col("doc_id") >= 250 && col("doc_id") < 400),
          "d2")
        def sd(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame, side: String) = {
          val l = a.select("doc_id", "text")
          val r = b.select("doc_id", "text")
          l.exceptAll(r).unionByName(r.exceptAll(l))
            .select(lit(side).as("side"), col("doc_id"))
        }
        val staged = docs.filter(col("doc_id") < 400)
        val quarExpected = s.read.parquet(s"$root/pq")
          .select("doc_id", "text")
          .unionByName(staged.filter(!(q >= 0.5)))
        sd(gated.corpus(), plain.corpus(), "corpus")
          .unionByName(sd(s.read.parquet(s"$root/gq"), quarExpected,
            "quarantine"))
          .orderBy("side", "doc_id")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS side,
                     CAST(NULL AS BIGINT) AS doc_id
              WHERE FALSE""")),

    // st12: the stream-maintained ANN index can execute a COMPLIANCE
    // TAKEDOWN — the round-8 serving-matrix asymmetry, closed. The
    // replay ingests the embeddings in two drops through
    // StreamingAnnIngest under the durable-store posture, retracts a
    // slice through the full takedown protocol (sticky intent
    // ledger → store purge → index un-mix), then RE-DELIVERS some
    // retracted ids (which the ledger must keep out) and probes. The
    // contract: the streamed lifecycle serves exactly what the batch
    // lifecycle (build → append → AnnIndex.remove) serves — empty
    // symmetric difference, hash-exact WHERE FALSE. Fresh temp dirs
    // per run: the bench row prices ingest + takedown end-to-end.
    Q("st12_ann_ingest_retract",
      (s, dir) => {
        import graft.streaming.{StreamingAnnIngest,
          StreamingDedupIngest}
        val embs = t(s, dir, "embeddings")
          .select("vec_id", "embedding")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st12_").toString
        val ingest = new StreamingAnnIngest(s, s"$root/ix",
          storeDir = Some(s"$root/store"))
        val drop1 = embs.filter(col("vec_id") < 300)
        val drop2 = embs.filter(col("vec_id") >= 300)
        StreamingDedupIngest.stage(drop1, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        StreamingDedupIngest.stage(drop2, s"$root/staging", "d2")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val slice = embs.filter(col("vec_id") % 5 === 4)
        ingest.retract(slice.select("vec_id"))
        // at-least-once re-delivery of retracted rows: must stay out
        StreamingDedupIngest.stage(
          slice.filter(col("vec_id") < 50), s"$root/staging", "d3")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val bix = s"$root/bix"
        graft.ext.AnnIndex.build(drop1, bix)
        graft.ext.AnnIndex.append(drop2, bix)
        graft.ext.AnnIndex.remove(slice, bix)
        val q = embs.filter(col("vec_id") < 20)
        val streamed = graft.ext.AnnIndex.probeTopK(s, s"$root/ix",
          q, k = 5)
        val direct = graft.ext.AnnIndex.probeTopK(s, bix, q, k = 5)
        streamed.exceptAll(direct)
          .unionByName(direct.exceptAll(streamed))
          .orderBy("qid", "rank")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS qid,
                     CAST(NULL AS INTEGER) AS rank,
                     CAST(NULL AS BIGINT) AS nid,
                     CAST(NULL AS DOUBLE) AS score
              WHERE FALSE""")),

    // st20: the stream-maintained KEYWORD index with a takedown —
    // completing the streaming-maintenance matrix (st11 identity,
    // st12 dense, this lexical). Two drops ingest through
    // StreamingKeywordIngest (store posture), a compliance takedown
    // retracts every 5th doc, a slice of the retracted docs is
    // RE-DELIVERED (at-least-once; the sticky ledger must keep them
    // out), and the served page is pinned — not against a batch twin
    // like st12, but against DUCKDB ITSELF: the k-family's BM25 SQL
    // over the live predicate. A streamed lifecycle whose end state
    // is hash-exact against an independent engine.
    Q("st20_keyword_ingest_retract",
      (s, dir) => {
        import graft.streaming.{StreamingDedupIngest,
          StreamingKeywordIngest}
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st20_").toString
        val ingest = new StreamingKeywordIngest(s, s"$root/ix",
          storeDir = Some(s"$root/store"))
        StreamingDedupIngest.stage(
          docs.filter(col("doc_id") < 300), s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        StreamingDedupIngest.stage(
          docs.filter(col("doc_id") >= 300), s"$root/staging", "d2")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val slice = docs.filter(col("doc_id") % 5 === 4)
        ingest.retract(slice.select("doc_id"))
        StreamingDedupIngest.stage(
          slice.filter(col("doc_id") < 60), s"$root/staging", "d3")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        graft.ext.KeywordIndex.probe(s, s"$root/ix", KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("NOT (doc_id % 5 = 4)", KwTerms, 20))),

    // st22: st16/st17's KEYWORD twin — the lexical ingest's health
    // report pinned against a batch-side replay: a twin index built
    // from the IDENTICAL seed partition (storeAsOf(-1)), appended
    // with the same 50 new docs (the 30 re-delivered seed ids gated
    // out by the bloom), removed of the same two takedown ids. Every
    // metric is an aggregate (df histogram, LSM split, token mass,
    // store gauges), so the pin is row-order-robust. The health frame
    // reads the 1-row stats/ gauge directly (n_docs_gauge /
    // sum_dl_gauge beside their doclens-derived _live twins), so a
    // stats gauge whose lifecycle fold drifted from the twin's, a
    // stale tombstone count, or a bloom left unarmed all land in the
    // symmetric difference. Empty difference, hash-exact WHERE FALSE.
    Q("st22_keyword_ingest_health",
      (s, dir) => {
        import graft.ext.KeywordIndex
        import graft.ext.StoredIndex.{litMetricRow, metricRow}
        import graft.streaming.{StreamingDedupIngest,
          StreamingKeywordIngest}
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st22_").toString
        val seed = docs.filter(col("doc_id") < 200)
        val ingest = new StreamingKeywordIngest(s, s"$root/ix",
          storeDir = Some(s"$root/store"))
        ingest.seed(seed)
        val newDocs = docs
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
        StreamingDedupIngest.stage(
          newDocs.unionByName(seed.filter(col("doc_id") < 30)),
          s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val slice = docs.filter(col("doc_id").isin(200L, 201L))
        ingest.retract(slice.select("doc_id"))
        val got = ingest.health()
        val twin = s"$root/twin"
        KeywordIndex.build(ingest.storeAsOf(-1L), twin)
        KeywordIndex.append(newDocs, twin)
        KeywordIndex.remove(slice, twin)
        // ever-accepted covers the later-retracted ids 200/201 — the
        // gauge is MONOTONE by design (a sketch cannot subtract), so
        // the expected row is the one-shot sketch over seed ∪ drop,
        // NOT over the surviving store
        val expect = KeywordIndex.health(s, twin)
          .unionByName(metricRow("accepted_ids_kmv_est",
            graft.ext.Sketches.kmvDistinct(
              seed.unionByName(newDocs), col("doc_id")),
            sum(col("n_distinct_est"))))
          .unionByName(metricRow("store_rows",
            seed.unionByName(newDocs)
              .join(slice.select("doc_id"), Seq("doc_id"), "left_anti"),
            count(lit(1L))))
          .unionByName(litMetricRow(s, "store_batches", 2d))
          .unionByName(litMetricRow(s, "retracted_ids", 2d))
        got.exceptAll(expect).unionByName(expect.exceptAll(got))
          .orderBy("metric")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS metric,
                     CAST(NULL AS DOUBLE) AS value
              WHERE FALSE""")),

    // st23: HYBRID retrieval over the stream-maintained JOINT corpus
    // — k7b's production shape served by the coordinator
    // (probeHybrid: stored lexical page + stored dense page, RRF),
    // after a takedown, pinned against an independently derived
    // twin: in-query BM25 over the accepted live corpus fused with
    // the stored probe of a BATCH REPLAY of the vector store's own
    // history (build on the seed batch, append the post-purge delta
    // — same training set, same encode-against-assets, tombstone
    // filtering ≡ absence for the served page). The invariant the
    // row pins: what hybrid retrieval can SURFACE is exactly what
    // the joint gate ADMITTED minus what compliance RETRACTED, on
    // both modalities at once. Empty symmetric difference,
    // hash-exact WHERE FALSE.
    Q("st23_joint_hybrid_serve",
      (s, dir) => {
        import graft.streaming.{StreamingCorpusIngest,
          StreamingDedupIngest}
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val embsJ = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_st23_").toString
        val joint = new StreamingCorpusIngest(s, root,
          keywordServing = true)
        joint.seed(docs.filter(col("doc_id") < 200), embsJ)
        StreamingDedupIngest.stage(
          docs.filter(col("doc_id") >= 200 && col("doc_id") < 260),
          s"$root/staging", "d1")
        joint.ingestAvailable(s"$root/staging", s"$root/ckpt", embsJ)
        joint.retract(s.createDataFrame(Seq(
          Tuple1(210L), Tuple1(215L))).toDF("doc_id"))
        val qv = t(s, dir, "embeddings").filter(col("vec_id") === 7)
        val served = joint.probeHybrid(KwTerms, qv, topN = 10,
          pageSize = 20, zeroFill = true)
        // lexical twin: the in-query scorer over the live corpus
        val lex = Relevance.bm25TopDocs(
          joint.text.corpus().localCheckpoint(), KwTerms, topN = 20)
        // dense twin: replay the vector store's own history — the
        // seed batch trains, the post-purge delta appends (the
        // retracted ids are gone from the store, so the twin simply
        // never indexes them — page-equal to the tombstoned serve)
        val maxB = joint.vectors.batchLedger()
          .agg(max(col("batch"))).head.getLong(0)
        val twin = s"$root/twin_ann"
        graft.ext.AnnIndex.build(joint.vectors.storeAsOf(0L), twin)
        graft.ext.AnnIndex.append(
          joint.vectors.storeDelta(0L, maxB), twin)
        val dense = graft.ext.AnnIndex.probeTopK(s, twin, qv, k = 20)
          .select(col("nid").as("doc_id"), col("rank"))
        val direct = Relevance.rrfFuse(lex, dense, topN = 10)
        served.exceptAll(direct).unionByName(direct.exceptAll(served))
          .orderBy("rank", "doc_id")
      },
      Some("""SELECT CAST(NULL AS INTEGER) AS rank,
                     CAST(NULL AS BIGINT) AS doc_id,
                     CAST(NULL AS DOUBLE) AS rrf
              WHERE FALSE""")),

    // st24: the stored KMV distinct-count gauge INSIDE the ingest
    // commit window — a25's seed/fold lifecycle wired into st16's
    // ingest — under an at-least-once REPLAY: seed, a gated drop
    // (the exact copies quarantine, so only ACCEPTED ids may fold),
    // then the SAME staged drop re-delivered through a fresh
    // checkpoint (the bloom gate drops every accepted row; a re-fold
    // could only be a no-op by the distinct-hash set identity — the
    // spec pins the bit-level form of that claim). The pin here: the
    // ingest-health gauge row ≡ the one-shot kmvDistinct over
    // exactly the ever-accepted ids (≡ the accepted corpus: nothing
    // is retracted in this row), hash-exact. Empty symmetric
    // difference, WHERE FALSE.
    Q("st24_ingest_kmv_gauge",
      (s, dir) => {
        import graft.ext.StoredIndex.metricRow
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st24_").toString
        val seedDocs = docs.filter(col("doc_id") < 200)
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        ingest.seed(seedDocs)
        val newDocs = docs
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
        val drop = newDocs.unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 30000L).as("doc_id"), col("text")))
        StreamingDedupIngest.stage(drop, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        // at-least-once replay: the same file through a FRESH
        // checkpoint — accepted rows bloom-gate out, copies
        // re-quarantine idempotently, the gauge must be bit-stable
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt2")
        val got = ingest.health()
          .filter(col("metric") === "accepted_ids_kmv_est")
        // the one-shot twin runs over the ACCEPTED corpus (the gate
        // may quarantine borderline new docs too, not only the
        // copies — the gate decides, the gauge follows); with no
        // retraction in this row, ever-accepted ≡ the store
        val expect = metricRow("accepted_ids_kmv_est",
          graft.ext.Sketches.kmvDistinct(
            ingest.corpus(), col("doc_id")),
          sum(col("n_distinct_est")))
        got.exceptAll(expect).unionByName(expect.exceptAll(got))
          .orderBy("metric")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS metric,
                     CAST(NULL AS DOUBLE) AS value
              WHERE FALSE""")),

    // st25: the DOCUMENT SAMPLE gauge riding the dedup ingest —
    // a26's stored lifecycle wired into the stream (st24's sibling
    // for the payload-bearing gauge): the k hash-smallest accepted
    // (doc_id, text) rows folded per accepted batch, bit-stable
    // under an at-least-once re-delivery (full-row set semantics),
    // and — the property the hash-only KMV gauge cannot have —
    // PURGED by the joint takedown (the sample stores content, so a
    // retracted document must leave it; the survivors are exactly
    // the live prefix). Pin: the stored gauge after seed + drop +
    // replay + retract ≡ the one-shot bottom-k over the
    // ever-accepted corpus minus the retracted keys, derived
    // in-query (the gate decides what was accepted; the gauge
    // follows). Empty symmetric difference, hash-exact WHERE FALSE.
    Q("st25_ingest_sample_gauge",
      (s, dir) => {
        import graft.ext.Sketches
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st25_").toString
        // 300 seed + ~50 accepted > k = 256, so the stored prefix is
        // genuinely truncated in this row (the bottom-k identity is
        // exercised at the cap, not vacuously under it)
        val seedDocs = docs.filter(col("doc_id") < 300)
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        ingest.seed(seedDocs)
        val newDocs = docs
          .filter(col("doc_id") >= 300 && col("doc_id") < 350)
        StreamingDedupIngest.stage(newDocs, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        // replay through a fresh checkpoint: the sample must not move
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt2")
        // takedown of two seeded (definitely-accepted) docs: the
        // store purges AND the sample purges, one call
        ingest.retract(s.createDataFrame(Seq(
          Tuple1(3L), Tuple1(9L))).toDF("doc_id"))
        val got = ingest.sampledDocs()
        // ever-accepted = live store ∪ the retracted rows (their
        // text is known in-query — they came from the fixture);
        // expected sample = one-shot bottom-k minus the retraction
        val expect = Sketches.sampleState(
            ingest.corpus().unionByName(
              docs.filter(col("doc_id").isin(3L, 9L))), "doc_id")
          .filter(!col("doc_id").isin(3L, 9L))
          .drop("__k") // the cap column is state-internal; the
                       // served report never carries it
        got.exceptAll(expect).unionByName(expect.exceptAll(got))
          .orderBy("doc_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                     CAST(NULL AS VARCHAR) AS text,
                     CAST(NULL AS BIGINT) AS hf
              WHERE FALSE""")),

    // st26: the EXACT doc-length HISTOGRAM gauge riding the dedup
    // ingest — the datacard trio's third member wired into the
    // stream (st24 KMV, st25 sample, now a27's additive hist):
    // accepted lengths folded per batch under the gauge-internal
    // batch WATERMARK (fold + mark commit in ONE atomic swap, so the
    // at-least-once replay window the additive algebra cannot absorb
    // re-folds NOTHING), and — the capability no sketch has — the
    // joint takedown SUBTRACTS the retracted rows' bins exactly
    // (histRemoveMarked: snapshot before the purge, subtract after;
    // a re-run reads the purged store and subtracts nothing). Pin:
    // the stored gauge after seed + drop + replay + retract ≡ the
    // one-shot histogram over the surviving live corpus, derived
    // in-query (the gate decides what was accepted; the gauge
    // follows) — the whole fold/replay/subtract lifecycle must be
    // invisible. Empty symmetric difference, hash-exact WHERE FALSE.
    // (p50/p95 SERVING from this stored gauge is pinned by st16's
    // health twin — doclen_p50/doclen_p95 rows.)
    Q("st26_ingest_hist_gauge",
      (s, dir) => {
        import graft.ext.Sketches
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st26_").toString
        val seedDocs = docs.filter(col("doc_id") < 300)
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        ingest.seed(seedDocs)
        val newDocs = docs
          .filter(col("doc_id") >= 300 && col("doc_id") < 350)
        StreamingDedupIngest.stage(newDocs, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        // replay through a fresh checkpoint: the watermark gate must
        // absorb the re-delivered batch (addition would double-count)
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt2")
        // takedown of two seeded (definitely-accepted) docs: the
        // store purges AND the gauge subtracts their bins, one call
        ingest.retract(s.createDataFrame(Seq(
          Tuple1(3L), Tuple1(9L))).toDF("doc_id"))
        val got = ingest.doclenHist()
        // one-shot truth over the surviving live corpus (default
        // binWidth 16 — the ingest's)
        val expect = Sketches.histState(ingest.corpus(),
          length(col("text")).cast("long"), 16L)
        got.exceptAll(expect).unionByName(expect.exceptAll(got))
          .orderBy("bin")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS bin,
                     CAST(NULL AS BIGINT) AS n
              WHERE FALSE""")),

    // st13: the REPRODUCIBILITY contract of the streamed corpus
    // store — corpusAsOf(batch) re-serves exactly what the ingest
    // had accepted at that batch, bit-identical after later drops
    // land AND after small-file compaction rewrites every batch dir
    // (compactStores(1) forces the rewrite of each multi-file
    // partition through the crash-safe stage-then-swap before the
    // as-of read). The pin: as-of at the first drop's high batch ≡
    // the corpus of a reference ingest that only ever saw that drop
    // — empty symmetric difference, hash-exact WHERE FALSE. This is
    // "train on exactly what batch N had" made checkable; takedowns
    // deliberately pierce it (history is purged in place).
    Q("st13_corpus_asof",
      (s, dir) => {
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st13_").toString
        val drop1 = docs.filter(col("doc_id") < 150)
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        StreamingDedupIngest.stage(drop1, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val cut = ingest.batchLedger()
          .agg(max(col("batch"))).head.getLong(0)
        StreamingDedupIngest.stage(
          docs.filter(col("doc_id") >= 150 && col("doc_id") < 260),
          s"$root/staging", "d2")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        ingest.compactStores(maxFilesPerBatch = 1)
        val asof = ingest.corpusAsOf(cut)
        val ref = new StreamingDedupIngest(s, s"$root/ix2",
          s"$root/corpus2", s"$root/quar2")
        StreamingDedupIngest.stage(drop1, s"$root/staging2", "d1")
        ref.ingestAvailable(s"$root/staging2", s"$root/ckpt2")
        val expect = ref.corpus()
        asof.exceptAll(expect).unionByName(expect.exceptAll(asof))
          .orderBy("doc_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                     CAST(NULL AS VARCHAR) AS text
              WHERE FALSE""")),

    // st14: the BOOTSTRAP path — a production ingest rarely starts
    // empty; seed() lands an existing corpus as batch -1 and builds
    // the index over it, so the FIRST streamed drop gates against
    // the seeded state instead of seeding itself. The pin: the
    // accepted corpus after seed + one gated drop ≡ seed ∪ (drop
    // minus the in-query incremental gate's near-dups) — empty
    // symmetric difference, hash-exact WHERE FALSE. (The gate itself
    // is d15-probe ≡ d11-direct, already pinned by st11/d15; this
    // row pins that the seed participates as full corpus-side
    // standing, batch ordering included.)
    Q("st14_seeded_gate",
      (s, dir) => {
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st14_").toString
        val seedDocs = docs.filter(col("doc_id") < 250)
        val drop = docs.filter(col("doc_id") >= 250 &&
          col("doc_id") < 400)
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        ingest.seed(seedDocs)
        StreamingDedupIngest.stage(drop, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val dups = Dedup.minhashIncrementalNearDups(drop, seedDocs,
            threshold = 0.4)
          .select(col("batch_id").as("doc_id")).distinct()
        val expect = seedDocs.unionByName(
          drop.join(dups, Seq("doc_id"), "left_anti"))
        val got = ingest.corpus()
        got.exceptAll(expect).unionByName(expect.exceptAll(got))
          .orderBy("doc_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS doc_id,
                     CAST(NULL AS VARCHAR) AS text
              WHERE FALSE""")),

    // st15: the FALSE-POSITIVE recovery path — readmit moves
    // reviewer-overruled documents from quarantine into the accepted
    // corpus (into their ORIGINAL batch partition: the corrected
    // history is "the gate accepted them in batch N") and indexes
    // them. The drop here is exact copies of seeded docs under fresh
    // ids, so the gate quarantines all of them deterministically;
    // the even ids are then readmitted. Pins: corpus ≡ seed ∪
    // readmitted evens, quarantine ≡ the odd remainder, AND the
    // index is content-fresh over the final corpus (a violation row
    // fires if ensure() had to rebuild — readmit must maintain the
    // index incrementally, not leave it stale). Empty union of the
    // three violation sets, hash-exact WHERE FALSE. Refusal paths
    // (retracted id, not-quarantined id) are spec-gated.
    Q("st15_readmit",
      (s, dir) => {
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st15_").toString
        val seedDocs = docs.filter(col("doc_id") < 200)
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        ingest.seed(seedDocs)
        val dupDrop = docs.filter(col("doc_id") < 60)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
        StreamingDedupIngest.stage(dupDrop, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val evens = dupDrop.filter(col("doc_id") % 2 === 0)
          .select("doc_id")
        ingest.readmit(evens)
        val expectCorpus = seedDocs.unionByName(
          dupDrop.join(evens, Seq("doc_id"), "left_semi"))
        val expectQuar = dupDrop.join(evens, Seq("doc_id"), "left_anti")
        val gotCorpus = ingest.corpus()
        val gotQuar = s.read.parquet(s"$root/quar")
          .select("doc_id", "text")
        val corpusViol = gotCorpus.exceptAll(expectCorpus)
          .unionByName(expectCorpus.exceptAll(gotCorpus))
          .select(lit("corpus_diff").as("chk"), col("doc_id"))
        val quarViol = gotQuar.exceptAll(expectQuar)
          .unionByName(expectQuar.exceptAll(gotQuar))
          .select(lit("quarantine_diff").as("chk"), col("doc_id"))
        val staleViol =
          if (graft.ext.DedupIndex.ensure(gotCorpus, s"$root/ix"))
            s.range(1).select(lit("index_was_stale").as("chk"),
              lit(-1L).as("doc_id"))
          else s.range(0).select(lit("").as("chk"),
            col("id").as("doc_id"))
        corpusViol.unionByName(quarViol).unionByName(staleViol)
          .orderBy("chk", "doc_id")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS chk,
                     CAST(NULL AS BIGINT) AS doc_id
              WHERE FALSE""")),

    // st16: the INGEST-level health report — the d21 index frame
    // extended with the store-side gauges (accept vs quarantine
    // mass, landed batch dirs, sticky-ledger size). The ingest here
    // is fully deterministic: seed, then a drop of exact seed copies
    // (all quarantine), then a takedown of two quarantined ids — so
    // every gauge is predictable in-query: the index part must equal
    // healthFromCorpus(seed) (untouched by quarantined-only drops
    // and non-indexed retractions), corpus = seed mass, quarantine =
    // drop minus the two retracted, batches = the SEED dir alone
    // (an all-quarantined drop lands no accepted-corpus partition —
    // the ledger tracks accepted batches, not trigger firings),
    // ledger = 2. Empty symmetric difference, hash-exact WHERE
    // FALSE.
    Q("st16_ingest_health",
      (s, dir) => {
        import graft.ext.StoredIndex.{litMetricRow, metricRow}
        import graft.streaming.StreamingDedupIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st16_").toString
        val seedDocs = docs.filter(col("doc_id") < 200)
        val ingest = new StreamingDedupIngest(s, s"$root/ix",
          s"$root/corpus", s"$root/quar")
        ingest.seed(seedDocs)
        val dupDrop = docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
        StreamingDedupIngest.stage(dupDrop, s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        ingest.retract(s.range(2)
          .select((col("id") + 20000L).as("doc_id")))
        val got = ingest.health()
        // the doc-length histogram gauge rows: live accepted = the
        // seed alone, so the expected p50/p95 are the one-shot
        // quantiles over the seed's binned lengths (the a27
        // identity: folded ≡ one-shot, bit-exact)
        val twinHist = s"$root/hist_twin"
        graft.ext.Sketches.histWrite(graft.ext.Sketches.histState(
          seedDocs, length(col("text")).cast("long"), 16L), twinHist)
        val lenQ = graft.ext.Sketches
          .histQuantile(s, twinHist, Seq(0.5, 0.95)).localCheckpoint()
        // the KMV gauge row is in-query derivable too: ever-accepted
        // = the seed alone (the drop fully quarantined; the two
        // retractions hit quarantined ids), and the sketch is
        // deterministic, so the stored fold must equal the one-shot
        val expect = graft.ext.DedupIndex.healthFromCorpus(seedDocs)
          .unionByName(metricRow("doclen_p50",
            lenQ.filter(col("q") === 0.5), max(col("value"))))
          .unionByName(metricRow("doclen_p95",
            lenQ.filter(col("q") === 0.95), max(col("value"))))
          .unionByName(metricRow("accepted_ids_kmv_est",
            graft.ext.Sketches.kmvDistinct(seedDocs, col("doc_id")),
            sum(col("n_distinct_est"))))
          // the document sample: the live population is the seed
          // alone (the drop quarantined; the retractions hit
          // quarantined ids, so the sample purge is vacuous) — size
          // = min(seed, k)
          .unionByName(metricRow("sampled_docs_rows", seedDocs,
            least(count(lit(1L)), lit(256L))))
          .unionByName(metricRow("store_corpus_rows", seedDocs,
            count(lit(1L))))
          .unionByName(metricRow("store_quarantine_rows",
            dupDrop.filter(col("doc_id") >= 20002L), count(lit(1L))))
          .unionByName(litMetricRow(s, "store_batches", 1d))
          .unionByName(litMetricRow(s, "retracted_ids", 2d))
        got.exceptAll(expect).unionByName(expect.exceptAll(got))
          .orderBy("metric")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS metric,
                     CAST(NULL AS DOUBLE) AS value
              WHERE FALSE""")),

    // st17: st16's ANN twin. Unlike the dedup ingest (whose content
    // gate makes the index untouchable by a duplicate drop), the ANN
    // gate is id-keyed, so the deterministic arrangement here runs
    // the FULL lifecycle — seed, a drop mixing 50 new ids with 30
    // re-delivered seed ids (gated out), a takedown of two streamed
    // ids — and pins the ingest's health report against a batch-side
    // replay: a twin index built from the IDENTICAL seed partition
    // (storeAsOf(-1), the exact parquet the ingest's own build
    // consumed — same files, same centroids), appended with the same
    // new ids, removed of the same two. Every health metric is an
    // aggregate (counts/histograms), so the comparison is robust to
    // row order while still pinning the LSM split (n_tombstoned = 2,
    // postings untouched until compact), the live bucket histogram,
    // and the store gauges (248 rows after the purge, seed + one
    // accepted batch dir, ledger = 2). Empty symmetric difference,
    // hash-exact WHERE FALSE.
    Q("st17_ann_ingest_health",
      (s, dir) => {
        import graft.ext.AnnIndex
        import graft.ext.StoredIndex.{litMetricRow, metricRow}
        import graft.streaming.{StreamingAnnIngest,
          StreamingDedupIngest}
        val embs = t(s, dir, "embeddings").select("vec_id", "embedding")
        val root = java.nio.file.Files
          .createTempDirectory("graft_st17_").toString
        val seed = embs.filter(col("vec_id") < 200)
        val ingest = new StreamingAnnIngest(s, s"$root/ix",
          storeDir = Some(s"$root/store"))
        ingest.seed(seed)
        val newVecs = embs
          .filter(col("vec_id") >= 200 && col("vec_id") < 250)
        StreamingDedupIngest.stage(
          newVecs.unionByName(seed.filter(col("vec_id") < 30)),
          s"$root/staging", "d1")
        ingest.ingestAvailable(s"$root/staging", s"$root/ckpt")
        val slice = embs.filter(col("vec_id").isin(200L, 201L))
        ingest.retract(slice.select("vec_id"))
        val got = ingest.health()
        val twin = s"$root/twin"
        AnnIndex.build(ingest.storeAsOf(-1L), twin)
        AnnIndex.append(newVecs, twin)
        AnnIndex.remove(slice, twin)
        val expect = AnnIndex.health(s, twin)
          .unionByName(metricRow("store_rows",
            seed.unionByName(newVecs)
              .join(slice.select("vec_id"), Seq("vec_id"), "left_anti"),
            count(lit(1L))))
          .unionByName(litMetricRow(s, "store_batches", 2d))
          .unionByName(litMetricRow(s, "retracted_ids", 2d))
        got.exceptAll(expect).unionByName(expect.exceptAll(got))
          .orderBy("metric")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS metric,
                     CAST(NULL AS DOUBLE) AS value
              WHERE FALSE""")),

    // st18: the JOINT ingest's cross-family invariant — "the vectors
    // you can search are exactly the documents you may train on" —
    // held through a full lifecycle that exercises every
    // coordination path: seed (sync admits seed vectors), a drop
    // mixing 50 new docs with 30 near-dup copies (gate quarantines
    // the copies; their embeddings must NOT be admitted), a joint
    // takedown of one seed + one streamed id (both families purge +
    // tombstone), a readmit of two quarantined copies (original-
    // batch re-entry below the sync mark — the repairAlignment path,
    // not the delta path, admits their vectors). Audited three ways:
    // store alignment (corpus ids ≡ vector-store ids), ANN LIVE
    // index ids ≡ corpus, dedup LIVE index ids ≡ corpus. All empty,
    // hash-exact WHERE FALSE.
    Q("st18_corpus_joint_lifecycle",
      (s, dir) => {
        import graft.ext.{AnnIndex, DedupIndex}
        import graft.streaming.{StreamingCorpusIngest,
          StreamingDedupIngest}
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val base = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        // provider covers the near-dup copies' ids too: a readmit
        // needs the quarantined documents' embeddings
        val embs = base.unionByName(base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 20000L).as("doc_id"),
            col("embedding")))
        val root = java.nio.file.Files
          .createTempDirectory("graft_st18_").toString
        val joint = new StreamingCorpusIngest(s, root)
        joint.seed(docs.filter(col("doc_id") < 200), embs)
        val drop = docs
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
          .unionByName(docs.filter(col("doc_id") < 30)
            .select((col("doc_id") + 20000L).as("doc_id"),
              col("text")))
        StreamingDedupIngest.stage(drop, s"$root/staging", "d1")
        joint.ingestAvailable(s"$root/staging", s"$root/ckpt", embs)
        joint.retract(s.createDataFrame(Seq(
          Tuple1(5L), Tuple1(210L))).toDF("doc_id"))
        joint.readmit(s.createDataFrame(Seq(
          Tuple1(20000L), Tuple1(20001L))).toDF("doc_id"), embs)
        val corpusIds = joint.text.corpus().select("doc_id")
        def symDiff(live: org.apache.spark.sql.DataFrame,
                    side: String) = {
          val ids = live.withColumnRenamed("id", "doc_id")
          corpusIds.join(ids, Seq("doc_id"), "left_anti")
            .select(lit(s"corpus_not_$side").as("side"),
              col("doc_id"))
            .unionByName(ids.join(corpusIds, Seq("doc_id"), "left_anti")
              .select(lit(s"${side}_not_corpus").as("side"),
                col("doc_id")))
        }
        joint.alignment()
          .unionByName(symDiff(
            AnnIndex.liveIndexedIds(s, s"$root/ann_index"), "ann"))
          .unionByName(symDiff(
            DedupIndex.liveIndexedIds(s, s"$root/dedup_index"),
            "dedup"))
          .orderBy("side", "doc_id")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS side,
                     CAST(NULL AS BIGINT) AS doc_id
              WHERE FALSE""")),

    // st21: the joint coordinator with the LEXICAL third enabled —
    // st18's lifecycle (seed → gated drop with near-dup copies →
    // joint takedown → readmit) with keywordServing = true, pinning
    // the cross-family invariant on the new axis: the documents you
    // can lexically search are exactly the documents you may train
    // on. The returned frame is the coordinator's full alignment
    // audit (now including the keyword sides) unioned with the
    // symmetric difference of the SERVED BM25 page vs the in-query
    // scorer over the live corpus — all empty, WHERE FALSE. (The
    // live set depends on MinHash gate verdicts, so unlike st20 the
    // end state is twin-pinned, not directly SQL-expressible.)
    Q("st21_joint_keyword_serve",
      (s, dir) => {
        import graft.streaming.{StreamingCorpusIngest,
          StreamingDedupIngest}
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val base = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val embs = base.unionByName(base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 20000L).as("doc_id"),
            col("embedding")))
        val root = java.nio.file.Files
          .createTempDirectory("graft_st21_").toString
        val joint = new StreamingCorpusIngest(s, root,
          keywordServing = true)
        joint.seed(docs.filter(col("doc_id") < 200), embs)
        val drop = docs
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
          .unionByName(docs.filter(col("doc_id") < 30)
            .select((col("doc_id") + 20000L).as("doc_id"),
              col("text")))
        StreamingDedupIngest.stage(drop, s"$root/staging", "d1")
        joint.ingestAvailable(s"$root/staging", s"$root/ckpt", embs)
        joint.retract(s.createDataFrame(Seq(
          Tuple1(5L), Tuple1(210L))).toDF("doc_id"))
        joint.readmit(s.createDataFrame(Seq(
          Tuple1(20000L), Tuple1(20001L))).toDF("doc_id"), embs)
        val served = joint.probeKeywords(KwTerms, topN = 20,
          zeroFill = true)
        val direct = Relevance.bm25TopDocs(
          joint.text.corpus().localCheckpoint(), KwTerms, topN = 20)
        joint.alignment()
          .unionByName(served.exceptAll(direct)
            .unionByName(direct.exceptAll(served))
            .select(lit("served_page_diff").as("side"),
              col("doc_id")))
          .orderBy("side", "doc_id")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS side,
                     CAST(NULL AS BIGINT) AS doc_id
              WHERE FALSE""")),

    Q("st10_stream_drift_psi",
      (s, dir) => StreamingOps.streamingDriftPsi(s, dir),
      Some(s"""WITH rr AS (
                SELECT CAST(FLOOR(value/20)*20 AS BIGINT) AS bin,
                       COUNT(*) AS n
                FROM events GROUP BY 1),
              rt AS (SELECT SUM(n) AS t FROM rr),
              ref AS (
                SELECT bin, CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p_ref
                FROM rr CROSS JOIN rt),
              wr AS (
                SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS window_start,
                       CAST(FLOOR(value/20)*20 AS BIGINT) AS bin,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2),
              wt AS (
                SELECT window_start, SUM(n) AS wt
                FROM wr GROUP BY window_start),
              ws AS (
                SELECT wr.window_start, wr.bin,
                       CAST(n AS DOUBLE) / CAST(wt AS DOUBLE) AS p_win
                FROM wr JOIN wt ON wr.window_start = wt.window_start),
              frame AS (
                SELECT window_start, bin, p_ref
                FROM (SELECT DISTINCT window_start FROM wt) CROSS JOIN ref)
              SELECT COALESCE(f.window_start, w.window_start)
                       AS window_start,
                     COALESCE(f.bin, w.bin) AS bin,
                     ${sqlRoundDet("COALESCE(f.p_ref, 0)", 6)} AS p_ref,
                     ${sqlRoundDet("COALESCE(w.p_win, 0)", 6)} AS p_win,
                     ${sqlRoundDet(
                       """(GREATEST(COALESCE(f.p_ref, 0), 1e-4)
                           - GREATEST(COALESCE(w.p_win, 0), 1e-4))
                          * ln(GREATEST(COALESCE(f.p_ref, 0), 1e-4)
                               / GREATEST(COALESCE(w.p_win, 0), 1e-4))""", 4)}
                       AS psi_term
              FROM frame f FULL OUTER JOIN ws w
                ON f.window_start = w.window_start AND f.bin = w.bin
              ORDER BY window_start, bin""")),

    // streaming native session windows (see sessionWindowStream):
    // append mode emits sessions the final watermark (max ts − 1 h)
    // has closed; the oracle is the batch w3 chain with that filter
    Q("st7_session_window_stream",
      (s, dir) => StreamingOps.sessionWindowStream(s, dir),
      Some(s"""WITH l AS (
                 SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             IS NULL
                         OR ts >= lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts)
                            + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
                 FROM events),
               g AS (
                 SELECT user_id, ts, value,
                        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
                 FROM l)
               SELECT user_id,
                      CAST(MIN(ts) AS TIMESTAMP) AS session_start,
                      CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP)
                        AS session_end,
                      COUNT(*) AS n_events, $SqlSumValue AS sum_value
               FROM g GROUP BY user_id, sid
               HAVING (SELECT epoch_ms(MAX(ts)) FROM events)
                      - epoch_ms(MAX(ts) + INTERVAL 30 MINUTE) > 3600000
               ORDER BY user_id, session_start""")),

    // append-mode windows: only watermark-closed windows are emitted
    // (the immutable-sink production form); the oracle applies the
    // same closed-before-final-watermark filter to the batch result
    Q("st6_stream_tumbling_append",
      (s, dir) => StreamingOps.tumblingEventCountsAppend(s, dir),
      Some(s"""WITH g AS (
                 SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                          AS window_start,
                        event_type, COUNT(*) AS n_events,
                        ${sqlSum("value")} AS sum_value
                 FROM events GROUP BY 1, 2)
               SELECT window_start, event_type, n_events, sum_value
               FROM g
               WHERE epoch_ms(window_start + INTERVAL 1 DAY)
                     < (SELECT epoch_ms(MAX(ts)) FROM events) - 3600000
               ORDER BY window_start, event_type""")),

    // stateful streaming dedup == batch DISTINCT when the replay is
    // driven to completion — the oracle runs the batch form
    Q("st3_stream_dedup",
      (s, dir) => StreamingOps.streamingDedupKeys(s, dir),
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type""")),

    // stream-stream event-time interval join (impression→click
    // attribution). The completed replay equals the batch interval
    // join — the oracle runs exactly that
    Q("st5_stream_interval_join",
      (s, dir) => StreamingOps.streamStreamIntervalJoin(s, dir),
      Some("""SELECT a.event_id AS imp_id, b.event_id AS click_id,
                     a.user_id,
                     CAST(a.ts AS TIMESTAMP) AS imp_ts,
                     CAST(b.ts AS TIMESTAMP) AS click_ts
              FROM events a JOIN events b ON a.user_id = b.user_id
              WHERE a.event_id % 2 = 0 AND b.event_id % 2 = 1
                AND b.ts >= a.ts
                AND b.ts <= a.ts + INTERVAL 10 MINUTE
              ORDER BY imp_id, click_id""")),

    // left-outer stream-stream join: matched pairs plus null-extended
    // impressions whose attribution window the FINAL watermark
    // (min of both sides' max ts − 1 h) has passed — the oracle
    // applies exactly that filter to the batch left join. NULLS FIRST
    // pins DuckDB's default null order to Spark's asc_nulls_first.
    Q("st9_stream_left_outer_join",
      (s, dir) => StreamingOps.streamStreamLeftOuterJoin(s, dir),
      Some("""WITH imp AS (
                SELECT event_id AS imp_id, user_id, ts AS imp_ts
                FROM events WHERE event_id % 2 = 0),
              click AS (
                SELECT event_id AS click_id, user_id AS cu, ts AS click_ts
                FROM events WHERE event_id % 2 = 1),
              wm AS (
                SELECT LEAST((SELECT MAX(imp_ts) FROM imp),
                             (SELECT MAX(click_ts) FROM click))
                       - INTERVAL 1 HOUR AS w),
              m AS (
                SELECT i.imp_id, c.click_id, i.user_id,
                       i.imp_ts, c.click_ts
                FROM imp i JOIN click c ON i.user_id = c.cu
                 AND c.click_ts >= i.imp_ts
                 AND c.click_ts <= i.imp_ts + INTERVAL 10 MINUTE),
              um AS (
                SELECT i.imp_id, CAST(NULL AS BIGINT) AS click_id,
                       i.user_id, i.imp_ts,
                       CAST(NULL AS TIMESTAMP_NS) AS click_ts
                FROM imp i
                WHERE NOT EXISTS (
                    SELECT 1 FROM click c WHERE c.cu = i.user_id
                      AND c.click_ts >= i.imp_ts
                      AND c.click_ts <= i.imp_ts + INTERVAL 10 MINUTE)
                  AND i.imp_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm))
              SELECT imp_id, click_id, user_id,
                     CAST(imp_ts AS TIMESTAMP) AS imp_ts,
                     CAST(click_ts AS TIMESTAMP) AS click_ts
              FROM (SELECT * FROM m UNION ALL SELECT * FROM um)
              ORDER BY imp_id, click_id NULLS FIRST""")),

    // bounded-state dedup: the key carries the event day, so every
    // duplicate pair is < 24 h apart and the 2-day watermark delay
    // guarantees the dedup — completed replay == batch DISTINCT
    Q("st4_stream_dedup_bounded",
      (s, dir) => StreamingOps.streamingDedupBounded(s, dir),
      Some("""SELECT DISTINCT user_id, event_type,
                     CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts_day
              FROM events
              ORDER BY user_id, event_type, ts_day""")),

    // ---- curation round 2: decontamination, packing, mixing, skew,
    // quantization (the c*/a18/x4 family) -----------------------------

    // Benchmark decontamination: docs (doc_id % 20 <> 7) flagged for
    // sharing any 3-gram with the held-out eval slice (doc_id % 20 =
    // 7). The oracle rebuilds the same shingle sets and counts the
    // same distinct-shingle hits. Eval shingles broadcast; corpus
    // bodies never shuffle.
    Q("c1_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ext.Decontaminate.flagged(
            docs.filter(pmod(col("doc_id"), lit(20)) =!= 7),
            docs.filter(pmod(col("doc_id"), lit(20)) === 7))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id, string_split_regex(text, '\s+') AS tk
                FROM documents),
              sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                         range(0, GREATEST(len(tk)-3, 0)+1),
                         i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])))
                         AS shingle
                FROM toks),
              ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 7),
              corp AS (SELECT * FROM sh WHERE doc_id % 20 <> 7)
              SELECT c.doc_id, COUNT(*) AS n_matched
              FROM corp c JOIN ev e ON c.shingle = e.shingle
              GROUP BY c.doc_id ORDER BY c.doc_id""")),

    // Concat-and-chunk sequence packing at a 128-token budget, one
    // independent layout per lang. Pure window cumsum — the oracle is
    // the same cumsum in ANSI SQL.
    Q("c2_pack_sequences",
      (s, dir) => graft.ext.Packing.packSequences(
          t(s, dir, "documents"), budget = 128).orderBy("doc_id"),
      Some(s"""WITH toks AS (
                 SELECT doc_id, lang, CAST($SqlTokens AS BIGINT) AS n_tokens
                 FROM documents),
               c AS (
                 SELECT doc_id, lang, n_tokens,
                        CAST(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens, 0) AS BIGINT) AS strt
                 FROM toks)
               SELECT doc_id, lang, n_tokens,
                      CAST(FLOOR(CAST(strt AS DOUBLE) / 128) AS BIGINT)
                        AS seq_id,
                      strt - CAST(FLOOR(CAST(strt AS DOUBLE) / 128) AS BIGINT)
                             * 128 AS seq_offset
               FROM c ORDER BY doc_id""")),

    // Weighted dataset mix: per-source deterministic sampling rates
    // (80% of src0, 50% of src3, 10% of src7, 25% default). The
    // oracle compares the same 4-hex md5 slot against the same
    // per-class bound — fixed-width lowercase hex compares
    // lexicographically as the integer does.
    Q("c3_weighted_mix",
      (s, dir) => Curation.weightedMix(t(s, dir, "documents"), "source",
          Map("src0" -> 0.8, "src3" -> 0.5, "src7" -> 0.1),
          defaultRate = 0.25)
        .select("doc_id", "source").orderBy("doc_id"),
      Some(s"""SELECT doc_id, source FROM documents
               WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                 CASE source WHEN 'src0' THEN '${hex4(0.8)}'
                             WHEN 'src3' THEN '${hex4(0.5)}'
                             WHEN 'src7' THEN '${hex4(0.1)}'
                             ELSE '${hex4(0.25)}' END
               ORDER BY doc_id""")),

    // Key-skew profile over events.user_id — the diagnostic that
    // decides whether a key needs the salted agg/join route (a10/j6).
    // One bounded summary row.
    Q("a18_skew_profile",
      (s, dir) => Curation.skewProfile(t(s, dir, "events"), "user_id",
        heavyThreshold = 80L),
      Some(s"""WITH pk AS (SELECT user_id, COUNT(*) AS n
                           FROM events GROUP BY user_id)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                      CAST(SUM(n) AS BIGINT) AS n_rows,
                      CAST(MAX(n) AS BIGINT) AS max_n,
                      ${sqlRoundDet("CAST(SUM(n) AS DOUBLE) / COUNT(*)", 4)}
                        AS avg_n,
                      CAST(SUM(CASE WHEN n > 80 THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_heavy,
                      ${sqlRoundDet(
                        "CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)", 6)}
                        AS top_share
               FROM pk""")),

    // Int8 quantization reconstruction-error report: per-vector code
    // range and max/mean |x - dequant(x)|. Same floor(+0.5) half-up
    // rounding and same left-to-right error-sum fold on both engines
    // (list_reduce is the sequential fold; list_sum's order is not
    // contractual).
    Q("x4_quantize",
      (s, dir) => Similarity.quantizeError(t(s, dir, "embeddings"))
        .orderBy("vec_id"),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings),
               q AS (SELECT vec_id, list_min(v) AS mn, list_max(v) AS mx, v
                     FROM e),
               r AS (SELECT vec_id, len(v) AS d,
                       list_transform(v, x -> CASE WHEN mx = mn THEN 0.0
                         ELSE abs(x - (mn
                           + floor((x - mn) / (mx - mn) * 255.0 + 0.5)
                             * ((mx - mn) / 255.0))) END) AS errs,
                       list_transform(v, x ->
                         CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                         ELSE CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5)
                                   AS BIGINT) END) AS codes
                     FROM q)
               SELECT vec_id,
                      CAST(list_min(codes) AS BIGINT) AS code_min,
                      CAST(list_max(codes) AS BIGINT) AS code_max,
                      ${sqlRoundDet("list_max(errs)", 6)} AS max_err,
                      ${sqlRoundDet(
                        "list_reduce(errs, (a, b) -> a + b) / d", 6)}
                        AS avg_err
               FROM r ORDER BY vec_id""")),

    // Embedding-route benchmark decontamination — the paraphrase-
    // leakage complement to c1's n-gram route: eval = the first 30
    // vectors (contract-small, broadcast), corpus = the rest; any
    // corpus vector within cosine 0.3 of an eval vector is scrubbed.
    // One conditioned broadcast join with the fused codegen cosine;
    // embeddings never shuffle. Hash-exact oracled (deterministic
    // chain, rounded cosines).
    Q("e13_semantic_decontaminate",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        graft.ext.Decontaminate.semanticClean(
            embs.filter(col("vec_id") >= 30),
            embs.filter(col("vec_id") < 30), threshold = 0.3)
          .select("vec_id", "label")
          .orderBy("vec_id")
      },
      Some(s"""WITH ce AS (SELECT vec_id,
                             CAST(embedding AS DOUBLE[]) AS v, label
                           FROM embeddings),
                 ev AS (SELECT vec_id AS eid, v AS evv FROM ce
                        WHERE vec_id < 30),
                 tr AS (SELECT vec_id, v, label FROM ce
                        WHERE vec_id >= 30),
                 fl AS (SELECT DISTINCT tr.vec_id
                        FROM tr JOIN ev
                          ON ${sqlRoundDet(sqlCosRaw("tr.v", "ev.evv"), 4)}
                              >= 0.3)
               SELECT vec_id, label FROM tr
               WHERE vec_id NOT IN (SELECT vec_id FROM fl)
               ORDER BY vec_id""")),

    // Semantic outlier pruning (SemDeDup-family data pruning): rank
    // every vector by cosine to its label's elementwise-MEDIAN
    // centroid (deterministic, unlike a mean over a shuffle — the
    // exact interpolated percentile both engines share, see a13/e9)
    // and flag the least-typical 10% per label. One bounded
    // (label, dim) shuffle + a label-keyed rank window; embeddings
    // never shuffle. Hash-exact oracled.
    Q("e14_semantic_outliers",
      (s, dir) => Curation.semanticOutliers(
          t(s, dir, "embeddings"), fraction = 0.1)
        .orderBy("label", "rank"),
      Some(s"""WITH se AS (SELECT vec_id, label,
                             CAST(embedding AS DOUBLE[]) AS v
                           FROM embeddings),
                 sx AS (SELECT label AS grp, g.i AS pos, v[g.i] AS x
                        FROM se, generate_series(1, 64) g(i)),
                 cm AS (SELECT grp, pos, quantile_cont(x, 0.5) AS m
                        FROM sx GROUP BY grp, pos),
                 cv AS (SELECT grp, list(m ORDER BY pos) AS cvec
                        FROM cm GROUP BY grp),
                 sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_grp
                        FROM se GROUP BY label),
                 sc AS (SELECT se.vec_id, se.label,
                          ${sqlRoundDet(sqlCosRaw("se.v", "cv.cvec"), 4)}
                            AS cosine, sz.n_grp
                        FROM se JOIN cv ON se.label = cv.grp
                        JOIN sz ON se.label = sz.label),
                 sr AS (SELECT vec_id, label, cosine,
                          ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY cosine, vec_id) AS rank, n_grp
                        FROM sc)
               SELECT vec_id, label, cosine, rank, n_grp FROM sr
               WHERE rank <= CEIL(n_grp * 0.1)
               ORDER BY label, rank""")),

    // IVF×PQ composition (IVFADC — the billion-scale production
    // layout): IVF prunes pair COUNT (nprobe/ncentroids of the
    // corpus per query), PQ prunes pair COST (4 LUT lookups, codes
    // only — the embedding column never moves after the build
    // passes). Deterministic end to end → the composed chain is
    // hash-exact oracled by joining the two CTE families.
    Q("x8_ivfpq_topk",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        Similarity.ivfPqTopK(embs, embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x8 recall vs exact: what the composed pruning keeps of the
    // true top-5 — compare x7_recall (PQ alone, all pairs scored)
    // and x2_recall (IVF alone, full dots) to read the two dials'
    // separate and joint costs.
    Q("x8_recall",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(embs, q, k = 5)
          .select("qid", "nid")
        val approx = Similarity.ivfPqTopK(embs, q, k = 5)
          .select("qid", "nid").withColumn("m", lit(1))
        exact.join(approx, Seq("qid", "nid"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_matched"))
          .withColumn("recall", graft.ops.Ops.roundDet(
            col("n_matched").cast("double") / col("n_exact").cast("double"),
            4))
      },
      Some(s"""WITH $SqlBruteCtes, $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes,
                 e AS (SELECT qid, nid FROM br WHERE rank <= 5),
                 a AS (SELECT qid, nid, 1 AS m FROM x8r WHERE rank <= 5)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                      CAST(COUNT(a.m) AS BIGINT) AS n_matched,
                      ${sqlRoundDet(
                        "CAST(COUNT(a.m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
                        4)} AS recall
               FROM e LEFT JOIN a USING (qid, nid)""")),

    // Stored-index IVFADC (x9) — the build-once / serve-many split:
    // x8 measures the whole pipeline in-query; x9 splits it into the
    // one-time index build (assign + encode + cid-sorted postings,
    // written to parquet with a corpus-fingerprint meta row) and the
    // per-query probe that reads the stored assets. Same arithmetic,
    // same oracle SQL as x8 — the stored path must serve IDENTICAL
    // neighbors, and the bench rows make the build-vs-serve cost
    // split measurable (the probe never touches the embeddings).
    Q("x9_ann_index_build",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        // unconditional rebuild: this row MEASURES the build cost
        graft.ext.AnnIndex.build(embs, graft.ext.AnnIndex.dirFor(dir))
        graft.ext.AnnIndex.summary(s, graft.ext.AnnIndex.dirFor(dir))
      },
      Some(s"""WITH $SqlIvfStrideCte,
                 inv AS (
                   SELECT 'centroids' AS part,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings, ist
                      WHERE vec_id % ist.st = 0) AS n_rows
                   UNION ALL SELECT 'codebook', 1
                   UNION ALL SELECT 'postings',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings))
               SELECT part, n_rows FROM inv ORDER BY part""")),

    Q("x9_ann_index_probe",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir)
        // serve path: validate-or-build once, then top-k from the
        // stored form only
        graft.ext.AnnIndex.ensure(embs, ix)
        graft.ext.AnnIndex.probeTopK(s, ix,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x17: RANGE (threshold) search from the stored index — every
    // live candidate in the probed buckets above the similarity
    // bar, unranked (no per-qid window in the serve plan: join →
    // ADC score → filter, fully pipelined). The oracle replays the
    // identical IVFADC chain and filters x8score — rank-free — at
    // the same bar.
    Q("x17_ann_range",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, ix)
        graft.ext.AnnIndex.probeRange(s, ix,
          embs.filter(col("vec_id") < 20), threshold = 0.3)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes
               SELECT qid, nid, score
               FROM x8score WHERE score >= 0.3 ORDER BY qid, nid""")),

    // d20: the SEMANTIC dedup gate served from the stored ANN
    // index — per batch vector, its best live match IF that match
    // clears the bar (the accept/quarantine decision per incoming
    // doc), priced as one stored-index probe with the corpus never
    // re-encoded. The MinHash-space twin is d15; this is the
    // embedding-space gate d5/d9 run index-free. Oracle: the x8
    // rank chain at rank 1, threshold-filtered.
    Q("d20_semantic_gate",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, ix)
        graft.ext.AnnIndex.semanticGate(s, ix,
          embs.filter(col("vec_id") < 20), threshold = 0.3)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes
               SELECT qid, nid, score
               FROM x8r WHERE rank = 1 AND score >= 0.3
               ORDER BY qid""")),

    // x18: the stored ANN index's operational HEALTH report — asset
    // sizes, the live/tombstoned LSM split, and the live per-centroid
    // posting histogram (max/p50/avg bucket — probe latency is probed
    // bucket size, so max pulling away from p50 is the retrain-
    // centroids hot-spot signal), plus whether the O(batch) append
    // bloom is armed. Index-asset-sized, corpus never read. The
    // oracle re-derives every number from the source embeddings: the
    // assignment histogram via the x-family's own IVF CTEs (stride
    // centroids, cosine argmax, ties to lower cid), fresh-build
    // invariants for the rest (postings = corpus rows, no
    // tombstones, bloom minted). Tombstone-bearing states are
    // spec-gated (ExtSpec: health after remove / after compact).
    Q("x18_index_health",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, ix)
        graft.ext.AnnIndex.health(s, ix)
      },
      Some(s"""WITH ${sqlIvfStrideCteFor("TRUE")},
                 ic AS (SELECT vec_id AS cid,
                               CAST(embedding AS DOUBLE[]) AS cvec
                        FROM embeddings, ist WHERE vec_id % ist.st = 0),
                 iv AS (SELECT vec_id AS nid,
                               CAST(embedding AS DOUBLE[]) AS nvec
                        FROM embeddings),
                 iasg AS (SELECT nid, cid FROM (
                     SELECT iv.nid, ic.cid,
                       ROW_NUMBER() OVER (PARTITION BY iv.nid ORDER BY
                         ${sqlCosRaw("iv.nvec", "ic.cvec")} DESC, ic.cid)
                         AS rk
                     FROM iv, ic) WHERE rk = 1),
                 pc AS (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS n
                        FROM iasg GROUP BY cid),
                 m AS (
                   SELECT 'avg_bucket' AS metric,
                          ${sqlRoundDet("AVG(n)", 4)} AS value FROM pc
                   UNION ALL SELECT 'bloom_present', 1
                   UNION ALL SELECT 'max_bucket', MAX(n) FROM pc
                   UNION ALL SELECT 'n_cids_live', COUNT(*) FROM pc
                   UNION ALL SELECT 'n_centroids',
                     (SELECT COUNT(*) FROM ic)
                   UNION ALL SELECT 'n_codebook', 1
                   UNION ALL SELECT 'n_live',
                     (SELECT COUNT(*) FROM iasg)
                   UNION ALL SELECT 'n_postings',
                     (SELECT COUNT(*) FROM iasg)
                   UNION ALL SELECT 'n_tombstoned', 0
                   UNION ALL SELECT 'p50_bucket',
                     ${sqlRoundDet("quantile_cont(n, 0.5)", 4)} FROM pc)
               SELECT metric, CAST(value AS DOUBLE) AS value
               FROM m ORDER BY metric""")),

    // x19: serve-while-rebuilding RETRAIN — the actionable response
    // to x18's hot-spot signal. After build(lower half) + append
    // (rest) + retract (every 5th id), rebuildStaged retrains
    // centroids + codebook on the FULL LIVE set in a staging dir
    // (the old index keeps serving throughout) and swaps in a
    // rename-sized window. HASH-EXACT against DuckDB: the oracle
    // trains its IVF/PQ CTEs on the live predicate (every stride-20
    // sample id is ≡0 mod 5, so the sampled sets are well-defined
    // under the filter) and restricts candidates to live ids —
    // exactly what a fresh build over the live corpus serves.
    Q("x19_staged_retrain",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_retrain"
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.build(
          embs.filter(col("vec_id") < half), ix)
        graft.ext.AnnIndex.append(
          embs.filter(col("vec_id") >= half), ix)
        graft.ext.AnnIndex.remove(
          embs.filter(col("vec_id") % 5 === 4), ix)
        graft.ext.AnnIndex.rebuildStaged(
          embs.filter(col("vec_id") % 5 =!= 4), ix)
        graft.ext.AnnIndex.probeTopK(s, ix,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH ${sqlIvfCtesFor("NOT (vec_id % 5 = 4)")},
                    ${sqlPqCtesFor("NOT (vec_id % 5 = 4)")},
                    ${sqlIvfPqRankCtesWhere("NOT (iasg.nid % 5 = 4)")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x9v: the PRODUCTION serve posture — ensure(version = Some(v))
    // validates with ONE 1-row meta read, zero corpus scans (the x9
    // probe row deliberately pays the content-fingerprint scan
    // because fixture dirs can mutate; this row measures what a
    // catalog-versioned deployment actually pays per query). The
    // version is StoredIndex.fileVersion over the corpus parquet —
    // file names/lengths/mtimes only, no data read — so a
    // regenerated fixture still triggers a rebuild (modulo the
    // stated mtime-granularity caveat in fileVersion's scaladoc,
    // which immutable fixture files satisfy). Same stored
    // assets, same probe chain, same x8 oracle SQL → hash-exact.
    // Read its bench row beside x9_ann_index_probe: the delta IS the
    // fingerprint scan the versioned posture removes.
    Q("x9v_ann_probe_versioned",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_v"
        val v = graft.ext.StoredIndex.fileVersion(s,
          s"$dir/embeddings.parquet")
        graft.ext.AnnIndex.ensure(embs, ix, version = Some(v))
        graft.ext.AnnIndex.probeTopK(s, ix,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x12: retraction — build on the full corpus, tombstone a slice
    // (AnnIndex.remove: O(batch) deletes asset + XOR-unmixed meta,
    // no postings rewrite), probe. The probe must serve the exact
    // IVFADC top-k of the LIVE corpus under the ORIGINAL full-corpus
    // assets (centroids/codebook trained before the retraction —
    // standard serve-through-retraction posture), which is x8's
    // oracle chain with the retained-id predicate at the candidate
    // CTE — hash-exact. The bench row prices build + retract +
    // tombstone-filtered probe end-to-end.
    Q("x12_ann_retract",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_retract"
        graft.ext.AnnIndex.build(embs, ix)
        graft.ext.AnnIndex.remove(
          embs.filter(col("vec_id") % 5 === 4), ix)
        graft.ext.AnnIndex.probeTopK(s, ix,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere("iasg.nid % 5 <> 4")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x13: the serving matrix composed — FILTERED search over a
    // RETRACTED index. Tombstones and the allowed set are both
    // pre-filters on the postings, so the result must be the exact
    // IVFADC top-k of (allowed ∩ live) under the original
    // full-corpus assets: x8's chain with both predicates at the
    // candidate CTE, hash-exact. The production shape: "search
    // permissive-licensed docs, takedowns applied".
    Q("x13_ann_filtered_retract",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_fr"
        graft.ext.AnnIndex.build(embs, ix)
        graft.ext.AnnIndex.remove(
          embs.filter(col("vec_id") % 5 === 4), ix)
        graft.ext.AnnIndex.probeTopKFiltered(s, ix,
          embs.filter(col("vec_id") < 20),
          embs.filter(col("vec_id") % 3 === 0).select("vec_id"),
          k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere(
                      "iasg.nid % 5 <> 4 AND iasg.nid % 3 = 0")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x11: metadata-filtered ANN — top-k among an ALLOWED id subset
    // (pre-filter: the allowed set restricts candidates BEFORE
    // scoring, so results are the exact IVFADC top-k of the allowed
    // sub-corpus within the probed buckets; see
    // AnnIndex.probeTopKFiltered). The oracle is x8's chain with the
    // same predicate applied at the candidate CTE — hash-exact.
    Q("x11_filtered_ann",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, ix)
        graft.ext.AnnIndex.probeTopKFiltered(s, ix,
          embs.filter(col("vec_id") < 20),
          embs.filter(col("vec_id") % 3 === 0).select("vec_id"),
          k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere("iasg.nid % 3 = 0")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x20: BATCHED filtered dense serve — x11's pre-filter semantics
    // with PER-QUERY allowed subsets (k17's shape on the dense
    // family, closing the batch × filtered cell of the retrieval
    // matrix on this side): the (qid, nid) restriction semi-joins
    // the candidate slice BEFORE the LUT join and the ADC fold, so
    // disallowed candidates never cost a score; every window in the
    // probe chain is already qid-partitioned. Two queries with
    // DIFFERENT grants (one %3, one %2) — the oracle folds both into
    // the x8cand predicate, per (ipr.qid, iasg.nid).
    Q("x20_ann_multi_filtered",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, ix)
        val pairs = embs.filter(col("vec_id") % 3 === 0)
          .select(lit(7L).as("qid"), col("vec_id"))
          .unionByName(embs.filter(col("vec_id") % 2 === 0)
            .select(lit(11L).as("qid"), col("vec_id")))
        graft.ext.AnnIndex.probeManyFiltered(s, ix,
          embs.filter(col("vec_id").isin(7L, 11L)), pairs, k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere(
                      "(ipr.qid = 7 AND iasg.nid % 3 = 0) OR " +
                        "(ipr.qid = 11 AND iasg.nid % 2 = 0)")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x21: REGISTERED-tenant dense serve — the dense family's
    // k15 (AnnIndex.registerTenants + probeTopKTenant): the tenant
    // grant lives as a STORED (tenant, id)-clustered overlay asset,
    // and the probe draws its pre-filter from that slice (id-IN
    // literals under the pushdown cap) instead of a caller-carried
    // allowed frame — closing the dense × tenant cell of the serve
    // matrix. The lifecycle is exercised in-query: register over the
    // full corpus (tenant = id mod 3), retract every 5th id, then
    // serve tenant "t0" — the page must be the exact IVFADC top-k of
    // (tenant ∩ live), which is x13's oracle chain with the tenant's
    // membership rule as the predicate. No stats gauge exists on
    // this family (ADC scores use no corpus statistics), so
    // correctness is pure membership — hash-exact.
    Q("x21_ann_tenant",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_ten"
        graft.ext.AnnIndex.build(embs, ix)
        graft.ext.AnnIndex.registerTenants(s, ix,
          embs.select(col("vec_id"),
            concat(lit("t"), (col("vec_id") % 3).cast("string")).as("tenant")))
        graft.ext.AnnIndex.remove(
          embs.filter(col("vec_id") % 5 === 4), ix)
        graft.ext.AnnIndex.probeTopKTenant(s, ix,
          embs.filter(col("vec_id") < 20), k = 5, tenant = "t0")
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere(
                      "iasg.nid % 5 <> 4 AND iasg.nid % 3 = 0")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x22: BATCHED registered-tenant dense serve — x21 on the batch
    // dimension (k20's shape on the dense family, closing batch ×
    // tenant on this side): each (qid, tenant) query's page is the
    // exact IVFADC top-k within ITS tenant's live vectors, from ONE
    // overlay slice over the named tenants expanded to (qid, nid)
    // pairs that semi-join the candidates BEFORE the ADC fold. Two
    // qids in DIFFERENT tenants over the retracted index — the
    // oracle folds both memberships into the candidate predicate,
    // per (ipr.qid, iasg.nid).
    Q("x22_ann_multi_tenant",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_mten"
        graft.ext.AnnIndex.build(embs, ix)
        graft.ext.AnnIndex.registerTenants(s, ix,
          embs.select(col("vec_id"),
            concat(lit("t"), (col("vec_id") % 3).cast("string")).as("tenant")))
        graft.ext.AnnIndex.remove(
          embs.filter(col("vec_id") % 5 === 4), ix)
        graft.ext.AnnIndex.probeManyTenant(s, ix,
          embs.filter(col("vec_id").isin(7L, 11L)),
          Seq((7L, "t1"), (11L, "t2")), k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere(
                      "iasg.nid % 5 <> 4 AND (" +
                        "(ipr.qid = 7 AND iasg.nid % 3 = 1) OR " +
                        "(ipr.qid = 11 AND iasg.nid % 3 = 2))")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x23: tenant THRESHOLD dense serve — probeRange's semantics
    // composed with x21's stored-overlay grant path, closing the
    // dense threshold × tenant cell (k23's shape on this family):
    // every vector of THIS tenant's live slice, within the probed
    // buckets, whose ADC score clears the bar — join→score→filter,
    // NO rank window, grant pre-filtering the candidates (id-IN
    // literals under the cap) BEFORE the LUT join. Same lifecycle
    // arrangement as x21 (register %3, retract every 5th), oracle =
    // the x8 score chain with the tenant∩live membership predicate,
    // threshold-filtered pre-rank.
    Q("x23_ann_tenant_range",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_tnr"
        graft.ext.AnnIndex.build(embs, ix)
        graft.ext.AnnIndex.registerTenants(s, ix,
          embs.select(col("vec_id"),
            concat(lit("t"), (col("vec_id") % 3).cast("string")).as("tenant")))
        graft.ext.AnnIndex.remove(
          embs.filter(col("vec_id") % 5 === 4), ix)
        graft.ext.AnnIndex.probeRangeTenant(s, ix,
          embs.filter(col("vec_id") < 20), threshold = 0.3,
          tenant = "t0")
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere(
                      "iasg.nid % 5 <> 4 AND iasg.nid % 3 = 0")}
               SELECT qid, nid, score
               FROM x8score WHERE score >= 0.3 ORDER BY qid, nid""")),

    // x24: O(batch) tenant RE-ASSIGNMENT on the dense family — the
    // ACL move that previously required a full re-registration pass:
    // reassignTenants tombstones the old (id, tenant) pairs in the
    // overlay's OWN tombstone list (tdels/ — the index tombstones
    // cannot carry it, the vectors stay live) and appends/resurrects
    // the new pairs; unassignTenants ends membership the same way;
    // assignTenants re-adding a previously-held pair RESURRECTS its
    // stale physical row instead of duplicating it. The row runs the
    // full mutation algebra — move (%12=0: t0→t1, kept), bounce
    // (%12=3: t0→t1→t0, resurrection), drop (%12=6: unassigned),
    // rejoin (%12=9: unassigned then re-assigned to t0, the assign-
    // side resurrection) — then COMPACTS (tdels materialized into
    // the clustered overlay) and serves both affected tenants
    // batched. Oracle: the x8 chain under the post-move membership
    // rule per qid — the whole mutation chain must be invisible
    // relative to a fresh registration of the final ACL state.
    Q("x24_ann_tenant_reassign",
      (s, dir) => {
        import graft.ext.AnnIndex
        val embs = t(s, dir, "embeddings")
        val ix = AnnIndex.dirFor(dir) + "_rs"
        def ten(df: org.apache.spark.sql.DataFrame, tn: String) =
          df.select(col("vec_id"), lit(tn).as("tenant"))
        AnnIndex.build(embs, ix)
        AnnIndex.registerTenants(s, ix,
          embs.select(col("vec_id"),
            concat(lit("t"), (col("vec_id") % 3).cast("string")).as("tenant")))
        val move = embs.filter(col("vec_id") % 12 === 0)
        val bounce = embs.filter(col("vec_id") % 12 === 3)
        val drop = embs.filter(col("vec_id") % 12 === 6)
        val rejoin = embs.filter(col("vec_id") % 12 === 9)
        AnnIndex.reassignTenants(s, ix,
          ten(move.unionByName(bounce), "t1"))
        AnnIndex.reassignTenants(s, ix, ten(bounce, "t0"))
        AnnIndex.unassignTenants(s, ix,
          drop.unionByName(rejoin).select("vec_id"))
        AnnIndex.assignTenants(s, ix, ten(rejoin, "t0"))
        AnnIndex.compact(s, ix)
        AnnIndex.probeManyTenant(s, ix,
          embs.filter(col("vec_id").isin(7L, 11L)),
          Seq((7L, "t0"), (11L, "t1")), k = 5)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere(
                      "(ipr.qid = 7 AND iasg.nid % 3 = 0" +
                        " AND NOT iasg.nid % 12 = 0" +
                        " AND NOT iasg.nid % 12 = 6) OR " +
                        "(ipr.qid = 11 AND (iasg.nid % 3 = 1" +
                        " OR iasg.nid % 12 = 0))")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x10: incremental index maintenance — build the stored index on
    // the LOWER id half of the corpus, AnnIndex.append the upper
    // half (encoded/assigned against the STORED assets, meta updated
    // in O(batch) via the XOR-fold fingerprint algebra), then probe.
    // The lower/upper split is deliberate: a parity split would be
    // vacuous here, because the stride sample (multiples of 20) is
    // entirely even — "half-trained" assets would coincide with the
    // full-corpus assets. Splitting at (max+1)/2 halves the centroid
    // set and codebook for real. Hash-exact oracle: the same IVFADC
    // SQL with the centroid/codebook CTEs sourced from the lower
    // half only (centPred) while the corpus side spans all of
    // embeddings — exactly what an append-without-retrain must
    // serve. The appended index also passes a content ensure() over
    // the union corpus without rebuilding (ExtSpec pins that, plus
    // the duplicate-id guard). NOTE this row REBUILDS per run by
    // design (it gates append correctness from a known base), so its
    // bench time prices rebuild + idbloom mint + append together;
    // x10s_append_steady is the steady-state split that prices the
    // production O(batch) append alone.
    Q("x10_ann_index_append",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_append"
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.build(
          embs.filter(col("vec_id") < half), ix)
        graft.ext.AnnIndex.append(
          embs.filter(col("vec_id") >= half), ix)
        graft.ext.AnnIndex.probeTopK(s, ix,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH ${sqlIvfCtesFor(SqlLowerHalfPred)},
                    ${sqlPqCtesFor(SqlLowerHalfPred)},
                    $SqlIvfPqRankCtes
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x15: the ANN distributed BUILD — train once on the lower half
    // (the trainer index), AnnIndex.shardFrom encodes the upper half
    // against the trainer's COPIED assets as an independent job
    // (zero cross-shard traffic; at scale every slice encodes in
    // parallel instead of serializing through one append chain),
    // then AnnIndex.merge unions the shards in O(assets): posting
    // FILES copy, metas XOR-fold, blooms union, asset fingerprints
    // verified equal. Content-identical to x10's build-then-append
    // by construction — so the x10 oracle (lower-half-trained
    // assets over the full corpus) must match hash-exact.
    Q("x15_ann_shard_merge",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val base = graft.ext.AnnIndex.dirFor(dir)
        val (trainer, shard, merged) =
          (base + "_shT", base + "_shB", base + "_shM")
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.build(
          embs.filter(col("vec_id") < half), trainer)
        graft.ext.AnnIndex.shardFrom(trainer,
          embs.filter(col("vec_id") >= half), shard)
        graft.ext.AnnIndex.merge(s, Seq(trainer, shard), merged)
        graft.ext.AnnIndex.probeTopK(s, merged,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH ${sqlIvfCtesFor(SqlLowerHalfPred)},
                    ${sqlPqCtesFor(SqlLowerHalfPred)},
                    $SqlIvfPqRankCtes
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x16: the ANN continuous BULK-LOAD — the serving index absorbs
    // a shardFrom-encoded slice IN PLACE in O(shard-files): the
    // encode ran off the serving path, the landing is a posting
    // file copy + meta fold (asset fingerprints verified equal
    // first), and the big index's postings are never read or
    // rewritten. Content-identical to x10's build-then-append by
    // construction — the x10 oracle must match hash-exact.
    Q("x16_ann_absorb",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val base = graft.ext.AnnIndex.dirFor(dir)
        val (ixT, ixS) = (base + "_abT", base + "_abS")
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.build(
          embs.filter(col("vec_id") < half), ixT)
        graft.ext.AnnIndex.shardFrom(ixT,
          embs.filter(col("vec_id") >= half), ixS)
        graft.ext.AnnIndex.absorb(s, ixS, ixT)
        graft.ext.AnnIndex.probeTopK(s, ixT,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH ${sqlIvfCtesFor(SqlLowerHalfPred)},
                    ${sqlPqCtesFor(SqlLowerHalfPred)},
                    $SqlIvfPqRankCtes
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x9c: probe correctness SURVIVES postings compaction — x10's
    // build-lower/append-upper chain, then AnnIndex.compact (the
    // cid-clustered postings rewrite behind the commit-marker swap),
    // then the same probe. Content is untouched by construction, so
    // the x10 oracle (lower-half-trained assets over the full
    // corpus) must still match hash-exact — the registered twin of
    // the d15c row, closing the maintenance story on both index
    // families with a correctness gate, not just a spec.
    Q("x9c_compact_probe",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_compact"
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.build(
          embs.filter(col("vec_id") < half), ix)
        graft.ext.AnnIndex.append(
          embs.filter(col("vec_id") >= half), ix)
        graft.ext.AnnIndex.compact(s, ix)
        graft.ext.AnnIndex.probeTopK(s, ix,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH ${sqlIvfCtesFor(SqlLowerHalfPred)},
                    ${sqlPqCtesFor(SqlLowerHalfPred)},
                    $SqlIvfPqRankCtes
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x14: the FULL ANN index lifecycle in one chain — the x-family
    // twin of d17, closing the one interleaving no other row covers:
    // build (lower half) → append ([half, 3/4)) → retract (every
    // 5th id so far) → compact (materializes the deletions AND
    // refreshes the id bloom) → append AGAIN ([3/4, max], into the
    // compacted index, its ids vetted by the refreshed bloom guard)
    // → probe. Unlike d17's empty-difference contract this is
    // HASH-EXACT against DuckDB directly: assets are trained on the
    // lower half (centPred), the corpus side spans all of
    // embeddings, and the live set is everything minus the retracted
    // slice — the x10 oracle with the retraction predicate at the
    // candidate CTE.
    Q("x14_ann_lifecycle",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_life"
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        val threeQ = embs.agg((max(col("vec_id")) + 1) * 3 / 4)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.build(
          embs.filter(col("vec_id") < half), ix)
        graft.ext.AnnIndex.append(
          embs.filter(col("vec_id") >= half &&
            col("vec_id") < threeQ), ix)
        graft.ext.AnnIndex.remove(
          embs.filter(col("vec_id") % 5 === 4 &&
            col("vec_id") < threeQ), ix)
        graft.ext.AnnIndex.compact(s, ix)
        graft.ext.AnnIndex.append(
          embs.filter(col("vec_id") >= threeQ), ix)
        graft.ext.AnnIndex.probeTopK(s, ix,
          embs.filter(col("vec_id") < 20), k = 5)
      },
      Some(s"""WITH ${sqlIvfCtesFor(SqlLowerHalfPred)},
                    ${sqlPqCtesFor(SqlLowerHalfPred)},
                    ${sqlIvfPqRankCtesWhere(
                      "NOT (iasg.nid % 5 = 4 AND iasg.nid < " +
                        "(SELECT (3 * (MAX(vec_id) + 1)) // 4 " +
                        "FROM embeddings))")}
               SELECT qid, rank, nid, score
               FROM x8r WHERE rank <= 5 ORDER BY qid, rank""")),

    // x10s: the STEADY-STATE append price. x10 rebuilds its index
    // every run, so its bench row conflates the (deliberately
    // expensive) rebuild with the O(batch) production append the
    // specs prove. This row prices what a deployment actually pays
    // per increment: ensure under the VERSIONED posture (one 1-row
    // meta read — the index persists across runs), then ONE append
    // of a corpus-half-sized batch whose ids are minted fresh above
    // the stored max_id, through the full bloom-gated duplicate
    // guard + encode/assign + XOR meta merge. The output pins the
    // meta algebra (rows grown == batch rows, oracle = the upper-
    // half count); the appended vectors are upper-half re-ids, so
    // the index accretes across runs by design — maybeCompact(256)
    // bounds the file count, and the occasional run that triggers
    // it pays the amortized maintenance price (a timing spike at an
    // UNCHANGED digest is that compaction, not a regression).
    Q("x10s_append_steady",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_steady"
        val v = graft.ext.StoredIndex.fileVersion(s,
          s"$dir/embeddings.parquet")
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.ensure(
          embs.filter(col("vec_id") < half), ix, version = Some(v))
        val before = graft.ext.StoredIndex.committedMeta(s, ix, "x10s")
        val offset = before.getLong(1) + 1L
        graft.ext.AnnIndex.append(
          embs.filter(col("vec_id") >= half)
            .withColumn("vec_id",
              col("vec_id") - lit(half) + lit(offset)), ix)
        graft.ext.AnnIndex.maybeCompact(s, ix, maxFiles = 256)
        val after = graft.ext.StoredIndex.committedMeta(s, ix, "x10s")
        s.range(1).select(
          lit(after.getLong(0) - before.getLong(0)).as("n_appended"))
      },
      Some(s"""SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
                       WHERE NOT ($SqlLowerHalfPred)) AS n_appended""")),

    // x10 recall vs exact: the price of serving from assets trained
    // on HALF the corpus (append's documented drift trade-off, made
    // a pinned number). Read beside x8_recall — full-corpus assets —
    // to see what append-without-retrain costs; when the gap widens
    // on a real distribution shift, that is the signal to schedule
    // the periodic rebuild the scaladoc prescribes.
    Q("x10_recall",
      (s, dir) => {
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.AnnIndex.dirFor(dir) + "_append"
        val half = embs.agg((max(col("vec_id")) + 1) / 2)
          .head.getDouble(0).toLong
        graft.ext.AnnIndex.build(
          embs.filter(col("vec_id") < half), ix)
        graft.ext.AnnIndex.append(
          embs.filter(col("vec_id") >= half), ix)
        val q = embs.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(embs, q, k = 5)
          .select("qid", "nid")
        val approx = graft.ext.AnnIndex.probeTopK(s, ix, q, k = 5)
          .select("qid", "nid").withColumn("m", lit(1))
        exact.join(approx, Seq("qid", "nid"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_matched"))
          .withColumn("recall", graft.ops.Ops.roundDet(
            col("n_matched").cast("double") / col("n_exact").cast("double"),
            4))
      },
      Some(s"""WITH $SqlBruteCtes, ${sqlIvfCtesFor(SqlLowerHalfPred)},
                    ${sqlPqCtesFor(SqlLowerHalfPred)}, $SqlIvfPqRankCtes,
                 e AS (SELECT qid, nid FROM br WHERE rank <= 5),
                 a AS (SELECT qid, nid, 1 AS m FROM x8r WHERE rank <= 5)
               SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                      CAST(COUNT(a.m) AS BIGINT) AS n_matched,
                      ${sqlRoundDet(
                        "CAST(COUNT(a.m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
                        4)} AS recall
               FROM e LEFT JOIN a USING (qid, nid)""")),

    // ---- data layout: z-order + zone maps -----------------------------
    // (Morton-key clustering and per-file min/max stats — the layout
    // side of the 100 TB posture, oracled as plain bit arithmetic.)

    // The two dims are multiplicative-hash buckets (Knuth constants,
    // pure BIGINT arithmetic — identical in DuckDB, no overflow at
    // any sf): raw l_orderkey/l_partkey spans vary 100× across the
    // sf fixtures, while the bucketized grid is uniformly covered at
    // every scale, so the z3 pruning ratios are sf-stable.

    // z1: the Morton key itself — interleaved bits of the two
    // bucketized dims, identical shift/mask chain on both engines.
    Q("z1_zorder_key",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.select(col("l_orderkey"), col("l_linenumber"),
            pmod(col("l_orderkey") * lit(2654435761L), lit(1024)).as("xb"),
            pmod(col("l_partkey") * lit(2246822519L), lit(1024)).as("yb"))
          .withColumn("zkey",
            Layout.zorderKey2(col("xb"), col("yb")))
          .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
          .limit(100)
      },
      Some(s"""WITH $SqlZBuckets
               SELECT l_orderkey, l_linenumber, xb, yb,
                      ${SqlZKey("xb", "yb")} AS zkey
               FROM zb
               ORDER BY zkey, l_orderkey, l_linenumber LIMIT 100""")),

    // z2: the zone map a z-ordered write produces — per-file (top 8
    // key bits = 256 value-range files) min/max of both dims +
    // count. Every file's box is a 64×64 quadrant; the linear
    // layout's boxes (z3) are 4-wide full-height stripes.
    Q("z2_zonemap_stats",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val b = li.select(
          pmod(col("l_orderkey") * lit(2654435761L), lit(1024)).as("xb"),
          pmod(col("l_partkey") * lit(2246822519L), lit(1024)).as("yb"))
        Layout.zonemap2(b, Layout.zorderKey2(col("xb"), col("yb")),
            shift = 12, col("xb"), col("yb"))
          .orderBy("file_id")
      },
      Some(s"""WITH $SqlZBuckets
               SELECT ${SqlZKey("xb", "yb")} >> 12 AS file_id,
                      CAST(COUNT(*) AS BIGINT) AS n_rows,
                      MIN(xb) AS min_x, MAX(xb) AS max_x,
                      MIN(yb) AS min_y, MAX(yb) AS max_y
               FROM zb GROUP BY 1 ORDER BY file_id""")),

    // z3: the payoff row — files/rows a 2-D range predicate must scan
    // under linear vs z-order layout (zone-map box intersection), vs
    // the true selected rows. Same 256-file chunking both layouts:
    // the z boxes bound BOTH dims (64×64), the linear stripes bound
    // only x, so the y side of the predicate prunes nothing there —
    // measured here as ~4× fewer rows scanned under z-order at the
    // same file count (sf0.01: 16 files/3.7k rows vs 64/14.9k).
    Q("z3_prune_fraction",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        Layout.pruneStats2(li,
          pmod(col("l_orderkey") * lit(2654435761L), lit(1024)),
          pmod(col("l_partkey") * lit(2246822519L), lit(1024)),
          bits = 10, filesShift = 12,
          x1 = 100, x2 = 160, y1 = 300, y2 = 360)
      },
      Some(s"""WITH $SqlZBuckets,
                 zm AS (SELECT ${SqlZKey("xb", "yb")} >> 12 AS file_id,
                          CAST(COUNT(*) AS BIGINT) AS n_rows,
                          MIN(xb) AS min_x, MAX(xb) AS max_x,
                          MIN(yb) AS min_y, MAX(yb) AS max_y
                        FROM zb GROUP BY 1),
                 lm AS (SELECT ((CAST(xb AS BIGINT) << 10) | yb) >> 12
                            AS file_id,
                          CAST(COUNT(*) AS BIGINT) AS n_rows,
                          MIN(xb) AS min_x, MAX(xb) AS max_x,
                          MIN(yb) AS min_y, MAX(yb) AS max_y
                        FROM zb GROUP BY 1),
                 zs AS (SELECT CAST(COUNT(*) AS BIGINT) AS files_zorder,
                          CAST(SUM(n_rows) AS BIGINT) AS rows_zorder
                        FROM zm WHERE min_x <= 160 AND max_x >= 100
                          AND min_y <= 360 AND max_y >= 300),
                 ls AS (SELECT CAST(COUNT(*) AS BIGINT) AS files_linear,
                          CAST(SUM(n_rows) AS BIGINT) AS rows_linear
                        FROM lm WHERE min_x <= 160 AND max_x >= 100
                          AND min_y <= 360 AND max_y >= 300),
                 h AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_selected
                       FROM zb WHERE xb BETWEEN 100 AND 160
                         AND yb BETWEEN 300 AND 360)
               SELECT files_linear, rows_linear, files_zorder,
                      rows_zorder, rows_selected
               FROM ls, zs, h""")),

    // z4: compaction planning over a small-file inventory (files =
    // 128 orderkey-hash buckets per l_returnflag partition, sized in
    // rows): per partition, walk files in id order and cut bins at
    // the 4000-row target by exclusive running sum — the offset-
    // packing idealization of Spark's own FilePartition/
    // maxPartitionBytes split planning, and the rewrite schedule an
    // OPTIMIZE/compact job would execute. Output = per-bin summary;
    // the window is partition-scoped, never global.
    Q("z4_compaction_plan",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val inventory = li.groupBy(col("l_returnflag").as("part"),
            pmod(col("l_orderkey") * lit(2654435761L), lit(128))
              .as("file_id"))
          .agg(count(lit(1)).as("size"))
        Layout.compactionPlan(inventory, col("part"), col("file_id"),
            col("size"), target = 4000L)
          .groupBy("part", "bin")
          .agg(count(lit(1)).as("n_files"),
            sum(col("size")).cast("long").as("total_rows"),
            min(col("file_id")).as("first_file"),
            max(col("file_id")).as("last_file"))
          .orderBy("part", "bin")
      },
      Some("""WITH inv AS (SELECT l_returnflag AS part,
                             (l_orderkey * 2654435761) % 128 AS file_id,
                             CAST(COUNT(*) AS BIGINT) AS size
                           FROM lineitem GROUP BY 1, 2),
                 planned AS (SELECT part, file_id, size,
                               CAST(FLOOR(COALESCE(SUM(size) OVER (
                                   PARTITION BY part ORDER BY file_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) / 4000.0)
                                 AS BIGINT) AS bin
                             FROM inv)
              SELECT part, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
                     CAST(SUM(size) AS BIGINT) AS total_rows,
                     MIN(file_id) AS first_file,
                     MAX(file_id) AS last_file
              FROM planned GROUP BY part, bin ORDER BY part, bin""")),

    // z5: per-block bloom index + point-lookup skipping report —
    // the data-skipping structure zone maps (z2/z3) cannot provide:
    // high-cardinality unordered keys (part keys, user ids) have
    // useless min/max boxes, but 4096 md5-hashed bits per block
    // answer point predicates with zero false negatives. Because
    // the hash is the repo's engine-portable md5 recipe, the oracle
    // rebuilds the SAME bloom bit-for-bit in SQL — the bloom side is
    // hash-checked, not just the exact side — and the false_neg
    // column is the in-row no-false-negative contract (always 0).
    // Probes: 3 part keys present at every sf, 2 absent.
    Q("z5_bloom_skipping",
      (s, dir) => {
        import s.implicits._
        val probes = Seq(1L, 2L, 3L, 10000019L, 10000037L)
          .toDF("probe_key")
        Layout.bloomSkipStats(t(s, dir, "lineitem"),
          pmod(col("l_orderkey"), lit(64)), col("l_partkey"), probes)
      },
      Some(s"""WITH base AS (SELECT l_orderkey % 64 AS block,
                               l_partkey AS key FROM lineitem),
               probes(probe_key) AS (VALUES (1::BIGINT), (2::BIGINT),
                 (3::BIGINT), (10000019::BIGINT), (10000037::BIGINT)),
               seeds(j) AS (VALUES (0), (1), (2)),
               bbits AS (
                 SELECT block,
                        CAST(('0x' || substring(md5(CAST(key AS VARCHAR)
                          || '#' || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT)
                          % 4096 AS pos
                 FROM base, seeds),
               bloom AS (
                 SELECT block, CAST(pos // 32 AS INTEGER) AS word_idx,
                        bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER))
                          AS word
                 FROM bbits GROUP BY 1, 2),
               pbits AS (
                 SELECT probe_key,
                        CAST(('0x' || substring(md5(CAST(probe_key
                          AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 4))
                          AS BIGINT) % 4096 AS pos
                 FROM probes, seeds),
               need AS (
                 SELECT probe_key, CAST(pos // 32 AS INTEGER) AS word_idx,
                        bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER))
                          AS need
                 FROM pbits GROUP BY 1, 2),
               nw AS (SELECT probe_key, COUNT(*) AS nw
                      FROM need GROUP BY 1),
               mb AS (
                 SELECT n.probe_key, b.block, COUNT(*) AS ok
                 FROM need n JOIN bloom b USING (word_idx)
                 WHERE (b.word & n.need) = n.need
                 GROUP BY 1, 2),
               maybe AS (
                 SELECT mb.probe_key, mb.block
                 FROM mb JOIN nw USING (probe_key) WHERE mb.ok = nw.nw),
               exact AS (
                 SELECT DISTINCT p.probe_key, b.block
                 FROM base b JOIN probes p ON b.key = p.probe_key),
               fn AS (
                 SELECT probe_key, COUNT(*) AS false_neg FROM (
                   SELECT probe_key, block FROM exact
                   EXCEPT SELECT probe_key, block FROM maybe)
                 GROUP BY 1),
               tot AS (SELECT COUNT(DISTINCT block) AS n_blocks FROM base)
               SELECT p.probe_key, tot.n_blocks,
                      COALESCE(e.c, 0) AS exact_blocks,
                      COALESCE(m.c, 0) AS maybe_blocks,
                      COALESCE(fn.false_neg, 0) AS false_neg,
                      ${sqlRoundDet(
                        """1.0 - CAST(COALESCE(m.c, 0) AS DOUBLE)
                           / tot.n_blocks""", 4)} AS skipped_frac
               FROM probes p CROSS JOIN tot
               LEFT JOIN (SELECT probe_key, COUNT(*) AS c FROM exact
                          GROUP BY 1) e USING (probe_key)
               LEFT JOIN (SELECT probe_key, COUNT(*) AS c FROM maybe
                          GROUP BY 1) m USING (probe_key)
               LEFT JOIN fn USING (probe_key)
               ORDER BY probe_key""")),

    // BPE tokenizer training driver rows (ext/Bpe.scala; spec-deep
    // coverage in BpeSpec). b1 is the SQL-oracle-able slice: round-1
    // adjacent-pair counts (tokenize → chars+</w> → weighted pair
    // count), hash-exact against a DuckDB substr/generate_series
    // twin. b2 is the iterative trainer itself — state evolves across
    // rounds, so no SQL form exists; it ships rows-only plus the
    // b2_bpe_contract empty-set twin that checks the learnable
    // invariants: (a) the first learned merge IS b1's argmax, (b) at
    // batch=1, learned pair counts never increase with round (a new
    // pair's occurrences each come from an occurrence of the pair
    // just merged, so its count is bounded by the earlier max; all
    // pre-existing counts only shrink), (c) rounds are dense 1..n.
    Q("b1_bpe_pair_counts",
      (s, dir) => graft.ext.Bpe.initialPairCounts(t(s, dir, "documents"))
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(50)
        .select(col("left").as("left_sym"), col("right").as("right_sym"),
          col("pair_count")),
      Some("""WITH wc AS (
                SELECT word, COUNT(*) AS n
                FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
                      FROM documents)
                WHERE length(word) > 0 GROUP BY word
              ),
              pairs AS (
                SELECT substr(word, CAST(i AS INTEGER), 1) AS left_sym,
                       CASE WHEN i < length(word)
                            THEN substr(word, CAST(i AS INTEGER) + 1, 1)
                            ELSE '</w>' END AS right_sym,
                       n
                FROM wc, unnest(generate_series(1, length(word))) AS t(i)
              )
              SELECT left_sym, right_sym,
                     CAST(SUM(n) AS BIGINT) AS pair_count
              FROM pairs GROUP BY left_sym, right_sym
              ORDER BY pair_count DESC, left_sym, right_sym LIMIT 50""")),

    // b1_bpe_merges: the learned merge TABLE itself, hash-exact. The
    // trainer is deterministic by construction — max count then
    // lexicographic (left, right) tie-break (Bpe.trainWithStats), so
    // over the seed-42 fixture corpus the 12-merge table is a FIXED
    // relation; the oracle pins it as a precomputed expected VALUES
    // relation (computed once from the sf0.01 fixture — the
    // correctness gate's scale). The registered plan is b2's trainer
    // verbatim; this row upgrades the family from rows-only to a
    // hash-exact anchor (VERDICT r7 #2).
    Q("b1_bpe_merges",
      (s, dir) => graft.ext.Bpe.train(s, t(s, dir, "documents"), 12)
        .select(col("round"), col("left").as("left_sym"),
          col("right").as("right_sym"), col("pair_count"))
        .orderBy("round"),
      Some("""SELECT CAST(r AS INTEGER) AS round, l AS left_sym,
                     rt AS right_sym, CAST(c AS BIGINT) AS pair_count
              FROM (VALUES
                (1, 'e', 'r', 4568), (2, 'e', '</w>', 4473),
                (3, 'n', '</w>', 2834), (4, 'er', '</w>', 2779),
                (5, 'o', 'w', 2747), (6, 'ow', '</w>', 2747),
                (7, 'o', 'r', 2696), (8, 's', 't', 2676),
                (9, 'h', '</w>', 1884), (10, 'a', 't', 1845),
                (11, 'l', 'u', 1831), (12, 'i', 'n', 1796))
                AS m(r, l, rt, c)
              ORDER BY round""")),

    // b2: the FULL iterative trainer, hash-exact against a DuckDB
    // RECURSIVE replay (round 10; b1's fixture-pinned VALUES table
    // remains as the independent cross-check of the same frame).
    // The recursion carries the per-word symbol state; each step
    // picks min(struct(-count, left, right)) — the trainer's exact
    // (count desc, left, right) argmax — and applies the merge with
    // leftmost-first overlap semantics via the run-parity rule (a
    // position merges iff its offset within its consecutive match
    // run is even — equivalent to the Spark side's left-to-right
    // fold on runs like "aaa"). The reported merge table re-derives
    // each round's argmax from the recursion's state, so both
    // engines walk the identical greedy chain.
    Q("b2_bpe_train",
      (s, dir) => graft.ext.Bpe.train(s, t(s, dir, "documents"), 12)
        .select(col("round"), col("left").as("left_sym"),
          col("right").as("right_sym"), col("pair_count"))
        .orderBy("round"),
      Some(s"""WITH RECURSIVE ${sqlBpeStateCtes(12)},
               pairs AS (SELECT round + 1 AS round, syms[u.i] AS left_sym,
                           syms[u.i+1] AS right_sym, SUM(n) AS pair_count
                         FROM bst, unnest(range(1, len(syms))) AS u(i)
                         WHERE round < 12
                         GROUP BY 1, 2, 3),
               brk AS (SELECT round, left_sym, right_sym, pair_count,
                         ROW_NUMBER() OVER (PARTITION BY round
                           ORDER BY pair_count DESC, left_sym, right_sym)
                           AS rk
                       FROM pairs)
               SELECT CAST(round AS INTEGER) AS round, left_sym,
                      right_sym, CAST(pair_count AS BIGINT) AS pair_count
               FROM brk WHERE rk = 1 ORDER BY round""")),

    Q("b2_bpe_contract",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val m = graft.ext.Bpe.train(s, docs, 12)
        val first = graft.ext.Bpe.initialPairCounts(docs)
          .orderBy(col("pair_count").desc, col("left"), col("right"))
          .limit(1)
        val firstViol = m.filter(col("round") === 1)
          .join(broadcast(first), Seq("left", "right", "pair_count"),
            "left_anti")
          .select(lit("first_merge_not_argmax").as("chk"), col("round"))
        // adjacent-round comparison as an equi self-join on round
        // (the merge table is a 12-row local frame; a global lag
        // window would trip the registry's global-window lint)
        val prev = m.select((col("round") + 1).as("round"),
          col("pair_count").as("c_prev"))
        val monoViol = m.join(broadcast(prev), Seq("round"))
          .filter(col("pair_count") > col("c_prev"))
          .select(lit("pair_count_increased").as("chk"), col("round"))
        val denseViol = m.agg(count(lit(1)).as("c"), max(col("round")).as("r"),
            min(col("round")).as("lo"))
          .filter(col("c") =!= 12 || col("r") =!= 12 || col("lo") =!= 1)
          .select(lit("rounds_not_dense").as("chk"),
            col("r").cast("int").as("round"))
        firstViol.unionByName(monoViol).unionByName(denseViol)
          .orderBy("chk", "round")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS chk,
                     CAST(NULL AS INTEGER) AS round
              WHERE FALSE""")),

    // b3: the ENCODE side as driver rows. The 12-merge table is
    // learned in-query (b2's config) and collected — 12 rows,
    // config-sized by the tokenizer contract (Bpe.encode scaladoc).
    // Encoding is word-local, so the corpus pass encodes only the
    // DISTINCT vocabulary (dictionary-encoding: the 12-fold merge
    // chain runs |vocab| times, not |corpus tokens| times — measured
    // 19 s → 2 s at sf0.1) and joins per-word token stats back
    // through a keyed join before the per-doc sum; docs with no
    // words keep an explicit zero row. Iterative merge application
    // has no SQL form → rows-only stats, closed by the
    // b3_bpe_roundtrip empty twin.
    Q("b3_bpe_encode",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ext.Bpe.train(s, docs, 12)
          .orderBy("round").select("left", "right")
          .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
        val docWords = docs.select(col("doc_id"),
            explode(graft.ext.TextAnalysis.tokens(col("text"))).as("word"))
          .filter(length(col("word")) > 0)
        val vocabStats = graft.ext.Bpe.encodeStaged(
            docWords.select("word").distinct(), "word", "__t", merges)
          .select(col("word"),
            size(col("__t")).cast("long").as("__nt"),
            size(filter(col("__t"), tk =>
              length(tk) > 1 && tk =!= "</w>")).cast("long").as("__nm"))
        val perDoc = docWords.join(vocabStats, "word")
          .groupBy("doc_id")
          .agg(sum(col("__nt")).as("n_tokens"),
            sum(col("__nm")).as("n_merged"))
        docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("n_merged"), lit(0L)).as("n_merged"))
          .orderBy("doc_id")
      },
      // hash-exact since round 10: the encode chain replays in SQL —
      // the b2 recursion's round-12 state IS the encoded distinct
      // vocabulary (encode is word-local by construction), so the
      // per-doc stats derive from it with one keyed join
      Some(s"""WITH RECURSIVE ${sqlBpeStateCtes(12)},
               benc AS (SELECT word, CAST(len(syms) AS BIGINT) AS nt,
                          CAST(len(list_filter(syms, t ->
                            length(t) > 1 AND t <> '</w>')) AS BIGINT)
                            AS nm
                        FROM bst WHERE round = 12),
               bdw AS (SELECT doc_id, word FROM (
                         SELECT doc_id, unnest(string_split_regex(
                           text, '\\s+')) AS word
                         FROM documents)
                       WHERE length(word) > 0),
               bagg AS (SELECT doc_id,
                          CAST(SUM(nt) AS BIGINT) AS n_tokens,
                          CAST(SUM(nm) AS BIGINT) AS n_merged
                        FROM bdw JOIN benc USING (word)
                        GROUP BY doc_id)
               SELECT d.doc_id,
                      CAST(COALESCE(bagg.n_tokens, 0) AS BIGINT)
                        AS n_tokens,
                      CAST(COALESCE(bagg.n_merged, 0) AS BIGINT)
                        AS n_merged
               FROM documents d LEFT JOIN bagg USING (doc_id)
               ORDER BY doc_id""")),

    // b3 twin: decode(encode(w)) must reconstruct EVERY word.
    // Bpe.encode is word-local by construction (symbolize per word,
    // merge, flatten — the flatten plumbing is BpeSpec's fixture
    // law), so checking the DISTINCT vocabulary is corpus-complete
    // for the round-trip law at vocab-sized cost: the doc-level
    // formulation re-encodes every occurrence (~12 fold passes ×
    // corpus tokens — it benchmarked 19.7 s at sf0.1 where this
    // form is sub-second) to prove the same per-word equalities.
    Q("b3_bpe_roundtrip",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.ext.Bpe.train(s, docs, 12)
          .orderBy("round").select("left", "right")
          .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
        // compare the raw token concat against word + the single
        // trailing marker (merging reorders nothing, so that IS the
        // decode) — a strip-all-markers decode would false-fail any
        // word containing the literal "</w>" substring
        graft.ext.Bpe.encodeStaged(
            graft.ext.Bpe.wordCounts(docs).select("word"),
            "word", "__t", merges)
          .select(col("word"), concat_ws("", col("__t")).as("__rt"))
          .filter(col("__rt") =!= concat(col("word"), lit("</w>")))
          .select(col("word"))
          .orderBy("word")
      },
      Some("SELECT CAST(NULL AS VARCHAR) AS word WHERE FALSE")),

    // ---- k-family: stored keyword (inverted) index, BM25 serving ----
    // The third StoredIndex family (AnnIndex = dense, DedupIndex =
    // identity, this = lexical). Every row below is hash-exact
    // against the SAME DuckDB BM25 SQL with only the live-set
    // predicate changing — the one index family whose complete
    // lifecycle is DuckDB-oracled rather than contract-twinned,
    // because BM25 over the live corpus is SQL-expressible while
    // IVFADC/MinHash internals are not.

    // k1: the build/serve split itself — ensure (content fingerprint
    // posture) + one stored-postings probe. t7 re-tokenizes the
    // corpus per query; this reads the three query terms' postings
    // slice + the keys-only doclens. Bench them side by side: the
    // delta is the tokenize pass the stored index amortizes.
    Q("k1_keyword_topk",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.probe(s, ix, KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("TRUE", KwTerms, 20))),

    // k2: O(batch) append — build on two thirds, append the rest,
    // probe. The served page must equal a one-shot build over the
    // union corpus (the full-corpus oracle), pinning the partial-
    // shard regroup, the df/stats reduction over mixed shards, and
    // the XOR meta merge at once.
    Q("k2_keyword_append",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir) + "_append"
        graft.ext.KeywordIndex.build(
          docs.filter(col("doc_id") % 3 < 2), ix)
        graft.ext.KeywordIndex.append(
          docs.filter(col("doc_id") % 3 === 2), ix)
        graft.ext.KeywordIndex.probe(s, ix, KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("TRUE", KwTerms, 20))),

    // k3: retraction — tombstone every 7th-mod-3 doc (O(batch)
    // deletes asset, XOR-unmixed meta, no asset rewrite) and serve.
    // BM25 is corpus-statistics-sensitive, so this pins more than
    // membership: df, N and Σdl must all reflect the live set (a
    // probe that only filtered retracted docs from the PAGE would
    // still score with stale statistics and hash-mismatch here).
    Q("k3_keyword_retract",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir) + "_retract"
        graft.ext.KeywordIndex.build(docs, ix)
        graft.ext.KeywordIndex.remove(
          docs.filter(col("doc_id") % 7 === 3), ix)
        graft.ext.KeywordIndex.probe(s, ix, KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("NOT (doc_id % 7 = 3)", KwTerms, 20))),

    // k4: the full lifecycle chain (d17/x14's sibling, but DuckDB-
    // oracled): build → append → retract → compact (materializes the
    // deletions, re-clusters postings by term range, re-mints the id
    // bloom) → append AGAIN into the compacted index → probe. The
    // final append is the interleaving that catches a compact
    // leaving stale tombstones or a bloom that rejects legitimately
    // new ids.
    Q("k4_keyword_lifecycle",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir) + "_lc"
        graft.ext.KeywordIndex.build(
          docs.filter(col("doc_id") % 3 === 0), ix)
        graft.ext.KeywordIndex.append(
          docs.filter(col("doc_id") % 3 === 1), ix)
        graft.ext.KeywordIndex.remove(
          docs.filter(col("doc_id") % 6 === 0), ix)
        graft.ext.KeywordIndex.compact(s, ix)
        graft.ext.KeywordIndex.append(
          docs.filter(col("doc_id") % 3 === 2), ix)
        graft.ext.KeywordIndex.probe(s, ix, KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("NOT (doc_id % 6 = 0)", KwTerms, 20))),

    // k5: health report — stored gauges ≡ the corpus-derived oracle
    // frame on a fresh index (d21's empty-symmetric-difference
    // pattern; tombstone-bearing states are spec-gated).
    Q("k5_keyword_health",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 300)
        val ix = graft.ext.KeywordIndex.dirFor(dir) + "_h"
        graft.ext.KeywordIndex.ensure(corpus, ix)
        val stored = graft.ext.KeywordIndex.health(s, ix)
        val derived = graft.ext.KeywordIndex.healthFromCorpus(corpus)
        stored.exceptAll(derived)
          .unionByName(derived.exceptAll(stored))
          .orderBy("metric")
      },
      Some("""SELECT CAST(NULL AS VARCHAR) AS metric,
                     CAST(NULL AS DOUBLE) AS value
              WHERE FALSE""")),

    // k6: distributed shard build — three disjoint slices each built
    // as an independent job, merged in O(asset files) (no decode, no
    // shuffle), then served. The page equals a one-shot build over
    // the union corpus — and unlike d18/x15 (contract-twinned), the
    // equality here is against DuckDB itself.
    Q("k6_keyword_shard_merge",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = graft.ext.KeywordIndex.dirFor(dir)
        val shards = (0 to 2).map { i =>
          val sd = s"${base}_s$i"
          graft.ext.KeywordIndex.build(
            docs.filter(col("doc_id") % 3 === i), sd)
          sd
        }
        val merged = base + "_m"
        graft.ext.KeywordIndex.merge(s, shards, merged)
        graft.ext.KeywordIndex.probe(s, merged, KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("TRUE", KwTerms, 20))),

    // k8: the PRODUCTION serve posture for the lexical family —
    // ensure(version = fileVersion) validates with ONE 1-row meta
    // read, zero corpus scans (x9v/d15f's posture split, now on the
    // third family). Read its bench row beside k1: the delta IS the
    // content-fingerprint scan the versioned posture removes.
    Q("k8_keyword_versioned",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir) + "_v"
        val v = graft.ext.StoredIndex.fileVersion(s,
          s"$dir/documents.parquet")
        graft.ext.KeywordIndex.ensure(docs, ix, version = Some(v))
        graft.ext.KeywordIndex.probe(s, ix, KwTerms, topN = 20)
      },
      Some(sqlKwBm25("TRUE", KwTerms, 20))),

    // k9: continuous-bulk-load tail — a quarter of the corpus built
    // as its own shard job, absorbed INTO the live index in
    // O(shard files) (d19/x16's absorb, but pinned against DuckDB
    // rather than a contract twin).
    Q("k9_keyword_absorb",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = graft.ext.KeywordIndex.dirFor(dir)
        val target = base + "_abt"
        val shard = base + "_abs"
        graft.ext.KeywordIndex.build(
          docs.filter(col("doc_id") % 4 < 3), target)
        graft.ext.KeywordIndex.build(
          docs.filter(col("doc_id") % 4 === 3), shard)
        graft.ext.KeywordIndex.absorb(s, shard, target)
        graft.ext.KeywordIndex.probe(s, target, KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("TRUE", KwTerms, 20))),

    // k10: serve-while-rebuilding retrain (x19's lexical sibling) —
    // build(lower two thirds) + append(rest) + retract(every 5th),
    // then rebuildStaged over the LIVE set (old index serves through
    // the whole staged build; the swap is rename-sized) and probe.
    // DuckDB-oracled over the live predicate.
    Q("k10_keyword_staged_rebuild",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir) + "_sr"
        graft.ext.KeywordIndex.build(
          docs.filter(col("doc_id") % 3 < 2), ix)
        graft.ext.KeywordIndex.append(
          docs.filter(col("doc_id") % 3 === 2), ix)
        graft.ext.KeywordIndex.remove(
          docs.filter(col("doc_id") % 5 === 4), ix)
        graft.ext.KeywordIndex.rebuildStaged(
          docs.filter(col("doc_id") % 5 =!= 4), ix)
        graft.ext.KeywordIndex.probe(s, ix, KwTerms, topN = 20,
          zeroFill = true)
      },
      Some(sqlKwBm25("NOT (doc_id % 5 = 4)", KwTerms, 20))),

    // k7: hybrid retrieval — the stored lexical page (k1's index)
    // fused with the exact dense page (x1's brute-force chain, one
    // query vector) by reciprocal-rank fusion. doc_id and vec_id
    // share an id space on the fixture corpus by construction.
    // Oracle: both ranked CTE chains composed with the RRF sum,
    // lexical term first — bit-exact before the 6 dp rounding.
    Q("k7_hybrid_rrf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val embs = t(s, dir, "embeddings")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        val lex = graft.ext.KeywordIndex.probe(s, ix, KwTerms,
          topN = 20, zeroFill = true)
        val dense = Similarity.bruteForceTopK(embs,
            embs.filter(col("vec_id") === 7), k = 20)
          .select(col("nid").as("doc_id"), col("rank"))
        Relevance.rrfFuse(lex, dense, topN = 10)
      },
      Some(s"""WITH kb AS (${sqlKwBm25("TRUE", KwTerms, 20)}),
                    $SqlBruteCtes,
                    ka AS (SELECT nid AS doc_id, rank FROM br
                           WHERE qid = 7 AND rank <= 20),
                    kf AS (SELECT COALESCE(kb.doc_id, ka.doc_id) AS doc_id,
                        ${sqlRoundDet(
                          "COALESCE(1.0 / (60.0 + CAST(kb.rank AS DOUBLE)), 0.0)" +
                            " + COALESCE(1.0 / (60.0 + CAST(ka.rank AS DOUBLE)), 0.0)",
                          6)} AS rrf
                      FROM kb FULL OUTER JOIN ka ON ka.doc_id = kb.doc_id),
                    kr AS (SELECT doc_id, rrf,
                        ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
                      FROM kf)
               SELECT rank, doc_id, rrf FROM kr
               WHERE rank <= 10 ORDER BY rank""")),

    // k7b: the PRODUCTION hybrid — k7's fusion with BOTH pages
    // served from stored assets: KeywordIndex.probe (postings slice
    // + 1-row stats gauge) fused with AnnIndex.probeTopK (IVFADC
    // over centroids/codebook/postings — the embeddings table is
    // never scanned at query time, the cost k7's in-query dense side
    // pays on every call). Oracle: the k-family BM25 SQL fused with
    // the x8/x9 IVFADC chain (the same CTEs that oracle the stored
    // ANN probe), RRF'd lexical-then-dense exactly as k7.
    Q("k7b_hybrid_stored",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val embs = t(s, dir, "embeddings")
        val kix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, kix)
        val aix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, aix)
        val lex = graft.ext.KeywordIndex.probe(s, kix, KwTerms,
          topN = 20, zeroFill = true)
        val dense = graft.ext.AnnIndex.probeTopK(s, aix,
            embs.filter(col("vec_id") === 7), k = 20)
          .select(col("nid").as("doc_id"), col("rank"))
        Relevance.rrfFuse(lex, dense, topN = 10)
      },
      Some(s"""WITH kb AS (${sqlKwBm25("TRUE", KwTerms, 20)}),
                    $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes,
                    ka AS (SELECT nid AS doc_id, rank FROM x8r
                           WHERE qid = 7 AND rank <= 20),
                    kf AS (SELECT COALESCE(kb.doc_id, ka.doc_id) AS doc_id,
                        ${sqlRoundDet(
                          "COALESCE(1.0 / (60.0 + CAST(kb.rank AS DOUBLE)), 0.0)" +
                            " + COALESCE(1.0 / (60.0 + CAST(ka.rank AS DOUBLE)), 0.0)",
                          6)} AS rrf
                      FROM kb FULL OUTER JOIN ka ON ka.doc_id = kb.doc_id),
                    kr AS (SELECT doc_id, rrf,
                        ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
                      FROM kf)
               SELECT rank, doc_id, rrf FROM kr
               WHERE rank <= 10 ORDER BY rank""")),

    // k11: filtered (ACL/tenant) lexical serve — BM25 top-k WITHIN
    // an allowed doc-id subset, AnnIndex.probeTopKFiltered's (x11)
    // lexical twin, with SCOPED-CORPUS statistics: the subset IS the
    // scoring corpus, so the oracle is the family's one BM25 SQL
    // with the subset predicate folded into its live-set condition —
    // the page equals what a dedicated per-tenant index would serve.
    Q("k11_keyword_filtered",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.probeTopKFiltered(s, ix, KwTerms,
          topN = 20,
          allowed = docs.filter(col("doc_id") % 3 === 0)
            .select("doc_id"),
          zeroFill = true)
      },
      Some(sqlKwBm25("doc_id % 3 = 0", KwTerms, 20))),

    // k11f: k11 at a FIXED-SIZE allowed subset (300 ids at every
    // scale) — the ACL shape the id-IN literal pushdown is built
    // for: the subset statistics reduction reads only the row groups
    // whose id stats intersect the 300 literals (footer-bound over
    // the id-sorted doclens files), so the scoped serve's cost
    // tracks the SUBSET, not the corpus — the ScalingProbe row that
    // pins the posture flat across 100× doc count. Same oracle
    // family as k11 with the fixed predicate.
    Q("k11f_keyword_filtered_fixed",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.probeTopKFiltered(s, ix, KwTerms,
          topN = 20,
          allowed = docs.filter(col("doc_id") < 300)
            .select("doc_id"),
          zeroFill = true)
      },
      Some(sqlKwBm25("doc_id < 300", KwTerms, 20))),

    // k11g: the filtered serve's GLOBAL-statistics posture —
    // candidates restricted to the allowed subset, scores from the
    // full live corpus (x11's pre-filter semantics on the lexical
    // family, and the scale posture: O(matched postings +
    // candidates), zero doclens work — same plan class as the
    // unfiltered probe). Oracle: the same BM25 CTE chain scored
    // over ALL live docs, ranked only within the allowed candidate
    // set.
    Q("k11g_keyword_filtered_global",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.probeTopKFiltered(s, ix, KwTerms,
          topN = 20,
          allowed = docs.filter(col("doc_id") % 3 === 0)
            .select("doc_id"),
          scopedStats = false)
      },
      Some(s"""WITH ${sqlKwBm25Ctes("TRUE", KwTerms)},
               ranked AS (SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                     AS rank
                 FROM scored
                 WHERE (doc_id % 3 = 0)
                   AND (${KwTerms.indices.map(i => s"tf_$i > 0")
                     .mkString(" OR ")}))
               SELECT rank, doc_id, score FROM ranked
               WHERE rank <= 20 ORDER BY rank""")),

    // k14: FILTERED hybrid serve — the production RAG query shape
    // ("hybrid top-k among the docs this tenant may see"): k7b's
    // stored-stored RRF fusion with BOTH sides restricted to the
    // allowed subset as pre-filters on stored postings. Lexical side
    // = probeTopKFiltered in the GLOBAL-statistics posture (both
    // sides then rank the allowed docs under the UNFILTERED corpus
    // model — the dense side's centroids/codebook are corpus-level
    // too — and the lexical plan keeps the zero-doclens posture;
    // k11g's oracle CTE), dense side = AnnIndex.probeTopKFiltered
    // (x11's pre-filter semantics and oracle chain). Zero
    // corpus-text / embeddings-table scans at query time; the
    // fusion sees two ≤ pageSize pages only.
    Q("k14_hybrid_filtered",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val embs = t(s, dir, "embeddings")
        val kix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, kix)
        val aix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, aix)
        val lex = graft.ext.KeywordIndex.probeTopKFiltered(s, kix,
          KwTerms, topN = 20,
          allowed = docs.filter(col("doc_id") % 3 === 0)
            .select("doc_id"),
          scopedStats = false)
        val dense = graft.ext.AnnIndex.probeTopKFiltered(s, aix,
            embs.filter(col("vec_id") === 7),
            embs.filter(col("vec_id") % 3 === 0).select("vec_id"),
            k = 20)
          .select(col("nid").as("doc_id"), col("rank"))
        Relevance.rrfFuse(lex, dense, topN = 10)
      },
      Some(s"""WITH ${sqlKwBm25Ctes("TRUE", KwTerms)},
                    kranked AS (SELECT doc_id, score,
                        ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                          AS rank
                      FROM scored
                      WHERE (doc_id % 3 = 0)
                        AND (${KwTerms.indices.map(i => s"tf_$i > 0")
                          .mkString(" OR ")})),
                    kb AS (SELECT doc_id, rank FROM kranked
                           WHERE rank <= 20),
                    $SqlIvfCtes, $SqlPqCtes,
                    ${sqlIvfPqRankCtesWhere("iasg.nid % 3 = 0")},
                    ka AS (SELECT nid AS doc_id, rank FROM x8r
                           WHERE qid = 7 AND rank <= 20),
                    kf AS (SELECT COALESCE(kb.doc_id, ka.doc_id) AS doc_id,
                        ${sqlRoundDet(
                          "COALESCE(1.0 / (60.0 + CAST(kb.rank AS DOUBLE)), 0.0)" +
                            " + COALESCE(1.0 / (60.0 + CAST(ka.rank AS DOUBLE)), 0.0)",
                          6)} AS rrf
                      FROM kb FULL OUTER JOIN ka ON ka.doc_id = kb.doc_id),
                    kr AS (SELECT doc_id, rrf,
                        ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
                      FROM kf)
               SELECT rank, doc_id, rrf FROM kr
               WHERE rank <= 10 ORDER BY rank""")),

    // k15: REGISTERED-tenant scoped filtered serve — k11's semantics
    // (BM25 top-k within the subset, statistics reduced over exactly
    // that subset) with the per-probe doclens reduction replaced by
    // the tenant's ONE stored gauge row (tstats/, folded through the
    // lifecycle like the global stats/ gauge) and the candidate
    // restriction by id-IN literals collected from the (tenant, id)-
    // clustered overlay slice. Same oracle as k11 — the page is the
    // dedicated per-tenant index's page, served at O(matched
    // postings + overlay slice), zero doclens work (PlanSpec-gated).
    Q("k15_keyword_tenant_serve",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.registerTenants(s, ix,
          docs.select(col("doc_id"),
            (col("doc_id") % 3).cast("string").as("tenant")))
        graft.ext.KeywordIndex.probeTopKTenant(s, ix, KwTerms,
          topN = 20, tenant = "0", zeroFill = true)
      },
      Some(sqlKwBm25("doc_id % 3 = 0", KwTerms, 20))),

    // k16: the tenant gauge ALGEBRA under a full lifecycle — build +
    // register, append + assign, cross-tenant retract (per-tenant
    // subtraction at retraction time), compact (overlay tombstones
    // materialized, gauges carried) — then the tenant page must equal
    // BM25 over the live∩tenant corpus: one SQL predicate composing
    // all three set operations, hash-exact.
    Q("k16_keyword_tenant_lifecycle",
      (s, dir) => {
        import graft.ext.KeywordIndex
        val docs = t(s, dir, "documents")
        val ix = KeywordIndex.dirFor(dir) + "_tn"
        def tenantOf(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"),
            (col("doc_id") % 2).cast("string").as("tenant"))
        val seed = docs.filter(col("doc_id") < 300)
        KeywordIndex.build(seed, ix)
        KeywordIndex.registerTenants(s, ix, tenantOf(seed))
        val batch = docs.filter(
          col("doc_id") >= 300 && col("doc_id") < 400)
        KeywordIndex.append(batch, ix)
        KeywordIndex.assignTenants(s, ix, tenantOf(batch))
        KeywordIndex.remove(
          docs.filter(col("doc_id") < 400 && col("doc_id") % 7 === 0),
          ix)
        KeywordIndex.compact(s, ix)
        KeywordIndex.probeTopKTenant(s, ix, KwTerms, topN = 20,
          tenant = "1", zeroFill = true)
      },
      Some(sqlKwBm25(
        "doc_id < 400 AND NOT (doc_id % 7 = 0) AND doc_id % 2 = 1",
        KwTerms, 20))),

    // k19: the ONE-CALL tenant hybrid — probeHybridTenant on the
    // joint coordinator: the allowed frame is the REGISTERED tenant
    // overlay's live slice ((tenant, id)-clustered, tombstone-
    // filtered), fused through k14's exact composition (global
    // corpus model on both sides, two ≤ pageSize pages into RRF).
    // The pin: the one-call page ≡ the ad-hoc filtered hybrid
    // composed from the SAME co-maintained indexes with an
    // INDEPENDENTLY-derived allowed frame (seed predicate minus the
    // joint takedown) — registration → overlay slice → fusion pinned
    // end to end, takedown liveness included (the retracted ids are
    // both tenant-0 docs). Empty symmetric difference, hash-exact
    // WHERE FALSE.
    Q("k19_hybrid_tenant",
      (s, dir) => {
        import graft.ext.{AnnIndex, KeywordIndex}
        import graft.streaming.StreamingCorpusIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val embsJ = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_k19_").toString
        val joint = new StreamingCorpusIngest(s, root,
          keywordServing = true)
        joint.seed(docs.filter(col("doc_id") < 200), embsJ)
        joint.registerTenants(docs.filter(col("doc_id") < 200)
          .select(col("doc_id"),
            (col("doc_id") % 3).cast("string").as("tenant")))
        joint.retract(s.createDataFrame(Seq(
          Tuple1(9L), Tuple1(12L))).toDF("doc_id"))
        val qv = t(s, dir, "embeddings").filter(col("vec_id") === 7)
        val served = joint.probeHybridTenant(KwTerms, qv,
          tenant = "0", topN = 10)
        val allowed = docs.filter(col("doc_id") < 200 &&
            col("doc_id") % 3 === 0 && !col("doc_id").isin(9L, 12L))
          .select("doc_id")
        val lex = KeywordIndex.probeTopKFiltered(s, joint.keywordDir,
          KwTerms, topN = 20, allowed = allowed, scopedStats = false)
        val dense = AnnIndex.probeTopKFiltered(s, s"$root/ann_index",
            qv, allowed.withColumnRenamed("doc_id", "vec_id"), k = 20)
          .select(col("nid").as("doc_id"), col("rank"))
        val direct = Relevance.rrfFuse(lex, dense, topN = 10)
        served.exceptAll(direct).unionByName(direct.exceptAll(served))
          .orderBy("rank", "doc_id")
      },
      Some("""SELECT CAST(NULL AS INTEGER) AS rank,
                     CAST(NULL AS BIGINT) AS doc_id,
                     CAST(NULL AS DOUBLE) AS rrf
              WHERE FALSE""")),

    // k20: BATCHED registered-tenant serve — probeTopKTenant on the
    // batch dimension, the last cell of the serve matrix (batch ×
    // tenant): three (qid, terms, tenant) queries in ONE composed
    // plan — one postings scan (term IN + the union grant's id
    // literals pushed), ONE tenant-IN-pruned overlay slice, per-qid
    // SCOPED dfs and gauge-row statistics joined keyed on qid, every
    // rank window qid-partitioned. Tenant assignment is the SAME %3
    // overlay k15 registers (re-registration is idempotent, so the
    // two rows compose in any execution order). Oracle: UNION ALL of
    // per-qid scoped candidate pages — each page IS the dedicated
    // per-tenant index's ranking, qid 0 sharing k15's corpus slice.
    Q("k20_keyword_multi_tenant",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.registerTenants(s, ix,
          docs.select(col("doc_id"),
            (col("doc_id") % 3).cast("string").as("tenant")))
        graft.ext.KeywordIndex.probeManyTenant(s, ix,
          KwMulti.zip(Seq("0", "1", "2")).map { case ((q, ts), tn) =>
            (q, ts, tn) },
          topN = 10)
      },
      Some(KwMulti.zip(Seq("doc_id % 3 = 0", "doc_id % 3 = 1",
          "doc_id % 3 = 2"))
        .map { case ((q, ts), pred) =>
          sqlKwBm25ScopedCandPage(q, ts, 10, pred) }
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY qid, rank"))),

    // k23: tenant THRESHOLD serve — probeRange's semantics under a
    // registered tenant's SCOPED statistics (k15's corpus model,
    // k12's join→score→filter shape, no rank window): every tenant
    // doc whose scoped BM25 score clears the bar, from the tenant's
    // gauge row + pruned candidate slice, doclens never read. Shares
    // k15's %3 overlay on the shared index (re-registration is
    // idempotent, so the tenant rows compose in any execution
    // order). Oracle: the scoped CTE chain with the tenant's
    // membership rule as the live predicate, threshold-filtered.
    Q("k23_keyword_tenant_range",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.registerTenants(s, ix,
          docs.select(col("doc_id"),
            (col("doc_id") % 3).cast("string").as("tenant")))
        graft.ext.KeywordIndex.probeRangeTenant(s, ix, KwTerms,
          minScore = 0.3, tenant = "0")
      },
      Some(s"""WITH ${sqlKwBm25Ctes("doc_id % 3 = 0", KwTerms)}
               SELECT doc_id, score FROM scored
               WHERE score >= 0.3 ORDER BY doc_id""")),

    // k24: O(batch) tenant RE-ASSIGNMENT — the single most common
    // ACL operation (move a doc between tenants), previously a full
    // registerTenants live-keys pass with a serving gap: now ONE
    // gauge fold (subtract from the old tenant's (n_docs, sum_dl)
    // row, add to the new one's) plus an overlay tombstone (tdels/ —
    // the index tombstones cannot carry it, the docs stay LIVE), all
    // inside assignTenants' delete-first/write-last crash window.
    // The row runs the whole mutation algebra on a dedicated index:
    // move (%10=0: "0"→"1", kept), bounce (%10=2: "0"→"1"→"0" — the
    // reassign-side RESURRECTION of a tombstoned pair), drop (%10=5:
    // unassigned), rejoin (%10=7: unassigned then re-assigned — the
    // assign-side resurrection), then COMPACT (tdels materialized
    // into the clustered overlay, spent list dropped) and a batched
    // serve of BOTH affected tenants. Oracle: per-qid SCOPED pages
    // under the final membership rule — the mutation chain must be
    // invisible relative to a fresh registration of the final ACL
    // state, gauges included (a mis-folded (n_docs, sum_dl) moves
    // every BM25 score).
    Q("k24_keyword_tenant_reassign",
      (s, dir) => {
        import graft.ext.KeywordIndex
        val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
        val ix = KeywordIndex.dirFor(dir) + "_rs"
        def ten(df: org.apache.spark.sql.DataFrame, tn: String) =
          df.select(col("doc_id"), lit(tn).as("tenant"))
        KeywordIndex.build(docs, ix)
        KeywordIndex.registerTenants(s, ix,
          docs.select(col("doc_id"),
            (col("doc_id") % 2).cast("string").as("tenant")))
        val move = docs.filter(col("doc_id") % 10 === 0)
        val bounce = docs.filter(col("doc_id") % 10 === 2)
        val drop = docs.filter(col("doc_id") % 10 === 5)
        val rejoin = docs.filter(col("doc_id") % 10 === 7)
        KeywordIndex.reassignTenants(s, ix,
          ten(move.unionByName(bounce), "1"))
        KeywordIndex.reassignTenants(s, ix, ten(bounce, "0"))
        KeywordIndex.unassignTenants(s, ix,
          drop.unionByName(rejoin).select("doc_id"))
        KeywordIndex.assignTenants(s, ix, ten(rejoin, "1"))
        KeywordIndex.compact(s, ix)
        KeywordIndex.probeManyTenant(s, ix,
          Seq((0L, KwTerms, "0"), (1L, KwTerms, "1")), topN = 10)
      },
      Some(Seq(
          sqlKwBm25ScopedCandPage(0L, KwTerms, 10,
            "doc_id < 400 AND doc_id % 2 = 0 AND NOT doc_id % 10 = 0"),
          sqlKwBm25ScopedCandPage(1L, KwTerms, 10,
            "doc_id < 400 AND ((doc_id % 2 = 1" +
              " AND NOT doc_id % 10 = 5) OR doc_id % 10 = 0)"))
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY qid, rank"))),

    // k25: BATCHED tenant THRESHOLD serve — the last batch × tenant
    // × threshold cell of the serve matrix: probeManyRangeTenant
    // runs k18's no-window batch shape under k20's per-qid SCOPED
    // statistics (each qid's (n_docs, sum_dl) from its tenant's ONE
    // gauge row, dfs over the tenant-restricted slice), one composed
    // plan with one postings scan over the union term set and the
    // combined grant riding it — each qid's page ≡
    // probeRangeTenant(terms_q, bar, tenant_q) by construction.
    // Shares k15's %3 overlay on the shared index (re-registration
    // idempotent). Oracle: UNION ALL of per-qid scoped threshold
    // pages (k23's chain, qid-tagged).
    Q("k25_keyword_multi_tenant_range",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.registerTenants(s, ix,
          docs.select(col("doc_id"),
            (col("doc_id") % 3).cast("string").as("tenant")))
        graft.ext.KeywordIndex.probeManyRangeTenant(s, ix,
          KwMulti.zip(Seq("0", "1", "2")).map { case ((q, ts), tn) =>
            (q, ts, tn) },
          minScore = 0.3)
      },
      Some(KwMulti.zip(Seq("doc_id % 3 = 0", "doc_id % 3 = 1",
          "doc_id % 3 = 2"))
        .map { case ((q, ts), pred) =>
          sqlKwScopedRangePage(q, ts, 0.3, pred) }
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY qid, doc_id"))),

    // k26: EXACT-PHRASE serving — the first retrieval shape the
    // bag-of-words postings cannot answer, from the new positions/
    // asset (per-(term, id) sorted occurrence lists written by the
    // SAME one-tokenize-pass build that derives the postings from
    // them): docs containing the CONSECUTIVE sequence "data query",
    // as k-1 keyed id joins + an array_intersect fold of the
    // shifted occurrence lists — no explode of the token mass, no
    // window, corpus text never read at serve time. Lifecycle
    // in-row: retract every 7th doc, compact (positions tombstones
    // materialized + re-clustered) — the phrase page must track the
    // live set. Oracle: DuckDB replays the adjacency scan over the
    // live corpus text directly.
    Q("k26_keyword_phrase",
      (s, dir) => {
        import graft.ext.KeywordIndex
        val docs = t(s, dir, "documents")
        val ix = KeywordIndex.dirFor(dir) + "_ph"
        KeywordIndex.build(docs, ix)
        KeywordIndex.remove(docs.filter(col("doc_id") % 7 === 0), ix)
        KeywordIndex.compact(s, ix)
        KeywordIndex.probePhrase(s, ix, Seq("data", "query"))
      },
      Some("""WITH ptk AS (SELECT doc_id,
                       string_split_regex(text, '\s+') AS tk
                     FROM documents WHERE NOT doc_id % 7 = 0),
                  pph AS (SELECT doc_id,
                       CAST(len(list_filter(range(1, len(tk)),
                           i -> tk[i] = 'data' AND tk[i+1] = 'query'))
                         AS BIGINT) AS n_matches
                     FROM ptk)
              SELECT doc_id, n_matches FROM pph
              WHERE n_matches > 0 ORDER BY doc_id""")),

    // k28: PROXIMITY serve — the other positional shape ("terms
    // within k tokens of each other", the co-occurrence relevance
    // filter): one keyed id join of the two term-pruned occurrence
    // lists, a nested-HOF min-distance fold, slop filter — no
    // window, no corpus text, O(occurrence pairs) per candidate.
    // Its own dedicated positional index dir, built per run and
    // never mutated, so the row stays independent of k26/k27 under
    // any execution order. Oracle: the distance replay over raw
    // text (1-based SQL positions — distances are offset-invariant).
    Q("k28_keyword_proximity",
      (s, dir) => {
        import graft.ext.KeywordIndex
        val docs = t(s, dir, "documents")
        val ix = KeywordIndex.dirFor(dir) + "_px"
        KeywordIndex.build(docs, ix)
        KeywordIndex.probeProximity(s, ix, "table", "hash", slop = 3)
      },
      Some("""WITH qtk AS (SELECT doc_id,
                       string_split_regex(text, '\s+') AS tk
                     FROM documents),
                  qpr AS (SELECT doc_id,
                       list_filter(range(1, len(tk) + 1),
                         i -> tk[i] = 'table') AS pa,
                       list_filter(range(1, len(tk) + 1),
                         i -> tk[i] = 'hash') AS pb
                     FROM qtk),
                  qmd AS (SELECT doc_id,
                       CAST(list_min(flatten(list_transform(pa,
                           p -> list_transform(pb, q -> abs(p - q)))))
                         AS BIGINT) AS min_dist
                     FROM qpr WHERE len(pa) > 0 AND len(pb) > 0)
              SELECT doc_id, min_dist FROM qmd
              WHERE min_dist <= 3 ORDER BY doc_id""")),

    // k27: phrase × TENANT — "exact phrase among THIS tenant's
    // documents", the RAG ACL filter, with a THREE-term phrase (two
    // adjacency joins) and the round's overlay tombstones composed
    // in: register %2, UNASSIGN the %10=1 slice (tdels path — the
    // grant must exclude them without any overlay rewrite), then
    // probePhraseTenant over tenant "1". The grant restricts the
    // positions slice BEFORE the adjacency joins (id-IN literals
    // under the cap). Oracle: the adjacency replay under the
    // membership rule.
    Q("k27_keyword_phrase_tenant",
      (s, dir) => {
        import graft.ext.KeywordIndex
        val docs = t(s, dir, "documents")
        val ix = KeywordIndex.dirFor(dir) + "_pht"
        KeywordIndex.build(docs, ix)
        KeywordIndex.registerTenants(s, ix,
          docs.select(col("doc_id"),
            (col("doc_id") % 2).cast("string").as("tenant")))
        KeywordIndex.unassignTenants(s, ix,
          docs.filter(col("doc_id") % 10 === 1).select("doc_id"))
        KeywordIndex.probePhraseTenant(s, ix,
          Seq("slow", "hash", "batch"), tenant = "1")
      },
      Some("""WITH ptk AS (SELECT doc_id,
                       string_split_regex(text, '\s+') AS tk
                     FROM documents
                     WHERE doc_id % 2 = 1 AND NOT doc_id % 10 = 1),
                  pph AS (SELECT doc_id,
                       CAST(len(list_filter(range(1, len(tk)),
                           i -> tk[i] = 'slow' AND tk[i+1] = 'hash'
                             AND tk[i+2] = 'batch'))
                         AS BIGINT) AS n_matches
                     FROM ptk)
              SELECT doc_id, n_matches FROM pph
              WHERE n_matches > 0 ORDER BY doc_id""")),

    // k21: BATCHED hybrid serve — the last hybrid-matrix cell
    // (single k7b, filtered k14, tenant k19, now BATCH): N (terms,
    // query-vector) pairs fused per qid in ONE composed plan — the
    // lexical side is probeMany's one-postings-scan batch, the dense
    // side AnnIndex.probeTopK's native multi-query probe (vec_ids
    // 7/11/13 remapped to the lexical qids AFTER the probe, so the
    // ANN chain's self-exclusion semantics stay the oracle's), and
    // Relevance.rrfFuseMany joins the pages keyed (qid, doc_id) with
    // the one rank window qid-PARTITIONED — the batched hybrid plans
    // NO global window (the audited k7b shapes minus that one).
    // Pages are candidates-only on the lexical side (the batched
    // serves' production posture — no zero-fill), and the oracle is
    // the per-qid candidate pages full-outer-joined to the shared
    // x8r chain, RRF'd lexical-then-dense exactly as k7b, UNION over
    // qids via the same CASE remap.
    Q("k21_hybrid_multi",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val embs = t(s, dir, "embeddings")
        val kix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, kix)
        val aix = graft.ext.AnnIndex.dirFor(dir)
        graft.ext.AnnIndex.ensure(embs, aix)
        val lex = graft.ext.KeywordIndex.probeMany(s, kix, KwMulti,
          topN = 20)
        val dense = graft.ext.AnnIndex.probeTopK(s, aix,
            embs.filter(col("vec_id").isin(7L, 11L, 13L)), k = 20)
          .withColumn("qid", when(col("qid") === 7L, 0L)
            .when(col("qid") === 11L, 1L).otherwise(2L))
          .select(col("qid"), col("nid").as("doc_id"), col("rank"))
        Relevance.rrfFuseMany(lex, dense, topN = 10)
      },
      Some(s"""WITH $SqlIvfCtes, $SqlPqCtes, $SqlIvfPqRankCtes,
                    ka AS (SELECT CASE qid WHEN 7 THEN 0
                               WHEN 11 THEN 1 ELSE 2 END AS qid,
                             nid AS doc_id, rank
                           FROM x8r
                           WHERE qid IN (7, 11, 13) AND rank <= 20),
                    kb AS (${KwMulti.map { case (q, ts) =>
                      s"SELECT qid, rank, doc_id FROM (${
                        sqlKwBm25CandPage(q, ts, 20)})" }
                      .mkString(" UNION ALL ")}),
                    kf AS (SELECT COALESCE(kb.qid, ka.qid) AS qid,
                        COALESCE(kb.doc_id, ka.doc_id) AS doc_id,
                        ${sqlRoundDet(
                          "COALESCE(1.0 / (60.0 + CAST(kb.rank AS DOUBLE)), 0.0)" +
                            " + COALESCE(1.0 / (60.0 + CAST(ka.rank AS DOUBLE)), 0.0)",
                          6)} AS rrf
                      FROM kb FULL OUTER JOIN ka
                        ON ka.qid = kb.qid AND ka.doc_id = kb.doc_id),
                    kr AS (SELECT qid, doc_id, rrf,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY rrf DESC, doc_id) AS rank
                      FROM kf)
               SELECT qid, rank, doc_id, rrf FROM kr
               WHERE rank <= 10 ORDER BY qid, rank""")),

    // k22: BATCHED tenant hybrid — the hybrid matrix's last cell
    // (batch × tenant × fused), probeHybridManyTenant on the joint
    // coordinator: per-qid tenant grants from ONE overlay slice
    // (KeywordIndex.tenantLivePairs), both families' batched
    // filtered serves restricted per (qid, id) BEFORE scoring
    // (global corpus model on both sides — k14/k19's symmetry),
    // fused by rrfFuseMany with qid-partitioned windows only. The
    // pin: each batched page ≡ the one-call probeHybridTenant page
    // with the same (terms, vector, tenant) — label-safe on both
    // sides (the batched dense probe runs excludeSelf = false; the
    // twin's query vector is relabeled off-corpus), takedown
    // liveness included. Empty symmetric difference, hash-exact
    // WHERE FALSE.
    Q("k22_hybrid_multi_tenant",
      (s, dir) => {
        import graft.streaming.StreamingCorpusIngest
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val embsJ = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_k22_").toString
        val joint = new StreamingCorpusIngest(s, root,
          keywordServing = true)
        joint.seed(docs.filter(col("doc_id") < 200), embsJ)
        joint.registerTenants(docs.filter(col("doc_id") < 200)
          .select(col("doc_id"),
            (col("doc_id") % 3).cast("string").as("tenant")))
        joint.retract(s.createDataFrame(Seq(
          Tuple1(9L), Tuple1(12L))).toDF("doc_id"))
        val vecs = t(s, dir, "embeddings")
        val qvs = vecs.filter(col("vec_id").isin(7L, 11L))
          .select(when(col("vec_id") === 7L, 0L).otherwise(1L)
            .as("qid"), col("embedding"))
        val served = joint.probeHybridManyTenant(KwMulti.take(2),
          qvs, Seq((0L, "0"), (1L, "1")), topN = 10)
        // the one-call twins, label-safe: the single dense probe
        // self-excludes on the query frame's vec_id, so relabel it
        // off-corpus (-1) to match the batched serve's label qids
        def twin(q: Long, vid: Long, tn: String) = joint
          .probeHybridTenant(KwMulti(q.toInt)._2,
            vecs.filter(col("vec_id") === vid)
              .select(lit(-1L).as("vec_id"), col("embedding")),
            tenant = tn, topN = 10)
          .select(lit(q).as("qid"), col("rank"), col("doc_id"),
            col("rrf"))
        val direct = twin(0L, 7L, "0").unionByName(twin(1L, 11L, "1"))
        served.exceptAll(direct)
          .unionByName(direct.exceptAll(served))
          .orderBy("qid", "rank", "doc_id")
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS qid,
                     CAST(NULL AS INTEGER) AS rank,
                     CAST(NULL AS BIGINT) AS doc_id,
                     CAST(NULL AS DOUBLE) AS rrf
              WHERE FALSE""")),

    // k13: BATCHED lexical serve — AnnIndex.probeTopK's many-queries
    // shape on the keyword family: three term queries served from
    // ONE composed plan (one postings scan over the union term set,
    // shared per-term dfs, candidates shuffled once on (qid, id),
    // every rank window qid-PARTITIONED — no global window). Scores
    // come from the ordered held-terms fold; each page is pinned
    // hash-exact against the candidates-only BM25 SQL UNION'd per
    // qid. qid 0 repeats k1's terms, so the two serve shapes are
    // also pinned against the SAME oracle ranking.
    Q("k13_keyword_multi",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.probeMany(s, ix, KwMulti, topN = 10)
      },
      Some(KwMulti.map { case (q, ts) => sqlKwBm25CandPage(q, ts, 10) }
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY qid, rank"))),

    // k17: BATCHED filtered lexical serve — k13's one-composed-plan
    // shape with PER-QUERY allowed subsets (probeTopKFiltered's
    // global-statistics posture on the batch dimension): the
    // (qid, id) restriction semi-joins BEFORE the candidate
    // aggregate so disallowed postings never shuffle, scores stay on
    // the one live-corpus scale, and every rank window remains
    // qid-partitioned. Oracle: UNION ALL of k11g-shaped per-qid
    // pages. Closes the serve-matrix batch dimension beside k13.
    Q("k17_keyword_multi_filtered",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        val pairs = Seq((0L, 3L, 0L), (1L, 3L, 1L), (2L, 2L, 0L))
          .map { case (q, m, r) =>
            docs.filter(col("doc_id") % m === r)
              .select(lit(q).as("qid"), col("doc_id")) }
          .reduce(_ unionByName _)
        graft.ext.KeywordIndex.probeManyFiltered(s, ix, KwMulti,
          topN = 10, allowed = pairs)
      },
      Some(KwMulti.zip(Seq("doc_id % 3 = 0", "doc_id % 3 = 1",
          "doc_id % 2 = 0"))
        .map { case ((q, ts), pred) =>
          sqlKwBm25CandPage(q, ts, 10, allowedPred = pred) }
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY qid, rank"))),

    // k18: BATCHED threshold lexical serve — k12's join→score→filter
    // shape on the batch dimension: one postings scan over the union
    // term set, one shared df aggregate, NO windows at all. Bar 0.3
    // sits inside every fixture query's score range so each qid
    // contributes rows at every scale. Oracle: UNION ALL of
    // k12-shaped per-qid threshold pages.
    Q("k18_keyword_multi_range",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.probeManyRange(s, ix, KwMulti,
          minScore = 0.3)
      },
      Some(KwMulti.map { case (q, ts) => sqlKwRangePage(q, ts, 0.3) }
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY qid, doc_id"))),

    // k12: threshold (range) lexical serve — every live doc whose
    // BM25 score clears the bar, AnnIndex.probeRange's (x17) lexical
    // twin: join→score→filter, no rank window at all. Completes the
    // serve matrix (top-k / filtered / threshold × dense / identity
    // / lexical). Bar 0.7 sits inside the fixture score range
    // (max ≈ 0.81-0.94 across SFs) so the row is non-vacuous at
    // every scale; zero-score docs are excluded by construction on
    // both sides (no query term → score exactly 0.0 < bar).
    Q("k12_keyword_range",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ix = graft.ext.KeywordIndex.dirFor(dir)
        graft.ext.KeywordIndex.ensure(docs, ix)
        graft.ext.KeywordIndex.probeRange(s, ix, KwTerms,
          minScore = 0.7)
      },
      Some(s"""WITH ${sqlKwBm25Ctes("TRUE", KwTerms)}
               SELECT doc_id, score FROM scored
               WHERE score >= 0.7 ORDER BY doc_id"""))
  )

  // DuckDB twin of Layout.spread16/zorderKey2: the identical
  // mask-doubling chain, expanded textually (decimal masks; each
  // step substitutes the previous expression, so the tree matches
  // the Spark column graph op for op).
  private def sqlSpread16(x: String): String = {
    val v0 = s"(CAST($x AS BIGINT) & 65535)"
    val v1 = s"(($v0 | ($v0 << 8)) & 16711935)"
    val v2 = s"(($v1 | ($v1 << 4)) & 252645135)"
    val v3 = s"(($v2 | ($v2 << 2)) & 858993459)"
    s"(($v3 | ($v3 << 1)) & 1431655765)"
  }

  private def SqlZKey(x: String, y: String): String =
    s"((${sqlSpread16(x)} << 1) | ${sqlSpread16(y)})"

  // Multiplicative-hash bucketization of the z-family dims (Knuth
  // constants; BIGINT-exact in both engines). A def, not a val: the
  // `all` Seq above initializes first and would read a val as null.
  private def SqlZBuckets: String =
    """zb AS (SELECT l_orderkey, l_linenumber,
                (l_orderkey * 2654435761) % 1024 AS xb,
                (l_partkey * 2246822519) % 1024 AS yb
              FROM lineitem)"""
}
