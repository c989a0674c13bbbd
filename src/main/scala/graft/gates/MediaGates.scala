package graft
package gates

import graft.ext.{Eval, Multimodal, Privacy, TextAnalysis}
import org.apache.spark.sql.functions._

/** Multimodal plumbing, evaluation metrics and privacy screens. */
object MediaGates {
  import Inputs._

  /** NB predictions (the `text_nb_classify` operator — certified there,
    * fresh there) shared as INPUT by `eval_nb_report`, whose own operator
    * is the classification report. */
  private val nbPreds = frameFixture("graft-fix-nb") { (s, d) =>
    val dd = docs(s, d)
    TextAnalysis.nbClassify(dd.filter(col("doc_id") % 2 === 0),
      dd.filter(col("doc_id") % 2 === 1))
  }

  /** langId predictions (the `text_langid` operator — certified there,
    * fresh there) shared as INPUT by `eval_langid_kappa`, whose own
    * operator is Cohen's kappa. */
  private val langIdPreds = frameFixture("graft-fix-lid")((s, d) => TextAnalysis.langId(docs(s, d)))

  val gates: Seq[Gate[_]] = Seq(
    // ---- multimodal plumbing (§2.12) ----
    Gate("mm_features",
      """SELECT doc_id AS id, octet_length(encode(text)) AS n_bytes,
        |       ascii(substr(text, 1, 1)) AS head_byte,
        |       octet_length(encode(text)) // ((doc_id % 64 + 16) * (doc_id % 48 + 16)) AS frame_count
        |  FROM documents""".stripMargin)((s, d) =>
      Multimodal.extractFeatures(s, Multimodal.withSyntheticMedia(docs(s, d)))
        .toDF().select(col("id"), col("nBytes").as("n_bytes"),
          col("headByte").as("head_byte"), col("frameCount").as("frame_count"))),
    Gate("mm_frame_counts",
      "SELECT doc_id AS id, greatest(octet_length(encode(text)) // 64, 1) AS n_frames FROM documents")((s, d) =>
      Multimodal.sampleFrames(Multimodal.withSyntheticMedia(docs(s, d)), 32, 2)
        .groupBy(col("id")).agg(count(lit(1)).as("n_frames"))),
    // resize plumbing gated on byte-derivable scalars (byte 0 survives the
    // stride sample by construction; payload caps at 24x16=384 bytes; the
    // corpus is ASCII so the decoded head char code == the head byte)
    Gate("mm_resize",
      """SELECT doc_id AS id,
        |       least(octet_length(encode(text)), 384) AS n_bytes_out,
        |       24 AS out_width,
        |       ascii(substr(text, 1, 1)) AS head_byte
        |  FROM documents""".stripMargin)((s, d) =>
      Multimodal.resize(s, Multimodal.withSyntheticMedia(docs(s, d)), 24, 16)
        .toDF().select(col("id"),
          length(col("payload")).as("n_bytes_out"),
          expr("meta.width").as("out_width"),
          ascii(substring(col("payload").cast("string"), 1, 1)).as("head_byte"))),
    // REAL JDK codec round-trip at the driver gate: encode deterministic
    // PNG/WAV payloads in-query (even ids → ImageIO PNG, odd ids →
    // AudioSystem WAV), decode them with the real codecs, emit the decoded
    // geometry. The oracle states the expected pixel grids / PCM frame
    // counts as id arithmetic — rows match only if decoding actually ran.
    Gate("mm_decode_real",
      """SELECT o_orderkey AS id,
        |       CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 5 + 3 ELSE 0 END AS INT) AS width,
        |       CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 4 + 2 ELSE 0 END AS INT) AS height,
        |       CASE WHEN o_orderkey % 2 = 0 THEN (o_orderkey % 5 + 3) * (o_orderkey % 4 + 2) ELSE 0 END AS n_pixels,
        |       CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey * 10 + 50 ELSE 0 END AS pcm_frames
        |  FROM orders WHERE o_orderkey <= 32""".stripMargin)((s, d) =>
      Multimodal.decodeRealRoundTrip(s,
        orders(s, d).filter(col("o_orderkey") <= 32).select(col("o_orderkey").as("id")))),
    // perceptual image near-dup: every planted off-grid-perturbed twin must
    // pair with its original through REAL PNG decode → aHash → hamming
    // banding; violations (missed planted pairs) must be empty
    Gate("mm_image_near_dup",
      // planted perceptual-twin pairs must all be found → violations empty
      """SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b
        |  FROM orders WHERE FALSE""".stripMargin)((s, d) =>
      Multimodal.imageNearDupRoundTrip(s,
        orders(s, d).filter(col("o_orderkey") <= 24).select(col("o_orderkey").as("id")))),
    // per-class precision/recall/F1 over the NB predictions — closes the
    // train → apply → evaluate loop with exact integer ratios
    Gate[String]("eval_nb_report",
      // per-class P/R/F1 over the same NB predictions; F1 via the exact
      // integer identity 2·tp/(n_gold + n_pred), undefined ratios NULL
      s"""WITH $nbScoreCtes,
         |pred AS (SELECT doc_id, gold, lang AS predicted
         |           FROM sc QUALIFY row_number() OVER (PARTITION BY doc_id
         |                 ORDER BY s DESC, lang) = 1),
         |cells AS (SELECT gold AS g, predicted AS p, count(*) AS c
         |            FROM pred GROUP BY 1, 2),
         |gm AS (SELECT g AS label, CAST(sum(c) AS BIGINT) AS n_gold FROM cells GROUP BY 1),
         |pm AS (SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred FROM cells GROUP BY 1),
         |tpx AS (SELECT g AS label, c AS tp FROM cells WHERE g = p)
         |SELECT label,
         |       coalesce(n_gold, 0) AS n_gold,
         |       coalesce(n_pred, 0) AS n_pred,
         |       coalesce(tp, 0) AS tp,
         |       CASE WHEN coalesce(n_pred, 0) > 0
         |            THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_pred, 6) END AS precision,
         |       CASE WHEN coalesce(n_gold, 0) > 0
         |            THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_gold, 6) END AS recall,
         |       CASE WHEN coalesce(n_gold, 0) + coalesce(n_pred, 0) > 0
         |            THEN round(2.0 * coalesce(tp, 0)
         |                       / (coalesce(n_gold, 0) + coalesce(n_pred, 0)), 6) END AS f1
         |  FROM gm FULL OUTER JOIN pm USING (label) LEFT JOIN tpx USING (label)""".stripMargin,
      nbPreds, (s, d, dir) => {
      // NB predictions from the per-JVM derived-frame fixture (r20 wave 2):
      // nbClassify is the text_nb_classify gate's operator (fresh there);
      // here the operator under certification is the classification report
      Eval.classificationReport(s.read.parquet(dir), col("gold"), col("predicted"))
    }),
    // Kendall τ-a rank agreement between the token-count and char-count
    // orderings of each language's top-50 longest docs — the cheap-vs-
    // expensive scorer swap test; pairs form only WITHIN the bounded head
    Gate("eval_kendall_tau",
      // τ-a over the top-50-chars head per language: exact integer pair counts
      """WITH s AS (SELECT doc_id, lang,
        |                  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
        |                  CAST(length(text) AS BIGINT) AS n_chars_obs
        |             FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT lang, doc_id, n_tokens, n_chars_obs,
        |             row_number() OVER (PARTITION BY lang
        |                 ORDER BY n_chars_obs DESC, doc_id) AS r1
        |        FROM s QUALIFY r1 <= 50),
        |r AS (SELECT lang, r1,
        |             row_number() OVER (PARTITION BY lang
        |                 ORDER BY n_tokens DESC, doc_id) AS r2
        |        FROM h),
        |p AS (SELECT a.lang, count(*) AS n_pairs,
        |             sum(CASE WHEN a.r2 < b.r2 THEN 1 ELSE 0 END) AS concordant
        |        FROM r a JOIN r b ON a.lang = b.lang AND a.r1 < b.r1
        |       GROUP BY 1)
        |SELECT lang, n_pairs, CAST(concordant AS BIGINT) AS concordant,
        |       CAST(n_pairs - concordant AS BIGINT) AS discordant,
        |       round((2.0 * concordant - n_pairs) / n_pairs, 6) AS tau
        |  FROM p""".stripMargin)((s, d) => {
      val scored = docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"))
      Eval.rankAgreement(scored, col("lang"), col("n_chars_obs"),
          col("n_tokens"), col("doc_id"), head = 50)
        .withColumnRenamed("grp", "lang")
    }),
    // ---- evaluation metrics (Eval — §2.12 measurement family) ----
    // exact ROC AUC of event value as a purchase score: midranks via the
    // distributed globalOrdinals numbering (NO single-partition sort)
    Gate("eval_auc_purchase",
      // Mann–Whitney midrank AUC: tie group at cumulative count `cum` with n
      // members occupies ranks (cum−n+1)..cum, so 2·Σ(pos midranks) =
      // Σ np·(2·cum−n+1); the division happens once, in double
      """WITH g AS (SELECT value AS s, count(*) AS n,
        |                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        |             FROM events WHERE value IS NOT NULL GROUP BY 1),
        |o AS (SELECT s, n, np, sum(n) OVER (ORDER BY s) AS cum FROM g),
        |t AS (SELECT sum(CAST(np AS HUGEINT) * (2 * cum - n + 1)) AS r2,
        |             CAST(sum(np) AS BIGINT) AS p,
        |             CAST(sum(n - np) AS BIGINT) AS nn
        |        FROM o)
        |SELECT p AS n_pos, nn AS n_neg,
        |       round((CAST(r2 AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1))
        |             / (2.0 * CAST(p AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS auc
        |  FROM t""".stripMargin)((s, d) =>
      Eval.aucBinary(events(s, d), col("value"),
        col("event_type") === "purchase", col("event_id"))),
    // reliability bins of the max-normalized value against purchase —
    // bit-deterministic bin edges, exact decimal score sums
    Gate("eval_calibration_bins",
      """WITH mx AS (SELECT max(value) AS m FROM events WHERE value IS NOT NULL),
        |b AS (SELECT least(greatest(CAST(floor(value / m * 10) AS INT), 0), 9) AS bin,
        |             CAST(value AS DECIMAL(18,2)) AS v,
        |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |        FROM events, mx WHERE value IS NOT NULL)
        |SELECT bin, count(*) AS n,
        |       round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |             / (SELECT m FROM mx), 6) AS mean_score,
        |       round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS frac_pos
        |  FROM b GROUP BY 1""".stripMargin)((s, d) =>
      Eval.calibrationBins(events(s, d), col("value"),
        col("event_type") === "purchase", bins = 10)),
    // chance-corrected agreement of the n-gram language-ID heuristic
    // against the gold lang column — the labeler-acceptance metric
    Gate[String]("eval_langid_kappa",
      s"""WITH $langScoreCtes,
         |pred AS (SELECT doc_id, $predLangCase AS pred_lang FROM sc),
         |j AS (SELECT p.pred_lang AS pl, d.lang AS gl
         |        FROM pred p JOIN documents d USING (doc_id)
         |       WHERE p.pred_lang IS NOT NULL AND d.lang IS NOT NULL),
         |tot AS (SELECT count(*) AS n,
         |               sum(CASE WHEN pl = gl THEN 1 ELSE 0 END) AS diag
         |          FROM j),
         |rm AS (SELECT pl AS lab, count(*) AS c FROM j GROUP BY 1),
         |cm AS (SELECT gl AS lab, count(*) AS c FROM j GROUP BY 1),
         |pe AS (SELECT coalesce(sum(CAST(rm.c AS HUGEINT) * cm.c), 0) AS sp
         |         FROM rm JOIN cm USING (lab))
         |SELECT CAST(n AS BIGINT) AS n,
         |       round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed,
         |       round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_expected,
         |       CASE WHEN sp = CAST(n AS HUGEINT) * n THEN NULL
         |            ELSE round((CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
         |                    - CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         |                  / (1.0 - CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
         |       END AS kappa
         |  FROM tot, pe""".stripMargin, langIdPreds, (s, d, dir) => {
      // langId predictions from the per-JVM fixture (r20 wave 2b): langId
      // is the text_langid gate's operator (fresh there); the operator
      // under certification here is the chance-corrected agreement
      val pred = s.read.parquet(dir).select(col("doc_id"), col("pred_lang"))
      val j = pred.join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      Eval.cohensKappa(j, col("pred_lang"), col("lang"))
    }),
    // ---- privacy screens (Privacy — §2.12 release-gate family) ----
    // k-anonymity + l-diversity stats over the (segment, nation) quasi-
    // identifier with the acctbal-thousands bucket as the sensitive value
    Gate("privacy_k_anon_stats",
      """SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS l_distinct,
        |       count(*) >= 10 AS k_anonymous,
        |       count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3 AS l_diverse
        |  FROM customer GROUP BY 1, 2""".stripMargin)((s, d) =>
      Privacy.anonymityStats(customer(s, d), Seq("c_mktsegment", "c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long"), k = 10, l = 3)),
    // enforcement: suppress quasi-identifiers of rows in groups below k
    Gate("privacy_suppress_k",
      """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS grp_n
        |             FROM customer GROUP BY 1, 2)
        |SELECT c_custkey,
        |       CASE WHEN grp_n < 12 THEN '*' ELSE c.c_mktsegment END AS c_mktsegment,
        |       CASE WHEN grp_n < 12 THEN '*' ELSE CAST(c.c_nationkey AS VARCHAR) END AS c_nationkey,
        |       grp_n, grp_n < 12 AS suppressed
        |  FROM customer c JOIN g USING (c_mktsegment, c_nationkey)""".stripMargin)((s, d) =>
      Privacy.suppressBelowK(
        customer(s, d).select("c_custkey", "c_mktsegment", "c_nationkey"),
        Seq("c_mktsegment", "c_nationkey"), k = 12)
        .select("c_custkey", "c_mktsegment", "c_nationkey", "grp_n", "suppressed"))
  )
}
