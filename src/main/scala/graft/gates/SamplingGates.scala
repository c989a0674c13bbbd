package graft
package gates

import graft.ext.Sampling
import org.apache.spark.sql.functions._

/** Deterministic sampling: hash fractions, strata, quotas, budgets and splits. */
object SamplingGates {
  import Inputs._

  val gates: Seq[Gate[_]] = Seq(
    // ---- deterministic sampling (§2.12) ----
    Gate("sampling_hash_fraction",
      s"SELECT * FROM documents WHERE ${duckIdHash("doc_id")} % 1000 < 200")(
      (s, d) => Sampling.hashFraction(docs(s, d), "doc_id", 200)),
    Gate("sampling_stratified",
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |             ORDER BY ${duckIdHash("doc_id")}, doc_id) AS rn
         |    FROM documents) x WHERE rn <= 20""".stripMargin)(
      (s, d) => Sampling.stratified(docs(s, d), "lang", "doc_id", 20)),
    // quality-proportional keep: weight = n_chars/2000 (clamped at 1 inside
    // the operator — long docs always kept, short docs kept hash-fractionally)
    Gate("sampling_weighted",
      s"""SELECT doc_id, text, lang, source, n_chars, CAST(n_chars AS DOUBLE) / 2000.0 AS w
         |  FROM documents
         | WHERE CAST(${duckIdHash("doc_id")} % 1000000 AS DOUBLE)
         |       < least(greatest(CAST(n_chars AS DOUBLE) / 2000.0, 0), 1) * 1000000""".stripMargin)((s, d) =>
      Sampling.weightedFraction(
        docs(s, d).withColumn("w", col("n_chars") / lit(2000.0)), "doc_id", "w")),
    // domain mixing: fixed per-language quotas; es/zh have no quota → dropped
    Gate("sampling_stratified_quotas",
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT d.*, q.quota, row_number() OVER (PARTITION BY d.lang
         |             ORDER BY ${duckIdHash("doc_id")}, doc_id) AS rn
         |    FROM documents d
         |    JOIN (VALUES ('en', 30), ('de', 10), ('fr', 5)) q(lang, quota)
         |      ON d.lang = q.lang) x
         | WHERE rn <= quota""".stripMargin)((s, d) =>
      Sampling.stratifiedQuotas(docs(s, d), "lang", "doc_id",
        Map("en" -> 30, "de" -> 10, "fr" -> 5))),
    // fill a 60k-char budget from docs in deterministic hash order — the
    // corpus-assembly primitive (bucket-prefix plan, no global-order window)
    Gate("sampling_budget_select",
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT *, sum(n_chars) OVER (ORDER BY ${duckIdHash("doc_id")}, doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM documents) x
         | WHERE cum <= 60000""".stripMargin)((s, d) =>
      Sampling.budgetSelect(docs(s, d), "doc_id", "n_chars", 60000L)),
    // data-constrained mixing (Muennighoff et al. 2023): repeat each domain
    // to its char budget — whole epochs for every doc, then a deterministic
    // budget-walk partial epoch; es/zh have no budget → dropped. en exceeds
    // its corpus many-fold (multi-epoch), de/fr exercise the other regimes.
    Gate("sampling_repeat_to_budget",
      // whole epochs via integer div/mod on exact long totals; the partial
      // epoch is the budget-select walk per domain at epoch = nfull
      s"""WITH b(lang, budget) AS (VALUES ('en', 1500000), ('de', 150000), ('fr', 10000)),
         |tot AS (SELECT lang, sum(CAST(n_chars AS BIGINT)) AS total
         |          FROM documents GROUP BY lang),
         |e AS (SELECT b.lang, CAST(CAST(b.budget AS BIGINT) // t.total AS BIGINT) AS nfull,
         |             CAST(CAST(b.budget AS BIGINT) % t.total AS BIGINT) AS leftover
         |        FROM b JOIN tot t ON b.lang = t.lang WHERE t.total > 0)
         |SELECT d.doc_id, d.lang, CAST(u.ep AS BIGINT) AS epoch
         |  FROM documents d JOIN e ON d.lang = e.lang, unnest(range(e.nfull)) AS u(ep)
         |UNION ALL
         |SELECT doc_id, lang, CAST(nfull AS BIGINT) AS epoch FROM (
         |  SELECT d.doc_id, d.lang, e.nfull, e.leftover,
         |         sum(CAST(d.n_chars AS BIGINT)) OVER (PARTITION BY d.lang
         |           ORDER BY ${duckIdHash("doc_id")}, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM documents d JOIN e ON d.lang = e.lang) x
         | WHERE cum <= leftover""".stripMargin)((s, d) =>
      Sampling.repeatToBudget(docs(s, d), "lang", "doc_id", "n_chars",
        Map("en" -> 1500000L, "de" -> 150000L, "fr" -> 10000L))
        .select(col("doc_id"), col("lang"), col("epoch"))),
    // temperature-flattened language mixing (α = 0.5 → sqrt weights, the
    // IEEE-correctly-rounded point, so the oracle derives identical rates)
    Gate("sampling_temperature",
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |sm AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS sw FROM c),
         |r AS (SELECT lang, least(CAST(1.0 AS DOUBLE),
         |               (150.0 * sqrt(CAST(n AS DOUBLE))) / (sw * CAST(n AS DOUBLE))) AS rate
         |        FROM c, sm)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |  FROM documents d JOIN r USING (lang)
         | WHERE CAST(${duckIdHash("doc_id")} % 1000000 AS DOUBLE) < rate * 1000000""".stripMargin)((s, d) =>
      Sampling.temperatureSample(docs(s, d), "lang", "doc_id", alpha = 0.5, budget = 150L)),
    // per-language winsorization of n_chars to the [0.05, 0.95] quantile
    // band: rows kept, leverage capped; thresholds are one per-group
    // percentile agg broadcast back, the clamp a pure projection
    Gate("sampling_winsorize",
      // same per-group quantile_cont thresholds, same clamp and clipped flag
      // (the raw comparison, not the rounded value); NULL values pass through
      """WITH thr AS (SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
        |                    quantile_cont(n_chars, 0.95) AS hi
        |               FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars,
        |       CASE WHEN n_chars IS NOT NULL
        |            THEN round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 6)
        |       END AS winsorized,
        |       CASE WHEN n_chars IS NOT NULL
        |            THEN CAST(n_chars AS DOUBLE) < lo OR CAST(n_chars AS DOUBLE) > hi
        |            ELSE FALSE END AS winsorized_clipped
        |  FROM documents d JOIN thr ON d.lang = thr.lang""".stripMargin)((s, d) =>
      Sampling.winsorize(docs(s, d), "lang", "n_chars", loQ = 0.05, hiQ = 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("winsorized"), col("winsorized_clipped"))),
    // UniMax budget waterfall (Chung et al. 2023): budget 700 docs, 2-epoch
    // cap — at the sf0.01 distribution the two smallest languages take full
    // capacity and the rest sit at the common waterline, so both branches
    // of the closed form are exercised and hash-gated
    Gate("sampling_unimax",
      // identical waterfall closed form: ascending-capacity rank + running
      // sum, the prefix `fits` predicate, whole-frame (k*, P_k*) sums, and
      // the same CASE allocation — capacities are integral doubles at
      // maxEpochs 2.0, so the comparison is exact on both engines
      """WITH cnt AS (SELECT lang, count(*) AS n_docs FROM documents
        |              WHERE lang IS NOT NULL GROUP BY lang),
        |st AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) * 2.0 AS cap
        |         FROM cnt),
        |wn AS (SELECT lang, n_docs, cap,
        |              row_number() OVER (ORDER BY cap, lang) AS r,
        |              sum(cap) OVER (ORDER BY cap, lang) AS p,
        |              count(*) OVER () AS l
        |         FROM st),
        |ft AS (SELECT *, cap * (l - r) <= 700.0 - p AS fits FROM wn),
        |ks AS (SELECT *,
        |              sum(CASE WHEN fits THEN 1 ELSE 0 END) OVER () AS k,
        |              sum(CASE WHEN fits THEN cap ELSE 0.0 END) OVER () AS pk
        |         FROM ft)
        |SELECT lang, n_docs, round(cap, 6) AS capacity,
        |       round(CASE WHEN fits THEN cap
        |                  ELSE (700.0 - pk) / CAST(l - k AS DOUBLE) END, 6)
        |         AS alloc_docs,
        |       round(CASE WHEN fits THEN cap
        |                  ELSE (700.0 - pk) / CAST(l - k AS DOUBLE) END
        |             / CAST(n_docs AS DOUBLE), 6) AS epochs
        |  FROM ks""".stripMargin)((s, d) =>
      Sampling.unimaxAllocation(docs(s, d), "lang", budget = 700.0,
        maxEpochs = 2.0)),
    // the pre-training corpus shuffle: one deterministic hash permutation,
    // strided over 8 shards — same shard/pos on any engine or partitioning
    Gate("sampling_shuffle_shards",
      // the seeded hash is idHash("<id>:<seed>") — spelled as the same md5
      // construction with the ':0' literal concatenated before hashing
      s"""SELECT doc_id, (rn - 1) % 8 AS shard, (rn - 1) // 8 AS pos_in_shard
         |  FROM (SELECT doc_id, row_number() OVER (ORDER BY
         |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15) AS BIGINT),
         |          doc_id) AS rn
         |          FROM documents) x""".stripMargin)((s, d) =>
      Sampling.shuffleToShards(docs(s, d).select("doc_id"), "doc_id", 8)),
    // exactly-100 weighted sample (Efraimidis-Spirakis keys over the
    // portable id hash), length-proportional odds under a firm budget
    Gate("sampling_weighted_k",
      // ES keys re-derived: hash-uniform u strictly inside (0,1), ln(u)/w,
      // rounded-key ranking with id tiebreak for an engine-independent cutoff
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars,
         |         round(ln((CAST(${duckIdHash("doc_id")} % 1000000 AS DOUBLE) + 0.5)
         |                  / 1000000.0) / CAST(n_chars AS DOUBLE), 9) AS k
         |    FROM documents
         |   WHERE doc_id IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
         |     AND NOT isnan(CAST(n_chars AS DOUBLE))) x
         | ORDER BY k DESC, doc_id LIMIT 100""".stripMargin)((s, d) =>
      Sampling.weightedSampleK(docs(s, d), "doc_id", "n_chars", 100)
        .select("doc_id", "lang", "n_chars")),
    // equal-frequency discretization: order-price deciles; thresholds are
    // exact interpolated percentiles (≡ quantile_cont) and on-threshold
    // values fall LOWER — boundary-safe here because 2-decimal price gaps
    // (≥ 0.01) dwarf interpolation ulps
    Gate("sampling_quantile_bins",
      // α = 0.5 temperature mixing: sqrt is IEEE-correctly-rounded, so both
      // engines derive bit-identical per-language rates; the arithmetic shape
      // (budget·w)/(sw·n) mirrors the Spark expression exactly
      // decile thresholds via quantile_cont ≡ Spark percentile; strictly-
      // below counting reproduces the ties-fall-lower contract
      """WITH t AS (SELECT quantile_cont(o_totalprice,
        |                    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS th
        |             FROM orders)
        |SELECT o_orderkey,
        |       CASE WHEN o_totalprice IS NULL THEN NULL
        |            ELSE 1 + len(list_filter(t.th, x -> o_totalprice > x)) END AS bin
        |  FROM orders, t""".stripMargin)((s, d) =>
      Sampling.quantileBins(orders(s, d), "o_totalprice", 10)
        .select("o_orderkey", "bin")),
    // cross-domain score calibration (quantile normalization): per-language
    // percent rank re-mapped onto the GLOBAL length distribution — the
    // "make scores comparable across sources" step before mixing; percent
    // rank via distinct-value cumsum (no per-group row sort), grid as one
    // broadcast aggregation row
    Gate("sampling_quantile_normalize",
      // quantile normalization re-derived: percent_rank within language
      // (ties share the min rank — DuckDB's window semantics ≡ the engine's
      // distinct-value cumsum), global grid via quantile_cont ≡ Spark
      // percentile, both rounds half-away-from-zero in both engines
      s"""WITH b AS (SELECT doc_id, lang, n_chars FROM documents
         |            WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         |g AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
         |               [${(0 to 100).map(i => i / 100.0).mkString(",")}]) AS grid
         |        FROM b),
         |pr AS (SELECT doc_id, lang, n_chars,
         |              percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
         |         FROM b)
         |SELECT pr.doc_id, pr.lang, pr.n_chars,
         |       round(g.grid[CAST(round(pr.pr * 100) AS INT) + 1], 6) AS calibrated
         |  FROM pr, g""".stripMargin)((s, d) =>
      Sampling.quantileNormalize(docs(s, d), "lang", "n_chars", gridK = 100)
        .select("doc_id", "lang", "n_chars", "calibrated")),
    // deterministic contrastive negatives: 3 hash-drawn partners per doc,
    // partner ordinal = idHash("id:j") mod n — reproducible on any engine,
    // self-collisions dropped
    Gate("sampling_negative_pairs",
      // same ordinal + 60-bit-hash-mod-n arithmetic, self-collisions dropped
      s"""WITH o AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS ord
         |             FROM documents),
         |n AS (SELECT count(*) AS n FROM documents),
         |a AS (SELECT o.doc_id AS anchor_id, o.ord AS aord, js.j,
         |             CAST('0x' || substr(md5(CAST(o.doc_id AS VARCHAR) || ':' ||
         |                  CAST(js.j AS VARCHAR)), 1, 15) AS BIGINT) % n.n AS pord
         |        FROM o, n, (SELECT unnest(range(0, 3)) AS j) js)
         |SELECT a.anchor_id, a.j, p.doc_id AS negative_id
         |  FROM a JOIN o p ON a.pord = p.ord
         | WHERE a.pord <> a.aord""".stripMargin)((s, d) =>
      Sampling.negativePairs(docs(s, d).select("doc_id"), "doc_id", 3)),
    // leakage-safe splits: near-dup cluster members must land in ONE split
    // (the split boundary can only fall between clusters)
    Gate[String]("sampling_split_cluster_safe",
      // cluster-safe splits: split key = cluster label (min member id) for
      // clustered docs, own id for singletons; cumulative-ppm thresholds on
      // the portable id hash — 0.8/0.1/0.1 → 800000/900000
      s"""$clusterCtes,
         |cl AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
         |k AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS key
         |        FROM documents d LEFT JOIN cl ON d.doc_id = cl.node),
         |h AS (SELECT doc_id, ${duckIdHash("key")} % 1000000 AS b FROM k)
         |SELECT doc_id, CASE WHEN b < 800000 THEN 'train'
         |                    WHEN b < 900000 THEN 'val'
         |                    ELSE 'test' END AS split
         |  FROM h""".stripMargin, jaccardClusters, (s, d, dir) => {
      val doc = docs(s, d)
      // shared near-dup clusters fixture (see pipeline_corpus_select_fuzzy)
      val clusters = s.read.parquet(dir)
      Sampling.assignSplitsClusterSafe(doc, clusters, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    }),
    // per-group quantile gate: keep docs at or above their language's median
    // length — the "top half by quality, per language" selection rule; one
    // grouped pass for thresholds, broadcast back over the corpus
    Gate("sampling_quantile_filter",
      """WITH thr AS (SELECT lang, quantile_cont(n_chars, 0.5) AS t
        |               FROM documents GROUP BY lang)
        |SELECT doc_id, text, d.lang, source, n_chars
        |  FROM documents d JOIN thr ON d.lang = thr.lang
        | WHERE d.n_chars >= thr.t""".stripMargin)((s, d) =>
      Sampling.groupQuantileFilter(docs(s, d), "lang", "n_chars", 0.5))
  )
}
