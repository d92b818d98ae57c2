package graft.queries

/** DuckDB oracle SQL for [[ExtQueries]] — same determinism contract as
  * [[RefOracles]]: integer arithmetic wherever possible; the one float
  * pipeline (cosine) uses `list_reduce`, DuckDB's sequential left-fold,
  * which is bit-identical to Spark's `aggregate` fold. The MinHash constants
  * are the same literals as ExtQueries.MinhashA/B (interpolated below). */
object ExtOracles {

  private val P = graft.functions.GraftFunctions.IntModulus

  /** The funnel's conditional-min stage CTEs (`e`, `s0`..`s${k-1}`) — the
    * SQL twin of `ExtQueries.funnelStages`, shared by `e_funnel` and
    * `e_time_to_convert` so the two reports derive the same converters.
    * GENERATED from [[ExtQueries.FunnelSteps]] (stage list and step names
    * alike), so editing the step chain on the Spark side re-derives the
    * oracle rather than silently desynchronizing it. */
  private val funnelStageCtes: String = {
    val steps = ExtQueries.FunnelSteps
    val head =
      s"""e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s0 AS (SELECT user_id, min(us) AS t FROM e
        |  WHERE event_type = '${steps.head}' GROUP BY 1)""".stripMargin
    val tail = steps.tail.zipWithIndex.map { case (step, i) =>
      s"""s${i + 1} AS (SELECT e.user_id, min(us) AS t FROM e
        |  JOIN s$i ON e.user_id = s$i.user_id
        |  WHERE event_type = '$step' AND us > s$i.t GROUP BY 1)""".stripMargin
    }
    (head +: tail).mkString(",\n")
  }
  /** `s${last}` — the completed-funnel stage, for the duration join. */
  private val funnelLastStage: String = s"s${ExtQueries.FunnelSteps.size - 1}"
  private def lst(xs: Seq[Long]): String = xs.mkString("[", ", ", "]")
  /** `'the', 'a', 'of'` — the quality stopword list as a SQL IN-list,
    * interpolated so the oracle can never drift from
    * [[ExtQueries.Stopwords]]. */
  private val stopwordList: String = ExtQueries.Stopwords.map(s => s"'$s'").mkString(", ")

  /** Shared shingle-set CTEs: `sh` yields (doc_id, ds) — ds the DISTINCT
    * numeric 3-gram shingle hashes of `src`(doc_id, text). The SQL twin of
    * `ExtQueries.shingleSets`, defined once for the same reason: every
    * consumer (e_minhash_dedup, e_decontaminate) must derive bit-identical
    * sets or the cross-engine compare silently diverges. */
  private def shingleCtes(src: String): String =
    s"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $src),
      |th AS (SELECT doc_id, t,
      |  list_transform(t, x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT) % $P) AS h
      |  FROM toks),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(t) <= 3
      |    THEN [CAST('0x'||substr(md5(array_to_string(t, ' ')),1,15) AS BIGINT) % $P]
      |    ELSE list_transform(range(0, len(t) - 2),
      |           i -> ((h[i+1] * ${ExtQueries.ShingleC(0)}) % $P
      |               + (h[i+2] * ${ExtQueries.ShingleC(1)}) % $P
      |               + (h[i+3] * ${ExtQueries.ShingleC(2)}) % $P) % $P) END) AS ds
      |  FROM th)""".stripMargin

  /** Shared bigram-set CTEs: `sets` yields (doc_id, lang, source, bs) — bs
    * the DISTINCT numeric 2-gram hashes over the variant-augmented corpus.
    * The SQL twin of `ExtQueries.bigramSetsKeeping` over
    * `docsWithVariants`, defined once so the blocked (`e_ngram_jaccard`)
    * and prefix-filtered (`e_jaccard_prefix`) joins verify against the
    * same sets by construction. */
  private lazy val bigramSetsCtes: String =
    s"""all_docs AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, lang, source,
      |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[6:], ' ') AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, lang, source,
      |  regexp_split_to_array(trim(text), '\\s+') AS t FROM all_docs),
      |th AS (SELECT doc_id, lang, source, t,
      |  list_transform(t, x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT) % $P) AS h FROM toks),
      |bg AS (SELECT doc_id, lang, source,
      |  CASE WHEN len(t) <= 2
      |       THEN [CAST('0x'||substr(md5(array_to_string(t, ' ')),1,15) AS BIGINT) % $P]
      |       ELSE list_transform(range(0, len(t) - 1),
      |              i -> ((h[i+1] * ${ExtQueries.ShingleC(0)}) % $P
      |                  + (h[i+2] * ${ExtQueries.ShingleC(1)}) % $P) % $P) END AS bigrams
      |  FROM th),
      |sets AS (SELECT doc_id, lang, source, list_distinct(bigrams) AS bs FROM bg)""".stripMargin

  /** Shared PCA chain CTEs: exact fixed-point Gram accumulation (`gu`)
    * plus the `ExtQueries.PcaSteps` power-iteration rounds unrolled
    * (final iterate `v<steps>` = (varr, lambda)). The SQL twin of
    * `ExtQueries.pcaParts`, defined once so the graded eigenpair
    * (`e_pca_power`) and the projection screen (`e_pca_project`) verify
    * against the same chain by construction. */
  private lazy val pcaChainCtes: String = {
    val d = ExtQueries.PcaDim
    val s = f"${ExtQueries.PcaScale}%.1f"
    def step(r: Int): String =
      s"""w$r AS (SELECT g2.i AS i,
        |  list_reduce(list_transform(list_zip(g2.garr, v${r - 1}.varr),
        |    pz -> pz[1] * pz[2]), (a, b) -> a + b) AS w
        |  FROM g2, v${r - 1}),
        |a$r AS (SELECT list(w ORDER BY i) AS warr FROM w$r),
        |n$r AS (SELECT warr,
        |  sqrt(list_reduce(list_transform(warr, x -> x * x), (a, b) -> a + b)) AS lambda
        |  FROM a$r),
        |v$r AS (SELECT list_transform(warr, x -> x / lambda) AS varr, lambda FROM n$r)""".stripMargin
    s"""dims AS (SELECT unnest(range($d)) AS i),
      |pr AS (
      |  SELECT di.i AS i, dj.i AS j,
      |    CAST(floor(CAST(embedding[di.i + 1] AS DOUBLE)
      |             * CAST(embedding[dj.i + 1] AS DOUBLE) * $s) AS BIGINT) AS p
      |  FROM embeddings, dims di, dims dj WHERE di.i <= dj.i),
      |gu AS (SELECT i, j, CAST(sum(p) AS BIGINT) AS g FROM pr GROUP BY i, j),
      |gf AS (SELECT i, j, g FROM gu
      |  UNION ALL SELECT j AS i, i AS j, g FROM gu WHERE i <> j),
      |g2 AS (SELECT i, list_transform(list(g ORDER BY j),
      |  x -> CAST(x AS DOUBLE) / $s) AS garr FROM gf GROUP BY i),
      |v0 AS (SELECT list_transform(range($d), x -> CAST(0.125 AS DOUBLE)) AS varr),
      |${(1 to ExtQueries.PcaSteps).map(step).mkString(",\n")}""".stripMargin
  }

  /** `e_mmr` — greedy Maximal Marginal Relevance, the `ExtQueries.MmrK`
    * selection rounds UNROLLED as chained CTEs (the `beamSearchSql` /
    * `kmeansChainCtes` device): round r picks the argmax of
    * `0.5·rel − 0.5·max sim-to-sel{r−1}` (cid ASC tie-break) among pool
    * candidates not yet selected. Pool, relevance and pairwise sims use the
    * same sequential-fold cosine as `cosineTopkSql`. */
  private lazy val mmrSql: String = {
    def round(r: Int): String =
      s"""pick$r AS (
        |  SELECT qid, cid, rel, mmr FROM (
        |    SELECT p.qid, p.cid, p.rel,
        |      0.5 * p.rel - 0.5 * COALESCE(ms.m, 0.0) AS mmr,
        |      row_number() OVER (PARTITION BY p.qid
        |        ORDER BY 0.5 * p.rel - 0.5 * COALESCE(ms.m, 0.0) DESC, p.cid ASC) AS rn
        |    FROM pool p
        |    LEFT JOIN (
        |      SELECT pr.qid, pr.a AS cid, max(pr.sim) AS m
        |      FROM pairs pr JOIN sel${r - 1} s ON pr.qid = s.qid AND pr.b = s.cid
        |      GROUP BY pr.qid, pr.a) ms
        |      ON p.qid = ms.qid AND p.cid = ms.cid
        |    LEFT JOIN sel${r - 1} ss ON p.qid = ss.qid AND p.cid = ss.cid
        |    WHERE ss.cid IS NULL) WHERE rn = 1),
        |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
        |  SELECT qid, cid, rel, mmr AS mmr_score, CAST($r AS INT) AS rank FROM pick$r)""".stripMargin
    s"""WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
      |  FROM embeddings WHERE vec_id < 8),
      |c AS (
      |  SELECT vec_id AS cid, embedding AS ce,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.qid, c.cid,
      |    list_reduce(list_transform(list_zip(q.qe, c.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.nq * c.nc) AS rel
      |  FROM q, c WHERE c.cid <> q.qid),
      |pool AS (SELECT qid, cid, rel FROM (
      |  SELECT qid, cid, rel,
      |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn
      |  FROM scored) WHERE rn <= ${ExtQueries.MmrPoolC}),
      |pairs AS (
      |  SELECT p1.qid, p1.cid AS a, p2.cid AS b,
      |    list_reduce(list_transform(list_zip(c1.ce, c2.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (c1.nc * c2.nc) AS sim
      |  FROM pool p1 JOIN pool p2 ON p1.qid = p2.qid AND p1.cid <> p2.cid
      |  JOIN c c1 ON c1.cid = p1.cid JOIN c c2 ON c2.cid = p2.cid),
      |sel0 AS (SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS cid,
      |  CAST(NULL AS DOUBLE) AS rel, CAST(NULL AS DOUBLE) AS mmr_score,
      |  CAST(NULL AS INT) AS rank WHERE FALSE),
      |${(1 to ExtQueries.MmrK).map(round).mkString(",\n")}
      |SELECT qid, cid, rel, mmr_score, rank FROM sel${ExtQueries.MmrK}
      |ORDER BY qid, rank""".stripMargin
  }

  /** The minhash near-dup pipeline through its `verified` CTE — shared by
    * `e_minhash_dedup` (pair output) and `e_dup_clusters` (connected
    * components over the pairs), the SQL twin of
    * `ExtQueries.minhashVerifiedPairs`. One definition for the same reason
    * as [[shingleCtes]]: duplicated derivations drift. */
  /** The minhash signature → banded candidates → exact-Jaccard `verified`
    * chain, reading the `sh` shingle CTE — factored out of [[minhashBody]]
    * so `e_curation_funnel` can run the SAME chain over a different corpus
    * (its stage-1 survivors). */
  /** The minhash signature → banded bucket-key chain (`mh`, `bands`)
    * reading `sh` — the SQL twin of `ExtQueries.minhashBands`, factored out
    * of [[minhashSigCtes]] so the self-join (`e_minhash_dedup` family) and
    * the corpus×batch join (`e_cross_dedup`) bucket with ONE banding
    * definition. */
  private lazy val minhashBandCtes: String =
    s"""mh AS (SELECT doc_id,
      |  list_transform(range(0, ${ExtQueries.NumHashes}), i ->
      |    list_min(list_transform(ds,
      |      h -> (${lst(ExtQueries.MinhashA)}[i+1] * h
      |            + ${lst(ExtQueries.MinhashB)}[i+1]) % $P))) AS sig
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, b,
      |    array_to_string(sig[${ExtQueries.RowsPerBand}*b+1:${ExtQueries.RowsPerBand}*b+${ExtQueries.RowsPerBand}], '-') AS bsig
      |  FROM mh, (SELECT unnest(range(${ExtQueries.NumBands})) AS b))""".stripMargin

  /** The exact-Jaccard `verified` tail reading `cand` + `sh` — the SQL twin
    * of `ExtQueries.verifiedJaccardPairs`, factored so every candidate
    * generator (self-join, cross-join) verifies with the same criterion. */
  private lazy val minhashVerifyCte: String =
    s"""verified AS (
      |  SELECT c.doc_a, c.doc_b,
      |    len(list_intersect(sa.ds, sb.ds)) AS n_inter,
      |    len(list_distinct(list_concat(sa.ds, sb.ds))) AS n_union
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b)""".stripMargin

  private lazy val minhashSigCtes: String =
    s"""$minhashBandCtes,
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bands x JOIN bands y
      |    ON x.b = y.b AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
      |$minhashVerifyCte""".stripMargin

  /** Centroid-assignment CTEs — `assigned` yields (vec_id, e, nrm, cell):
    * every vector hard-assigned to its max-cosine seed centroid (pinned
    * tie-break cent_id ASC), the SQL twin of `ExtQueries.rankedCells` over
    * `ExtQueries.centroids`. Shared by `e_cosine_topk_ivf` (serving) and
    * `e_kmeans_iter` (training) so the two sides of the index can never
    * disagree on the cell boundary. */
  private lazy val centAssignCtes: String =
    s"""cents AS (SELECT vec_id AS cent_id, embedding AS ce,
      |  sqrt(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)),
      |    (acc,x) -> acc+x)) AS ncent
      |  FROM embeddings WHERE vec_id < ${ExtQueries.IvfCells}),
      |vecs AS (SELECT vec_id, embedding AS e,
      |  sqrt(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)),
      |    (acc,x) -> acc+x)) AS nrm
      |  FROM embeddings),
      |sims AS (SELECT v.vec_id, v.e, v.nrm, c.cent_id,
      |  list_reduce(list_transform(list_zip(v.e, c.ce),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
      |    / (v.nrm * c.ncent) AS csim
      |  FROM vecs v, cents c),
      |assigned AS (SELECT vec_id, e, nrm, cent_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cent_id ASC) AS crank FROM sims)
      |  WHERE crank = 1)""".stripMargin

  /** Hyperplane-projection + band-bucket CTEs (`proj`, `bands`) — the SQL
    * twin of `ExtQueries.withBandBuckets` at the ANN sizing, shared by
    * `e_cosine_topk_lsh` and `e_ann_cost` so the serve and its cost audit
    * derive one bucket definition. */
  private lazy val lshBandCtes: String =
    s"""proj AS (SELECT vec_id, embedding AS e,
      |  sqrt(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)),
      |    (a,b) -> a+b)) AS nrm,
      |  list_transform(range(0, ${ExtQueries.AnnPlanes}), p ->
      |    list_reduce(list_transform(range(0,64), d ->
      |      (CAST(((p*64+d)*2654435761) % 2147483648 AS DOUBLE)/2147483648.0 - 0.5)
      |        * CAST(embedding[d+1] AS DOUBLE)), (a,b) -> a+b)) AS pr
      |  FROM embeddings),
      |bands AS (SELECT vec_id, e, nrm, b,
      |  list_sum(list_transform(range(0, ${ExtQueries.AnnBandBits}), r ->
      |    CASE WHEN pr[b*${ExtQueries.AnnBandBits}+r+1] > 0
      |         THEN (CAST(1 AS BIGINT) << r) ELSE 0 END)) AS bv
      |  FROM proj, (SELECT unnest(range(${ExtQueries.AnnBands})) AS b))""".stripMargin

  /** Labeled-assignment + adaptive probe-schedule CTEs over
    * [[centAssignCtes]]' frames (`lab`, `cellcnt`, `qc`, `qcum`, `qplan`)
    * — the SQL twin of `ExtQueries.ivfProbeSchedule` /
    * `ivfAdaptivePlanOf`, shared by `e_ivf_filter_adaptive` and
    * `e_filter_cost` so the serving plan and its cost audit derive one
    * schedule definition. */
  private lazy val ivfScheduleCtes: String =
    s"""lab AS (SELECT a.vec_id, a.e, a.nrm, emb.label, a.cell
      |  FROM assigned a JOIN embeddings emb USING (vec_id)),
      |cellcnt AS (SELECT cell, label, count(*) AS m
      |  FROM lab GROUP BY cell, label),
      |qc AS (SELECT s.vec_id AS qid, s.e AS qe, s.nrm AS nq, s.cent_id AS cell,
      |    (emb.label + 1) % ${ExtQueries.AnnFilterLabels} AS tgt,
      |    row_number() OVER (PARTITION BY s.vec_id
      |      ORDER BY s.csim DESC, s.cent_id ASC) AS crank
      |  FROM sims s JOIN embeddings emb ON emb.vec_id = s.vec_id
      |  WHERE s.vec_id < 8),
      |qcum AS (SELECT qc.*,
      |  sum(coalesce(cc.m, 0)) OVER (PARTITION BY qid ORDER BY crank
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  coalesce(cc.m, 0) AS m
      |  FROM qc LEFT JOIN cellcnt cc ON cc.cell = qc.cell AND cc.label = qc.tgt),
      |qplan AS (SELECT qid, CAST(max(cum) AS BIGINT) AS n_match_total,
      |    CAST(CASE WHEN max(cum) <= ${ExtQueries.IvfAdaptiveSpillMax}
      |      THEN ${ExtQueries.IvfCells}
      |      ELSE coalesce(min(CASE WHEN cum >= ${ExtQueries.IvfAdaptiveTargetK}
      |        THEN crank END), ${ExtQueries.IvfCells})
      |      END AS INTEGER) AS eff_nprobe,
      |    CAST(CASE WHEN max(cum) <= ${ExtQueries.IvfAdaptiveSpillMax}
      |      THEN 1 ELSE 0 END AS BIGINT) AS spilled
      |  FROM qcum GROUP BY qid)""".stripMargin

  /** The variant-augmented corpus CTE (`all_docs`) — the SQL twin of
    * `ExtQueries.docsWithVariants` with the shared [[ExtQueries.VariantIdOffset]]
    * boundary, factored so consumers that split the universe back into
    * (corpus, batch) sides reference the same offset definition. */
  private lazy val allDocsCte: String =
    s"""all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${ExtQueries.VariantIdOffset} AS doc_id,
      |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[6:], ' ') AS text
      |  FROM documents)""".stripMargin

  private lazy val minhashBody: String =
    s"""$allDocsCte,
      |${shingleCtes("all_docs")},
      |$minhashSigCtes""".stripMargin

  /** The Gopher quality-rule CTE chain over `src`(doc_id, lang, source,
    * text), ending in `qr` (signals + verdict + keep) — ONE SQL rule
    * definition shared by `e_quality_filter` and `e_curation_funnel`,
    * mirroring `ExtQueries.qualitySignals`. */
  private def qualityCtes(src: String): String =
    s"""qt AS (
      |  SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM $src),
      |qs AS (
      |  SELECT doc_id, lang, source,
      |    len(tk) AS n_tokens,
      |    len(list_distinct(tk)) AS n_uniq,
      |    list_sum(list_transform(tk, x -> length(x))) AS total_len,
      |    len(list_filter(tk, x -> length(x) >= ${ExtQueries.QfGarbageTokenLen})) AS n_long_tokens,
      |    len(list_filter(tk, x -> x IN ($stopwordList))) AS n_stop
      |  FROM qt),
      |qv AS (
      |  SELECT doc_id, lang, source, n_tokens,
      |    CAST(total_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
      |    CAST(1 AS DOUBLE) - CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_ratio,
      |    n_long_tokens, n_stop FROM qs),
      |qr AS (
      |  SELECT doc_id, lang, source, n_tokens, mean_token_len, dup_ratio,
      |    n_long_tokens, n_stop,
      |    CASE WHEN n_tokens < ${ExtQueries.QfMinTokens} THEN 'too_short'
      |         WHEN n_tokens > ${ExtQueries.QfMaxTokens} THEN 'too_long'
      |         WHEN mean_token_len < CAST(${ExtQueries.QfMinMeanLen} AS DOUBLE) THEN 'tokens_too_short'
      |         WHEN mean_token_len > CAST(${ExtQueries.QfMaxMeanLen} AS DOUBLE) THEN 'tokens_too_long'
      |         WHEN n_long_tokens > 0 THEN 'has_garbage_token'
      |         WHEN dup_ratio > CAST(${ExtQueries.QfMaxDupRatio} AS DOUBLE) THEN 'too_repetitive'
      |         WHEN n_stop = 0 THEN 'no_stopwords'
      |         ELSE 'keep' END AS verdict,
      |    (n_tokens >= ${ExtQueries.QfMinTokens} AND n_tokens <= ${ExtQueries.QfMaxTokens}
      |      AND mean_token_len >= CAST(${ExtQueries.QfMinMeanLen} AS DOUBLE)
      |      AND mean_token_len <= CAST(${ExtQueries.QfMaxMeanLen} AS DOUBLE)
      |      AND n_long_tokens = 0 AND dup_ratio <= CAST(${ExtQueries.QfMaxDupRatio} AS DOUBLE)
      |      AND n_stop > 0) AS keep
      |  FROM qv)""".stripMargin

  /** The semantic-dedup CTE chain through `assigned` (corpus + perturbed
    * variants, cell-assigned by argmax cosine over the pinned seed
    * centroids) — the SQL twin of `ExtQueries.semanticAssigned`, shared by
    * `e_semantic_dedup` and `e_greedy_dedup` for the same no-drift reason
    * as [[shingleCtes]]/[[minhashBody]]. */
  private lazy val semanticAssignedBody: String =
    s"""all_vecs AS (
      |  SELECT vec_id, embedding AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(range(0, len(embedding)),
      |      d -> CAST(CAST(embedding[d+1] AS DOUBLE) * (0.9 + 0.05*CAST(d % 5 AS DOUBLE)) AS FLOAT)) AS e
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, e AS ce,
      |  sqrt(list_reduce(list_transform(e, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS ncent
      |  FROM all_vecs WHERE vec_id < ${ExtQueries.IvfCells}),
      |vecs AS (SELECT vec_id, e,
      |  sqrt(list_reduce(list_transform(e, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS nrm
      |  FROM all_vecs),
      |sims AS (SELECT v.vec_id, v.e, v.nrm, c.cent_id,
      |  list_reduce(list_transform(list_zip(v.e, c.ce),
      |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
      |    / (v.nrm * c.ncent) AS csim
      |  FROM vecs v, cents c),
      |assigned AS MATERIALIZED (SELECT vec_id, e, nrm, cent_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cent_id ASC) AS crank FROM sims)
      |  WHERE crank = 1)""".stripMargin

  /** The 32-term bit interleave of `e_zorder`, generated from the same
    * [[ExtQueries.ZOrderBits]] constant the Spark side weaves with — the
    * two formulas cannot drift. */
  private val zTerms: String =
    (0 until ExtQueries.ZOrderBits).map(i =>
      s"((uid16 >> $i) & 1) * ${1L << (2 * i + 1)} + ((day16 >> $i) & 1) * ${1L << (2 * i)}")
      .mkString(" + ")

  /** The cell-assignment CTE chain of `e_knn_graph` — the SQL twin of
    * `ExtQueries.knnGraphCells`' assignment (the base corpus, unlike
    * [[semanticAssignedBody]] which assigns corpus + perturbed variants). */
  private lazy val knnAssignedBody: String =
    s"""cents AS (SELECT vec_id AS cent_id, embedding AS ce,
      |  sqrt(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS ncent
      |  FROM embeddings WHERE vec_id < ${ExtQueries.IvfCells}),
      |vecs AS (SELECT vec_id, embedding AS e,
      |  sqrt(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS nrm
      |  FROM embeddings),
      |sims AS (SELECT v.vec_id, v.e, v.nrm, c.cent_id,
      |  list_reduce(list_transform(list_zip(v.e, c.ce),
      |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
      |    / (v.nrm * c.ncent) AS csim
      |  FROM vecs v, cents c),
      |assigned AS (SELECT vec_id, e, nrm, cent_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cent_id ASC) AS crank FROM sims)
      |  WHERE crank = 1)""".stripMargin

  /** The duplicate-span DETECTION chain (tokens → overlapping window hashes
    * → non-first occurrences → merged per-doc spans) — the SQL twin of
    * `ExtQueries.dupSpanChain`, shared by `e_dup_spans` (report) and
    * `e_dup_span_removal` (rewrite) so the two can never disagree about
    * what counts as a duplicated span. */
  private lazy val dupSpanBody: String =
    s"""toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      |w AS (SELECT doc_id,
      |  unnest(range(0, greatest(len(t) - ${ExtQueries.DupSpanTokens} + 1, 0))) AS pos,
      |  unnest(list_transform(range(0, greatest(len(t) - ${ExtQueries.DupSpanTokens} + 1, 0)),
      |    i -> CAST('0x'||substr(md5(array_to_string(
      |      t[i+1:i+${ExtQueries.DupSpanTokens}], ' ')),1,15) AS BIGINT))) AS h
      |  FROM toks),
      |occ AS (SELECT doc_id, pos, h,
      |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM w),
      |dup AS (SELECT doc_id, pos, pos + ${ExtQueries.DupSpanTokens} - 1 AS e
      |  FROM occ WHERE rn > 1),
      |isl AS (SELECT doc_id, pos, e,
      |  CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
      |    THEN 1 ELSE 0 END AS brk
      |  FROM dup),
      |grp AS (SELECT doc_id, pos, e,
      |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g FROM isl),
      |spans AS (SELECT doc_id, g, min(pos) AS s, max(e) AS e2
      |  FROM grp GROUP BY doc_id, g)""".stripMargin

  /** Exact brute-force cosine top-k — shared verbatim by `e_cosine_topk`
    * (window execution) and `e_cosine_topk_agg` (bounded-state aggregate
    * execution): both must hash-match this one definition. */
  private lazy val cosineTopkSql: String =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
      |  FROM embeddings WHERE vec_id < 8),
      |c AS (
      |  SELECT vec_id AS cid, embedding AS ce,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.qid, c.cid,
      |    list_reduce(list_transform(list_zip(q.qe, c.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.nq * c.nc) AS score
      |  FROM q, c WHERE c.cid <> q.qid),
      |ranked AS (
      |  SELECT qid, cid, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM scored)
      |SELECT qid, cid, score, rank FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  // ---- SQ family: shared code / scored CTE text ----------------------------

  /** SQ8 code + integer-cosine scoring CTEs (`sq_scored` the terminal) —
    * the SQL twin of `ExtQueries.sqCodes` + `sqTopkImpl`'s scoring: codes
    * via the same one-divide-one-floor contract `e_vec_quantize` proves
    * cross-engine, then score = int dot / (√Σq² · √Σc²) — dot and norms
    * exact int64, so only two sqrts and a divide of exact values exist
    * (no fold contract needed). Shared by `e_sq_topk` and `e_sq_rerank`
    * so shortlist and serve derive one scoring definition. */
  private lazy val sqBodyCtes: String =
    """sq_sc AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, u -> abs(CAST(u AS DOUBLE)))) / 127.0 AS s
      |  FROM embeddings),
      |sq_codes AS (SELECT vec_id,
      |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) / s + 0.5) AS BIGINT)) AS c
      |  FROM sq_sc),
      |sq_n2 AS (SELECT vec_id, c,
      |    CAST(list_sum(list_transform(c, x -> x * x)) AS DOUBLE) AS nn
      |  FROM sq_codes),
      |sq_scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    CAST(list_sum(list_transform(list_zip(q.c, c.c), p -> p[1] * p[2])) AS DOUBLE)
      |      / (sqrt(q.nn) * sqrt(c.nn)) AS score
      |  FROM sq_n2 q, sq_n2 c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)""".stripMargin

  /** Top-`k` per query over `sq_scored` under the pinned total order. */
  private def sqTopkSql(k: Int): String =
    s"""WITH $sqBodyCtes
      |SELECT qid, cid, score, rank FROM (
      |  SELECT qid, cid, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM sq_scored) WHERE rank <= $k
      |ORDER BY qid, rank""".stripMargin

  /** `e_sq_rerank` — SQ shortlist at R, exact-cosine refine to top-10.
    * The refine stage's cosine is the `e_cosine_topk` text verbatim
    * (fold contract and all), applied only to shortlisted pairs. */
  private lazy val sqRerankSql: String =
    s"""WITH $sqBodyCtes,
      |shortlist AS (SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rk
      |  FROM sq_scored) WHERE rk <= ${ExtQueries.SqRerankR}),
      |q AS (SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
      |  FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS cid, embedding AS ce,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
      |  FROM embeddings),
      |rescored AS (SELECT s.qid, s.cid,
      |    list_reduce(list_transform(list_zip(q.qe, c.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.nq * c.nc) AS score
      |  FROM shortlist s JOIN q ON q.qid = s.qid JOIN c ON c.cid = s.cid)
      |SELECT qid, cid, score, rank FROM (
      |  SELECT qid, cid, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM rescored) WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  // ---- IVF-PQ family: parametric serve / refine texts -----------------------

  /** The IVF-PQ ADC serve at top-`k` — the IVF assignment CTEs (shared
    * with `e_cosine_topk_ivf`) feed residual PQ encoding and the
    * three-table ADC serve; every subspace fold is the same sequential
    * left-fold, summed in pinned sub order via list(... ORDER BY sub).
    * Parametric in the depth so `e_cosine_topk_ivfpq` (k = 10) and
    * `e_ivfpq_rerank`'s shortlist (k = R) derive one scoring definition. */
  private def ivfPqSql(k: Int): String =
    s"""WITH $centAssignCtes,
      |$pqCommonCtes,
      |resid AS (SELECT a.vec_id, a.cell,
      |  list_transform(list_zip(a.e, c.ce),
      |    p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS r
      |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
      |rcodes AS (SELECT r.vec_id AS code_id, s.sub,
      |    ${pqSliceSql("r.r", "s.sub")} AS cv
      |  FROM resid r, subs s WHERE r.vec_id < ${ExtQueries.PqCodes}),
      |rsub AS (SELECT r.vec_id, r.cell, s.sub,
      |    ${pqSliceSql("r.r", "s.sub")} AS sv
      |  FROM resid r, subs s),
      |dists AS (SELECT v.vec_id, v.cell, v.sub, c.code_id,
      |  $pqD2Sql AS d2
      |  FROM rsub v JOIN rcodes c USING (sub)),
      |enc AS (SELECT vec_id, cell, sub, code_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY d2 ASC, code_id ASC) AS rk FROM dists) WHERE rk = 1),
      |cc AS (SELECT cs.cell, cs.sub, rc.code_id,
      |  list_reduce(list_transform(list_zip(cs.csv, rc.cv),
      |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b) AS pcdot,
      |  list_reduce(list_transform(rc.cv,
      |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b) AS pn2
      |  FROM (SELECT c.cent_id AS cell, s.sub,
      |      ${pqSliceSql("c.ce", "s.sub")} AS csv FROM cents c, subs s) cs
      |  JOIN rcodes rc USING (sub)),
      |qa AS (SELECT a.vec_id AS qid, a.e AS qe, a.nrm AS nq, a.cell AS qcell,
      |  list_reduce(list_transform(list_zip(a.e, c.ce),
      |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (x,y)->x+y) AS qcdot,
      |  c.ncent * c.ncent AS cn2
      |  FROM assigned a JOIN cents c ON a.cell = c.cent_id WHERE a.vec_id < 8),
      |lut AS (SELECT q.qid, rc.sub, rc.code_id,
      |  list_reduce(list_transform(list_zip(
      |      ${pqSliceSql("q.qe", "rc.sub")}, rc.cv),
      |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b) AS pdot
      |  FROM qa q, rcodes rc),
      |g AS (SELECT q.qid, q.nq, q.qcdot, q.cn2, e.vec_id AS cid,
      |    list_reduce(list(l.pdot ORDER BY e.sub), (a,b)->a+b) AS pdsum,
      |    list_reduce(list(c.pcdot ORDER BY e.sub), (a,b)->a+b) AS pcsum,
      |    list_reduce(list(c.pn2 ORDER BY e.sub), (a,b)->a+b) AS pn2sum
      |  FROM enc e
      |  JOIN qa q ON e.cell = q.qcell AND e.vec_id <> q.qid
      |  JOIN lut l ON l.qid = q.qid AND l.sub = e.sub AND l.code_id = e.code_id
      |  JOIN cc c ON c.cell = e.cell AND c.sub = e.sub AND c.code_id = e.code_id
      |  GROUP BY q.qid, q.nq, q.qcdot, q.cn2, e.vec_id),
      |ranked AS (SELECT qid, cid,
      |  (qcdot + pdsum) / (nq * sqrt(cn2 + 2.0 * pcsum + pn2sum)) AS score,
      |  CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY (qcdot + pdsum) / (nq * sqrt(cn2 + 2.0 * pcsum + pn2sum)) DESC,
      |      cid ASC) AS INT) AS rank
      |  FROM g)
      |SELECT qid, cid, score, rank FROM ranked
      |WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** `e_mrl_rerank` — Matryoshka prefix shortlist at R, exact-cosine
    * refine to top-10 (the `e_sq_rerank` refine tail verbatim over the
    * half-dimension coarse pass). */
  private lazy val mrlRerankSql: String =
    s"""WITH pre AS (SELECT vec_id, embedding[1:${ExtQueries.MrlDims}] AS p,
      |    sqrt(list_reduce(list_transform(embedding[1:${ExtQueries.MrlDims}],
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS np
      |  FROM embeddings),
      |mrl_scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    list_reduce(list_transform(list_zip(q.p, c.p),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.np * c.np) AS score
      |  FROM pre q, pre c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
      |    AND q.np > 0 AND c.np > 0),
      |shortlist AS (SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rk
      |  FROM mrl_scored) WHERE rk <= ${ExtQueries.MrlRerankR}),
      |q AS (SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
      |  FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS cid, embedding AS ce,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
      |  FROM embeddings),
      |rescored AS (SELECT s.qid, s.cid,
      |    list_reduce(list_transform(list_zip(q.qe, c.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.nq * c.nc) AS score
      |  FROM shortlist s JOIN q ON q.qid = s.qid JOIN c ON c.cid = s.cid)
      |SELECT qid, cid, score, rank FROM (
      |  SELECT qid, cid, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM rescored) WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** `e_ivfpq_rerank` — IVF-PQ shortlist at R, exact-cosine refine to
    * top-10 (the `e_sq_rerank` refine tail verbatim over the composite
    * index's shortlist). */
  private lazy val ivfPqRerankSql: String =
    s"""WITH shortlist AS MATERIALIZED (
      |  SELECT qid, cid FROM (${ivfPqSql(ExtQueries.IvfPqRerankR)}) sl),
      |q AS (SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
      |  FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS cid, embedding AS ce,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
      |  FROM embeddings),
      |rescored AS (SELECT s.qid, s.cid,
      |    list_reduce(list_transform(list_zip(q.qe, c.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.nq * c.nc) AS score
      |  FROM shortlist s JOIN q ON q.qid = s.qid JOIN c ON c.cid = s.cid)
      |SELECT qid, cid, score, rank FROM (
      |  SELECT qid, cid, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM rescored) WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  // ---- frame family: shared grid CTE text ----------------------------------

  /** `u` → `fr` → `fh` — the clip-augmented media universe and its ordered
    * frame-hash sequences, the SQL twin of `ExtQueries.frameUniverse` +
    * `frameHashSeqs` (fixed-width code-point windows, 2¹⁶ hash space).
    * Shared by `e_frame_dedup` (shingles) and `e_frame_align` (positions)
    * so detector and localizer derive one grid. */
  private def frameCtesOver(universe: String): String =
    s"""u AS ($universe),
      |fr AS (SELECT doc_id, text,
      |    length(text) // ${ExtQueries.FrameWindowChars} AS nf FROM u),
      |fh AS (SELECT doc_id, nf, list_transform(range(0, nf), f ->
      |    CAST('0x'||substr(md5('fv:'||substr(text,
      |      CAST(f * ${ExtQueries.FrameWindowChars} + 1 AS INT),
      |      ${ExtQueries.FrameWindowChars})),1,15) AS BIGINT)
      |      % ${ExtQueries.FrameHashMod}) AS fhs
      |  FROM fr)""".stripMargin

  private lazy val frameCtes: String = frameCtesOver(
    s"""SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${ExtQueries.VariantIdOffset} AS doc_id,
      |    substr(text, ${ExtQueries.FrameWindowChars + 1}) AS text FROM documents""".stripMargin)

  /** The frame grid over the plain documents table (no clip variants) —
    * [[frameCtes]]' universe is the dedup/alignment fixture; segmentation
    * (`e_scene_cut`) runs on the corpus as ingested. */
  private lazy val frameCtesPlain: String =
    frameCtesOver("SELECT doc_id, text FROM documents")

  /** `e_frame_dedup` — adjacent-pair shingles over the frame grid,
    * df-capped rare-postings candidates, exact-Jaccard verify (the
    * verifiedJaccardPairs tail's SQL twin, 2·|∩| ≥ |∪| integer-side). */
  private lazy val frameDedupSql: String =
    s"""WITH $frameCtes,
      |ss AS (SELECT doc_id, list_distinct(list_transform(range(0, nf - 1), f ->
      |    CAST('0x'||substr(md5('fs:'||CAST(fhs[f+1] AS VARCHAR)||':' ||
      |      CAST(fhs[f+2] AS VARCHAR)),1,15) AS BIGINT) % $P)) AS ds
      |  FROM fh),
      |post AS (SELECT doc_id, unnest(ds) AS h FROM ss),
      |hot AS (SELECT h FROM post GROUP BY h
      |  HAVING count(*) > ${ExtQueries.DedupEvalDfCap}),
      |rare AS (SELECT doc_id, h FROM post ANTI JOIN hot USING (h)),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM rare x JOIN rare y ON x.h = y.h AND x.doc_id < y.doc_id),
      |v AS (SELECT c.doc_a, c.doc_b,
      |    len(list_intersect(a.ds, b.ds)) AS n_inter,
      |    len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds)) AS n_union
      |  FROM cand c JOIN ss a ON a.doc_id = c.doc_a
      |  JOIN ss b ON b.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, n_inter, n_union FROM v
      |WHERE 2 * n_inter >= n_union
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- PQ family: shared codebook / serve CTE text -------------------------

  /** DuckDB list-slice of an embedding into subspace `sub`'s subvector. */
  private def pqSliceSql(v: String, sub: String): String =
    s"$v[$sub*${ExtQueries.PqSubDim}+1:$sub*${ExtQueries.PqSubDim}+${ExtQueries.PqSubDim}]"

  /** `subs` + `vecsub` — the subspace index and the corpus cut into
    * per-subspace subvectors. Shared by the seed-codebook serve, the
    * training chain, and the trained serve (one definition, like
    * `ExtQueries.pqVecsub`). */
  private def pqCommonCtes: String =
    s"""subs AS (SELECT unnest(range(0, ${ExtQueries.PqSubspaces})) AS sub),
      |vecsub AS (SELECT e.vec_id, s.sub,
      |    ${pqSliceSql("e.embedding", "s.sub")} AS sv
      |  FROM embeddings e, subs s)""".stripMargin

  /** The pinned seed codebook (first [[ExtQueries.PqCodes]] corpus rows) as
    * a CTE named `name` — the twin of `ExtQueries.pqSeedCodes`. */
  private def pqSeedCodesCte(name: String): String =
    s"""$name AS (SELECT e.vec_id AS code_id, s.sub,
      |    ${pqSliceSql("e.embedding", "s.sub")} AS cv
      |  FROM embeddings e, subs s WHERE e.vec_id < ${ExtQueries.PqCodes})""".stripMargin

  /** The per-subspace squared-L2 fold between `sv` and `cv` columns. */
  private def pqD2Sql: String =
    """list_reduce(list_transform(list_zip(v.sv, c.cv),
      |    p -> (CAST(p[1] AS DOUBLE)-CAST(p[2] AS DOUBLE))*(CAST(p[1] AS DOUBLE)-CAST(p[2] AS DOUBLE))),
      |    (a,b)->a+b)""".stripMargin

  /** The PQ encode + asymmetric-distance serve against codebook CTE
    * `codes` — the twin of `ExtQueries.pqServe`, a TAIL (assumes `subs` /
    * `vecsub` / `codes` are already defined upstream in the WITH chain). */
  private def pqServeSql(codes: String): String =
    s"""dists AS (SELECT v.vec_id, v.sub, c.code_id,
      |  $pqD2Sql AS d2
      |  FROM vecsub v JOIN $codes c USING (sub)),
      |enc AS (SELECT vec_id, sub, code_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY d2 ASC, code_id ASC) AS rk FROM dists) WHERE rk = 1),
      |q AS (SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS nq
      |  FROM embeddings WHERE vec_id < 8),
      |lut AS (SELECT q.qid, q.nq, c.sub, c.code_id,
      |  list_reduce(list_transform(list_zip(
      |      ${pqSliceSql("q.qe", "c.sub")}, c.cv),
      |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b) AS pdot,
      |  list_reduce(list_transform(c.cv, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b) AS pn2
      |  FROM q, $codes c),
      |g AS (SELECT l.qid, l.nq, e.vec_id AS cid,
      |    list_reduce(list(l.pdot ORDER BY l.sub), (a,b)->a+b) AS dotsum,
      |    list_reduce(list(l.pn2 ORDER BY l.sub), (a,b)->a+b) AS n2sum
      |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.code_id = l.code_id
      |  WHERE e.vec_id <> l.qid
      |  GROUP BY l.qid, l.nq, e.vec_id),
      |ranked AS (SELECT qid, cid, dotsum / (nq * sqrt(n2sum)) AS score,
      |  CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY dotsum / (nq * sqrt(n2sum)) DESC, cid ASC) AS INT) AS rank
      |  FROM g)
      |SELECT qid, cid, score, rank FROM ranked
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** One PQ-training Lloyd round: assign `vecsub` against `codes{t}` (min
    * squared L2, tie-break code_id — the SAME `pqD2Sql` distance the serve
    * encoder uses), fixed-point-sum the member elements per (sub, code,
    * dim), and rebuild `codes{t+1}` from the exact means. Mirrors one
    * iteration of `ExtQueries.pqTrainChain`. */
  private def pqRoundCtes(t: Int): String =
    s"""dist$t AS (SELECT v.vec_id, v.sub, v.sv, c.code_id,
      |  $pqD2Sql AS d2
      |  FROM vecsub v JOIN codes$t c USING (sub)),
      |asg$t AS (SELECT sub, code_id, sv FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY d2 ASC, code_id ASC) AS rk FROM dist$t) WHERE rk = 1),
      |comp$t AS (SELECT sub, code_id, generate_subscripts(sv, 1) - 1 AS dim,
      |  CAST(unnest(sv) AS DOUBLE) AS x FROM asg$t),
      |upd$t AS (SELECT sub, code_id, dim, count(*) AS n_members,
      |  CAST(SUM(CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS c_fp
      |  FROM comp$t GROUP BY sub, code_id, dim),
      |codes${t + 1} AS (SELECT code_id, sub,
      |  list(CAST(c_fp AS DOUBLE) / (1048576.0 * CAST(n_members AS DOUBLE))
      |    ORDER BY dim) AS cv
      |  FROM upd$t GROUP BY code_id, sub)""".stripMargin

  /** The full `iters`-round PQ training chain (seed codebook = `codes1`,
    * final codebook = `codes{iters+1}`). Shared by `e_pq_train` (which
    * unions the `upd{t}`) and `e_pq_trained` (which serves from the final
    * codebook) — the `kmeansChainCtes` device for the quantized family. */
  private def pqChainCtes(iters: Int): String =
    s"""$pqCommonCtes,
      |${pqSeedCodesCte("codes1")},
      |${(1 to iters).map(pqRoundCtes).mkString(",\n")}""".stripMargin

  /** `e_pq_train` — chained per-subspace L2 k-means codebook training.
    * Mirrors `ExtQueries.pqTrain`. */
  private lazy val pqTrainSql: String = {
    val unions = (1 to ExtQueries.PqTrainIters)
      .map(t => s"SELECT $t AS iter, sub, code_id, dim, n_members, c_fp FROM upd$t")
      .mkString("\n  UNION ALL ")
    s"""WITH ${pqChainCtes(ExtQueries.PqTrainIters)}
      |SELECT CAST(iter AS INTEGER) AS iter, CAST(sub AS INTEGER) AS sub,
      |  code_id, CAST(dim AS INTEGER) AS dim, n_members, c_fp,
      |  CAST(c_fp AS DOUBLE) / (1048576.0 * CAST(n_members AS DOUBLE)) AS c_new
      |FROM ($unions) u ORDER BY iter, sub, code_id, dim""".stripMargin
  }

  /** `e_pq_trained` — PQ serving from the TRAINED codebook: COMPOSES the
    * `e_pq_train` chain (final codebook `codes{K+1}`) into the SAME
    * encode + LUT serve as `e_cosine_topk_pq`, so any result difference vs
    * the seed-codebook key is attributable to the codebook alone. Mirrors
    * `ExtQueries.cosineTopkPqTrained`. */
  private lazy val pqTrainedSql: String = {
    val K = ExtQueries.PqTrainIters
    s"""WITH ${pqChainCtes(K)},
      |${pqServeSql(s"codes${K + 1}")}""".stripMargin
  }

  /** Every oracle except the composed evaluation entries (which reference
    * other entries' SQL verbatim — see [[sql]]). */
  private lazy val baseSql: Map[String, String] = Map(
    "e_zorder" ->
      s"""WITH dims AS (
        |  SELECT event_id,
        |    user_id % 65536 AS uid16,
        |    (epoch_us(ts) // 86400000000) % 65536 AS day16
        |  FROM events)
        |SELECT event_id, uid16, day16, ($zTerms) AS zkey
        |FROM dims ORDER BY zkey, event_id""".stripMargin,

    "e_knn_graph" ->
      s"""WITH $knnAssignedBody,
        |pairs AS (SELECT x.vec_id AS src, y.vec_id AS nbr,
        |  list_reduce(list_transform(list_zip(x.e, y.e),
        |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
        |    / (x.nrm * y.nrm) AS score
        |  FROM assigned x JOIN assigned y
        |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
        |ranked AS (SELECT src, nbr, score,
        |  CAST(row_number() OVER (PARTITION BY src
        |    ORDER BY score DESC, nbr ASC) AS INT) AS rank
        |  FROM pairs)
        |SELECT src, nbr, score, rank FROM ranked
        |WHERE rank <= ${ExtQueries.KnnK} ORDER BY src, rank""".stripMargin,

    // e_incr_knn: the oracle states the SPEC (the e_train_order device) —
    // a FULL rebuild over corpus ∪ batch, restricted to touched nodes (all
    // members of cells that received a batch vector; batch cells ARE the
    // touched cells, so one join covers both populations). The Spark side's
    // merge-old-topk-with-batch device must produce the same rows.
    "e_incr_knn" -> {
      val off = ExtQueries.VariantIdOffset
      s"""WITH uni AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + $off AS vec_id, embedding FROM embeddings
        |  WHERE vec_id % ${ExtQueries.IncrKnnBatchMod} = 0),
        |cents AS (SELECT vec_id AS cent_id, embedding AS ce,
        |  sqrt(list_reduce(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS ncent
        |  FROM embeddings WHERE vec_id < ${ExtQueries.IvfCells}),
        |vecs AS (SELECT vec_id, embedding AS e,
        |  sqrt(list_reduce(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS nrm
        |  FROM uni),
        |sims AS (SELECT v.vec_id, v.e, v.nrm, c.cent_id,
        |  list_reduce(list_transform(list_zip(v.e, c.ce),
        |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
        |    / (v.nrm * c.ncent) AS csim
        |  FROM vecs v, cents c),
        |assigned AS (SELECT vec_id, e, nrm, cent_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, cent_id ASC) AS crank FROM sims)
        |  WHERE crank = 1),
        |tcells AS (SELECT DISTINCT cell FROM assigned WHERE vec_id >= $off),
        |pairs AS (SELECT x.vec_id AS src, y.vec_id AS nbr,
        |  list_reduce(list_transform(list_zip(x.e, y.e),
        |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
        |    / (x.nrm * y.nrm) AS score
        |  FROM assigned x
        |  JOIN tcells t ON x.cell = t.cell
        |  JOIN assigned y ON x.cell = y.cell AND x.vec_id <> y.vec_id),
        |ranked AS (SELECT src, nbr, score,
        |  CAST(row_number() OVER (PARTITION BY src
        |    ORDER BY score DESC, nbr ASC) AS INT) AS rank
        |  FROM pairs)
        |SELECT src, nbr, score, rank FROM ranked
        |WHERE rank <= ${ExtQueries.KnnK} ORDER BY src, rank""".stripMargin
    },

    "e_cosine_topk_pq" ->
      s"""WITH $pqCommonCtes,
        |${pqSeedCodesCte("codes")},
        |${pqServeSql("codes")}""".stripMargin,

    // e_cosine_topk_ivfpq: the IVF assignment CTEs (shared with
    // e_cosine_topk_ivf) feed residual PQ encoding and the three-table ADC
    // serve; every subspace fold is the same sequential left-fold, summed
    // in pinned sub order via list(... ORDER BY sub).
    "e_cosine_topk_ivfpq" -> ivfPqSql(10),

    "e_chunk_dedup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |ch AS (SELECT doc_id,
        |  unnest(range(0, CAST(ceil(len(t) / ${ExtQueries.ChunkTokens}.0) AS BIGINT))) AS chunk_idx,
        |  unnest(list_transform(range(0, CAST(ceil(len(t) / ${ExtQueries.ChunkTokens}.0) AS BIGINT)),
        |    i -> CAST('0x'||substr(md5(array_to_string(
        |      t[i*${ExtQueries.ChunkTokens}+1:i*${ExtQueries.ChunkTokens}+${ExtQueries.ChunkTokens}], ' ')),1,15) AS BIGINT))) AS chash
        |  FROM toks),
        |occ AS (SELECT doc_id, chunk_idx, chash,
        |  row_number() OVER (PARTITION BY chash ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id,
        |  count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS kept_frac
        |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "e_exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |h AS (SELECT doc_id,
        |  CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS content_hash FROM all_docs)
        |SELECT min(doc_id) AS doc_id, content_hash, count(*) AS n_copies
        |FROM h GROUP BY content_hash ORDER BY doc_id""".stripMargin,

    "e_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, lang, length(text) AS n_chars,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, n_chars,
        |    len(toks) AS n_tokens,
        |    len(list_distinct(toks)) AS n_uniq,
        |    len(list_filter(toks, x -> x IN ('the', 'a'))) AS n_stop,
        |    list_sum(list_transform(toks, x -> length(x))) AS total_len
        |  FROM t)
        |SELECT doc_id, lang, n_chars, n_tokens, n_uniq, n_stop,
        |  CAST(total_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
        |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |  (n_tokens >= 20 AND n_tokens <= 1000
        |    AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.3) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,

    "e_multimodal_cols" ->
      """SELECT d.doc_id,
        |  'text/plain' AS mime,
        |  octet_length(encode(d.text)) AS n_bytes,
        |  d.lang, d.source,
        |  len(e.embedding) AS dim,
        |  CAST(e.embedding[1] AS DOUBLE) AS first_coord,
        |  e.label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin,

    "e_cosine_topk" -> cosineTopkSql,

    // pre-filter truth vs post-filter-of-shortlist annotation — the same
    // sequential-fold cosine contract as e_cosine_topk; the CASE lands 1
    // exactly when the truth row is among the first k predicate-matching
    // rows of the unfiltered top-R (fr computed over ALL matching
    // shortlist rows, cut in the CASE — ≡ Spark's filter-then-left-join)
    "e_ann_filter" ->
      s"""WITH q AS MATERIALIZED (
        |  SELECT vec_id AS qid, embedding AS qe,
        |    (label + 1) % ${ExtQueries.AnnFilterLabels} AS tgt,
        |    sqrt(list_reduce(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
        |  FROM embeddings WHERE vec_id < 8),
        |c AS MATERIALIZED (
        |  SELECT vec_id AS cid, embedding AS ce, label,
        |    sqrt(list_reduce(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
        |  FROM embeddings),
        |truth AS (
        |  SELECT qid, cid, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |  FROM (SELECT q.qid, c.cid,
        |      list_reduce(list_transform(list_zip(q.qe, c.ce),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |        / (q.nq * c.nc) AS score
        |    FROM q JOIN c ON c.label = q.tgt AND c.cid <> q.qid) s),
        |shortlist AS MATERIALIZED (
        |  SELECT qid, cid, rank AS srank FROM (
        |    SELECT qid, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |    FROM (SELECT q.qid, c.cid,
        |        list_reduce(list_transform(list_zip(q.qe, c.ce),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |          / (q.nq * c.nc) AS score
        |      FROM q JOIN c ON c.cid <> q.qid) s) r
        |  WHERE rank <= ${ExtQueries.AnnFilterShortlistR}),
        |postf AS (
        |  SELECT s.qid, s.cid,
        |    row_number() OVER (PARTITION BY s.qid ORDER BY s.srank ASC) AS fr
        |  FROM shortlist s
        |  JOIN c ON c.cid = s.cid JOIN q ON q.qid = s.qid
        |  WHERE c.label = q.tgt)
        |SELECT t.qid, t.rank, t.cid, t.score,
        |  CAST(CASE WHEN p.fr <= ${ExtQueries.AnnFilterK} THEN 1 ELSE 0 END
        |    AS BIGINT) AS in_postfilter
        |FROM (SELECT * FROM truth WHERE rank <= ${ExtQueries.AnnFilterK}) t
        |LEFT JOIN postf p ON p.qid = t.qid AND p.cid = t.cid
        |ORDER BY t.qid, t.rank""".stripMargin,

    "e_sq_topk" -> sqTopkSql(10),

    "e_sq_rerank" -> sqRerankSql,

    // frame-sequence near-dup: fixed-width code-point frame grid → 2¹⁶
    // frame hashes → adjacent-pair shingles → df-capped rare-postings
    // candidates → exact-Jaccard verify (the verifiedJaccardPairs tail's
    // SQL twin — 2·|∩| ≥ |∪| integer-side)
    "e_frame_dedup" -> frameDedupSql,

    // run-length segmentation of the plain-documents frame grid: quantized
    // level per frame, cut on level change (lag), seg_id by running sum,
    // keyframe = min packed (v·2³² + pos) — all-integer, same grid text as
    // the dedup family via frameCtesPlain
    "e_scene_cut" ->
      s"""WITH $frameCtesPlain,
        |pos AS (SELECT fh.doc_id, s.p AS pos, fh.fhs[s.p+1] AS v
        |  FROM fh, LATERAL (SELECT unnest(range(0, fh.nf)) AS p) s),
        |lvl AS (SELECT doc_id, pos, v,
        |    v // ${ExtQueries.SceneLevelDiv} AS level FROM pos),
        |cuts AS (SELECT doc_id, pos, v, level,
        |    CASE WHEN lag(level) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |      OR lag(level) OVER (PARTITION BY doc_id ORDER BY pos) <> level
        |      THEN 1 ELSE 0 END AS cut
        |  FROM lvl),
        |segs AS (SELECT doc_id, pos, v, level,
        |    CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS seg_id
        |  FROM cuts)
        |SELECT doc_id, seg_id, min(pos) AS start_pos,
        |  CAST(count(*) AS BIGINT) AS n_frames, min(level) AS level,
        |  min(v * ${ExtQueries.SceneKeyBase} + pos) % ${ExtQueries.SceneKeyBase} AS key_pos,
        |  min(v * ${ExtQueries.SceneKeyBase} + pos) // ${ExtQueries.SceneKeyBase} AS key_hash
        |FROM segs GROUP BY doc_id, seg_id
        |ORDER BY doc_id, seg_id""".stripMargin,

    // CDC merge-apply: the COPY-ON-WRITE formulation (anti-join the
    // delete/update keys out of the base, union the new versions and the
    // inserts back in) — deliberately different from the Spark side's
    // merge-on-read groupBy so the two MERGE strategies certify each other
    "e_merge_apply" ->
      s"""WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
        |changes AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN 'D'
        |              WHEN doc_id % 7 = 1 THEN 'U'
        |              ELSE 'I' END AS op,
        |    CASE WHEN doc_id % 7 = 2 THEN doc_id + ${ExtQueries.VariantIdOffset}
        |      ELSE doc_id END AS doc_id,
        |    'upd:' || text AS utext, 'ins:' || text AS itext,
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 IN (0, 1, 2)),
        |applied AS (
        |  SELECT b.* FROM base b
        |  ANTI JOIN (SELECT doc_id FROM changes WHERE op IN ('D','U')) k USING (doc_id)
        |  UNION ALL
        |  SELECT doc_id, utext AS text, lang, source, n_chars + 4 AS n_chars
        |  FROM changes WHERE op = 'U'
        |  UNION ALL
        |  SELECT doc_id, itext AS text, lang, source, n_chars + 4 AS n_chars
        |  FROM changes WHERE op = 'I')
        |SELECT doc_id, text, lang, source, n_chars FROM applied
        |ORDER BY doc_id""".stripMargin,

    // temporal alignment for the detected pairs: equal frame hashes vote
    // on their position delta, modal delta wins (votes DESC, delta ASC —
    // the mode family's tie-break). Composes the graded e_frame_dedup SQL
    // as the pair source; every multi-referenced CTE MATERIALIZED.
    "e_frame_align" ->
      s"""WITH $frameCtes,
        |fd AS MATERIALIZED (SELECT doc_a, doc_b FROM ($frameDedupSql) z),
        |docs_in AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
        |  SELECT doc_a AS doc_id FROM fd
        |  UNION ALL SELECT doc_b AS doc_id FROM fd) t),
        |pos AS MATERIALIZED (SELECT fh.doc_id, s.p AS pos, fh.fhs[s.p+1] AS v
        |  FROM fh SEMI JOIN docs_in USING (doc_id),
        |    LATERAL (SELECT unnest(range(0, fh.nf)) AS p) s),
        |votes AS MATERIALIZED (SELECT fd.doc_a, fd.doc_b,
        |    a.pos - b.pos AS delta, CAST(count(*) AS BIGINT) AS n
        |  FROM fd
        |  JOIN pos a ON a.doc_id = fd.doc_a
        |  JOIN pos b ON b.doc_id = fd.doc_b AND b.v = a.v
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT doc_a, doc_b, delta AS "offset", n AS n_matches FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_a, doc_b
        |      ORDER BY n DESC, delta ASC) AS rk FROM votes) WHERE rk = 1),
        |tot AS (SELECT doc_a, doc_b, CAST(sum(n) AS BIGINT) AS n_total_matches
        |  FROM votes GROUP BY 1, 2),
        |lens AS MATERIALIZED (SELECT doc_id, CAST(nf AS BIGINT) AS nf FROM fr)
        |SELECT b.doc_a, b.doc_b, b."offset", b.n_matches, t.n_total_matches,
        |  la.nf AS nf_a, lb.nf AS nf_b
        |FROM best b
        |JOIN tot t ON t.doc_a = b.doc_a AND t.doc_b = b.doc_b
        |JOIN lens la ON la.doc_id = b.doc_a
        |JOIN lens lb ON lb.doc_id = b.doc_b
        |ORDER BY b.doc_a, b.doc_b""".stripMargin,


    // e_incr_agg's oracle IS the semantic spec: a single-pass full
    // recompute — the monoid-merge execution on the Spark side must land
    // on these exact bytes (int64 fixed-point sums; value·2²⁰ is exact,
    // one floor, one final divide of exact values)
    "e_incr_agg" ->
      s"""WITH fp AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |    CAST(floor(value * ${ExtQueries.IncrAggScale}.0 + 0.5) AS BIGINT) AS vfp
        |  FROM events)
        |SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(vfp) AS BIGINT) AS sum_value_fp,
        |  max(vfp) AS max_value_fp,
        |  CAST(sum(vfp) AS DOUBLE)
        |    / CAST(CAST(count(*) AS BIGINT) * ${ExtQueries.IncrAggScale} AS DOUBLE) AS avg_value
        |FROM fp GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,

    // heaviest-key tie-break: LARGEST key among max-count keys — the
    // scalar-subquery twin of Spark's max(struct(cnt, k))
    "e_skew_audit" -> {
      def audit(keyCol: String): String =
        s"""SELECT '$keyCol' AS key_col, n_rows, n_keys, max_cnt,
          |  (SELECT max(k) FROM c_$keyCol WHERE cnt = a_$keyCol.max_cnt) AS max_key,
          |  CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS avg_cnt,
          |  CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share,
          |  CAST(max_cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_ratio,
          |  (max_cnt * ${ExtQueries.SkewTargetPartitions} + n_rows - 1) // n_rows AS rec_salt
          |FROM a_$keyCol""".stripMargin
      s"""WITH c_user_id AS (SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS cnt
        |    FROM events GROUP BY 1),
        |c_event_type AS (SELECT CAST(event_type AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS cnt
        |    FROM events GROUP BY 1),
        |a_user_id AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, max(cnt) AS max_cnt FROM c_user_id),
        |a_event_type AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, max(cnt) AS max_cnt FROM c_event_type)
        |${audit("user_id")}
        |UNION ALL
        |${audit("event_type")}
        |ORDER BY key_col""".stripMargin
    },

    "e_compaction_plan" ->
      s"""WITH files AS (SELECT source, doc_id // ${ExtQueries.CompactionFileDocs} AS file_id,
        |    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1, 2),
        |off AS (SELECT source, file_id, n_docs, bytes,
        |    coalesce(CAST(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
        |  FROM files)
        |SELECT source, cum_before // ${ExtQueries.CompactionTargetBytes} AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  min(file_id) AS first_file, max(file_id) AS last_file,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs, CAST(sum(bytes) AS BIGINT) AS bin_bytes
        |FROM off GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin,

    "e_mmr" -> mmrSql,

    // e_cosine_topk_agg computes the SAME exact top-k (bounded-state
    // aggregate execution instead of a ranking window), so it shares the
    // oracle text — one definition, zero drift
    "e_cosine_topk_agg" -> cosineTopkSql,

    // Late-interaction maxsim over the SAME subvector slices the PQ family
    // uses (pqSliceSql) — max over doc subvectors is order-free IEEE max
    // (list_aggregate 'max' ≡ Spark array_max); dots and the outer sum are
    // the sequential-fold cosine contract.
    "e_maxsim" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
        |    list_transform(range(0, ${ExtQueries.PqSubspaces}), s ->
        |      sqrt(list_reduce(list_transform(${pqSliceSql("embedding", "s")},
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (a, b) -> a + b))) AS qn
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS cid, embedding AS ce,
        |    list_transform(range(0, ${ExtQueries.PqSubspaces}), s ->
        |      sqrt(list_reduce(list_transform(${pqSliceSql("embedding", "s")},
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (a, b) -> a + b))) AS cn
        |  FROM embeddings),
        |scored AS (SELECT q.qid, c.cid,
        |    list_reduce(list_transform(range(0, ${ExtQueries.PqSubspaces}), i ->
        |      list_aggregate(list_transform(range(0, ${ExtQueries.PqSubspaces}), j ->
        |        list_reduce(list_transform(
        |          list_zip(${pqSliceSql("q.qe", "i")}, ${pqSliceSql("c.ce", "j")}),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)
        |        / (q.qn[i+1] * c.cn[j+1])), 'max')), (a, b) -> a + b) AS score
        |  FROM q, c WHERE c.cid <> q.qid),
        |ranked AS (SELECT qid, cid, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    "e_simhash_dedup" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[6:], ' ') AS text
        |  FROM documents),
        |th AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT) % $P) AS h FROM all_docs),
        |sh AS (SELECT doc_id,
        |  list_sum(list_transform(range(0,32), i ->
        |    CASE WHEN list_sum(list_transform(h, t -> CASE WHEN (t >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS sim FROM th),
        |bands AS (SELECT doc_id, sim, b, (sim >> (16*b)) & 65535 AS bv
        |  FROM sh, (SELECT unnest(range(2)) AS b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sim AS sa, y.sim AS sb
        |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming FROM cand
        |WHERE bit_count(xor(sa, sb)) <= 1
        |ORDER BY doc_a, doc_b""".stripMargin,

    // e_media_dedup: aHash-style perceptual fingerprint over payload bytes
    // — position-salted md5 cell intensities mod 2^32, bit = intensity*64 >
    // grid sum, band values via the seedless MSB-first acc*2+bit fold
    // (list_reduce's first element IS bit 15's fold state, matching Spark's
    // 0-seeded aggregate), banded candidates, exact list-zip Hamming.
    "e_media_dedup" -> {
      val cells = ExtQueries.PhashCells
      val mod = ExtQueries.PhashIntensityMod
      val tail = ExtQueries.PhashEditChars
      s"""WITH all_media AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + ${ExtQueries.VariantIdOffset} AS doc_id,
        |    substr(text, 1, greatest(length(text) - $tail, 0)) ||
        |      '${"z" * tail}' AS text
        |  FROM documents),
        |base AS (SELECT doc_id, text AS ptxt,
        |  CAST(length(text) AS BIGINT) AS n FROM all_media),
        |grid AS (SELECT doc_id,
        |  list_transform(range(0, $cells), i ->
        |    CAST('0x'||substr(md5('ph:'||CAST(i AS VARCHAR)||':'||
        |      substr(ptxt, CAST((i*n) // $cells + 1 AS INT),
        |        CAST(((i+1)*n) // $cells - (i*n) // $cells AS INT))),1,15)
        |      AS BIGINT) % $mod) AS cl
        |  FROM base),
        |tot AS (SELECT doc_id, cl,
        |  list_reduce(cl, (a, x) -> a + x) AS total FROM grid),
        |sig AS (SELECT doc_id,
        |  list_transform(range(0, ${ExtQueries.PhashBands}), b ->
        |    list_reduce(list_transform(range(15, -1, -1), j ->
        |      CASE WHEN cl[b*16 + j + 1] * $cells > total
        |        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |      (a, x) -> a * 2 + x)) AS sim
        |  FROM tot),
        |bands AS (SELECT doc_id, sim, b, sim[b+1] AS bv
        |  FROM sig, (SELECT unnest(range(${ExtQueries.PhashBands})) AS b)),
        |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  list_reduce(list_transform(list_zip(x.sim, y.sim),
        |    p -> CAST(bit_count(xor(p[1], p[2])) AS BIGINT)),
        |    (a, c) -> a + c) AS hamming
        |  FROM bands x JOIN bands y
        |    ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT DISTINCT doc_a, doc_b, hamming FROM cand
        |WHERE hamming <= ${ExtQueries.PhashTau}
        |ORDER BY doc_a, doc_b""".stripMargin
    },

    "e_ngram_jaccard" ->
      s"""WITH $bigramSetsCtes
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  len(list_intersect(x.bs, y.bs)) AS n_inter,
        |  len(list_distinct(list_concat(x.bs, y.bs))) AS n_union
        |FROM sets x JOIN sets y
        |  ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id
        |WHERE 2 * len(list_intersect(x.bs, y.bs)) >= len(list_distinct(list_concat(x.bs, y.bs)))
        |ORDER BY doc_a, doc_b""".stripMargin,

    // e_jaccard_prefix: SAME bigram sets, NO blocking key — the truth the
    // prefix-filtered Spark plan must equal is the plain unfiltered
    // inverted-index join over all postings (prefix filtering is exact by
    // theorem, so the oracle deliberately does not model the prefix at all).
    "e_jaccard_prefix" ->
      s"""WITH $bigramSetsCtes,
        |post AS (SELECT doc_id, len(bs) AS nb, unnest(bs) AS g FROM sets)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  count(*) AS n_inter,
        |  any_value(x.nb) + any_value(y.nb) - count(*) AS n_union
        |FROM post x JOIN post y ON x.g = y.g AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id
        |HAVING 2 * count(*) >= any_value(x.nb) + any_value(y.nb) - count(*)
        |ORDER BY doc_a, doc_b""".stripMargin,

    // e_domain_drift: TV numerators are exact integer arithmetic over the
    // DENSE source x corpus-bucket grid (absent buckets must contribute
    // c_b*n_s); the argmax is the same integer encoding as the Spark side.
    "e_domain_drift" ->
      s"""WITH tk AS (SELECT source,
        |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens FROM documents),
        |bu AS (SELECT source, CAST(least(n_tokens // ${ExtQueries.DriftBucketTokens},
        |  ${ExtQueries.DriftMaxBucket}) AS INT) AS b FROM tk),
        |osb AS (SELECT source, b, count(*) AS o FROM bu GROUP BY source, b),
        |ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s FROM osb GROUP BY source),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c_b FROM osb GROUP BY b),
        |tot AS (SELECT CAST(sum(c_b) AS BIGINT) AS n_tot FROM cb),
        |grid AS (SELECT ns.source, ns.n_s, cb.b, cb.c_b,
        |    COALESCE(osb.o, CAST(0 AS BIGINT)) AS o, tot.n_tot
        |  FROM ns CROSS JOIN cb CROSS JOIN tot
        |  LEFT JOIN osb ON osb.source = ns.source AND osb.b = cb.b),
        |g2 AS (SELECT source, min(n_s) AS n_docs, min(n_tot) AS n_tot,
        |  CAST(sum(abs(o * n_tot - c_b * n_s)) AS BIGINT) AS tv_num,
        |  CAST(max(abs(o * n_tot - c_b * n_s) * 16
        |    + (${ExtQueries.DriftMaxBucket} - b)) AS BIGINT) AS enc
        |  FROM grid GROUP BY source)
        |SELECT source, n_docs, tv_num,
        |  CAST(tv_num AS DOUBLE)
        |    / (2.0 * CAST(n_docs AS DOUBLE) * CAST(n_tot AS DOUBLE)) AS tv,
        |  CAST(${ExtQueries.DriftMaxBucket} - (enc % 16) AS INT) AS top_bucket,
        |  enc // 16 AS top_term
        |FROM g2 ORDER BY source""".stripMargin,

    // e_pca_power: both phases mirrored CTE-for-CTE — exact fixed-point
    // Gram accumulation, then the PcaSteps power-iteration rounds UNROLLED
    // as chained CTEs (the kmeansChainCtes device); every fold is the same
    // sequential left-fold as the Spark side.
    "e_pca_power" ->
      s"""WITH $pcaChainCtes
        |SELECT gu.i AS d, gu.g AS g_diag,
        |  v${ExtQueries.PcaSteps}.varr[gu.i + 1] AS v_unit,
        |  v${ExtQueries.PcaSteps}.lambda AS lambda
        |FROM gu, v${ExtQueries.PcaSteps} WHERE gu.i = gu.j
        |ORDER BY d""".stripMargin,

    // e_pca_project: composes the SAME pca chain (shared CTE block), then
    // one projection fold per vector and the extreme-k screen with the
    // pinned (|proj| DESC, vec_id ASC) tie-break.
    "e_pca_project" ->
      s"""WITH $pcaChainCtes,
        |proj AS (SELECT vec_id,
        |  list_reduce(list_transform(list_zip(v${ExtQueries.PcaSteps}.varr, embedding),
        |    pz -> pz[1] * CAST(pz[2] AS DOUBLE)), (a, b) -> a + b) AS proj
        |  FROM embeddings, v${ExtQueries.PcaSteps}),
        |top AS (SELECT vec_id, proj FROM proj
        |  ORDER BY abs(proj) DESC, vec_id ASC LIMIT ${ExtQueries.PcaScreenK})
        |SELECT vec_id, proj FROM top ORDER BY vec_id""".stripMargin,

    // e_edit_join: the truth is the NAIVE length-filtered Levenshtein join —
    // the Spark side's prefix/positional q-gram filters are exact by
    // theorem, so the oracle deliberately models neither. The ASCII-fold
    // normalization pins byte = codepoint, so the two engines' Levenshtein
    // definitions coincide.
    "e_edit_join" ->
      s"""WITH keyed AS (
        |  SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS k
        |  FROM documents WHERE lang = 'en'),
        |f AS (SELECT doc_id, k, length(k) AS len FROM keyed
        |  WHERE length(k) >= ${ExtQueries.EditMinKeyLen})
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM f a JOIN f b
        |  ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= ${ExtQueries.EditTau}
        |WHERE levenshtein(a.k, b.k) <= ${ExtQueries.EditTau}
        |ORDER BY a_id, b_id""".stripMargin,

    "e_cosine_dedup" ->
      s"""WITH all_vecs AS (
        |  SELECT vec_id, embedding AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(range(0, len(embedding)),
        |      d -> CAST(CAST(embedding[d+1] AS DOUBLE) * (0.9 + 0.05*CAST(d % 5 AS DOUBLE)) AS FLOAT)) AS e
        |  FROM embeddings),
        |proj AS (SELECT vec_id, e,
        |  list_transform(range(0, ${ExtQueries.DedupPlanes}), p ->
        |    list_reduce(list_transform(range(0,64), d ->
        |      (CAST(((p*64+d)*2654435761) % 2147483648 AS DOUBLE)/2147483648.0 - 0.5)
        |        * CAST(e[d+1] AS DOUBLE)), (a,b) -> a+b)) AS pr FROM all_vecs),
        |bands AS (SELECT vec_id, e, b,
        |  list_sum(list_transform(range(0, ${ExtQueries.DedupBandBits}), r ->
        |    CASE WHEN pr[b*${ExtQueries.DedupBandBits}+r+1] > 0
        |         THEN (CAST(1 AS BIGINT) << r) ELSE 0 END)) AS bv
        |  FROM proj, (SELECT unnest(range(${ExtQueries.DedupBands})) AS b)),
        |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b, x.e AS ea, y.e AS eb
        |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.vec_id < y.vec_id),
        |ver AS (SELECT vec_a, vec_b,
        |  list_reduce(list_transform(list_zip(ea, eb),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a,b) -> a+b)
        |  / (sqrt(list_reduce(list_transform(ea, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b) -> a+b))
        |   * sqrt(list_reduce(list_transform(eb, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b) -> a+b))) AS cos
        |  FROM cand)
        |SELECT vec_a, vec_b, cos FROM ver WHERE cos >= 0.95
        |ORDER BY vec_a, vec_b""".stripMargin,

    "e_cosine_topk_lsh" ->
      s"""WITH $lshBandCtes,
        |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
        |  list_reduce(list_transform(list_zip(q.e, c.e),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a,b) -> a+b)
        |    / (q.nrm * c.nrm) AS score
        |  FROM bands q JOIN bands c ON q.b = c.b AND q.bv = c.bv
        |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |ranked AS (SELECT qid, cid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |  FROM cand)
        |SELECT qid, cid, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    "e_token_count" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
        |  len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS n_uniq_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "e_fingerprint" ->
      s"""WITH th AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT) % $P) AS h FROM documents)
        |SELECT doc_id, len(h) AS n_tokens,
        |  list_reduce(h, (acc, x) -> (acc * 1000003 + x) % $P) AS fingerprint
        |FROM th ORDER BY doc_id""".stripMargin,

    "e_distinct_sketch" ->
      """SELECT event_type,
        |  count(DISTINCT CAST('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15) AS BIGINT) % 16384) AS k_slots,
        |  count(DISTINCT user_id) AS exact_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e_lang_id" ->
      """WITH toks AS (SELECT doc_id, lang,
        |  regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(t, x -> x IN ('der','die','und'))) AS s_de,
        |  len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
        |  len(list_filter(t, x -> x IN ('el','los','y'))) AS s_es,
        |  len(list_filter(t, x -> x IN ('le','la','les'))) AS s_fr,
        |  len(list_filter(t, x -> x IN ('de5','le5'))) AS s_zh
        |  FROM toks),
        |g AS (SELECT doc_id, lang, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m,
        |  s_de, s_en, s_es, s_fr, s_zh FROM s)
        |SELECT doc_id, lang,
        |  CASE WHEN m = 0 THEN 'und'
        |       WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
        |       WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
        |       WHEN s_zh = m THEN 'zh' ELSE 'und' END AS lang_guess,
        |  m AS marker_hits
        |FROM g ORDER BY doc_id""".stripMargin,

    "e_stratified_sample" ->
      """SELECT doc_id, lang, source,
        |  CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100 AS bucket
        |FROM documents
        |WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100
        |  < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
        |ORDER BY doc_id""".stripMargin,

    // The batch is 20% exact re-ingests (doc_id+1M, same text) and 20%
    // suffix-mangled revisions (doc_id+2M, first 5 tokens dropped — the
    // simhash-fixture device). The Spark side's Bloom prefilter is a pure
    // optimization, so the oracle is the plain NOT EXISTS anti-join.
    "e_incr_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 < 2
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string((regexp_split_to_array(trim(text), '\s+'))[6:], ' ') AS text
        |  FROM documents WHERE doc_id % 10 >= 8),
        |fpb AS (SELECT doc_id,
        |  CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS content_hash FROM batch),
        |fpe AS (SELECT
        |  CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS content_hash FROM documents)
        |SELECT b.doc_id, b.content_hash FROM fpb b
        |WHERE NOT EXISTS (SELECT 1 FROM fpe e WHERE e.content_hash = b.content_hash)
        |ORDER BY b.doc_id""".stripMargin,

    // α = 0.5 temperature mixing: every FP step (divide, sqrt, multiply,
    // compare) is a single correctly-rounded IEEE op, so the kept set and
    // the rate column are bit-identical cross-engine by construction.
    "e_span_mask" ->
      s"""WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |n AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tok),
        |eligible AS (SELECT doc_id, t, n, n // ${ExtQueries.SpanEvery} AS n_spans
        |  FROM n WHERE n >= ${ExtQueries.SpanEvery}),
        |spans AS (SELECT doc_id, t, n, n_spans,
        |  unnest(range(0, n_spans)) AS i FROM eligible),
        |placed AS (SELECT doc_id, t, i AS span_idx,
        |    (i * n) // n_spans AS a,
        |    ((i + 1) * n) // n_spans - (i * n) // n_spans AS seg_len
        |  FROM spans),
        |o AS (SELECT doc_id, t, span_idx,
        |    a + CAST('0x'||substr(md5('span:'||CAST(doc_id AS VARCHAR)
        |          ||':'||CAST(span_idx AS VARCHAR)),1,15) AS BIGINT)
        |        % (seg_len - ${ExtQueries.SpanLen - 1}) AS start_tok
        |  FROM placed)
        |SELECT doc_id, span_idx, start_tok,
        |  CAST(${ExtQueries.SpanLen} AS BIGINT) AS span_len,
        |  array_to_string(t[start_tok+1:start_tok+${ExtQueries.SpanLen}], ' ') AS span_text
        |FROM o ORDER BY doc_id, span_idx""".stripMargin,

    "e_epoch_mix" ->
      s"""WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |src AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM tok GROUP BY source),
        |mx AS (SELECT max(src_tokens) AS max_tokens FROM src),
        |w AS (SELECT source,
        |  least(${ExtQueries.EpochCap},
        |    CAST(mx.max_tokens AS DOUBLE) / CAST(src_tokens AS DOUBLE)) AS epochs
        |  FROM src, mx),
        |d AS (SELECT t.doc_id, t.source, w.epochs,
        |  CAST('0x'||substr(md5('epoch:'||CAST(t.doc_id AS VARCHAR)),1,15) AS BIGINT)
        |    % ${1L << 20} AS bucket
        |  FROM tok t JOIN w USING (source))
        |SELECT doc_id, source, epochs,
        |  CAST(floor(epochs) AS BIGINT)
        |    + CASE WHEN CAST(bucket AS DOUBLE)
        |             < (epochs - floor(epochs)) * ${(1L << 20).toDouble} THEN 1 ELSE 0 END
        |    AS n_repeats
        |FROM d ORDER BY doc_id""".stripMargin,

    "e_temp_mix" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |m AS (SELECT min(n_docs) AS min_docs FROM counts),
        |rates AS (SELECT lang, n_docs,
        |  sqrt(CAST(m.min_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS rate
        |  FROM counts, m)
        |SELECT d.doc_id, d.lang, r.n_docs, r.rate
        |FROM documents d JOIN rates r USING (lang)
        |WHERE CAST(CAST('0x'||substr(md5('mix:'||CAST(d.doc_id AS VARCHAR)),1,15)
        |    AS BIGINT) % 1048576 AS DOUBLE) < r.rate * 1048576.0
        |ORDER BY d.doc_id""".stripMargin,

    "e_top_tokens" ->
      """WITH tok AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token),
        |ranked AS (SELECT lang, token, n,
        |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
        |  FROM cnt)
        |SELECT lang, rank, token, n FROM ranked WHERE rank <= 10
        |ORDER BY lang, rank""".stripMargin,

    // Phrase search: query phrases hashed with the SAME 3-gram polynomial
    // as the shared shingle CTEs; candidates from the postings, verified
    // with the exact token-boundary substring test (collisions admitted,
    // never emitted).
    "e_phrase_search" ->
      s"""WITH ${shingleCtes("documents")},
        |q AS (SELECT unnest([${ExtQueries.SearchPhrases.map(p => s"'$p'").mkString(", ")}]) AS phrase),
        |qh AS (SELECT phrase,
        |    list_transform(regexp_split_to_array(phrase, ' '),
        |      x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT) % $P) AS qt
        |  FROM q),
        |qk AS (SELECT phrase,
        |    ((qt[1] * ${ExtQueries.ShingleC(0)}) % $P
        |     + (qt[2] * ${ExtQueries.ShingleC(1)}) % $P
        |     + (qt[3] * ${ExtQueries.ShingleC(2)}) % $P) % $P AS h
        |  FROM qh),
        |post AS (SELECT doc_id, unnest(ds) AS h FROM sh),
        |cand AS (SELECT DISTINCT qk.phrase, post.doc_id
        |  FROM post JOIN qk USING (h))
        |SELECT c.phrase, c.doc_id
        |FROM cand c JOIN documents d USING (doc_id)
        |WHERE strpos(' ' || d.text || ' ', ' ' || c.phrase || ' ') > 0
        |ORDER BY c.phrase, c.doc_id""".stripMargin,

    // Hashing-trick vectors: bucket/sign arithmetic over the same per-token
    // hash31 as the shingle pipeline; // and % agree with Spark's
    // shiftright/pmod on the non-negative hash domain.
    "e_feature_hash" ->
      s"""WITH th AS (SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |      x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT) % $P) AS h
        |  FROM documents),
        |b AS (SELECT CAST(unnest(range(0, ${ExtQueries.FhDim})) AS BIGINT) AS bucket)
        |SELECT th.doc_id, b.bucket,
        |  CAST(coalesce(list_sum(list_transform(th.h, x ->
        |    CASE WHEN x % ${ExtQueries.FhDim} = b.bucket
        |      THEN ((x // ${ExtQueries.FhDim}) % 2) * 2 - 1 ELSE 0 END)), 0)
        |    AS BIGINT) AS v
        |FROM th, b ORDER BY th.doc_id, b.bucket""".stripMargin,

    // Eval-side twin of e_decontaminate over the SAME shingle CTEs — the
    // spec form is a plain left join; the Spark side's broadcast semi-join
    // funnel must produce identical per-doc counts.
    "e_ngram_overlap" ->
      s"""WITH ${shingleCtes("documents")},
        |bench AS (SELECT doc_id, unnest(ds) AS h FROM sh
        |  WHERE doc_id < ${ExtQueries.DecontamBenchIds}),
        |hits AS (SELECT DISTINCT unnest(ds) AS h FROM sh
        |  WHERE doc_id >= ${ExtQueries.DecontamBenchIds})
        |SELECT b.doc_id, count(*) AS n_shingles,
        |  CAST(count(hits.h) AS BIGINT) AS n_hit,
        |  CAST(count(hits.h) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS overlap_frac
        |FROM bench b LEFT JOIN hits ON b.h = hits.h
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "e_decontaminate" ->
      s"""WITH ${shingleCtes("documents")},
        |corpus AS (SELECT doc_id, unnest(ds) AS g FROM sh
        |  WHERE doc_id >= ${ExtQueries.DecontamBenchIds}),
        |bench AS (SELECT DISTINCT unnest(ds) AS g FROM sh
        |  WHERE doc_id < ${ExtQueries.DecontamBenchIds})
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_shared
        |FROM corpus c JOIN bench b ON c.g = b.g
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "e_semantic_decontaminate" ->
      s"""WITH emb AS (SELECT vec_id, embedding AS e,
        |  sqrt(list_reduce(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS nrm
        |  FROM embeddings),
        |bench AS (SELECT vec_id AS bench_id, e AS be, nrm AS bn FROM emb
        |  WHERE vec_id < ${ExtQueries.DecontamBenchIds}),
        |corpus AS (SELECT vec_id, e, nrm FROM emb
        |  WHERE vec_id >= ${ExtQueries.DecontamBenchIds}),
        |cos AS (SELECT c.vec_id, b.bench_id,
        |  list_reduce(list_transform(list_zip(c.e, b.be),
        |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
        |    / (c.nrm * b.bn) AS cos
        |  FROM corpus c, bench b),
        |r AS (SELECT vec_id, bench_id, cos,
        |  row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, bench_id ASC) AS rk FROM cos)
        |SELECT vec_id, bench_id, cos AS max_cos,
        |  cos >= ${ExtQueries.SemDedupTheta} AS contaminated
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "e_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |b AS (SELECT doc_id, tk,
        |  CASE WHEN len(tk) <= 1 THEN CAST([] AS VARCHAR[])
        |       ELSE list_transform(range(0, len(tk) - 1), i -> tk[i+1] || ' ' || tk[i+2])
        |  END AS bg FROM t),
        |r AS (SELECT doc_id, len(tk) AS n_tokens,
        |  CASE WHEN len(tk) > 0
        |    THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)
        |    ELSE 0.0 END AS dup_token_ratio,
        |  CASE WHEN len(bg) > 0
        |    THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE)
        |    ELSE 0.0 END AS dup_bigram_ratio
        |  FROM b)
        |SELECT doc_id, n_tokens, dup_token_ratio, dup_bigram_ratio,
        |  dup_bigram_ratio > CAST(0.2 AS DOUBLE) AS repetitive
        |FROM r ORDER BY doc_id""".stripMargin,

    "e_cosine_topk_ivf" ->
      s"""WITH $centAssignCtes,
        |q AS (SELECT vec_id AS qid, e AS qe, nrm AS nq, cell
        |  FROM assigned WHERE vec_id < 8),
        |scored AS (SELECT q.qid, a.vec_id AS cid,
        |  list_reduce(list_transform(list_zip(q.qe, a.e),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
        |    / (q.nq * a.nrm) AS score
        |  FROM assigned a JOIN q ON a.cell = q.cell AND a.vec_id <> q.qid),
        |ranked AS (SELECT qid, cid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // One spherical-k-means Lloyd step over the SAME assignment CTEs the
    // IVF serving path uses; the update sums fixed-point-quantized UNIT
    // member elements (the e_centroid_score exactness device), so c_fp is
    // an exact order-invariant integer and c_new two IEEE ops from it.
    // e_ivf_nprobe: multi-probe IVF serving — the SAME assignment CTEs as
    // e_cosine_topk_ivf, with the query side keeping its nprobe nearest
    // cells (crank <= nprobe over the shared `sims` ranking). Each corpus
    // vector lives in exactly ONE cell, so multi-probe never duplicates a
    // (qid, cid) candidate. Mirrors ExtQueries.ivfNprobe.
    "e_ivf_nprobe" ->
      s"""WITH $centAssignCtes,
        |q AS (SELECT qid, qe, nq, cell FROM (
        |    SELECT vec_id AS qid, e AS qe, nrm AS nq, cent_id AS cell,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY csim DESC, cent_id ASC) AS crank
        |    FROM sims WHERE vec_id < 8)
        |  WHERE crank <= ${ExtQueries.IvfNprobeDefault}),
        |scored AS (SELECT q.qid, a.vec_id AS cid,
        |  list_reduce(list_transform(list_zip(q.qe, a.e),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
        |    / (q.nq * a.nrm) AS score
        |  FROM assigned a JOIN q ON a.cell = q.cell AND a.vec_id <> q.qid),
        |ranked AS (SELECT qid, cid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // e_ivf_filter: the filtered serve over the SAME assignment CTEs —
    // labels re-joined from the embeddings table onto both sides, the
    // predicate applied in the candidate join condition (before scoring),
    // nprobe widened to the filtered operating point.
    "e_ivf_filter" ->
      s"""WITH $centAssignCtes,
        |q AS (SELECT qid, qe, nq, cell, tgt FROM (
        |    SELECT s.vec_id AS qid, s.e AS qe, s.nrm AS nq, s.cent_id AS cell,
        |      (emb.label + 1) % ${ExtQueries.AnnFilterLabels} AS tgt,
        |      row_number() OVER (PARTITION BY s.vec_id
        |        ORDER BY s.csim DESC, s.cent_id ASC) AS crank
        |    FROM sims s JOIN embeddings emb ON emb.vec_id = s.vec_id
        |    WHERE s.vec_id < 8) r
        |  WHERE crank <= ${ExtQueries.IvfFilterNprobe}),
        |scored AS (SELECT q.qid, a.vec_id AS cid,
        |  list_reduce(list_transform(list_zip(q.qe, a.e),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
        |    / (q.nq * a.nrm) AS score
        |  FROM assigned a
        |  JOIN embeddings emb ON emb.vec_id = a.vec_id
        |  JOIN q ON a.cell = q.cell AND a.vec_id <> q.qid
        |   AND emb.label = q.tgt),
        |ranked AS (SELECT qid, cid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // e_ivf_filter_adaptive: the guaranteed-k probe schedule over the SAME
    // assignment CTEs — per-query nprobe from the (cell, label) counts
    // (probe until the target is reachable, spill to all cells under the
    // selectivity bound), then the filtered serve over the chosen cells.
    "e_ivf_filter_adaptive" ->
      s"""WITH $centAssignCtes,
        |$ivfScheduleCtes,
        |probe AS (SELECT u.qid, u.qe, u.nq, u.tgt, u.cell,
        |    p.n_match_total, p.eff_nprobe, p.spilled
        |  FROM qcum u JOIN qplan p USING (qid) WHERE u.crank <= p.eff_nprobe),
        |scored AS (SELECT pr.qid, l.vec_id AS cid,
        |  list_reduce(list_transform(list_zip(pr.qe, l.e),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
        |    / (pr.nq * l.nrm) AS score,
        |  pr.n_match_total, pr.eff_nprobe, pr.spilled
        |  FROM lab l JOIN probe pr ON l.cell = pr.cell AND l.vec_id <> pr.qid
        |   AND l.label = pr.tgt),
        |ranked AS (SELECT qid, cid, score, n_match_total, eff_nprobe, spilled,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
        |  FROM scored)
        |SELECT qid, cid, score, CAST(rank AS INTEGER) AS rank,
        |  n_match_total, eff_nprobe, spilled
        |FROM ranked WHERE rank <= ${ExtQueries.AnnFilterK}
        |ORDER BY qid, rank""".stripMargin,

    "e_kmeans_iter" ->
      s"""WITH $centAssignCtes,
        |comp AS (SELECT cell, generate_subscripts(e, 1) - 1 AS dim,
        |  CAST(unnest(e) AS DOUBLE) / nrm AS u
        |  FROM assigned WHERE nrm > 0)
        |SELECT cell, CAST(dim AS INTEGER) AS dim,
        |  count(*) AS n_members,
        |  CAST(SUM(CAST(floor(u * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS c_fp,
        |  CAST(SUM(CAST(floor(u * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / (1048576.0 * CAST(count(*) AS DOUBLE)) AS c_new
        |FROM comp GROUP BY cell, dim ORDER BY cell, dim""".stripMargin,

    "e_minhash_dedup" ->
      s"""WITH $minhashBody
        |SELECT doc_a, doc_b, n_inter, n_union FROM verified
        |WHERE 2 * n_inter >= n_union
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Cross-corpus near-dup join: same banding ([[minhashBandCtes]]) and
    // verify ([[minhashVerifyCte]]) texts as the self-join family, but the
    // candidate join is corpus × batch across the VariantIdOffset boundary.
    "e_cross_dedup" ->
      s"""WITH $allDocsCte,
        |${shingleCtes("all_docs")},
        |$minhashBandCtes,
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.b = y.b AND x.bsig = y.bsig
        |   AND x.doc_id < ${ExtQueries.VariantIdOffset}
        |   AND y.doc_id >= ${ExtQueries.VariantIdOffset}),
        |$minhashVerifyCte
        |SELECT doc_a, doc_b, n_inter, n_union FROM verified
        |WHERE 2 * n_inter >= n_union
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Asymmetric containment ≥ 0.8 over the shared shingle sets: candidates
    // from the df-capped rare-postings index ([[rarePostingsCtes]] — the
    // e_dedup_eval truth device), verified on the FULL sets; the verdict is
    // integer-side, the reported ratio one IEEE divide.
    "e_containment" ->
      s"""WITH $allDocsCte,
        |${shingleCtes("all_docs")},
        |$rarePostingsCtes,
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM rare x JOIN rare y ON x.h2 = y.h2 AND x.doc_id < y.doc_id),
        |ver AS (
        |  SELECT c.doc_a, c.doc_b,
        |    len(list_intersect(sa.ds, sb.ds)) AS n_inter,
        |    len(sa.ds) AS n_a, len(sb.ds) AS n_b
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, n_inter, n_a, n_b,
        |  CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) AS containment
        |FROM ver WHERE 5 * n_inter >= 4 * least(n_a, n_b)
        |ORDER BY doc_a, doc_b""".stripMargin,

    // `edges` MATERIALIZED (the labelPropSql note): the recursive `reach`
    // step references it per iteration, and a plain CTE would re-inline
    // the whole minhash candidate+verify chain into every round
    // (measured 24.5 s → ~4 s at sf0.001).
    "e_dup_clusters" ->
      s"""WITH RECURSIVE $minhashBody,
        |pairs AS (SELECT doc_a, doc_b FROM verified WHERE 2 * n_inter >= n_union),
        |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
        |reach(v, l) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
        |lab AS (SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY v),
        |sized AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, s.cluster_size
        |FROM lab l JOIN sized s USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,

    "e_pii_redact" ->
      s"""WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 > 0
        |         THEN ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com.'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' or user' || CAST(doc_id AS VARCHAR) || 'b@example.com'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 4 > 0
        |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN ' from ' || CAST(doc_id % 256 AS VARCHAR)
        |           || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        |           || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
        |           || '.' || CAST((doc_id * 31) % 256 AS VARCHAR)
        |         ELSE '' END AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(t, '${ExtQueries.EmailPat}')) AS n_emails,
        |    len(regexp_extract_all(t, '${ExtQueries.PhonePat}')) AS n_phones,
        |    len(regexp_extract_all(t, '${ExtQueries.Ipv4Pat}')) AS n_ips,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '${ExtQueries.EmailPat}', '<EMAIL>', 'g'),
        |      '${ExtQueries.Ipv4Pat}', '<IP>', 'g'),
        |      '${ExtQueries.PhonePat}', '<PHONE>', 'g') AS redacted
        |  FROM aug)
        |SELECT doc_id, n_emails, n_phones, n_ips,
        |  length(redacted) AS n_chars_redacted,
        |  CAST('0x'||substr(md5(redacted),1,15) AS BIGINT) AS redacted_fp
        |FROM red ORDER BY doc_id""".stripMargin,

    "e_quality_filter" ->
      s"""WITH ${qualityCtes("documents")}
        |SELECT doc_id, lang, source, n_tokens, mean_token_len, dup_ratio,
        |  n_long_tokens, n_stop, verdict, keep
        |FROM qr ORDER BY doc_id""".stripMargin,

    // End-to-end curation funnel: composes the SAME shingle/minhash chain
    // and the SAME quality-rule CTEs the graded operators use, staged over
    // the re-crawl fixture corpus; per-doc drop attribution.
    "e_curation_funnel" ->
      s"""WITH fbase AS (SELECT doc_id, lang, source, text FROM documents),
        |corpus AS (
        |  SELECT doc_id, lang, source, text FROM fbase
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, lang, source, text FROM fbase
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, lang, source,
        |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[6:], ' ') AS text
        |  FROM fbase),
        |wh AS (SELECT doc_id, lang, source, text,
        |  CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h FROM corpus),
        |es AS (SELECT h, min(doc_id) AS surv FROM wh GROUP BY h),
        |dropexact AS (SELECT w.doc_id, e.surv FROM wh w JOIN es e USING (h)
        |  WHERE w.doc_id <> e.surv),
        |surv1 AS (SELECT doc_id, lang, source, text FROM corpus
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dropexact)),
        |${shingleCtes("surv1")},
        |$minhashSigCtes,
        |dropnear AS (SELECT doc_b AS doc_id, min(doc_a) AS surv FROM verified
        |  WHERE 2 * n_inter >= n_union GROUP BY doc_b),
        |surv2 AS (SELECT doc_id, lang, source, text FROM surv1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dropnear)),
        |${qualityCtes("surv2")},
        |dropqual AS (SELECT doc_id FROM qr WHERE NOT keep)
        |SELECT c.doc_id,
        |  CASE WHEN de.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN dn.doc_id IS NOT NULL THEN 'near_dup'
        |       WHEN c.doc_id IN (SELECT doc_id FROM dropqual) THEN 'quality'
        |       ELSE 'kept' END AS stage,
        |  CASE WHEN de.doc_id IS NOT NULL THEN de.surv
        |       WHEN dn.doc_id IS NOT NULL THEN dn.surv END AS survivor_id
        |FROM corpus c
        |LEFT JOIN dropexact de ON de.doc_id = c.doc_id
        |LEFT JOIN dropnear dn ON dn.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    "e_domain_stats" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\\s+') AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source, len(tk) AS n_tokens,
        |    (len(tk) >= ${ExtQueries.QfMinTokens}
        |      AND len(list_filter(tk, x -> x IN ($stopwordList))) > 0) AS q
        |  FROM t)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
        |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS quality_rate,
        |  CASE WHEN CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         >= CAST(${ExtQueries.DsTierHigh} AS DOUBLE) THEN 'high'
        |       WHEN CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         >= CAST(${ExtQueries.DsTierMid} AS DOUBLE) THEN 'mid'
        |       ELSE 'low' END AS tier
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    "e_frame_sample" ->
      """WITH meta AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 17 AS BIGINT) AS duration_s,
        |    CAST(24 + 6 * (doc_id % 2) AS BIGINT) AS fps
        |  FROM documents)
        |SELECT doc_id, duration_s, fps,
        |  duration_s * fps AS n_frames,
        |  ts // 2 AS sample_pos,
        |  ts AS frame_ts_s,
        |  ts * fps AS frame_idx
        |FROM meta, LATERAL (SELECT unnest(range(0, duration_s, 2)) AS ts) s
        |ORDER BY doc_id, frame_ts_s""".stripMargin,

    "e_seq_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    -- CAST: DuckDB window sums return HUGEINT (the q_sessionize lesson)
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  cum - n_tokens AS start_off,
        |  (cum - n_tokens) // ${ExtQueries.PackBlockTokens} AS first_block,
        |  (cum - 1) // ${ExtQueries.PackBlockTokens} AS last_block,
        |  (cum - 1) // ${ExtQueries.PackBlockTokens}
        |    - (cum - n_tokens) // ${ExtQueries.PackBlockTokens} + 1 AS n_blocks
        |FROM c ORDER BY source, doc_id""".stripMargin,

    // The oracle states the SPEC (one global rank window); the Spark side's
    // two-level segment/offset device must produce the same integers — the
    // e_train_order verification shape. Snake arithmetic is all
    // non-negative // and %, the e_seq_pack floor-div contract.
    "e_shard_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(row_number() OVER (ORDER BY n_tokens ASC, doc_id ASC) AS BIGINT) AS pos
        |  FROM t)
        |SELECT doc_id, n_tokens, pos,
        |  CAST(CASE WHEN ((pos - 1) // ${ExtQueries.PackShards}) % 2 = 0
        |    THEN (pos - 1) % ${ExtQueries.PackShards}
        |    ELSE ${ExtQueries.PackShards} - 1 - ((pos - 1) % ${ExtQueries.PackShards})
        |    END AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    // Two-level position arithmetic mirrored exactly (k >= 0 keeps // and
    // Spark's div in agreement — the e_seq_pack floor-div contract); the
    // triangular-join exclusive prefix produces the same integers a global
    // window would, which DuckDB verifies by construction here.
    "e_train_order" ->
      s"""WITH keyed AS (SELECT doc_id, source,
        |    CAST('0x'||substr(md5('${ExtQueries.TrainOrderSalt}'||text),1,15) AS BIGINT) AS k
        |  FROM documents),
        |segd AS (SELECT doc_id, source, k,
        |  k // ${ExtQueries.TrainOrderSegWidth} AS seg FROM keyed),
        |cnt AS (SELECT seg, count(*) AS c FROM segd GROUP BY seg),
        |offs AS (SELECT a.seg, CAST(coalesce(sum(b.c), 0) AS BIGINT) AS seg_off
        |  FROM cnt a LEFT JOIN cnt b ON b.seg < a.seg GROUP BY a.seg),
        |rn AS (SELECT doc_id, source, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY k ASC, doc_id ASC) AS r
        |  FROM segd)
        |SELECT rn.doc_id, rn.source, CAST(o.seg_off + rn.r AS BIGINT) AS pos
        |FROM rn JOIN offs o USING (seg) ORDER BY pos""".stripMargin,

    "e_semantic_dedup" ->
      s"""WITH $semanticAssignedBody,
        |dup AS (SELECT DISTINCT y.vec_id
        |  FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE list_reduce(list_transform(list_zip(x.e, y.e),
        |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
        |    / (x.nrm * y.nrm) >= ${ExtQueries.SemDedupTheta})
        |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
        |  (d.vec_id IS NULL) AS keep
        |FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    // The literal sequential greedy walk (keep each vertex in id order
    // unless a KEPT smaller neighbor conflicts) as a recursive CTE carrying
    // the kept set — the same reference semantics the operator's ScalaCheck
    // spec pins. Iterations = |conflicted vertices|, each a scan of the
    // (small) pairs CTE: fine at verify SF; the DISTRIBUTED form is the
    // operator itself.
    // `pairs`/`ord` MATERIALIZED (the labelPropSql note): the recursive
    // walk's EXISTS probes pairs once per kept-set iteration — a plain CTE
    // re-inlines the in-cell cosine self-join (over the MATERIALIZED
    // shared assignment) into every one of |verts| rounds (measured
    // 245 s → ~2 s at sf0.001, the worst inlining blowup in the file).
    "e_greedy_dedup" ->
      s"""WITH RECURSIVE $semanticAssignedBody,
        |pairs AS MATERIALIZED (SELECT x.vec_id AS src, y.vec_id AS dst
        |  FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE list_reduce(list_transform(list_zip(x.e, y.e),
        |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
        |    / (x.nrm * y.nrm) >= ${ExtQueries.SemDedupTheta}),
        |verts AS (SELECT DISTINCT v FROM
        |  (SELECT src AS v FROM pairs UNION ALL SELECT dst AS v FROM pairs)),
        |ord AS MATERIALIZED (SELECT v, row_number() OVER (ORDER BY v ASC) AS rn
        |  FROM verts),
        |walk AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS kept
        |  UNION ALL
        |  SELECT o.rn,
        |    CASE WHEN EXISTS (SELECT 1 FROM pairs p
        |                      WHERE p.dst = o.v AND list_contains(w.kept, p.src))
        |      THEN w.kept ELSE list_append(w.kept, o.v) END
        |  FROM walk w JOIN ord o ON o.rn = w.rn + 1),
        |final AS (SELECT kept FROM walk ORDER BY rn DESC LIMIT 1)
        |SELECT o.v, list_contains(f.kept, o.v) AS keep
        |FROM ord o, final f
        |ORDER BY o.v""".stripMargin,

    // Within-source document frequency over the shared shingle derivation;
    // shingleCtes carries no source column, so the oracle re-attaches it by
    // doc_id (the Spark side passes it through the derivation instead — the
    // same numbers, different plumbing).
    "e_boilerplate" ->
      s"""WITH ${shingleCtes("documents")},
        |posting AS (
        |  SELECT s.doc_id, d.source,
        |    CAST(len(s.ds) AS BIGINT) AS n_shingles, unnest(s.ds) AS sh
        |  FROM sh s JOIN documents d USING (doc_id)),
        |wdf AS (SELECT doc_id, source, n_shingles,
        |  count(*) OVER (PARTITION BY source, sh) AS df FROM posting)
        |SELECT doc_id, source, n_shingles,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(n_shingles AS DOUBLE) AS boiler_frac,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 2 < n_shingles AS keep
        |FROM wdf GROUP BY doc_id, source, n_shingles
        |ORDER BY doc_id""".stripMargin,

    "e_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |vocab AS (SELECT count(DISTINCT tok) AS v FROM (
        |  SELECT unnest(t) AS tok FROM toks)),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(range(0, len(t) - 1),
        |    i -> CAST('0x'||substr(md5(t[i+1]),1,15) AS BIGINT))) AS hp,
        |  unnest(list_transform(range(0, len(t) - 1),
        |    i -> CAST('0x'||substr(md5(t[i+1]||chr(31)||t[i+2]),1,15) AS BIGINT))) AS hb
        |  FROM toks WHERE len(t) >= 2),
        |cnt1 AS (SELECT hp, count(*) AS c1 FROM bg GROUP BY hp),
        |cnt2 AS (SELECT hb, count(*) AS c2 FROM bg GROUP BY hb),
        |ps AS (SELECT b.doc_id,
        |  CAST(floor((CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
        |    * 1073741824.0 + 0.5) AS BIGINT) AS pq
        |  FROM bg b JOIN cnt2 USING (hb) JOIN cnt1 USING (hp), vocab),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(SUM(pq) AS BIGINT) AS p_fp FROM ps GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(p_fp, 0) AS p_fp,
        |  CASE WHEN COALESCE(n_bigrams, 0) > 0 THEN
        |    CAST(p_fp AS DOUBLE) / (1073741824.0 * CAST(n_bigrams AS DOUBLE))
        |  END AS avg_prob
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "e_domain_cap" ->
      s"""WITH pr AS (SELECT doc_id, source,
        |  CAST('0x'||substr(md5('cap:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
        |    % 1048576 AS priority
        |  FROM documents),
        |r AS (SELECT doc_id, source, priority,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY priority ASC, doc_id ASC) AS rk FROM pr)
        |SELECT doc_id, source, priority, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= ${ExtQueries.DomainCapK} ORDER BY doc_id""".stripMargin,

    "e_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.token, CAST(t.tf AS BIGINT) AS tf,
        |    CAST(d.df AS BIGINT) AS df,
        |    CAST(t.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
        |      / CAST(d.df AS DOUBLE) AS score
        |  FROM tf t JOIN dfreq d USING (token), n),
        |ranked AS (SELECT doc_id, token, tf, df, score,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, token, tf, df, score, rank FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "e_freq_rank_score" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY count(*) DESC, token ASC) AS BIGINT) AS rank
        |  FROM tok GROUP BY token
        |  QUALIFY rank <= ${ExtQueries.FreqRankVocab}),
        |scored AS (
        |  SELECT t.doc_id,
        |    coalesce(v.rank, ${ExtQueries.FreqRankVocab + 1}) AS r,
        |    CASE WHEN v.rank IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN vocab v USING (token))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_rank
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same freq-rank derivation carrying lang; thresholds by exact ⌈q·n⌉
    // rank selection per lang — what Spark's GK sketch degenerates to at
    // accuracy ≥ n (the orderStatsApprox contract). Quartile percentages
    // are binary-exact doubles, so the rank arithmetic cannot drift.
    "e_quality_buckets" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY count(*) DESC, token ASC) AS BIGINT) AS rank
        |  FROM tok GROUP BY token
        |  QUALIFY rank <= ${ExtQueries.FreqRankVocab}),
        |scored AS (
        |  SELECT t.doc_id, t.lang,
        |    CAST(sum(coalesce(v.rank, ${ExtQueries.FreqRankVocab + 1})) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS mean_rank
        |  FROM tok t LEFT JOIN vocab v USING (token)
        |  GROUP BY t.doc_id, t.lang),
        |r AS (
        |  SELECT doc_id, lang, mean_rank,
        |    row_number() OVER (PARTITION BY lang ORDER BY mean_rank ASC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored),
        |thr AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = ceil(n * 0.25) THEN mean_rank END) AS t25,
        |    max(CASE WHEN rn = ceil(n * 0.5) THEN mean_rank END) AS t50,
        |    max(CASE WHEN rn = ceil(n * 0.75) THEN mean_rank END) AS t75
        |  FROM r GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.mean_rank,
        |  CAST(1 + CAST(s.mean_rank > t.t25 AS INT) + CAST(s.mean_rank > t.t50 AS INT)
        |    + CAST(s.mean_rank > t.t75 AS INT) AS BIGINT) AS bucket
        |FROM scored s JOIN thr t USING (lang)
        |ORDER BY s.doc_id""".stripMargin,

    "e_dup_spans" ->
      s"""WITH $dupSpanBody,
        |perdoc AS (SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(e2 - s + 1) AS BIGINT) AS dup_tokens FROM spans GROUP BY doc_id)
        |SELECT b.doc_id, len(b.t) AS n_tokens,
        |  coalesce(p.n_spans, 0) AS n_spans,
        |  coalesce(p.dup_tokens, 0) AS dup_tokens,
        |  CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / CAST(len(b.t) AS DOUBLE) AS dup_frac
        |FROM toks b LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // First BPE iteration: adjacent char pairs weighted by token frequency,
    // over DISTINCT words. All-integer; ties pinned (count DESC, pair ASC).
    "e_bpe_merges" ->
      """WITH vocab AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) GROUP BY w),
        |pairs AS (
        |  SELECT substring(w, i, 2) AS pair, wc FROM (
        |    SELECT w, wc, unnest(range(1, length(w))) AS i
        |    FROM vocab WHERE length(w) >= 2)),
        |agg AS (SELECT pair, sum(wc) AS n FROM pairs GROUP BY pair)
        |SELECT pair, CAST(n AS BIGINT) AS n FROM agg
        |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,

    // Snapshot diff: both snapshots reduce to (id, fingerprint) before one
    // full-outer join; the previous snapshot is the pinned fixture derivation.
    "e_snapshot_diff" ->
      """WITH cur AS (
        |  SELECT doc_id,
        |    CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h_cur FROM documents),
        |prev AS (
        |  SELECT doc_id,
        |    CAST('0x'||substr(md5(CASE WHEN doc_id % 7 = 0
        |      THEN array_to_string((regexp_split_to_array(trim(text), '\s+'))[2:], ' ')
        |      ELSE text END),1,15) AS BIGINT) AS h_prev
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    CAST('0x'||substr(md5('gone:'||text),1,15) AS BIGINT) AS h_prev
        |  FROM documents)
        |SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
        |  CASE WHEN p.h_prev IS NULL THEN 'added'
        |       WHEN c.h_cur IS NULL THEN 'removed'
        |       WHEN c.h_cur = p.h_prev THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
        |ORDER BY doc_id""".stripMargin,

    // BM25 lexical top-k with rational idf clamped at 0 (no
    // transcendentals — the same device as e_tfidf_terms; the clamp matches
    // conventional BM25's floor for df > N/2 terms); per-doc scores fold
    // per-term contributions in pinned query-term order, matching the
    // Spark-side sort_array fold.
    "e_bm25_topk" ->
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |base AS (SELECT doc_id, t, len(t) AS n FROM toks),
        |stats AS (SELECT count(*) AS n_docs, sum(n) AS total_tokens FROM base),
        |q AS (SELECT * FROM (VALUES
        |${ExtQueries.Bm25Queries.map { case (qid, ts) =>
             s"  ($qid, [${ts.map(t => s"'$t'").mkString(", ")}])" }.mkString(",\n")}
        |  ) AS v(qid, terms)),
        |qt AS (SELECT qid, generate_subscripts(terms, 1) - 1 AS tidx,
        |  unnest(terms) AS term FROM q),
        |tok AS (SELECT doc_id, n, unnest(t) AS term FROM base),
        |tf AS (SELECT doc_id, n, term, count(*) AS tf FROM tok
        |  WHERE term IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, n, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |contrib AS (SELECT qt.qid, qt.tidx, tf.doc_id,
        |  greatest((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
        |    / (CAST(d.df AS DOUBLE) + 0.5), 0.0)
        |  * ((CAST(tf.tf AS DOUBLE) * 2.2)
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(tf.n AS DOUBLE)
        |        / (CAST(s.total_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))
        |    AS c
        |  FROM tf JOIN dfreq d USING (term) JOIN qt ON qt.term = tf.term, stats s),
        |scores AS (SELECT qid, doc_id,
        |  list_reduce(list_prepend(0.0, list(c ORDER BY tidx)),
        |    (a, x) -> a + x) AS score
        |  FROM contrib GROUP BY qid, doc_id),
        |ranked AS (SELECT qid, doc_id, score,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, doc_id ASC) AS rank FROM scores)
        |SELECT qid, doc_id, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // Overlapping passage chunking: integer floor-div chunk counts
    // (`//` ≡ Spark `div`), chunk text rebuilt from the token array in both
    // engines. The final chunk always reaches the tail; short docs yield
    // one whole-doc chunk.
    "e_chunk_split" ->
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |base AS (SELECT doc_id, t, len(t) AS n,
        |  (greatest(len(t) - ${ExtQueries.SplitChunkTokens}, 0)
        |    + ${ExtQueries.SplitChunkStride - 1}) // ${ExtQueries.SplitChunkStride} + 1 AS n_chunks
        |  FROM toks),
        |ch AS (SELECT doc_id, t, n, unnest(range(n_chunks)) AS chunk_idx FROM base)
        |SELECT doc_id, n AS n_tokens, chunk_idx,
        |  chunk_idx * ${ExtQueries.SplitChunkStride} AS start_pos,
        |  least(n - chunk_idx * ${ExtQueries.SplitChunkStride},
        |    ${ExtQueries.SplitChunkTokens}) AS n_chunk_tokens,
        |  array_to_string(t[chunk_idx * ${ExtQueries.SplitChunkStride} + 1
        |    : chunk_idx * ${ExtQueries.SplitChunkStride} + ${ExtQueries.SplitChunkTokens}], ' ')
        |    AS chunk_text
        |FROM ch
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // The rewrite step of the Lee et al. shape: tokens inside marked spans
    // are cut, survivors rejoined with single spaces (both engines rebuild
    // from the token array, so whitespace normalization is structural).
    "e_dup_span_removal" ->
      s"""WITH $dupSpanBody,
        |pos_tok AS (SELECT doc_id, unnest(range(0, len(t))) AS pos,
        |  unnest(t) AS tok FROM toks),
        |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos_tok p
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = p.doc_id AND p.pos >= sp.s AND p.pos <= sp.e2)),
        |cl AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, len(b.t) AS n_tokens,
        |  len(b.t) - coalesce(c.n_kept, 0) AS n_removed,
        |  coalesce(c.clean_text, '') AS clean_text
        |FROM toks b LEFT JOIN cl c USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "e_triplet_mine" ->
      s"""WITH q AS (
        |  SELECT vec_id AS qid, label AS qlabel, embedding AS qe,
        |    sqrt(list_reduce(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (
        |  SELECT vec_id AS cid, label AS clabel, embedding AS ce,
        |    sqrt(list_reduce(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
        |  FROM embeddings),
        |scored AS (
        |  SELECT qid, cid,
        |    list_reduce(list_transform(list_zip(qe, ce),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
        |      / (nq * nc) AS score,
        |    (qlabel = clabel) AS same
        |  FROM q, c WHERE cid <> qid),
        |ranked AS (SELECT qid, cid, score, same,
        |  CAST(row_number() OVER (PARTITION BY qid, same
        |    ORDER BY score DESC, cid ASC) AS INT) AS rn FROM scored),
        |pos AS (SELECT qid, cid AS pos_id, score AS pos_score
        |  FROM ranked WHERE same AND rn = 1),
        |neg AS (SELECT qid, cid AS neg_id, score AS neg_score, rn AS neg_rank
        |  FROM ranked WHERE NOT same AND rn <= ${ExtQueries.TripletNegK})
        |SELECT n.qid, p.pos_id, n.neg_id, n.neg_rank, p.pos_score, n.neg_score,
        |  p.pos_score - n.neg_score AS margin
        |FROM neg n JOIN pos p USING (qid)
        |ORDER BY qid, neg_rank""".stripMargin,

    "e_vec_quantize" ->
      """WITH sc AS (
        |  SELECT vec_id, embedding AS e,
        |    list_reduce(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))),
        |      (a, x) -> greatest(a, x)) / 127.0 AS scale
        |  FROM embeddings),
        |qz AS (SELECT vec_id, e, scale,
        |  list_transform(e, v -> CASE WHEN scale = 0 THEN 0.0
        |    ELSE floor(CAST(v AS DOUBLE) / scale + 0.5) * scale END) AS recon
        |  FROM sc),
        |err AS (SELECT vec_id, scale,
        |  list_reduce(list_transform(list_zip(e, recon),
        |    p -> abs(CAST(p[1] AS DOUBLE) - p[2])), (a, x) -> greatest(a, x)) AS max_abs_err,
        |  list_reduce(list_transform(list_zip(e, recon),
        |    p -> CAST(p[1] AS DOUBLE) * p[2]), (a, x) -> a + x) AS dt,
        |  sqrt(list_reduce(list_transform(e,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (a, x) -> a + x)) AS no,
        |  sqrt(list_reduce(list_transform(recon, v -> v * v), (a, x) -> a + x)) AS nr
        |  FROM qz)
        |SELECT vec_id, scale, max_abs_err,
        |  CASE WHEN no = 0 OR nr = 0 THEN NULL ELSE dt / (no * nr) END AS cos_recon
        |FROM err ORDER BY vec_id""".stripMargin,

    // Leakage-safe split: the fate bucket hashes CONTENT (salted), so
    // byte-identical duplicates share a split by construction.
    "e_split" ->
      """SELECT doc_id, lang, source, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang, source,
        |  CAST('0x'||substr(md5(text||':split'),1,15) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Nearest-centroid classifier: centroid components are INTEGER sums of
    // fixed-point quantized elements (floor(v*2^20 + 0.5) — exact and
    // order-invariant; double->decimal casts do NOT round identically
    // across engines); cosine is scale-invariant so the unnormalized
    // fixed-point sum vector IS the centroid direction (no mean divide and
    // no dequantization exist in either engine).
    "e_centroid_score" ->
      """WITH comp AS (
        |  SELECT label, dim,
        |    CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))
        |      AS DOUBLE) AS s
        |  FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |          unnest(embedding) AS v FROM embeddings)
        |  GROUP BY label, dim),
        |cents AS (
        |  SELECT label AS clabel, list(s ORDER BY dim) AS ce FROM comp GROUP BY label),
        |cn AS (SELECT clabel, ce,
        |  sqrt(list_reduce(list_transform(ce, x -> x * x), (a, b) -> a + b)) AS ncent
        |  FROM cents),
        |vecs AS (SELECT vec_id, label, embedding AS e,
        |  sqrt(list_reduce(list_transform(embedding,
        |    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |scored AS (SELECT v.vec_id, v.label, c.clabel,
        |  list_reduce(list_transform(list_zip(v.e, c.ce),
        |    p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b)
        |    / (v.nrm * c.ncent) AS score
        |  FROM vecs v, cn c WHERE v.nrm > 0),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY score DESC, clabel ASC) AS rnk FROM scored)
        |SELECT vec_id, label,
        |  MAX(CASE WHEN rnk = 1 THEN clabel END) AS pred_label,
        |  MAX(CASE WHEN rnk = 1 THEN score END) AS score,
        |  MAX(CASE WHEN rnk = 1 THEN score END)
        |    - MAX(CASE WHEN rnk = 2 THEN score END) AS margin,
        |  CAST(CASE WHEN MAX(CASE WHEN rnk = 1 THEN clabel END) = label
        |    THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM ranked GROUP BY vec_id, label ORDER BY vec_id""".stripMargin,

    // Fixed-size uniform sample: k smallest salted 52-bit keys, globally
    // and per language stratum. The per-stratum ranks mirror the bounded
    // aggregate's (key ASC, doc_id ASC) total order exactly.
    "e_reservoir" ->
      s"""WITH keyed AS (SELECT doc_id, lang,
        |  CAST('0x'||substr(md5('rsv:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
        |    % ${1L << 52} AS sample_key
        |  FROM documents),
        |g AS (SELECT 'global' AS stratum, doc_id, sample_key FROM keyed
        |  ORDER BY sample_key, doc_id LIMIT ${ExtQueries.ReservoirGlobalK}),
        |p AS (SELECT lang AS stratum, doc_id, sample_key,
        |  row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS rn
        |  FROM keyed)
        |SELECT stratum, doc_id, sample_key FROM g
        |UNION ALL
        |SELECT stratum, doc_id, sample_key FROM p
        |WHERE rn <= ${ExtQueries.ReservoirPerLang}
        |ORDER BY stratum, doc_id""".stripMargin,

    // Margin-based bitext mining: forward-best match per source vector,
    // margin normalized by both endpoints' k-NN neighborhood sums — all
    // selection and the acceptance test on floored fixed-point longs; the
    // only floats are the shared sequential-fold cosine and one final
    // divide of exactly-representable longs.
    // e_align_screen: the bitext margin device applied to the DIAGONAL —
    // each document's own (text-half, media-half) pair cosine relative to
    // its two top-k neighborhood averages against the pinned broadcast
    // reference sample; fixed-point cfp longs end-to-end, the verdict an
    // exact integer inequality, the reported margin one IEEE divide.
    "e_align_screen" -> {
      val d = ExtQueries.AlignDim
      val k = ExtQueries.AlignK
      def fp(dot: String, nprod: String): String =
        s"""CAST(floor(list_reduce(list_transform($dot,
          |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a,b) -> a+b)
          |    / ($nprod) * 1000000000000.0) AS BIGINT)""".stripMargin
      s"""WITH base AS (SELECT vec_id,
        |    embedding[1:$d] AS tv, embedding[${d + 1}:${2 * d}] AS mv
        |  FROM embeddings),
        |nrm AS (SELECT vec_id, tv, mv,
        |  sqrt(list_reduce(list_transform(tv,
        |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS nt,
        |  sqrt(list_reduce(list_transform(mv,
        |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (a,b)->a+b)) AS nm
        |  FROM base),
        |ref AS (SELECT vec_id AS rid, tv AS rtv, mv AS rmv, nt AS rnt,
        |  nm AS rnm FROM nrm WHERE vec_id < ${ExtQueries.AlignRefSample}),
        |diag AS (SELECT vec_id,
        |  ${fp("list_zip(tv, mv)", "nt * nm")} AS cfp FROM nrm),
        |xs AS (SELECT n.vec_id, r.rid,
        |  ${fp("list_zip(n.tv, r.rmv)", "n.nt * r.rnm")} AS c
        |  FROM nrm n, ref r),
        |xr AS (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
        |  ORDER BY c DESC, rid ASC) AS rn FROM xs),
        |sx AS (SELECT vec_id, CAST(sum(c) AS BIGINT) AS sx FROM xr
        |  WHERE rn <= $k GROUP BY vec_id),
        |ys AS (SELECT n.vec_id, r.rid,
        |  ${fp("list_zip(n.mv, r.rtv)", "n.nm * r.rnt")} AS c
        |  FROM nrm n, ref r),
        |yr AS (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
        |  ORDER BY c DESC, rid ASC) AS rn FROM ys),
        |sy AS (SELECT vec_id, CAST(sum(c) AS BIGINT) AS sy FROM yr
        |  WHERE rn <= $k GROUP BY vec_id)
        |SELECT d.vec_id AS doc_id, d.cfp AS cos_fp, x.sx, y.sy,
        |  CASE WHEN x.sx + y.sy > 0
        |    THEN CAST(${2L * k} * d.cfp AS DOUBLE) / CAST(x.sx + y.sy AS DOUBLE)
        |    END AS margin,
        |  (x.sx + y.sy > 0 AND
        |    ${2L * k} * ${ExtQueries.AlignMarginDen} * d.cfp >=
        |      ${ExtQueries.AlignMarginNum} * (x.sx + y.sy)) AS aligned
        |FROM diag d JOIN sx x ON d.vec_id = x.vec_id
        |JOIN sy y ON d.vec_id = y.vec_id
        |ORDER BY doc_id""".stripMargin
    },

    "e_bitext_mine" -> {
      val k = ExtQueries.BitextK
      s"""WITH x AS (
        |  SELECT vec_id AS xid, embedding AS xe,
        |    sqrt(list_reduce(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, t) -> acc + t)) AS nx
        |  FROM embeddings WHERE label = ${ExtQueries.BitextSrcLabel}),
        |y AS (
        |  SELECT vec_id AS yid, embedding AS ye,
        |    sqrt(list_reduce(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, t) -> acc + t)) AS ny
        |  FROM embeddings WHERE label = ${ExtQueries.BitextDstLabel}),
        |scored AS (
        |  SELECT xid, yid,
        |    CAST(floor(list_reduce(list_transform(list_zip(xe, ye),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, t) -> acc + t)
        |      / (nx * ny) * 1000000000000.0) AS BIGINT) AS cfp
        |  FROM x, y),
        |fr AS (SELECT xid, yid, cfp,
        |  row_number() OVER (PARTITION BY xid ORDER BY cfp DESC, yid ASC) AS rn
        |  FROM scored),
        |fwd AS (SELECT xid, CAST(sum(cfp) AS BIGINT) AS sx FROM fr
        |  WHERE rn <= $k GROUP BY xid),
        |fbest AS (SELECT xid, yid, cfp FROM fr WHERE rn = 1),
        |br AS (SELECT xid, yid, cfp,
        |  row_number() OVER (PARTITION BY yid ORDER BY cfp DESC, xid ASC) AS rn
        |  FROM scored),
        |bwd AS (SELECT yid, CAST(sum(cfp) AS BIGINT) AS sy FROM br
        |  WHERE rn <= $k GROUP BY yid)
        |SELECT b.xid AS src_id, b.yid AS dst_id, b.cfp AS cos_fp,
        |  CAST(${2L * k} * b.cfp AS DOUBLE) / CAST(f.sx + w.sy AS DOUBLE) AS margin,
        |  ${2L * k} * ${ExtQueries.BitextMarginDen} * b.cfp >=
        |    ${ExtQueries.BitextMarginNum} * (f.sx + w.sy) AS accepted
        |FROM fbest b JOIN fwd f ON b.xid = f.xid JOIN bwd w ON b.yid = w.yid
        |WHERE b.cfp > 0 AND f.sx + w.sy > 0
        |ORDER BY src_id""".stripMargin
    },

    // Exact heavy hitters {token : freq·k > N}: the oracle needs no sketch —
    // the Spark side's Misra-Gries pass only bounds candidate-recount work,
    // and its guarantee (no true heavy hitter ever dropped) makes the
    // final set sketch-independent.
    "e_heavy_hitters" ->
      s"""WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM tok)
        |SELECT token, count(*) AS freq, (SELECT n_total FROM tot) AS n_total
        |FROM tok GROUP BY token
        |HAVING count(*) * ${ExtQueries.HeavyHittersK} > (SELECT n_total FROM tot)
        |ORDER BY freq DESC, token ASC""".stripMargin,

    // Priority sampling (Duffield-Lund-Thorup): top-k priorities w·P/(h+1),
    // τ = the (k+1)-th — 0 when the population has ≤ k rows (DLT's n ≤ k
    // definition; a min-of-population τ would bias the HT estimate up) —
    // HT estimate max(w, τ). Multiply/divide only — both correctly
    // rounded, so the doubles are bit-identical cross-engine.
    "e_priority_sample" ->
      s"""WITH pri AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |  CAST(n_chars AS DOUBLE) * CAST($P AS DOUBLE) /
        |    CAST(CAST('0x'||substr(md5('pri:'||CAST(doc_id AS VARCHAR)),1,15)
        |      AS BIGINT) % $P + 1 AS DOUBLE) AS priority
        |  FROM documents),
        |top AS (SELECT * FROM pri ORDER BY priority DESC, doc_id
        |  LIMIT ${ExtQueries.PrioritySampleK + 1}),
        |tau AS (SELECT CASE WHEN count(*) = ${ExtQueries.PrioritySampleK + 1}
        |  THEN min(priority) ELSE CAST(0 AS DOUBLE) END AS tau FROM top),
        |samp AS (SELECT * FROM top ORDER BY priority DESC, doc_id
        |  LIMIT ${ExtQueries.PrioritySampleK})
        |SELECT doc_id, w, priority,
        |  greatest(CAST(w AS DOUBLE), tau) AS est_w
        |FROM samp, tau ORDER BY doc_id""".stripMargin,

    // SCD2 dimension build: daily dominant-activity snapshot collapsed into
    // versioned validity intervals. The window SUM is cast back to BIGINT
    // (DuckDB widens window sums to HUGEINT — the selfcheck dtype lesson).
    "e_scd2" ->
      """WITH snap AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
        |    count(*) AS n_day
        |  FROM events GROUP BY 1, 2, 3),
        |mode AS (
        |  SELECT user_id, day, event_type AS tier,
        |    row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY n_day DESC, event_type) AS rn
        |  FROM snap),
        |m AS (SELECT user_id, day, tier FROM mode WHERE rn = 1),
        |chg AS (
        |  SELECT user_id, day, tier,
        |    CASE WHEN lag(tier) OVER w IS NULL OR lag(tier) OVER w <> tier
        |      THEN 1 ELSE 0 END AS c
        |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |ver AS (
        |  SELECT user_id, day, tier,
        |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        |  FROM chg),
        |runs AS (
        |  SELECT user_id, version, min(tier) AS tier,
        |    min(day) AS valid_from_day, count(*) AS n_days
        |  FROM ver GROUP BY 1, 2)
        |SELECT user_id, version, tier, valid_from_day,
        |  lead(valid_from_day) OVER w2 AS valid_to_day, n_days,
        |  lead(valid_from_day) OVER w2 IS NULL AS is_current
        |FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin,

    // Trailing-7-day RANGE-frame rolling aggregates over event-time micros;
    // the rolling sum is fixed-point floor(value·10⁶) BIGINTs so the window
    // total is order-free integer arithmetic in both engines.
    "e_rolling_agg" ->
      s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v_micro
        |  FROM events WHERE user_id < ${ExtQueries.RollingUsers})
        |SELECT user_id, event_id, us,
        |  count(*) OVER w AS n_7d,
        |  CAST(sum(v_micro) OVER w AS BIGINT) AS sum_7d_micro,
        |  max(value) OVER w AS max_7d
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN ${ExtQueries.RollingWindowMicros} PRECEDING
        |    AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin,

    // Per-language 2D Pareto skyline: group-max per token count, then a
    // strictly-greater RANGE frame — integer comparisons throughout.
    "e_skyline" ->
      """WITH toked AS (
        |  SELECT doc_id, lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      AS n_distinct
        |  FROM documents),
        |best AS (
        |  SELECT lang, n_tokens, n_distinct, doc_id FROM (
        |    SELECT lang, n_tokens, n_distinct, doc_id,
        |      row_number() OVER (PARTITION BY lang, n_tokens
        |        ORDER BY n_distinct DESC, doc_id) AS rn
        |    FROM toked) WHERE rn = 1),
        |sky AS (
        |  SELECT lang, doc_id, n_tokens, n_distinct,
        |    max(n_distinct) OVER (PARTITION BY lang ORDER BY n_tokens
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS max_dist_longer
        |  FROM best)
        |SELECT lang, doc_id, n_tokens, n_distinct FROM sky
        |WHERE max_dist_longer IS NULL OR n_distinct > max_dist_longer
        |ORDER BY lang, n_tokens""".stripMargin,

    // DAU over trailing-30d distinct users; the |days| calendar joins the
    // reduced (user, day) pairs, each landing in ≤ 30 windows.
    "e_stickiness" ->
      s"""WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day AS d FROM active),
        |dau AS (SELECT day AS d, count(*) AS dau FROM active GROUP BY 1),
        |mau AS (
        |  SELECT dy.d, count(DISTINCT a.user_id) AS mau
        |  FROM active a JOIN days dy
        |    ON a.day > dy.d - ${ExtQueries.StickinessWindowDays}
        |    AND a.day <= dy.d
        |  GROUP BY 1)
        |SELECT dau.d AS day, dau.dau, mau.mau,
        |  CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
        |FROM dau JOIN mau ON dau.d = mau.d
        |ORDER BY day""".stripMargin,

    // PMI collocations via the exp form (rank-identical, no log): exact
    // integer numerator/denominator, one int→double divide, global top-k.
    "e_collocations" ->
      s"""WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |psrc AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks
        |  WHERE len(t) >= 2),
        |pairs AS (SELECT t[i] AS a, t[i+1] AS b, count(*) AS c_ab
        |  FROM psrc GROUP BY 1, 2
        |  HAVING count(*) >= ${ExtQueries.CollocMinCount}),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_uni,
        |  (SELECT CAST(sum(c_ab) AS BIGINT) FROM pairs) AS n_pairs)
        |SELECT p.a, p.b, p.c_ab, ca.c AS c_a, cb.c AS c_b,
        |  p.c_ab * t.n_uni * t.n_uni AS pmi_num,
        |  t.n_pairs * ca.c * cb.c AS pmi_den,
        |  CAST(p.c_ab * t.n_uni * t.n_uni AS DOUBLE)
        |    / CAST(t.n_pairs * ca.c * cb.c AS DOUBLE) AS strength
        |FROM pairs p
        |JOIN uc ca ON p.a = ca.tok
        |JOIN uc cb ON p.b = cb.tok
        |CROSS JOIN tot t
        |ORDER BY strength DESC, a, b LIMIT ${ExtQueries.CollocTopK}""".stripMargin,

    // Rank-fraction + frame-navigation window suite: the (value, event_id)
    // order is total, so both fractions are single int→double divides.
    "e_window_suite" ->
      s"""SELECT event_type, event_id, value,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(value) OVER wf AS v_first,
        |  last_value(value) OVER wf AS v_last,
        |  nth_value(value, 3) OVER wf AS v_nth3
        |FROM (SELECT event_type, event_id, value FROM events
        |  WHERE user_id < ${ExtQueries.WindowSuiteUsers})
        |WINDOW
        |  w AS (PARTITION BY event_type ORDER BY value, event_id),
        |  wf AS (PARTITION BY event_type ORDER BY value, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_type, event_id""".stripMargin,

    // Equi-width histogram: the bin expression is mirrored token-for-token
    // (same IEEE op sequence), max closes into the last bin, hi=lo
    // degenerates to bin 0.
    "e_histogram" ->
      s"""WITH bounds AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  CASE WHEN b.hi = b.lo THEN 0
        |    ELSE least(CAST(floor((e.value - b.lo) / (b.hi - b.lo)
        |      * ${ExtQueries.HistogramBuckets}) AS BIGINT),
        |      ${ExtQueries.HistogramBuckets - 1}) END AS bin,
        |  count(*) AS n, max(b.lo) AS lo, max(b.hi) AS hi
        |FROM events e JOIN bounds b ON e.event_type = b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // CUBE lattice over (event_type, day): collapsed dimensions labeled
    // explicitly (fixture columns are never NULL, so labels are
    // unambiguous and no GROUPING() bit-order agreement is needed).
    "e_cube_agg" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type_g,
        |  coalesce(day, -1) AS day_g,
        |  count(*) AS n_events,
        |  CAST(sum(v_micro) AS BIGINT) AS v_micro_sum
        |FROM (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v_micro
        |  FROM events)
        |GROUP BY CUBE (event_type, day)
        |ORDER BY event_type_g, day_g""".stripMargin,

    // Per-type OLS daily-volume slope: integer numerator/denominator
    // (multiply-through form), one int→double divide at the end.
    "e_trend" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS n_days,
        |    CAST(sum(day) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(day * y) AS BIGINT) AS sxy,
        |    CAST(sum(day * day) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  n_days * sxy - sx * sy AS slope_num,
        |  n_days * sxx - sx * sx AS slope_den,
        |  CAST(n_days * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope_per_day
        |FROM m ORDER BY event_type""".stripMargin,

    // Deterministic A/B readout: salted hash-parity arms, conversion =
    // any purchase; the z statistic's op sequence (divides, pooled
    // products, sqrt) is identical on both engines — sqrt is exactly
    // rounded per IEEE 754, so the statistic hash-matches.
    "e_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST('0x'||substr(md5('exp1:'||CAST(user_id AS VARCHAR)),1,15)
        |      AS BIGINT) % 2 AS arm,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      > sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS converted
        |  FROM events GROUP BY 1, 2),
        |arms AS (SELECT arm, count(*) AS n,
        |  CAST(sum(converted) AS BIGINT) AS conv FROM pu GROUP BY 1),
        |a AS (SELECT n AS n_a, conv AS conv_a FROM arms WHERE arm = 0),
        |b AS (SELECT n AS n_b, conv AS conv_b FROM arms WHERE arm = 1),
        |r AS (SELECT n_a, conv_a,
        |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  n_b, conv_b,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |    AS pooled
        |  FROM a, b)
        |SELECT n_a, conv_a, rate_a, n_b, conv_b, rate_b,
        |  CASE WHEN pooled > 0.0 AND pooled < 1.0 THEN
        |    (rate_a - rate_b)
        |    / sqrt(pooled * (1.0 - pooled)
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |  END AS z
        |FROM r""".stripMargin,

    // First-order event-type transition matrix: per-user lead pairs,
    // per-source probability is the one int→double divide.
    "e_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |pairs AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    count(*) AS n_pairs
        |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |totals AS (SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
        |  FROM pairs GROUP BY 1)
        |SELECT p.from_type, p.to_type, p.n_pairs, t.n_from,
        |  CAST(p.n_pairs AS DOUBLE) / CAST(t.n_from AS DOUBLE)
        |    AS p_transition
        |FROM pairs p JOIN totals t ON p.from_type = t.from_type
        |ORDER BY p.from_type, p.to_type""".stripMargin,

    // Salted skew-join: the salt is invisible mechanics — the oracle is the
    // PLAIN per-language enrichment join the salted plan must equal.
    "e_salted_join" ->
      """WITH stats AS (
        |  SELECT lang, count(*) AS n_docs_lang,
        |    CAST(sum(n_chars) AS BIGINT) AS chars_lang
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars, s.n_docs_lang, s.chars_lang
        |FROM documents d JOIN stats s ON d.lang = s.lang
        |ORDER BY d.doc_id""".stripMargin,

    // Robust outlier report: nearest-rank medians in integer rank
    // arithmetic; dev and the 3·MAD band are single IEEE ops.
    "e_mad_outliers" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (
        |  SELECT event_type, max(n) AS n,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
        |  FROM r GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, e.event_id, e.value, med.n, med.med,
        |    abs(e.value - med.med) AS dev
        |  FROM events e JOIN med USING (event_type)),
        |dr AS (
        |  SELECT event_type, n, med, dev,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY dev, event_id) AS rn
        |  FROM d),
        |mad AS (
        |  SELECT event_type, max(n) AS n, max(med) AS med,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
        |  FROM dr GROUP BY 1)
        |SELECT e.event_type, max(mad.n) AS n, max(mad.med) AS med,
        |  max(mad.mad) AS mad,
        |  count(CASE WHEN abs(e.value - mad.med) > 3.0 * mad.mad THEN 1 END)
        |    AS n_outliers
        |FROM events e JOIN mad ON e.event_type = mad.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    // Integer-exact daily anomaly flags: |c − S/n| > 2σ multiplied through
    // by n² into (c·n − S)² > 4(nQ − S²) — no float, no sqrt, no division.
    "e_anomaly_days" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, count(*) AS n_days,
        |    CAST(sum(n_events) AS BIGINT) AS s,
        |    CAST(sum(n_events * n_events) AS BIGINT) AS q
        |  FROM daily GROUP BY 1)
        |SELECT d.event_type, d.day, d.n_events,
        |  (d.n_events * s.n_days - s.s) * (d.n_events * s.n_days - s.s)
        |    AS dev2_scaled,
        |  4 * (s.n_days * s.q - s.s * s.s) AS var4_scaled,
        |  (d.n_events * s.n_days - s.s) * (d.n_events * s.n_days - s.s)
        |    > 4 * (s.n_days * s.q - s.s * s.s) AS is_anomaly
        |FROM daily d JOIN stats s ON d.event_type = s.event_type
        |ORDER BY d.event_type, d.day""".stripMargin,

    // Cohort retention matrix: first-active day = cohort, integer epoch
    // days, one int→double divide for the rate.
    "e_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |cohorts AS (SELECT user_id, min(day) AS cohort FROM active GROUP BY 1),
        |sizes AS (SELECT cohort, count(*) AS n_cohort FROM cohorts GROUP BY 1)
        |SELECT c.cohort, a.day - c.cohort AS day_offset,
        |  count(*) AS n_active, max(s.n_cohort) AS n_cohort,
        |  CAST(count(*) AS DOUBLE) / CAST(max(s.n_cohort) AS DOUBLE)
        |    AS retention
        |FROM active a
        |JOIN cohorts c ON a.user_id = c.user_id
        |JOIN sizes s ON c.cohort = s.cohort
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Ordered conversion funnel: each step's time is the earliest
    // qualifying event STRICTLY AFTER the previous step's conversion.
    "e_funnel" -> {
      val steps = ExtQueries.FunnelSteps
      val counts = steps.indices
        .map(i => s"(SELECT count(*) FROM s$i) AS n$i").mkString(",\n  ")
      val rows = steps.zipWithIndex.map { case (step, i) =>
        val conv = if (i == 0) "CAST(1.0 AS DOUBLE)"
          else s"CAST(n$i AS DOUBLE) / CAST(n${i - 1} AS DOUBLE)"
        if (i == 0)
          s"""SELECT CAST(1 AS INT) AS step, '$step' AS event_type, n0 AS n_users,
            |  $conv AS conv_from_prev FROM c""".stripMargin
        else s"SELECT CAST(${i + 1} AS INT), '$step', n$i, $conv FROM c"
      }.mkString("\nUNION ALL ")
      s"""WITH $funnelStageCtes,
        |c AS (SELECT $counts)
        |$rows
        |ORDER BY step""".stripMargin
    },

    // Time-to-convert distribution over the SAME funnel stage CTEs;
    // median is the exact ⌈n/2⌉ rank selection (the orderStats convention
    // GK degenerates to below its accuracy).
    "e_time_to_convert" ->
      s"""WITH $funnelStageCtes,
        |durs AS (SELECT $funnelLastStage.user_id, $funnelLastStage.t - s0.t AS dur_us
        |  FROM $funnelLastStage JOIN s0 ON $funnelLastStage.user_id = s0.user_id),
        |r AS (SELECT dur_us,
        |  row_number() OVER (ORDER BY dur_us) AS rn,
        |  count(*) OVER () AS n FROM durs)
        |SELECT (SELECT count(*) FROM durs) AS n_converted,
        |  (SELECT min(dur_us) FROM durs) AS min_us,
        |  (SELECT max(dur_us) FROM durs) AS max_us,
        |  (SELECT dur_us FROM r
        |   WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)) AS median_us""".stripMargin,

    // Winsorization report: exact nearest-rank ⌈q·n⌉ cut points in INTEGER
    // arithmetic ((5n+99)//100 — a float quantile multiply can round across
    // the integer boundary), tail clip counts, fixed-point clipped total.
    "e_winsorize" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |cuts AS (
        |  SELECT event_type, max(n) AS n,
        |    max(CASE WHEN rn = (5*n + 99) // 100 THEN value END) AS lo,
        |    max(CASE WHEN rn = (99*n + 99) // 100 THEN value END) AS hi
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT e.event_type, e.value, cuts.n, cuts.lo, cuts.hi,
        |    least(greatest(e.value, cuts.lo), cuts.hi) AS v_clip
        |  FROM events e JOIN cuts USING (event_type))
        |SELECT event_type, max(n) AS n, max(lo) AS lo, max(hi) AS hi,
        |  count(CASE WHEN value < lo THEN 1 END) AS n_below,
        |  count(CASE WHEN value > hi THEN 1 END) AS n_above,
        |  CAST(sum(CAST(floor(v_clip * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS sum_clip_micro
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
  )

  /** Full oracle map. `e_ann_recall` COMPOSES the four top-k entries as
    * parenthesized subqueries — literally the same SQL strings the graded
    * keys run, so the evaluation can never drift from what it evaluates. */
  /** The rare-shingle postings chain (`post` → `hot` → `rare`, document
    * frequency ≤ [[ExtQueries.DedupEvalDfCap]]) reading `sh` — the SQL twin
    * of `ExtQueries.rareShinglePostings`, shared by `e_dedup_eval` (truth
    * candidates) and `e_containment` so both cap with one definition. */
  private lazy val rarePostingsCtes: String =
    s"""post AS (SELECT doc_id, unnest(ds) AS h2 FROM sh),
      |hot AS (SELECT h2 FROM post GROUP BY h2
      |  HAVING count(*) > ${ExtQueries.DedupEvalDfCap}),
      |rare AS (SELECT doc_id, h2 FROM post ANTI JOIN hot USING (h2))""".stripMargin

  /** `e_dedup_eval` — recall/precision of the signature families vs the
    * exact-Jaccard ground truth. COMPOSES [[minhashBody]] (whose `sh` CTE is
    * the one shingle-set definition and whose `verified` CTE is the minhash
    * family's output) and derives the simhash signature from the SAME `th`
    * per-token-hash CTE the shingles use — the evaluation cannot drift from
    * the operators it grades. Truth pairs come from an inverted-index
    * postings join over RARE shingles (document frequency ≤
    * [[ExtQueries.DedupEvalDfCap]], the same stop-shingle cap the Spark
    * side applies — hot shingles contribute df² join rows and no
    * discriminating power), each candidate then verified with exact Jaccard
    * on the full shingle sets — never all-pairs, never uncapped. */
  private lazy val dedupEvalSql: String =
    s"""WITH $minhashBody,
      |$rarePostingsCtes,
      |tcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM rare x JOIN rare y ON x.h2 = y.h2 AND x.doc_id < y.doc_id),
      |truth AS (SELECT c.doc_a, c.doc_b FROM tcand c
      |  JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b
      |  WHERE 2 * len(list_intersect(sa.ds, sb.ds)) >=
      |        len(list_distinct(list_concat(sa.ds, sb.ds)))),
      |mh_pred AS (SELECT doc_a, doc_b FROM verified WHERE 2 * n_inter >= n_union),
      |ssim AS (SELECT doc_id,
      |  list_sum(list_transform(range(0, 32), i ->
      |    CASE WHEN list_sum(list_transform(h,
      |           t -> CASE WHEN (t >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS sim FROM th),
      |sbands AS (SELECT doc_id, sim, b, (sim >> (16 * b)) & 65535 AS bv
      |  FROM ssim, (SELECT unnest(range(2)) AS b)),
      |sim_pred AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM sbands x JOIN sbands y
      |    ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
      |  WHERE bit_count(xor(x.sim, y.sim)) <= 1),
      |fam AS (
      |  SELECT 'minhash' AS family,
      |    (SELECT count(*) FROM truth) AS n_truth,
      |    (SELECT count(*) FROM mh_pred) AS n_pred,
      |    (SELECT count(*) FROM truth t JOIN mh_pred p
      |       ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b) AS n_hit
      |  UNION ALL
      |  SELECT 'simhash',
      |    (SELECT count(*) FROM truth),
      |    (SELECT count(*) FROM sim_pred),
      |    (SELECT count(*) FROM truth t JOIN sim_pred p
      |       ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b))
      |SELECT family, n_truth, n_pred, n_hit,
      |  CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
      |  CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE) AS "precision"
      |FROM fam ORDER BY family""".stripMargin

  /** `e_rank_fusion` — RRF over the three approximate families' top-k
    * lists. COMPOSES the graded family SQL texts verbatim (same device as
    * `e_ann_recall`): the fusion cannot drift from the rankings it fuses.
    * Contributions 1/(60+rank) fold in pinned family order, matching the
    * Spark-side sorted fold. */
  private lazy val rankFusionSql: String =
    s"""WITH lshf AS (SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_lsh")}) a),
      |ivff AS (SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_ivf")}) b),
      |pqf AS (SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_pq")}) c),
      |msf AS (SELECT qid, cid, rank FROM (${baseSql("e_maxsim")}) m),
      |tagged AS (
      |  SELECT qid, cid, rank, 0 AS fidx FROM lshf
      |  UNION ALL SELECT qid, cid, rank, 1 AS fidx FROM ivff
      |  UNION ALL SELECT qid, cid, rank, 2 AS fidx FROM pqf
      |  UNION ALL SELECT qid, cid, rank, 3 AS fidx FROM msf),
      |fused AS (SELECT qid, cid,
      |  list_reduce(list_prepend(0.0,
      |    list(1.0 / (60.0 + CAST(rank AS DOUBLE)) ORDER BY fidx)),
      |    (a, x) -> a + x) AS rrf,
      |  count(*) AS n_lists
      |  FROM tagged GROUP BY qid, cid),
      |rankedf AS (SELECT qid, cid, rrf, n_lists,
      |  row_number() OVER (PARTITION BY qid
      |    ORDER BY rrf DESC, cid ASC) AS rank FROM fused)
      |SELECT qid, cid, rrf, n_lists, rank FROM rankedf WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** `e_hybrid_search` — dense+sparse hybrid retrieval: the three ANN
    * family SQL texts (filtered to the hybrid query ids) RRF-fused with the
    * `e_bm25_topk` lexical list, fidx order lsh, ivf, pq, bm25 — matching
    * the Spark-side pinned fold. COMPOSES the four graded SQL texts
    * verbatim (same device as `e_rank_fusion`). */
  private lazy val hybridSearchSql: String =
    s"""WITH lshf AS (SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_lsh")}) a
      |  WHERE qid < ${ExtQueries.Bm25Queries.size}),
      |ivff AS (SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_ivf")}) b
      |  WHERE qid < ${ExtQueries.Bm25Queries.size}),
      |pqf AS (SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_pq")}) c
      |  WHERE qid < ${ExtQueries.Bm25Queries.size}),
      |bmf AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id AS cid, rank
      |  FROM (${baseSql("e_bm25_topk")}) d),
      |tagged AS (
      |  SELECT qid, cid, rank, 0 AS fidx FROM lshf
      |  UNION ALL SELECT qid, cid, rank, 1 AS fidx FROM ivff
      |  UNION ALL SELECT qid, cid, rank, 2 AS fidx FROM pqf
      |  UNION ALL SELECT qid, cid, rank, 3 AS fidx FROM bmf),
      |fused AS (SELECT qid, cid,
      |  list_reduce(list_prepend(0.0,
      |    list(1.0 / (60.0 + CAST(rank AS DOUBLE)) ORDER BY fidx)),
      |    (a, x) -> a + x) AS rrf,
      |  count(*) AS n_lists
      |  FROM tagged GROUP BY qid, cid),
      |rankedf AS (SELECT qid, cid, rrf, n_lists,
      |  row_number() OVER (PARTITION BY qid
      |    ORDER BY rrf DESC, cid ASC) AS rank FROM fused)
      |SELECT qid, cid, rrf, n_lists, rank FROM rankedf WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** `e_triangles` — per-node triangle counts + clustering coefficient:
    * COMPOSES the graded `e_knn_graph` SQL text as the adjacency,
    * symmetrizes/orients it, and counts the ordered a<b<c 3-join. */
  private lazy val trianglesSql: String =
    s"""WITH knn AS (SELECT src, nbr FROM (${baseSql("e_knn_graph")}) g),
      |und AS (SELECT DISTINCT src, nbr FROM (
      |  SELECT src, nbr FROM knn
      |  UNION ALL SELECT nbr AS src, src AS nbr FROM knn)),
      |edges AS (SELECT src, nbr FROM und WHERE src < nbr),
      |deg AS (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
      |tri AS (SELECT e1.src AS a, e1.nbr AS b, e2.nbr AS c
      |  FROM edges e1
      |  JOIN edges e2 ON e1.nbr = e2.src
      |  JOIN edges e3 ON e1.src = e3.src AND e2.nbr = e3.nbr),
      |corners AS (SELECT a AS v FROM tri
      |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
      |pn AS (SELECT v, count(*) AS n_triangles FROM corners GROUP BY 1)
      |SELECT deg.v AS vec_id, deg.deg,
      |  coalesce(pn.n_triangles, 0) AS n_triangles,
      |  CASE WHEN deg.deg >= 2 THEN
      |    2.0 * CAST(coalesce(pn.n_triangles, 0) AS DOUBLE)
      |      / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
      |  ELSE 0.0 END AS clustering
      |FROM deg LEFT JOIN pn ON deg.v = pn.v
      |ORDER BY vec_id""".stripMargin

  /** `e_interleave` — balanced interleaving of the lexical and dense
    * rankers: COMPOSES the `e_bm25_topk` and `e_cosine_topk` SQL texts
    * verbatim; occurrence positions 2·rank−1 / 2·rank, first placement
    * wins, parity of the winning position credits the team. */
  private lazy val interleaveSql: String =
    s"""WITH sp AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id AS cid,
      |    CAST(rank * 2 - 1 AS BIGINT) AS pos
      |  FROM (${baseSql("e_bm25_topk")}) a),
      |dn AS (SELECT qid, cid, CAST(rank * 2 AS BIGINT) AS pos
      |  FROM (${baseSql("e_cosine_topk")}) b
      |  WHERE qid < ${ExtQueries.Bm25Queries.size}),
      |occ AS (SELECT qid, cid, pos FROM sp UNION ALL SELECT qid, cid, pos FROM dn),
      |m AS (SELECT qid, cid, min(pos) AS pos FROM occ GROUP BY 1, 2),
      |r AS (SELECT qid, cid, pos,
      |  CAST(row_number() OVER (PARTITION BY qid ORDER BY pos) AS INT) AS rank
      |  FROM m)
      |SELECT qid, rank, cid,
      |  CASE WHEN pos % 2 = 1 THEN 'sparse' ELSE 'dense' END AS team
      |FROM r WHERE rank <= ${ExtQueries.InterleaveK}
      |ORDER BY qid, rank""".stripMargin

  /** `e_interleave_sig` — the sign-test verdict over `e_interleave`'s
    * first-placement credits: composes its SQL text; z is the `e_ab_test`
    * exactly-rounded sqrt device; the all-ties degenerate case yields
    * NULL z in both engines. */
  private lazy val interleaveSigSql: String =
    s"""WITH il AS (SELECT qid, team FROM ($interleaveSql) i),
      |perq AS (SELECT qid,
      |  sum(CASE WHEN team = 'sparse' THEN 1 ELSE 0 END) AS c_sparse,
      |  sum(CASE WHEN team = 'dense' THEN 1 ELSE 0 END) AS c_dense
      |  FROM il GROUP BY qid),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST(sum(CASE WHEN c_sparse > c_dense THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sparse_wins,
      |  CAST(sum(CASE WHEN c_dense > c_sparse THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dense_wins,
      |  CAST(sum(CASE WHEN c_sparse = c_dense THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ties
      |  FROM perq)
      |SELECT n_queries, n_sparse_wins, n_dense_wins, n_ties,
      |  CASE WHEN n_sparse_wins + n_dense_wins > 0
      |    THEN CAST(n_sparse_wins - n_dense_wins AS DOUBLE)
      |      / sqrt(CAST(n_sparse_wins + n_dense_wins AS DOUBLE)) END AS z
      |FROM agg""".stripMargin

  /** `e_cosine_topk_beam` — greedy beam search over the knn-graph
    * substrate: COMPOSES the graded `e_knn_graph` SQL text as its
    * adjacency, then unrolls the FIXED `BeamRounds` expand-score-prune
    * rounds as generated CTE blocks (bounded rounds keep the plan and the
    * result deterministic; a recursive CTE would hide the round count the
    * Spark side pins). Entry set, beam width, tie-breaks and the
    * dot-product fold all mirror `ExtQueries.cosineTopkBeam`. */
  private lazy val beamSearchSql: String = {
    val B = ExtQueries.BeamWidth
    val nrmSql = "sqrt(list_reduce(list_transform(embedding, " +
      "v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (acc,x) -> acc+x))"
    def scoreAndPrune(r: Int): String =
      s"""sc$r AS (SELECT c.qid, c.cid,
         |  list_reduce(list_transform(list_zip(q.qe, v.e),
         |    p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
         |    / (q.nq * v.nrm) AS score
         |  FROM cand$r c JOIN vw v ON v.cid = c.cid JOIN qv q ON q.qid = c.qid),
         |beam$r AS (SELECT qid, cid, score FROM (SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn FROM sc$r)
         |  WHERE rn <= $B)""".stripMargin
    def round(r: Int): String =
      s"""cand$r AS (SELECT DISTINCT qid, cid FROM (
         |  SELECT qid, cid FROM beam${r - 1}
         |  UNION ALL
         |  SELECT b.qid, a.nbr AS cid FROM beam${r - 1} b
         |  JOIN adj a ON a.src = b.cid) u),
         |${scoreAndPrune(r)}""".stripMargin
    s"""WITH adj AS (SELECT src, nbr FROM (${baseSql("e_knn_graph")}) g),
      |vw AS (SELECT vec_id AS cid, embedding AS e, $nrmSql AS nrm FROM embeddings),
      |qv AS (SELECT vec_id AS qid, embedding AS qe, $nrmSql AS nq FROM embeddings
      |  WHERE vec_id < 8),
      |cand0 AS (SELECT q.qid, v.cid FROM qv q, vw v
      |  WHERE v.cid < ${ExtQueries.IvfCells}),
      |${scoreAndPrune(0)},
      |${(1 to ExtQueries.BeamRounds).map(round).mkString(",\n")}
      |SELECT qid, cid, score, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT qid, cid, score, row_number() OVER (
      |    PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM beam${ExtQueries.BeamRounds} WHERE cid <> qid) f
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** `e_kmeans_train` — chained spherical Lloyd steps: iteration 1 IS the
    * shared `centAssignCtes` assignment (the serving-path boundary), and
    * each later iteration is a generated CTE block assigning against the
    * previous update's `c_fp` vectors (cosine is scale-invariant, so the
    * exact integer sums serve as centroid directions — every value entering
    * an assignment is bit-identical cross-engine). Unrolled like
    * `beamSearchSql`: a recursive CTE would hide the iteration count the
    * Spark side pins. Mirrors `ExtQueries.kmeansTrainIters`. */
  // ---- kmeans training chain ----------------------------------------------

  /** Update block over an assigned CTE (vec_id, e, nrm, cell) → `upd{t}`. */
  private def lloydUpdCte(asg: String, t: Int): String =
    s"""comp$t AS (SELECT cell, generate_subscripts(e, 1) - 1 AS dim,
       |  CAST(unnest(e) AS DOUBLE) / nrm AS u
       |  FROM $asg WHERE nrm > 0),
       |upd$t AS (SELECT cell, dim, count(*) AS n_members,
       |  CAST(SUM(CAST(floor(u * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS c_fp
       |  FROM comp$t GROUP BY cell, dim)""".stripMargin

  /** Centroid table `cents{t+1}` rebuilt from `upd{t}` — the exact c_fp
    * int64 vector cast to double losslessly; `ncent > 0` drops emptied /
    * all-zero cells, mirroring `ExtQueries.centsFromUpdate`. */
  private def centsFromUpdCte(t: Int): String =
    s"""cvec$t AS (SELECT cell AS cent_id,
       |  list(CAST(c_fp AS DOUBLE) ORDER BY dim) AS ce
       |  FROM upd$t GROUP BY cell),
       |cents${t + 1} AS (SELECT * FROM (SELECT cent_id, ce,
       |  sqrt(list_reduce(list_transform(ce, x -> x * x), (acc, y) -> acc + y))
       |    AS ncent FROM cvec$t) WHERE ncent > 0)""".stripMargin

  /** Max-cosine hard assignment of `vecs` against `cents{t}` → `asg{t}`
    * (vec_id, e, nrm, cell) — the generated-name twin of the `assigned`
    * CTE inside `centAssignCtes`. */
  private def assignCte(t: Int): String =
    s"""sims$t AS (SELECT v.vec_id, v.e, v.nrm, c.cent_id,
       |  list_reduce(list_transform(list_zip(v.e, c.ce),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
       |    / (v.nrm * c.ncent) AS csim
       |  FROM vecs v, cents$t c),
       |asg$t AS (SELECT vec_id, e, nrm, cent_id AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY csim DESC, cent_id ASC) AS crank FROM sims$t)
       |  WHERE crank = 1)""".stripMargin

  /** The full `iters`-step training chain as CTE text: iteration 1 IS the
    * shared `centAssignCtes` assignment, later iterations are generated
    * blocks (`cents{t}` → `asg{t}` → `upd{t}`). Shared by `e_kmeans_train`
    * (which unions the `upd{t}`) and `e_ivf_trained` (which serves from
    * `cents{iters+1}`). */
  private def kmeansChainCtes(iters: Int): String = {
    def round(t: Int): String =
      s"""${centsFromUpdCte(t - 1)},
         |${assignCte(t)},
         |${lloydUpdCte(s"asg$t", t)}""".stripMargin
    s"""$centAssignCtes,
      |${lloydUpdCte("assigned", 1)}${
        if (iters < 2) ""
        else ",\n" + (2 to iters).map(round).mkString(",\n")}""".stripMargin
  }

  /** `e_kmeans_train` — chained spherical Lloyd steps: iteration 1 IS the
    * shared `centAssignCtes` assignment (the serving-path boundary), and
    * each later iteration is a generated CTE block assigning against the
    * previous update's `c_fp` vectors (cosine is scale-invariant, so the
    * exact integer sums serve as centroid directions — every value entering
    * an assignment is bit-identical cross-engine). Unrolled like
    * `beamSearchSql`: a recursive CTE would hide the iteration count the
    * Spark side pins. Mirrors `ExtQueries.kmeansTrainIters`. */
  private lazy val kmeansTrainSql: String = {
    val unions = (1 to ExtQueries.KmeansIters)
      .map(t => s"SELECT $t AS iter, cell, dim, n_members, c_fp FROM upd$t")
      .mkString("\n  UNION ALL ")
    s"""WITH ${kmeansChainCtes(ExtQueries.KmeansIters)}
      |SELECT CAST(iter AS INTEGER) AS iter, cell, CAST(dim AS INTEGER) AS dim,
      |  n_members, c_fp,
      |  CAST(c_fp AS DOUBLE) / (1048576.0 * CAST(n_members AS DOUBLE)) AS c_new
      |FROM ($unions) u ORDER BY iter, cell, dim""".stripMargin
  }

  /** `e_ivf_trained` — IVF serving from the TRAINED quantizer: COMPOSES the
    * `e_kmeans_train` chain (final centroid table `cents{K+1}`) into the
    * SAME assign + in-cell-search shape as `e_cosine_topk_ivf`, so any
    * result difference vs the seed-centroid key is attributable to the
    * quantizer alone. Mirrors `ExtQueries.cosineTopkIvfTrained`. */
  private lazy val ivfTrainedSql: String = {
    val K = ExtQueries.KmeansIters
    s"""WITH ${kmeansChainCtes(K)},
      |${centsFromUpdCte(K)},
      |${assignCte(K + 1)},
      |q AS (SELECT vec_id AS qid, e AS qe, nrm AS nq, cell
      |  FROM asg${K + 1} WHERE vec_id < 8),
      |scored AS (SELECT q.qid, a.vec_id AS cid,
      |  list_reduce(list_transform(list_zip(q.qe, a.e),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
      |    / (q.nq * a.nrm) AS score
      |  FROM asg${K + 1} a JOIN q ON a.cell = q.cell AND a.vec_id <> q.qid),
      |ranked AS (SELECT qid, cid, score,
      |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM scored)
      |SELECT qid, cid, score, rank FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin
  }

  /** `e_ivf_filter_trained` — FILTERED IVF serving from the TRAINED
    * quantizer: COMPOSES the `e_kmeans_train` chain (final centroid table
    * `cents{K+1}`, assignment `asg{K+1}`) into the VERBATIM
    * `e_ivf_filter` serve shape — labels re-joined from the embeddings
    * table onto both sides, predicate in the candidate join condition,
    * nprobe at the filtered operating point — so any result difference vs
    * the seed-centroid filtered key is attributable to the quantizer
    * alone. Mirrors `ExtQueries.ivfFilterTrained`. */
  private lazy val ivfFilterTrainedSql: String = {
    val K = ExtQueries.KmeansIters
    s"""WITH ${kmeansChainCtes(K)},
      |${centsFromUpdCte(K)},
      |${assignCte(K + 1)},
      |q AS (SELECT qid, qe, nq, cell, tgt FROM (
      |    SELECT s.vec_id AS qid, s.e AS qe, s.nrm AS nq, s.cent_id AS cell,
      |      (emb.label + 1) % ${ExtQueries.AnnFilterLabels} AS tgt,
      |      row_number() OVER (PARTITION BY s.vec_id
      |        ORDER BY s.csim DESC, s.cent_id ASC) AS crank
      |    FROM sims${K + 1} s JOIN embeddings emb ON emb.vec_id = s.vec_id
      |    WHERE s.vec_id < 8) r
      |  WHERE crank <= ${ExtQueries.IvfFilterNprobe}),
      |scored AS (SELECT q.qid, a.vec_id AS cid,
      |  list_reduce(list_transform(list_zip(q.qe, a.e),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
      |    / (q.nq * a.nrm) AS score
      |  FROM asg${K + 1} a
      |  JOIN embeddings emb ON emb.vec_id = a.vec_id
      |  JOIN q ON a.cell = q.cell AND a.vec_id <> q.qid
      |   AND emb.label = q.tgt),
      |ranked AS (SELECT qid, cid, score,
      |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
      |  FROM scored)
      |SELECT qid, cid, score, rank FROM ranked WHERE rank <= ${ExtQueries.AnnFilterK}
      |ORDER BY qid, rank""".stripMargin
  }

  /** `e_quantizer_drift` — the seed→trained cell-churn matrix: COMPOSES
    * the shared seed assignment (`assigned`, the CTE every seed-centroid
    * serve reads) and the `e_kmeans_train` chain's final assignment
    * (`asg{K+1}`, the one `e_ivf_trained` serves from), joined on vec_id.
    * Mirrors `ExtQueries.quantizerDrift`. */
  private lazy val quantizerDriftSql: String = {
    val K = ExtQueries.KmeansIters
    s"""WITH ${kmeansChainCtes(K)},
      |${centsFromUpdCte(K)},
      |${assignCte(K + 1)}
      |SELECT s.cell AS cell_from, t.cell AS cell_to,
      |  CAST(count(*) AS BIGINT) AS n_vecs
      |FROM assigned s JOIN asg${K + 1} t USING (vec_id)
      |GROUP BY 1, 2
      |ORDER BY cell_from, cell_to""".stripMargin
  }

  /** `e_shard_topk` — scatter-gather exact serve: per-(query, shard)
    * top-10 under the pinned order, then the global re-rank over the
    * per-shard survivors. Mirrors `ExtQueries.shardTopk`. */
  private lazy val shardTopkSql: String = {
    val s = ExtQueries.ShardCount
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
      |  FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS cid, embedding AS ce, vec_id % $s AS shard,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
      |  FROM embeddings),
      |scored AS (SELECT q.qid, c.cid, c.shard,
      |    list_reduce(list_transform(list_zip(q.qe, c.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.nq * c.nc) AS score
      |  FROM c, q WHERE c.cid <> q.qid),
      |pershard AS (SELECT qid, cid, score FROM (
      |  SELECT qid, cid, score,
      |    row_number() OVER (PARTITION BY qid, shard
      |      ORDER BY score DESC, cid ASC) AS rk
      |  FROM scored) WHERE rk <= 10)
      |SELECT qid, cid, score, rank, cid % $s AS shard FROM (
      |  SELECT qid, cid, score,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, cid ASC) AS INT) AS rank
      |  FROM pershard) WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin
  }

  /** `e_kcore` — the fixed-round k-core peel of the MUTUAL `e_knn_graph`
    * adjacency (COMPOSED via the shared assigned/adjacency CTEs; mutual =
    * reciprocated directed edges), rounds UNROLLED as generated CTE
    * blocks (the `kmeansChainCtes` device). Mirrors
    * `ExtQueries.kcore`. */
  private lazy val kcoreSql: String = {
    val k = ExtQueries.KcoreK
    def round(r: Int): String = {
      val prev = if (r == 1) "nodes0" else s"a${r - 1}"
      s"""d$r AS (SELECT u.src, CAST(count(*) AS BIGINT) AS deg
        |  FROM mut u JOIN $prev x ON u.src = x.vec_id
        |  JOIN $prev y ON u.nbr = y.vec_id GROUP BY u.src),
        |a$r AS MATERIALIZED (SELECT src AS vec_id FROM d$r WHERE deg >= $k)""".stripMargin
    }
    s"""WITH $knnAssignedBody,
      |${knnAdjCte("knn_all", "assigned")},
      |mut AS MATERIALIZED (
      |  SELECT f.src, f.nbr FROM knn_all f
      |  JOIN knn_all r ON f.src = r.nbr AND f.nbr = r.src),
      |deg0 AS (SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS deg0
      |  FROM mut GROUP BY src),
      |nodes0 AS (SELECT DISTINCT src AS vec_id FROM mut),
      |${(1 to ExtQueries.KcoreRounds).map(round).mkString(",\n")}
      |SELECT e.vec_id, COALESCE(d.deg0, 0) AS deg0,
      |  CAST(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core
      |FROM (SELECT vec_id FROM embeddings) e
      |LEFT JOIN deg0 d USING (vec_id)
      |LEFT JOIN a${ExtQueries.KcoreRounds} a USING (vec_id)
      |ORDER BY vec_id""".stripMargin
  }

  /** `e_bloom_prune` — bloom-filter data skipping vs the composite
    * min-max hull, per (probe, file). Bits via the shared md5 hash64
    * device over the canonical "tag:uid:day" string. Mirrors
    * `ExtQueries.bloomPrune`. */
  private lazy val bloomPruneSql: String = {
    val m = ExtQueries.BloomBits
    val fr = ExtQueries.ScanPruneFileRows
    val probes = ExtQueries.BloomProbes
      .map { case (u, d) => s"($u, $d)" }.mkString(", ")
    def bbit(tag: String, uid: String, day: String): String =
      s"CAST('0x'||substr(md5('$tag'||CAST($uid AS VARCHAR)||':'||" +
        s"CAST($day AS VARCHAR)),1,15) AS BIGINT) % $m"
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT event_id // $fr AS file_id, user_id % 65536 AS uid16,
      |    (epoch_us(ts) // 86400000000) % 65536 AS day16,
      |    (user_id % 65536) * 100000 + (epoch_us(ts) // 86400000000) % 65536 AS ckey
      |  FROM events),
      |stats AS (SELECT file_id, min(ckey) AS ck_min, max(ckey) AS ck_max
      |  FROM rows_ GROUP BY file_id),
      |bits AS MATERIALIZED (
      |  SELECT DISTINCT file_id, bit FROM (
      |    SELECT file_id, ${bbit("bp1:", "uid16", "day16")} AS bit FROM rows_
      |    UNION ALL
      |    SELECT file_id, ${bbit("bp2:", "uid16", "day16")} FROM rows_)),
      |probes AS (SELECT p_uid, p_day,
      |    p_uid * 100000 + p_day AS p_ckey,
      |    ${bbit("bp1:", "p_uid", "p_day")} AS pb1,
      |    ${bbit("bp2:", "p_uid", "p_day")} AS pb2
      |  FROM (SELECT CAST(c1 AS BIGINT) AS p_uid, CAST(c2 AS BIGINT) AS p_day
      |    FROM (VALUES $probes) v(c1, c2))),
      |kept AS (SELECT DISTINCT b1.file_id, p.p_uid, p.p_day
      |  FROM probes p
      |  JOIN bits b1 ON b1.bit = p.pb1
      |  JOIN bits b2 ON b2.bit = p.pb2 AND b2.file_id = b1.file_id),
      |truth AS (SELECT r.file_id, p.p_uid, p.p_day,
      |    CAST(count(*) AS BIGINT) AS n_match
      |  FROM rows_ r JOIN probes p
      |    ON r.uid16 = p.p_uid AND r.day16 = p.p_day
      |  GROUP BY 1, 2, 3)
      |SELECT p.p_uid, p.p_day, s.file_id,
      |  CAST(CASE WHEN p.p_ckey BETWEEN s.ck_min AND s.ck_max
      |    THEN 1 ELSE 0 END AS BIGINT) AS kept_minmax,
      |  CAST(CASE WHEN k.file_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS kept_bloom,
      |  COALESCE(t.n_match, 0) AS n_match
      |FROM stats s CROSS JOIN probes p
      |LEFT JOIN kept k ON k.file_id = s.file_id
      |  AND k.p_uid = p.p_uid AND k.p_day = p.p_day
      |LEFT JOIN truth t ON t.file_id = s.file_id
      |  AND t.p_uid = p.p_uid AND t.p_day = p.p_day
      |ORDER BY p.p_uid, p.p_day, s.file_id""".stripMargin
  }

  /** `e_nb_threshold` — selective-prediction sweep over the composed
    * `e_nb_classify` predictions: integer accept test
    * n_win·10 ≥ t·n_votes, one row per threshold, NULL selective
    * accuracy on empty cutoffs. Mirrors `ExtQueries.nbThreshold`. */
  private lazy val nbThresholdSql: String = {
    val steps = ExtQueries.NbThresholdSteps
    s"""WITH preds AS MATERIALIZED (
      |  SELECT correct, n_win, n_votes FROM ($nbClassifySql) p),
      |thr AS (SELECT range AS t FROM range(0, $steps)),
      |acc AS (SELECT t, CAST(count(*) AS BIGINT) AS n_accepted,
      |    CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_acc
      |  FROM preds JOIN thr ON n_win * $steps >= t * n_votes
      |  GROUP BY t),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM preds)
      |SELECT thr.t, tot.n_docs,
      |  COALESCE(acc.n_accepted, 0) AS n_accepted,
      |  COALESCE(acc.n_correct_acc, 0) AS n_correct_acc,
      |  CAST(COALESCE(acc.n_accepted, 0) AS DOUBLE) / CAST(tot.n_docs AS DOUBLE)
      |    AS coverage,
      |  CASE WHEN COALESCE(acc.n_accepted, 0) = 0 THEN NULL
      |    ELSE CAST(acc.n_correct_acc AS DOUBLE) / CAST(acc.n_accepted AS DOUBLE)
      |  END AS sel_accuracy
      |FROM thr CROSS JOIN tot LEFT JOIN acc ON acc.t = thr.t
      |ORDER BY thr.t""".stripMargin
  }

  /** `e_join_estimate` — the Selinger estimator vs exact join counts on
    * three pinned pairs. Mirrors `ExtQueries.joinEstimate`. */
  private lazy val joinEstimateSql: String = {
    def audit(name: String, lt: String, lk: String, rt: String,
        rk: String): String =
      s"""SELECT '$name' AS pair,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $lt) AS n_left,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $rt) AS n_right,
        |  (SELECT CAST(count(DISTINCT $lk) AS BIGINT) FROM $lt) AS ndv_left,
        |  (SELECT CAST(count(DISTINCT $rk) AS BIGINT) FROM $rt) AS ndv_right,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $lt) *
        |    (SELECT CAST(count(*) AS BIGINT) FROM $rt) //
        |    greatest((SELECT CAST(count(DISTINCT $lk) AS BIGINT) FROM $lt),
        |      (SELECT CAST(count(DISTINCT $rk) AS BIGINT) FROM $rt)) AS n_est,
        |  (SELECT CAST(count(*) AS BIGINT)
        |    FROM $lt l JOIN $rt r ON l.$lk = r.$rk) AS n_actual""".stripMargin
    s"""SELECT pair, n_left, n_right, ndv_left, ndv_right, n_est, n_actual,
      |  CAST(n_est AS DOUBLE) / CAST(n_actual AS DOUBLE) AS err_ratio
      |FROM (
      |${audit("orders_customer", "orders", "o_custkey", "customer", "c_custkey")}
      |UNION ALL
      |${audit("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
      |UNION ALL
      |${audit("documents_lang_self", "documents", "lang", "documents", "lang")}
      |) u ORDER BY pair""".stripMargin
  }

  /** `e_join_estimate_hist` — the histogram-corrected estimator beside
    * Selinger on the same three pairs: Σ_k c_A(k)·c_B(k) from the two
    * sides' value-frequency tables (the `e_histogram`/`e_table_stats`
    * device carried into join costing), exact by the group identity,
    * with the real join still paid for `n_actual`. Mirrors
    * `ExtQueries.joinEstimateHist`. */
  private lazy val joinEstimateHistSql: String = {
    def audit(name: String, lt: String, lk: String, rt: String,
        rk: String): String =
      s"""SELECT '$name' AS pair,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $lt) AS n_left,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $rt) AS n_right,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $lt) *
        |    (SELECT CAST(count(*) AS BIGINT) FROM $rt) //
        |    greatest((SELECT CAST(count(DISTINCT $lk) AS BIGINT) FROM $lt),
        |      (SELECT CAST(count(DISTINCT $rk) AS BIGINT) FROM $rt))
        |    AS n_est_selinger,
        |  (SELECT CAST(COALESCE(sum(a.ca * b.cb), 0) AS BIGINT)
        |    FROM (SELECT $lk AS k, CAST(count(*) AS BIGINT) AS ca
        |      FROM $lt GROUP BY 1) a
        |    JOIN (SELECT $rk AS k, CAST(count(*) AS BIGINT) AS cb
        |      FROM $rt GROUP BY 1) b USING (k)) AS n_est_hist,
        |  (SELECT CAST(count(*) AS BIGINT)
        |    FROM $lt l JOIN $rt r ON l.$lk = r.$rk) AS n_actual""".stripMargin
    s"""SELECT pair, n_left, n_right, n_est_selinger, n_est_hist, n_actual,
      |  CAST(n_est_selinger AS DOUBLE) / CAST(n_actual AS DOUBLE) AS err_selinger,
      |  CAST(n_est_hist AS DOUBLE) / CAST(n_actual AS DOUBLE) AS err_hist
      |FROM (
      |${audit("orders_customer", "orders", "o_custkey", "customer", "c_custkey")}
      |UNION ALL
      |${audit("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
      |UNION ALL
      |${audit("documents_lang_self", "documents", "lang", "documents", "lang")}
      |) u ORDER BY pair""".stripMargin
  }

  /** `e_serve_drift` — per-query overlap of the seed IVF serve and the
    * trained one: COMPOSES both graded SQL texts, inner-joins on
    * (qid, cid). Mirrors `ExtQueries.serveDrift`. */
  private lazy val serveDriftSql: String =
    s"""WITH seed AS MATERIALIZED (
      |  SELECT qid, cid FROM (${baseSql("e_cosine_topk_ivf")}) s),
      |trained AS MATERIALIZED (SELECT qid, cid FROM ($ivfTrainedSql) t),
      |ov AS (SELECT s.qid, CAST(count(*) AS BIGINT) AS n_overlap
      |  FROM seed s JOIN trained t ON s.qid = t.qid AND s.cid = t.cid
      |  GROUP BY s.qid),
      |ns AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_seed FROM seed GROUP BY qid),
      |nt AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_trained FROM trained GROUP BY qid)
      |SELECT ns.qid, ns.n_seed, nt.n_trained,
      |  COALESCE(ov.n_overlap, 0) AS n_overlap,
      |  CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / 10.0 AS overlap_at_10
      |FROM ns JOIN nt USING (qid) LEFT JOIN ov ON ov.qid = ns.qid
      |ORDER BY qid""".stripMargin

  /** `e_table_stats` — ANALYZE-style per-column profile: typed min/max
    * rendered as strings, exact NDV via the two-level (column, value)
    * aggregate. Mirrors `ExtQueries.tableStats`. */
  private lazy val tableStatsSql: String = {
    val cols = ExtQueries.TableStatsCols
    val pv = cols.map(c =>
      s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM documents")
      .mkString("\n  UNION ALL ")
    val mm = cols.map(c =>
      s"SELECT '$c' AS col_name, CAST(min($c) AS VARCHAR) AS min_val, " +
        s"CAST(max($c) AS VARCHAR) AS max_val FROM documents")
      .mkString("\n  UNION ALL ")
    s"""WITH pv AS ($pv),
      |cnt AS (SELECT col_name, v, count(*) AS n FROM pv GROUP BY 1, 2),
      |d AS (SELECT col_name, CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN v IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_nulls,
      |  CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct
      |  FROM cnt GROUP BY 1),
      |mm AS ($mm)
      |SELECT d.col_name, d.n_rows, d.n_nulls, d.n_distinct,
      |  mm.min_val, mm.max_val
      |FROM d JOIN mm USING (col_name)
      |ORDER BY col_name""".stripMargin
  }

  /** `e_silhouette` — COMPOSES the `e_kmeans_train` chain (the SAME final
    * centroids and `asg{K+1}` assignment `e_ivf_trained` serves from) and
    * computes the pairwise silhouette over the pinned sample: fixed-point
    * pair distances, exact int64 sums, two correctly-rounded divides per
    * mean, sklearn's s = 0 singleton convention. Mirrors
    * `ExtQueries.silhouette`. */
  private lazy val silhouetteSql: String = {
    val K = ExtQueries.KmeansIters
    s"""WITH ${kmeansChainCtes(K)},
      |${centsFromUpdCte(K)},
      |${assignCte(K + 1)},
      |smp AS (SELECT vec_id, e, nrm, cell FROM asg${K + 1}
      |  WHERE vec_id < ${ExtQueries.SilhouetteSample}),
      |pair AS (SELECT a.vec_id AS i, a.cell AS ci, b.cell AS cj,
      |  CAST(floor((1.0 - list_reduce(list_transform(list_zip(a.e, b.e),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |    / (a.nrm * b.nrm)) * 1000000000000.0) AS BIGINT) AS dfp
      |  FROM smp a, smp b WHERE a.vec_id <> b.vec_id),
      |agm AS (SELECT i, ci, cj, count(*) AS n,
      |  CAST(CAST(sum(dfp) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    / 1000000000000.0 AS m
      |  FROM pair GROUP BY 1, 2, 3),
      |own AS (SELECT i, n AS n_own, m AS a FROM agm WHERE cj = ci),
      |oth AS (SELECT i, min(m) AS b FROM agm WHERE cj <> ci GROUP BY i)
      |SELECT smp.vec_id, smp.cell AS cluster,
      |  COALESCE(own.n_own, 0) AS n_own, own.a AS a, oth.b AS b,
      |  CASE WHEN own.a IS NULL OR oth.b IS NULL
      |      OR greatest(own.a, oth.b) <= 0 THEN 0.0
      |    ELSE (oth.b - own.a) / greatest(own.a, oth.b) END AS s
      |FROM smp LEFT JOIN own ON smp.vec_id = own.i
      |LEFT JOIN oth ON smp.vec_id = oth.i
      |ORDER BY smp.vec_id""".stripMargin
  }

  /** `e_split_contamination` — COMPOSES the graded `e_split` and
    * `e_decontaminate` SQL texts (same device as `e_ann_recall`), so the
    * audit cannot drift from the split/contamination definitions. */
  private lazy val splitContaminationSql: String =
    s"""WITH sp AS (SELECT doc_id, split FROM (${baseSql("e_split")}) s
      |  WHERE doc_id >= ${ExtQueries.DecontamBenchIds}),
      |con AS (SELECT doc_id FROM (${baseSql("e_decontaminate")}) d)
      |SELECT sp.split, count(*) AS n_docs,
      |  CAST(count(con.doc_id) AS BIGINT) AS n_contaminated,
      |  CAST(count(con.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS contamination_rate
      |FROM sp LEFT JOIN con ON sp.doc_id = con.doc_id
      |GROUP BY sp.split ORDER BY sp.split""".stripMargin

  /** `e_pagerank` — COMPOSES the graded `e_knn_graph` SQL text as its edge
    * list (the `e_ann_recall` device), then unrolls the integer-exact
    * power iteration: fixed-point masses, damping as `*85 // 100`, integer
    * division by out-degree. All operands are non-negative, where DuckDB's
    * floor `//` and Spark's truncating `div` agree — the whole recurrence
    * is exact int64 on both engines. Mirrors `ExtQueries.pageRank`. */
  private lazy val pageRankSql: String = {
    val S = ExtQueries.PrScale
    val rounds = (1 to ExtQueries.PageRankIters).map { t =>
      s"""c$t AS (SELECT e.nbr AS vec_id,
        |  CAST(SUM(((p.mass * 85) // 100) // e.deg) AS BIGINT) AS inflow
        |  FROM edges e JOIN pr${t - 1} p ON e.src = p.vec_id GROUP BY e.nbr),
        |pr$t AS (SELECT em.vec_id,
        |  (($S * 15) // 100) // nn.n + COALESCE(c$t.inflow, 0) AS mass
        |  FROM embeddings em CROSS JOIN nn
        |  LEFT JOIN c$t ON em.vec_id = c$t.vec_id)""".stripMargin
    }.mkString(",\n")
    // `eg`/`edges` MATERIALIZED (the labelPropSql note): eg is probed by
    // the degree count and the join, edges by every power-iteration round —
    // plain CTEs re-inline the composed knn chain per reference.
    s"""WITH eg AS MATERIALIZED (SELECT src, nbr FROM (${baseSql("e_knn_graph")}) g),
      |deg AS (SELECT src, count(*) AS deg FROM eg GROUP BY src),
      |edges AS MATERIALIZED (SELECT eg.src, eg.nbr, deg.deg FROM eg JOIN deg USING (src)),
      |nn AS (SELECT count(*) AS n FROM embeddings),
      |pr0 AS (SELECT vec_id, $S // nn.n AS mass FROM embeddings CROSS JOIN nn),
      |$rounds
      |SELECT vec_id, mass, CAST(mass AS DOUBLE) / $S.0 AS pr
      |FROM pr${ExtQueries.PageRankIters} ORDER BY vec_id""".stripMargin
  }

  /** `e_label_prop` — COMPOSES the graded `e_knn_graph` SQL text as its
    * edge list (the `pageRankSql` device), symmetrizes it, then unrolls the
    * synchronous majority-vote rounds as chained CTEs. The deterministic
    * argmax mirrors the operator's two-aggregate form: max count per
    * vertex, then MIN label at that count. Mirrors
    * `graft.operators.LabelPropagation` bound as `ExtQueries.labelProp`. */
  private lazy val labelPropSql: String = {
    // MATERIALIZED on every multi-referenced CTE: DuckDB INLINES plain CTE
    // references, so an unrolled round chain re-expands its predecessor
    // (and the composed knn subquery) once per reference — exponential in
    // rounds. Materializing pins each frame to one evaluation (measured
    // 4.2 s → 0.5 s on this oracle alone at sf0.001; the composing
    // e_modularity/e_datasheet oracles inherit the fix).
    val rounds = (1 to ExtQueries.LabelPropIters).map { r =>
      s"""v$r AS MATERIALIZED (SELECT e.src, l.label AS nlab, count(*) AS cnt
        |  FROM ed e JOIN lab${r - 1} l ON e.dst = l.id
        |  WHERE l.label IS NOT NULL GROUP BY e.src, l.label),
        |m$r AS (SELECT src, max(cnt) AS mcnt FROM v$r GROUP BY src),
        |b$r AS (SELECT v.src, min(v.nlab) AS maj
        |  FROM v$r v JOIN m$r m ON v.src = m.src AND v.cnt = m.mcnt
        |  GROUP BY v.src),
        |lab$r AS MATERIALIZED (SELECT l.id,
        |  CASE WHEN l.is_seed THEN l.label ELSE COALESCE(b.maj, l.label) END AS label,
        |  l.is_seed
        |  FROM lab${r - 1} l LEFT JOIN b$r b ON l.id = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH kg AS MATERIALIZED (SELECT src, nbr FROM (${baseSql("e_knn_graph")}) g),
      |ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      |  SELECT src, nbr AS dst FROM kg
      |  UNION ALL SELECT nbr AS src, src AS dst FROM kg)),
      |lab0 AS (SELECT vec_id AS id,
      |  CASE WHEN vec_id < ${ExtQueries.LabelSeedMax} THEN label END AS label,
      |  vec_id < ${ExtQueries.LabelSeedMax} AS is_seed
      |  FROM embeddings),
      |$rounds
      |SELECT id AS vec_id, label, is_seed FROM lab${ExtQueries.LabelPropIters}
      |ORDER BY vec_id""".stripMargin
  }

  /** `e_importance_sample` — COMPOSES the graded `e_bigram_lm` SQL text as
    * its score, then applies the exact-integer cross-multiplied acceptance
    * (u·max < p_fp·2²⁰ — no float division anywhere). Mirrors
    * `ExtQueries.importanceSample`. */
  private lazy val importanceSampleSql: String =
    s"""WITH b AS (SELECT doc_id, n_bigrams, p_fp
      |    FROM (${baseSql("e_bigram_lm")}) t),
      |mx AS (SELECT max(p_fp) AS m FROM b),
      |u AS (SELECT doc_id, n_bigrams, p_fp,
      |  CAST('0x'||substr(md5('imp:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
      |    % 1048576 AS u
      |  FROM b)
      |SELECT u.doc_id, u.n_bigrams, u.p_fp, u.u
      |FROM u, mx WHERE u.u * mx.m < u.p_fp * 1048576
      |ORDER BY u.doc_id""".stripMargin

  /** `e_pref_pairs` — COMPOSES the graded `e_bigram_lm` SQL text as the
    * quality scalar, then per source picks the extremes under the pinned
    * (score, doc_id) orders via ranking windows. Mirrors
    * `ExtQueries.prefPairs`. */
  private lazy val prefPairsSql: String =
    s"""WITH b AS MATERIALIZED (SELECT doc_id, avg_prob
      |    FROM (${baseSql("e_bigram_lm")}) t WHERE n_bigrams > 0),
      |s AS MATERIALIZED (SELECT d.source, b.doc_id, b.avg_prob
      |  FROM b JOIN documents d USING (doc_id)),
      |ch AS (SELECT source, doc_id AS chosen_id, avg_prob AS chosen_score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY source
      |      ORDER BY avg_prob DESC, doc_id ASC) AS rn FROM s) r
      |  WHERE rn = 1),
      |rj AS (SELECT source, doc_id AS rejected_id, avg_prob AS rejected_score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY source
      |      ORDER BY avg_prob ASC, doc_id ASC) AS rn FROM s) r
      |  WHERE rn = 1)
      |SELECT ch.source, ch.chosen_id, ch.chosen_score,
      |  rj.rejected_id, rj.rejected_score,
      |  ch.chosen_score - rj.rejected_score AS margin
      |FROM ch JOIN rj USING (source)
      |WHERE ch.chosen_id <> rj.rejected_id
      |ORDER BY ch.source""".stripMargin

  /** The [[ExtQueries.BpeTrainRounds]]-round BPE chain as CTE text
    * (vocab → s0 → p/b/s per round) — shared by `e_bpe_train` (reads every
    * round's `b` winner) and `e_bpe_encode` (reads the final `s` state), so
    * the encoder cannot serve a drifted copy of the trainer's rules. A
    * round whose `b` is empty (no adjacent pair left) carries its
    * predecessor state forward unchanged, so an exhausted vocabulary
    * serves its last state, as the Spark side does. */
  private lazy val bpeChainCtes: String = {
    // s/b MATERIALIZED (the labelPropSql note): each round references its
    // predecessor state twice (pair count + merge apply) and its best
    // merge twice (apply + the train report's union) — plain CTEs double
    // the inlined chain per round.
    def round(r: Int): String =
      s"""p$r AS (
        |  SELECT syms[i] AS lhs, syms[i+1] AS rhs, sum(wc) AS n
        |  FROM (SELECT wc, syms, unnest(range(1, len(syms))) AS i FROM s${r - 1})
        |  GROUP BY 1, 2),
        |b$r AS MATERIALIZED (SELECT lhs, rhs, n FROM p$r
        |  ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1),
        |s$r AS MATERIALIZED (
        |  SELECT w, wc,
        |    CASE WHEN b.lhs IS NULL THEN syms ELSE
        |    list_filter(string_split(
        |      replace(' ' || array_to_string(syms, '  ') || ' ',
        |              ' ' || b.lhs || '  ' || b.rhs || ' ',
        |              ' ' || b.lhs || b.rhs || ' '), ' '), x -> x <> '') END AS syms
        |  FROM s${r - 1} LEFT JOIN b$r b ON true)""".stripMargin
    s"""vocab AS (
      |  SELECT w, count(*) AS wc FROM (
      |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      |    FROM documents) GROUP BY w),
      |s0 AS MATERIALIZED (SELECT w, wc,
      |  list_filter(string_split(w, ''), x -> x <> '') AS syms FROM vocab),
      |${(1 to ExtQueries.BpeTrainRounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** `e_bpe_train` — the [[ExtQueries.BpeTrainRounds]] chained BPE merge
    * rounds UNROLLED as generated CTE blocks (the `kmeansChainCtes` /
    * `beamSearchSql` device). The merge application is the SAME
    * double-space string-replace the Spark side runs (non-overlapping
    * left-to-right `replace`, identical in DuckDB and the JVM), so the
    * chained states are bit-identical by construction; ties pinned
    * (n DESC, lhs ASC, rhs ASC). */
  private lazy val bpeTrainSql: String =
    s"""WITH $bpeChainCtes
      |SELECT iter, lhs, rhs, CAST(n AS BIGINT) AS n FROM (
      |${(1 to ExtQueries.BpeTrainRounds).map(r =>
          s"  SELECT CAST($r AS INT) AS iter, lhs, rhs, n FROM b$r")
          .mkString(" UNION ALL\n")})
      |ORDER BY iter""".stripMargin

  /** `e_bpe_encode` — COMPOSES the chain's FINAL symbolized vocabulary
    * (`s{rounds}`), re-tokenizing the corpus against it. */
  private lazy val bpeEncodeSql: String =
    s"""WITH $bpeChainCtes,
      |enc AS (SELECT w, len(syms) AS n_syms
      |  FROM s${ExtQueries.BpeTrainRounds}),
      |dt AS (SELECT doc_id,
      |  unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
      |SELECT dt.doc_id,
      |  count(*) AS n_words,
      |  CAST(sum(e.n_syms) AS BIGINT) AS n_bpe_tokens,
      |  CAST(sum(e.n_syms) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bpe_per_word
      |FROM dt JOIN enc e USING (w)
      |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin

  /** `e_vocab_coverage` — COMPOSES the chain's FINAL symbolized
    * vocabulary (the `e_bpe_encode` device): per-word merge/fallback
    * breakdown on the vocabulary, aggregated over each language's token
    * stream. */
  private lazy val vocabCoverageSql: String =
    s"""WITH $bpeChainCtes,
      |ws AS (SELECT w, len(syms) AS n_syms,
      |    len(list_filter(syms, x -> length(x) > 1)) AS w_merged,
      |    list_sum(list_transform(syms,
      |      x -> CASE WHEN length(x) > 1 THEN length(x) ELSE 0 END)) AS w_chars_merged,
      |    length(w) AS w_chars
      |  FROM s${ExtQueries.BpeTrainRounds}),
      |dt AS (SELECT d.lang,
      |  unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS w FROM documents d)
      |SELECT dt.lang,
      |  CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(ws.n_syms) AS BIGINT) AS n_tokens,
      |  CAST(sum(ws.n_syms - ws.w_merged) AS BIGINT) AS n_fallback,
      |  CAST(sum(ws.w_merged) AS BIGINT) AS n_merged,
      |  CAST(sum(ws.w_chars_merged) AS BIGINT) AS chars_covered,
      |  CAST(sum(ws.w_chars) AS BIGINT) AS n_chars,
      |  CAST(sum(ws.n_syms - ws.w_merged) AS DOUBLE)
      |    / CAST(sum(ws.n_syms) AS DOUBLE) AS fallback_rate,
      |  CAST(sum(ws.w_chars_merged) AS DOUBLE)
      |    / CAST(sum(ws.w_chars) AS DOUBLE) AS char_coverage
      |FROM dt JOIN ws USING (w)
      |GROUP BY dt.lang ORDER BY dt.lang""".stripMargin

  /** `e_soft_dedup` — COMPOSES the graded `e_dup_clusters` text (the
    * `e_canonical_pick` device): the multiplicity is the cluster operator's
    * own cluster_size, left-joined onto the variant-augmented id universe;
    * singletons default to 1 and the weight is one IEEE divide. */
  private lazy val softDedupSql: String =
    s"""WITH all_ids AS (
      |  SELECT doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${ExtQueries.VariantIdOffset} AS doc_id FROM documents),
      |cl AS (SELECT doc_id, cluster_size
      |    FROM (${baseSql("e_dup_clusters")}) t)
      |SELECT a.doc_id,
      |  CAST(COALESCE(cl.cluster_size, 1) AS BIGINT) AS n_dups,
      |  CAST(1 AS DOUBLE) / CAST(COALESCE(cl.cluster_size, 1) AS DOUBLE) AS weight
      |FROM all_ids a LEFT JOIN cl ON a.doc_id = cl.doc_id
      |ORDER BY a.doc_id""".stripMargin

  /** `e_canonical_pick` — COMPOSES the graded `e_dup_clusters` text (the
    * cluster assignment) with the shared `qualityCtes` battery (the rank),
    * then picks per-cluster best under (keep DESC, n_tokens DESC, doc_id
    * ASC). Mirrors `ExtQueries.canonicalPick`. */
  private lazy val canonicalPickSql: String =
    s"""WITH dc AS (SELECT doc_id, cluster_id
      |    FROM (${baseSql("e_dup_clusters")}) t),
      |dv AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, lang, source,
      |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[6:], ' ') AS text
      |  FROM documents),
      |${qualityCtes("dv")},
      |j AS (SELECT dc.doc_id, dc.cluster_id,
      |  CASE WHEN qr.keep THEN 1 ELSE 0 END AS k, qr.n_tokens
      |  FROM dc JOIN qr USING (doc_id)),
      |r AS (SELECT cluster_id, doc_id,
      |  row_number() OVER (PARTITION BY cluster_id
      |    ORDER BY k DESC, n_tokens DESC, doc_id ASC) AS rk FROM j),
      |c AS (SELECT cluster_id, doc_id AS canonical_id FROM r WHERE rk = 1)
      |SELECT j.doc_id, j.cluster_id, c.canonical_id,
      |  j.doc_id = c.canonical_id AS is_canonical
      |FROM j JOIN c USING (cluster_id) ORDER BY j.doc_id""".stripMargin

  /** `e_lm_buckets` — COMPOSES the graded `e_bigram_lm` SQL as the score,
    * then per-language exact ⌈q·n⌉ quartile thresholds (the
    * `e_quality_buckets` rank-selection shape) over the int64 `p_fp`.
    * Mirrors `ExtQueries.lmBuckets`. */
  private lazy val lmBucketsSql: String =
    s"""WITH b AS (SELECT doc_id, p_fp FROM (${baseSql("e_bigram_lm")}) t),
      |s AS (SELECT b.doc_id, d.lang, b.p_fp
      |  FROM b JOIN documents d USING (doc_id)),
      |r AS (SELECT doc_id, lang, p_fp,
      |  row_number() OVER (PARTITION BY lang ORDER BY p_fp ASC, doc_id ASC) AS rn,
      |  count(*) OVER (PARTITION BY lang) AS n FROM s),
      |thr AS (SELECT lang,
      |  max(CASE WHEN rn = ceil(n * 0.25) THEN p_fp END) AS t25,
      |  max(CASE WHEN rn = ceil(n * 0.5) THEN p_fp END) AS t50,
      |  max(CASE WHEN rn = ceil(n * 0.75) THEN p_fp END) AS t75
      |  FROM r GROUP BY lang)
      |SELECT s.doc_id, s.lang, s.p_fp,
      |  CAST(1 + CAST(s.p_fp > t.t25 AS INT) + CAST(s.p_fp > t.t50 AS INT)
      |    + CAST(s.p_fp > t.t75 AS INT) AS BIGINT) AS bucket
      |FROM s JOIN thr t USING (lang)
      |ORDER BY s.doc_id""".stripMargin

  // ---- NB classifier chain -------------------------------------------------

  /** Shared NB-chain CTEs — `tk` (token instances with their e_split fate,
    * composing `baseSql("e_split")` so the fate is one definition), the
    * train-side count tables, the exact fixed-point likelihood grid, and
    * the argmax `votes` table plus the 1-row unseen-token default `defv`.
    * The SQL twin of `ExtQueries.nbVotes`. */
  private lazy val nbCtes: String =
    s"""sp AS (SELECT doc_id, split FROM (${baseSql("e_split")}) s0),
      |tk AS (SELECT d.doc_id, d.lang, sp.split,
      |    unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS tok
      |  FROM documents d JOIN sp USING (doc_id)),
      |tr AS (SELECT * FROM tk WHERE split = 'train'),
      |cnts AS (SELECT tok, lang, count(*) AS c FROM tr GROUP BY tok, lang),
      |tots AS (SELECT lang, count(*) AS n_c FROM tr GROUP BY lang),
      |voc AS (SELECT count(DISTINCT tok) AS v FROM tr),
      |grid AS (SELECT t.tok, l.lang, coalesce(c.c, 0) AS c, l.n_c, v.v,
      |    CAST(floor((coalesce(c.c, 0) + 1) / CAST(l.n_c + v.v AS DOUBLE)
      |      * ${ExtQueries.NbFpScale} + 0.5) AS BIGINT) AS fp
      |  FROM (SELECT DISTINCT tok FROM cnts) t
      |  CROSS JOIN tots l CROSS JOIN voc v
      |  LEFT JOIN cnts c ON c.tok = t.tok AND c.lang = l.lang),
      |best AS (SELECT tok, max(fp) AS bfp FROM grid GROUP BY tok),
      |votes AS (SELECT g.tok, min(g.lang) AS vote FROM grid g
      |  JOIN best b ON g.tok = b.tok AND g.fp = b.bfp GROUP BY g.tok),
      |defg AS (SELECT l.lang, CAST(floor(1.0 / CAST(l.n_c + v.v AS DOUBLE)
      |    * ${ExtQueries.NbFpScale} + 0.5) AS BIGINT) AS fp
      |  FROM tots l CROSS JOIN voc v),
      |defv AS (SELECT min(lang) AS dv FROM defg
      |  WHERE fp = (SELECT max(fp) FROM defg))""".stripMargin

  private lazy val nbTrainSql: String =
    s"""WITH $nbCtes,
      |stats AS (SELECT lang, count(DISTINCT doc_id) AS n_docs,
      |    count(*) AS n_tokens, count(DISTINCT tok) AS n_vocab
      |  FROM tr GROUP BY lang),
      |nv AS (SELECT vote AS lang, count(*) AS n_vote_tokens
      |  FROM votes GROUP BY vote)
      |SELECT s.lang, s.n_docs, s.n_tokens, s.n_vocab,
      |  coalesce(nv.n_vote_tokens, 0) AS n_vote_tokens
      |FROM stats s LEFT JOIN nv USING (lang) ORDER BY s.lang""".stripMargin

  private lazy val nbClassifySql: String =
    s"""WITH $nbCtes,
      |te AS (SELECT * FROM tk WHERE split = 'test'),
      |voted AS (SELECT te.doc_id, te.lang,
      |    coalesce(v.vote, (SELECT dv FROM defv)) AS vote
      |  FROM te LEFT JOIN votes v USING (tok)),
      |pv AS (SELECT doc_id, lang, vote, count(*) AS n
      |  FROM voted GROUP BY doc_id, lang, vote),
      |rk AS (SELECT doc_id, lang, vote, n,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, vote ASC) AS rn,
      |    -- CAST: DuckDB window sums return HUGEINT (the q_sessionize lesson)
      |    CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_votes
      |  FROM pv)
      |SELECT doc_id, lang, vote AS pred, n AS n_win, n_votes,
      |  lang = vote AS correct
      |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Dataset datasheet — every number the corresponding graded operator's
    * own aggregate, all six SQL texts composed verbatim. */
  private lazy val datasheetSql: String =
    s"""SELECT * FROM (
      |SELECT 'corpus' AS section, 'n_docs' AS metric,
      |  CAST(count(*) AS BIGINT) AS v, CAST(NULL AS DOUBLE) AS v_dbl
      |  FROM (${baseSql("e_text_stats")}) t1
      |UNION ALL SELECT 'corpus', 'n_tokens', CAST(sum(n_tokens) AS BIGINT),
      |  CAST(NULL AS DOUBLE) FROM (${baseSql("e_text_stats")}) t2
      |UNION ALL SELECT 'corpus', 'n_chars', CAST(sum(n_chars) AS BIGINT),
      |  CAST(NULL AS DOUBLE) FROM (${baseSql("e_text_stats")}) t3
      |UNION ALL SELECT 'corpus', 'n_langs', CAST(count(DISTINCT lang) AS BIGINT),
      |  CAST(NULL AS DOUBLE) FROM (${baseSql("e_text_stats")}) t4
      |UNION ALL SELECT 'corpus', 'n_sources', CAST(count(*) AS BIGINT),
      |  CAST(NULL AS DOUBLE) FROM (${baseSql("e_domain_stats")}) t5
      |UNION ALL SELECT 'split', 'n_' || split, CAST(count(*) AS BIGINT),
      |  CAST(NULL AS DOUBLE) FROM (${baseSql("e_split")}) t6 GROUP BY split
      |UNION ALL SELECT 'quality', 'n_keep',
      |  CAST(count(*) FILTER (keep) AS BIGINT),
      |  CAST(count(*) FILTER (keep) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |  FROM (${baseSql("e_quality_filter")}) t7
      |UNION ALL SELECT 'dedup', 'n_near_dup_pairs', CAST(count(*) AS BIGINT),
      |  CAST(NULL AS DOUBLE) FROM (${baseSql("e_minhash_dedup")}) t8
      |UNION ALL SELECT 'dedup', 'n_contaminated_docs', CAST(count(*) AS BIGINT),
      |  CAST(NULL AS DOUBLE) FROM (${baseSql("e_decontaminate")}) t9
      |UNION ALL SELECT 'audit', 'modularity_q',
      |  CAST(2 * sum(d_sum) * sum(e_in) - sum(d_sum * d_sum) AS BIGINT),
      |  CAST(2 * sum(d_sum) * sum(e_in) - sum(d_sum * d_sum) AS DOUBLE)
      |    / (CAST(sum(d_sum) AS DOUBLE) * CAST(sum(d_sum) AS DOUBLE))
      |  FROM ($modularitySql) t10
      |UNION ALL SELECT 'audit', 'silhouette_mean',
      |  CAST(sum(CAST(floor(s * 1000000.0) AS BIGINT)) AS BIGINT),
      |  CAST(sum(CAST(floor(s * 1000000.0) AS BIGINT)) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE) * 1000000.0)
      |  FROM ($silhouetteSql) t11
      |UNION ALL SELECT 'audit', 'knn_edge_recall',
      |  CAST(sum(n_hit) AS BIGINT),
      |  CAST(sum(n_hit) AS DOUBLE) / CAST(sum(n_true) AS DOUBLE)
      |  FROM ($graphRecallSql) t12
      |UNION ALL SELECT 'audit', 'calibration_ece',
      |  CAST(sum(abs(n_correct * 1000000 - sum_conf_fp)) AS BIGINT),
      |  CAST(sum(abs(n_correct * 1000000 - sum_conf_fp)) AS DOUBLE)
      |    / (1000000.0 * CAST(sum(n_docs) AS DOUBLE))
      |  FROM ($calibrationSql) t13
      |) u ORDER BY section, metric""".stripMargin

  /** Curriculum schedule — the oracle states the SPEC (one global rank
    * over (bucket, salted hash, doc_id), composing the graded lm_buckets
    * SQL); the Spark side's two-level segment device must produce the
    * same integers. */
  private lazy val curriculumOrderSql: String =
    s"""WITH lb AS (SELECT doc_id, bucket FROM ($lmBucketsSql) t),
      |keyed AS (SELECT lb.doc_id, lb.bucket,
      |    CAST('0x'||substr(md5('${ExtQueries.CurriculumSalt}'||d.text),1,15) AS BIGINT) AS k
      |  FROM lb JOIN documents d USING (doc_id))
      |SELECT doc_id, bucket,
      |  CAST(row_number() OVER (ORDER BY bucket ASC, k ASC, doc_id ASC) AS BIGINT) AS pos
      |FROM keyed ORDER BY pos""".stripMargin

  /** Threshold sweep composed over the graded detector's OWN SQL text —
    * every test the exact integer cross-multiply, no float J anywhere. */
  private lazy val dedupSweepSql: String =
    s"""WITH p AS (SELECT doc_a, doc_b, n_inter, n_union
      |  FROM (${baseSql("e_minhash_dedup")}) m),
      |thr AS (SELECT CAST(unnest([${ExtQueries.SweepThresholds.mkString(", ")}]) AS BIGINT) AS t_pct),
      |kept AS (SELECT thr.t_pct, p.doc_a, p.doc_b FROM p, thr
      |  WHERE 100 * p.n_inter >= thr.t_pct * p.n_union),
      |np AS (SELECT t_pct, count(*) AS n_pairs FROM kept GROUP BY t_pct),
      |nd AS (SELECT t_pct, count(*) AS n_docs FROM (
      |    SELECT DISTINCT t_pct, id FROM (
      |      SELECT t_pct, doc_a AS id FROM kept
      |      UNION ALL SELECT t_pct, doc_b FROM kept) u) v
      |  GROUP BY t_pct)
      |SELECT thr.t_pct, coalesce(np.n_pairs, 0) AS n_pairs,
      |  coalesce(nd.n_docs, 0) AS n_docs
      |FROM thr LEFT JOIN np USING (t_pct) LEFT JOIN nd USING (t_pct)
      |ORDER BY t_pct""".stripMargin

  /** Embedding-sanity audit — exact integer moments over the fixed-point
    * quantized norm (the centroid-score device), outlier test via
    * cross-multiplied exact integers cast to double on both engines. */
  private lazy val embStatsSql: String =
    s"""WITH base AS (SELECT label,
      |    CAST(floor(sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (a, b) -> a + b))
      |      * ${ExtQueries.EmbNormScale} + 0.5) AS BIGINT) AS nfp
      |  FROM embeddings),
      |mom AS (SELECT label, count(*) AS n, CAST(sum(nfp) AS BIGINT) AS s1,
      |    CAST(sum(nfp * nfp) AS BIGINT) AS s2,
      |    count(*) FILTER (nfp = 0) AS n_zero
      |  FROM base GROUP BY label),
      |out AS (SELECT b.label, min(m.n) AS n_vecs, min(m.s1) AS s1,
      |    min(m.s2) AS s2, min(m.n_zero) AS n_zero,
      |    count(*) FILTER (
      |      CAST(b.nfp * m.n - m.s1 AS DOUBLE) * CAST(b.nfp * m.n - m.s1 AS DOUBLE)
      |        > 4.0 * CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)) AS n_outliers
      |  FROM base b JOIN mom m USING (label) GROUP BY b.label)
      |SELECT label, n_vecs, n_zero, n_outliers,
      |  CAST(s1 AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * ${ExtQueries.EmbNormScale})
      |    AS mean_norm,
      |  sqrt(CAST(n_vecs * s2 - s1 * s1 AS DOUBLE))
      |    / (CAST(n_vecs AS DOUBLE) * ${ExtQueries.EmbNormScale}) AS std_norm
      |FROM out ORDER BY label""".stripMargin

  /** Quality-gate bias audit composed over the graded filter's OWN SQL. */
  private lazy val filterBiasSql: String =
    s"""WITH q AS (SELECT lang, verdict FROM (${baseSql("e_quality_filter")}) t),
      |per AS (SELECT lang, verdict, count(*) AS n FROM q GROUP BY lang, verdict),
      |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM per GROUP BY lang)
      |SELECT per.lang, per.verdict, per.n, tot.n_lang,
      |  CAST(per.n AS DOUBLE) / CAST(tot.n_lang AS DOUBLE) AS share
      |FROM per JOIN tot USING (lang) ORDER BY per.lang, per.verdict""".stripMargin

  /** Packing-efficiency report composed over the graded packing's OWN SQL. */
  private lazy val packStatsSql: String =
    s"""WITH p AS (SELECT source, n_tokens, last_block
      |  FROM (${baseSql("e_seq_pack")}) t)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(max(last_block) + 1 AS BIGINT) AS n_blocks,
      |  CAST(sum(n_tokens) AS DOUBLE)
      |    / CAST((max(last_block) + 1) * ${ExtQueries.PackBlockTokens} AS DOUBLE)
      |    AS utilization
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** Per-language tokenizer-parity report composed over the graded
    * encoder's OWN SQL text. */
  private lazy val tokFertilitySql: String =
    s"""SELECT d.lang, count(*) AS n_docs,
      |  CAST(sum(e.n_words) AS BIGINT) AS n_words,
      |  CAST(sum(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
      |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
      |  CAST(sum(e.n_bpe_tokens) AS DOUBLE) / CAST(sum(e.n_words) AS DOUBLE)
      |    AS fertility,
      |  CAST(sum(d.n_chars) AS DOUBLE) / CAST(sum(e.n_bpe_tokens) AS DOUBLE)
      |    AS chars_per_token
      |FROM ($bpeEncodeSql) e JOIN documents d USING (doc_id)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Confusion matrix composed over the classifier's OWN SQL text. */
  private lazy val nbEvalSql: String =
    s"""SELECT lang, pred, count(*) AS n FROM ($nbClassifySql) c
      |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  /** `e_calibration` — COMPOSES `e_nb_classify`'s SQL text (the nbEval
    * device): integer bucket and fixed-point confidence, exact bin sums,
    * correctly-rounded divides. Mirrors `ExtQueries.calibration`. */
  private lazy val calibrationSql: String = {
    val b = ExtQueries.CalibrationBuckets
    s"""WITH c AS (SELECT correct, n_win, n_votes FROM ($nbClassifySql) p),
      |binned AS (SELECT
      |  least((n_win * $b) // n_votes, ${b - 1}) AS bucket,
      |  CASE WHEN correct THEN 1 ELSE 0 END AS corr,
      |  (n_win * 1000000) // n_votes AS conf_fp FROM c)
      |SELECT bucket, count(*) AS n_docs,
      |  CAST(sum(corr) AS BIGINT) AS n_correct,
      |  CAST(sum(conf_fp) AS BIGINT) AS sum_conf_fp,
      |  CAST(CAST(sum(corr) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS accuracy,
      |  CAST(CAST(sum(conf_fp) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    / 1000000.0 AS mean_conf,
      |  CAST(CAST(sum(corr) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    - CAST(CAST(sum(conf_fp) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    / 1000000.0 AS gap
      |FROM binned GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** `e_count_min` — the d×w cell grid, point estimates (min over rows)
    * and the exact recount, all integer; the d hash rows are generated
    * from [[ExtQueries.CmDepth]] so resizing the sketch re-derives the
    * oracle. Mirrors `ExtQueries.countMin`. */
  private lazy val countMinSql: String = {
    val w = ExtQueries.CmWidth
    def bucket(r: Int, src: String): String =
      s"CAST('0x'||substr(md5('cm$r:'||$src),1,15) AS BIGINT) % $w"
    val cellRows = (0 until ExtQueries.CmDepth).map(r =>
      s"SELECT $r AS r, ${bucket(r, "token")} AS b FROM tok").mkString("\n  UNION ALL ")
    val probeRows = (0 until ExtQueries.CmDepth).map(r =>
      s"SELECT token, $r AS r, ${bucket(r, "token")} AS b FROM probe")
      .mkString("\n  UNION ALL ")
    s"""WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      |  FROM documents),
      |cells AS (SELECT r, b, count(*) AS cnt FROM (
      |  $cellRows) GROUP BY r, b),
      |probe AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      |  FROM documents WHERE doc_id < ${ExtQueries.CmProbeDocs}),
      |pb AS (
      |  $probeRows),
      |est AS (SELECT p.token, min(c.cnt) AS est
      |  FROM pb p JOIN cells c USING (r, b) GROUP BY p.token),
      |ex AS (SELECT t.token, count(*) AS exact
      |  FROM tok t JOIN probe USING (token) GROUP BY t.token)
      |SELECT token, x.exact, e.est, e.est - x.exact AS overcount
      |FROM est e JOIN ex x USING (token) ORDER BY token""".stripMargin
  }

  /** `e_fim_split` — hash-fate selection, two uniform cuts, PSM
    * re-serialization via empty-tolerant list slicing (the `e_span_mask`
    * slice device). Sentinels interpolated from the shared
    * [[ExtQueries.FimPre]] family. Mirrors `ExtQueries.fimSplit`. */
  private lazy val fimSplitSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      |n AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tok),
      |c AS (SELECT doc_id, t, n,
      |  CAST('0x'||substr(md5('fim:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
      |    % ${ExtQueries.FimRate} = 0 AND n >= 2 AS fim,
      |  CAST('0x'||substr(md5('fim1:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
      |    % (n + 1) AS c1,
      |  CAST('0x'||substr(md5('fim2:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
      |    % (n + 1) AS c2
      |  FROM n),
      |s AS (SELECT doc_id, t, n, fim,
      |  CASE WHEN fim THEN least(c1, c2) ELSE n END AS lo,
      |  CASE WHEN fim THEN greatest(c1, c2) ELSE n END AS hi FROM c)
      |SELECT doc_id, n AS n_tokens, fim, lo, hi,
      |  CASE WHEN fim THEN array_to_string(
      |    ['${ExtQueries.FimPre}'] || t[1:CAST(lo AS INT)]
      |    || ['${ExtQueries.FimSuf}'] || t[CAST(hi + 1 AS INT):CAST(n AS INT)]
      |    || ['${ExtQueries.FimMid}'] || t[CAST(lo + 1 AS INT):CAST(hi AS INT)], ' ')
      |  ELSE array_to_string(t, ' ') END AS fim_text
      |FROM s ORDER BY doc_id""".stripMargin

  /** `e_novelty` — first-occurrence attribution over the shared
    * `shingleCtes` pipeline (min doc_id per shingle, the `e_chunk_dedup`
    * survivor rule at shingle granularity). Mirrors
    * `ExtQueries.novelty`. */
  private lazy val noveltySql: String =
    s"""WITH ${shingleCtes("documents")},
      |post AS (SELECT doc_id, CAST(len(ds) AS BIGINT) AS n_shingles,
      |  unnest(ds) AS s FROM sh),
      |fo AS (SELECT s, min(doc_id) AS first_doc FROM post GROUP BY s)
      |SELECT p.doc_id, p.n_shingles,
      |  CAST(sum(CASE WHEN fo.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(CAST(sum(CASE WHEN fo.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |      AS DOUBLE) / CAST(p.n_shingles AS DOUBLE) AS novelty_frac
      |FROM post p JOIN fo USING (s)
      |GROUP BY p.doc_id, p.n_shingles
      |ORDER BY p.doc_id""".stripMargin

  /** `e_hits` — COMPOSES the graded `e_knn_graph` SQL text as its edge
    * list (the `pageRankSql` device), then unrolls the
    * [[ExtQueries.HitsIters]] integer half-rounds: exact contribution
    * sums, L1 normalization as two floor divisions of non-negatives
    * (DuckDB `//` ≡ Spark `div` there). Mirrors
    * `graft.operators.Hits` bound as `ExtQueries.hits`. */
  private lazy val hitsSql: String = {
    val S = ExtQueries.HitsScale
    // MATERIALIZED per the labelPropSql note: eg is probed by every
    // half-round, each round's raw frame twice (total + join), each score
    // frame by the next half-round and the final select — plain CTEs
    // would re-inline the whole chain per reference (measured 41 s →
    // ~1 s at sf0.001).
    def half(out: String, in: String, from: String, to: String): String =
      s"""${out}r AS MATERIALIZED (SELECT e.$to AS id, CAST(sum(i.s) AS BIGINT) AS raw
        |  FROM eg e JOIN $in i ON e.$from = i.id GROUP BY e.$to),
        |${out}t AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // $S, 1) AS t
        |  FROM ${out}r),
        |$out AS MATERIALIZED (SELECT em.vec_id AS id, COALESCE(r.raw, 0) // tt.t AS s
        |  FROM embeddings em CROSS JOIN ${out}t tt
        |  LEFT JOIN ${out}r r ON em.vec_id = r.id)""".stripMargin
    val rounds = (1 to ExtQueries.HitsIters).map(t =>
      s"""${half(s"a$t", s"h${t - 1}", "src", "dst")},
        |${half(s"h$t", s"a$t", "dst", "src")}""".stripMargin).mkString(",\n")
    val last = ExtQueries.HitsIters
    s"""WITH eg AS MATERIALIZED (SELECT src, nbr AS dst FROM (${baseSql("e_knn_graph")}) g),
      |h0 AS (SELECT vec_id AS id, CAST($S AS BIGINT) AS s FROM embeddings),
      |$rounds
      |SELECT em.vec_id, a.s AS auth, h.s AS hub,
      |  CAST(a.s AS DOUBLE) / $S.0 AS auth_score,
      |  CAST(h.s AS DOUBLE) / $S.0 AS hub_score
      |FROM embeddings em
      |JOIN a$last a ON em.vec_id = a.id
      |JOIN h$last h ON em.vec_id = h.id
      |ORDER BY em.vec_id""".stripMargin
  }

  /** `e_rand_walk` — COMPOSES the e_knn_graph SQL text as its edge
    * substrate (the `e_ann_recall` device), then unrolls the WalkSteps hops
    * as chained CTEs with the same pinned universal-hash pick
    * arithmetic. */
  private lazy val randWalkSql: String = {
    val L = ExtQueries.WalkSteps
    def hop(t: Int): String =
      s"""s$t AS (SELECT c.walk_id, e.nbr AS node FROM s${t - 1} c JOIN e2 e
        |  ON c.node = e.src AND e.rank =
        |    (((${ExtQueries.WalkA} * (c.walk_id * ${L + 1} + $t)
        |       + ${ExtQueries.WalkB}) % ${P}) % e.deg) + 1)""".stripMargin
    val unions = (0 to L)
      .map(t => s"SELECT walk_id, CAST($t AS INT) AS step, node FROM s$t")
      .mkString("\n  UNION ALL ")
    s"""WITH knn AS MATERIALIZED (SELECT src, nbr, rank FROM (${baseSql("e_knn_graph")}) g),
      |deg AS (SELECT src, CAST(max(rank) AS INT) AS deg FROM knn GROUP BY src),
      |e2 AS MATERIALIZED (SELECT k.src, k.nbr, k.rank, d.deg
      |  FROM knn k JOIN deg d USING (src)),
      |s0 AS (SELECT vec_id AS walk_id, vec_id AS node FROM embeddings),
      |${(1 to L).map(hop).mkString(",\n")}
      |$unions
      |ORDER BY walk_id, step""".stripMargin
  }

  /** `e_walk_pairs` — COMPOSES the graded `e_rand_walk` SQL text as its
    * sequence substrate (the `randWalkSql` device one level up): the
    * skip-gram window self-join on walk_id, then the integer co-occurrence
    * count. Mirrors `ExtQueries.walkPairs`. */
  private lazy val walkPairsSql: String =
    s"""WITH w AS (SELECT walk_id, step, node FROM ($randWalkSql) t)
      |SELECT x.node AS node, y.node AS ctx,
      |  count(*) AS n_pairs
      |FROM w x JOIN w y
      |  ON x.walk_id = y.walk_id AND x.step <> y.step
      |  AND abs(x.step - y.step) <= ${ExtQueries.WalkPairWindow}
      |GROUP BY x.node, y.node ORDER BY node, ctx""".stripMargin

  /** `e_modularity` — COMPOSES the graded `e_label_prop` partition and the
    * `e_knn_graph` edge list (both SQL texts), canonicalizes undirected
    * edges as (least, greatest), then the exact integer modularity
    * decomposition with ONE final divide. Mirrors
    * `ExtQueries.modularity`. */
  private lazy val modularitySql: String =
    s"""WITH lpz AS MATERIALIZED (SELECT vec_id, label FROM ($labelPropSql) t
      |  WHERE label IS NOT NULL),
      |kg AS (SELECT least(src, nbr) AS src, greatest(src, nbr) AS dst
      |  FROM (${baseSql("e_knn_graph")}) g),
      |und AS (SELECT DISTINCT src, dst FROM kg),
      |lab AS MATERIALIZED (SELECT u.src, u.dst, a.label AS la, b.label AS lb
      |  FROM und u JOIN lpz a ON u.src = a.vec_id
      |  JOIN lpz b ON u.dst = b.vec_id),
      |mm AS (SELECT count(*) AS m FROM lab),
      |deg AS (SELECT id, label, count(*) AS deg FROM (
      |  SELECT src AS id, la AS label FROM lab
      |  UNION ALL SELECT dst AS id, lb AS label FROM lab)
      |  GROUP BY id, label),
      |ds AS (SELECT label, CAST(sum(deg) AS BIGINT) AS d_sum
      |  FROM deg GROUP BY label),
      |ein AS (SELECT la AS label, count(*) AS e_in FROM lab
      |  WHERE la = lb GROUP BY la),
      |nn AS (SELECT label, count(*) AS n_nodes FROM lpz GROUP BY label)
      |SELECT nn.label, nn.n_nodes,
      |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
      |  CAST(COALESCE(ds.d_sum, 0) AS BIGINT) AS d_sum,
      |  CAST(4 * mm.m * COALESCE(ein.e_in, 0)
      |       - COALESCE(ds.d_sum, 0) * COALESCE(ds.d_sum, 0) AS DOUBLE)
      |    / CAST(4 * mm.m * mm.m AS DOUBLE) AS q_c
      |FROM nn LEFT JOIN ds USING (label) LEFT JOIN ein USING (label)
      |CROSS JOIN mm
      |ORDER BY nn.label""".stripMargin

  /** `e_louvain_move` — the synchronous Louvain phase-1 sweep: COMPOSES
    * the `e_label_prop` partition and the `e_knn_graph` edges (the
    * `e_modularity` universe — labeled subgraph), computes the exact
    * integer gain numerator per (node, neighbor community), and picks the
    * argmax under the (gain DESC, label ASC) order. Mirrors
    * `ExtQueries.louvainMove`. */
  private lazy val louvainMoveSql: String =
    s"""WITH lpz AS MATERIALIZED (SELECT vec_id, label FROM ($labelPropSql) t
      |  WHERE label IS NOT NULL),
      |kg AS (SELECT least(src, nbr) AS a, greatest(src, nbr) AS b
      |  FROM (${baseSql("e_knn_graph")}) g),
      |und AS (SELECT DISTINCT a, b FROM kg),
      |le AS MATERIALIZED (SELECT e.i, e.j, x.label AS li, y.label AS lj
      |  FROM (SELECT a AS i, b AS j FROM und
      |        UNION ALL SELECT b AS i, a AS j FROM und) e
      |  JOIN lpz x ON e.i = x.vec_id JOIN lpz y ON e.j = y.vec_id),
      |mm AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM le),
      |kic AS MATERIALIZED (SELECT i, lj AS c, CAST(count(*) AS BIGINT) AS k_ic
      |  FROM le GROUP BY 1, 2),
      |deg AS MATERIALIZED (SELECT i, li AS label_from,
      |    CAST(count(*) AS BIGINT) AS k_i
      |  FROM le GROUP BY 1, 2),
      |ds AS MATERIALIZED (SELECT label_from AS c, CAST(sum(k_i) AS BIGINT) AS d_sum
      |  FROM deg GROUP BY 1),
      |own AS MATERIALIZED (SELECT d.i, d.label_from, d.k_i,
      |    s.d_sum AS dsum_a, COALESCE(k.k_ic, 0) AS k_ia
      |  FROM deg d JOIN ds s ON s.c = d.label_from
      |  LEFT JOIN kic k ON k.i = d.i AND k.c = d.label_from),
      |cand AS (SELECT o.i, k.c,
      |    2 * mm.m * (k.k_ic - o.k_ia)
      |      - o.k_i * (s.d_sum - o.dsum_a + o.k_i) AS gain_num
      |  FROM own o JOIN kic k ON k.i = o.i AND k.c <> o.label_from
      |  JOIN ds s ON s.c = k.c CROSS JOIN mm),
      |best AS (SELECT i, gain_num, c FROM (
      |  SELECT i, gain_num, c, row_number() OVER (PARTITION BY i
      |    ORDER BY gain_num DESC, c ASC) AS rn FROM cand) r WHERE rn = 1)
      |SELECT o.i AS vec_id, o.label_from,
      |  CASE WHEN b.gain_num > 0 THEN b.c ELSE o.label_from END AS label_to,
      |  CAST(greatest(COALESCE(b.gain_num, 0), 0) AS BIGINT) AS gain_num,
      |  (CASE WHEN b.gain_num > 0 THEN b.c ELSE o.label_from END)
      |    <> o.label_from AS moved
      |FROM own o LEFT JOIN best b USING (i)
      |ORDER BY vec_id""".stripMargin

  /** Shared pick-and-apply CTEs for `e_louvain_apply` /
    * `e_louvain_collapse`: the labeled universe, canonical undirected
    * edges, the graded `e_louvain_move` sweep, the per-source-community
    * best-move pick (gain DESC, vec_id ASC), and the post-move label
    * frame. */
  private def louvainPickCtes(x: String): String =
    s"""lp$x AS MATERIALIZED (SELECT vec_id, label FROM ($labelPropSql) t
      |  WHERE label IS NOT NULL),
      |kg$x AS (SELECT least(src, nbr) AS src, greatest(src, nbr) AS dst
      |  FROM (${baseSql("e_knn_graph")}) g),
      |und$x AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg$x),
      |mvz$x AS (SELECT vec_id, label_from, label_to, gain_num
      |  FROM ($louvainMoveSql) z WHERE moved),
      |pk$x AS MATERIALIZED (SELECT vec_id, label_from, label_to FROM (
      |  SELECT mvz$x.*, row_number() OVER (PARTITION BY label_from
      |    ORDER BY gain_num DESC, vec_id ASC) AS rn FROM mvz$x) r
      |  WHERE rn = 1),
      |nl$x AS MATERIALIZED (SELECT l.vec_id, COALESCE(p.label_to, l.label)
      |    AS label
      |  FROM lp$x l LEFT JOIN pk$x p USING (vec_id))""".stripMargin

  /** The labeled-edge CTE `$name` over the labels CTE `$labsCte` and the
    * undirected-edge CTE `$undName`. */
  private def louvainLabCte(name: String, labsCte: String,
      undName: String): String =
    s"""$name AS MATERIALIZED (SELECT u.src, u.dst, a.label AS la,
      |    b.label AS lb
      |  FROM $undName u JOIN $labsCte a ON u.src = a.vec_id
      |  JOIN $labsCte b ON u.dst = b.vec_id)""".stripMargin

  /** One modularity-decomposition CTE block over a premade `${p}lab`
    * labeled-edge CTE and the labels CTE `$labsCte`, emitting
    * `${p}dec(label, n_nodes, e_in, d_sum, q_c)` — the `modularitySql`
    * body parameterized so the apply/merge keys state before and after
    * through ONE definition. Assumes `$mm(m)` is in scope. */
  private def louvainDecompCtes(labsCte: String, p: String,
      mm: String): String =
    s"""${p}deg AS (SELECT id, label, count(*) AS deg FROM (
      |  SELECT src AS id, la AS label FROM ${p}lab
      |  UNION ALL SELECT dst AS id, lb AS label FROM ${p}lab) t
      |  GROUP BY id, label),
      |${p}ds AS (SELECT label, CAST(sum(deg) AS BIGINT) AS d_sum
      |  FROM ${p}deg GROUP BY label),
      |${p}ein AS (SELECT la AS label, count(*) AS e_in FROM ${p}lab
      |  WHERE la = lb GROUP BY la),
      |${p}nn AS (SELECT label, count(*) AS n_nodes FROM $labsCte
      |  GROUP BY label),
      |${p}dec AS MATERIALIZED (SELECT nn.label,
      |  CAST(nn.n_nodes AS BIGINT) AS n_nodes,
      |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
      |  CAST(COALESCE(ds.d_sum, 0) AS BIGINT) AS d_sum,
      |  CAST(4 * $mm.m * COALESCE(ein.e_in, 0)
      |       - COALESCE(ds.d_sum, 0) * COALESCE(ds.d_sum, 0) AS DOUBLE)
      |    / CAST(4 * $mm.m * $mm.m AS DOUBLE) AS q_c
      |  FROM ${p}nn nn LEFT JOIN ${p}ds ds USING (label)
      |  LEFT JOIN ${p}ein ein USING (label) CROSS JOIN $mm)""".stripMargin

  /** The COALESCE-9-column before/after projection shared by
    * `e_louvain_apply` and `e_louvain_merge`. */
  private def louvainBeforeAfterSelect(aff: String, b: String,
      a: String): String =
    s"""SELECT f.label,
      |  COALESCE(b.n_nodes, 0) AS n_before,
      |  COALESCE(b.e_in, 0) AS e_in_before,
      |  COALESCE(b.d_sum, 0) AS d_sum_before,
      |  COALESCE(b.q_c, 0.0) AS q_before,
      |  COALESCE(a.n_nodes, 0) AS n_after,
      |  COALESCE(a.e_in, 0) AS e_in_after,
      |  COALESCE(a.d_sum, 0) AS d_sum_after,
      |  COALESCE(a.q_c, 0.0) AS q_after
      |FROM $aff f LEFT JOIN $b b USING (label)
      |LEFT JOIN $a a USING (label)
      |ORDER BY f.label""".stripMargin

  /** `e_louvain_apply` — commit the per-source-community best moves of
    * the graded `e_louvain_move` sweep, decompose modularity before and
    * after (one parameterized definition), report per affected
    * community. m is shared: moves relabel nodes, never edges. Mirrors
    * `ExtQueries.louvainApply`. */
  private lazy val louvainApplySql: String =
    s"""WITH ${louvainPickCtes("0")},
      |${louvainLabCte("blab", "lp0", "und0")},
      |mm0 AS (SELECT count(*) AS m FROM blab),
      |${louvainLabCte("alab", "nl0", "und0")},
      |${louvainDecompCtes("lp0", "b", "mm0")},
      |${louvainDecompCtes("nl0", "a", "mm0")},
      |aff AS (SELECT DISTINCT label FROM (
      |  SELECT label_from AS label FROM pk0
      |  UNION ALL SELECT label_to FROM pk0) t)
      |${louvainBeforeAfterSelect("aff", "bdec", "adec")}""".stripMargin

  /** `e_louvain_collapse` — phase-2 condensation of the post-move
    * partition: communities collapse to super-nodes, weight = exact count
    * of original undirected labeled edges per community pair (self-loops
    * carry internal mass). Mirrors `ExtQueries.louvainCollapse`. */
  private lazy val louvainCollapseSql: String =
    s"""WITH ${louvainPickCtes("0")},
      |lab AS (SELECT u.src, u.dst, a.label AS la, b.label AS lb
      |  FROM und0 u JOIN nl0 a ON u.src = a.vec_id
      |  JOIN nl0 b ON u.dst = b.vec_id)
      |SELECT least(la, lb) AS c_a, greatest(la, lb) AS c_b,
      |  CAST(count(*) AS BIGINT) AS weight
      |FROM lab GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** `e_louvain_super` — the weighted sweep over the condensed graph:
    * COMPOSES the graded `e_louvain_collapse` SQL, derives community
    * degrees (cross weights + 2·self-loop) and the exact integer merge
    * gain 2m·w_ab − d_a·d_b, argmax under (gain DESC, partner ASC).
    * CTE names suffixed `9` — they nest above `louvainMoveSql`'s own
    * (the duplicate-alias rule). Mirrors `ExtQueries.louvainSuper`. */
  private lazy val louvainSuperSql: String =
    s"""WITH cg9 AS MATERIALIZED (SELECT c_a, c_b, weight
      |  FROM ($louvainCollapseSql) t),
      |mm9 AS (SELECT CAST(sum(weight) AS BIGINT) AS m FROM cg9),
      |dg9 AS (SELECT c, CAST(sum(d) AS BIGINT) AS d FROM (
      |  SELECT c_a AS c,
      |    CASE WHEN c_a = c_b THEN 2 * weight ELSE weight END AS d FROM cg9
      |  UNION ALL SELECT c_b,
      |    CASE WHEN c_a = c_b THEN 0 ELSE weight END FROM cg9) t
      |  GROUP BY c),
      |pr9 AS (SELECT c, p, weight FROM (
      |  SELECT c_a AS c, c_b AS p, weight FROM cg9 WHERE c_a <> c_b
      |  UNION ALL SELECT c_b, c_a, weight FROM cg9 WHERE c_a <> c_b) t),
      |cand9 AS (SELECT pr9.c, pr9.p, pr9.weight,
      |    2 * mm9.m * pr9.weight - dc.d * dp.d AS gain_num
      |  FROM pr9 JOIN dg9 dc ON dc.c = pr9.c
      |  JOIN dg9 dp ON dp.c = pr9.p CROSS JOIN mm9),
      |best9 AS (SELECT c, p, weight, gain_num FROM (
      |  SELECT cand9.*, row_number() OVER (PARTITION BY c
      |    ORDER BY gain_num DESC, p ASC) AS rn FROM cand9) r WHERE rn = 1)
      |SELECT dg9.c AS community,
      |  CASE WHEN b.gain_num > 0 THEN b.p ELSE dg9.c END AS partner,
      |  CAST(CASE WHEN b.gain_num > 0 THEN b.weight ELSE 0 END AS BIGINT)
      |    AS w_ab,
      |  CAST(greatest(COALESCE(b.gain_num, 0), 0) AS BIGINT) AS gain_num,
      |  (CASE WHEN b.gain_num > 0 THEN b.p ELSE dg9.c END) <> dg9.c AS merged
      |FROM dg9 LEFT JOIN best9 b ON b.c = dg9.c
      |ORDER BY community""".stripMargin

  /** `e_louvain_merge` — the mutual-best matching commit: COMPOSES the
    * graded `e_louvain_super` SQL for the merge table, accepts only
    * pairs that chose each other, relabels the absorbed community and
    * re-decomposes before/after over the post-move partition. Outer
    * pick CTEs carry suffix 1 — suffix-0 copies nest inside the
    * composed super text (the duplicate-alias rule). Mirrors
    * `ExtQueries.louvainMerge`. */
  private lazy val louvainMergeSql: String =
    s"""WITH ${louvainPickCtes("1")},
      |sup AS MATERIALIZED (SELECT community, partner
      |  FROM ($louvainSuperSql) t WHERE merged),
      |mu AS MATERIALIZED (SELECT x.community AS c_lo, y.community AS c_hi
      |  FROM sup x JOIN sup y ON x.partner = y.community
      |    AND y.partner = x.community AND x.community < y.community),
      |ml AS MATERIALIZED (SELECT n.vec_id, COALESCE(m.c_lo, n.label)
      |    AS label
      |  FROM nl1 n LEFT JOIN mu m ON n.label = m.c_hi),
      |${louvainLabCte("b1lab", "nl1", "und1")},
      |mmx AS (SELECT count(*) AS m FROM b1lab),
      |${louvainLabCte("a1lab", "ml", "und1")},
      |${louvainDecompCtes("nl1", "b1", "mmx")},
      |${louvainDecompCtes("ml", "a1", "mmx")},
      |aff AS (SELECT DISTINCT label FROM (
      |  SELECT c_lo AS label FROM mu
      |  UNION ALL SELECT c_hi FROM mu) t)
      |${louvainBeforeAfterSelect("aff", "b1dec", "a1dec")}""".stripMargin

  /** One level's report CTEs over `cgl$l`/`szl$l` — mass (`rml$l`),
    * degrees (`rdl$l`), self-loops (`rel$l`) and the decomposition row
    * set `rpl$l(level, community, n_nodes, e_in, d_sum, q_c)`; the
    * degree/mass CTEs double as the NEXT transition's sweep inputs (one
    * definition per level, the modularityFromParts sharing rule in
    * SQL). */
  private def louvainLevelReportCtes(l: Int): String =
    s"""rml$l AS MATERIALIZED (SELECT CAST(sum(weight) AS BIGINT) AS m
      |  FROM cgl$l),
      |rdl$l AS MATERIALIZED (SELECT c, CAST(sum(d) AS BIGINT) AS d FROM (
      |  SELECT c_a AS c,
      |    CASE WHEN c_a = c_b THEN 2 * weight ELSE weight END AS d FROM cgl$l
      |  UNION ALL SELECT c_b,
      |    CASE WHEN c_a = c_b THEN 0 ELSE weight END FROM cgl$l) t
      |  GROUP BY c),
      |rel$l AS (SELECT c_a AS community, weight AS e_in FROM cgl$l
      |  WHERE c_a = c_b),
      |rpl$l AS (SELECT CAST($l AS BIGINT) AS level, s.community, s.n_nodes,
      |    CAST(COALESCE(e.e_in, 0) AS BIGINT) AS e_in,
      |    CAST(COALESCE(d.d, 0) AS BIGINT) AS d_sum,
      |    CAST(4 * m.m * COALESCE(e.e_in, 0)
      |         - COALESCE(d.d, 0) * COALESCE(d.d, 0) AS DOUBLE)
      |      / CAST(4 * m.m * m.m AS DOUBLE) AS q_c
      |  FROM szl$l s LEFT JOIN rel$l e ON s.community = e.community
      |  LEFT JOIN rdl$l d ON s.community = d.c CROSS JOIN rml$l m)""".stripMargin

  /** One merge transition `l-1 → l`: the weighted sweep priced from the
    * previous level's report CTEs (`rml`/`rdl` — the same degree table
    * the decomposition read), the mutual-best matching, and the
    * relabel + re-condense producing `cgl$l`/`szl$l`. */
  private def louvainLevelTransitionCtes(l: Int): String = {
    val k = l - 1
    s"""prl$l AS (SELECT c, p, weight FROM (
      |  SELECT c_a AS c, c_b AS p, weight FROM cgl$k WHERE c_a <> c_b
      |  UNION ALL SELECT c_b, c_a, weight FROM cgl$k WHERE c_a <> c_b) t),
      |cnl$l AS (SELECT prl$l.c, prl$l.p,
      |    2 * rml$k.m * prl$l.weight - dc.d * dp.d AS gain_num
      |  FROM prl$l JOIN rdl$k dc ON dc.c = prl$l.c
      |  JOIN rdl$k dp ON dp.c = prl$l.p CROSS JOIN rml$k),
      |bsl$l AS (SELECT c, p, gain_num FROM (
      |  SELECT cnl$l.*, row_number() OVER (PARTITION BY c
      |    ORDER BY gain_num DESC, p ASC) AS rn FROM cnl$l) r WHERE rn = 1),
      |mgl$l AS (SELECT c AS community, p AS partner FROM bsl$l
      |  WHERE gain_num > 0),
      |mul$l AS MATERIALIZED (SELECT x.community AS c_lo,
      |    y.community AS c_hi
      |  FROM mgl$l x JOIN mgl$l y ON x.partner = y.community
      |    AND y.partner = x.community AND x.community < y.community),
      |cgl$l AS MATERIALIZED (SELECT least(na, nb) AS c_a,
      |    greatest(na, nb) AS c_b, CAST(sum(weight) AS BIGINT) AS weight
      |  FROM (SELECT COALESCE(ma.c_lo, g.c_a) AS na,
      |      COALESCE(mb.c_lo, g.c_b) AS nb, g.weight
      |    FROM cgl$k g LEFT JOIN mul$l ma ON g.c_a = ma.c_hi
      |    LEFT JOIN mul$l mb ON g.c_b = mb.c_hi) t
      |  GROUP BY 1, 2),
      |szl$l AS MATERIALIZED (SELECT COALESCE(m.c_lo, s.community)
      |    AS community, CAST(sum(s.n_nodes) AS BIGINT) AS n_nodes
      |  FROM szl$k s LEFT JOIN mul$l m ON s.community = m.c_hi
      |  GROUP BY 1)""".stripMargin
  }

  /** `e_louvain_levels` — the unrolled multi-level Blondel hierarchy:
    * COMPOSES the pick chain for the post-move partition, condenses once
    * (level 0), then per level runs the weighted sweep + mutual-best
    * matching + metadata re-condense as generated CTE blocks (the
    * kmeansChainCtes unroll device), each level's decomposition read off
    * its condensed graph. Pick CTEs carry suffix 5 (the duplicate-alias
    * rule). Mirrors `ExtQueries.louvainLevels`. */
  /** The full unrolled-hierarchy CTE chain (pick + condensation +
    * per-level transitions/reports) — shared by `e_louvain_levels` and
    * `e_louvain_assign` so the projection folds EXACTLY the matchings
    * the hierarchy committed. */
  private lazy val louvainLevelsCtes: String = {
    val L = ExtQueries.LouvainLevels
    val levels = (1 to L).map(l =>
      s"${louvainLevelTransitionCtes(l)},\n${louvainLevelReportCtes(l)}")
      .mkString(",\n")
    s"""${louvainPickCtes("5")},
      |${louvainLabCte("l5lab", "nl5", "und5")},
      |cgl0 AS MATERIALIZED (SELECT least(la, lb) AS c_a,
      |    greatest(la, lb) AS c_b, CAST(count(*) AS BIGINT) AS weight
      |  FROM l5lab GROUP BY 1, 2),
      |szl0 AS MATERIALIZED (SELECT label AS community,
      |    CAST(count(*) AS BIGINT) AS n_nodes FROM nl5 GROUP BY 1),
      |${louvainLevelReportCtes(0)},
      |$levels""".stripMargin
  }

  private lazy val louvainLevelsSql: String = {
    val L = ExtQueries.LouvainLevels
    val union = (0 to L).map(l => s"SELECT * FROM rpl$l")
      .mkString(" UNION ALL ")
    s"""WITH $louvainLevelsCtes
      |SELECT level, community, n_nodes, e_in, d_sum, q_c
      |FROM ($union) u
      |ORDER BY level, community""".stripMargin
  }

  /** `e_louvain_assign` — the hierarchy projection: the post-move label
    * frame pushed through every level's committed matching (the SAME
    * `mul$l` CTEs the hierarchy derived). Mirrors
    * `ExtQueries.louvainAssign`. */
  private lazy val louvainAssignSql: String = {
    val L = ExtQueries.LouvainLevels
    val asgs = (1 to L).map(l =>
      s"""asg$l AS (SELECT a.vec_id, a.label0, COALESCE(m.c_lo, a.c) AS c
        |  FROM asg${l - 1} a LEFT JOIN mul$l m ON a.c = m.c_hi)""".stripMargin)
      .mkString(",\n")
    s"""WITH $louvainLevelsCtes,
      |asg0 AS (SELECT vec_id, label AS label0, label AS c FROM nl5),
      |$asgs
      |SELECT vec_id, label0, c AS community FROM asg$L
      |ORDER BY vec_id""".stripMargin
  }

  /** `e_token_budget` — COMPOSES the shared `qualityCtes` rule chain (the
    * `e_filter_bias` device), then the greedy allocation: exact integer
    * counts and cumulative sums via the \|sources\|² self-join, one
    * correctly-rounded keep-rate divide as the sort key, integer
    * floor-division budget. Mirrors `ExtQueries.tokenBudget`. */
  private lazy val tokenBudgetSql: String =
    s"""WITH ${qualityCtes("documents")},
      |src AS (SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      |  FROM qr GROUP BY source),
      |s2 AS (SELECT source, n_docs, src_tokens, n_keep,
      |  CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_rate FROM src),
      |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens FROM src),
      |cum AS (SELECT a.source, a.n_docs, a.src_tokens, a.n_keep, a.keep_rate,
      |  CAST(COALESCE(sum(b.src_tokens), 0) AS BIGINT) AS cum_before
      |  FROM s2 a LEFT JOIN s2 b
      |    ON b.keep_rate > a.keep_rate
      |    OR (b.keep_rate = a.keep_rate AND b.source < a.source)
      |  GROUP BY a.source, a.n_docs, a.src_tokens, a.n_keep, a.keep_rate),
      |al AS (SELECT c.source, c.n_docs, c.src_tokens, c.n_keep, c.keep_rate,
      |  c.cum_before,
      |  greatest(CAST(0 AS BIGINT), least(c.src_tokens,
      |    (t.total_tokens * ${ExtQueries.BudgetNum}) // ${ExtQueries.BudgetDen}
      |      - c.cum_before)) AS alloc_tokens
      |  FROM cum c CROSS JOIN tot t)
      |SELECT source, n_docs, src_tokens, n_keep, keep_rate, cum_before,
      |  alloc_tokens, alloc_tokens = src_tokens AS taken
      |FROM al ORDER BY source""".stripMargin

  /** `e_graph_recall` — COMPOSES the graded `e_knn_graph` SQL text (the
    * `pageRankSql` device) against the shared fold-cosine brute-force
    * truth under the same (score DESC, cid ASC) total order, on the
    * pinned node sample. Mirrors `ExtQueries.graphRecall`. */
  private lazy val graphRecallSql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qe,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nq
      |  FROM embeddings WHERE vec_id < ${ExtQueries.GraphRecallSample}),
      |c AS (
      |  SELECT vec_id AS cid, embedding AS ce,
      |    sqrt(list_reduce(list_transform(embedding,
      |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, x) -> acc + x)) AS nc
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.qid, c.cid,
      |    list_reduce(list_transform(list_zip(q.qe, c.ce),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)
      |      / (q.nq * c.nc) AS score
      |  FROM q, c WHERE c.cid <> q.qid),
      |truth AS (SELECT qid, cid FROM (
      |  SELECT qid, cid,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
      |  FROM scored) WHERE rn <= ${ExtQueries.KnnK}),
      |g AS (SELECT src AS qid, nbr AS cid FROM (${baseSql("e_knn_graph")}) kg
      |  WHERE src < ${ExtQueries.GraphRecallSample})
      |SELECT t.qid, count(*) AS n_true,
      |  CAST(count(g.cid) AS BIGINT) AS n_hit,
      |  CAST(count(g.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
      |FROM truth t LEFT JOIN g ON t.qid = g.qid AND t.cid = g.cid
      |GROUP BY t.qid ORDER BY t.qid""".stripMargin

  /** `e_recall_at_k` — rank-sensitive recall at each depth. COMPOSES the
    * exact baseline and the two graded compressed families' own SQL texts
    * (the `e_ann_recall` device), MATERIALIZED because each rank list is
    * referenced once per depth — plain CTEs would re-evaluate the whole
    * serve per k (the round-11 DuckDB-inlining lesson). */
  /** `e_scan_prune` — composes the graded `e_zorder` derivation (the
    * morton key must be THE key the layout operator produces, not a
    * re-derivation that could drift), then runs the two-layout file-stats
    * pruning audit on top. */
  private lazy val scanPruneSql: String =
    s"""WITH z AS MATERIALIZED (SELECT event_id, uid16, day16, zkey
      |  FROM (${baseSql("e_zorder")}) zz),
      |rows_ AS (SELECT u.layout, u.file_id, u.uid16, u.day16,
      |    CASE WHEN u.uid16 >= ${ExtQueries.ScanPruneUidLo}
      |      AND u.uid16 < ${ExtQueries.ScanPruneUidHi}
      |      AND u.day16 >= ${ExtQueries.ScanPruneDayLo}
      |      AND u.day16 < ${ExtQueries.ScanPruneDayHi} THEN 1 ELSE 0 END AS m
      |  FROM (
      |    SELECT 'append' AS layout, event_id // ${ExtQueries.ScanPruneFileRows} AS file_id,
      |      uid16, day16 FROM z
      |    UNION ALL
      |    SELECT 'zorder' AS layout, zkey // ${ExtQueries.ScanPruneTileStride} AS file_id,
      |      uid16, day16 FROM z) u)
      |SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
      |  min(uid16) AS uid_min, max(uid16) AS uid_max,
      |  min(day16) AS day_min, max(day16) AS day_max,
      |  CAST(CASE WHEN max(uid16) >= ${ExtQueries.ScanPruneUidLo}
      |    AND min(uid16) < ${ExtQueries.ScanPruneUidHi}
      |    AND max(day16) >= ${ExtQueries.ScanPruneDayLo}
      |    AND min(day16) < ${ExtQueries.ScanPruneDayHi} THEN 1 ELSE 0 END AS BIGINT) AS kept,
      |  CAST(sum(m) AS BIGINT) AS n_match
      |FROM rows_ GROUP BY layout, file_id
      |ORDER BY layout, file_id""".stripMargin

  /** `e_compaction_apply` — composes the graded `e_compaction_plan` (the
    * routing must be THE plan's ranges, not a re-derivation that could
    * drift), executes the file→bin routing, and re-audits both layouts
    * under the pinned doc-id predicate. The inventory CTE is referenced
    * twice (input rows + bin merge), so MATERIALIZED. */
  private lazy val compactionApplySql: String =
    s"""WITH pl AS (
      |  SELECT source, bin, first_file, last_file
      |  FROM (${baseSql("e_compaction_plan")}) p),
      |f AS MATERIALIZED (
      |  SELECT source, doc_id // ${ExtQueries.CompactionFileDocs} AS file_id,
      |    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes,
      |    min(doc_id) AS id_min, max(doc_id) AS id_max,
      |    CAST(sum(CASE WHEN doc_id >= ${ExtQueries.CompactionAuditIdLo}
      |      AND doc_id < ${ExtQueries.CompactionAuditIdHi}
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      |  FROM documents GROUP BY source, doc_id // ${ExtQueries.CompactionFileDocs}),
      |comp AS (
      |  SELECT f.source, p.bin AS file_id, CAST(count(*) AS BIGINT) AS n_files,
      |    CAST(sum(f.n_docs) AS BIGINT) AS n_docs,
      |    CAST(sum(f.bytes) AS BIGINT) AS bytes,
      |    min(f.id_min) AS id_min, max(f.id_max) AS id_max,
      |    CAST(sum(f.n_match) AS BIGINT) AS n_match
      |  FROM f JOIN pl p ON p.source = f.source
      |    AND f.file_id BETWEEN p.first_file AND p.last_file
      |  GROUP BY f.source, p.bin),
      |u AS (
      |  SELECT 'input' AS layout, source, file_id, CAST(1 AS BIGINT) AS n_files,
      |    n_docs, bytes, id_min, id_max, n_match FROM f
      |  UNION ALL
      |  SELECT 'compacted' AS layout, source, file_id, n_files,
      |    n_docs, bytes, id_min, id_max, n_match FROM comp)
      |SELECT layout, source, file_id, n_files, n_docs, bytes, id_min, id_max,
      |  CAST(CASE WHEN id_max >= ${ExtQueries.CompactionAuditIdLo}
      |    AND id_min < ${ExtQueries.CompactionAuditIdHi}
      |    THEN 1 ELSE 0 END AS BIGINT) AS kept,
      |  n_match
      |FROM u ORDER BY layout, source, file_id""".stripMargin

  /** `e_manifest_prune` — the two-tier metadata-pruning bakeoff: flat
    * file-stats scan vs manifest-first pruning, same keep set, fewer
    * metadata rows read. Mirrors `ExtQueries.manifestPrune`. */
  private lazy val manifestPruneSql: String = {
    val fd = ExtQueries.CompactionFileDocs
    val mf = ExtQueries.ManifestFiles
    val lo = ExtQueries.ManifestPruneIdLo
    val hi = ExtQueries.ManifestPruneIdHi
    s"""WITH mpf AS MATERIALIZED (SELECT source, doc_id // $fd AS file_id,
      |    min(doc_id) AS id_min, max(doc_id) AS id_max,
      |    CAST(sum(CASE WHEN doc_id >= $lo AND doc_id < $hi
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      |  FROM documents GROUP BY 1, 2),
      |mpm AS MATERIALIZED (SELECT source, file_id // $mf AS manifest,
      |    min(id_min) AS id_min, max(id_max) AS id_max
      |  FROM mpf GROUP BY 1, 2),
      |mps AS (SELECT source, manifest FROM mpm
      |  WHERE id_max >= $lo AND id_min < $hi),
      |mpt AS (SELECT f.* FROM mpf f JOIN mps s
      |  ON f.source = s.source AND f.file_id // $mf = s.manifest)
      |SELECT 'flat' AS strategy,
      |  CAST(count(*) AS BIGINT) AS meta_rows_read,
      |  CAST(sum(CASE WHEN id_max >= $lo AND id_min < $hi
      |    THEN 1 ELSE 0 END) AS BIGINT) AS files_kept,
      |  CAST(sum(CASE WHEN id_max >= $lo AND id_min < $hi
      |    THEN n_match ELSE 0 END) AS BIGINT) AS rows_matched
      |FROM mpf
      |UNION ALL
      |SELECT 'two_tier',
      |  (SELECT CAST(count(*) AS BIGINT) FROM mpm) + CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN id_max >= $lo AND id_min < $hi
      |    THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(CASE WHEN id_max >= $lo AND id_min < $hi
      |    THEN n_match ELSE 0 END) AS BIGINT)
      |FROM mpt
      |ORDER BY strategy""".stripMargin
  }

  /** `e_compact_conflict` — composes the graded `e_compaction_plan`
    * routing and validates each bin against the concurrent writer's
    * sparse touch rule; rebased bins priced from the post-commit
    * snapshot. Mirrors `ExtQueries.compactConflict`. */
  private lazy val compactConflictSql: String = {
    val fm = ExtQueries.CompactionFileDocs
    val cm = ExtQueries.CompactConflictMod
    val d = ExtQueries.CompactConflictCharsDelta
    s"""WITH ccp AS (SELECT source, bin, first_file, last_file, n_files,
      |    n_docs, bin_bytes
      |  FROM (${baseSql("e_compaction_plan")}) p),
      |ccf AS MATERIALIZED (SELECT source, doc_id // $fm AS file_id,
      |    CAST(sum(CASE WHEN doc_id % $cm IN (0, 1) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS touched,
      |    CAST(sum(CASE WHEN doc_id % $cm = 0 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS docs_after,
      |    CAST(sum(CASE WHEN doc_id % $cm = 0 THEN 0
      |      WHEN doc_id % $cm = 1 THEN n_chars + $d
      |      ELSE n_chars END) AS BIGINT) AS bytes_after
      |  FROM documents GROUP BY 1, 2)
      |SELECT p.source, p.bin, p.n_files, p.n_docs, p.bin_bytes AS bytes,
      |  CAST(sum(f.touched) AS BIGINT) AS n_stale,
      |  CASE WHEN sum(f.touched) > 0 THEN 'rebase' ELSE 'commit' END
      |    AS verdict,
      |  CAST(sum(f.docs_after) AS BIGINT) AS n_docs_after,
      |  CAST(sum(f.bytes_after) AS BIGINT) AS bytes_after
      |FROM ccp p JOIN ccf f ON f.source = p.source
      |  AND f.file_id BETWEEN p.first_file AND p.last_file
      |GROUP BY p.source, p.bin, p.n_files, p.n_docs, p.bin_bytes
      |ORDER BY p.source, p.bin""".stripMargin
  }

  /** `e_filter_recall` — composes the four filtered-serving SQL texts;
    * the truth CTE is referenced five times, so MATERIALIZED (the DuckDB
    * inlining lesson). */
  private lazy val filterRecallSql: String =
    s"""WITH t AS MATERIALIZED (
      |  SELECT qid, cid, in_postfilter FROM (${baseSql("e_ann_filter")}) a),
      |iv AS (SELECT qid, cid FROM (${baseSql("e_ivf_filter")}) b),
      |ad AS (SELECT qid, cid FROM (${baseSql("e_ivf_filter_adaptive")}) c),
      |tr AS (SELECT qid, cid FROM ($ivfFilterTrainedSql) d),
      |rows_ AS (
      |  SELECT 'ivf_prefilter' AS strategy,
      |    (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_truth,
      |    (SELECT CAST(count(*) AS BIGINT) FROM t SEMI JOIN iv USING (qid, cid)) AS n_hit
      |  UNION ALL
      |  SELECT 'ivf_adaptive' AS strategy,
      |    (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_truth,
      |    (SELECT CAST(count(*) AS BIGINT) FROM t SEMI JOIN ad USING (qid, cid)) AS n_hit
      |  UNION ALL
      |  SELECT 'ivf_trained' AS strategy,
      |    (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_truth,
      |    (SELECT CAST(count(*) AS BIGINT) FROM t SEMI JOIN tr USING (qid, cid)) AS n_hit
      |  UNION ALL
      |  SELECT 'postfilter' AS strategy,
      |    (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_truth,
      |    (SELECT CAST(sum(in_postfilter) AS BIGINT) FROM t) AS n_hit)
      |SELECT strategy, n_truth, n_hit,
      |  CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
      |FROM rows_ ORDER BY strategy""".stripMargin

  /** `e_filter_cost` — the cost/recall frontier: composes the full
    * `e_filter_recall` harness (MATERIALIZED — its rows are read twice)
    * plus the shared assignment/schedule CTEs for the analytic
    * scored-work counts; the `ivf_trained` row's work comes from the SAME
    * fixed-nprobe schedule over the TRAINED assignment (`asg{K+1}`), so
    * the quantizer's recall delta is priced like its seed sibling. */
  private lazy val filterCostSql: String = {
    val K = ExtQueries.KmeansIters
    s"""WITH frc AS MATERIALIZED (
      |  SELECT strategy, n_truth, n_hit, recall FROM ($filterRecallSql) fr),
      |${kmeansChainCtes(K)},
      |${centsFromUpdCte(K)},
      |${assignCte(K + 1)},
      |$ivfScheduleCtes,
      |qs AS (SELECT qid, max(cum) AS m_total,
      |    sum(CASE WHEN crank <= ${ExtQueries.IvfFilterNprobe}
      |      THEN m ELSE 0 END) AS m_fixed
      |  FROM qcum GROUP BY qid),
      |ad AS (SELECT u.qid, sum(u.m) AS m_ad
      |  FROM qcum u JOIN qplan p USING (qid)
      |  WHERE u.crank <= p.eff_nprobe GROUP BY u.qid),
      |labt AS (SELECT a.vec_id, emb.label, a.cell
      |  FROM asg${K + 1} a JOIN embeddings emb USING (vec_id)),
      |cellcntt AS (SELECT cell, label, count(*) AS m
      |  FROM labt GROUP BY cell, label),
      |qct AS (SELECT s.vec_id AS qid, s.cent_id AS cell,
      |    (emb.label + 1) % ${ExtQueries.AnnFilterLabels} AS tgt,
      |    row_number() OVER (PARTITION BY s.vec_id
      |      ORDER BY s.csim DESC, s.cent_id ASC) AS crank
      |  FROM sims${K + 1} s JOIN embeddings emb ON emb.vec_id = s.vec_id
      |  WHERE s.vec_id < 8),
      |qst AS (SELECT qid, sum(CASE WHEN qct.crank <= ${ExtQueries.IvfFilterNprobe}
      |    THEN coalesce(cc.m, 0) ELSE 0 END) AS m_fixed_t
      |  FROM qct LEFT JOIN cellcntt cc
      |    ON cc.cell = qct.cell AND cc.label = qct.tgt
      |  GROUP BY qid),
      |work AS (
      |  SELECT 'exact_prefilter' AS strategy, CAST(sum(m_total) AS BIGINT) AS n_scored FROM qs
      |  UNION ALL
      |  SELECT 'ivf_prefilter' AS strategy, CAST(sum(m_fixed) AS BIGINT) AS n_scored FROM qs
      |  UNION ALL
      |  SELECT 'ivf_adaptive' AS strategy, CAST(sum(m_ad) AS BIGINT) AS n_scored FROM ad
      |  UNION ALL
      |  SELECT 'ivf_trained' AS strategy, CAST(sum(m_fixed_t) AS BIGINT) AS n_scored FROM qst
      |  UNION ALL
      |  SELECT 'postfilter' AS strategy,
      |    CAST((SELECT count(*) FROM qs)
      |      * ((SELECT count(*) FROM embeddings) - 1) AS BIGINT) AS n_scored),
      |exr AS (SELECT 'exact_prefilter' AS strategy, max(n_truth) AS n_truth,
      |    max(n_truth) AS n_hit, CAST(1 AS DOUBLE) AS recall FROM frc),
      |allr AS (SELECT strategy, n_truth, n_hit, recall FROM frc
      |  UNION ALL SELECT strategy, n_truth, n_hit, recall FROM exr)
      |SELECT a.strategy, a.n_truth, a.n_hit, a.recall, w.n_scored,
      |  CAST(w.n_scored AS DOUBLE)
      |    / CAST((SELECT count(*) FROM qs) AS DOUBLE) AS scored_per_query,
      |  CAST(w.n_scored AS DOUBLE) / CAST(a.n_hit AS DOUBLE) AS scored_per_hit
      |FROM allr a JOIN work w USING (strategy)
      |ORDER BY strategy""".stripMargin
  }

  /** `e_ivf_balance` — cell-occupancy audit over the shared assignment
    * CTEs; dominant label via max-count-then-max-label (the
    * `e_skew_audit` tie device, grouped form). */
  private lazy val ivfBalanceSql: String =
    s"""WITH $centAssignCtes,
      |lab AS (SELECT a.cell, emb.label
      |  FROM assigned a JOIN embeddings emb USING (vec_id)),
      |cl AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS m
      |  FROM lab GROUP BY cell, label),
      |cells AS (SELECT cell, CAST(sum(m) AS BIGINT) AS n_vectors,
      |    max(m) AS top_n FROM cl GROUP BY cell),
      |tops AS (SELECT cl.cell, max(cl.label) AS top_label, cl.m AS top_label_n
      |  FROM cl JOIN cells ce ON cl.cell = ce.cell AND cl.m = ce.top_n
      |  GROUP BY cl.cell, cl.m),
      |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n_corpus FROM cells)
      |SELECT c.cell, c.n_vectors,
      |  CAST(c.n_vectors AS DOUBLE) / CAST(t.n_corpus AS DOUBLE) AS share,
      |  CAST(c.n_vectors * ${ExtQueries.IvfCells} AS DOUBLE)
      |    / CAST(t.n_corpus AS DOUBLE) AS balance_factor,
      |  p.top_label, p.top_label_n
      |FROM cells c JOIN tops p ON p.cell = c.cell, tot t
      |ORDER BY c.cell""".stripMargin

  /** `e_delete_audit` — composes the four derived artifacts' SQL texts
    * (each projected to its base doc id, MATERIALIZED: every projection
    * is referenced twice — row count + reference count) against the
    * deletion-request set. */
  private lazy val deleteAuditSql: String = {
    val off = ExtQueries.VariantIdOffset
    def proj(cte: String, src: String): String =
      s"""$cte AS MATERIALIZED (
        |  SELECT CASE WHEN doc_id >= $off THEN doc_id - $off
        |    ELSE doc_id END AS bid
        |  FROM ($src) t)""".stripMargin
    def row(name: String, cte: String): String =
      s"""SELECT '$name' AS artifact,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $cte) AS n_rows,
        |  (SELECT CAST(count(*) AS BIGINT)
        |    FROM $cte SEMI JOIN dels ON bid = del_id) AS n_refs""".stripMargin
    s"""WITH dels AS MATERIALIZED (
      |  SELECT doc_id AS del_id FROM documents
      |  WHERE doc_id % ${ExtQueries.DeleteEveryMod} = 0),
      |${proj("a_chunk", baseSql("e_chunk_dedup"))},
      |${proj("a_clus", baseSql("e_dup_clusters"))},
      |${proj("a_fp", baseSql("e_fingerprint"))},
      |${proj("a_split", baseSql("e_split"))},
      |rows_ AS (
      |${Seq(row("chunk_dedup", "a_chunk"), row("dup_clusters", "a_clus"),
             row("fingerprint", "a_fp"), row("split", "a_split"))
          .mkString("\nUNION ALL\n")})
      |SELECT artifact, n_rows, n_refs,
      |  CAST(n_refs AS DOUBLE) / CAST(n_rows AS DOUBLE) AS ref_share
      |FROM rows_ ORDER BY artifact""".stripMargin
  }

  /** `e_delete_apply` — the deletion cascade executed and re-audited over
    * the same composed artifact projections as `e_delete_audit`; the
    * cluster artifact re-counts survivors and dissolves sub-2 clusters. */
  private lazy val deleteApplySql: String = {
    val off = ExtQueries.VariantIdOffset
    def proj(cte: String, src: String, extra: String = ""): String =
      s"""$cte AS MATERIALIZED (
        |  SELECT CASE WHEN doc_id >= $off THEN doc_id - $off
        |    ELSE doc_id END AS bid$extra
        |  FROM ($src) t)""".stripMargin
    def perDoc(name: String, cte: String): String =
      s"""SELECT '$name' AS artifact,
        |  (SELECT CAST(count(*) AS BIGINT) FROM $cte) AS n_rows_before,
        |  (SELECT CAST(count(*) AS BIGINT)
        |    FROM $cte ANTI JOIN dels ON bid = del_id) AS n_rows_after,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    ($cte ANTI JOIN dels ON bid = del_id)
        |    SEMI JOIN dels ON bid = del_id) AS n_refs_after""".stripMargin
    s"""WITH dels AS MATERIALIZED (
      |  SELECT doc_id AS del_id FROM documents
      |  WHERE doc_id % ${ExtQueries.DeleteEveryMod} = 0),
      |${proj("a_chunk", baseSql("e_chunk_dedup"))},
      |${proj("a_clus", baseSql("e_dup_clusters"), ", cluster_id")},
      |${proj("a_fp", baseSql("e_fingerprint"))},
      |${proj("a_split", baseSql("e_split"))},
      |kept AS MATERIALIZED (
      |  SELECT bid, cluster_id FROM a_clus ANTI JOIN dels ON bid = del_id),
      |resized AS (SELECT cluster_id FROM kept
      |  GROUP BY cluster_id HAVING count(*) >= 2),
      |clus_after AS MATERIALIZED (
      |  SELECT bid FROM kept SEMI JOIN resized USING (cluster_id)),
      |rows_ AS (
      |${perDoc("chunk_dedup", "a_chunk")}
      |UNION ALL
      |SELECT 'dup_clusters' AS artifact,
      |  (SELECT CAST(count(*) AS BIGINT) FROM a_clus) AS n_rows_before,
      |  (SELECT CAST(count(*) AS BIGINT) FROM clus_after) AS n_rows_after,
      |  (SELECT CAST(count(*) AS BIGINT)
      |    FROM clus_after SEMI JOIN dels ON bid = del_id) AS n_refs_after
      |UNION ALL
      |${perDoc("fingerprint", "a_fp")}
      |UNION ALL
      |${perDoc("split", "a_split")})
      |SELECT artifact, n_rows_before, n_rows_after, n_refs_after,
      |  n_rows_before - n_rows_after AS n_dropped
      |FROM rows_ ORDER BY artifact""".stripMargin
  }

  /** `e_time_travel` — snapshot AS-OF reads over the synthesized change
    * history. The oracle derives every version through the SEQUENTIAL
    * COPY-ON-WRITE replay (apply batch 1 to the base, batch 2 to that, …)
    * where the Spark side runs the log-structured merge-on-read pick, so
    * the two table-format read strategies certify each other (the
    * `e_merge_apply` device extended to a full history). Each snapshot
    * CTE is referenced twice (next step + final union) — MATERIALIZED. */
  /** The sequential copy-on-write replay CTEs (`s0` base, `b{v}` change
    * batches, `s{v}` snapshots) — shared by `e_time_travel` (the AS-OF
    * read) and `e_vacuum_plan` (the retention dry-run), so what vacuum
    * prices is exactly what time travel reads. */
  private lazy val timeTravelCtes: String = {
    val off = ExtQueries.VariantIdOffset
    def batch(v: Int): String = {
      val delCls = if (v == 3) "IN (3, 4)" else s"= $v"
      s"""b$v AS (
        |  SELECT 'D' AS op, doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 9 $delCls
        |  UNION ALL
        |  SELECT 'U', doc_id, 'u$v:' || text, lang, source, n_chars + 3
        |  FROM documents WHERE doc_id % 9 IN (${3 + v}, 7)
        |  UNION ALL
        |  SELECT 'I', doc_id + ${v.toLong * off}, 'i$v:' || text, lang,
        |    source, n_chars + 3
        |  FROM documents WHERE doc_id % 9 = 0)""".stripMargin
    }
    def step(v: Int): String =
      s"""s$v AS MATERIALIZED (
        |  SELECT s.doc_id, s.text, s.lang, s.source, s.n_chars
        |  FROM s${v - 1} s ANTI JOIN b$v USING (doc_id)
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars FROM b$v
        |  WHERE op <> 'D')""".stripMargin
    s"""s0 AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents),
      |${batch(1)},
      |${step(1)},
      |${batch(2)},
      |${step(2)},
      |${batch(3)},
      |${step(3)}""".stripMargin
  }

  private lazy val timeTravelSql: String =
    s"""WITH $timeTravelCtes
      |SELECT CAST(0 AS BIGINT) AS version, doc_id, text, lang, source, n_chars FROM s0
      |UNION ALL SELECT 1, doc_id, text, lang, source, n_chars FROM s1
      |UNION ALL SELECT 2, doc_id, text, lang, source, n_chars FROM s2
      |UNION ALL SELECT 3, doc_id, text, lang, source, n_chars FROM s3
      |ORDER BY version, doc_id""".stripMargin

  /** `e_vacuum_plan` — retention dry-run over the same history: per retain
    * floor v, log entries in scope (base rows + batch entries at ver ≤ v,
    * counted from the batch CTEs directly), live rows from the SEQUENTIAL
    * replay snapshot `s{v}` (where Spark counts its merge-on-read winners
    * — the `e_time_travel` cross-certification carried into the pricing),
    * tombstones, and the reclaimable difference. */
  private lazy val vacuumPlanSql: String =
    s"""WITH $timeTravelCtes,
      |ent AS (
      |  SELECT 0 AS ver, CAST(count(*) AS BIGINT) AS n_e,
      |    CAST(0 AS BIGINT) AS n_d FROM s0
      |  UNION ALL SELECT 1, CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) FROM b1
      |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) FROM b2
      |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) FROM b3),
      |live AS (
      |  SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_live FROM s0
      |  UNION ALL SELECT 1, CAST(count(*) AS BIGINT) FROM s1
      |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
      |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3),
      |scope AS (
      |  SELECT l.version, CAST(sum(e.n_e) AS BIGINT) AS n_log,
      |    CAST(sum(e.n_d) AS BIGINT) AS n_tombstones
      |  FROM live l JOIN ent e ON e.ver <= l.version
      |  GROUP BY l.version)
      |SELECT l.version, s.n_log, l.n_live, s.n_tombstones,
      |  s.n_log - l.n_live AS n_reclaimable
      |FROM live l JOIN scope s USING (version)
      |ORDER BY version""".stripMargin

  /** `e_vacuum_apply` — vacuum EXECUTION: the oracle compacts
    * COPY-ON-WRITE (its post-vacuum base is the sequential replay's
    * snapshot at the retain floor — `s{floor}` from the shared
    * `timeTravelCtes` — and post-floor batches replay on top as `c{v}`
    * steps) where the Spark side compacts MERGE-ON-READ (its base is the
    * highest-version-wins pick over the scoped log), so the hash gate
    * proves the two table-format vacuum strategies produce the same
    * readable history. Mirrors `ExtQueries.vacuumApply`. */
  private lazy val vacuumApplySql: String = {
    val f = ExtQueries.VacuumRetainFloor
    val n = ExtQueries.TimeTravelVersions
    def step(v: Int): String = {
      val prev = if (v == f + 1) s"s$f" else s"c${v - 1}"
      // MATERIALIZED when referenced twice (next step + final union)
      val mat = if (v < n) " MATERIALIZED" else ""
      s"""c$v AS$mat (
        |  SELECT s.doc_id, s.text, s.lang, s.source, s.n_chars
        |  FROM $prev s ANTI JOIN b$v USING (doc_id)
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars FROM b$v
        |  WHERE op <> 'D')""".stripMargin
    }
    val steps = (f + 1 to n).map(step).mkString(",\n")
    val selects = (s"SELECT CAST($f AS BIGINT) AS version, doc_id, text, " +
      s"lang, source, n_chars FROM s$f") +:
      (f + 1 to n).map(v =>
        s"UNION ALL SELECT $v, doc_id, text, lang, source, n_chars FROM c$v")
    s"""WITH $timeTravelCtes,
      |$steps
      |${selects.mkString("\n")}
      |ORDER BY version, doc_id""".stripMargin
  }

  /** `e_index_delete` — the vector-side GDPR cascade. The oracle states
    * the FULL REBUILD over survivors (the `e_incr_knn` device) where the
    * Spark side repairs incrementally (tombstone + rescore only nodes that
    * lost a top-k member), so the hash gate itself proves
    * serve-after-delete ≡ serve-over-rebuilt-index. Digests are per-row
    * md5-hash31 sums — order-invariant, the cross-engine content pin. */
  /** In-cell top-[[ExtQueries.KnnK]] adjacency CTE over an assigned frame
    * `src` — the SQL twin of `ExtQueries.knnAdjacency`, shared by
    * `e_index_delete` (all/survivor rebuilds) and `e_kcore` (the peel's
    * substrate). */
  private def knnAdjCte(name: String, src: String): String = {
    val k = ExtQueries.KnnK
    s"""$name AS MATERIALIZED (SELECT src, nbr, rank FROM (
      |  SELECT x.vec_id AS src, y.vec_id AS nbr,
      |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
      |      list_reduce(list_transform(list_zip(x.e, y.e),
      |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b)->a+b)
      |        / (x.nrm * y.nrm) DESC, y.vec_id ASC) AS rank
      |  FROM $src x JOIN $src y
      |    ON x.cell = y.cell AND x.vec_id <> y.vec_id) r
      |  WHERE rank <= $k)""".stripMargin
  }

  private lazy val indexDeleteSql: String = {
    val mod = ExtQueries.DeleteEveryMod
    def knnCte(name: String, src: String): String = knnAdjCte(name, src)
    def digest(prefix: String, expr: String, src: String): String =
      s"""(SELECT CAST(COALESCE(sum(
        |    CAST('0x'||substr(md5('$prefix'||$expr),1,15) AS BIGINT) % $P),
        |    0) AS BIGINT) FROM $src)""".stripMargin
    s"""WITH $knnAssignedBody,
      |surv AS MATERIALIZED (SELECT * FROM assigned WHERE vec_id % $mod <> 0),
      |${knnCte("knn_all", "assigned")},
      |${knnCte("knn_surv", "surv")},
      |rows_ AS (
      |  SELECT 'ivf_assignment' AS artifact,
      |    (SELECT CAST(count(*) AS BIGINT) FROM assigned) AS n_rows_before,
      |    (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_rows_after,
      |    (SELECT CAST(count(*) AS BIGINT) FROM surv
      |      WHERE vec_id % $mod = 0) AS n_refs_after,
      |    ${digest("ia:", s"CAST(vec_id AS VARCHAR)||':'||CAST(cell AS VARCHAR)", "surv")} AS content_hash
      |  UNION ALL
      |  SELECT 'knn_adjacency',
      |    (SELECT CAST(count(*) AS BIGINT) FROM knn_all),
      |    (SELECT CAST(count(*) AS BIGINT) FROM knn_surv),
      |    (SELECT CAST(count(*) AS BIGINT) FROM knn_surv
      |      WHERE src % $mod = 0 OR nbr % $mod = 0),
      |    ${digest("ka:", s"CAST(src AS VARCHAR)||':'||CAST(nbr AS VARCHAR)||':'||CAST(rank AS VARCHAR)", "knn_surv")}
      |  UNION ALL
      |  SELECT 'quantizer_params',
      |    (SELECT CAST(count(*) AS BIGINT) FROM cents),
      |    (SELECT CAST(count(*) AS BIGINT) FROM cents),
      |    (SELECT CAST(count(*) AS BIGINT) FROM cents
      |      WHERE cent_id % $mod = 0),
      |    ${digest("qp:", "CAST(cent_id AS VARCHAR)", "cents")})
      |SELECT artifact, n_rows_before, n_rows_after, n_refs_after,
      |  n_rows_before - n_rows_after AS n_dropped, content_hash
      |FROM rows_ ORDER BY artifact""".stripMargin
  }

  /** `e_txn_conflict` — key-level optimistic-concurrency validation:
    * writer A is the `e_merge_apply` mod-7 rule, writer B the mod-5 rule
    * on its own insert offset; write-write overlap is the coprime class
    * grid. Mirrors `ExtQueries.txnConflict`. */
  private lazy val txnConflictSql: String = {
    val off = ExtQueries.VariantIdOffset
    def writes(alias: String, mod: Long, insOff: Long, opCol: String): String =
      s"""$alias AS (SELECT
        |  CASE WHEN doc_id % $mod = 2 THEN doc_id + $insOff ELSE doc_id END AS key,
        |  CASE WHEN doc_id % $mod = 0 THEN 'D' WHEN doc_id % $mod = 1 THEN 'U'
        |       WHEN doc_id % $mod = 2 THEN 'I' END AS $opCol
        |  FROM documents WHERE doc_id % $mod IN (0, 1, 2))""".stripMargin
    s"""WITH ${writes("a", 7L, off, "a_op")},
      |${writes("b", ExtQueries.TxnBMod, 2L * off, "b_op")}
      |SELECT key AS doc_id, a_op, b_op,
      |  CASE WHEN a_op IS NOT NULL AND b_op IS NOT NULL THEN 'write_write'
      |       WHEN a_op IS NOT NULL THEN 'a_only' ELSE 'b_only' END
      |    AS conflict_type
      |FROM a FULL OUTER JOIN b USING (key)
      |ORDER BY doc_id""".stripMargin
  }

  /** `e_txn_rebase` — OCC auto-rebase: the oracle replays the SERIAL
    * copy-on-write history (base → A commits → B's non-conflicting ops
    * replay) where Spark runs two merge-on-read winner picks — the gate
    * pins rebased ≡ serial A-then-B′, the serializability argument.
    * Mirrors `ExtQueries.txnRebase`. */
  private lazy val txnRebaseSql: String = {
    val off = ExtQueries.VariantIdOffset
    def batch(alias: String, mod: Long, insOff: Long, up: String,
        ip: String, d: Long): String =
      s"""$alias AS MATERIALIZED (SELECT
        |  CASE WHEN m = 0 THEN 'D' WHEN m = 1 THEN 'U' ELSE 'I' END AS op,
        |  CASE WHEN m = 2 THEN doc_id + $insOff ELSE doc_id END AS doc_id,
        |  CASE WHEN m = 1 THEN '$up' || text
        |       WHEN m = 2 THEN '$ip' || text ELSE text END AS text,
        |  lang, source, n_chars + $d AS n_chars
        |  FROM (SELECT doc_id % $mod AS m, * FROM documents
        |        WHERE doc_id % $mod IN (0, 1, 2)) t)""".stripMargin
    s"""WITH ${batch("a", 7L, off, "upd:", "ins:", 4L)},
      |${batch("b", ExtQueries.TxnBMod, 2L * off, "ub:", "ib:",
        ExtQueries.TxnBCharsDelta)},
      |s1 AS MATERIALIZED (
      |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
      |  FROM documents d ANTI JOIN a USING (doc_id)
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars FROM a WHERE op <> 'D'),
      |br AS MATERIALIZED (SELECT b.* FROM b ANTI JOIN a USING (doc_id)),
      |s2 AS (
      |  SELECT s.doc_id, s.text, s.lang, s.source, s.n_chars
      |  FROM s1 s ANTI JOIN br USING (doc_id)
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars FROM br WHERE op <> 'D'),
      |cls AS (SELECT doc_id,
      |  CASE WHEN a_op IS NOT NULL AND b_op IS NOT NULL THEN 'b_retry'
      |       WHEN a_op IS NOT NULL THEN 'committed_a'
      |       ELSE 'committed_b' END AS outcome
      |  FROM (SELECT doc_id, op AS a_op FROM a) x
      |  FULL OUTER JOIN (SELECT doc_id, op AS b_op FROM b) y USING (doc_id))
      |SELECT doc_id, COALESCE(outcome, 'base') AS outcome,
      |  text, lang, source, n_chars
      |FROM s2 FULL OUTER JOIN cls USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  /** `e_txn_retry` — the OCC retry step: B's rejected ops re-derive
    * against the rebased snapshot's CURRENT preimages (composing the
    * graded `e_txn_rebase` SQL) and apply as a third serial merge; the
    * ledger refines `b_retry` into retried_update / retried_delete /
    * retry_noop. Mirrors `ExtQueries.txnRetry`. */
  private lazy val txnRetrySql: String = {
    val m = ExtQueries.TxnBMod
    val d = ExtQueries.TxnBCharsDelta
    s"""WITH rb AS MATERIALIZED (SELECT * FROM ($txnRebaseSql) t),
      |rt AS (SELECT doc_id,
      |    CASE WHEN doc_id % $m = 0 THEN 'D' ELSE 'U' END AS op,
      |    text, lang, source, n_chars
      |  FROM rb WHERE outcome = 'b_retry'),
      |retried AS MATERIALIZED (SELECT op, doc_id,
      |    CASE WHEN op = 'U' THEN 'ub:' || text ELSE text END AS text,
      |    lang, source,
      |    CASE WHEN op = 'U' THEN n_chars + $d ELSE n_chars END AS n_chars
      |  FROM rt WHERE text IS NOT NULL),
      |s3 AS (
      |  SELECT s.doc_id, s.text, s.lang, s.source, s.n_chars
      |  FROM (SELECT doc_id, text, lang, source, n_chars FROM rb
      |        WHERE text IS NOT NULL) s
      |  ANTI JOIN retried USING (doc_id)
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars FROM retried
      |  WHERE op <> 'D'),
      |led AS (SELECT doc_id,
      |  CASE WHEN outcome <> 'b_retry' THEN outcome
      |       WHEN text IS NULL THEN 'retry_noop'
      |       WHEN doc_id % $m = 0 THEN 'retried_delete'
      |       ELSE 'retried_update' END AS outcome
      |  FROM rb)
      |SELECT doc_id, COALESCE(outcome, 'base') AS outcome,
      |  text, lang, source, n_chars
      |FROM s3 FULL OUTER JOIN led USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  /** `e_change_feed` — the CDF read: the oracle classifies each change
    * batch against the SEQUENTIAL replay's previous snapshot (`b{v}` ×
    * `s{v-1}`) where Spark joins the whole log against merge-on-read
    * winners — the two table-format read strategies certify the same
    * feed. Mirrors `ExtQueries.changeFeed`. */
  private lazy val changeFeedSql: String = {
    def block(v: Int): String =
      s"""SELECT CAST($v AS BIGINT) AS version, 'insert' AS change_type,
        |  doc_id, text, lang, source, n_chars FROM b$v WHERE op = 'I'
        |UNION ALL
        |SELECT $v, 'update_postimage', doc_id, text, lang, source, n_chars
        |FROM b$v WHERE op = 'U'
        |UNION ALL
        |SELECT $v, 'update_preimage', s.doc_id, s.text, s.lang, s.source,
        |  s.n_chars
        |FROM b$v c JOIN s${v - 1} s USING (doc_id) WHERE c.op = 'U'
        |UNION ALL
        |SELECT $v, 'delete', s.doc_id, s.text, s.lang, s.source, s.n_chars
        |FROM b$v c JOIN s${v - 1} s USING (doc_id) WHERE c.op = 'D'""".stripMargin
    s"""WITH $timeTravelCtes
      |${(1 to ExtQueries.TimeTravelVersions).map(block).mkString("\nUNION ALL\n")}
      |ORDER BY version, doc_id, change_type""".stripMargin
  }

  /** `e_feed_apply` — the change-feed consumer's gate IS the oracle: the
    * Spark side MAINTAINS the (lang, source) aggregate by folding signed
    * feed deltas into the version-0 partials, while this SQL RECOMPUTES
    * every version's aggregate from the sequential replay's AS-OF
    * snapshot — the hash match proves maintained ≡ recomputed at every
    * version. Mirrors `ExtQueries.feedApply`. */
  private lazy val feedApplySql: String = {
    def blk(v: Int): String =
      s"""SELECT CAST($v AS BIGINT) AS version, lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
        |FROM s$v GROUP BY lang, source""".stripMargin
    s"""WITH $timeTravelCtes
      |${(0 to ExtQueries.TimeTravelVersions).map(blk).mkString("\nUNION ALL\n")}
      |ORDER BY version, lang, source""".stripMargin
  }

  /** `e_txn_readset` — backward read-set validation over the write-skew
    * fixture: writer A's ledger from the shared mod-7 rule, writer B's
    * derived writes from the declared 2-key read set, the stale flag one
    * key-join of read partners against A's committed base-key writes.
    * Mirrors `ExtQueries.txnReadset`. */
  private lazy val txnReadsetSql: String = {
    val off = ExtQueries.VariantIdOffset
    val bc = ExtQueries.TxnReadsetBClass
    s"""WITH trd AS MATERIALIZED (SELECT doc_id, n_chars FROM documents),
      |tra AS (SELECT
      |    CASE WHEN doc_id % 7 = 2 THEN doc_id + $off ELSE doc_id END
      |      AS doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'D' WHEN doc_id % 7 = 1 THEN 'U'
      |      ELSE 'I' END AS op,
      |    CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS BIGINT)
      |      ELSE n_chars + 4 END AS n_chars_written
      |  FROM trd WHERE doc_id % 7 IN (0, 1, 2)),
      |trw AS (SELECT doc_id AS w FROM trd WHERE doc_id % 7 IN (0, 1)),
      |trb AS (SELECT doc_id, n_chars,
      |    CASE WHEN doc_id % 2 = 0 THEN doc_id + 1 ELSE doc_id - 2 END
      |      AS partner_id
      |  FROM trd WHERE doc_id % 7 = $bc),
      |trv AS (SELECT b.doc_id, b.partner_id,
      |    b.n_chars + p.n_chars AS n_chars_written,
      |    w.w IS NOT NULL AS read_stale
      |  FROM trb b JOIN trd p ON p.doc_id = b.partner_id
      |  LEFT JOIN trw w ON b.partner_id = w.w)
      |SELECT doc_id, 'a' AS writer, op, CAST(NULL AS BIGINT) AS partner_id,
      |  n_chars_written, FALSE AS read_stale, 'committed_a' AS outcome
      |FROM tra
      |UNION ALL
      |SELECT doc_id, 'b', 'U', partner_id, n_chars_written, read_stale,
      |  CASE WHEN read_stale THEN 'ssi_abort' ELSE 'committed_b' END
      |FROM trv
      |ORDER BY doc_id, writer""".stripMargin
  }

  /** `e_stats_staleness` — the ANALYZE-lifecycle audit: the graded
    * `e_range_estimate` rows as the stale stats, every version's actuals
    * from the sequential replay, churn counters from the batch CTEs.
    * Mirrors `ExtQueries.statsStaleness`. */
  private lazy val statsStalenessSql: String = {
    val n = ExtQueries.TimeTravelVersions
    val tn = ExtQueries.StalenessThresholdNum
    val td = ExtQueries.StalenessThresholdDen
    val actBlocks = (0 to n).map(v =>
      s"""SELECT CAST($v AS BIGINT) AS version, r.range_id,
        |  CAST(count(*) AS BIGINT) AS n_actual
        |FROM s$v d JOIN sse r ON d.n_chars >= r.qlo AND d.n_chars <= r.qhi
        |GROUP BY 1, 2""".stripMargin).mkString("\nUNION ALL\n")
    val churnVals = (0 to n).map(v =>
      if (v == 0)
        "SELECT CAST(0 AS BIGINT) AS version, CAST(0 AS BIGINT) AS n_ch"
      else
        s"SELECT CAST($v AS BIGINT), (SELECT CAST(count(*) AS BIGINT) FROM b$v)")
      .mkString("\nUNION ALL\n")
    s"""WITH $timeTravelCtes,
      |sse AS MATERIALIZED (SELECT range_id, qlo, qhi, n_est
      |  FROM ($rangeEstimateSql) z),
      |ssa AS ($actBlocks),
      |ssc AS ($churnVals),
      |ssn AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM documents),
      |ssu AS (SELECT v.version, CAST(sum(c.n_ch) AS BIGINT) AS churn_cum
      |  FROM ssc v JOIN ssc c ON c.version <= v.version GROUP BY 1)
      |SELECT u.version, e.range_id, e.qlo, e.qhi, e.n_est AS n_est_stale,
      |  COALESCE(a.n_actual, 0) AS n_actual,
      |  CASE WHEN COALESCE(a.n_actual, 0) = 0 THEN NULL
      |    ELSE e.n_est / CAST(a.n_actual AS DOUBLE) END AS err_stale,
      |  u.churn_cum,
      |  CAST(u.churn_cum AS DOUBLE) / CAST(nn.n0 AS DOUBLE) AS churn_ratio,
      |  u.churn_cum * $td >= nn.n0 * $tn AS reanalyze
      |FROM ssu u CROSS JOIN sse e
      |LEFT JOIN ssa a ON a.version = u.version AND a.range_id = e.range_id
      |CROSS JOIN ssn nn
      |ORDER BY u.version, e.range_id""".stripMargin
  }

  /** `e_feed_apply_minmax` — the retractable-extremum maintainer's gate:
    * the Spark side maintains max/min lazily (monoid fold + re-scan when
    * a retraction carries the current extremum), while this SQL
    * RECOMPUTES every version's extrema from the sequential replay's
    * AS-OF snapshot and derives the trigger flags from the per-version
    * retraction aggregates against the PREVIOUS version's recomputed
    * extrema — the hash match proves maintained ≡ recomputed at every
    * version and that both engines agree on when the re-scan fires.
    * Mirrors `ExtQueries.feedApplyMinmax`. */
  private lazy val feedApplyMinmaxSql: String = {
    def ext(v: Int): String =
      s"""fx$v AS MATERIALIZED (SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  max(n_chars) AS max_chars, min(n_chars) AS min_chars
        |  FROM s$v GROUP BY 1, 2)""".stripMargin
    def retr(v: Int): String =
      s"""fr$v AS (SELECT s.lang, s.source,
        |  max(s.n_chars) AS retr_max, min(s.n_chars) AS retr_min
        |  FROM b$v c JOIN s${v - 1} s USING (doc_id)
        |  WHERE c.op IN ('U', 'D') GROUP BY 1, 2)""".stripMargin
    def blk(v: Int): String =
      s"""SELECT CAST($v AS BIGINT) AS version, x.lang, x.source, x.n_docs,
        |  x.max_chars, x.min_chars,
        |  CAST(CASE WHEN r.retr_max = p.max_chars THEN 1 ELSE 0 END
        |     + CASE WHEN r.retr_min = p.min_chars THEN 1 ELSE 0 END
        |    AS BIGINT) AS rescans
        |FROM fx$v x LEFT JOIN fx${v - 1} p USING (lang, source)
        |LEFT JOIN fr$v r USING (lang, source)""".stripMargin
    val n = ExtQueries.TimeTravelVersions
    s"""WITH $timeTravelCtes,
      |${(0 to n).map(ext).mkString(",\n")},
      |${(1 to n).map(retr).mkString(",\n")}
      |SELECT CAST(0 AS BIGINT) AS version, lang, source, n_docs,
      |  max_chars, min_chars, CAST(0 AS BIGINT) AS rescans FROM fx0
      |UNION ALL
      |${(1 to n).map(blk).mkString("\nUNION ALL\n")}
      |ORDER BY version, lang, source""".stripMargin
  }

  /** `e_mv_rewrite` — the rollup-match MV rewrite: both the rewritten
    * and the direct answer derived from the sequential replay's final
    * snapshot (where Spark's rewrite path reads its FOLD-maintained
    * state — the cross-certification). Mirrors `ExtQueries.mvRewrite`. */
  private lazy val mvRewriteSql: String = {
    val n = ExtQueries.TimeTravelVersions
    s"""WITH $timeTravelCtes,
      |mvv AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM s$n GROUP BY 1, 2),
      |mvr AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs_rw,
      |    CAST(sum(sum_chars) AS BIGINT) AS sum_chars_rw
      |  FROM mvv GROUP BY 1),
      |mvd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_direct,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars_direct
      |  FROM s$n GROUP BY 1)
      |SELECT lang, n_docs_rw, sum_chars_rw,
      |  CAST(sum_chars_rw AS DOUBLE) / CAST(n_docs_rw AS DOUBLE)
      |    AS avg_chars_rw,
      |  n_docs_direct, sum_chars_direct,
      |  n_docs_rw = n_docs_direct AND sum_chars_rw = sum_chars_direct
      |    AS rewrite_ok
      |FROM mvr FULL JOIN mvd USING (lang)
      |ORDER BY lang""".stripMargin
  }

  /** `e_range_estimate` — the equi-width-histogram range-selectivity
    * audit: the estimate is the exact int64 rational est_num/w (uniform-
    * within-bucket interpolation with integer overlaps), the actual a
    * real count. Mirrors `ExtQueries.rangeEstimate`. */
  private lazy val rangeEstimateSql: String = {
    val b = ExtQueries.RangeEstBuckets
    s"""WITH bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi,
      |    (max(n_chars) - min(n_chars) + $b) // $b AS wd
      |  FROM documents),
      |hist AS (SELECT (d.n_chars - bo.lo) // bo.wd AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents d, bounds bo GROUP BY 1),
      |ranges AS (
      |  SELECT '1_narrow' AS range_id,
      |    lo + ((hi - lo + 1) * 1) // 10 AS qlo,
      |    lo + ((hi - lo + 1) * 2) // 10 AS qhi FROM bounds
      |  UNION ALL SELECT '2_half',
      |    lo + (hi - lo + 1) // 4, lo + ((hi - lo + 1) * 3) // 4 FROM bounds
      |  UNION ALL SELECT '3_edge',
      |    hi - (hi - lo + 1) // 20, hi FROM bounds),
      |est AS (SELECT r.range_id, r.qlo, r.qhi, bo.wd,
      |    CAST(sum(h.cnt * greatest(0,
      |      least(r.qhi, bo.lo + (h.bucket + 1) * bo.wd - 1)
      |      - greatest(r.qlo, bo.lo + h.bucket * bo.wd) + 1)) AS BIGINT)
      |      AS est_num
      |  FROM hist h, ranges r, bounds bo
      |  GROUP BY 1, 2, 3, 4),
      |actual AS (SELECT r.range_id, CAST(count(*) AS BIGINT) AS n_actual
      |  FROM documents d JOIN ranges r
      |    ON d.n_chars >= r.qlo AND d.n_chars <= r.qhi
      |  GROUP BY 1)
      |SELECT e.range_id, e.qlo, e.qhi, e.est_num,
      |  CAST(e.est_num AS DOUBLE) / CAST(e.wd AS DOUBLE) AS n_est,
      |  COALESCE(a.n_actual, 0) AS n_actual,
      |  CASE WHEN COALESCE(a.n_actual, 0) = 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE (CAST(e.est_num AS DOUBLE) / CAST(e.wd AS DOUBLE))
      |      / CAST(a.n_actual AS DOUBLE) END AS err_ratio
      |FROM est e LEFT JOIN actual a USING (range_id)
      |ORDER BY range_id""".stripMargin
  }

  /** `e_range_estimate_eqd` — the equi-depth fix: boundaries are exact
    * ⌈q·n⌉ rank-selection quantiles (the `e_lm_buckets` device, global),
    * per-bucket interpolation uses the OBSERVED [min, max] and the exact
    * fixed-point rational Σ⌊cnt·overlap·2²⁰/width⌋; the equi-width
    * columns compose the graded `e_range_estimate` SQL. Mirrors
    * `ExtQueries.rangeEstimateEqd`. */
  private lazy val rangeEstimateEqdSql: String = {
    val b = ExtQueries.RangeEstEqdBuckets
    val s = ExtQueries.RangeEstFpScale
    val qexprs = (1 until b).map(i =>
      s"max(CASE WHEN rn = ceil(n * ${i.toDouble / b}) THEN n_chars END) AS t$i")
      .mkString(",\n|  ")
    val bucketExpr = (1 until b).map(i => s"CAST(d.n_chars > t.t$i AS INT)")
      .mkString(" + ")
    s"""WITH eqw AS MATERIALIZED (SELECT range_id, qlo, qhi,
      |    n_est AS n_est_eqw, n_actual, err_ratio AS err_eqw
      |  FROM ($rangeEstimateSql) w),
      |r AS (SELECT n_chars,
      |    row_number() OVER (ORDER BY n_chars) AS rn,
      |    count(*) OVER () AS n
      |  FROM documents),
      |thr AS (SELECT
      |  $qexprs
      |  FROM r),
      |bst AS (SELECT 1 + $bucketExpr AS bucket,
      |    CAST(count(*) AS BIGINT) AS cnt,
      |    min(d.n_chars) AS v_lo, max(d.n_chars) AS v_hi
      |  FROM documents d, thr t GROUP BY 1),
      |est AS (SELECT e.range_id,
      |    CAST(sum((b.cnt * greatest(0, least(e.qhi, b.v_hi)
      |      - greatest(e.qlo, b.v_lo) + 1) * $s) // (b.v_hi - b.v_lo + 1))
      |      AS BIGINT) AS est_fp
      |  FROM bst b, eqw e GROUP BY 1)
      |SELECT w.range_id, w.qlo, w.qhi, w.n_est_eqw,
      |  CAST(e.est_fp AS DOUBLE) / $s AS n_est_eqd,
      |  w.n_actual, w.err_eqw,
      |  CASE WHEN w.n_actual = 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE (CAST(e.est_fp AS DOUBLE) / $s) / CAST(w.n_actual AS DOUBLE)
      |  END AS err_eqd
      |FROM eqw w JOIN est e USING (range_id)
      |ORDER BY range_id""".stripMargin
  }

  /** `e_join_order` — the order-selection audit: per-dim selectivities as
    * single divides of exact counts, each prefix estimate a
    * LEFT-ASSOCIATIVE double product written identically to the Spark
    * side (IEEE products are order-sensitive), actual costs exact counts
    * from one flagged lineitem pass. Mirrors `ExtQueries.joinOrder`. */
  private lazy val joinOrderSql: String = {
    def rs(d: Char) = s"(CAST(kept_$d AS DOUBLE) / CAST(tot_$d AS DOUBLE))"
    def est(p: String) = {
      val Seq(a, b, c) = p.map(rs).toSeq
      s"CAST(n_l AS DOUBLE) * $a + CAST(n_l AS DOUBLE) * $a * $b" +
        s" + CAST(n_l AS DOUBLE) * $a * $b * $c"
    }
    def act(p: String) =
      s"c_${p.take(1).sorted} + c_${p.take(2).sorted} + c_${p.sorted}"
    val perms = Seq("pso", "pos", "spo", "sop", "ops", "osp")
    val rows = perms.map(p =>
      s"SELECT '$p' AS perm, ${est(p)} AS est_cost, ${act(p)} AS actual_cost" +
        " FROM onerow").mkString("\n|  UNION ALL ")
    s"""WITH pth AS (SELECT min(p_size)
      |    + (max(p_size) - min(p_size) + 1) // 5 AS tp FROM part),
      |sth AS (SELECT min(s_nationkey)
      |    + (max(s_nationkey) - min(s_nationkey) + 1) // 3 AS tn
      |  FROM supplier),
      |oth AS (SELECT min(CAST(o_orderdate AS DATE))
      |    + CAST((datediff('day', min(CAST(o_orderdate AS DATE)),
      |        max(CAST(o_orderdate AS DATE))) * 2) // 5 AS INT) AS td
      |  FROM orders),
      |pst AS (SELECT CAST(sum(CASE WHEN p_size <= tp THEN 1 ELSE 0 END)
      |    AS BIGINT) AS kept_p, CAST(count(*) AS BIGINT) AS tot_p
      |  FROM part, pth),
      |sst AS (SELECT CAST(sum(CASE WHEN s_nationkey <= tn THEN 1 ELSE 0 END)
      |    AS BIGINT) AS kept_s, CAST(count(*) AS BIGINT) AS tot_s
      |  FROM supplier, sth),
      |ost AS (SELECT CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) <= td THEN 1 ELSE 0 END)
      |    AS BIGINT) AS kept_o, CAST(count(*) AS BIGINT) AS tot_o
      |  FROM orders, oth),
      |fl AS (SELECT
      |    CASE WHEN l_partkey IN (SELECT p_partkey FROM part, pth
      |      WHERE p_size <= tp) THEN 1 ELSE 0 END AS fp,
      |    CASE WHEN l_suppkey IN (SELECT s_suppkey FROM supplier, sth
      |      WHERE s_nationkey <= tn) THEN 1 ELSE 0 END AS fs,
      |    CASE WHEN l_orderkey IN (SELECT o_orderkey FROM orders, oth
      |      WHERE CAST(o_orderdate AS DATE) <= td) THEN 1 ELSE 0 END AS fo
      |  FROM lineitem),
      |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_l,
      |    CAST(sum(fp) AS BIGINT) AS c_p, CAST(sum(fs) AS BIGINT) AS c_s,
      |    CAST(sum(fo) AS BIGINT) AS c_o,
      |    CAST(sum(fp * fs) AS BIGINT) AS c_ps,
      |    CAST(sum(fo * fp) AS BIGINT) AS c_op,
      |    CAST(sum(fo * fs) AS BIGINT) AS c_os,
      |    CAST(sum(fo * fp * fs) AS BIGINT) AS c_ops
      |  FROM fl),
      |onerow AS (SELECT * FROM cnt, pst, sst, ost),
      |rows_ AS (
      |  $rows)
      |SELECT perm, est_cost, actual_cost,
      |  est_cost = (SELECT min(est_cost) FROM rows_) AS chosen_by_est,
      |  actual_cost = (SELECT min(actual_cost) FROM rows_)
      |    AS cheapest_actual
      |FROM rows_ ORDER BY perm""".stripMargin
  }

  /** `e_corr_estimate` — the correlated-conjunction audit: exact ⌈n/2⌉
    * rank medians, exact per-column selectivities for the independence
    * estimate, and the B² two-column histogram priced by two-axis
    * fixed-point interpolation. Mirrors `ExtQueries.corrEstimate`. */
  private lazy val corrEstimateSql: String = {
    val b = ExtQueries.RangeEstBuckets
    val s = ExtQueries.RangeEstFpScale
    s"""WITH t AS MATERIALIZED (SELECT n_chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |r AS (SELECT n_chars, n_tokens,
      |    row_number() OVER (ORDER BY n_chars) AS ra,
      |    row_number() OVER (ORDER BY n_tokens) AS rb,
      |    count(*) OVER () AS n
      |  FROM t),
      |thr AS (SELECT
      |    max(CASE WHEN ra = ceil(n * 0.5) THEN n_chars END) AS tc,
      |    max(CASE WHEN rb = ceil(n * 0.5) THEN n_tokens END) AS tt
      |  FROM r),
      |bo AS (SELECT min(n_chars) AS loa, max(n_chars) AS hia,
      |    min(n_tokens) AS lob, max(n_tokens) AS hib,
      |    (max(n_chars) - min(n_chars) + $b) // $b AS wa,
      |    (max(n_tokens) - min(n_tokens) + $b) // $b AS wb
      |  FROM t),
      |g AS (SELECT (t.n_chars - bo.loa) // bo.wa AS i,
      |    (t.n_tokens - bo.lob) // bo.wb AS j,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM t, bo GROUP BY 1, 2),
      |est AS (SELECT CAST(sum((g.cnt
      |    * greatest(0, least(bo.loa + (g.i + 1) * bo.wa - 1, bo.hia)
      |        - greatest(bo.loa + g.i * bo.wa, thr.tc) + 1)
      |    * greatest(0, least(bo.lob + (g.j + 1) * bo.wb - 1, bo.hib)
      |        - greatest(bo.lob + g.j * bo.wb, thr.tt) + 1)
      |    * $s) // (bo.wa * bo.wb)) AS BIGINT) AS est_fp
      |  FROM g, bo, thr),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN n_chars >= tc THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_a,
      |    CAST(sum(CASE WHEN n_tokens >= tt THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_b,
      |    CAST(sum(CASE WHEN n_chars >= tc AND n_tokens >= tt
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_actual
      |  FROM t, thr)
      |SELECT st.n_rows, thr.tc AS t_chars, thr.tt AS t_tokens,
      |  st.c_a, st.c_b, st.n_actual,
      |  CAST(st.c_a * st.c_b AS DOUBLE) / CAST(st.n_rows AS DOUBLE)
      |    AS n_est_indep,
      |  CASE WHEN st.n_actual = 0 THEN NULL
      |    ELSE (CAST(st.c_a * st.c_b AS DOUBLE) / CAST(st.n_rows AS DOUBLE))
      |      / CAST(st.n_actual AS DOUBLE) END AS err_indep,
      |  CAST(e.est_fp AS DOUBLE) / $s AS n_est_joint,
      |  CASE WHEN st.n_actual = 0 THEN NULL
      |    ELSE (CAST(e.est_fp AS DOUBLE) / $s) / CAST(st.n_actual AS DOUBLE)
      |    END AS err_joint
      |FROM st, thr, est e""".stripMargin
  }

  /** `e_card_feedback` — LEO-style cardinality feedback: COMPOSES the
    * graded `e_corr_estimate` SQL for the observed (actual, estimate)
    * pair, learns adj = actual/est, prices the upper-quartile
    * conjunction by independence, feedback and the B² grid. Exact
    * ⌈3n/4⌉ rank thresholds; expression order mirrors
    * `ExtQueries.cardFeedback`. */
  private lazy val cardFeedbackSql: String = {
    val b = ExtQueries.RangeEstBuckets
    val s = ExtQueries.RangeEstFpScale
    s"""WITH cf0 AS MATERIALIZED (SELECT n_actual AS obs_actual,
      |    n_est_indep AS obs_est
      |  FROM ($corrEstimateSql) z),
      |cf1 AS MATERIALIZED (SELECT n_chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |cfr AS (SELECT n_chars, n_tokens,
      |    row_number() OVER (ORDER BY n_chars) AS ra,
      |    row_number() OVER (ORDER BY n_tokens) AS rb,
      |    count(*) OVER () AS n
      |  FROM cf1),
      |cft AS (SELECT
      |    max(CASE WHEN ra = ceil(n * 0.75) THEN n_chars END) AS tc,
      |    max(CASE WHEN rb = ceil(n * 0.75) THEN n_tokens END) AS tt
      |  FROM cfr),
      |cfb AS (SELECT min(n_chars) AS loa, max(n_chars) AS hia,
      |    min(n_tokens) AS lob, max(n_tokens) AS hib,
      |    (max(n_chars) - min(n_chars) + $b) // $b AS wa,
      |    (max(n_tokens) - min(n_tokens) + $b) // $b AS wb
      |  FROM cf1),
      |cfg AS (SELECT (t.n_chars - bo.loa) // bo.wa AS i,
      |    (t.n_tokens - bo.lob) // bo.wb AS j,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM cf1 t, cfb bo GROUP BY 1, 2),
      |cfe AS (SELECT CAST(sum((g.cnt
      |    * greatest(0, least(bo.loa + (g.i + 1) * bo.wa - 1, bo.hia)
      |        - greatest(bo.loa + g.i * bo.wa, thr.tc) + 1)
      |    * greatest(0, least(bo.lob + (g.j + 1) * bo.wb - 1, bo.hib)
      |        - greatest(bo.lob + g.j * bo.wb, thr.tt) + 1)
      |    * $s) // (bo.wa * bo.wb)) AS BIGINT) AS est_fp
      |  FROM cfg g, cfb bo, cft thr),
      |cfs AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN n_chars >= tc THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_a75,
      |    CAST(sum(CASE WHEN n_tokens >= tt THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_b75,
      |    CAST(sum(CASE WHEN n_chars >= tc AND n_tokens >= tt
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_actual75
      |  FROM cf1, cft)
      |SELECT s.n_rows, thr.tc AS t_chars75, thr.tt AS t_tokens75,
      |  s.c_a75, s.c_b75, s.n_actual75,
      |  CAST(o.obs_actual AS DOUBLE) / o.obs_est AS adj,
      |  CAST(s.c_a75 * s.c_b75 AS DOUBLE) / CAST(s.n_rows AS DOUBLE)
      |    AS n_est_indep75,
      |  CASE WHEN s.n_actual75 = 0 THEN NULL
      |    ELSE (CAST(s.c_a75 * s.c_b75 AS DOUBLE) / CAST(s.n_rows AS DOUBLE))
      |      / CAST(s.n_actual75 AS DOUBLE) END AS err_indep75,
      |  (CAST(s.c_a75 * s.c_b75 AS DOUBLE) / CAST(s.n_rows AS DOUBLE))
      |    * (CAST(o.obs_actual AS DOUBLE) / o.obs_est) AS n_est_fb,
      |  CASE WHEN s.n_actual75 = 0 THEN NULL
      |    ELSE ((CAST(s.c_a75 * s.c_b75 AS DOUBLE) / CAST(s.n_rows AS DOUBLE))
      |      * (CAST(o.obs_actual AS DOUBLE) / o.obs_est))
      |      / CAST(s.n_actual75 AS DOUBLE) END AS err_fb,
      |  CAST(e.est_fp AS DOUBLE) / $s AS n_est_joint75,
      |  CASE WHEN s.n_actual75 = 0 THEN NULL
      |    ELSE (CAST(e.est_fp AS DOUBLE) / $s) / CAST(s.n_actual75 AS DOUBLE)
      |    END AS err_joint75
      |FROM cfs s, cft thr, cfe e, cf0 o""".stripMargin
  }

  /** `e_join_order_hist` — histogram-driven join ordering: COMPOSES the
    * graded `e_corr_estimate` SQL text for the thresholds, exact 1-D
    * counts and the 2-D grid estimate, adds the lang-containing prefix
    * counts from one flags pass, then prices the six permutations both
    * ways as generated UNION ALL rows (the `e_join_order` device).
    * Expression nesting mirrors `ExtQueries.joinOrderHist` exactly —
    * left-associative IEEE products/sums. */
  private lazy val joinOrderHistSql: String = {
    def sS(d: Char) = s"(CAST(jo.c_$d AS DOUBLE) / CAST(jo.n_rows AS DOUBLE))"
    def e1(p: String) = s"(CAST(jo.n_rows AS DOUBLE) * ${sS(p(0))})"
    def e2i(p: String) = s"(${e1(p)} * ${sS(p(1))})"
    val rows = ExtQueries.JoinOrderHistPerms.map { p =>
      val ei = s"${e1(p)} + ${e2i(p)} + (${e2i(p)} * ${sS(p(2))})"
      val e2h = if (Set(p(0), p(1)) == Set('c', 't')) "jo.g" else e2i(p)
      val eh = s"${e1(p)} + $e2h + (jo.g * ${sS('l')})"
      val act = s"jo.c_${p.take(1)} + jo.c_${p.take(2).sorted} + jo.c_clt"
      s"""SELECT '$p' AS perm, $ei AS est_indep, $eh AS est_hist,
        |    CAST($act AS BIGINT) AS actual_cost FROM jo""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH jh0 AS MATERIALIZED (SELECT n_rows, t_chars, t_tokens,
      |    c_a AS c_c, c_b AS c_t, n_actual AS c_ct, n_est_joint AS g
      |  FROM ($corrEstimateSql) z),
      |jh1 AS (SELECT n_chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      |      AS n_tokens, lang
      |  FROM documents),
      |jh2 AS (SELECT
      |    CAST(sum(CASE WHEN lang <> '${ExtQueries.JoinOrderHistLang}'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c_l,
      |    CAST(sum(CASE WHEN n_chars >= t_chars
      |      AND lang <> '${ExtQueries.JoinOrderHistLang}'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c_cl,
      |    CAST(sum(CASE WHEN n_tokens >= t_tokens
      |      AND lang <> '${ExtQueries.JoinOrderHistLang}'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c_lt,
      |    CAST(sum(CASE WHEN n_chars >= t_chars AND n_tokens >= t_tokens
      |      AND lang <> '${ExtQueries.JoinOrderHistLang}'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c_clt
      |  FROM jh1, jh0),
      |jo AS MATERIALIZED (SELECT * FROM jh0, jh2),
      |rows_h AS MATERIALIZED (
      |  $rows)
      |SELECT perm, est_indep, est_hist, actual_cost,
      |  est_indep = (SELECT min(est_indep) FROM rows_h) AS chosen_by_indep,
      |  est_hist = (SELECT min(est_hist) FROM rows_h) AS chosen_by_hist,
      |  actual_cost = (SELECT min(actual_cost) FROM rows_h)
      |    AS cheapest_actual
      |FROM rows_h ORDER BY perm""".stripMargin
  }

  /** `e_schema_evolve` — the column-mapping merged read as one projection
    * union: generation-0 rows serve the added column as NULL and their old
    * physical name under the renamed logical one. Mirrors
    * `ExtQueries.schemaEvolve`. */
  private lazy val schemaEvolveSql: String = {
    val m = ExtQueries.SchemaEvolveGenMod
    val lm = ExtQueries.SchemaEvolveLongMin
    s"""SELECT doc_id, CAST(0 AS BIGINT) AS generation, text, lang, source,
      |  n_chars AS length_chars, CAST(NULL AS VARCHAR) AS quality_tag
      |FROM documents WHERE doc_id % $m = 0
      |UNION ALL
      |SELECT doc_id, 1, text, lang, source, n_chars,
      |  CASE WHEN n_chars >= $lm THEN 'long' ELSE 'short' END
      |FROM documents WHERE doc_id % $m = 1
      |ORDER BY doc_id""".stripMargin
  }

  /** `e_index_retrain` — the retrain hook closing `e_index_delete`'s
    * honest `quantizer_params` residual: the survivor corpus re-seeds the
    * SAME spherical-Lloyd chain (the `kmeansChainCtes` device bound to
    * `svecs`/`scents{t}` names), and the re-audit rows compare the
    * post-delete substrate (seed quantizer over survivors) with the
    * post-retrain one, plus the `e_serve_drift` overlap row. Every CTE
    * mirrors its `ExtQueries.indexRetrain` twin; digests are the
    * order-invariant md5-hash31 sums, with the centroid digest hashing the
    * exact integer c_fp parameter vectors. */
  private lazy val indexRetrainSql: String = {
    val mod = ExtQueries.DeleteEveryMod
    val K = ExtQueries.KmeansIters
    val cells = ExtQueries.IvfCells
    val dot = """list_reduce(list_transform(list_zip(q.qe, a.e),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)""".stripMargin
    // max-cosine hard assignment of the survivor corpus against a named
    // centroid table → `<p>asg` (vec_id, e, nrm, cell)
    def assignOver(p: String, cents: String): String =
      s"""${p}sims AS (SELECT v.vec_id, v.e, v.nrm, c.cent_id,
        |  list_reduce(list_transform(list_zip(v.e, c.ce),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc,x) -> acc+x)
        |    / (v.nrm * c.ncent) AS csim
        |  FROM svecs v, $cents c),
        |${p}asg AS (SELECT vec_id, e, nrm, cent_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY csim DESC, cent_id ASC) AS crank FROM ${p}sims)
        |  WHERE crank = 1)""".stripMargin
    // one survivor Lloyd round: assign against scents{t}, update, rebuild
    def round(t: Int): String =
      s"""${assignOver(s"s$t", s"scents$t")},
        |scomp$t AS (SELECT cell, generate_subscripts(e, 1) - 1 AS dim,
        |  CAST(unnest(e) AS DOUBLE) / nrm AS u
        |  FROM s${t}asg WHERE nrm > 0),
        |supd$t AS (SELECT cell, dim, count(*) AS n_members,
        |  CAST(SUM(CAST(floor(u * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS c_fp
        |  FROM scomp$t GROUP BY cell, dim),
        |scvec$t AS (SELECT cell AS cent_id,
        |  list(CAST(c_fp AS DOUBLE) ORDER BY dim) AS ce
        |  FROM supd$t GROUP BY cell),
        |scents${t + 1} AS (SELECT * FROM (SELECT cent_id, ce,
        |  sqrt(list_reduce(list_transform(ce, x -> x * x), (acc, y) -> acc + y))
        |    AS ncent FROM scvec$t) WHERE ncent > 0)""".stripMargin
    // IVF serve (nprobe 1, top 10) of the survivor queries from a named
    // assignment → `<p>list`
    def serve(p: String, asg: String): String =
      s"""${p}q AS (SELECT vec_id AS qid, e AS qe, nrm AS nq, cell
        |  FROM $asg WHERE vec_id < 8),
        |${p}scored AS (SELECT q.qid, a.vec_id AS cid,
        |  $dot / (q.nq * a.nrm) AS score
        |  FROM $asg a JOIN ${p}q q ON a.cell = q.cell AND a.vec_id <> q.qid),
        |${p}list AS MATERIALIZED (SELECT qid, cid, rank FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, cid ASC) AS rank FROM ${p}scored) r
        |  WHERE rank <= 10)""".stripMargin
    def digest(prefix: String, expr: String, src: String): String =
      s"""(SELECT CAST(COALESCE(sum(
        |    CAST('0x'||substr(md5('$prefix'||$expr),1,15) AS BIGINT) % $P),
        |    0) AS BIGINT) FROM $src)""".stripMargin
    s"""WITH svecs AS MATERIALIZED (SELECT vec_id, embedding AS e,
      |  sqrt(list_reduce(list_transform(embedding,
      |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (acc,x) -> acc+x)) AS nrm
      |  FROM embeddings WHERE vec_id % $mod <> 0),
      |scents1 AS (SELECT vec_id AS cent_id, e AS ce, nrm AS ncent
      |  FROM svecs ORDER BY vec_id LIMIT $cells),
      |bcents AS (SELECT vec_id AS cent_id, embedding AS ce,
      |  sqrt(list_reduce(list_transform(embedding,
      |    v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (acc,x) -> acc+x)) AS ncent
      |  FROM embeddings WHERE vec_id < $cells),
      |${(1 to K).map(round).mkString(",\n")},
      |${assignOver(s"s${K + 1}", s"scents${K + 1}")},
      |${assignOver("b", "bcents")},
      |${knnAdjCte("knn_b", "basg")},
      |${knnAdjCte("knn_a", s"s${K + 1}asg")},
      |${serve("b", "basg")},
      |${serve("t", s"s${K + 1}asg")},
      |ovl AS (SELECT CAST(count(*) AS DOUBLE)
      |    / (CAST((SELECT count(DISTINCT qid) FROM blist) AS DOUBLE) * 10.0)
      |    AS overlap_at_10
      |  FROM blist b SEMI JOIN tlist t USING (qid, cid)),
      |rows_ AS (
      |  SELECT 'ivf_assignment' AS artifact,
      |    (SELECT CAST(count(*) AS BIGINT) FROM basg) AS n_rows_before,
      |    (SELECT CAST(count(*) AS BIGINT) FROM s${K + 1}asg) AS n_rows_after,
      |    (SELECT CAST(count(*) AS BIGINT) FROM s${K + 1}asg
      |      WHERE vec_id % $mod = 0) AS n_refs_after,
      |    ${digest("ia:", s"CAST(vec_id AS VARCHAR)||':'||CAST(cell AS VARCHAR)", s"s${K + 1}asg")} AS content_hash,
      |    CAST(NULL AS DOUBLE) AS overlap_at_10
      |  UNION ALL
      |  SELECT 'knn_adjacency',
      |    (SELECT CAST(count(*) AS BIGINT) FROM knn_b),
      |    (SELECT CAST(count(*) AS BIGINT) FROM knn_a),
      |    (SELECT CAST(count(*) AS BIGINT) FROM knn_a
      |      WHERE src % $mod = 0 OR nbr % $mod = 0),
      |    ${digest("ka:", s"CAST(src AS VARCHAR)||':'||CAST(nbr AS VARCHAR)||':'||CAST(rank AS VARCHAR)", "knn_a")},
      |    CAST(NULL AS DOUBLE)
      |  UNION ALL
      |  SELECT 'quantizer_params',
      |    (SELECT CAST(count(*) AS BIGINT) FROM bcents),
      |    (SELECT CAST(count(*) AS BIGINT) FROM scents${K + 1}),
      |    (SELECT CAST(count(*) AS BIGINT) FROM scents${K + 1}
      |      WHERE cent_id % $mod = 0),
      |    ${digest("qp:", s"CAST(cent_id AS VARCHAR)||':'||array_to_string(list_transform(ce, x -> CAST(CAST(x AS BIGINT) AS VARCHAR)), ',')", s"scents${K + 1}")},
      |    CAST(NULL AS DOUBLE)
      |  UNION ALL
      |  SELECT 'serve_drift',
      |    (SELECT CAST(count(*) AS BIGINT) FROM blist),
      |    (SELECT CAST(count(*) AS BIGINT) FROM tlist),
      |    (SELECT CAST(count(*) AS BIGINT) FROM tlist WHERE cid % $mod = 0),
      |    ${digest("sd:", s"CAST(qid AS VARCHAR)||':'||CAST(cid AS VARCHAR)||':'||CAST(rank AS VARCHAR)", "tlist")},
      |    (SELECT overlap_at_10 FROM ovl))
      |SELECT artifact, n_rows_before, n_rows_after, n_refs_after,
      |  content_hash, overlap_at_10
      |FROM rows_ ORDER BY artifact""".stripMargin
  }

  /** `e_dedup_lineage` — composes the three pair detectors' SQL texts so
    * the provenance can never drift from what the detectors report (each
    * referenced once — plain CTEs suffice, the MATERIALIZED rule applies
    * only to multi-referenced ones). */
  private lazy val dedupLineageSql: String =
    s"""WITH mh AS (SELECT doc_a, doc_b FROM (${baseSql("e_minhash_dedup")}) a),
      |sh AS (SELECT doc_a, doc_b FROM (${baseSql("e_simhash_dedup")}) b),
      |md AS (SELECT doc_a, doc_b FROM (${baseSql("e_media_dedup")}) c),
      |uni AS (
      |  SELECT 'minhash' AS family, doc_b AS doc_id, doc_a AS cand FROM mh
      |  UNION ALL SELECT 'simhash', doc_b, doc_a FROM sh
      |  UNION ALL SELECT 'media', doc_b, doc_a FROM md)
      |SELECT family, doc_id, min(cand) AS kept_id
      |FROM uni GROUP BY family, doc_id
      |ORDER BY family, doc_id""".stripMargin

  private lazy val recallAtKSql: String = {
    def row(tag: String, cte: String, k: Int): String =
      s"""SELECT '$tag' AS family, $k AS k,
        |  CAST(count(*) AS BIGINT) AS n_truth,
        |  CAST(count(h.cid) AS BIGINT) AS n_hit,
        |  CAST(count(h.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
        |FROM (SELECT qid, cid FROM ex WHERE rank <= $k) t
        |LEFT JOIN (SELECT qid, cid FROM $cte WHERE rank <= $k) h
        |  ON t.qid = h.qid AND t.cid = h.cid""".stripMargin
    val rows = for {
      (tag, cte) <- Seq("ivfpq" -> "ivfpq", "ivfpqr" -> "ivfpqr", "sq" -> "sq")
      k <- ExtQueries.RecallKs
    } yield row(tag, cte, k)
    s"""WITH ex AS MATERIALIZED (
      |  SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk")}) e),
      |ivfpq AS MATERIALIZED (
      |  SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_ivfpq")}) p),
      |ivfpqr AS MATERIALIZED (
      |  SELECT qid, cid, rank FROM ($ivfPqRerankSql) pr),
      |sq AS MATERIALIZED (
      |  SELECT qid, cid, rank FROM (${baseSql("e_sq_topk")}) q)
      |${rows.mkString("\nUNION ALL\n")}
      |ORDER BY family, k""".stripMargin
  }

  /** `e_rank_metrics` — MRR@10 / reciprocal-discount NDCG@10 as exact
    * int64 rationals (scale 2520 = lcm(1..10), ideal-DCG numerator 7381).
    * COMPOSES the exact truth and the four compressed families' own SQL
    * texts; the truth CTE is referenced four times, so MATERIALIZED (the
    * DuckDB inlining lesson — each family list is referenced once). */
  private lazy val rankMetricsSql: String = {
    def row(tag: String, cte: String): String =
      s"""SELECT '$tag' AS family,
        |  CAST(count(*) AS BIGINT) AS n_q,
        |  CAST(sum(coalesce(h.rr, 0)) AS BIGINT) AS rr_num,
        |  CAST(sum(coalesce(h.rr, 0)) AS DOUBLE)
        |    / CAST(count(*) * ${ExtQueries.RankMetricScale} AS DOUBLE) AS mrr,
        |  CAST(sum(coalesce(h.dcg, 0)) AS BIGINT) AS dcg_num,
        |  CAST(sum(coalesce(h.dcg, 0)) AS DOUBLE)
        |    / CAST(count(*) * ${ExtQueries.RankMetricIdcgNum} AS DOUBLE) AS ndcg
        |FROM (SELECT DISTINCT qid FROM t) q
        |LEFT JOIN (
        |  SELECT qid, ${ExtQueries.RankMetricScale} // min(rank) AS rr,
        |    sum(${ExtQueries.RankMetricScale} // rank) AS dcg
        |  FROM $cte f SEMI JOIN t USING (qid, cid)
        |  GROUP BY qid) h USING (qid)""".stripMargin
    val rows = Seq("ivfpq" -> "ivfpq", "ivfpqr" -> "ivfpqr",
      "sq" -> "sq", "sqr" -> "sqr").map { case (tag, cte) => row(tag, cte) }
    s"""WITH t AS MATERIALIZED (
      |  SELECT qid, cid FROM (${baseSql("e_cosine_topk")}) e),
      |ivfpq AS (SELECT qid, cid, rank FROM (${baseSql("e_cosine_topk_ivfpq")}) a),
      |ivfpqr AS (SELECT qid, cid, rank FROM ($ivfPqRerankSql) b),
      |sq AS (SELECT qid, cid, rank FROM (${baseSql("e_sq_topk")}) c),
      |sqr AS (SELECT qid, cid, rank FROM (${baseSql("e_sq_rerank")}) d)
      |${rows.mkString("\nUNION ALL\n")}
      |ORDER BY family""".stripMargin
  }

  val sql: Map[String, String] = baseSql +
    ("e_rank_metrics" -> rankMetricsSql) +
    ("e_compaction_apply" -> compactionApplySql) +
    ("e_compact_conflict" -> compactConflictSql) +
    ("e_manifest_prune" -> manifestPruneSql) +
    ("e_scan_prune" -> scanPruneSql) +
    ("e_filter_recall" -> filterRecallSql) +
    ("e_filter_cost" -> filterCostSql) +
    ("e_ivf_balance" -> ivfBalanceSql) +
    ("e_delete_audit" -> deleteAuditSql) +
    ("e_delete_apply" -> deleteApplySql) +
    ("e_index_delete" -> indexDeleteSql) +
    ("e_index_retrain" -> indexRetrainSql) +
    ("e_time_travel" -> timeTravelSql) +
    ("e_dedup_lineage" -> dedupLineageSql) +
    ("e_recall_at_k" -> recallAtKSql) +
    ("e_graph_recall" -> graphRecallSql) +
    ("e_token_budget" -> tokenBudgetSql) +
    ("e_modularity" -> modularitySql) +
    ("e_count_min" -> countMinSql) +
    ("e_fim_split" -> fimSplitSql) +
    ("e_novelty" -> noveltySql) +
    ("e_hits" -> hitsSql) +
    ("e_calibration" -> calibrationSql) +
    ("e_tok_fertility" -> tokFertilitySql) +
    ("e_filter_bias" -> filterBiasSql) +
    ("e_emb_stats" -> embStatsSql) +
    ("e_dedup_sweep" -> dedupSweepSql) +
    ("e_curriculum_order" -> curriculumOrderSql) +
    ("e_datasheet" -> datasheetSql) +
    ("e_pack_stats" -> packStatsSql) +
    ("e_nb_train" -> nbTrainSql) +
    ("e_nb_classify" -> nbClassifySql) +
    ("e_nb_eval" -> nbEvalSql) +
    ("e_pagerank" -> pageRankSql) +
    ("e_label_prop" -> labelPropSql) +
    ("e_canonical_pick" -> canonicalPickSql) +
    ("e_soft_dedup" -> softDedupSql) +
    ("e_bpe_train" -> bpeTrainSql) +
    ("e_bpe_encode" -> bpeEncodeSql) +
    ("e_vocab_coverage" -> vocabCoverageSql) +
    ("e_lm_buckets" -> lmBucketsSql) +
    ("e_importance_sample" -> importanceSampleSql) +
    ("e_dedup_eval" -> dedupEvalSql) +
    ("e_rank_fusion" -> rankFusionSql) +
    ("e_hybrid_search" -> hybridSearchSql) +
    ("e_interleave" -> interleaveSql) +
    ("e_interleave_sig" -> interleaveSigSql) +
    ("e_triangles" -> trianglesSql) +
    ("e_split_contamination" -> splitContaminationSql) +
    ("e_kmeans_train" -> kmeansTrainSql) +
    ("e_ivf_trained" -> ivfTrainedSql) +
    ("e_ivf_filter_trained" -> ivfFilterTrainedSql) +
    ("e_quantizer_drift" -> quantizerDriftSql) +
    ("e_serve_drift" -> serveDriftSql) +
    ("e_table_stats" -> tableStatsSql) +
    ("e_bloom_prune" -> bloomPruneSql) +
    ("e_nb_threshold" -> nbThresholdSql) +
    ("e_pref_pairs" -> prefPairsSql) +
    ("e_join_estimate" -> joinEstimateSql) +
    ("e_join_estimate_hist" -> joinEstimateHistSql) +
    ("e_shard_topk" -> shardTopkSql) +
    ("e_kcore" -> kcoreSql) +
    ("e_vacuum_plan" -> vacuumPlanSql) +
    ("e_vacuum_apply" -> vacuumApplySql) +
    ("e_schema_evolve" -> schemaEvolveSql) +
    ("e_change_feed" -> changeFeedSql) +
    ("e_feed_apply" -> feedApplySql) +
    ("e_feed_apply_minmax" -> feedApplyMinmaxSql) +
    ("e_stats_staleness" -> statsStalenessSql) +
    ("e_mv_rewrite" -> mvRewriteSql) +
    ("e_txn_conflict" -> txnConflictSql) +
    ("e_txn_rebase" -> txnRebaseSql) +
    ("e_txn_retry" -> txnRetrySql) +
    ("e_txn_readset" -> txnReadsetSql) +
    ("e_louvain_move" -> louvainMoveSql) +
    ("e_louvain_apply" -> louvainApplySql) +
    ("e_louvain_collapse" -> louvainCollapseSql) +
    ("e_louvain_super" -> louvainSuperSql) +
    ("e_louvain_merge" -> louvainMergeSql) +
    ("e_louvain_levels" -> louvainLevelsSql) +
    ("e_louvain_assign" -> louvainAssignSql) +
    ("e_range_estimate" -> rangeEstimateSql) +
    ("e_range_estimate_eqd" -> rangeEstimateEqdSql) +
    ("e_corr_estimate" -> corrEstimateSql) +
    ("e_join_order" -> joinOrderSql) +
    ("e_join_order_hist" -> joinOrderHistSql) +
    ("e_card_feedback" -> cardFeedbackSql) +
    ("e_silhouette" -> silhouetteSql) +
    ("e_pq_train" -> pqTrainSql) +
    ("e_pq_trained" -> pqTrainedSql) +
    ("e_rand_walk" -> randWalkSql) +
    ("e_walk_pairs" -> walkPairsSql) +
    ("e_cosine_topk_beam" -> beamSearchSql) +
    ("e_ivfpq_rerank" -> ivfPqRerankSql) +
    ("e_mrl_rerank" -> mrlRerankSql) +
    ("e_ann_cost" -> annCostSql) +
    ("e_ann_recall" -> annRecallSql)

  /** `e_ann_recall` — the family-recall harness text, a val so
    * `e_ann_cost` can compose it. */
  private lazy val annRecallSql: String =
    s"""WITH ex AS (SELECT qid, cid FROM (${baseSql("e_cosine_topk")}) t),
      |lsh AS (SELECT qid, cid FROM (${baseSql("e_cosine_topk_lsh")}) u),
      |ivf AS (SELECT qid, cid FROM (${baseSql("e_cosine_topk_ivf")}) v),
      |ivf2 AS (SELECT qid, cid FROM (${baseSql("e_ivf_nprobe")}) v2),
      |pq AS (SELECT qid, cid FROM (${baseSql("e_cosine_topk_pq")}) w),
      |beam AS (SELECT qid, cid FROM ($beamSearchSql) x),
      |ivf_t AS (SELECT qid, cid FROM ($ivfTrainedSql) y),
      |pq_t AS (SELECT qid, cid FROM ($pqTrainedSql) z),
      |ivfpq AS (SELECT qid, cid FROM (${baseSql("e_cosine_topk_ivfpq")}) zz),
      |sq AS (SELECT qid, cid FROM (${baseSql("e_sq_topk")}) sa),
      |sqr AS (SELECT qid, cid FROM (${baseSql("e_sq_rerank")}) sb),
      |ivfpqr AS (SELECT qid, cid FROM ($ivfPqRerankSql) sc),
      |mrl AS (SELECT qid, cid FROM ($mrlRerankSql) sd)
      |SELECT ex.qid, count(*) AS n_exact,
      |  CAST(count(lsh.cid) AS BIGINT) AS n_lsh,
      |  CAST(count(ivf.cid) AS BIGINT) AS n_ivf,
      |  CAST(count(ivf2.cid) AS BIGINT) AS n_ivf2,
      |  CAST(count(pq.cid) AS BIGINT) AS n_pq,
      |  CAST(count(beam.cid) AS BIGINT) AS n_beam,
      |  CAST(count(ivf_t.cid) AS BIGINT) AS n_ivf_t,
      |  CAST(count(pq_t.cid) AS BIGINT) AS n_pq_t,
      |  CAST(count(ivfpq.cid) AS BIGINT) AS n_ivfpq,
      |  CAST(count(sq.cid) AS BIGINT) AS n_sq,
      |  CAST(count(sqr.cid) AS BIGINT) AS n_sqr,
      |  CAST(count(ivfpqr.cid) AS BIGINT) AS n_ivfpqr,
      |  CAST(count(mrl.cid) AS BIGINT) AS n_mrl,
      |  CAST(count(lsh.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_lsh,
      |  CAST(count(ivf.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_ivf,
      |  CAST(count(ivf2.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_ivf2,
      |  CAST(count(pq.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_pq,
      |  CAST(count(beam.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_beam,
      |  CAST(count(ivf_t.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_ivf_t,
      |  CAST(count(pq_t.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_pq_t,
      |  CAST(count(ivfpq.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_ivfpq,
      |  CAST(count(sq.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_sq,
      |  CAST(count(sqr.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_sqr,
      |  CAST(count(ivfpqr.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_ivfpqr,
      |  CAST(count(mrl.cid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_mrl
      |FROM ex
      |LEFT JOIN lsh ON ex.qid = lsh.qid AND ex.cid = lsh.cid
      |LEFT JOIN ivf ON ex.qid = ivf.qid AND ex.cid = ivf.cid
      |LEFT JOIN ivf2 ON ex.qid = ivf2.qid AND ex.cid = ivf2.cid
      |LEFT JOIN pq ON ex.qid = pq.qid AND ex.cid = pq.cid
      |LEFT JOIN beam ON ex.qid = beam.qid AND ex.cid = beam.cid
      |LEFT JOIN ivf_t ON ex.qid = ivf_t.qid AND ex.cid = ivf_t.cid
      |LEFT JOIN pq_t ON ex.qid = pq_t.qid AND ex.cid = pq_t.cid
      |LEFT JOIN ivfpq ON ex.qid = ivfpq.qid AND ex.cid = ivfpq.cid
      |LEFT JOIN sq ON ex.qid = sq.qid AND ex.cid = sq.cid
      |LEFT JOIN sqr ON ex.qid = sqr.qid AND ex.cid = sqr.cid
      |LEFT JOIN ivfpqr ON ex.qid = ivfpqr.qid AND ex.cid = ivfpqr.cid
      |LEFT JOIN mrl ON ex.qid = mrl.qid AND ex.cid = mrl.cid
      |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin

  /** `e_ann_cost` — the (recall, bytes) frontier: per-family hit totals
    * from the composed `e_ann_recall` text plus analytic candidate counts
    * over the shared band-bucket and cell-assignment CTEs. */
  private lazy val annCostSql: String = {
    val bpcFull = ExtQueries.AnnCostBytesFull
    def row(fam: String, nCode: String, bpc: String, nFull: String,
        hit: String): String =
      s"""SELECT '$fam' AS family, CAST($nCode AS BIGINT) AS n_code,
        |  CAST($bpc AS BIGINT) AS bytes_per_code,
        |  CAST($nFull AS BIGINT) AS n_full, $hit AS n_hit, t_exact
        |FROM base""".stripMargin
    val rows = Seq(
      row("exact", "0", "0", "n_queries * (n_corpus - 1)", "t_exact"),
      row("lsh", "0", "0", "n_lsh_cand", "t_lsh"),
      row("ivf", "0", "0", "s1 - n_queries", "t_ivf"),
      row("ivf2", "0", "0", "s12 - n_queries", "t_ivf2"),
      row("pq", "n_queries * (n_corpus - 1)",
        ExtQueries.AnnCostBytesPq.toString, "0", "t_pq"),
      row("sq", "n_queries * (n_corpus - 1)",
        ExtQueries.AnnCostBytesSq.toString, "0", "t_sq"),
      row("sqr", "n_queries * (n_corpus - 1)",
        ExtQueries.AnnCostBytesSq.toString,
        s"n_queries * least(${ExtQueries.SqRerankR}, n_corpus - 1)", "t_sqr"),
      row("ivfpq", "s1 - n_queries", ExtQueries.AnnCostBytesPq.toString,
        "0", "t_ivfpq"),
      row("ivfpqr", "s1 - n_queries", ExtQueries.AnnCostBytesPq.toString,
        "n_pq_short", "t_ivfpqr"))
    s"""WITH ar AS (SELECT CAST(sum(n_exact) AS BIGINT) AS t_exact,
      |    CAST(sum(n_lsh) AS BIGINT) AS t_lsh,
      |    CAST(sum(n_ivf) AS BIGINT) AS t_ivf,
      |    CAST(sum(n_ivf2) AS BIGINT) AS t_ivf2,
      |    CAST(sum(n_pq) AS BIGINT) AS t_pq,
      |    CAST(sum(n_ivfpq) AS BIGINT) AS t_ivfpq,
      |    CAST(sum(n_sq) AS BIGINT) AS t_sq,
      |    CAST(sum(n_sqr) AS BIGINT) AS t_sqr,
      |    CAST(sum(n_ivfpqr) AS BIGINT) AS t_ivfpqr
      |  FROM ($annRecallSql) r),
      |$lshBandCtes,
      |lshc AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh_cand FROM (
      |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
      |  FROM bands q JOIN bands c ON q.b = c.b AND q.bv = c.bv
      |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id) t),
      |$centAssignCtes,
      |csz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
      |  FROM assigned GROUP BY cell),
      |q2 AS (SELECT qid, cell, crank FROM (
      |    SELECT vec_id AS qid, cent_id AS cell,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY csim DESC, cent_id ASC) AS crank
      |    FROM sims WHERE vec_id < 8) r WHERE crank <= 2),
      |qcs AS (SELECT q2.qid, q2.crank, cs.n FROM q2 JOIN csz cs USING (cell)),
      |ivfc AS (SELECT
      |    CAST(sum(CASE WHEN crank = 1 THEN n ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(n) AS BIGINT) AS s12 FROM qcs),
      |pqs AS (SELECT CAST(sum(least(${ExtQueries.IvfPqRerankR}, n - 1)) AS BIGINT)
      |    AS n_pq_short FROM qcs WHERE crank = 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM embeddings),
      |qq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
      |  FROM embeddings WHERE vec_id < 8),
      |base AS (SELECT * FROM ar, lshc, ivfc, pqs, nn, qq),
      |rows_ AS (
      |${rows.mkString("\nUNION ALL\n")})
      |SELECT family, n_code, bytes_per_code, n_full,
      |  n_code * bytes_per_code + n_full * $bpcFull AS bytes_scored,
      |  n_hit, CAST(n_hit AS DOUBLE) / CAST(t_exact AS DOUBLE) AS recall
      |FROM rows_ ORDER BY family""".stripMargin
  }
}
