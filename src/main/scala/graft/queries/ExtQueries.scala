package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions._

/** LLM-training-data-pipeline operators (SURVEY.md §7.5 north-star scope)
  * over the `documents` / `embeddings` fixture tables. These go beyond the
  * reference's surface: at 100 TB these are the operators a pretraining-data
  * pipeline runs all day — dedup, near-dedup, similarity search, text
  * statistics, multimodal column plumbing.
  *
  * Determinism contract (same as [[RefQueries]]): every emitted double is
  * produced by an operation sequence that is bit-identical in Spark and in
  * the DuckDB oracle — integer arithmetic wherever possible, and where a
  * float is unavoidable (cosine), a SEQUENTIAL left-fold over the array in
  * both engines (Spark `aggregate`, DuckDB `list_reduce`), so a 1000-executor
  * cluster and the single-node oracle produce the same bytes.
  *
  * Scale design (100 TB discipline), per operator:
  *   - exact dedup: one hash-groupBy shuffle on a 60-bit content fingerprint;
  *     map-side partial aggregation; no sort, no driver materialization.
  *   - MinHash/LSH: signatures are computed scan-side (pure column
  *     expressions, no shuffle); the candidate join shuffles on the BAND
  *     bucket key — never all-pairs. Verification joins only the candidate
  *     ids back to shingle sets (|candidates| ≪ |corpus|²).
  *   - cosine top-k: the QUERY side is broadcast (bounded, user-supplied);
  *     the corpus is scanned once, never shuffled; only the per-query top-k
  *     window (|queries| × k rows upstream of the final sort) shuffles.
  *   - text stats: embarrassingly parallel scan — zero shuffles before the
  *     deterministic output sort.
  *
  * CACHING CONTRACT (file default): every `.persist(...)` inside a query
  * function exists because the frame is consumed by two or more actions
  * of THAT query's own plan; none outlives the returned DataFrame's
  * evaluation on purpose. Release is the CALLER's: both runtime surfaces
  * ([[graft.Bench]], [[graft.Verify]]) run `spark.catalog.clearCache()`
  * plus the RDD sweep after every key, and the test fixture does the
  * same between suites — so a persisted intermediate never leaks into
  * the next key's timed window or executor memory. Keys whose caching is
  * NON-obvious (a persist serving a sibling key, a per-round checkpoint
  * chain) carry their own CACHING CONTRACT note on top of this default.
  */
object ExtQueries {
  import RefQueries.table

  // ---- e_exact_dedup ------------------------------------------------------

  /** Exact content deduplication. A re-crawl is simulated by unioning the
    * corpus with an id-shifted copy of itself (ids + 1,000,000 — the realistic
    * "same page fetched twice" shape); rows are fingerprinted with the
    * cross-engine 60-bit [[hash64]] and deduplicated keeping the LOWEST id
    * per content hash (deterministic survivor rule).
    *
    * At scale: one shuffle on content_hash, partial-aggregated map-side.
    * A 100 TB corpus dedups with |distinct contents| reducer state, not
    * |rows|; no row text crosses the shuffle — only (hash, id). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val recrawl = docs.withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs.unionByName(recrawl)
      .select(col("doc_id"), hash64(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"))
      .orderBy("doc_id")
  }

  // ---- e_text_stats -------------------------------------------------------

  /** Per-document text statistics for quality filtering: token counts,
    * distinct-token and stopword ratios, mean token length, and a quality
    * flag — the standard pretraining-corpus heuristics (length bounds +
    * stopword-density band). All counts are exact integers; the two ratios
    * are a single int→double division each (bit-identical cross-engine).
    * Zero shuffles: a pure projected scan until the output sort. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    // tokenize ONCE into a column — referencing the split expression from
    // every output column would re-run the regex split per column.
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("tk"))
    val nTok = size(col("tk"))
    val totalLen = aggregate(transform(col("tk"), t => length(t)), lit(0), (a, x) => a + x)
    val nStop = size(filter(col("tk"), t => t === "the" || t === "a"))
    toked
      .select(
        col("doc_id"),
        col("lang"),
        length(col("text")).as("n_chars"),
        nTok.as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_uniq"),
        nStop.as("n_stop"),
        (totalLen.cast("double") / nTok.cast("double")).as("avg_token_len"),
        (nStop.cast("double") / nTok.cast("double")).as("stop_ratio"),
        (nTok >= 20 && nTok <= 1000 &&
          (nStop.cast("double") / nTok.cast("double")) < 0.3).as("quality"))
      .orderBy("doc_id")
  }

  // ---- e_multimodal_cols --------------------------------------------------

  /** Multimodal column plumbing: media payloads ride as opaque `binary`
    * columns inside a typed struct `{mime, payload, meta{lang, source}}`,
    * joined 1:1 with an embedding column. The "decode" step on a real
    * pipeline (image/audio libs) is deliberately a deterministic stand-in —
    * byte length + first embedding coordinate — but the Spark-side plumbing
    * (struct schema, nested-field projection, binary column, broadcastable
    * 1:1 join) is the real thing.
    *
    * At scale the embeddings side joins on the same key the corpus is
    * partitioned by (doc id), so with co-partitioned storage this is a
    * zero-shuffle zip; here it is a plain equi-join. */
  def multimodalCols(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val emb = table(spark, dir, "embeddings")
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .withColumn("media", struct(
        lit("text/plain").as("mime"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(col("lang"), col("source")).as("meta")))
      .withColumn("feat", struct(
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_coord")))
      .select(
        col("doc_id"),
        col("media.mime").as("mime"),
        length(col("media.payload")).as("n_bytes"),
        col("media.meta.lang").as("lang"),
        col("media.meta.source").as("source"),
        col("feat.dim").as("dim"),
        col("feat.first_coord").as("first_coord"),
        col("label"))
      .orderBy("doc_id")
  }

  // ---- e_cosine_topk ------------------------------------------------------

  /** Sequential left-fold sum of a double-array column — deterministic
    * order of IEEE additions, matching DuckDB `list_reduce` exactly. */
  private def seqSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Codegen'd sequential-fold dot product ([[graft.functions.VecOps]]) —
    * bit-identical to `seqSum(zip_with(a, b, (x, y) => x.cast("double") *
    * y.cast("double")))`, which evaluated INTERPRETED (HOFs fall out of
    * whole-stage codegen) and allocated a product array per row — the
    * round-18 hot-path kernel for every cosine/assign/verify pair. */
  private def dotD(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDot(a, b)

  private def l2norm(a: Column): Column = sqrt(dotD(a, a))

  /** Brute-force cosine top-k over the embedding column — the exact baseline
    * every ANN variant is graded against. A bounded query set (8 vectors) is
    * broadcast against the corpus; per pair the dot product is a sequential
    * fold over `zip_with` products; top-10 per query via a ranking window
    * with a pinned tie-break (score DESC, cid ASC).
    *
    * At scale: corpus scanned once and never shuffled (queries broadcast);
    * the only shuffle is the per-query window over |queries|·|corpus| scored
    * rows — the known cost of the window formulation, kept here as the
    * readable baseline. [[cosineTopkAgg]] is the same query with that
    * shuffle cut to |queries|·k rows per partition (bounded-state top-k
    * aggregate); the LSH/IVF/PQ variants cut the scoring itself. */
  def cosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("nq", l2norm(col("qe")))
    val c = emb
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("nc", l2norm(col("ce")))
    val dot = dotD(col("qe"), col("ce"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("score", dot / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_cosine_topk_agg --------------------------------------------------

  /** Exact cosine top-k via the bounded-state [[graft.functions.TopKByScoreAggregator]]
    * — bit-identical results to [[cosineTopk]], structurally different
    * execution: per-group top-k is a map-side-combining AGGREGATE, not a
    * ranking window. The window form shuffles every scored row
    * (|queries|·|corpus|) into per-query partitions; this form's partial
    * buffers cap at 4k candidates per (query × partition), so each
    * partition contributes ≤ k rows and only |queries|·|partitions|·k rows
    * cross the wire — the per-group-top-k shape that survives 100 TB.
    * Selection under the total order (score DESC, cid ASC) is
    * arrival-order-independent, so the same DuckDB oracle hash-matches. */
  def cosineTopkAgg(spark: SparkSession, dir: String): DataFrame =
    cosineTopkAggImpl(spark, dir, 10)

  /** [[cosineTopkAgg]]'s body at caller-chosen depth `k` — also the
    * unfiltered-shortlist stage of [[annFilter]] (the [[sqTopkImpl]]
    * pattern: one scoring body, two serving depths). */
  private def cosineTopkAggImpl(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(k)
    val topk = udaf(agg, agg.inputEncoder)
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("nq", l2norm(col("qe")))
    val c = emb
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("nc", l2norm(col("ce")))
    val dot = dotD(col("qe"), col("ce"))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("score", dot / (col("nq") * col("nc")))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_shard_topk -------------------------------------------------------

  /** Shard count of the scatter-gather serve — 4 logical shards stand in
    * for the per-executor partitions of a distributed index. */
  private[queries] val ShardCount = 4L

  /** SCATTER-GATHER exact top-k — the distributed-serving shape a
    * 1000-executor vector store actually runs, made a graded operator: the
    * corpus is hash-sharded (vec_id mod [[ShardCount]] — each shard is one
    * executor's slice of the index), every query fans out to ALL shards,
    * each shard answers its LOCAL bounded-state top-k, and the gather
    * stage re-selects the global top-k from the |q|·shards·k-row merge
    * input. Output carries the winning shard per row — the routing debug
    * column a scatter-gather service logs.
    *
    * The MERGEABILITY theorem this pins (spec: output ≡ [[cosineTopk]]
    * row-for-row, modulo the shard column): every global top-k member is
    * its own shard's top-k member — fewer than k candidates beat it
    * anywhere, so fewer than k do in its shard — hence gathering per-shard
    * top-k lists loses nothing, at any shard count. That theorem is why
    * per-partition top-k + tiny merge is THE layout for distributed
    * serving; this operator makes it a hash-gated fact rather than a
    * scaladoc claim.
    *
    * Determinism: one scoring expression (the [[cosineTopk]] cosine
    * contract) evaluated once at scatter; the gather re-ranks carried
    * scores under the pinned (score DESC, cid ASC) order; the shard column
    * is re-derived from cid (pure arithmetic).
    *
    * At scale: the scatter is [[cosineTopkAgg]]'s bill per shard (queries
    * broadcast, corpus never shuffles, partial buffers bounded); the
    * gather input is |q|·shards·k slim rows — bytes, independent of corpus
    * size. This is [[cosineTopkAgg]] with the hierarchy made explicit:
    * two bounded-state selections instead of one, which is exactly the
    * partial-merge tree Spark's aggregate runs implicitly — stated as an
    * operator so the shard boundary is addressable (per-shard caches,
    * shard-local retries, straggler hedging). */
  def shardTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(10)
    val topk = udaf(agg, agg.inputEncoder)
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("nq", l2norm(col("qe")))
    val c = emb
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("nc", l2norm(col("ce")))
      .withColumn("shard", pmod(col("cid"), lit(ShardCount)))
    val dot = dotD(col("qe"), col("ce"))
    // scatter: per-(query, shard) bounded top-k
    val perShard = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("score", dot / (col("nq") * col("nc")))
      .groupBy(col("qid"), col("shard"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("t"))
      .select(col("qid"), col("t.id").as("cid"), col("t.score").as("score"))
    // gather: global top-k over the |q|·shards·k merge input
    perShard.groupBy(col("qid"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"),
        pmod(col("col.id"), lit(ShardCount)).as("shard"))
      .orderBy("qid", "rank")
  }

  // ---- e_ann_filter -------------------------------------------------------

  /** Depth of the unfiltered shortlist [[annFilter]] post-filters — the
    * candidate budget a serving deployment would hand its re-ranker. */
  private[queries] val AnnFilterShortlistR = 30
  /** Result depth of the filtered search (and of the post-filter cut). */
  private[queries] val AnnFilterK = 10
  /** Label-class count of the embeddings fixture (labels are 0..9). */
  private[queries] val AnnFilterLabels = 10

  /** FILTERED vector search — top-k restricted to candidates satisfying a
    * per-query predicate (here: `label = (query.label + 1) mod 10`, a
    * target class distinct from the query's own so the filtered list
    * genuinely differs from the unfiltered one). This is the capability
    * every vector store quotes separately from plain ANN, because the two
    * obvious plans disagree: PRE-FILTER scores only predicate-matching
    * rows and is exact; POST-FILTER takes an unfiltered shortlist of R and
    * filters it, losing any truth hit that fell outside the shortlist.
    * The operator emits the pre-filter truth (exact top-[[AnnFilterK]] per
    * query among matching rows) and annotates each row with whether the
    * post-filter plan at shortlist depth [[AnnFilterShortlistR]] would
    * have returned it (`in_postfilter` — among the first k
    * predicate-matching rows of the unfiltered top-R), so the output IS
    * the pre/post comparison a serving team runs when sizing R.
    *
    * Determinism: the same sequential-fold cosine contract as
    * [[cosineTopk]]; both rank orders break ties (score DESC, cid ASC);
    * the post-filter cut orders by shortlist rank — all total orders.
    *
    * At scale: the truth side scores ONLY matching pairs — the broadcast
    * hash join on `label = tgt` drops non-matching (query, row) pairs at
    * probe time, so selectivity 1/|labels| cuts scoring work 10× here (at
    * a vector store this is the "filtered search is CHEAPER, not dearer"
    * observation); per-query top-k is the bounded-state aggregate, and the
    * corpus never shuffles on either side. The shortlist stage re-runs the
    * [[cosineTopkAgg]] body at depth R — a harness key by the attribution
    * rule ([[sqRerank]] precedent). */
  def annFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(AnnFilterK)
    val topk = udaf(agg, agg.inputEncoder)
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        pmod(col("label") + lit(1), lit(AnnFilterLabels)).cast("int").as("tgt"))
      .withColumn("nq", l2norm(col("qe")))
    val c = emb
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("label"))
      .withColumn("nc", l2norm(col("ce")))
    val dot = dotD(col("qe"), col("ce"))
    // pre-filter truth: only predicate-matching pairs are ever scored
    val truth = c.join(broadcast(q),
        col("label") === col("tgt") && col("cid") =!= col("qid"))
      .withColumn("score", dot / (col("nq") * col("nc")))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
    // post-filter baseline: unfiltered top-R, predicate-filtered, first k.
    // The shortlist is |queries|·R rows — ALWAYS broadcastable — so it
    // broadcasts into the label scan (the corpus-sized side streams), and
    // the ≤ |queries|·k post-filter set broadcasts into the truth join.
    val labels = emb.select(col("vec_id").as("cid"), col("label"))
    val short = labels
      .join(broadcast(cosineTopkAggImpl(spark, dir, AnnFilterShortlistR)
        .select(col("qid"), col("cid"), col("rank").as("srank"))), Seq("cid"))
      .join(broadcast(q.select(col("qid"), col("tgt"))), Seq("qid"))
      .filter(col("label") === col("tgt"))
    val wpf = Window.partitionBy(col("qid")).orderBy(col("srank").asc)
    val postf = short.withColumn("fr", row_number().over(wpf))
      .filter(col("fr") <= AnnFilterK)
      .select(col("qid"), col("cid"), lit(1L).as("hit"))
    truth.join(broadcast(postf), Seq("qid", "cid"), "left")
      .select(col("qid"), col("rank"), col("cid"), col("score"),
        coalesce(col("hit"), lit(0L)).as("in_postfilter"))
      .orderBy("qid", "rank")
  }

  // ---- e_maxsim -----------------------------------------------------------

  /** Late-interaction (ColBERT-shape) multi-vector retrieval: each vector
    * is viewed as its [[PqSubspaces]] subvectors — the SAME geometry the PQ
    * family serves, via the shared [[pqSlice]], so "subvector" means one
    * thing in this file — and the query–document score is
    * Σ_i max_j cos(q_i, d_j): every query subvector finds its best-matching
    * document subvector, and the sum of those best matches ranks documents.
    * This is the scoring rule of multi-vector retrievers (per-token
    * embeddings in the real thing; the subvector split stands in for the
    * token axis at fixture scale, with the Spark-side plumbing identical).
    *
    * Determinism: the max over document subvectors is IEEE max
    * (order-free); every dot and the outer sum are SEQUENTIAL folds (the
    * cosine contract); rank ties break cid-ascending inside the bounded
    * aggregate, matching the oracle's window order.
    *
    * At scale: the corpus never shuffles — queries broadcast, the m² dots
    * run inside the scan projection, and per-query top-k is the map-side-
    * combining bounded-state [[graft.functions.TopKByScoreAggregator]]
    * (|queries|·|partitions|·k rows cross the wire — the
    * [[cosineTopkAgg]] shape, not the scored-row window). */
  def maxsimTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(10)
    val topk = udaf(agg, agg.inputEncoder)
    val m = PqSubspaces
    def subNorms(v: Column): Column =
      transform(sequence(lit(0), lit(m - 1)), s =>
        sqrt(seqSum(transform(pqSlice(v, s),
          x => x.cast("double") * x.cast("double")))))
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn", subNorms(col("qe")))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("cn", subNorms(col("ce")))
    val score = seqSum(transform(sequence(lit(0), lit(m - 1)), i =>
      array_max(transform(sequence(lit(0), lit(m - 1)), j =>
        dotD(pqSlice(col("qe"), i), pqSlice(col("ce"), j))
          / (element_at(col("qn"), i + 1) * element_at(col("cn"), j + 1))))))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("score", score)
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_ann_recall -------------------------------------------------------

  /** ANN evaluation harness as a first-class oracle-checked query:
    * recall@10 of each approximate family — hash-bucketed ([[cosineTopkLsh]]),
    * cell-partitioned ([[cosineTopkIvf]]), quantized ([[cosineTopkPq]]),
    * graph-searched ([[cosineTopkBeam]]) — against the exact [[cosineTopk]]
    * baseline, per query, PLUS the two TRAINED variants
    * ([[cosineTopkIvfTrained]], [[cosineTopkPqTrained]]), the composite
    * residual index ([[cosineTopkIvfPq]]), the multi-probe operating
    * point ([[ivfNprobe]] — `recall_ivf2` next to `recall_ivf` makes the
    * nprobe dial's recall benefit a graded number), the SQ8 pair
    * ([[sqTopk]], [[sqRerank]] — `recall_sqr` ≥ `recall_sq` per query is
    * the refine stage's pinned guarantee), and the refined composite
    * ([[ivfPqRerank]] — `recall_ivfpqr` ≥ `recall_ivfpq` per query, the
    * same refine guarantee over the IVF-PQ shortlist) so the benefit of the
    * k-means/PQ training chains is itself a graded number, not just a
    * spec measurement. This is the measurement every ANN deployment runs
    * before trading exactness for speed; making it a declared query keeps
    * the recall numbers themselves under the cross-engine hash gate (the
    * DuckDB oracle composes every listed family's own top-k SQL text, so
    * the evaluation can never drift from what it evaluates).
    *
    * At scale: each rank list is |queries|·k rows — the evaluation joins
    * tiny frames regardless of corpus size (each family's own scale story
    * lives in its own operator); left joins on the (qid, cid) pair, which
    * is unique per list, so counts are exact hit counts. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val ex = cosineTopk(spark, dir).select(col("qid"), col("cid"))
    val lists = Seq(
      "lsh" -> cosineTopkLsh(spark, dir),
      "ivf" -> cosineTopkIvf(spark, dir),
      "ivf2" -> ivfNprobe(spark, dir),
      "pq" -> cosineTopkPq(spark, dir),
      "beam" -> cosineTopkBeam(spark, dir),
      "ivf_t" -> cosineTopkIvfTrained(spark, dir),
      "pq_t" -> cosineTopkPqTrained(spark, dir),
      "ivfpq" -> cosineTopkIvfPq(spark, dir),
      "sq" -> sqTopk(spark, dir),
      "sqr" -> sqRerank(spark, dir),
      "ivfpqr" -> ivfPqRerank(spark, dir),
      "mrl" -> mrlRerank(spark, dir))
    val joined = lists.foldLeft(ex) { case (acc, (tag, df)) =>
      val slim = df.select(col("qid").as(s"${tag}_q"), col("cid").as(s"${tag}_c"))
      acc.join(slim,
        col("qid") === col(s"${tag}_q") && col("cid") === col(s"${tag}_c"), "left")
    }
    val hits = joined.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        lists.map { case (tag, _) => count(col(s"${tag}_c")).as(s"n_$tag") }: _*)
    hits.select(
      Seq(col("qid"), col("n_exact")) ++
        lists.map { case (tag, _) => col(s"n_$tag") } ++
        lists.map { case (tag, _) =>
          (col(s"n_$tag").cast("double") / col("n_exact").cast("double"))
            .as(s"recall_$tag")
        }: _*)
      .orderBy("qid")
  }

  // ---- e_ann_cost ---------------------------------------------------------

  /** Bytes per candidate at full precision: 64 float32 dims. */
  private[queries] val AnnCostBytesFull = 256L
  /** Bytes per candidate under SQ8: 64 int8 codes. */
  private[queries] val AnnCostBytesSq = 64L
  /** Bytes per candidate under PQ/IVF-PQ: one code id per subspace (the
    * [[PqCodes]]-entry codebook fits a byte). */
  private[queries] val AnnCostBytesPq: Long = PqSubspaces.toLong

  /** Serving-cost frontier of the ANN families — the [[filterCost]]
    * discipline applied to the UNFILTERED serving table: [[annRecall]]
    * grades what each family returns, this prices what each family
    * SCORES, split into the two kinds of work an index actually pays —
    * full-precision candidates (`n_full` at [[AnnCostBytesFull]] B each)
    * and compressed-code candidates (`n_code` at the family's code
    * width) — plus the resulting `bytes_scored` and the family's
    * corpus-wide recall. The table a serving team reads as a
    * (recall, bytes) frontier: exact pays |q|·|corpus| full vectors for
    * recall 1; LSH/IVF cut the candidate COUNT; SQ/PQ cut the candidate
    * WIDTH; the refined composites pay a compressed scan plus R
    * full-precision rows per query.
    *
    * Work counts are ANALYTIC — candidate-set sizes computed from the
    * same index metadata the families build (band buckets, cell sizes),
    * so both engines state the identical number each dataflow provably
    * scores: LSH = distinct band-bucket collisions; IVF at nprobe p =
    * probed-cell members minus the query itself (the query's own cell is
    * always probed first); PQ/SQ scan every pair on codes; the refine
    * stages add min(R, available) full rows per query. Per-vector setup
    * work (signatures, assignments, encodings) is index-BUILD cost, paid
    * once — deliberately excluded from this per-query serving table.
    *
    * Determinism: integer counts and one divide per row.
    *
    * At scale: everything here is metadata (band postings, |cells| sizes,
    * scalar counts) plus the composed recall harness. Composes
    * [[annRecall]] (itself eleven graded rank lists) — a harness key. */
  def annCost(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    // per-family hit totals from the graded harness — referenced by every
    // row, so persisted
    val ar = annRecall(spark, dir).agg(
        sum(col("n_exact")).as("t_exact"), sum(col("n_lsh")).as("t_lsh"),
        sum(col("n_ivf")).as("t_ivf"), sum(col("n_ivf2")).as("t_ivf2"),
        sum(col("n_pq")).as("t_pq"), sum(col("n_ivfpq")).as("t_ivfpq"),
        sum(col("n_sq")).as("t_sq"), sum(col("n_sqr")).as("t_sqr"),
        sum(col("n_ivfpqr")).as("t_ivfpqr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nC = emb.agg(count(lit(1)).as("n_corpus"))
    val nQ = emb.filter(col("vec_id") < 8)
      .agg(count(lit(1)).as("n_queries"))
    // LSH: distinct band-bucket candidate pairs (the set the operator
    // verifies — dedup-before-score is the canonical accounting)
    val bands = withBandBuckets(
        emb.select(col("vec_id"), col("embedding").as("e")), AnnPlanes, AnnBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lshC = bands
      .join(broadcast(bands.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("band"), col("bv"))),
        Seq("band", "bv"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
      .agg(count(lit(1)).as("n_lsh_cand"))
    // IVF: probed-cell sizes per query at crank 1 and 2
    val (assigned, cents) = ivfLabeledIndex(emb)
    val csz = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val qcs = ivfFilterProbesAll(emb.filter(col("vec_id") < 8), cents)
      .filter(col("crank") <= 2).select(col("qid"), col("cell"), col("crank"))
      .join(broadcast(csz), Seq("cell"))
    val ivfc = qcs.agg(
      sum(when(col("crank") === 1, col("n")).otherwise(lit(0L))).as("s1"),
      sum(col("n")).as("s12"))
    val pqShort = qcs.filter(col("crank") === 1)
      .agg(sum(least(lit(IvfPqRerankR.toLong), col("n") - 1)).as("n_pq_short"))
    // the 9 family rows all select from this ONE-row frame; persisted so the
    // candidate-count aggregates (lshC/ivfc/pqShort/nC/nQ) evaluate once,
    // not once per union branch (the filterCost persist discipline)
    val base = ar.crossJoin(broadcast(nC)).crossJoin(broadcast(nQ))
      .crossJoin(broadcast(lshC)).crossJoin(broadcast(ivfc))
      .crossJoin(broadcast(pqShort))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allPairs = col("n_queries") * (col("n_corpus") - 1)
    val zero = lit(0L)
    def row(fam: String, nCode: Column, bpc: Column, nFull: Column,
        hit: Column): DataFrame =
      base.select(lit(fam).as("family"), nCode.as("n_code"),
        bpc.as("bytes_per_code"), nFull.as("n_full"),
        (nCode * bpc + nFull * lit(AnnCostBytesFull)).as("bytes_scored"),
        hit.as("n_hit"),
        (hit.cast("double") / col("t_exact").cast("double")).as("recall"))
    val rows = Seq(
      row("exact", zero, zero, allPairs, col("t_exact")),
      row("lsh", zero, zero, col("n_lsh_cand"), col("t_lsh")),
      row("ivf", zero, zero, col("s1") - col("n_queries"), col("t_ivf")),
      row("ivf2", zero, zero, col("s12") - col("n_queries"), col("t_ivf2")),
      row("pq", allPairs, lit(AnnCostBytesPq), zero, col("t_pq")),
      row("sq", allPairs, lit(AnnCostBytesSq), zero, col("t_sq")),
      row("sqr", allPairs, lit(AnnCostBytesSq),
        col("n_queries") * least(lit(SqRerankR.toLong), col("n_corpus") - 1),
        col("t_sqr")),
      row("ivfpq", col("s1") - col("n_queries"), lit(AnnCostBytesPq), zero,
        col("t_ivfpq")),
      row("ivfpqr", col("s1") - col("n_queries"), lit(AnnCostBytesPq),
        col("n_pq_short"), col("t_ivfpqr")))
    rows.reduce(_ unionByName _).orderBy("family")
  }

  // ---- e_recall_at_k ------------------------------------------------------

  /** The rank depths [[recallAtK]] grades at — the operating points a
    * serving team actually quotes (recall@1 is "did the top answer
    * survive compression", recall@10 is the re-rank feeding depth). */
  private[queries] val RecallKs = Seq(1, 5, 10)

  /** Rank-sensitive recall curve — [[annRecall]] collapses each family to
    * one number at k = 10, which hides the failure mode quantization
    * actually has: small score perturbations reorder NEIGHBORING ranks, so
    * recall@1 degrades before recall@10 does. This harness grades three
    * representative compressed families (the scalar [[sqTopk]], the
    * composite [[cosineTopkIvfPq]], and its refined form [[ivfPqRerank]])
    * at each depth in [[RecallKs]] against the exact baseline truncated to
    * the same depth. One (family, k) row each: truth size (|queries|·k),
    * hits, recall.
    *
    * Determinism: pure set intersections of pinned rank lists — counts
    * and one divide. The oracle composes the three graded SQL texts
    * (MATERIALIZED — each is referenced once per depth).
    *
    * At scale: joins |queries|·k-row frames; each family's own scale story
    * lives in its operator (the [[annRecall]] argument). Composes graded
    * operators — a harness key. */
  def recallAtK(spark: SparkSession, dir: String): DataFrame = {
    val ex = cosineTopk(spark, dir)
      .select(col("qid"), col("cid"), col("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fams = Seq(
      "ivfpq" -> cosineTopkIvfPq(spark, dir)
        .select(col("qid"), col("cid"), col("rank"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      "ivfpqr" -> ivfPqRerank(spark, dir)
        .select(col("qid"), col("cid"), col("rank"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      "sq" -> sqTopk(spark, dir)
        .select(col("qid"), col("cid"), col("rank"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rows = for ((tag, fam) <- fams; k <- RecallKs) yield {
      val t = ex.filter(col("rank") <= k).select(col("qid"), col("cid"))
      val a = fam.filter(col("rank") <= k)
        .select(col("qid"), col("cid"), lit(1L).as("hit"))
      t.join(a, Seq("qid", "cid"), "left")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hit"))
        .select(lit(tag).as("family"), lit(k).as("k"),
          col("n_truth"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
    }
    rows.reduce(_ unionByName _).orderBy("family", "k")
  }

  // ---- e_rank_metrics -----------------------------------------------------

  /** Fixed-point scale for the rank-metric rationals: lcm(1..10) = 2520,
    * so every reciprocal rank 1/r at r ≤ 10 is the EXACT integer 2520/r —
    * the metrics accumulate as int64 sums and pay exactly one IEEE divide
    * each at the end (the [[bm25Topk]] exact-rational idf discipline; no
    * log anywhere, so no correctly-rounded-transcendental gap between
    * engines). */
  private[queries] val RankMetricScale = 2520L
  /** Ideal DCG numerator at depth 10 under the reciprocal-rank discount:
    * Σ_{i=1..10} 2520/i (all terms exact integers). */
  private[queries] val RankMetricIdcgNum = 7381L

  /** Rank-quality metrics harness — MRR@10 and NDCG@10 next to
    * [[recallAtK]]'s depth curve: recall counts hits, these two weight
    * WHERE the hits landed, which is what a serving team actually quotes
    * (MRR = "how far down is the first right answer", NDCG = "how much of
    * the ideal ranking mass survived"). Graded for the four compressed
    * serving points ([[cosineTopkIvfPq]], [[ivfPqRerank]], [[sqTopk]],
    * [[sqRerank]]) against the exact [[cosineTopk]] baseline with binary
    * relevance (membership in the exact top-10).
    *
    * The discount is the RECIPROCAL-RANK form (gain 1/r at rank r) rather
    * than 1/log₂(r+1): at depth 10 both orderings agree on which ranking
    * is better, and 1/r is exactly representable as the integer
    * [[RankMetricScale]]/r — so MRR and NDCG numerators are exact int64
    * sums, bit-identical cross-engine, and each reported metric is ONE
    * divide of exact integers (a log₂ discount would put a transcendental
    * in every term). Per family: rr(q) = 2520/min hit rank (0 when no
    * hit), dcg(q) = Σ_hits 2520/rank, MRR = Σrr/(2520·|q|),
    * NDCG = Σdcg/([[RankMetricIdcgNum]]·|q|) — the ideal list places all
    * 10 truth members at ranks 1..10.
    *
    * At scale: joins |queries|·k rank lists (the [[annRecall]] argument);
    * per-query reductions are map-side-combined integer aggregates.
    * Composes four graded operators — a harness key (oracle composes
    * their SQL texts, the truth CTE MATERIALIZED — referenced four
    * times). */
  def rankMetrics(spark: SparkSession, dir: String): DataFrame = {
    val truth = cosineTopk(spark, dir).select(col("qid"), col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = truth.select(col("qid")).distinct()
    val fams = Seq(
      "ivfpq" -> cosineTopkIvfPq(spark, dir),
      "ivfpqr" -> ivfPqRerank(spark, dir),
      "sq" -> sqTopk(spark, dir),
      "sqr" -> sqRerank(spark, dir))
    val rows = fams.map { case (tag, df) =>
      val hits = df.select(col("qid"), col("cid"), col("rank"))
        .join(truth, Seq("qid", "cid"), "left_semi")
      val perQ = hits.groupBy(col("qid"))
        .agg(expr(s"$RankMetricScale div min(rank)").as("rr"),
          sum(expr(s"$RankMetricScale div rank")).as("dcg"))
      qs.join(perQ, Seq("qid"), "left")
        .agg(count(lit(1)).as("n_q"),
          sum(coalesce(col("rr"), lit(0L))).as("rr_num"),
          sum(coalesce(col("dcg"), lit(0L))).as("dcg_num"))
        .select(lit(tag).as("family"), col("n_q"), col("rr_num"),
          (col("rr_num").cast("double")
            / (col("n_q") * lit(RankMetricScale)).cast("double")).as("mrr"),
          col("dcg_num"),
          (col("dcg_num").cast("double")
            / (col("n_q") * lit(RankMetricIdcgNum)).cast("double")).as("ndcg"))
    }
    rows.reduce(_ unionByName _).orderBy("family")
  }

  // ---- e_minhash_dedup ----------------------------------------------------

  /** Universal-hash family constants for MinHash: h_i(x) = (A(i)·x + B(i))
    * mod P with P = 2³¹−1 (Mersenne prime). A(i), B(i) < P and x < P keep
    * every product under 2⁶² — no signed-64 overflow. The SAME literals are
    * embedded in the DuckDB oracle SQL ([[ExtOracles]]). */
  private[queries] val NumHashes = 16
  private[queries] val NumBands = 4
  private[queries] val RowsPerBand = NumHashes / NumBands
  // re-exports of the ONE pinned derivation in MinhashLsh (the fused
  // signature expression computes with the same tables; the oracle SQL
  // interpolates these literals — three consumers, one formula)
  private[queries] val MinhashA: IndexedSeq[Long] =
    graft.functions.MinhashLsh.A.take(NumHashes).toIndexedSeq
  private[queries] val MinhashB: IndexedSeq[Long] =
    graft.functions.MinhashLsh.B.take(NumHashes).toIndexedSeq

  /** Polynomial coefficients for numeric 3-gram shingle hashes:
    * sh(i) = (th(i)·C1 + th(i+1)·C2 + th(i+2)·C3) mod P over per-TOKEN
    * hash31 values. Hashing tokens (short, ~n of them) instead of shingle
    * STRINGS (long, built per position) keeps the md5 count at one per token
    * and makes the shingle set an array of longs — primitive-path distinct
    * and set ops. Terms are reduced mod P individually so the running sum
    * stays far from signed-64 overflow. */
  private[queries] val ShingleC: IndexedSeq[Long] = IndexedSeq(911382323L, 972663749L, 31L)

  /** Stop-shingle document-frequency cap for [[dedupEval]]'s exact ground
    * truth: shingles appearing in more than this many documents are dropped
    * from the truth set's inverted-index CANDIDATE join (verification still
    * uses the full shingle sets). A shingle with df = d contributes d²
    * rows to the postings self-join, so one boilerplate 3-gram shared by a
    * large fraction of the corpus makes the join quadratic — and a shingle
    * that common cannot discriminate near-duplicate pairs anyway, which is
    * why production dedup evals cap df as a matter of course. The cap is
    * mirrored verbatim in the oracle CTE ([[ExtOracles]]), so cross-engine
    * parity holds by construction; at the correctness-gate scale (sf0.01,
    * max df = 14) NO shingle exceeds it, so the capped truth is *identical*
    * to the uncapped exact truth there (spec-pinned), and at sf0.1 it keeps
    * 99.1 % of truth pairs while cutting candidate volume 6.5×. */
  private[queries] val DedupEvalDfCap = 16

  /** Id shift separating a synthesized re-crawl/variant row from its base
    * document in the augmented universe — shared by every operator that
    * splits that universe back into (corpus, batch) sides
    * ([[crossDedup]], [[softDedup]]'s oracle), so the boundary is one
    * definition and cannot drift (the [[DecontamBenchIds]] lesson). */
  private[graft] val VariantIdOffset = 1000000L

  /** The corpus plus a deterministic near-duplicate variant of every doc
    * (first 5 tokens dropped, id + [[VariantIdOffset]]) — ONE scan: each
    * source row yields both rows via a generator (vs a self-union, which
    * scans twice). Shared by every fuzzy-dedup operator so they are
    * comparable. */
  private[queries] def docsWithVariants(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("lang"), col("source"), explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + lit(VariantIdOffset)).as("doc_id"),
          array_join(slice(tokens(col("text")), lit(6), size(tokens(col("text")))), " ")
            .as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("lang"), col("source"), col("r.text").as("text"))

  /** `(doc_id, ds)`: distinct numeric 3-gram shingle-hash sets from a
    * `(doc_id, text)` frame — THE shared shingle pipeline ([[minhashDedup]],
    * [[decontaminate]]). ONE definition on purpose: the cross-engine
    * contract requires the Spark and oracle derivations to stay
    * bit-identical, so a second copy would be a parity time bomb (the
    * oracle side is likewise shared — [[ExtOracles.shingleCtes]]).
    *
    * Token hashes are materialized as a COLUMN before shingling: an
    * expression referenced inside a `transform` lambda is re-evaluated per
    * element, so embedding the tokenizer there would re-split the text once
    * per shingle position — O(tokens²) per row (measured 4× the whole
    * op's scan cost before this was hoisted). A ≤3-token doc hashes whole
    * as its single shingle. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    shingleSetsKeeping(docs, Nil)

  /** [[shingleSets]] with passthrough columns (e.g. `source` for the
    * per-domain boilerplate statistics) — kept as ONE definition so a
    * passthrough consumer can never fork the shingle derivation. */
  private def shingleSetsKeeping(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val keyCols = col("doc_id") +: keep.map(col)
    val toked = docs.select(keyCols :+ tokens(col("text")).as("tk"): _*)
      .withColumn("th", graft.functions.GraftFunctions.hash31Tokens(col("tk")))
    val shingleExpr = when(size(col("tk")) <= 3,
        array(pmod(hash64(array_join(col("tk"), " ")), lit(IntModulus))))
      .otherwise(graft.functions.GraftFunctions.shinglePoly(col("th"), ShingleC))
    toked.select(keyCols :+ array_distinct(shingleExpr).as("ds"): _*)
  }

  /** MinHash + banded-LSH near-duplicate detection with exact-Jaccard
    * verification — the scale path for fuzzy dedup (all-pairs is banned).
    *
    * Near-duplicates are synthesized deterministically: each document gets a
    * variant with its first 5 tokens dropped (id + 1,000,000) — the "same
    * article, different boilerplate" shape. Pipeline, identical in both
    * engines:
    *   1. per-token 31-bit hashes ([[hash31]]: md5-based, cross-engine) →
    *      numeric 3-gram shingle hashes ([[ShingleC]] polynomial), distinct
    *      per doc;
    *   2. 16 minhashes via the pinned universal-hash family;
    *   4. 4 bands × 4 rows: band signature = joined minhash run;
    *   5. candidate pairs = docs sharing ANY (band, signature) bucket —
    *      an equi-join on the bucket key, shuffle ∝ |docs|·bands;
    *   6. verify candidates with EXACT Jaccard on shingle sets; keep
    *      J ≥ 0.5, tested integer-side (2·|∩| ≥ |∪|) — no floats anywhere.
    *
    * Output is pure integers (ids + intersection/union sizes), so the oracle
    * compare is exact by construction. It is sorted inside one partition,
    * as [[jaccardPrefix]]: a global `orderBy` would sample the verify stage
    * in an extra job that re-runs it. */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairs(spark, dir)
      .repartition(1)
      .sortWithinPartitions("doc_a", "doc_b")

  /** The verified near-duplicate pair stream WITHOUT the output sort —
    * shared by [[minhashDedup]] (which just orders it) and [[dupClusters]]
    * (which feeds it into connected components; a sort before a self-join
    * would be a wasted shuffle).
    *
    * CHECKPOINT CONTRACT: the distinct-shingle sets are read by the
    * signature path AND both sides of the verification join, so `shd` is an
    * EAGER `localCheckpoint` — computed by exactly one job (a persisted
    * frame that is not yet cached is materialized by AQE once per plan
    * branch that reads it, in concurrent jobs) and read with no generated
    * columnar-cache accessors; the bands are checkpointed the same way
    * ([[minhashVerifiedPairsFrom]]). At 100 TB this materialization
    * (≈ corpus token volume) is the standard minhash-pipeline
    * intermediate. `spark.catalog.clearCache()` does not release a
    * checkpoint; [[graft.GraftSession.release]]'s RDD sweep or
    * [[graft.operators.IterStorage.release]] does. */
  private def minhashVerifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val all = docsWithVariants(spark, dir).select(col("doc_id"), col("text"))
    minhashVerifiedPairsFrom(shingleSets(all).localCheckpoint(true))
  }

  /** [[minhashVerifiedPairs]] over a CALLER-materialized shingle frame —
    * lets [[dedupEval]] share ONE shingle materialization between its
    * exact-Jaccard truth set and the minhash family it grades, instead of
    * shingling the corpus twice. The bands are an eager `localCheckpoint`:
    * both sides of the bucket self-join read them, and one job computes
    * them. They are hash-partitioned on `doc_id` first and checkpointed
    * through [[org.apache.spark.sql.GraftCheckpoint]], which keeps that
    * partitioning: the self-join broadcasts one side, so every candidate
    * `(doc_a, doc_b)` already sits in the partition of its `doc_a` and the
    * `distinct` runs without a shuffle of the candidate stream. */
  private def minhashVerifiedPairsFrom(shd: DataFrame): DataFrame = {
    val bands = org.apache.spark.sql.GraftCheckpoint.localCheckpoint(
      minhashBands(shd, persist = false)
        .repartition(shd.sparkSession.sparkContext.defaultParallelism, col("doc_id")))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    verifiedJaccardPairs(cand, shd)
  }

  /** `(doc_id, band, bsig)` banded-LSH bucket keys from a shingle frame —
    * the signature+banding head of the minhash family, factored out so the
    * self-join ([[minhashVerifiedPairsFrom]]) and the corpus×batch join
    * ([[crossDedup]]) derive candidates from ONE banding definition.
    *
    * ONE fused pass over the shingle set for all NumHashes signature
    * elements (codegen'd MinhashSigs expression) — the HOF formulation was
    * NumHashes separate interpreted transform+array_min folds per row, the
    * same per-pass shape SimHashBits and HyperplaneBands replaced.
    * PERSISTED by default: |docs|·NumBands small rows, probed twice by
    * either join shape; [[graft.GraftSession.release]] drops the entry. The
    * self-join passes `persist = false` and checkpoints the frame itself
    * ([[minhashVerifiedPairsFrom]]); the streaming gate passes it for its
    * per-micro-batch side — consumed exactly once, a cache entry there
    * would leak per batch. */
  private[graft] def minhashBands(shd: DataFrame, persist: Boolean = true): DataFrame = {
    val sigs = shd
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSigs(col("ds"), NumHashes).as("sig"))
    val bands = sigs.select(
      col("doc_id"),
      explode(array((0 until NumBands).map { b =>
        struct(
          lit(b).as("band"),
          concat_ws("-", (0 until RowsPerBand).map(r =>
            element_at(col("sig"), b * RowsPerBand + r + 1)): _*).as("bsig"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bsig").as("bsig"))
    if (persist) bands.persist() else bands
  }

  /** Exact-Jaccard verification tail shared by the minhash family and
    * [[dedupEval]]'s ground truth: join `(doc_a, doc_b)` candidate pairs
    * back to their shingle sets and keep J ≥ 0.5, tested integer-side — no
    * floats. ONE definition so the truth set and the family it grades can
    * never verify with different criteria. Both sides join the SAME `shd`
    * frame, so their broadcasts are one reused exchange, and the filter is
    * 3·|∩| ≥ |A| + |B| (the same integers as 2·|∩| ≥ |∪|, since
    * |∪| = |A| + |B| − |∩| for sets): Catalyst pushes it into the join
    * condition, where it calls the |∩| kernel (primitive counting, no
    * boxed hash set or materialized intersection) once per candidate. */
  private[queries] def verifiedJaccardPairs(cand: DataFrame, shd: DataFrame): DataFrame = {
    val (dsA, dsB) = (col("a.ds"), col("b.ds"))
    val nInter = intersectCount(dsA, dsB).cast("int")
    val nAB = size(dsA) + size(dsB)
    cand
      .join(shd.as("a"), col("doc_a") === col("a.doc_id"))
      .join(shd.as("b"), col("doc_b") === col("b.doc_id"))
      .filter(lit(3) * nInter >= nAB)
      .select(col("doc_a"), col("doc_b"), nInter.as("n_inter"), (nAB - nInter).as("n_union"))
  }

  // ---- e_cross_dedup ------------------------------------------------------

  /** CROSS-corpus near-duplicate join — incremental fuzzy dedup, the shape
    * a crawl pipeline actually runs: dedup an incoming batch AGAINST the
    * existing corpus without re-pairing the corpus with itself. The batch
    * is the deterministic re-crawl variants ([[docsWithVariants]], ids ≥
    * [[VariantIdOffset]]); candidates come from the SAME banded-LSH bucket
    * keys as [[minhashDedup]] ([[minhashBands]] — one banding definition),
    * but the bucket join is corpus×batch instead of a self-join, so
    * in-batch and in-corpus pairs never materialize; each candidate is
    * verified with the shared exact-Jaccard tail ([[verifiedJaccardPairs]],
    * J ≥ 0.5 tested integer-side). The exact-hash sibling is [[incrDedup]]
    * (byte-identical re-crawls); this operator catches the near-miss
    * re-crawls exact hashing is blind to.
    *
    * At scale the corpus side's band keys are a static INDEX: built once,
    * stored bucketed on (band, bsig) ([[graft.operators.Bucketing]]), so
    * each arriving batch shuffles only its own |batch|·bands rows into the
    * bucket join — the corpus never re-bands and never re-shuffles per
    * batch, which is what makes this the incremental path (the self-join
    * family re-pairs the whole universe every run). Output is all-integer
    * (ids + set sizes), exact-compare safe. */
  def crossDedup(spark: SparkSession, dir: String): DataFrame = {
    val all = docsWithVariants(spark, dir).select(col("doc_id"), col("text"))
    // PERSISTED: probed by the banding path and both verify sides (same
    // materialization contract as minhashVerifiedPairs).
    val shd = shingleSets(all)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = minhashBands(shd)
    crossNearDupPairs(
      bands.filter(col("doc_id") < lit(VariantIdOffset)), shd,
      bands.filter(col("doc_id") >= lit(VariantIdOffset)), shd)
      .orderBy("doc_a", "doc_b")
  }

  /** The cross near-dup CORE — one corpus-side banded index joined against
    * one batch-side banding, candidates verified with exact Jaccard
    * (J ≥ 0.5 integer-side; `doc_a` = corpus id, `doc_b` = batch id).
    * Shared by the batch operator ([[crossDedup]]) and the streaming gate
    * ([[graft.streaming.Streaming.startNearDupGate]]), so the continuous
    * and batch incremental-dedup paths cannot drift. The two sides carry
    * their own shingle frames: in the streaming shape the corpus index is
    * static and persisted across micro-batches while the batch side is
    * born and dies with each micro-batch. */
  private[graft] def crossNearDupPairs(
      corpusBands: DataFrame, corpusShd: DataFrame,
      batchBands: DataFrame, batchShd: DataFrame): DataFrame = {
    val cand = corpusBands.as("x")
      .join(batchBands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(corpusShd.select(col("doc_id").as("doc_a"), col("ds").as("ds_a")), Seq("doc_a"))
      .join(batchShd.select(col("doc_id").as("doc_b"), col("ds").as("ds_b")), Seq("doc_b"))
      .withColumn("n_inter",
        intersectCount(col("ds_a"), col("ds_b")).cast("int"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (size(col("ds_a")) + size(col("ds_b")) - col("n_inter")).as("n_union"))
      .filter(lit(2) * col("n_inter") >= col("n_union"))
  }

  // ---- e_simhash_dedup ----------------------------------------------------

  /** SimHash near-duplicate detection — the third fuzzy-dedup family
    * (Charikar's scheme: per-bit majority vote over token hashes). 32-bit
    * signature (kept in a long; the oracle's left-shift is bounded at 63),
    * candidates via 2 SIXTEEN-bit signature bands: with a Hamming ≤ 1
    * verify, one differing bit can spoil at most one band (pigeonhole), so
    * recall is GUARANTEED — and 16-bit buckets are ~256× smaller than
    * 8-bit ones, collapsing the candidate join from millions of pairs to
    * the near-duplicates plus noise (measured 5× faster, identical rows).
    * Verification = exact Hamming via bit_count(xor); all-integer output. */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val toked = docsWithVariants(spark, dir)
      .select(col("doc_id"), graft.functions.GraftFunctions.hash31Tokens(tokens(col("text"))).as("th"))
    // ONE fused pass for all 32 bits (codegen'd SimHashBits expression) —
    // the HOF formulation was 32 separate interpreted folds over the
    // token-hash array per row, the same per-bit-pass shape HyperplaneLsh
    // replaced for the cosine family
    val sigs = toked
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhashBits(col("th"), 32).as("sim"))
      .persist()

    val bands = sigs.select(col("doc_id"), col("sim"),
        explode(array((0 until 2).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sim"), 16 * b).bitwiseAND(lit(65535L)).as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band").as("band"), col("bk.bv").as("bv"))

    // Hamming filter BEFORE the distinct: the xor/bit_count verify is a few
    // cycles, so running it on the raw join output and deduplicating only
    // the survivors shrinks the distinct's shuffle from |candidates|
    // (millions at scale) to |near-dups|.
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .filter(col("hamming") <= 1)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ---- e_media_dedup ------------------------------------------------------

  /** Perceptual-hash geometry: [[PhashCells]] grid cells (the aHash 8×8
    * shape), [[PhashBands]] 16-bit bands over the 64-bit signature, and the
    * Hamming acceptance threshold [[PhashTau]]. The pigeonhole guarantee is
    * the [[simhashDedup]] one: τ differing bits can spoil at most τ of the
    * 4 bands, so with τ = 3 < bands every Hamming ≤ τ pair still collides
    * in ≥ 1 band — banded candidate generation is EXACT for this verify. */
  private[queries] val PhashCells = 64
  private[queries] val PhashBands = 4
  private[queries] val PhashTau = 3
  /** Per-cell intensity modulus 2³²: the 64-cell intensity sum then stays
    * below 2³⁸ (exact int64 — raw 60-bit [[hash64]] values would overflow
    * a 64-term sum). */
  private[queries] val PhashIntensityMod = 1L << 32
  /** Corrupted tail length of the re-encode variant fixture. */
  private[queries] val PhashEditChars = 4

  /** Perceptual-hash near-duplicate detection over MEDIA PAYLOADS — the
    * dedup × multimodal intersection: the text families ([[minhashDedup]],
    * [[simhashDedup]]) key on tokens, but an image/audio payload re-encoded
    * at a different quality has no tokens — production pipelines dedup it
    * with an aHash/dHash-style PERCEPTUAL fingerprint: decode to a fixed
    * grid, one bit per cell = cell intensity above the grid mean, then
    * near-dups are signatures within a small Hamming distance.
    *
    * Here the payload is the documents fixture's bytes (the
    * [[multimodalCols]] convention; [[graft.multimodal.MediaDecode]] owns
    * the real decode plumbing — this container has no codecs, so the
    * "decoded grid" stands in deterministically): the byte stream splits
    * into [[PhashCells]] equal ranges, cell intensity = position-salted
    * [[hash64]] mod 2³² of the range (any byte change re-rolls exactly its
    * cell, the perceptual-hash locality property the fixture needs), bit =
    * intensity·64 > Σ intensities (the aHash mean rule, integer-side). The
    * re-encode fixture overwrites each document's LAST [[PhashEditChars]]
    * bytes (id + [[VariantIdOffset]]) — a tail-corruption that perturbs one
    * grid cell, exactly the "same media, different encoder padding" shape.
    *
    * Pipeline mirrors [[simhashDedup]]: signature → [[PhashBands]] 16-bit
    * band buckets → band equi-join candidates (never all-pairs) → exact
    * Hamming ≤ [[PhashTau]] verify via bit_count(xor) over the band array.
    * All-integer output; the banded recall guarantee is pinned in the spec.
    *
    * At scale: signatures are computed scan-side (one pass over payload
    * bytes per cell — at 100 TB the grid comes out of the decode stage
    * for free); only (doc_id, 4-long signature) shuffles on band keys, the
    * payload itself never moves. Hamming-filter-before-distinct keeps the
    * dedup shuffle at |near-dups|, not |candidates|. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    // the docsWithVariants generator device — ONE documents scan yields
    // both the original and its tail-corrupted re-encode (vs a
    // self-union's two scans of the payload column)
    val uni = table(spark, dir, "documents")
      .select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + lit(VariantIdOffset)).as("doc_id"),
          concat(col("text").substr(lit(1),
              greatest(length(col("text")) - lit(PhashEditChars), lit(0))),
            lit("z" * PhashEditChars)).as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    val sigs = phashSignatures(uni)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = phashBands(sigs)
    phashPairs(bands, bands, col("x.doc_id") < col("y.doc_id"))
      .orderBy("doc_a", "doc_b")
  }

  /** `(doc_id, sim)` perceptual band-value signatures of a `(doc_id, text)`
    * frame — [[mediaDedup]]'s grid, factored so the batch self-join and the
    * streaming gate ([[graft.streaming.Streaming.startMediaDupGate]])
    * derive bit-identical signatures. The payload round-trip (encode →
    * decode) keeps the operator's input contract literal: the signature is
    * a function of the opaque payload ([[multimodalCols]]' `media.payload`),
    * the fixture decode being the identity on UTF-8. Stand-in note: the
    * grid then splits the DECODED text by CODE POINT (Spark and DuckDB
    * `length`/`substr` are both code-point indexed, so the engines agree
    * exactly) — a deterministic proxy for the byte/pixel planes a real
    * codec would emit; a production decoder swaps the decode step, not the
    * grid. Driver-side replays must index by code point too
    * (`offsetByCodePoints`, see MediaDedupSpec), not UTF-16 chars.
    * NOT persisted — each caller owns its materialization boundary. */
  private[graft] def phashSignatures(docs: DataFrame): DataFrame =
    // the whole cell-grid + band-fold signature in ONE codegen'd pass
    // (round 18, [[graft.functions.TokenHash.phashSim]] — the HOF form
    // re-ran an interpreted substr/concat/md5 stack per cell and an
    // interpreted bit fold per band; cell boundaries, intensities, and
    // the MSB-first acc·2+bit packing are reproduced bit-for-bit, and
    // the oracle's (i*n)//64 derivation is unchanged)
    docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), decode(col("payload"), "UTF-8").as("ptxt"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.phashSim(col("ptxt"),
          PhashCells, PhashBands, PhashIntensityMod).as("sim"))

  /** `(doc_id, sim, band, bv)` band-bucket rows of a signature frame. */
  private[graft] def phashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sim"), posexplode(col("sim")))
      .select(col("doc_id"), col("sim"), col("pos").as("band"), col("col").as("bv"))

  /** Banded candidates verified to exact Hamming ≤ [[PhashTau]]:
    * `(doc_a, doc_b, hamming)`, distinct. `cond` scopes the pair universe —
    * `x.doc_id < y.doc_id` for the self-join dedup, `lit(true)` for the
    * corpus × batch gate (disjoint id ranges). The Hamming filter runs
    * BEFORE the distinct (the [[simhashDedup]] ordering): the
    * xor/bit_count verify is cycles, the distinct is a shuffle. */
  private[graft] def phashPairs(xBands: DataFrame, yBands: DataFrame,
      cond: Column): DataFrame =
    xBands.as("x")
      .join(yBands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") && cond)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        graft.functions.GraftFunctions.vecHamming(col("x.sim"), col("y.sim"))
          .as("hamming"))
      .filter(col("hamming") <= PhashTau)
      .distinct()

  /** `(doc_id, keep…, bs, nb)`: distinct numeric BIGRAM-hash sets (plus set
    * size) from a `(doc_id, …, text)` frame — the 2-gram sibling of
    * [[shingleSetsKeeping]], factored out so the blocked ([[ngramJaccard]])
    * and prefix-filtered ([[jaccardPrefix]]) similarity joins can never fork
    * the set derivation they both verify against (oracle side likewise
    * shared — [[ExtOracles]]'s bigram CTE block). A ≤2-token doc hashes
    * whole as its single bigram. NOT persisted here: each caller owns the
    * materialization boundary for its own consumer count. */
  private def bigramSetsKeeping(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val keyCols = col("doc_id") +: keep.map(col)
    val toked = docs.select(keyCols :+ tokens(col("text")).as("tk"): _*)
      .withColumn("th", graft.functions.GraftFunctions.hash31Tokens(col("tk")))
    // bigram hashes: polynomial over adjacent token hashes (ShingleC(0..1))
    val bigrams = when(size(col("tk")) <= 2,
        array(pmod(hash64(array_join(col("tk"), " ")), lit(IntModulus))))
      .otherwise(graft.functions.GraftFunctions.shinglePoly(col("th"), ShingleC.take(2)))
    toked.select(keyCols :+ array_distinct(bigrams).as("bs"): _*)
      .withColumn("nb", size(col("bs")))
  }

  // ---- e_ngram_jaccard ----------------------------------------------------

  /** Blocked pairwise n-gram Jaccard — the non-LSH fuzzy-dedup strategy:
    * candidate pairs come from a cheap BLOCKING key (lang, source) instead
    * of signature buckets, then exact bigram-set Jaccard ≥ 0.5 verified in
    * integers. Blocking bounds the quadratic term by the largest block
    * (≤ ~110 docs here); the tradeoff vs MinHash-LSH: no hash recall loss,
    * but pairs grow with block² — use when a natural partition key exists. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // INVERTED-INDEX similarity join — the scale formulation of pairwise
    // Jaccard: explode the (distinct) bigram sets, equi-join postings on
    // (block, bigram), and COUNT matches per pair = |A∩B|; |A∪B| falls out
    // as |A|+|B|−|A∩B|. No per-pair array materialization or set ops — the
    // whole pairwise step is narrow integer columns through one hash join
    // and one hash aggregate (3.5× faster than array_intersect-per-pair at
    // sf0.1). Pairs with an empty intersection can never pass the J ≥ 0.5
    // filter, so postings-only pair generation loses nothing.
    val sets = bigramSetsKeeping(docsWithVariants(spark, dir), Seq("lang", "source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = sets.select(col("lang"), col("source"), col("doc_id"), col("nb"),
      explode(col("bs")).as("g"))

    postings.as("x")
      .join(postings.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.nb").as("na"), col("y.nb").as("nbb"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("na") + col("nbb") - col("n_inter")).as("n_union"))
      .filter(lit(2) * col("n_inter") >= col("n_union"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- e_jaccard_prefix ---------------------------------------------------

  /** GLOBAL prefix-filtered all-pairs Jaccard join — the AllPairs/PPJoin
    * formulation (Bayardo et al. WWW'07; Xiao et al. WWW'08): identical
    * J ≥ 0.5 pair semantics to [[ngramJaccard]] but with NO blocking key.
    * Bigrams get one global total order (document frequency ASC, hash ASC);
    * a document's PREFIX is its first |bs| − ⌈|bs|/2⌉ + 1 bigrams in that
    * order, and the prefix-filter theorem guarantees every pair with
    * J ≥ t collides inside both prefixes — so the candidate join runs on
    * prefix postings ONLY, and those lists hold each document's RAREST
    * bigrams (df-ascending order keeps stop-bigrams out of the index
    * entirely unless a document consists of little else). Candidates also
    * pass the length filter 2·min(|A|,|B|) ≥ max(|A|,|B|) (J ≥ 0.5 bounds
    * the size ratio) before the exact integer-side verify (2·|∩| ≥ |∪|).
    *
    * At scale this is the fuzzy-dedup join for a corpus with no natural
    * partition key: [[ngramJaccard]]'s full-posting self-join grows with
    * Σ_g df(g)² — quadratic in the hottest posting list — while the prefix
    * index grows with Σ_g df_prefix(g)², and a bigram only counts toward
    * df_prefix where it falls in a document's rarest half. Candidate
    * generation is EXACT (theorem, not heuristic): the oracle computes the
    * unfiltered inverted-index join and the outputs hash-match.
    *
    * POSITIONAL FILTER (PPJoin, Xiao et al. WWW'08 §3.2): the collision
    * rows are reduced per pair to (c, pos of the MAXIMAL shared prefix
    * bigram g*) in the global (df, g) order. Every shared element BELOW g*
    * sits before g* in both lists, hence inside both prefixes, hence IS
    * one of the c collisions — so the true overlap obeys
    * i ≤ c + min(|A| − pos_A(g*), |B| − pos_B(g*)). Pairs whose bound
    * cannot reach the J ≥ 0.5 overlap requirement 3·i ≥ |A| + |B| are
    * pruned BEFORE the expensive set-intersection verify — exact (a bound,
    * not a heuristic), and on a dense small-vocabulary corpus (every
    * bigram a near-stop-bigram, the adversarial case for AllPairs) it cuts
    * the verify volume several-fold: the c-term bound prunes 13.0M → 5.8M
    * candidates at sf0.1 where the weaker single-collision form
    * (i ≤ 1 + min(remaining after the MINIMAL shared gram)) kept 13.0M.
    * Because shared grams appear in ascending global order in BOTH lists,
    * max(pos_A) and max(pos_B) land on the SAME gram g* — so the reduction
    * is plain max/count aggregates over ints, which Spark executes as a
    * map-side-combined HashAggregate; a max-of-struct formulation of the
    * same bound forces a SortAggregate that SORTS the full collision
    * stream (measured 2.3× slower on this stage).
    *
    * VERIFY: `bs` is sorted ONCE at materialization (`sort_array`, which
    * codegens; `bs` is distinct and has no null element but the lone one
    * of a null-text document, so any ascending sort gives this order) and
    * the per-pair counter is [[graft.functions.SetOps.intersectCountSorted]]
    * — a linear two-pointer merge with no per-pair scratch buffer or sort
    * (2.4× faster than the general kernel on the 5.8M-pair verify at
    * sf0.1, where each set is probed thousands of times). Both verify
    * sides join the SAME `(doc_id, bs)` frame, so their broadcasts are one
    * reused exchange, and the filter is 3·|∩| ≥ |A| + |B| (the same
    * integers as 2·|∩| ≥ |∪|): Catalyst pushes it into the join condition,
    * where it calls the kernel once per candidate (the |∪| form names
    * |∩| twice and calls it twice).
    *
    * Shuffles: one df aggregate, one per-doc posting repartition (one
    * partition per core, so AQE cannot fold the quadratic self-join into
    * one task on a small corpus; the window reuses it), and the output's
    * single-partition exchange. The per-pair collision aggregate needs no
    * shuffle of its own: the ranked postings keep their `doc_id` hash
    * partitioning through the checkpoint, the candidate self-join
    * broadcasts one side, so every `(doc_a, doc_b)` group is already in
    * the partition of its `doc_a`. The output is sorted inside that one
    * partition because a global `orderBy` over the un-shuffled verify
    * stage makes the range partitioner sample that stage in an extra job,
    * running the self-join, the pair aggregate and the verify twice. The
    * output is |verified pairs| rows, a small fraction of the candidates.
    *
    * CACHING CONTRACT: `sets` (read by the postings path and the verify)
    * and the ranked postings (both sides of the candidate self-join) are
    * EAGER `localCheckpoint`s, each computed by exactly one job (AQE
    * materializes a not-yet-cached persisted frame once per plan branch
    * that reads it, in concurrent jobs), and their reads need no generated
    * columnar-cache accessors. The ranked postings are checkpointed
    * through [[org.apache.spark.sql.GraftCheckpoint]], which keeps their
    * `doc_id` partitioning (a plain `localCheckpoint` under adaptive
    * execution forgets it). `spark.catalog.clearCache()` does not release
    * them; the Bench/Verify teardown's RDD sweep
    * ([[graft.GraftSession.release]]) or
    * [[graft.operators.IterStorage.release]] on the output does. */
  def jaccardPrefix(spark: SparkSession, dir: String): DataFrame = {
    val (sets, _, prefix) = jaccardPrefixIndex(spark, dir)
    val (bsA, bsB) = (col("a.bs"), col("b.bs"))
    val nInter = graft.functions.GraftFunctions.intersectCountSorted(bsA, bsB)
    val nAB = size(bsA).cast("long") + size(bsB).cast("long")
    jaccardPrefixCandidates(prefix)
      .join(sets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sets.as("b"), col("doc_b") === col("b.doc_id"))
      .filter(lit(3) * nInter >= nAB)
      .select(col("doc_a"), col("doc_b"), nInter.as("n_inter"), (nAB - nInter).as("n_union"))
      .repartition(1)
      .sortWithinPartitions("doc_a", "doc_b")
  }

  /** [[jaccardPrefix]]'s candidate-pair counts at each pruning stage —
    * (after positional filter, after prefix filter, unfiltered posting
    * join) — exposed for the spec to measure BOTH filters actually pruning
    * (the scale claims), not just matching the truth. */
  private[queries] def jaccardPrefixCandidateCounts(
      spark: SparkSession, dir: String): (Long, Long, Long) = {
    val (sets, postings, prefix) = jaccardPrefixIndex(spark, dir)
    def pairs(p: DataFrame): Long = p.as("x")
      .join(p.as("y"), col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val res = (jaccardPrefixCandidates(prefix).count(), pairs(prefix), pairs(postings))
    graft.operators.IterStorage.release(prefix)
    graft.operators.IterStorage.release(sets)
    res
  }

  /** [[jaccardPrefix]]'s index — (`sets` with `bs` sorted, its bigram
    * `postings`, the (df, g)-ranked `prefix` postings), `sets` and the
    * ranked postings eagerly checkpointed — derived in one place for the
    * key and [[jaccardPrefixCandidateCounts]], so the pruning the spec
    * measures is the key's own. The checkpoint holds every posting with
    * its rank, straight off the window, and the prefix filter runs in the
    * stages that read it: a filter between the window and the checkpoint
    * would be one more generated stage (the window itself is not
    * code-generated), for postings that are slim integer rows. */
  private def jaccardPrefixIndex(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    // `sets` holds exactly the columns its readers take, so no read of it
    // needs a pruning projection
    val sets = bigramSetsKeeping(docsWithVariants(spark, dir), Nil)
      .select(col("doc_id"), sort_array(col("bs")).as("bs"))
      .localCheckpoint(true)
    val postings = sets.select(col("doc_id"), size(col("bs")).as("nb"),
      explode(col("bs")).as("g"))
    val dfreq = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ranked = org.apache.spark.sql.GraftCheckpoint.localCheckpoint(
      postings.join(dfreq, Seq("g"))
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("g").asc))))
    val prefix = ranked
      .filter(col("rn") <= col("nb") - expr("(nb + 1) div 2") + 1)
      .select(col("g"), col("doc_id"), col("nb"), col("rn"))
    (sets, postings, prefix)
  }

  /** The prefix self-join of [[jaccardPrefixIndex]] reduced per pair
    * `(doc_a, doc_b)` under the length and positional filters
    * ([[jaccardPrefix]]'s scaladoc). */
  private def jaccardPrefixCandidates(prefix: DataFrame): DataFrame =
    prefix.as("x")
      .join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          lit(2) * least(col("x.nb"), col("y.nb")) >= greatest(col("x.nb"), col("y.nb")))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      // rn is each document's position in the SAME global (df, g) order, so
      // the maximal shared prefix gram g* carries BOTH max(rn_x) and
      // max(rn_y) — plain primitive maxes, deliberately not max(struct)
      // (scaladoc: HashAggregate vs SortAggregate)
      .agg(max(col("x.rn")).as("px"), max(col("y.rn")).as("py"),
        max(col("x.nb")).as("na"), max(col("y.nb")).as("nbb"),
        count(lit(1)).as("c"))
      .filter(lit(3) * (col("c")
          + least(col("na") - col("px"), col("nbb") - col("py")))
        >= col("na") + col("nbb"))

  /** LSH signature sizing (cosine family). The near-dup DEDUP path uses
    * 64 planes → 4 bands × 16 bits: 2¹⁶ = 65,536 buckets per band, so the
    * in-bucket self-join is bounded by corpus/2¹⁶ rows per bucket — at 10⁹
    * vectors that is ~15k/bucket, and band bits should GROW with log₂(corpus)
    * (the knob is a parameter now, not a constant). The ANN path uses
    * 32 planes → 4 bands × 8 bits: coarser buckets on purpose — top-k wants
    * candidate RECALL on a general corpus, near-dup dedup wants candidate
    * PRECISION on a high-cosine one; sizing rule: bits ≈ log₂(corpus /
    * target-bucket-size), bands ≈ desired recall boost. Coefficients for
    * plane p are the same arithmetic derivation in both engines
    * ([[graft.functions.HyperplaneLsh]]). */
  private[queries] val DedupPlanes = 64
  private[queries] val DedupBands = 4
  private[queries] val DedupBandBits = DedupPlanes / DedupBands
  private[queries] val AnnPlanes = 32
  private[queries] val AnnBands = 4
  private[queries] val AnnBandBits = AnnPlanes / AnnBands

  /** (vec_id, e, nrm, band, bv) rows: one per (vector, band), bucket value
    * from the fused single-pass [[graft.functions.HyperplaneLsh]] signature
    * (replaces per-plane interpreted zip_with folds — the bench's former
    * hottest scan). */
  private def withBandBuckets(vecs: DataFrame, planes: Int, bands: Int): DataFrame =
    vecs
      .select(col("vec_id"), col("e"), l2norm(col("e")).as("nrm"),
        graft.functions.GraftFunctions.hyperplaneBands(col("e"), planes, bands).as("bvs"))
      .select(col("vec_id"), col("e"), col("nrm"), posexplode(col("bvs")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bv")

  // ---- e_containment ------------------------------------------------------

  /** Rare-shingle inverted-index postings `(doc_id, h)` over a shingle
    * frame: the postings minus stop-shingles (document frequency >
    * [[DedupEvalDfCap]]) — the candidate-generation index shared by
    * [[dedupEval]]'s exact truth and [[containment]]. A df-d shingle
    * contributes d² rows to a postings join and zero discriminating power,
    * so the cap is what keeps these joins from going quadratic in the
    * hottest posting list. The hot set is tiny by definition (few shingles
    * can each appear in many docs), so it broadcasts and the postings side
    * never shuffles for the anti-join. PERSISTED (slim integer pairs):
    * every caller self-joins it, which scans both sides. */
  private def rareShinglePostings(shd: DataFrame): DataFrame = {
    val post = shd.select(col("doc_id"), explode(col("ds")).as("h"))
    val hot = post.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(DedupEvalDfCap))
      .select(col("h"))
    post.join(broadcast(hot), Seq("h"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Asymmetric set-CONTAINMENT detection — the "is A a quote/subset of B"
    * relation every Jaccard-thresholded dedup is blind to: a short document
    * fully embedded in a long one has C = |A∩B|/min(|A|,|B|) ≈ 1 while
    * J = |A∩B|/|A∪B| is arbitrarily small, so it survives near-dup removal
    * and leaks the same text twice into training. Emits every pair of the
    * variant-augmented corpus with containment ≥ 0.8, tested INTEGER-side
    * (5·|∩| ≥ 4·min(|A|,|B|)); the reported `containment` double is one
    * IEEE divide from the exact integers. Sets are the SAME 3-gram shingle
    * sets as the Jaccard family ([[shingleSets]]), so a containment hit
    * and a Jaccard hit argue about identical evidence.
    *
    * Candidates must share ≥ 1 RARE shingle ([[rareShinglePostings]] — the
    * df-capped index shared with [[dedupEval]]'s truth join, cap mirrored
    * in the oracle CTE): a pair overlapping ONLY in stop-shingles is
    * invisible, the standard production tradeoff (such overlap cannot make
    * a non-trivial document 80 % contained). Verification computes |∩| on
    * the FULL sets. At scale: candidate volume is bounded by Σ df² over
    * df ≤ cap shingles, the verify join is |candidates| rows against the
    * persisted shingle frame — never all-pairs, never uncapped. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val shd = shingleSets(docsWithVariants(spark, dir)
        .select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = rareShinglePostings(shd)
    val cand = rare.as("x")
      .join(rare.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(shd.select(col("doc_id").as("doc_a"), col("ds").as("ds_a")), Seq("doc_a"))
      .join(shd.select(col("doc_id").as("doc_b"), col("ds").as("ds_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        intersectCount(col("ds_a"), col("ds_b"))
          .cast("int").as("n_inter"),
        size(col("ds_a")).as("n_a"), size(col("ds_b")).as("n_b"))
      .filter(lit(5) * col("n_inter") >= lit(4) * least(col("n_a"), col("n_b")))
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      // sorted in one partition, as [[jaccardPrefix]]: a global orderBy
      // would sample the verify stage in an extra job that re-runs it
      .repartition(1)
      .sortWithinPartitions("doc_a", "doc_b")
  }

  // ---- e_cosine_dedup -----------------------------------------------------

  /** Embedding-cosine near-duplicate detection via random-hyperplane LSH —
    * the SCALE path for e_cosine_topk-style similarity (sign of
    * [[DedupPlanes]] pinned pseudo-random hyperplane projections →
    * [[DedupBands]] × [[DedupBandBits]]-bit signature bands → bucket join →
    * exact cosine ≥ 0.95 verify). Hyperplane coefficients are derived
    * arithmetically (Knuth multiplicative constant mod 2³¹, scaled to
    * [-0.5, 0.5)) so the oracle reproduces them without shipping
    * planes × dims literals. Near-duplicates are synthesized as
    * deterministically perturbed copies (per-dim scale 0.9 + 0.05·(d mod 5),
    * re-rounded to float32 in both engines).
    *
    * CACHING CONTRACT: persists the signature frame; callers invoking
    * repeatedly in one session should clearCache() after materializing
    * (the file-default contract in the [[ExtQueries]] header). */
  def cosineDedup(spark: SparkSession, dir: String): DataFrame = {
    val vecs = table(spark, dir, "embeddings")
      .select(explode(array(
        struct(col("vec_id"), col("embedding").as("e")),
        struct((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, d) => (x.cast("double") * (lit(0.9) + lit(0.05) * (d % 5).cast("double")))
              .cast("float")).as("e")))).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("r.e").as("e"))

    // Norms are computed ONCE per vector here, not per candidate pair — at
    // |candidates| ≫ |vectors| that cuts two of the three folds per pair.
    // PERSISTED: both sides of the bucket self-join probe it.
    val bands = withBandBuckets(vecs, DedupPlanes, DedupBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val dot = dotD(col("x.e"), col("y.e"))
    // cosine verify BEFORE the distinct (see simhashDedup): only survivors
    // pay the dedup shuffle.
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        (dot / (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= 0.95)
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  // ---- e_cosine_topk_lsh --------------------------------------------------

  /** LSH-bucketed approximate nearest-neighbor search — the SCALE path for
    * [[cosineTopk]]: instead of scoring every (query, corpus) pair, each
    * query scores only corpus vectors sharing a hyperplane-signature band
    * bucket. Candidates per query ≈ |corpus| / 2^bandBits · bands, so cost
    * drops from |Q|·|corpus| to |Q|·candidates at the price of recall
    * (bucket misses) — the approximate results are still bit-deterministic,
    * and the oracle replicates the same buckets exactly.
    *
    * Recall caveat (measured): hyperplane buckets capture HIGH-cosine
    * neighbors — on the near-duplicate workload ([[cosineDedup]], cos≈0.99)
    * bucket recall is 97%, but on this uniformly-random corpus (best
    * cos≈0.37) top-k recall vs the brute-force baseline is near zero, as the
    * collision probability (1−θ/π)^bandBits predicts. Use the bucketed
    * path when genuine near neighbors exist; widen bands or fall back to
    * [[cosineTopk]] otherwise. Band sizing for ANN stays coarse
    * ([[AnnBandBits]] bits) deliberately — see the sizing note above
    * [[DedupPlanes]]. */
  def cosineTopkLsh(spark: SparkSession, dir: String): DataFrame = {
    val vecs = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
    val bands = withBandBuckets(vecs, AnnPlanes, AnnBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val q = bands.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("nq"),
        col("band"), col("bv"))
    val cand = bands.as("c")
      .join(broadcast(q), Seq("band", "bv"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (dotD(col("qe"), col("e")) / (col("nq") * col("nrm"))).as("score"))
      .distinct() // a pair can share both bands

    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_cosine_topk_ivf --------------------------------------------------

  /** DEFAULT number of IVF cells (pinned seed centroids, vec_id <
    * `cells`). This is the oracle-stability default, NOT a design constant:
    * every cell-partitioned operator takes `cells` as a parameter, because
    * the in-cell work is (N/cells)² per cell — SemDeDup's own cost model
    * wants cells ~ √N, so the knob must scale with the corpus, and a
    * hardcoded value would pin the self-join quadratic at 100 TB. */
  private[queries] val IvfCells = 4

  /** The `cells` pinned seed centroids with their norms — the shared
    * "quantizer" of the cell-partitioned operators ([[cosineTopkIvfNprobe]],
    * [[semanticDedup]]). ONE definition: cell semantics must not drift
    * between the ANN and dedup families. Seed centroids are the first
    * `cells` vectors — deterministic by construction, standing in for
    * k-means output (whose float iteration order is not reproducible
    * cross-engine); at scale you'd feed trained centroids in, keeping
    * cells ~ √N. */
  private[graft] def centroids(spark: SparkSession, dir: String,
      cells: Int = IvfCells): DataFrame =
    seedCentroidsOf(table(spark, dir, "embeddings"), cells)

  /** [[centroids]] over an in-memory `(vec_id, embedding, …)` corpus frame
    * — ONE seed rule whether the corpus arrives as a table path (batch
    * keys) or a DataFrame (the streaming attach gate). */
  private[graft] def seedCentroidsOf(corpus: DataFrame,
      cells: Int = IvfCells): DataFrame = {
    // fail loud, not empty: cells <= 0 would filter the centroid set to
    // nothing and every downstream cell-partitioned operator would
    // silently return zero rows
    require(cells >= 1, s"cell count must be >= 1, got $cells")
    corpus.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
      .withColumn("ncent", l2norm(col("ce")))
  }

  /** Each vector of `vecs` (`vec_id`, `e`, `nrm`) crossed with the BROADCAST
    * centroid set and ranked by cosine (pinned tie-break: centroid id).
    * Callers keep `crank === 1` for hard assignment or `<= nprobe` for
    * probing. */
  private def rankedCells(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val simToCent = dotD(col("e"), col("ce")) / (col("nrm") * col("ncent"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cent_id").asc)
    vecs.crossJoin(broadcast(cents))
      .withColumn("csim", simToCent)
      .withColumn("crank", row_number().over(wAssign))
  }

  /** IVF-style approximate nearest-neighbor search — the OTHER standard ANN
    * family next to [[cosineTopkLsh]]: partition the corpus into cells by
    * nearest CENTROID, then search only the query's nearest cell. The
    * oracle-checked entry point fixes nprobe = 1; [[cosineTopkIvfNprobe]]
    * exposes the recall knob. */
  def cosineTopkIvf(spark: SparkSession, dir: String): DataFrame =
    cosineTopkIvfNprobe(spark, dir, nprobe = 1)

  /** IVF search probing each query's `nprobe` nearest cells — the standard
    * IVF recall-vs-cost knob: candidates per query ≈ nprobe·|corpus|/cells,
    * recall grows monotonically with nprobe and reaches the exact
    * [[cosineTopk]] result at nprobe = cells (spec-measured on this corpus).
    * Centroids are [[IvfCells]] pinned seed vectors standing in for k-means
    * output — deterministic by construction, which a trained quantizer
    * cross-engine is not; the dataflow (assign → probe → in-cell search) is
    * the real IVF shape. Corpus assignment = argmax cosine over the
    * BROADCAST centroid set with a pinned tie-break — the corpus is scanned
    * once and never shuffled except the |corpus|-row cell column; the query
    * side re-ranks the same centroid set (|Q|·cells rows, negligible) and
    * keeps rank ≤ nprobe cells per query. Each corpus vector lives in
    * exactly one cell, so probing distinct cells never duplicates a
    * candidate pair. The assigned corpus is NOT persisted: the probe join
    * is its only consumer (the query side derives from the raw vectors), so
    * a cache would be pure materialization overhead. */
  def cosineTopkIvfNprobe(spark: SparkSession, dir: String, nprobe: Int,
      cells: Int = IvfCells): DataFrame = {
    require(nprobe >= 1 && nprobe <= cells,
      s"nprobe must be in [1, $cells], got $nprobe")
    ivfServe(spark, dir, centroids(spark, dir, cells), nprobe)
  }

  // ---- e_ivf_nprobe -------------------------------------------------------

  /** The multi-probe operating point graded by `e_ivf_nprobe` — an
    * oracle-stability pin like [[IvfCells]], not a design constant
    * ([[cosineTopkIvfNprobe]] is the knob). */
  private[queries] val IvfNprobeDefault = 2

  /** MULTI-PROBE IVF serving — the operating point real IVF deployments
    * actually run: nprobe = 1 (the `e_cosine_topk_ivf` entry) is the
    * WORST recall corner of the family, because an exact neighbor that
    * straddles a cell boundary is invisible to a single-cell probe; every
    * production config sweeps nprobe upward until recall meets target.
    * This key pins nprobe = [[IvfNprobeDefault]] under the oracle gate —
    * same [[ivfServe]] dataflow, query side keeping its `nprobe` nearest
    * cells — and `e_ann_recall` grades it as its own family row
    * (`recall_ivf2`), so the knob's recall benefit is itself a graded
    * number. Monotonicity (recall non-decreasing in nprobe, exact at
    * nprobe = cells) is spec-pinned in [[IvfRecallSpec]].
    *
    * At scale: candidates per query ≈ nprobe·|corpus|/cells — the linear
    * recall-vs-cost dial; the corpus still never shuffles (cell column
    * only), and each corpus vector lives in ONE cell, so multi-probe
    * never duplicates a candidate pair. */
  def ivfNprobe(spark: SparkSession, dir: String): DataFrame =
    cosineTopkIvfNprobe(spark, dir, IvfNprobeDefault)

  // ---- e_ivf_filter -------------------------------------------------------

  /** Probe width for [[ivfFilter]] — filtered serving raises nprobe above
    * the unfiltered default on purpose: only ~1/|labels| of each probed
    * cell satisfies the predicate, so a single-cell probe yields ~|cell|/10
    * candidates and starves the top-k. */
  private[queries] val IvfFilterNprobe = 2

  /** FILTERED IVF serving — [[annFilter]]'s predicate pushed into the
    * INDEX path (the operating point a vector store actually runs when a
    * filter accompanies the query): the corpus is cell-partitioned exactly
    * as [[cosineTopkIvf]] partitions it, the query probes its
    * [[IvfFilterNprobe]] nearest cells, and the predicate
    * (label = (query.label + 1) mod 10, the [[annFilter]] contract) is
    * applied to in-cell candidates BEFORE scoring — the index analogue of
    * the pre-filter plan, where [[annFilter]]'s exact truth is the
    * brute-force analogue. Recall against that truth is the measure of
    * what cell-partitioning costs under a filter (spec-measured).
    *
    * Determinism: the shared [[rankedCells]] assignment with its pinned
    * tie-break; the cosine fold contract; (score DESC, cid ASC) ranking.
    *
    * At scale: candidates per query ≈ nprobe·|corpus|/(cells·|labels|) —
    * the predicate cuts scoring work ANOTHER 10× below unfiltered IVF
    * (filters make index serving cheaper, same as [[annFilter]]'s
    * brute-force observation); the corpus never shuffles (cell column
    * only), labels ride the assignment projection for free; per-query
    * top-k is the bounded-state [[graft.functions.TopKByScoreAggregator]]
    * (the [[cosineTopkAgg]] shape — |queries|·|partitions|·k rows cross
    * the wire, never the per-query candidate stream a ranking window
    * shuffles). */
  def ivfFilter(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val (assigned, cents) = ivfLabeledIndex(emb)
    ivfFilterServe(assigned,
      ivfFilterProbes(emb.filter(col("vec_id") < 8), cents))
  }

  /** Labeled IVF index build of a `(vec_id, embedding, label)` corpus
    * frame: the `(vec_id, e, nrm, label, cell)` assignment plus its
    * centroid table — ONE definition shared by the batch [[ivfFilter]] and
    * the streaming [[graft.streaming.Streaming.startFilteredVectorGate]]
    * (the [[mergeWinners]] discipline: continuous and batch paths cannot
    * drift because they are the same code). The seed-centroid entry point;
    * [[ivfLabeledAssign]] is the body against an ARBITRARY centroid table
    * (the [[ivfServe]] factoring rule — one assignment body regardless of
    * quantizer origin, which is what lets [[ivfFilterTrained]] exist). */
  private[graft] def ivfLabeledIndex(corpus: DataFrame): (DataFrame, DataFrame) = {
    val cents = seedCentroidsOf(corpus)
    (ivfLabeledAssign(corpus, cents), cents)
  }

  /** The labeled hard assignment of a `(vec_id, embedding, label)` corpus
    * against a centroid table (`cent_id`, `ce`, `ncent`) — the
    * quantizer-agnostic half of [[ivfLabeledIndex]], shared by the seed
    * and trained filtered serves. */
  private[graft] def ivfLabeledAssign(corpus: DataFrame,
      cents: DataFrame): DataFrame = {
    val vecs = corpus
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", l2norm(col("e")))
    rankedCells(vecs, cents).filter(col("crank") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("label"),
        col("cent_id").as("cell"))
  }

  /** Per-query probe list of a `(vec_id, embedding, label)` query frame
    * against a centroid table: the query's [[IvfFilterNprobe]] nearest
    * cells with the [[annFilter]] target predicate attached —
    * `(qid, qe, nq, tgt, cell)`, one row per probed cell. */
  private[graft] def ivfFilterProbes(queries: DataFrame, cents: DataFrame): DataFrame =
    ivfFilterProbesAll(queries, cents)
      .filter(col("crank") <= IvfFilterNprobe)
      .select(col("qid"), col("qe"), col("nq"), col("tgt"), col("cell"))

  /** The filtered in-cell serve: probe list joined into the assigned
    * corpus on the cell key (probe side BROADCAST — it is |q|·nprobe
    * rows), predicate applied BEFORE scoring, per-query top-k via the
    * bounded-state aggregator. Shared by batch and streaming forms. */
  private[graft] def ivfFilterServe(assigned: DataFrame, q: DataFrame): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(AnnFilterK)
    val topk = udaf(agg, agg.inputEncoder)
    val score = dotD(col("qe"), col("e")) / (col("nq") * col("nrm"))
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid") && col("label") === col("tgt"))
      .select(col("qid"), col("vec_id").as("cid"), score.as("score"))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_ivf_filter_trained -----------------------------------------------

  /** FILTERED IVF serving from the TRAINED quantizer — closes the
    * train→serve loop for the FILTERED family the way
    * [[cosineTopkIvfTrained]] closed it for the unfiltered one:
    * [[kmeansChain]]'s final centroid table drives the SAME
    * [[ivfLabeledAssign]] → [[ivfFilterProbes]] → [[ivfFilterServe]]
    * dataflow as [[ivfFilter]], so any result difference vs
    * `e_ivf_filter` is attributable to the quantizer alone (the
    * controlled comparison [[filterRecall]] grades as its fourth
    * strategy row). Before this key, every filtered operating point —
    * fixed-nprobe, adaptive, the balance audit, both frontiers, the
    * streaming gate — served from seed centroids while production
    * filtered serving runs on trained ones.
    *
    * Determinism: the k-means chain is the exact-integer
    * [[kmeansTrainIters]] device (every centroid element bit-identical
    * cross-engine), the assignment is the shared [[rankedCells]] pinned
    * tie-break, and the serve is the [[ivfFilter]] contract verbatim.
    *
    * At scale: identical bill to [[ivfFilter]] plus the one-time
    * training cost — the corpus never shuffles in the serve (cell column
    * only), probes broadcast, per-query top-k is the bounded-state
    * aggregator; training amortizes over every query the index serves. */
  def ivfFilterTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val cents = kmeansChain(spark, dir, KmeansIters)._2
    ivfFilterServe(ivfLabeledAssign(emb, cents),
      ivfFilterProbes(emb.filter(col("vec_id") < 8), cents))
  }

  // ---- e_ivf_filter_adaptive ----------------------------------------------

  /** Oversampling factor of [[ivfFilterAdaptive]]'s probe target: the
    * schedule probes cells until OverK·k predicate-matching candidates are
    * reachable (FAISS's `k_factor` applied to the probe loop) — stopping at
    * exactly k would return k results whose quality hinges on one cell. */
  private[queries] val IvfAdaptiveOverK = 3
  /** Matching-candidate count [[ivfFilterAdaptive]] probes toward. */
  private[graft] val IvfAdaptiveTargetK = IvfAdaptiveOverK * AnnFilterK
  /** Selectivity spill bound: when a query's predicate leaves at most this
    * many matching candidates CORPUS-WIDE, the adaptive plan skips the index
    * entirely and scores them all (the exact pre-filter path) — scanning a
    * handful of rows exactly is cheaper than probing cells for them, the
    * brute-force cutoff every production vector store applies under a
    * selective filter. */
  private[graft] val IvfAdaptiveSpillMax = 100L

  /** GUARANTEED-k ADAPTIVE filtered IVF serving — the plan a production
    * vector store actually runs under a per-query predicate, closing the
    * operating-point gap between [[ivfFilter]] (fixed nprobe — starves or
    * overspends depending on how the predicate interacts with the cells)
    * and [[annFilter]]'s brute-force truth: the probe width is chosen PER
    * QUERY from the index's own (cell, label) candidate counts — metadata
    * the index already holds — by walking the query's cells in rank order
    * until [[IvfAdaptiveTargetK]] predicate-matching candidates are
    * reachable, and spilling to the exact pre-filter scan (= probing every
    * cell: each matching vector lives in exactly one cell) when the
    * predicate is so selective that at most [[IvfAdaptiveSpillMax]]
    * candidates exist anywhere.
    *
    * The guarantee (spec-pinned): every query's scored candidate set
    * reaches ≥ min([[IvfAdaptiveTargetK]], all there are) matching rows —
    * the probe schedule either hits the target or provably exhausts the
    * cells; a fixed-nprobe serve makes no such promise. Output carries the
    * decision columns (`n_match_total`, `eff_nprobe`, `spilled`) so the
    * serving decision itself is under the oracle gate, and the
    * [[filterRecall]] harness grades the strategy's recall next to the
    * fixed-nprobe and post-filter plans.
    *
    * Determinism: candidate counts are exact integers over the shared
    * [[rankedCells]] assignment (pinned tie-break); the cumulative-count
    * schedule is an integer running sum in crank order; scoring is the
    * cosine fold contract; top-k under (score DESC, cid ASC).
    *
    * At scale: the (cell, label) count table is |cells|·|labels| rows — the
    * index metadata a real store keeps anyway; the probe schedule touches
    * |q|·cells slim rows; serving scores ≈ target·oversubscription rows per
    * query instead of nprobe·|cell|/|labels| — the probe loop runs on
    * COUNTS, so no corpus row is touched beyond the cells actually probed,
    * and the corpus itself never shuffles (cell column only). The spill
    * branch is the same dataflow at eff_nprobe = cells, so the plan has one
    * shape regardless of the per-query decision. */
  def ivfFilterAdaptive(spark: SparkSession, dir: String): DataFrame =
    ivfFilterAdaptiveImpl(spark, dir, IvfAdaptiveTargetK, IvfAdaptiveSpillMax)

  /** [[ivfFilterAdaptive]]'s body with the probe target and spill bound as
    * knobs (the spec drives the never-spill and always-spill corners). */
  private[queries] def ivfFilterAdaptiveImpl(spark: SparkSession, dir: String,
      targetK: Int, spillMax: Long): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(AnnFilterK)
    val topk = udaf(agg, agg.inputEncoder)
    val emb = table(spark, dir, "embeddings")
    // PERSISTED: the assignment feeds the (cell, label) count table AND the
    // probe join — unpersisted, the corpus assigns twice
    val (assignedRaw, cents) = ivfLabeledIndex(emb)
    val assigned = assignedRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qcum = ivfProbeSchedule(assigned, cents, emb.filter(col("vec_id") < 8))
    // the |q|-row plan BROADCASTS back onto the |q|·cells schedule — a
    // shuffle join here re-partitions two metadata frames for nothing
    val qplan = ivfAdaptivePlanOf(qcum, targetK, spillMax)
    val probe = qcum.join(broadcast(qplan), Seq("qid"))
      .filter(col("crank") <= col("eff_nprobe"))
      .select(col("qid"), col("qe"), col("nq"), col("tgt"), col("cell"),
        col("n_match_total"), col("eff_nprobe"), col("spilled"))
    val score = dotD(col("qe"), col("e")) / (col("nq") * col("nrm"))
    assigned.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("qid") && col("label") === col("tgt"))
      .select(col("qid"), col("vec_id").as("cid"), score.as("score"),
        col("n_match_total"), col("eff_nprobe"), col("spilled"))
      .groupBy(col("qid"), col("n_match_total"), col("eff_nprobe"), col("spilled"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), col("n_match_total"), col("eff_nprobe"), col("spilled"),
        posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"),
        col("n_match_total"), col("eff_nprobe"), col("spilled"))
      .orderBy("qid", "rank")
  }

  /** The probe-schedule domain shared by [[ivfFilterAdaptiveImpl]] and
    * [[filterCost]]: every (query, cell) in probe-rank order with the
    * per-cell predicate-matching count `m` and its running sum `cum` —
    * the metadata frame the adaptive plan decides from, |q|·cells rows. */
  private def ivfProbeSchedule(assigned: DataFrame, cents: DataFrame,
      queries: DataFrame): DataFrame =
    ivfProbeScheduleFrom(ivfCellCounts(assigned), cents, queries)

  /** The index's per-(cell, label) candidate-count table — the metadata
    * the adaptive plan decides from. Derived here for the batch
    * operators; the delete-aware streaming gate MAINTAINS it
    * incrementally and certifies against this derivation. */
  private[graft] def ivfCellCounts(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("m"))

  /** [[ivfProbeSchedule]] against an ALREADY-BUILT count table — factored
    * so [[graft.streaming.Streaming.startFilteredVectorGateWithDeletes]]
    * plans from its MAINTAINED counts (one schedule definition, so the
    * continuous and batch adaptive plans cannot drift). */
  private[graft] def ivfProbeScheduleFrom(cellCnt: DataFrame,
      cents: DataFrame, queries: DataFrame): DataFrame = {
    val qcells = ivfFilterProbesAll(queries, cents)
    val wCum = Window.partitionBy(col("qid")).orderBy(col("crank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qcells
      .join(broadcast(cellCnt),
        cellCnt("cell") === qcells("cell") && cellCnt("label") === qcells("tgt"),
        "left")
      .select(qcells("qid"), qcells("qe"), qcells("nq"), qcells("tgt"),
        qcells("cell"), qcells("crank"), coalesce(col("m"), lit(0L)).as("m"))
      .withColumn("cum", sum(col("m")).over(wCum))
  }

  /** [[ivfFilterProbes]] without the nprobe cut: EVERY (query, cell) with
    * its probe rank — the schedule domain. */
  private def ivfFilterProbesAll(queries: DataFrame, cents: DataFrame): DataFrame = {
    val qvecs = queries
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", l2norm(col("e")))
    rankedCells(qvecs, cents)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("nq"),
        pmod(col("label") + lit(1), lit(AnnFilterLabels)).cast("int").as("tgt"),
        col("cent_id").as("cell"), col("crank"))
  }

  /** Per-query adaptive plan from a probe schedule: total matching
    * anywhere, first rank reaching the target, the spill decision —
    * eff_nprobe = cells both when the schedule exhausts (target
    * unreachable) and when it spills. */
  private[graft] def ivfAdaptivePlanOf(qcum: DataFrame, targetK: Int,
      spillMax: Long): DataFrame =
    qcum.groupBy(col("qid"))
      .agg(max(col("cum")).as("n_match_total"),
        min(when(col("cum") >= targetK, col("crank"))).as("first_reach"))
      .select(col("qid"), col("n_match_total"),
        when(col("n_match_total") <= spillMax, lit(IvfCells))
          .otherwise(coalesce(col("first_reach"), lit(IvfCells)))
          .cast("int").as("eff_nprobe"),
        when(col("n_match_total") <= spillMax, lit(1L)).otherwise(lit(0L))
          .as("spilled"))

  // ---- e_filter_recall ----------------------------------------------------

  /** FILTERED-search evaluation harness — the [[annRecall]] pattern for
    * the filtered family: the four practical strategies for serving a
    * predicate ("post-filter an unfiltered shortlist", "pre-filter inside
    * the IVF index at fixed nprobe" from seed AND from trained centroids
    * — the [[ivfFilterTrained]] row attributes the quantizer's recall
    * delta — and the guaranteed-k
    * [[ivfFilterAdaptive]] plan a production store actually picks) graded
    * against [[annFilter]]'s exact pre-filter truth, one summary row each.
    * The post-filter hits are the truth rows [[annFilter]] already
    * annotates (`in_postfilter`); the IVF hits are the [[ivfFilter]] /
    * [[ivfFilterAdaptive]] pairs that land in the truth set. The table a
    * serving team reads before choosing a filtered-query plan.
    *
    * Determinism: exact counts and one divide per row.
    *
    * At scale: rank lists are |queries|·k rows — the evaluation joins tiny
    * frames regardless of corpus size; each strategy's scale story lives
    * in its own operator. Composes three graded operators — a harness key
    * (oracle composes their SQL texts, the truth CTE MATERIALIZED since it
    * is referenced four times). */
  def filterRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = annFilter(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val post = truth
      .agg(count(lit(1)).as("n_truth"), sum(col("in_postfilter")).as("n_hit"))
      .select(lit("postfilter").as("strategy"), col("n_truth"), col("n_hit"))
    def hitRow(name: String, served: DataFrame): DataFrame = {
      val hits = truth.select(col("qid"), col("cid"))
        .join(served.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(lit(name).as("strategy"), col("n_truth"), col("n_hit"))
    }
    val ivfRow = hitRow("ivf_prefilter", ivfFilter(spark, dir))
    val adRow = hitRow("ivf_adaptive", ivfFilterAdaptive(spark, dir))
    val trRow = hitRow("ivf_trained", ivfFilterTrained(spark, dir))
    ivfRow.unionByName(adRow).unionByName(trRow).unionByName(post)
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth").cast("double"))
      .select(col("strategy"), col("n_truth"), col("n_hit"), col("recall"))
      .orderBy("strategy")
  }

  // ---- e_filter_cost ------------------------------------------------------

  /** Cost/recall FRONTIER of the filtered-serving strategies —
    * [[filterRecall]] grades WHAT each plan returns; this prices WHAT EACH
    * PLAN SCORES, which is the other axis a serving team reads before
    * picking one (a strategy is chosen at a (recall, work) point, never on
    * recall alone). Per strategy: the recall row joined with the exact
    * count of (query, candidate) pairs its dataflow scores —
    * `exact_prefilter` scores every predicate-matching row (the
    * [[annFilter]] truth path), `postfilter` scores the whole corpus per
    * query (its shortlist stage is unfiltered), `ivf_prefilter` scores the
    * matching rows of the fixed [[IvfFilterNprobe]] probed cells
    * (`ivf_trained` the same schedule over the TRAINED assignment), and
    * `ivf_adaptive` the matching rows of its per-query schedule. Work
    * counts are ANALYTIC — computed from the same (cell, label) metadata
    * the index holds, so both engines state the identical number the
    * dataflow provably scores.
    *
    * The fixture's honest frontier: post-filtering pays |corpus| per query
    * for the worst recall; filtered-index plans pay ~selectivity·|probed
    * cells| for more; the exact pre-filter pays selectivity·|corpus| for
    * recall 1 — which is why the spill rule exists (below the selectivity
    * bound, exact IS the cheap plan).
    *
    * Determinism: integer counts and three divides per row.
    *
    * At scale: everything here is |q|·cells metadata plus the composed
    * recall harness — the frontier table costs nothing even when the
    * strategies it prices would not. Composes [[filterRecall]] (itself
    * three graded operators) — a harness key. */
  def filterCost(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val (assignedRaw, cents) = ivfLabeledIndex(emb)
    val assigned = assignedRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // PERSISTED: the schedule feeds the per-query rollup AND the adaptive
    // probe-set sum
    val qcum = ivfProbeSchedule(assigned, cents, emb.filter(col("vec_id") < 8))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qplan = ivfAdaptivePlanOf(qcum, IvfAdaptiveTargetK, IvfAdaptiveSpillMax)
    val qs = qcum.groupBy(col("qid"))
      .agg(max(col("cum")).as("m_total"),
        sum(when(col("crank") <= IvfFilterNprobe, col("m")).otherwise(lit(0L)))
          .as("m_fixed"))
    val ad = qcum.join(broadcast(qplan), Seq("qid"))
      .filter(col("crank") <= col("eff_nprobe"))
      .groupBy(col("qid")).agg(sum(col("m")).as("m_ad"))
    val nCorpus = emb.agg(count(lit(1)).as("n_corpus"))
    val nQs = qs.agg(count(lit(1)).as("n_queries"))
    // the TRAINED quantizer's fixed-nprobe schedule — same analytic
    // (cell, label) metadata, derived from the trained assignment so the
    // ivf_trained recall row is priced like its seed sibling
    val centsT = kmeansChain(spark, dir, KmeansIters)._2
    val qsT = ivfProbeSchedule(ivfLabeledAssign(emb, centsT), centsT,
        emb.filter(col("vec_id") < 8))
      .groupBy(col("qid"))
      .agg(sum(when(col("crank") <= IvfFilterNprobe, col("m")).otherwise(lit(0L)))
        .as("m_fixed_t"))
    val work = qs.agg(sum(col("m_total")).as("n_scored"))
      .select(lit("exact_prefilter").as("strategy"), col("n_scored"))
      .unionByName(qs.agg(sum(col("m_fixed")).as("n_scored"))
        .select(lit("ivf_prefilter").as("strategy"), col("n_scored")))
      .unionByName(ad.agg(sum(col("m_ad")).as("n_scored"))
        .select(lit("ivf_adaptive").as("strategy"), col("n_scored")))
      .unionByName(qsT.agg(sum(col("m_fixed_t")).as("n_scored"))
        .select(lit("ivf_trained").as("strategy"), col("n_scored")))
      .unionByName(nQs.crossJoin(nCorpus)
        .select(lit("postfilter").as("strategy"),
          (col("n_queries") * (col("n_corpus") - 1)).as("n_scored")))
    // PERSISTED: the recall harness rows feed the strategy rows AND the
    // exact row's truth size
    val fr = filterRecall(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exr = fr.agg(max(col("n_truth")).as("n_truth"))
      .select(lit("exact_prefilter").as("strategy"), col("n_truth"),
        col("n_truth").as("n_hit"), lit(1.0).as("recall"))
    fr.select(col("strategy"), col("n_truth"), col("n_hit"), col("recall"))
      .unionByName(exr)
      .join(broadcast(work), Seq("strategy"))
      .crossJoin(broadcast(nQs))
      .select(col("strategy"), col("n_truth"), col("n_hit"), col("recall"),
        col("n_scored"),
        (col("n_scored").cast("double") / col("n_queries").cast("double"))
          .as("scored_per_query"),
        (col("n_scored").cast("double") / col("n_hit").cast("double"))
          .as("scored_per_hit"))
      .orderBy("strategy")
  }

  // ---- e_ivf_balance ------------------------------------------------------

  /** IVF quantizer-health audit — the cell-occupancy report a vector store
    * watches to decide when to retrain its coarse quantizer: per cell, the
    * member count, corpus share, balance factor (share·cells — 1.0 is a
    * perfectly balanced quantizer; a factor ≫ 1 cell is the straggler
    * every probe of it pays), and the cell's dominant label with its count
    * (the filtered-serving hotspot indicator: a cell owned by one label
    * starves filtered queries targeting the others — exactly the
    * per-(cell, label) metadata [[ivfFilterAdaptive]]'s schedule reads).
    *
    * Determinism: integer counts; dominant-label ties break label-max
    * (both engines pick max label among max-count labels); two divides.
    *
    * At scale: one corpus-assignment pass reduced map-side to
    * |cells|·|labels| rows, then |cells| rows — the audit is metadata-
    * priced, which is why a store can run it on every index build. */
  def ivfBalance(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, _) = ivfLabeledIndex(table(spark, dir, "embeddings"))
    val cl = assigned.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("m"))
    val cells = cl.groupBy(col("cell"))
      .agg(sum(col("m")).as("n_vectors"),
        max(struct(col("m"), col("label"))).as("t"))
    val tot = cells.agg(sum(col("n_vectors")).as("n_corpus"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_corpus").cast("double"))
          .as("share"),
        ((col("n_vectors") * lit(IvfCells.toLong)).cast("double")
          / col("n_corpus").cast("double")).as("balance_factor"),
        col("t.label").as("top_label"), col("t.m").as("top_label_n"))
      .orderBy("cell")
  }

  /** The IVF serve body against an ARBITRARY centroid table (`cent_id`,
    * `ce`, `ncent`) — factored out so the seed-centroid entry points and
    * the trained-centroid [[cosineTopkIvfTrained]] run the SAME dataflow;
    * an index must not behave differently depending on where its quantizer
    * came from. */
  private def ivfServe(spark: SparkSession, dir: String, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val vecs = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
    ivfServeOf(vecs, cents, nprobe)
  }

  /** The IVF serve over a CALLER-built `(vec_id, e, nrm)` corpus frame —
    * factored from [[ivfServe]] so the post-delete and post-retrain serves
    * of [[indexRetrain]] run the SAME dataflow over the survivor corpus
    * (the [[kmeansChainOf]] device applied to serving). Queries are the
    * frame's own vec_id < 8 rows. */
  private def ivfServeOf(vecs: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val assigned = rankedCells(vecs, cents)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cell"))

    // Query-side probe list: the query's nprobe nearest centroids, one row
    // per (query, probed cell). The query set is bounded (vec_id < 8), so
    // this cross join is |Q|·cells rows and the result broadcasts.
    val q = rankedCells(vecs.filter(col("vec_id") < 8), cents)
      .filter(col("crank") <= nprobe)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("nq"),
        col("cent_id").as("cell"))
    ivfServeTail(assigned, q)
  }

  /** The in-cell score/rank tail shared by [[ivfServeOf]] and
    * [[ivfServeAssigned]] — one definition of what "serve from an IVF
    * index" means, regardless of where the assignment came from. */
  private def ivfServeTail(assigned: DataFrame, q: DataFrame): DataFrame = {
    val score = dotD(col("qe"), col("e")) / (col("nq") * col("nrm"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid").asc)
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), score.as("score"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** nprobe-1 IVF serve FROM an already-assigned frame — at nprobe = 1
    * the query's probed cell IS its own crank-1 assignment, so a caller
    * holding the persisted assignment ([[indexRetrain]]'s two serves)
    * need not re-rank the corpus against the centroid table; this is also
    * the structure the oracle's serve CTEs state (queries read from the
    * assignment CTE). */
  private def ivfServeAssigned(assigned: DataFrame): DataFrame =
    ivfServeTail(assigned,
      assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("nq"), col("cell")))

  // ---- e_kmeans_iter ------------------------------------------------------

  /** One Lloyd iteration of spherical k-means — the trainer step behind
    * every "pinned seed vectors standing in for k-means output" centroid
    * set in this file ([[cosineTopkIvfNprobe]], [[semanticAssigned]],
    * [[cosineTopkPq]]'s codebook): assign each vector to its max-cosine
    * centroid (the SAME [[rankedCells]] assignment the IVF family runs —
    * shared on purpose, so training and serving can never disagree on the
    * cell boundary), then re-estimate each centroid from its members.
    *
    * The update is the SPHERICAL k-means rule — sum of UNIT-normalized
    * members, not the plain mean — for two load-bearing reasons: (a) for
    * the cosine objective Σ cos(v, c_assigned(v)) the spherical centroid is
    * the exact argmax over the update step, so one iteration provably never
    * decreases the objective (spec-pinned with a quantization epsilon);
    * the plain mean only guarantees that for squared-Euclidean k-means.
    * (b) each unit element v_d/‖v‖ is ONE IEEE divide of cross-engine-
    * identical operands, then the [[centroidScore]] fixed-point device
    * (floor(u·2²⁰ + 0.5) summed as int64) makes the distributed per-cell
    * sum exact and partition-order-invariant — `c_fp` hash-matches the
    * single-node oracle bit-for-bit, and `c_new` = c_fp/(2²⁰·n) is two
    * correctly-rounded IEEE ops from exact integers. Cosine is
    * scale-invariant, so c_fp IS the new centroid direction; c_new exists
    * for interpretability.
    *
    * At scale: one corpus scan; the explode shuffles |cells|·dim map-side-
    * combined partial sums (never N·dim rows); centroids broadcast for the
    * assignment. Chain iterations by feeding `c_fp` back as the next
    * centroid table — each round is this same one-scan shape, the standard
    * distributed-k-means cost. */
  def kmeansIter(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroids(spark, dir, IvfCells)
    val vecs = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
    withCNew(lloydUpdate(rankedCells(vecs, cents).filter(col("crank") === 1)
      .select(col("cent_id").as("cell"), col("e"), col("nrm"))))
      .orderBy("cell", "dim")
  }

  /** The spherical Lloyd UPDATE over an assigned corpus (`cell`, `e`,
    * `nrm`) → (`cell`, `dim`, `n_members`, `c_fp`): per-cell sums of
    * fixed-point-quantized unit member elements — ONE definition shared by
    * the single-step [[kmeansIter]] and the chained [[kmeansTrain]], so the
    * two cannot disagree on what an iteration computes. */
  private def lloydUpdate(assigned: DataFrame): DataFrame =
    assigned
      .filter(col("nrm") > 0.0) // a zero vector has no direction to vote with
      .select(col("cell"), col("nrm"), posexplode(col("e")))
      .select(col("cell"), col("pos").as("dim"),
        (col("col").cast("double") / col("nrm")).as("u"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        sum(floor(col("u") * lit(1048576.0) + 0.5).cast("long")).as("c_fp"))

  /** Projects a [[lloydUpdate]] frame to the published schema: `c_new` =
    * c_fp / (2²⁰·n), two correctly-rounded IEEE ops from exact integers. */
  private def withCNew(upd: DataFrame): DataFrame =
    upd.select(col("cell"), col("dim").cast("int").as("dim"),
      col("n_members"), col("c_fp"),
      (col("c_fp").cast("double")
        / (lit(1048576.0) * col("n_members").cast("double"))).as("c_new"))

  /** DEFAULT chained-iteration count for the oracle-checked
    * [[kmeansTrain]] — an oracle-stability pin like [[IvfCells]], not a
    * design constant: [[kmeansTrainIters]] takes the count as a knob. */
  private[queries] val KmeansIters = 3

  /** CHAINED spherical k-means training — [[KmeansIters]] Lloyd steps with
    * each step's `c_fp` sums fed back as the next step's centroid table.
    * Emits every iteration's update rows (`iter`, `cell`, `dim`,
    * `n_members`, `c_fp`, `c_new`) so convergence is auditable from the
    * result itself (n_members migration, c_fp deltas shrinking). */
  def kmeansTrain(spark: SparkSession, dir: String): DataFrame =
    kmeansTrainIters(spark, dir, KmeansIters)

  /** [[kmeansTrain]] with the iteration count as an explicit knob.
    *
    * Chaining stays cross-engine-exact because the fed-back centroid IS
    * the integer `c_fp` vector: cosine is scale-invariant, so c_fp (exact,
    * order-invariant int64 sums, elements < 2⁵³ — cast to double losslessly)
    * serves as the new centroid direction without ever materializing the
    * inexact mean. Every per-element value entering iteration t+1's
    * assignment is therefore bit-identical in Spark and the oracle, and the
    * assignment itself is the SAME [[rankedCells]] ranking the IVF serving
    * path runs. An emptied cell (or an all-zero c_fp) drops out of the
    * centroid table — the standard k-means degeneracy, surfaced rather than
    * papered over (both engines drop it identically via the `ncent > 0`
    * guard).
    *
    * At scale each iteration is the [[kmeansIter]] shape: one pass over the
    * persisted corpus (scan once, not per-iteration re-read), |cells|·dim
    * map-side-combined partials, centroids broadcast — iterations multiply
    * the ONE-scan cost, which is the canonical distributed-k-means bill. */
  def kmeansTrainIters(spark: SparkSession, dir: String, iters: Int): DataFrame =
    kmeansChain(spark, dir, iters)._1

  /** Rebuilds a centroid table (`cent_id`, `ce`, `ncent`) from a
    * [[lloydUpdate]] frame: the exact `c_fp` int64 vector, cast to double
    * losslessly, IS the new centroid direction (cosine is scale-invariant).
    * The `ncent > 0` guard drops emptied / all-zero cells — the standard
    * k-means degeneracy, surfaced identically in both engines. */
  private def centsFromUpdate(upd: DataFrame): DataFrame =
    upd.groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("dim"), col("c_fp")))).as("ds"))
      .select(col("cell").as("cent_id"),
        transform(col("ds"), s => s.getField("c_fp").cast("double")).as("ce"))
      .withColumn("ncent", l2norm(col("ce")))
      .filter(col("ncent") > 0.0)

  /** The training chain: (all-iterations update frame, FINAL centroid
    * table). The final table is what [[cosineTopkIvfTrained]] serves from —
    * returned from here so training and trained-serving share one chain
    * definition instead of re-deriving it. */
  private def kmeansChain(spark: SparkSession, dir: String,
      iters: Int): (DataFrame, DataFrame) = {
    // PERSISTED: assignment scans the corpus once per iteration —
    // unpersisted, each iteration re-reads the parquet and recomputes norms
    val vecs = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    kmeansChainOf(vecs, centroids(spark, dir, IvfCells), iters)
  }

  /** The training chain over a CALLER-built `(vec_id, e, nrm)` corpus
    * frame and seed centroid table — factored from [[kmeansChain]] so the
    * survivor RETRAIN ([[indexRetrain]]) is the SAME trainer bound to a
    * different corpus, not a second trainer that could drift. Callers
    * persist `vecs` (scanned once per iteration). */
  private def kmeansChainOf(vecs: DataFrame, seed: DataFrame,
      iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iteration count must be >= 1, got $iters")
    var cents = seed
    val perIter = (1 to iters).map { it =>
      val upd = lloydUpdate(rankedCells(vecs, cents).filter(col("crank") === 1)
        .select(col("cent_id").as("cell"), col("e"), col("nrm")))
        // persisted per iteration: each update feeds BOTH the output union
        // and the next iteration's broadcast centroid table — unpersisted,
        // the whole assignment lineage re-executes per consumer
        .persist()
      cents = centsFromUpdate(upd)
      withCNew(upd).withColumn("iter", lit(it))
    }
    val all = perIter.reduce(_ unionAll _)
      .select(col("iter"), col("cell"), col("dim"), col("n_members"),
        col("c_fp"), col("c_new"))
      .orderBy("iter", "cell", "dim")
    (all, cents)
  }

  /** IVF serving from the TRAINED quantizer — closes the train→serve loop
    * the seed-centroid scaladocs promise ("at scale you'd feed trained
    * centroids in"): [[kmeansChain]]'s final centroid table drives the
    * SAME [[ivfServe]] dataflow as [[cosineTopkIvf]]. nprobe stays 1, so
    * any result difference vs `e_cosine_topk_ivf` is attributable to the
    * quantizer alone — the controlled comparison a recall eval wants
    * (spec-measured; on a corpus with real cluster structure the trained
    * cells cut the exact-neighbor split across cell boundaries). */
  def cosineTopkIvfTrained(spark: SparkSession, dir: String): DataFrame =
    ivfServe(spark, dir, kmeansChain(spark, dir, KmeansIters)._2, nprobe = 1)

  // ---- e_quantizer_drift ----------------------------------------------------

  /** Quantizer RETRAIN impact analysis — the cell-churn matrix between the
    * seed assignment every standing index serves from and the
    * [[kmeansChain]]-trained assignment a retrain would install: one row
    * per (cell_from, cell_to) flow with its vector count. Every off-
    * diagonal vector is real reindex work — its IVF posting moves cells
    * and its residual PQ codes re-encode against a new centroid — so this
    * matrix IS the bill a serving team sizes before rolling a retrained
    * quantizer ([[ivfBalance]] says whether retraining is WORTH it; this
    * says what it COSTS), and the per-cell flows show where (a cell that
    * scatters across many targets invalidates its whole posting list; a
    * diagonal-heavy matrix permits incremental reindexing).
    *
    * Determinism: both assignments are the pinned argmax-cosine rule with
    * the cent_id tie-break ([[knnAssign]] against seed and trained
    * centroid tables — the SAME rule the serves use, so the matrix prices
    * exactly the assignment change the serves would see); counts are
    * exact integers.
    *
    * At scale: two corpus assignment passes (each one broadcast of a
    * |cells|-row centroid table, corpus never shuffles) joined on vec_id —
    * co-partitioned slim (vec_id, cell) rows — and one map-side-combined
    * count per flow; the matrix is ≤ cells² rows regardless of corpus
    * size. Composes the graded [[kmeansChain]] — a harness key (the
    * oracle composes `kmeansChainCtes` and the shared seed-assignment
    * CTE). */
  def quantizerDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val seed = knnAssign(emb, centroids(spark, dir, IvfCells))
      .select(col("vec_id"), col("cell").as("cell_from"))
    val trained = knnAssign(emb, kmeansChain(spark, dir, KmeansIters)._2)
      .select(col("vec_id"), col("cell").as("cell_to"))
    seed.join(trained, Seq("vec_id"))
      .groupBy(col("cell_from"), col("cell_to"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("cell_from", "cell_to")
  }

  // ---- e_serve_drift --------------------------------------------------------

  /** Serving-side RETRAIN impact — the answer-set churn between the seed
    * IVF serve and the trained one, per query: [[quantizerDrift]] prices
    * what a retrain costs the INDEX (posting moves, re-encodes); this
    * measures what it does to the ANSWERS (`n_overlap` of the two
    * top-10 lists and overlap@10), which is what a product team actually
    * reviews before a rollout — a quantizer can be cheap to install and
    * still reshuffle every result page (or vice versa). Recall tells you
    * which list is BETTER ([[annRecall]]'s `recall_ivf` vs `recall_ivf_t`
    * rows); this tells you how DIFFERENT they are — the two axes of an
    * index-rollout review.
    *
    * Determinism: inner join of two pinned rank lists, exact counts, one
    * divide per query.
    *
    * At scale: joins |queries|·k rank lists — tiny regardless of corpus
    * size; each serve's scale story lives in its own operator. Composes
    * two graded serves — a harness key (oracle composes both SQL
    * texts). CACHING CONTRACT: both rank lists persist (each feeds the
    * overlap join and its own count); callers should clearCache() after
    * materializing. */
  def serveDrift(spark: SparkSession, dir: String): DataFrame = {
    val seed = cosineTopkIvf(spark, dir).select(col("qid"), col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trained = cosineTopkIvfTrained(spark, dir)
      .select(col("qid"), col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val common = seed.join(trained, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    seed.groupBy(col("qid")).agg(count(lit(1)).as("n_seed"))
      .join(trained.groupBy(col("qid")).agg(count(lit(1)).as("n_trained")),
        Seq("qid"))
      .join(common, Seq("qid"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .select(col("qid"), col("n_seed"), col("n_trained"), col("n_overlap"),
        (col("n_overlap").cast("double") / lit(10.0)).as("overlap_at_10"))
      .orderBy("qid")
  }

  // ---- e_table_stats --------------------------------------------------------

  /** Columns the statistics pass profiles — the documents table's full
    * schema. */
  private[queries] val TableStatsCols =
    Seq("doc_id", "text", "lang", "source", "n_chars")

  /** ANALYZE-style table statistics — the per-column profile every
    * engine's cost-based optimizer and every data-quality monitor reads:
    * per column, row count, null count, EXACT distinct cardinality, and
    * typed min/max (rendered as strings so one frame carries mixed
    * types). This is the `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    * COLUMNS` surface as a graded operator: NDV drives join-order and
    * broadcast decisions, null fractions drive skew diagnosis, min/max
    * are the zone-map primitives [[scanPrune]] consumes.
    *
    * Determinism: exact counts; min/max computed on the TYPED column
    * (numeric min, not lexicographic) and cast to string only for
    * display; the fixture is ASCII so string min/max agree byte-wise
    * cross-engine.
    *
    * At scale: two scans — one narrow pass for all typed min/max
    * (map-side combined, one row out), and one explode-by-column pass
    * whose (column, value) shuffle is the EXACT-distinct's intrinsic
    * cost (the same two-level aggregate every engine's ANALYZE runs;
    * swap in [[distinctSketch]]'s linear counter per column when a 1%
    * answer is acceptable — the documented approximate path). Output is
    * |columns| rows. */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    // pass 1: typed min/max, one row, map-side combined
    val mmExprs = TableStatsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c")))
    val mmRow = d.agg(mmExprs.head, mmExprs.tail: _*)
    val mm = mmRow.select(explode(array(TableStatsCols.map(c =>
      struct(lit(c).as("col_name"), col(s"min_$c").as("min_val"),
        col(s"max_$c").as("max_val"))): _*)).as("s"))
      .select(col("s.*"))
    // pass 2: counts + exact NDV via the two-level (column, value) aggregate
    val long = d.select(explode(array(TableStatsCols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("s"))
      .select(col("s.*"))
    val perVal = long.groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("n"))
    val counts = perVal.groupBy(col("col_name"))
      .agg(sum(col("n")).as("n_rows"),
        sum(when(col("v").isNull, col("n")).otherwise(lit(0L))).as("n_nulls"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"))
    counts.join(broadcast(mm), Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy("col_name")
  }

  // ---- e_join_estimate ------------------------------------------------------

  /** CBO join-cardinality estimation audit — Selinger's equi-join
    * estimator (|A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)), System R '79
    * — what every cost-based optimizer still applies, including Spark's
    * own CBO) graded against the EXACT join count on the reference
    * workload's own joins: the two PK–FK pairs (orders⋈customer on
    * custkey, lineitem⋈orders on orderkey), where the estimator is
    * provably EXACT (every FK value exists in the PK side, so
    * max(ndv) = |PK side| and the formula collapses to |FK side| — the
    * spec pins err_ratio ≡ 1), and a deliberately SKEWED self-join
    * (documents on lang), where the uniformity assumption UNDERESTIMATES
    * (Cauchy–Schwarz: Σc² ≥ (Σc)²/k, equality only under a uniform key) —
    * the error column IS the reason modern CBOs add histograms on top.
    * `e_table_stats` collects the NDV inputs; this audits what the
    * optimizer does with them.
    *
    * Determinism: exact counts; n_est = (n_l·n_r) div max(ndv) in exact
    * int64 (fixture sizes keep the product far under 2⁶³); one divide
    * for the ratio.
    *
    * At scale: the stats side is metadata (counts + NDV — the ANALYZE
    * pass's output); the audit deliberately pays the REAL joins to grade
    * the estimator (each a co-partitioned equi-join counted map-side) —
    * a production audit would sample, trading the exactness this gate
    * needs. */
  def joinEstimate(spark: SparkSession, dir: String): DataFrame = {
    def audit(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val ls = left.agg(count(lit(1)).as("n_left"),
        countDistinct(col(lk)).as("ndv_left"))
      val rs = right.agg(count(lit(1)).as("n_right"),
        countDistinct(col(rk)).as("ndv_right"))
      val actual = left.select(col(lk).as("k"))
        .join(right.select(col(rk).as("k")), Seq("k"))
        .agg(count(lit(1)).as("n_actual"))
      ls.crossJoin(rs).crossJoin(actual)
        .select(lit(name).as("pair"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"),
          expr("(n_left * n_right) div greatest(ndv_left, ndv_right)")
            .as("n_est"),
          col("n_actual"))
        .withColumn("err_ratio",
          col("n_est").cast("double") / col("n_actual").cast("double"))
    }
    val docs = table(spark, dir, "documents")
    audit("orders_customer",
        table(spark, dir, "orders"), "o_custkey",
        table(spark, dir, "customer"), "c_custkey")
      .unionByName(audit("lineitem_orders",
        table(spark, dir, "lineitem"), "l_orderkey",
        table(spark, dir, "orders"), "o_orderkey"))
      .unionByName(audit("documents_lang_self", docs, "lang", docs, "lang"))
      .orderBy("pair")
  }

  // ---- e_join_estimate_hist -------------------------------------------------

  /** HISTOGRAM-corrected join-cardinality estimation — the fix
    * [[joinEstimate]]'s error column motivates ("the skew error IS why
    * modern CBOs add histograms"), graded on the SAME three pinned pairs:
    * next to the Selinger estimate, the per-key-frequency estimate
    * Σ_k c_A(k)·c_B(k) from the two sides' value-frequency tables — the
    * [[histogram]]/[[tableStats]] device carried into join costing (a
    * full most-common-values list; production engines bound it and fall
    * back to equi-depth buckets for the tail — the SHAPE, one
    * frequency-table equi-join, is identical). For an equi-join the
    * frequency product is EXACT by the group identity |A ⋈ B| =
    * Σ_k c_A(k)·c_B(k), so `err_hist` ≡ 1 everywhere — INCLUDING the
    * skewed self-join where Selinger under-estimates (spec-pinned:
    * exactness precisely where the uniformity assumption failed). The
    * audit still pays the REAL join for `n_actual`, so the estimate and
    * the count are two independent computations the gate cross-checks.
    *
    * Determinism: exact counts and int64 sums (fixture products far under
    * 2⁶³); two divides per row.
    *
    * At scale: the frequency estimate is METADATA-priced — one
    * map-side-combined count per side (the ANALYZE pass's own shuffle)
    * and a |ndv|-row equi-join, no payload movement; the real join is the
    * audit's deliberate exactness cost, as in [[joinEstimate]]. NULL keys
    * match nowhere (equi-join semantics), identically in both engines. */
  def joinEstimateHist(spark: SparkSession, dir: String): DataFrame = {
    def audit(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val ls = left.agg(count(lit(1)).as("n_left"),
        countDistinct(col(lk)).as("ndv_left"))
      val rs = right.agg(count(lit(1)).as("n_right"),
        countDistinct(col(rk)).as("ndv_right"))
      val hist = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("ca"))
        .join(right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cb")),
          Seq("k"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("n_est_hist"))
      val actual = left.select(col(lk).as("k"))
        .join(right.select(col(rk).as("k")), Seq("k"))
        .agg(count(lit(1)).as("n_actual"))
      ls.crossJoin(rs).crossJoin(hist).crossJoin(actual)
        .select(lit(name).as("pair"), col("n_left"), col("n_right"),
          expr("(n_left * n_right) div greatest(ndv_left, ndv_right)")
            .as("n_est_selinger"),
          col("n_est_hist"), col("n_actual"))
        .withColumn("err_selinger",
          col("n_est_selinger").cast("double") / col("n_actual").cast("double"))
        .withColumn("err_hist",
          col("n_est_hist").cast("double") / col("n_actual").cast("double"))
    }
    val docs = table(spark, dir, "documents")
    audit("orders_customer",
        table(spark, dir, "orders"), "o_custkey",
        table(spark, dir, "customer"), "c_custkey")
      .unionByName(audit("lineitem_orders",
        table(spark, dir, "lineitem"), "l_orderkey",
        table(spark, dir, "orders"), "o_orderkey"))
      .unionByName(audit("documents_lang_self", docs, "lang", docs, "lang"))
      .orderBy("pair")
  }

  // ---- e_range_estimate -----------------------------------------------------

  /** Bucket count for [[rangeEstimate]]'s equi-width histogram — coarse ON
    * PURPOSE: the estimator's error comes from the uniform-within-bucket
    * assumption, and a bucket-per-value histogram would make the audit a
    * tautology (the [[joinEstimateHist]] exactness case). */
  private[queries] val RangeEstBuckets = 8L

  /** RANGE-selectivity estimation audit — the third leg of the CBO family
    * ([[joinEstimate]]: equi-join under uniformity; [[joinEstimateHist]]:
    * equi-join under frequencies; this: RANGE predicates under an
    * equi-width bucket histogram, Piatetsky-Shapiro & Connell '84 — what
    * every engine's `estimatedRowCount` for a BETWEEN does with ANALYZE
    * histograms): three pinned predicate ranges over `n_chars` (narrow,
    * half-domain, right-edge — derived from the domain in integer
    * arithmetic so they adapt to any fixture scale), each priced from the
    * [[RangeEstBuckets]]-bucket histogram by uniform-within-bucket
    * interpolation and graded against the exact count.
    *
    * EXACT-RATIONAL interpolation: bucket width w = ⌈(hi−lo+1)/B⌉ is one
    * integer, every bucket's overlap with the query range is an integer,
    * so the estimate is the single divide est_num/w of exact int64s — no
    * float accumulates across buckets (the [[centroidScore]] discipline
    * applied to an estimator).
    *
    * At scale: the histogram is the ANALYZE artifact (one
    * map-side-combined count per bucket; bounds are one 1-row aggregate);
    * pricing a range touches ≤ B metadata rows; the exact counts are the
    * audit's deliberate cost (one broadcast-range-joined corpus pass for
    * all ranges at once — production samples). */
  def rangeEstimate(spark: SparkSession, dir: String): DataFrame =
    rangeEstimateBody(spark, dir).orderBy("range_id")

  /** [[rangeEstimate]]'s body without the output sort — the frame
    * [[rangeEstimateEqd]] composes as its equi-width comparison column
    * (a join immediately destroys ordering; the changeFeedRows rule). */
  private[queries] def rangeEstimateBody(
      spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents").select(col("n_chars"))
    // bounds + ceil-width, one row, broadcast everywhere below
    val bounds = d.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      .withColumn("wd",
        expr(s"(hi - lo + $RangeEstBuckets) div $RangeEstBuckets"))
    val hist = d.crossJoin(broadcast(bounds))
      .groupBy(expr("(n_chars - lo) div wd").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    // pinned ranges as integer fractions of the domain (W = hi - lo + 1)
    val ranges = bounds.select(explode(array(
        struct(lit("1_narrow").as("range_id"),
          (col("lo") + expr("((hi - lo + 1) * 1) div 10")).as("qlo"),
          (col("lo") + expr("((hi - lo + 1) * 2) div 10")).as("qhi")),
        struct(lit("2_half").as("range_id"),
          (col("lo") + expr("(hi - lo + 1) div 4")).as("qlo"),
          (col("lo") + expr("((hi - lo + 1) * 3) div 4")).as("qhi")),
        struct(lit("3_edge").as("range_id"),
          (col("hi") - expr("(hi - lo + 1) div 20")).as("qlo"),
          col("hi").as("qhi")))).as("r"))
      .select(col("r.*"))
    val est = hist.crossJoin(broadcast(ranges)).crossJoin(broadcast(bounds))
      .withColumn("b_lo", col("lo") + col("bucket") * col("wd"))
      .withColumn("b_hi", col("b_lo") + col("wd") - 1)
      .withColumn("overlap", greatest(lit(0L),
        least(col("qhi"), col("b_hi")) - greatest(col("qlo"), col("b_lo")) + 1))
      .groupBy(col("range_id"), col("qlo"), col("qhi"), col("wd"))
      .agg(sum(col("cnt") * col("overlap")).as("est_num"))
    val actual = d.join(broadcast(ranges),
        col("n_chars") >= col("qlo") && col("n_chars") <= col("qhi"))
      .groupBy(col("range_id")).agg(count(lit(1)).as("n_actual"))
    // LEFT join: a range matching zero rows must surface as n_actual = 0
    // with a NULL ratio (0/0 undefined), not silently vanish from the
    // audit — the nbThreshold empty-row convention
    est.join(actual, Seq("range_id"), "left")
      .na.fill(0L, Seq("n_actual"))
      .select(col("range_id"), col("qlo"), col("qhi"), col("est_num"),
        (col("est_num").cast("double") / col("wd").cast("double")).as("n_est"),
        col("n_actual"))
      .withColumn("err_ratio",
        when(col("n_actual") === 0, lit(null).cast("double"))
          .otherwise(col("n_est") / col("n_actual").cast("double")))
  }

  // ---- e_range_estimate_eqd -------------------------------------------------

  /** Fixed-point scale for [[rangeEstimateEqd]]'s per-bucket rational
    * contributions: 2²⁰, binary so the final `est_fp / 2²⁰` divide is
    * EXACT in IEEE doubles (no rounding anywhere but the per-bucket
    * integer floor). Bound: cnt·overlap·2²⁰ < 2⁶³ while cnt·overlap <
    * 2⁴³ ≈ 8·10¹² — beyond that, drop to 2¹⁰ or pre-divide. The 2-D
    * consumer [[corrEstimate]] multiplies TWO overlaps per cell, so its
    * bound is cnt·ovA·ovB < 2⁴³: with B = [[RangeEstBuckets]] buckets
    * per axis each overlap is ≤ one cell width ≤ (range+B)/B, so wide
    * value domains (range ≳ 2²¹·B per axis at fixture cell counts) must
    * pre-divide the cell widths — Spark wraps int64 silently where
    * DuckDB raises, an asymmetric gate failure if ignored. */
  private[queries] val RangeEstFpScale = 1L << 20

  /** Equi-depth bucket count — the PRODUCTION knob (PostgreSQL's default
    * statistics target is 100 buckets; DuckDB samples similarly): an
    * equi-depth bucket costs two boundary values + a count, so engines
    * ship MANY. Measured on this fixture: at B = 8 (the audit's coarse
    * equi-width count) equi-depth LOSES the edge range — the top bucket
    * still spans the sparse tail — while at 32 the per-bucket observed
    * [min, max] is tight enough that the edge error strictly shrinks vs
    * the equi-width row at every fixture scale (1.41→1.00, 1.08→1.00,
    * 3.28→2.28). The fix is equi-depth AT DEPTH, not equi-depth alone. */
  private[queries] val RangeEstEqdBuckets = 32

  /** EQUI-DEPTH range-selectivity estimator — the production fix
    * [[rangeEstimate]]'s audit motivates: its equi-width row pins the
    * sparse right-edge range as visibly WORSE (most of the edge bucket is
    * empty, uniform-within-bucket over-counts), exactly the error
    * equi-DEPTH histograms exist to kill — every bucket holds ~n/B rows
    * by construction, so no bucket's uniform assumption can be off by
    * more than one bucket's mass (Piatetsky-Shapiro & Connell '84 §4;
    * what ANALYZE actually ships in PostgreSQL/DuckDB). Boundaries are
    * the exact ⌈q·n⌉ rank-selection quantiles ([[lmBuckets]]'s
    * accuracy-guarded GK device, global here); per bucket the OBSERVED
    * [min, max] bounds the interpolation (tighter than the quantile
    * cuts); the estimate is Σ_b ⌊cnt_b·overlap_b·2²⁰/width_b⌋ — exact
    * int64 per bucket, exact sum, ONE exact power-of-two divide at read
    * time. Emits both estimators side by side per pinned range (the
    * comparison report a CBO bakeoff produces); the spec pins the edge
    * range's error strictly shrinking vs the equi-width row.
    *
    * At scale: the quantile pass is one GK sketch (the ANALYZE pass
    * every engine already runs); bucket stats are one map-side-combined
    * aggregate to B rows; pricing touches ≤ B metadata rows per range.
    * Composes the graded [[rangeEstimate]] (its SQL likewise) for the
    * equi-width column and the exact counts — a harness key. */
  def rangeEstimateEqd(spark: SparkSession, dir: String): DataFrame = {
    val b = RangeEstEqdBuckets
    // consumed by the threshold sketch AND the bucket stats
    val d = table(spark, dir, "documents").select(col("n_chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the graded equi-width audit: ranges, eqw estimate, exact counts —
    // persisted, it is a corpus-pass pipeline consumed twice below
    val eqw = rangeEstimateBody(spark, dir)
      .select(col("range_id"), col("qlo"), col("qhi"),
        col("n_est").as("n_est_eqw"), col("n_actual"),
        col("err_ratio").as("err_eqw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = count(lit(1))
    val ps = percentile_approx(col("n_chars"),
      array((1 until b).map(i => lit(i.toDouble / b)): _*),
      lit(QualityBucketAccuracy))
    val thr = d.agg(when(n <= QualityBucketAccuracy, ps)
      .otherwise(raise_error(lit(
        s"range_estimate_eqd: corpus exceeds accuracy $QualityBucketAccuracy — " +
          "GK no longer degenerates to exact rank selection; raise the accuracy " +
          "or accept sketch boundaries and drop the exact oracle"))
        .cast("array<bigint>"))
      .as("ts"))
    val bucket = (1 until b)
      .map(i => (col("n_chars") > element_at(col("ts"), i)).cast("long"))
      .foldLeft(lit(1L))(_ + _)
    val bstats = d.crossJoin(broadcast(thr))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"), min(col("n_chars")).as("v_lo"),
        max(col("n_chars")).as("v_hi"))
    val est = bstats
      .crossJoin(broadcast(eqw.select(col("range_id"), col("qlo"), col("qhi"))))
      .withColumn("overlap", greatest(lit(0L),
        least(col("qhi"), col("v_hi")) - greatest(col("qlo"), col("v_lo")) + 1))
      .groupBy(col("range_id"))
      .agg(sum(expr(s"(cnt * overlap * $RangeEstFpScale) div (v_hi - v_lo + 1)"))
        .as("est_fp"))
    eqw.join(est, Seq("range_id"))
      .select(col("range_id"), col("qlo"), col("qhi"), col("n_est_eqw"),
        (col("est_fp").cast("double") / lit(RangeEstFpScale.toDouble))
          .as("n_est_eqd"),
        col("n_actual"), col("err_eqw"),
        when(col("n_actual") === 0, lit(null).cast("double"))
          .otherwise((col("est_fp").cast("double") / lit(RangeEstFpScale.toDouble))
            / col("n_actual").cast("double")).as("err_eqd"))
      .orderBy("range_id")
  }

  // ---- e_join_order ---------------------------------------------------------

  /** JOIN-ORDER selection audit — the piece the whole CBO family exists
    * FOR ([[joinEstimate]]/[[joinEstimateHist]] price joins,
    * [[rangeEstimate]]/[[corrEstimate]] price predicates; this CHOOSES):
    * a star query (lineitem ⋉ filtered part / supplier / orders — the
    * Selinger '79 setting) admits 3! dim-application orders, each priced
    * as Σ over prefixes of the estimated intermediate |L|·Π sel(d)
    * (independence across dims — correct here because FK distributions
    * are uniform, which is WHY the chosen order matches), and graded
    * against the exact intermediate sizes. The spec pins the
    * estimate-chosen order ≡ the actually-cheapest order at both gate
    * scales; measured, the optimal order even FLIPS between fixture
    * scales (supplier-first at sf0.001, part-first above — selectivities
    * shift with the generator), so the estimator genuinely decides,
    * not rubber-stamps.
    *
    * Determinism: selectivities are single divides of exact counts;
    * each prefix estimate is a LEFT-ASSOCIATIVE product written
    * identically in both engines (no reassociation — IEEE products are
    * order-sensitive); actual costs are exact int64 counts.
    *
    * At scale: the three dim key sets broadcast as semi-join flags onto
    * ONE lineitem pass (never 7 scans — all 2³−1 prefix counts come from
    * one flagged aggregate); dim stats are 1-row aggregates; the 6-row
    * permutation table is pure metadata arithmetic. This is exactly the
    * shape of a real optimizer's cost loop: stats in, order out, zero
    * data movement. */
  def joinOrder(spark: SparkSession, dir: String): DataFrame = {
    // per-dim: 1-row stats (threshold, kept, total) + broadcast key set
    def dim(name: String, df: DataFrame, key: String, thr: DataFrame,
        cond: Column): (DataFrame, DataFrame) = {
      val keys = df.crossJoin(broadcast(thr)).filter(cond)
        .select(col(key).as(s"k_$name"), lit(1L).as(s"in_$name"))
      val stats = df.crossJoin(broadcast(thr)).agg(
        sum(cond.cast("long")).as(s"kept_$name"),
        count(lit(1)).as(s"tot_$name"))
      (keys, stats)
    }
    val part = table(spark, dir, "part").select(col("p_partkey"), col("p_size"))
    val supp = table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val ords = table(spark, dir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_d"))
    val pThr = part.agg(min(col("p_size")).as("lo"), max(col("p_size")).as("hi"))
      .select((col("lo") + expr("(hi - lo + 1) div 5")).as("tp"))
    val sThr = supp.agg(min(col("s_nationkey")).as("lo"),
        max(col("s_nationkey")).as("hi"))
      .select((col("lo") + expr("(hi - lo + 1) div 3")).as("tn"))
    val oThr = ords.agg(min(col("o_d")).as("lo"), max(col("o_d")).as("hi"))
      .select(date_add(col("lo"),
        expr("(datediff(hi, lo) * 2) div 5").cast("int")).as("td"))
    val (pKeys, pStats) = dim("p", part, "p_partkey", pThr,
      col("p_size") <= col("tp"))
    val (sKeys, sStats) = dim("s", supp, "s_suppkey", sThr,
      col("s_nationkey") <= col("tn"))
    val (oKeys, oStats) = dim("o", ords, "o_orderkey", oThr,
      col("o_d") <= col("td"))
    // ONE lineitem pass: broadcast membership flags, then every prefix
    // count from a single aggregate
    val flags = table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
      .join(broadcast(pKeys), col("l_partkey") === col("k_p"), "left")
      .join(broadcast(sKeys), col("l_suppkey") === col("k_s"), "left")
      .join(broadcast(oKeys), col("l_orderkey") === col("k_o"), "left")
      .select(coalesce(col("in_p"), lit(0L)).as("fp"),
        coalesce(col("in_s"), lit(0L)).as("fs"),
        coalesce(col("in_o"), lit(0L)).as("fo"))
    val counts = flags.agg(count(lit(1)).as("n_l"),
      sum(col("fp")).as("c_p"), sum(col("fs")).as("c_s"),
      sum(col("fo")).as("c_o"),
      sum(col("fp") * col("fs")).as("c_ps"),
      sum(col("fo") * col("fp")).as("c_op"),
      sum(col("fo") * col("fs")).as("c_os"),
      sum(col("fo") * col("fp") * col("fs")).as("c_ops"))
    val one = counts.crossJoin(broadcast(pStats))
      .crossJoin(broadcast(sStats)).crossJoin(broadcast(oStats))
    def r(d: String): Column =
      col(s"kept_$d").cast("double") / col(s"tot_$d").cast("double")
    val nD = col("n_l").cast("double")
    def estOf(p: String): Column = {
      val Seq(r1, r2, r3) = p.map(c => r(c.toString)).toSeq
      nD * r1 + nD * r1 * r2 + nD * r1 * r2 * r3
    }
    def actOf(p: String): Column = {
      def c(pre: String) = col("c_" + pre.sorted)
      c(p.take(1)) + c(p.take(2)) + c(p)
    }
    val perms = Seq("pso", "pos", "spo", "sop", "ops", "osp")
    val rows = one.select(explode(array(perms.map(p =>
        struct(lit(p).as("perm"), estOf(p).as("est_cost"),
          actOf(p).as("actual_cost"))): _*)).as("x"))
      .select(col("x.*"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mins = rows.agg(min(col("est_cost")).as("me"),
      min(col("actual_cost")).as("ma"))
    rows.crossJoin(broadcast(mins))
      .select(col("perm"), col("est_cost"), col("actual_cost"),
        (col("est_cost") === col("me")).as("chosen_by_est"),
        (col("actual_cost") === col("ma")).as("cheapest_actual"))
      .orderBy("perm")
  }

  // ---- e_corr_estimate ------------------------------------------------------

  /** CORRELATED-PREDICATE selectivity audit — the fourth leg of the CBO
    * family and the one that motivates multi-column statistics
    * ([[joinEstimate]]: join uniformity; [[joinEstimateHist]]:
    * frequencies; [[rangeEstimate]]/[[rangeEstimateEqd]]: single-column
    * ranges; this: CONJUNCTIONS): two predicates driven by the same
    * latent variable (`n_chars ≥ median` ∧ `n_tokens ≥ median` — both
    * functions of text length, the classic "city = Paris ∧ country =
    * France" shape) are priced two ways. The INDEPENDENCE estimate
    * sel(A)·sel(B)·n uses EXACT per-column selectivities on purpose — so
    * the measured ~2× under-estimate is attributable to the independence
    * assumption alone, not to 1-D histogram error (this is the
    * attribute-value-independence failure every optimizer textbook
    * warns about). The JOINT estimate prices the same conjunction from a
    * [[RangeEstBuckets]]² two-column histogram (the multi-column
    * statistics PostgreSQL's `CREATE STATISTICS` and SQL Server's
    * multi-column stats ship as the fix) by per-cell two-axis
    * interpolation — Σ ⌊cnt·ovA·ovB·2²⁰/(wA·wB)⌋, exact int64 per cell
    * ([[rangeEstimateEqd]]'s fixed-point discipline in two dimensions).
    * Thresholds are exact ⌈n/2⌉ rank medians (the accuracy-guarded GK
    * device). The spec pins the joint estimate strictly closer to truth
    * than independence at both gate scales (measured ~0.9 vs ~0.51).
    *
    * At scale: ONE corpus pass tokenizes and the rest is metadata — the
    * medians are one GK sketch, the grid is a map-side-combined count to
    * ≤ B² cells, pricing touches ≤ B² rows; the exact conjunction count
    * is the audit's deliberate cost. The grid is what ANALYZE would
    * persist; pricing in production reads it, never the table. */
  def corrEstimate(spark: SparkSession, dir: String): DataFrame = {
    val b = RangeEstBuckets
    val s = RangeEstFpScale
    // consumed by thresholds/bounds, the grid, and the exact counts
    val t = table(spark, dir, "documents")
      .select(col("n_chars"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = count(lit(1))
    def med(c: Column) = when(n <= QualityBucketAccuracy,
        percentile_approx(c, lit(0.5), lit(QualityBucketAccuracy)))
      .otherwise(raise_error(lit(
        s"corr_estimate: corpus exceeds accuracy $QualityBucketAccuracy — " +
          "GK no longer degenerates to exact rank selection"))
        .cast("bigint"))
    val one = t.agg(
        med(col("n_chars")).as("tc"), med(col("n_tokens")).as("tt"),
        min(col("n_chars")).as("loa"), max(col("n_chars")).as("hia"),
        min(col("n_tokens")).as("lob"), max(col("n_tokens")).as("hib"))
      .withColumn("wa", expr(s"(hia - loa + $b) div $b"))
      .withColumn("wb", expr(s"(hib - lob + $b) div $b"))
    val grid = t.crossJoin(broadcast(one))
      .groupBy(expr("(n_chars - loa) div wa").as("i"),
        expr("(n_tokens - lob) div wb").as("j"))
      .agg(count(lit(1)).as("cnt"))
    val est = grid.crossJoin(broadcast(one))
      .select((col("cnt")
          * greatest(lit(0L), least(col("loa") + (col("i") + 1) * col("wa") - 1,
              col("hia")) - greatest(col("loa") + col("i") * col("wa"),
              col("tc")) + 1)
          * greatest(lit(0L), least(col("lob") + (col("j") + 1) * col("wb") - 1,
              col("hib")) - greatest(col("lob") + col("j") * col("wb"),
              col("tt")) + 1)
          * lit(s)).as("num"),
        (col("wa") * col("wb")).as("den"))
      .agg(sum(expr("num div den")).as("est_fp"))
    val stats = t.crossJoin(broadcast(one))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("n_chars") >= col("tc")).cast("long")).as("c_a"),
        sum((col("n_tokens") >= col("tt")).cast("long")).as("c_b"),
        sum((col("n_chars") >= col("tc") && col("n_tokens") >= col("tt"))
          .cast("long")).as("n_actual"))
    one.crossJoin(est).crossJoin(stats)
      .select(col("n_rows"), col("tc").as("t_chars"), col("tt").as("t_tokens"),
        col("c_a"), col("c_b"), col("n_actual"),
        ((col("c_a") * col("c_b")).cast("double") / col("n_rows").cast("double"))
          .as("n_est_indep"),
        when(col("n_actual") === 0, lit(null).cast("double"))
          .otherwise(((col("c_a") * col("c_b")).cast("double")
            / col("n_rows").cast("double"))
            / col("n_actual").cast("double")).as("err_indep"),
        (col("est_fp").cast("double") / lit(s.toDouble)).as("n_est_joint"),
        when(col("n_actual") === 0, lit(null).cast("double"))
          .otherwise((col("est_fp").cast("double") / lit(s.toDouble))
            / col("n_actual").cast("double")).as("err_joint"))
  }

  // ---- e_card_feedback ------------------------------------------------------

  /** CARDINALITY FEEDBACK — the third answer to correlated predicates,
    * and the cheapest: [[corrEstimate]] diagnoses the independence error
    * and fixes it with multi-column statistics (an ANALYZE cost);
    * feedback (DB2's LEO, Stillger et al. '01; SQL Server's CE feedback)
    * fixes it for FREE by learning from execution: the observed
    * actual/estimate ratio of a completed query becomes the adjustment
    * factor for the NEXT similar query. This key runs the loop: the
    * learned `adj` is the graded medians audit's own n_actual /
    * n_est_indep, applied to a NEW conjunction over the same column pair
    * at the upper-QUARTILE thresholds (exact ⌈3n/4⌉ ranks — the
    * binary-fraction rank-selection device), priced three ways:
    * independence (exact 1-D counts), independence × adj (the feedback
    * estimate), and the B² grid (the multi-column statistic, same
    * fixed-point pricing at the new thresholds). The measured ranking is
    * the production trade stated honestly: the grid is closest
    * (err ≈ 0.74), feedback second (≈ 0.52 — one multiply, zero stats
    * maintenance), raw independence worst (≈ 0.27) — spec-pinned as a
    * strict |err − 1| ordering at both gate scales, with a full local
    * recompute. Feedback's limit is also visible in the numbers: a
    * single scalar learned at the medians under-corrects the tail
    * quartile, which is exactly why engines keep per-predicate feedback
    * CACHES rather than one global factor.
    *
    * Determinism: counts and thresholds exact; adj and every estimate
    * are pinned-order IEEE products/divides mirrored in both engines.
    *
    * At scale: the observation is free (the prior query already ran);
    * the new pricing is one corpus pass for the quartile stats plus
    * ≤ B² grid metadata — and in production the grid/thresholds come
    * from the stats store, so feedback pricing touches NO data at all.
    * Composes the graded [[corrEstimate]] audit (its SQL likewise) — a
    * harness key. */
  def cardFeedback(spark: SparkSession, dir: String): DataFrame = {
    val b = RangeEstBuckets
    val s = RangeEstFpScale
    // the graded observation: the completed medians-audit row
    val corr = corrEstimate(spark, dir)
      .select(col("n_actual").as("obs_actual"),
        col("n_est_indep").as("obs_est"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = table(spark, dir, "documents")
      .select(col("n_chars"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = count(lit(1))
    def q75(c: Column) = when(n <= QualityBucketAccuracy,
        percentile_approx(c, lit(0.75), lit(QualityBucketAccuracy)))
      .otherwise(raise_error(lit(
        s"card_feedback: corpus exceeds accuracy $QualityBucketAccuracy — " +
          "GK no longer degenerates to exact rank selection"))
        .cast("bigint"))
    val one = t.agg(
        q75(col("n_chars")).as("tc"), q75(col("n_tokens")).as("tt"),
        min(col("n_chars")).as("loa"), max(col("n_chars")).as("hia"),
        min(col("n_tokens")).as("lob"), max(col("n_tokens")).as("hib"))
      .withColumn("wa", expr(s"(hia - loa + $b) div $b"))
      .withColumn("wb", expr(s"(hib - lob + $b) div $b"))
    val grid = t.crossJoin(broadcast(one))
      .groupBy(expr("(n_chars - loa) div wa").as("i"),
        expr("(n_tokens - lob) div wb").as("j"))
      .agg(count(lit(1)).as("cnt"))
    val est = grid.crossJoin(broadcast(one))
      .select((col("cnt")
          * greatest(lit(0L), least(col("loa") + (col("i") + 1) * col("wa") - 1,
              col("hia")) - greatest(col("loa") + col("i") * col("wa"),
              col("tc")) + 1)
          * greatest(lit(0L), least(col("lob") + (col("j") + 1) * col("wb") - 1,
              col("hib")) - greatest(col("lob") + col("j") * col("wb"),
              col("tt")) + 1)
          * lit(s)).as("num"),
        (col("wa") * col("wb")).as("den"))
      .agg(sum(expr("num div den")).as("est_fp"))
    val stats = t.crossJoin(broadcast(one))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("n_chars") >= col("tc")).cast("long")).as("c_a75"),
        sum((col("n_tokens") >= col("tt")).cast("long")).as("c_b75"),
        sum((col("n_chars") >= col("tc") && col("n_tokens") >= col("tt"))
          .cast("long")).as("n_actual75"))
    val indep75 = (col("c_a75") * col("c_b75")).cast("double") /
      col("n_rows").cast("double")
    val adj = col("obs_actual").cast("double") / col("obs_est")
    def err(e: Column): Column =
      when(col("n_actual75") === 0, lit(null).cast("double"))
        .otherwise(e / col("n_actual75").cast("double"))
    one.crossJoin(est).crossJoin(stats).crossJoin(broadcast(corr))
      .select(col("n_rows"), col("tc").as("t_chars75"),
        col("tt").as("t_tokens75"), col("c_a75"), col("c_b75"),
        col("n_actual75"), adj.as("adj"),
        indep75.as("n_est_indep75"), err(indep75).as("err_indep75"),
        (indep75 * adj).as("n_est_fb"), err(indep75 * adj).as("err_fb"),
        (col("est_fp").cast("double") / lit(s.toDouble)).as("n_est_joint75"),
        err(col("est_fp").cast("double") / lit(s.toDouble)).as("err_joint75"))
  }

  // ---- e_join_order_hist ----------------------------------------------------

  /** The six dim-application orders of [[joinOrderHist]]'s star: `c` the
    * chars-class dim, `t` the tokens-class dim, `l` the language dim. */
  private[queries] val JoinOrderHistPerms =
    Seq("ctl", "clt", "tcl", "tlc", "lct", "ltc")

  /** The language dim's exclusion — keep non-`en` documents (~56–61 % of
    * the fixture at the gate scales: the selectivity regime where the
    * independence mis-price flips the chosen order, measured). */
  private[queries] val JoinOrderHistLang = "en"

  /** HISTOGRAM-DRIVEN join-order selection — closing the CBO family the
    * way [[joinEstimateHist]] closed [[joinEstimate]]: [[joinOrder]]
    * prices its star from exact per-column selectivities, so its residual
    * error is PURE independence assumption — but on the TPC-H-ish star
    * that residual is ~zero (measured: the generator's FK distributions
    * are independent, pairwise actual/indep ratios 0.98–1.03), so a
    * histogram refit there would rubber-stamp. The fixture's genuinely
    * correlated pair is the documents table's (n_chars, n_tokens) —
    * exactly the conjunction [[corrEstimate]] built the 2-D grid FOR —
    * so this key prices the star a curation pipeline actually runs
    * (documents ⋉ chars-class dim ⋉ tokens-class dim ⋉ language dim,
    * thresholds broadcast and the semi-join reductions applied
    * scan-side): per permutation, Σ over prefixes of the estimated
    * intermediate size, two ways. INDEPENDENCE uses exact 1-D
    * selectivities (so the error is attributable); HISTOGRAM prices any
    * prefix containing BOTH length dims from the graded [[corrEstimate]]
    * grid estimate (`n_est_joint`) — the multi-column statistic
    * PostgreSQL's `CREATE STATISTICS` ships as the fix — and 1-D
    * selectivities elsewhere. Graded against exact prefix cardinalities
    * from ONE flags pass. Measured at both gate scales: independence
    * front-loads the chars→tokens pair (it prices the pair prefix at
    * sel_c·sel_t·n ≈ n/4 when the near-perfect correlation makes it
    * ≈ n/2) and picks `ctl`; the actual cheapest order is `clt`
    * (interleave the independent lang dim before the redundant tokens
    * dim); the histogram pick matches the actual cheapest — spec-pinned,
    * with a full local recompute.
    *
    * Determinism: selectivities are single divides of exact counts;
    * prefix estimates are left-associative products/sums written
    * identically in both engines; actual costs are exact int64.
    *
    * At scale: the grid and thresholds are [[corrEstimate]]'s own
    * ANALYZE-pass metadata (≤B² cells, persisted in production); the
    * flags pass is one scan with broadcast thresholds and one
    * map-side-combined aggregate to a single row; the 6-row permutation
    * table is pure metadata arithmetic — stats in, order out, zero data
    * movement. Composes the graded [[corrEstimate]] (its SQL likewise) —
    * a harness key. */
  def joinOrderHist(spark: SparkSession, dir: String): DataFrame = {
    // the graded ANALYZE pass: thresholds, exact 1-D counts, the exact
    // conjunction count, and the 2-D grid estimate — persisted, it is a
    // corpus-pass pipeline consumed by the flags pass and the pricing row
    val corr = corrEstimate(spark, dir)
      .select(col("n_rows"), col("t_chars"), col("t_tokens"),
        col("c_a").as("c_c"), col("c_b").as("c_t"),
        col("n_actual").as("c_ct"), col("n_est_joint").as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val flags = table(spark, dir, "documents")
      .select(col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tokens"), col("lang"))
      .crossJoin(broadcast(corr.select(col("t_chars"), col("t_tokens"))))
      .select((col("n_chars") >= col("t_chars")).cast("long").as("fc"),
        (col("n_tokens") >= col("t_tokens")).cast("long").as("ft"),
        (col("lang") =!= lit(JoinOrderHistLang)).cast("long").as("fl"))
    val counts = flags.agg(sum(col("fl")).as("c_l"),
      sum(col("fc") * col("fl")).as("c_cl"),
      sum(col("ft") * col("fl")).as("c_lt"),
      sum(col("fc") * col("ft") * col("fl")).as("c_clt"))
    val one = counts.crossJoin(broadcast(corr))
    val nD = col("n_rows").cast("double")
    def s(d: Char): Column = col(s"c_$d").cast("double") / nD
    def estIndep(p: String): Column = {
      val e1 = nD * s(p(0))
      val e2 = e1 * s(p(1))
      e1 + e2 + e2 * s(p(2))
    }
    def estHist(p: String): Column = {
      val e1 = nD * s(p(0))
      val e2 = if (Set(p(0), p(1)) == Set('c', 't')) col("g")
        else e1 * s(p(1))
      e1 + e2 + col("g") * s('l')
    }
    def actOf(p: String): Column = {
      def c(pre: String) = col("c_" + pre.sorted)
      c(p.take(1)) + c(p.take(2)) + c(p)
    }
    val rows = one.select(explode(array(JoinOrderHistPerms.map(p =>
        struct(lit(p).as("perm"), estIndep(p).as("est_indep"),
          estHist(p).as("est_hist"), actOf(p).as("actual_cost"))): _*)).as("x"))
      .select(col("x.*"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mins = rows.agg(min(col("est_indep")).as("mi"),
      min(col("est_hist")).as("mh"), min(col("actual_cost")).as("ma"))
    rows.crossJoin(broadcast(mins))
      .select(col("perm"), col("est_indep"), col("est_hist"),
        col("actual_cost"),
        (col("est_indep") === col("mi")).as("chosen_by_indep"),
        (col("est_hist") === col("mh")).as("chosen_by_hist"),
        (col("actual_cost") === col("ma")).as("cheapest_actual"))
      .orderBy("perm")
  }

  // ---- e_silhouette -------------------------------------------------------

  /** Silhouette sample bound: sampled vectors are `vec_id < this`. */
  private[queries] val SilhouetteSample = 64

  /** Silhouette cluster-quality validation (Rousseeuw '87) over the TRAINED
    * k-means assignment — the "did k clusters actually form" audit every
    * clustering-driven curation step (semantic dedup cells, IVF cells,
    * cluster-balanced mixing) needs before trusting its partitions: for
    * each sampled vector, a = mean cosine distance to own-cluster sample
    * co-members, b = the nearest other cluster's mean distance, s =
    * (b−a)/max(a,b) ∈ [−1, 1] (s ≈ 0 ⇒ no real structure — the honest
    * reading on this corpus, spec-pinned rather than papered over).
    * COMPOSES [[kmeansTrainIters]]' chain: the assignment is the SAME
    * final-centroid [[rankedCells]] ranking the trained IVF serves from
    * (and the oracle composes the same chain CTEs), so the audit grades
    * exactly the clustering the other operators use.
    *
    * Silhouette is inherently pairwise, so it runs on a pinned SAMPLE
    * ([[SilhouetteSample]] vectors — the standard production scoping;
    * sklearn's `silhouette_score(sample_size=…)` ships the same trade) —
    * the |m|² pair frame is 4k rows here and the sample bound, not the
    * corpus, is the quadratic knob.
    *
    * DETERMINISM: per-pair distance 1−cos is floored to fixed-point
    * immediately ([[bitextMine]]'s ranking device); per-(vector, cluster)
    * means are ONE exact int64 sum + two correctly-rounded IEEE divides,
    * so `a`, the min-over-clusters `b`, and s are bit-identical
    * cross-engine. Singleton-in-sample vectors (no own-cluster co-member)
    * pin s = 0 — sklearn's convention, spelled out in both engines'
    * CASE. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val cents = kmeansChain(spark, dir, KmeansIters)._2
    val vecs = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
    val smp = rankedCells(vecs.filter(col("vec_id") < SilhouetteSample), cents)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cell"))
      .persist()
    val dot = dotD(col("a.e"), col("b.e"))
    val pair = smp.as("a").join(broadcast(smp.as("b")),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("a.cell").as("ci"),
        col("b.cell").as("cj"),
        floor((lit(1.0) - dot / (col("a.nrm") * col("b.nrm"))) * lit(1e12))
          .cast("long").as("dfp"))
    val agg = pair.groupBy(col("i"), col("ci"), col("cj"))
      .agg(count(lit(1)).as("n"), sum(col("dfp")).as("sd"))
      .withColumn("m",
        col("sd").cast("double") / col("n").cast("double") / lit(1e12))
    val own = agg.filter(col("cj") === col("ci"))
      .select(col("i"), col("n").as("n_own"), col("m").as("a"))
    val other = agg.filter(col("cj") =!= col("ci"))
      .groupBy(col("i")).agg(min(col("m")).as("b"))
    smp.select(col("vec_id").as("i"), col("cell").as("cluster"))
      .join(own, Seq("i"), "left")
      .join(other, Seq("i"), "left")
      .select(col("i").as("vec_id"), col("cluster"),
        coalesce(col("n_own"), lit(0L)).as("n_own"), col("a"), col("b"),
        when(col("a").isNull || col("b").isNull ||
            greatest(col("a"), col("b")) <= 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
          .as("s"))
      .orderBy("vec_id")
  }

  // ---- e_semantic_dedup ---------------------------------------------------

  /** Cosine threshold above which two same-cell vectors are semantic
    * duplicates (lower than [[cosineDedup]]'s 0.95 near-dup bar on
    * purpose: semantic dedup prunes REDUNDANCY, not just near-copies). */
  private[queries] val SemDedupTheta = 0.9

  /** The corpus + perturbed variants, cell-assigned and PERSISTED (probed
    * by both sides of the in-cell self-join and the decision join).
    * `cells` is the quadratic-work knob — see [[semanticDedupCells]]. */
  private[graft] def semanticAssigned(spark: SparkSession, dir: String,
      cells: Int = IvfCells): DataFrame = {
    val vecsAll = table(spark, dir, "embeddings")
      .select(explode(array(
        struct(col("vec_id"), col("embedding").as("e")),
        struct((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, d) => (x.cast("double") * (lit(0.9) + lit(0.05) * (d % 5).cast("double")))
              .cast("float")).as("e")))).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("r.e").as("e"))
    rankedCells(vecsAll.withColumn("nrm", l2norm(col("e"))), centroids(spark, dir, cells))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The in-cell similar pairs (`src` < `dst`, cosine ≥ [[SemDedupTheta]])
    * both dedup policies are built on — the pairwise rule here and the
    * greedy keep-against-survivors rule
    * ([[graft.operators.GreedySelection]], policy-contrast-tested). */
  private[graft] def semanticSimilarPairs(assigned: DataFrame): DataFrame = {
    val pairCos = dotD(col("x.e"), col("y.e")) / (col("x.nrm") * col("y.nrm"))
    assigned.as("x")
      .join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(pairCos >= SemDedupTheta)
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
  }

  /** SemDeDup-style semantic deduplication — the cluster-then-compare
    * family next to the LSH one ([[cosineDedup]]): partition the corpus
    * into centroid cells (the shared [[centroids]] quantizer, as in
    * [[cosineTopkIvfNprobe]]), compute pairwise cosine ONLY within a cell,
    * and drop every vector that has a smaller-id neighbor above
    * [[SemDedupTheta]]. Emits the keep/drop DECISION per vector, the
    * stateless-filter shape downstream mixing wants.
    *
    * Drop-rule semantics, stated precisely: a vector survives iff NO
    * smaller-id same-cell vector is within θ of it. On similarity CHAINS
    * (a~b, b~c, a≁c — cosine is not transitive at θ) this drops more than
    * one-representative-per-group would: c is dropped for its similarity
    * to the already-dropped b. That bias is CONSERVATIVE (never keeps two
    * similar vectors; may lose a chain tail) and is the price of a
    * single-pass, order-deterministic rule. The greedy keep-against-
    * SURVIVORS rule the SemDeDup paper describes IS implemented — as the
    * iterative-fixpoint [[graft.operators.GreedySelection]] operator over
    * [[semanticSimilarPairs]] (policy-contrast-tested: pairwise-kept ⊆
    * greedy-kept, and only greedy guarantees domination).
    *
    * At scale: the in-cell self-join is (N/cells)² per cell — SemDeDup's
    * own cost model; cells must grow ~√N with the corpus, which keeps the
    * per-cell quadratic bounded. That knob IS the `cells` parameter of
    * [[semanticDedupCells]] (this oracle entry point fixes cells =
    * [[IvfCells]] for cross-engine stability; a 100 TB run passes
    * cells ≈ √N — [[graft.queries.SemanticCellsSpec]] measures the
    * candidate-pair count shrinking as cells grows). Assignment is one
    * broadcast-centroid argmax scan; only (id, cell) and norms shuffle
    * for the self-join, never the text.
    *
    * CACHING CONTRACT: [[semanticAssigned]] persists the assigned frame
    * (BOTH sides of the in-cell self-join and the final decision join probe
    * it); callers invoking repeatedly in one session should clearCache()
    * after materializing. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupCells(spark, dir, IvfCells)

  /** [[semanticDedup]] with the cell count exposed — the √N scaling knob.
    * More cells ⇒ strictly fewer in-cell candidate pairs (each vector
    * compares only within its cell) at the recall cost SemDeDup accepts:
    * a near-duplicate pair split across a cell boundary is not compared.
    * Duplicate groups sit near one point in embedding space, so they
    * co-assign for any reasonable quantizer and the kept set is stable
    * under the cell count (spec-measured at matched θ). */
  def semanticDedupCells(spark: SparkSession, dir: String, cells: Int): DataFrame = {
    val assigned = semanticAssigned(spark, dir, cells)
    val dups = semanticSimilarPairs(assigned)
      .select(col("dst").as("vec_id"))
      .distinct()
      .withColumn("dup", lit(true))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  // ---- e_greedy_dedup -----------------------------------------------------

  /** Greedy (keep-against-SURVIVORS) semantic dedup — the SemDeDup-paper
    * policy [[semanticDedup]]'s scaladoc contrasts itself with, now an
    * oracle-checked entry point: run the distributed order-greedy MIS
    * ([[graft.operators.GreedySelection]]) over the same in-cell similar
    * pairs ([[semanticSimilarPairs]]) and emit (v, keep) per conflicted
    * vector. Differs from the pairwise rule exactly on similarity CHAINS
    * (a~b, b~c, a≁c): greedy keeps c (its only conflict b was dropped),
    * pairwise drops it. The DuckDB oracle is the literal sequential greedy
    * walk as a recursive CTE carrying the kept set — same shape the
    * ScalaCheck spec pins the operator against.
    *
    * Scale notes live on the operator: frontier-limited rounds bounded by
    * conflict-chain depth; pairs arrive correctly oriented (src < dst) by
    * construction here, and the operator now fails loud if they don't. */
  def greedyDedup(spark: SparkSession, dir: String): DataFrame =
    greedyDedupCells(spark, dir, IvfCells)

  /** [[greedyDedup]] with the cell count exposed — the same √N scaling
    * knob as [[semanticDedupCells]], same contract: the in-cell pair
    * volume the greedy fixpoint consumes is (N/cells)² per cell. */
  def greedyDedupCells(spark: SparkSession, dir: String, cells: Int): DataFrame = {
    val assigned = semanticAssigned(spark, dir, cells)
    val out = graft.operators.GreedySelection
      .survivors(semanticSimilarPairs(assigned))
      .orderBy("v")
    assigned.unpersist()
    out
  }

  // ---- e_token_count ------------------------------------------------------

  /** Token counting two ways (north-star "token counting" item): whitespace
    * split vs a BPE-ish regex segmentation (letter runs / digit runs /
    * single punctuation — the GPT-2-pattern shape without the library).
    * The pattern uses a literal space class, not \s, so the Java (Spark)
    * and RE2 (DuckDB) dialects agree byte-for-byte. Pure projected scan. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val bpe = regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))
    table(spark, dir, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(bpe).as("n_bpe_tokens"),
        size(array_distinct(bpe)).as("n_uniq_bpe"))
      .orderBy("doc_id")
  }

  // ---- e_fingerprint ------------------------------------------------------

  /** Order-sensitive document fingerprint: polynomial rolling hash over the
    * token-hash sequence, acc ← (acc·B + h) mod P — distinguishes documents
    * with equal token SETS but different order (which every set-based dedup
    * above conflates). One fold per row, zero shuffles before the sort. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.GraftFunctions.hash31Tokens(tokens(col("text"))).as("th"))
      .select(col("doc_id"), size(col("th")).as("n_tokens"),
        graft.functions.GraftFunctions.polyFold(col("th"), 1000003L, IntModulus)
          .as("fingerprint"))
      .orderBy("doc_id")

  // ---- e_distinct_sketch --------------------------------------------------

  /** Linear-counting distinct sketch (the "novel sketch" capability): hash
    * every value into an m=16384-slot bitmap; the number of OCCUPIED slots k
    * estimates the cardinality as −m·ln(1−k/m). The sketch state (k per
    * group) is pure integers — computed identically in both engines via the
    * cross-engine [[hash64]] — so the oracle compare is exact; the ln-based
    * estimator is applied downstream (tests assert <5% error vs exact).
    *
    * At scale: the bitmap is a bounded 2KB-per-group structure; the shuffle
    * carries (group, slot) pairs deduplicated map-side — never raw values.
    * (Spark's built-in approx_count_distinct is HLL++ — better error per
    * byte, but its state isn't reproducible cross-engine, which is what the
    * oracle demands; linear counting is exact-error-analyzable AND portable.) */
  val SketchSlots = 16384

  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.groupBy(col("event_type"))
      .agg(
        countDistinct(pmod(hash64(col("user_id").cast("string")), lit(SketchSlots)))
          .as("k_slots"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .orderBy("event_type")
  }

  // ---- e_stratified_sample ------------------------------------------------

  /** Deterministic stratified sampling — the data-MIXING primitive of a
    * pretraining pipeline (up/down-weight sources and languages without a
    * random seed whose replay depends on partitioning). Each row's fate is a
    * pure function of its id: bucket = hash64(doc_id) mod 100, kept iff
    * bucket < the stratum's rate (English 50%, everything else 20% here —
    * the knob a mixing config would supply). Zero shuffles before the output
    * sort; re-running on a re-partitioned — or 1000×-larger — corpus keeps
    * the SAME rows, which is what makes ablation experiments comparable. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(hash64(col("doc_id").cast("string")), lit(100L))
    val rate = when(col("lang") === "en", 50L).otherwise(20L)
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"))
      .filter(col("bucket") < rate)
      .orderBy("doc_id")
  }

  // ---- e_temp_mix ---------------------------------------------------------

  /** Temperature-scaled language rebalancing — the multilingual mixing rule
    * (sample language l with probability ∝ p_l^α) at α = 0.5, realized as
    * deterministic per-document subsampling: keep rate r_l = √(min_n / n_l),
    * so the rarest language keeps everything and the dominant one is damped
    * toward parity. Unlike [[stratifiedSample]] (whose rates are a supplied
    * config), the rates here are DERIVED from the corpus itself — the
    * self-tuning form a mixing pipeline actually runs. Document fate stays a
    * pure function of doc_id (salted 60-bit hash into 2^20 buckets, keep iff
    * bucket < r_l·2^20): partition-layout-invariant and reproducible on a
    * re-sharded or 1000×-larger corpus. α = 0.5 is the one temperature whose
    * power is a SINGLE correctly-rounded IEEE op (sqrt) — every FP step here
    * (divide, sqrt, multiply, compare) is exactly rounded, so cross-engine
    * parity is structural, with no transcendental pow anywhere.
    *
    * At scale: language counts map-side-combine to |langs| partial rows; the
    * rate table broadcasts back; the corpus-sized side never shuffles — the
    * only exchanges below the output sort belong to the |langs|-row branch. */
  def tempMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_docs")).as("min_docs"))))
      .select(col("lang"), col("n_docs"),
        sqrt(col("min_docs").cast("double") / col("n_docs").cast("double"))
          .as("rate"))
    val bucket =
      pmod(hash64(concat(lit("mix:"), col("doc_id").cast("string"))), lit(1L << 20))
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .filter(bucket.cast("double") < col("rate") * lit((1L << 20).toDouble))
      .select(col("doc_id"), col("lang"), col("n_docs"), col("rate"))
      .orderBy("doc_id")
  }

  // ---- e_epoch_mix --------------------------------------------------------

  /** Epoch cap: no source repeats more than this many times, the standard
    * guard against a tiny source being upsampled into memorization. */
  private[queries] val EpochCap = 4.0

  /** Per-source epoch-weighted UPSAMPLING plan — the data-mixture shape
    * published pretraining recipes use (N epochs over small high-value
    * sources, ~1 over the bulk): each source's epoch weight equalizes
    * token share against the largest source, capped at [[EpochCap]], and
    * every document gets an integer repeat count — base ⌊w⌋ epochs plus
    * one more with probability frac(w), decided by deterministic hash
    * fate. The complement of [[tempMix]]: that op drops to rebalance
    * (keep-rate ≤ 1), this one REPEATS to rebalance (repeat ≥ 1); emitting
    * the plan as (doc, n_repeats) keeps the operator stateless — the
    * consumer explodes it into the epoch stream.
    *
    * Determinism: w = max_tokens/src_tokens is one exact IEEE division;
    * floor/subtract/multiply/compare are single correctly-rounded ops (no
    * pow, same structural argument as [[tempMix]]); fate is the salted
    * 60-bit hash into 2^20 buckets, a pure function of doc_id —
    * reproducible on a re-sharded corpus.
    *
    * At scale: token counts map-side-combine to |sources| partials, the
    * |sources|-row weight table broadcasts back, the corpus never
    * shuffles — zero exchanges below the output sort on the corpus-sized
    * branch. */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val srcTok = toked.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
    val w = srcTok
      .crossJoin(broadcast(srcTok.agg(max(col("src_tokens")).as("max_tokens"))))
      .select(col("source"),
        least(lit(EpochCap),
          col("max_tokens").cast("double") / col("src_tokens").cast("double"))
          .as("epochs"))
    val bucket =
      pmod(hash64(concat(lit("epoch:"), col("doc_id").cast("string"))), lit(1L << 20))
    toked.join(broadcast(w), Seq("source"))
      .select(col("doc_id"), col("source"), col("epochs"),
        (floor(col("epochs")) +
          when(bucket.cast("double") <
            (col("epochs") - floor(col("epochs"))) * lit((1L << 20).toDouble), 1L)
            .otherwise(0L)).as("n_repeats"))
      .orderBy("doc_id")
  }

  // ---- e_span_mask --------------------------------------------------------

  /** Span geometry: one [[SpanLen]]-token span per [[SpanEvery]] tokens —
    * the T5 recipe's ~15% corruption budget at mean span 3, made exact
    * integers (3/20 = 0.15). */
  private[queries] val SpanLen = 3
  private[queries] val SpanEvery = 20

  /** Deterministic span-corruption PLAN — the denoising-objective prep step
    * (T5/UL2 span masking): each document ≥ [[SpanEvery]] tokens gets
    * ⌊n/[[SpanEvery]]⌋ spans of [[SpanLen]] tokens, one per equal token
    * segment, placed inside its segment by salted hash fate — non-
    * overlapping BY CONSTRUCTION (a span never leaves its segment), no
    * iterative rejection sampling. Emits (doc, span_idx, start, len,
    * span_text): the masked-target stream a seq2seq batch builder consumes.
    * Like [[epochMix]]/[[seqPack]] the operator plans rather than
    * materializes — the corpus text rides through untouched.
    *
    * Determinism: segment bounds are integer floor-divisions of
    * non-negative values (`div` ≡ DuckDB `//`); placement is the salted
    * 60-bit hash mod the segment slack — a pure function of (doc_id,
    * span_idx), reproducible on any re-sharding. Zero shuffles: the
    * generator fans out ≤ n/[[SpanEvery]] rows per doc scan-side and
    * nothing exchanges until the output sort. */
  def spanMask(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .filter(col("n") >= SpanEvery)
      .withColumn("n_spans", expr(s"n div $SpanEvery"))
    toked
      .select(col("doc_id"), col("tk"), col("n"), col("n_spans"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("i"))
      .withColumn("a", expr("(i * n) div n_spans"))
      .withColumn("seg_len", expr("((i + 1) * n) div n_spans") - col("a"))
      .withColumn("start_tok", col("a") +
        pmod(hash64(concat(lit("span:"), col("doc_id").cast("string"),
          lit(":"), col("i").cast("string"))), col("seg_len") - lit(SpanLen - 1)))
      .select(col("doc_id"), col("i").as("span_idx"), col("start_tok"),
        lit(SpanLen.toLong).as("span_len"),
        array_join(slice(col("tk"), (col("start_tok") + 1).cast("int"),
          lit(SpanLen)), " ").as("span_text"))
      .orderBy("doc_id", "span_idx")
  }

  // ---- e_incr_dedup -------------------------------------------------------

  /** Bloom filter geometry for [[incrDedup]]: 1024 64-bit words = 2^16 bits,
    * probed at two positions (the low and next-low 16 bits of the 60-bit
    * content fingerprint). At |existing| = n the false-positive rate is
    * (1 − e^(−2n/2^16))² — ~2% at n = 5000; production sizes m ~ 16n bits
    * the same way, it is one constant. */
  private[queries] val BloomWords = 1024
  private val BloomMask = (BloomWords * 64 - 1).toLong // 2^16 − 1

  /** Incremental ingest dedup — the snapshot-shaped form every continuously
    * crawled corpus runs: an incoming batch is screened against the EXISTING
    * corpus's content fingerprints, exact re-fetches dropped, genuinely new
    * documents kept (first-seen-wins; the streaming twin is
    * [[graft.streaming.Streaming.dedupStream]]). The fixture synthesizes the
    * batch from the corpus itself — 20% exact re-ingests (must all drop) and
    * 20% suffix-mangled revisions (must all survive) — the same device the
    * simhash/ngram fixtures use; in production the batch is its own table
    * and the query is unchanged.
    *
    * The scale piece is the BLOOM PREFILTER: the existing side folds its
    * fingerprints into a [[BloomWords]]-word bit array (integer-only: two
    * bit positions per fingerprint, bit_or partial-aggregates — mergeable
    * map-side like any sum), which BROADCASTS as one row. Batch rows whose
    * two probe bits aren't both set are definitely-new and bypass the
    * anti-join entirely — only the ~2% false positives plus true duplicates
    * pay the shuffle. The anti-join side is the slim fingerprint INDEX
    * (2 columns), never document payloads: at 100 TB the batch's text never
    * reshuffles — misses keep it scan-local, and hits carry only
    * (doc_id, hash). The Bloom is a pure optimization — the oracle is the
    * plain NOT EXISTS, and survivors are identical with the filter deleted. */
  def incrDedup(spark: SparkSession, dir: String): DataFrame =
    incrDedupImpl(spark, dir, useBloom = true)

  /** [[incrDedup]] with the Bloom prefilter switchable — `useBloom = false`
    * routes every batch row through the anti-join, which is the semantic
    * definition; IncrDedupSpec pins that both paths return identical
    * survivors (the Bloom-soundness property: no false NEGATIVES ever). */
  private[queries] def incrDedupImpl(
      spark: SparkSession, dir: String, useBloom: Boolean): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val existing = docs
      .select(hash64(col("text")).as("content_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mangled = array_join(
      slice(tokens(col("text")), 6, Int.MaxValue), " ")
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) < 2)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .union(docs.filter(pmod(col("doc_id"), lit(10L)) >= 8)
        .select((col("doc_id") + 2000000L).as("doc_id"), mangled.as("text")))
      .select(col("doc_id"), hash64(col("text")).as("content_hash"))
    // bloom build: two positions per fingerprint → (word, mask) partials →
    // bit_or → one map<word,bits> row (≤ BloomWords entries), broadcast
    val positions = existing.select(explode(array(
        col("content_hash").bitwiseAND(lit(BloomMask)).as("p"),
        shiftright(col("content_hash"), 16).bitwiseAND(lit(BloomMask)).as("p"))).as("pos"))
    val bloom = positions
      .select(shiftright(col("pos"), 6).as("word"),
        expr("shiftleft(1L, int(pos % 64))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
      .agg(map_from_arrays(collect_list(col("word")), collect_list(col("bits")))
        .as("bloom"))
    def bitSet(p: String): String =
      s"(coalesce(element_at(bloom, $p div 64), 0L) & shiftleft(1L, int($p % 64))) != 0"
    val probed =
      if (!useBloom) batch.withColumn("hit", lit(true))
      else batch.crossJoin(broadcast(bloom))
        .withColumn("p1", col("content_hash").bitwiseAND(lit(BloomMask)))
        .withColumn("p2", shiftright(col("content_hash"), 16).bitwiseAND(lit(BloomMask)))
        .withColumn("hit", expr(s"${bitSet("p1")} AND ${bitSet("p2")}"))
    val definitelyNew = probed.filter(!col("hit"))
      .select(col("doc_id"), col("content_hash"))
    val survivors = probed.filter(col("hit"))
      .join(existing, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
    definitelyNew.union(survivors).orderBy("doc_id")
  }

  // ---- e_top_tokens -------------------------------------------------------

  /** Per-language top-10 vocabulary by frequency — corpus-statistics pass
    * (tokenizer vocabularies, stopword discovery). Shape at scale: the
    * explode fans out |tokens| rows but the hash aggregate combines
    * map-side, so the shuffle carries |distinct (lang, token)| partial
    * counts, not token instances. Per-lang top-k is the bounded-state
    * [[graft.functions.TopKTokensAggregator]] — with only |langs| groups,
    * a ranking window would land each language's ENTIRE vocabulary on one
    * partition (the coarse-group degenerate case of the problem
    * [[cosineTopkAgg]] solves), while the aggregate's partials cap at 4k
    * per (lang × partition). Ties pinned (count DESC, token ASC). */
  def topTokens(spark: SparkSession, dir: String): DataFrame = {
    val agg = new graft.functions.TopKTokensAggregator(10)
    val topk = udaf(agg, agg.inputEncoder)
    table(spark, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(topk(col("n"), col("token")).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.token").as("token"), col("col.n").as("n"))
      .orderBy("lang", "rank")
  }

  // ---- e_decontaminate ----------------------------------------------------

  /** Benchmark/corpus fixture boundary for [[decontaminate]]: documents
    * with `doc_id <` this stand in for the held-out eval set, the rest are
    * the training corpus. ONE definition shared by [[splitContamination]]
    * and interpolated into BOTH oracle SQL texts ([[ExtOracles]]) — a
    * second literal copy would let the contamination audit silently report
    * over a different corpus slice than the decontamination defines. In
    * production the eval set is its own table and this constant disappears. */
  private[queries] val DecontamBenchIds = 20L

  /** Benchmark decontamination — flag corpus documents sharing any 3-gram
    * shingle with a held-out eval set ([[DecontamBenchIds]] first doc ids
    * stand in for the benchmark), the pass every serious pretraining
    * pipeline runs before
    * training. Same shingle pipeline as [[minhashDedup]] (hash31 tokens →
    * [[ShingleC]] polynomial → distinct), then an inverted-index join:
    * corpus postings against BROADCAST benchmark postings (the eval set is
    * small by definition — no shuffle of the corpus side), counting
    * DISTINCT shared shingles per corpus doc. Only (doc_id, shingle)
    * matches reach the aggregate. In production the eval set is its own
    * tiny table — same plan, no filter needed.
    *
    * The shingle frame is PERSISTED like [[minhashDedup]]'s — and not only
    * for the two consumers: without the materialization boundary, Spark's
    * generate-filter inference (`isnotnull(ds) AND size(ds) > 0` derived
    * from the explode) is pushed below the projections and INLINES the
    * whole shingle pipeline into the scan filter — re-evaluating the
    * token-hash transform per element_at, the O(tokens²) re-eval trap in
    * optimizer-made form (measured 110 s vs 3 s at sf0.1). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val shingled = shingleSets(
      table(spark, dir, "documents").select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = shingled.filter(col("doc_id") >= DecontamBenchIds)
      .select(col("doc_id"), explode(col("ds")).as("g"))
    val bench = shingled.filter(col("doc_id") < DecontamBenchIds)
      .select(explode(col("ds")).as("g")).distinct()
    corpus.join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy("doc_id")
  }

  // ---- e_ngram_overlap ----------------------------------------------------

  /** Per-eval-example contamination overlap — the EVAL-SIDE twin of
    * [[decontaminate]]: for every benchmark document (the
    * [[DecontamBenchIds]] held-out set), the fraction of its distinct
    * 3-gram shingles that appear anywhere in the training corpus — the
    * per-example "dirty/clean" score an eval report publishes next to its
    * numbers (the n-gram overlap audit large-model evals run), where
    * decontaminate flags which TRAINING documents to drop. Sharing
    * [[shingleSets]] (and the oracle sharing its CTE text) keeps the two
    * audits one shingle definition by construction.
    *
    * At scale the corpus NEVER shuffles: the benchmark shingle set is tiny
    * (eval suites are thousands of examples against billions of corpus
    * docs), so it broadcasts; the corpus scan semi-joins against it,
    * leaving ≤ |bench shingles| surviving rows to distinct into the hit
    * set, which broadcasts back onto the bench side. Two broadcasts of
    * eval-sized frames, one corpus scan, zero corpus-sized shuffles —
    * [[decontaminate]]'s own shape, run in the opposite direction. */
  def ngramOverlap(spark: SparkSession, dir: String): DataFrame = {
    // persisted for the same generate-filter-inference reason as
    // decontaminate: two consumers, and the materialization boundary keeps
    // the O(tokens²) shingle re-eval out of the scan filter
    val shingled = shingleSets(
      table(spark, dir, "documents").select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bench = shingled.filter(col("doc_id") < DecontamBenchIds)
      .select(col("doc_id"), explode(col("ds")).as("h"))
    val benchSet = bench.select(col("h")).distinct()
    val hitSet = shingled.filter(col("doc_id") >= DecontamBenchIds)
      .select(explode(col("ds")).as("h"))
      .join(broadcast(benchSet), Seq("h"), "left_semi")
      .distinct()
      .withColumn("m", lit(1L))
    bench.join(broadcast(hitSet), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("m")).as("n_hit"))
      .withColumn("overlap_frac",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
      .orderBy("doc_id")
  }

  // ---- e_semantic_decontaminate -------------------------------------------

  /** Embedding-space benchmark decontamination — the SEMANTIC complement of
    * the n-gram [[decontaminate]]: a paraphrased eval item shares no
    * 3-gram shingle with its source but sits next to it in embedding
    * space, so serious pipelines run BOTH passes. The same
    * [[DecontamBenchIds]] boundary carves the held-out set (here over
    * `embeddings.vec_id` — in production the eval set is its own tiny
    * table); every corpus vector reports its nearest benchmark item
    * (max cosine, bench_id tie-break ascending) and is flagged at the
    * [[SemDedupTheta]] near-duplicate bar — ONE threshold shared with
    * [[semanticDedup]], so "contaminated" and "semantic duplicate" can
    * never mean different similarities.
    *
    * ZERO-SHUFFLE scoring: the benchmark side is collapsed to a single
    * sorted array row and broadcast, and the per-corpus-vector argmax is a
    * sequential `aggregate` fold over that array INSIDE the corpus scan's
    * projection — no join, no group-by; the only exchange in the plan is
    * the output sort. The fold keeps the running best as a (cos, id)
    * struct with a strict `>` compare, so ties resolve to the lowest
    * bench_id (the array is sorted) — deterministic on any partitioning
    * and identical to the oracle's window formulation. */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
    val benchArr = emb.filter(col("vec_id") < DecontamBenchIds)
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("bid"), col("e").as("be"), col("nrm").as("bn"))))
        .as("bs"))
    val dot = (b: Column) => dotD(col("e"), b)
    emb.filter(col("vec_id") >= DecontamBenchIds)
      .crossJoin(broadcast(benchArr))
      .select(col("vec_id"),
        aggregate(col("bs"),
          struct(lit(-2.0).as("cos"), lit(-1L).as("bid")),
          (acc, b) => {
            val c = dot(b.getField("be")) / (col("nrm") * b.getField("bn"))
            when(c > acc.getField("cos"),
              struct(c.as("cos"), b.getField("bid").as("bid"))).otherwise(acc)
          }).as("best"))
      .select(col("vec_id"), col("best.bid").as("bench_id"),
        col("best.cos").as("max_cos"),
        (col("best.cos") >= SemDedupTheta).as("contaminated"))
      .orderBy("vec_id")
  }

  // ---- e_repetition -------------------------------------------------------

  /** Repetition-based quality signals — the Gopher-rule family (duplicate
    * n-gram fraction; docs above threshold are boilerplate/spam-like and
    * filtered before training). Ratios are 1 − distinct/total over token
    * unigrams and STRING bigrams (no hashing — plain equality dedup, so
    * cross-engine parity is structural; each ratio is one int→double
    * division). Zero shuffles before the output sort; the flag threshold
    * (dup-bigram > 0.2) is Gopher's published cut. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val bigrams = transform(sequence(lit(0), size(col("tk")) - 2), i =>
      concat(element_at(col("tk"), i + 1), lit(" "), element_at(col("tk"), i + 2)))
    val dupRatio = (total: Column, uniq: Column) =>
      when(total > 0, lit(1.0) - uniq.cast("double") / total.cast("double"))
        .otherwise(lit(0.0))
    toked
      .withColumn("bg", when(size(col("tk")) <= 1, array().cast("array<string>"))
        .otherwise(bigrams))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        dupRatio(size(col("tk")), size(array_distinct(col("tk")))).as("dup_token_ratio"),
        dupRatio(size(col("bg")), size(array_distinct(col("bg")))).as("dup_bigram_ratio"))
      .withColumn("repetitive", col("dup_bigram_ratio") > 0.2)
      .orderBy("doc_id")
  }

  // ---- e_lang_id ----------------------------------------------------------

  /** Marker-token language identification — the n-gram-heuristic shape of a
    * corpus lang-ID pass: per-language marker-token counts, argmax with a
    * PINNED tie order (alphabetical), 'und' when no marker hits. (A real
    * classifier swaps the marker lists for charset/trigram tables — the
    * dataflow is identical; declared lang rides along for evaluation.) */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "de" -> Seq("der", "die", "und"),
      "en" -> Seq("the", "a", "of"),
      "es" -> Seq("el", "los", "y"),
      "fr" -> Seq("le", "la", "les"),
      "zh" -> Seq("de5", "le5"))
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
    val scored = markers.foldLeft(toked) { case (df, (l, ms)) =>
      df.withColumn(s"s_$l", size(filter(col("tk"), t => ms.map(t === _).reduce(_ || _))))
    }
    val best = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    val guess = markers.foldLeft(when(best === 0, "und")) { case (w, (l, _)) =>
      w.when(col(s"s_$l") === best, l)
    }
    scored
      .select(col("doc_id"), col("lang"), guess.otherwise("und").as("lang_guess"),
        best.as("marker_hits"))
      .orderBy("doc_id")
  }

  // ---- e_pii_redact -------------------------------------------------------

  /** PII patterns shared by the Spark op and the oracle SQL — kept to the
    * Java-regex ∩ RE2 common dialect (character classes, bounded repetition;
    * no lookarounds, no \d shorthand whose Unicode semantics differ). */
  private[queries] val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[queries] val Ipv4Pat  = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
  private[queries] val PhonePat = """555-[0-9]{4}"""

  /** PII detection + redaction — the compliance pass every training-data
    * pipeline runs before anything ships: count and mask e-mail addresses,
    * phone numbers and IPv4 literals. The fixture text contains no PII, so
    * spans are INJECTED deterministically per doc_id (varying by residue so
    * counts differ across rows: ids ≡ 0 mod 3 get no e-mail, ≡ 0 mod 5 get
    * two, etc.) — same synthesis-then-operate pattern as [[cosineDedup]]'s
    * perturbed vectors. Redaction order is pinned (e-mail → IP → phone;
    * each later pattern cannot match inside an earlier placeholder) and the
    * redacted text is emitted as a 60-bit fingerprint, not raw (hash compare
    * + no giant string column through the driver).
    *
    * At scale: zero shuffles — a pure projected scan until the output sort;
    * regex evaluation is per-row, embarrassingly parallel. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val idS = col("doc_id").cast("string")
    val aug = concat(
      col("text"),
      when(pmod(col("doc_id"), lit(3)) > 0,
        concat(lit(" Contact user"), idS, lit("@example.com."))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" or user"), idS, lit("b@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) > 0,
        concat(lit(" call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit(" from "),
          pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 7, lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 13, lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 31, lit(256)).cast("string"))).otherwise(lit("")))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("t"), lit(EmailPat), lit("<EMAIL>")),
        lit(Ipv4Pat), lit("<IP>")),
      lit(PhonePat), lit("<PHONE>"))
    table(spark, dir, "documents")
      .select(col("doc_id"), aug.as("t"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(PhonePat), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("t"), lit(Ipv4Pat), lit(0))).as("n_ips"),
        redacted.as("red"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        length(col("red")).as("n_chars_redacted"),
        hash64(col("red")).as("redacted_fp"))
      .orderBy("doc_id")
  }

  // ---- e_dup_clusters -----------------------------------------------------

  /** Connected components over the verified near-duplicate pairs — the step
    * that turns pairwise dedup output into DEDUP DECISIONS: each component
    * is one content cluster, its canonical id is the minimum member id (the
    * same survivor rule as [[exactDedup]]), and "drop everything whose
    * doc_id ≠ cluster_id" is then a stateless filter.
    *
    * The component computation is the shared
    * [[graft.operators.ConnectedComponents]] operator — min-label
    * propagation with pointer jumping, O(log diameter) rounds, per-round
    * lineage truncation (see its scaladoc for the algorithm and the
    * measured 3^round plan-blowup trap it avoids). Near-dup clusters are
    * shallow, so a handful of rounds converge here; the jump is what keeps
    * adversarial chain-shaped components (dup of a dup of a dup …) from
    * scaling rounds with chain length.
    *
    * CACHING CONTRACT: the component operator persists the pair/edge frames
    * probed every round; callers invoking repeatedly in one session should
    * clearCache() after materializing. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashVerifiedPairs(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = graft.operators.ConnectedComponents.components(pairs)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("v").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  // ---- e_canonical_pick ---------------------------------------------------

  /** Quality-aware survivor selection — the dedup DECISION rule upgraded
    * from "keep the minimum id" to what curation pipelines actually want:
    * within each [[dupClusters]] near-duplicate cluster, keep the BEST
    * member — quality-gate passers first ([[qualitySignals]] `keep`), then
    * the longest (`n_tokens`), then lowest doc_id as the final
    * deterministic tie-break. Emits every clustered document with its
    * cluster, the chosen canonical id, and the keep/drop verdict — the
    * id-keyed action table a rewrite pass applies statelessly.
    *
    * COMPOSES two graded operators (the [[splitContamination]] device):
    * the cluster assignment is [[dupClusters]]' own derivation and the
    * quality rank is [[qualitySignals]]' own columns, so the pick can
    * never disagree with either grade; the oracle composes both SQL texts.
    *
    * At scale: both inputs are slim id-keyed frames (clustered ids are a
    * corpus fraction; quality signals project to 3 columns here), the
    * per-cluster argmax is ONE map-side-combined max(struct) aggregate —
    * selection under the total order (keep DESC, n_tokens DESC, doc_id
    * ASC) is merge-order-invariant like every argmax in the repo — and
    * the canonical table joins back on the cluster key it was grouped by
    * (co-partitioned, no extra exchange). */
  def canonicalPick(spark: SparkSession, dir: String): DataFrame = {
    val clustered = dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    // rank over the SAME universe the clusters cover (corpus + re-crawl
    // variants) — ranking only the base table would silently drop every
    // variant member from its cluster's decision
    val quality = qualitySignals(docsWithVariants(spark, dir))
      .select(col("doc_id"),
        when(col("keep"), 1L).otherwise(0L).as("k"), col("n_tokens"))
    val j = clustered.join(quality, Seq("doc_id"))
    val canon = j.groupBy(col("cluster_id"))
      .agg(max(struct(col("k"), col("n_tokens"),
        (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), (-col("m.nid")).as("canonical_id"))
    j.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  // ---- e_soft_dedup -------------------------------------------------------

  /** Duplicate-aware SOFT deduplication — the modern alternative to
    * dropping near-duplicates: keep every copy and down-weight each by its
    * duplicate multiplicity, so a cluster of n near-identical documents
    * contributes one document's worth of training signal instead of n
    * (hard dedup is the weight-0/1 special case and loses the cluster's
    * internal variation). Every document in the variant-augmented universe
    * gets weight 1/cluster_size from its [[dupClusters]] near-dup cluster;
    * singletons keep weight 1.0. Emits (doc_id, n_dups, weight) — the
    * id-keyed weight table a training loader joins per epoch.
    *
    * COMPOSES [[dupClusters]] (the [[canonicalPick]] device): the
    * multiplicity IS the graded cluster operator's own `cluster_size`, so
    * the weights can never disagree with the clustering they summarize;
    * the oracle composes the `e_dup_clusters` SQL text. The weight is ONE
    * IEEE divide from an exact integer — correctly rounded identically in
    * both engines.
    *
    * At scale: the universe side projects to bare ids (zero text
    * movement), the cluster table is a corpus fraction, and the left join
    * is id-keyed — the operator adds one slim join to the clustering cost
    * it composes. */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    val universe = docsWithVariants(spark, dir).select(col("doc_id"))
    val clusters = dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_size"))
    universe.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("n_dups"),
        (lit(1.0) / coalesce(col("cluster_size"), lit(1L)).cast("double"))
          .as("weight"))
      .orderBy("doc_id")
  }

  // ---- e_quality_filter ---------------------------------------------------

  /** Quality-rule thresholds and the stopword list — shared with the oracle
    * SQL by interpolation (same single-definition discipline as [[EmailPat]]
    * / [[MinhashA]]: an unlinked literal copy would let one edit silently
    * split the engines). [[Stopwords]] also feeds [[domainStats]]. */
  private[queries] val QfMinTokens = 25
  private[queries] val QfMaxTokens = 500
  private[queries] val QfMinMeanLen = 3.0
  private[queries] val QfMaxMeanLen = 10.0
  private[queries] val QfGarbageTokenLen = 15
  private[queries] val QfMaxDupRatio = 0.85
  private[queries] val Stopwords = Seq("the", "a", "of")

  private def isStopword(t: Column): Column = Stopwords.map(t === _).reduce(_ || _)

  /** Gopher-style quality-rule battery — the composite keep/drop gate a
    * pretraining corpus runs after text extraction: token-count bounds,
    * mean-token-length band, garbage-token screen, repetition screen,
    * stopword presence. Emits every signal (for threshold tuning), the
    * boolean gate, and the FIRST failing rule as a verdict string (the
    * standard "reject reason" telemetry). Signals are exact integers or
    * single int→double divisions; the rule order is pinned so the verdict
    * is deterministic. Zero shuffles — pure projected scan until the sort. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualitySignals(table(spark, dir, "documents")).orderBy("doc_id")

  /** The Gopher-style rule battery over ANY (doc_id, lang, source, text)
    * frame — ONE rule definition shared by [[qualityFilter]] (the full
    * report) and [[curationFunnel]] (the quality stage), so the funnel can
    * never apply a drifted copy of the rules. */
  /** Shared with [[graft.streaming.Streaming.qualityGateStream]] — the
    * stream applies THIS body, so online and offline gating cannot drift. */
  private[graft] def qualitySignals(docs: DataFrame): DataFrame = {
    val toked = docs
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        tokens(col("text")).as("tk"))
    val nTok = size(col("tk"))
    val totalLen = aggregate(transform(col("tk"), t => length(t)), lit(0), (a, x) => a + x)
    val sig = toked.select(
      col("doc_id"), col("lang"), col("source"),
      nTok.as("n_tokens"),
      (totalLen.cast("double") / nTok.cast("double")).as("mean_token_len"),
      (lit(1.0) - size(array_distinct(col("tk"))).cast("double") / nTok.cast("double"))
        .as("dup_ratio"),
      size(filter(col("tk"), t => length(t) >= QfGarbageTokenLen)).as("n_long_tokens"),
      size(filter(col("tk"), t => isStopword(t))).as("n_stop"))
    val keep = col("n_tokens") >= QfMinTokens && col("n_tokens") <= QfMaxTokens &&
      col("mean_token_len") >= QfMinMeanLen && col("mean_token_len") <= QfMaxMeanLen &&
      col("n_long_tokens") === 0 && col("dup_ratio") <= QfMaxDupRatio && col("n_stop") > 0
    val verdict =
      when(col("n_tokens") < QfMinTokens, "too_short")
        .when(col("n_tokens") > QfMaxTokens, "too_long")
        .when(col("mean_token_len") < QfMinMeanLen, "tokens_too_short")
        .when(col("mean_token_len") > QfMaxMeanLen, "tokens_too_long")
        .when(col("n_long_tokens") > 0, "has_garbage_token")
        .when(col("dup_ratio") > QfMaxDupRatio, "too_repetitive")
        .when(col("n_stop") === 0, "no_stopwords")
        .otherwise("keep")
    sig
      .withColumn("verdict", verdict)
      .withColumn("keep", keep)
  }

  // ---- e_datasheet --------------------------------------------------------

  /** Dataset datasheet — the "dataset card" a corpus release ships
    * (Datasheets for Datasets, Gebru et al.): one tall (section, metric)
    * report of the corpus's volume, language/source spread, split sizes,
    * quality pass rate, near-duplicate pair count and benchmark
    * contamination count — plus (round 11) the AUDIT section: the
    * graph/spectral cluster-structure health numbers a release card needs
    * next to raw volume (does the corpus's similarity structure hold up —
    * modularity Q of the propagated labels, mean silhouette of the trained
    * clustering, knn-graph edge recall, classifier calibration ECE).
    * Every number is the corresponding GRADED operator's own aggregate
    * ([[textStats]], [[domainStats]], [[corpusSplit]], [[qualityFilter]],
    * [[minhashDedup]], [[decontaminate]], [[modularity]], [[silhouette]],
    * [[graphRecall]], [[calibration]]) and the oracle composes their SQL
    * texts — the card cannot drift from the operators that define its
    * numbers.
    *
    * Audit-row determinism (each is exact integers + ONE final divide):
    * modularity Q = Σ_c(4m·e_in − d_sum²)/4m² computed in ONE pass over
    * the decomposition via the identity 2·Σd_sum·Σe_in − Σd_sum² over
    * (Σd_sum)² — m = Σd_sum/2 is exact and even (the ModularitySpec
    * invariant), and the single evaluation is what keeps the composed
    * oracle from running the whole label-prop chain twice; silhouette
    * floors each bit-identical s to 10⁻⁶
    * fixed point before the sum (double summation order would not be
    * partition-invariant); edge recall is the micro form Σhit/Σtrue;
    * ECE is Σ_b |n_correct·10⁶ − Σconf_fp| / (10⁶·N) over the
    * classifier's exact per-bucket masses.
    *
    * At scale: each section is a 1-row (or |splits|-row) aggregate over an
    * operator whose own scale story is graded elsewhere; the card itself
    * unions a dozen slim rows. */
  def datasheet(spark: SparkSession, dir: String): DataFrame = {
    val nullD = lit(null).cast("double")
    def melt(section: String, src: DataFrame,
        m: (String, Column, Column)*): DataFrame =
      src.select(explode(array(m.map { case (name, v, d) =>
        struct(lit(section).as("section"), lit(name).as("metric"),
          v.cast("long").as("v"), d.cast("double").as("v_dbl"))
      }: _*)).as("r"))
        .select(col("r.section"), col("r.metric"), col("r.v"), col("r.v_dbl"))
    val corpus = melt("corpus",
      textStats(spark, dir).agg(
        count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs")),
      ("n_docs", col("n_docs"), nullD), ("n_tokens", col("n_tokens"), nullD),
      ("n_chars", col("n_chars"), nullD), ("n_langs", col("n_langs"), nullD))
    val sources = melt("corpus",
      domainStats(spark, dir).agg(count(lit(1)).as("n_sources")),
      ("n_sources", col("n_sources"), nullD))
    val splits = corpusSplit(spark, dir)
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .select(lit("split").as("section"),
        concat(lit("n_"), col("split")).as("metric"),
        col("n").as("v"), nullD.as("v_dbl"))
    val quality = melt("quality",
      qualityFilter(spark, dir).agg(
        count(when(col("keep"), 1)).as("n_keep"), count(lit(1)).as("n_all")),
      ("n_keep", col("n_keep"),
        col("n_keep").cast("double") / col("n_all").cast("double")))
    val nearDup = melt("dedup",
      minhashDedup(spark, dir).agg(count(lit(1)).as("n")),
      ("n_near_dup_pairs", col("n"), nullD))
    val contam = melt("dedup",
      decontaminate(spark, dir).agg(count(lit(1)).as("n")),
      ("n_contaminated_docs", col("n"), nullD))
    // AUDIT section — cluster-structure health (scaladoc: exactness per
    // row). ONE persisted knn substrate feeds BOTH graph audits: the
    // modularity decomposition and the edge-recall grade (the
    // labelPropParts sharing device lifted one composition level — built
    // separately, the graph's in-cell topk chain executes twice here)
    val (knnShared, labsShared) = labelPropParts(spark, dir)
    // Q in ONE aggregation pass: Σ(4m·e_in − d_sum²) = 2·Σd_sum·Σe_in −
    // Σd_sum² with m = Σd_sum/2 (even — every edge contributes two
    // endpoint degrees), so the composed decomposition is evaluated ONCE
    // on both engines instead of once for m and again for the numerator
    val qn = lit(2L) * col("sd") * col("se") - col("sd2")
    val audModularity = melt("audit",
      modularityFromParts(knnShared, labsShared)
        .agg(sum(col("e_in")).as("se"), sum(col("d_sum")).as("sd"),
          sum(col("d_sum") * col("d_sum")).as("sd2")),
      ("modularity_q", qn,
        qn.cast("double")
          / (col("sd").cast("double") * col("sd").cast("double"))))
    val audSilhouette = melt("audit",
      silhouette(spark, dir).agg(count(lit(1)).as("n"),
        sum(floor(col("s") * lit(1000000.0)).cast("long")).as("sfp")),
      ("silhouette_mean", col("sfp"),
        col("sfp").cast("double") / (col("n").cast("double") * lit(1000000.0))))
    val audRecall = melt("audit",
      graphRecallFromGraph(spark, dir, knnShared).agg(
        sum(col("n_hit")).as("nh"), sum(col("n_true")).as("nt")),
      ("knn_edge_recall", col("nh"),
        col("nh").cast("double") / col("nt").cast("double")))
    val audEce = melt("audit",
      calibration(spark, dir).agg(sum(col("n_docs")).as("n"),
        sum(abs(col("n_correct") * lit(1000000L) - col("sum_conf_fp")))
          .as("ece_fp")),
      ("calibration_ece", col("ece_fp"),
        col("ece_fp").cast("double")
          / (lit(1000000.0) * col("n").cast("double"))))
    corpus.unionByName(sources).unionByName(splits)
      .unionByName(quality).unionByName(nearDup).unionByName(contam)
      .unionByName(audModularity).unionByName(audSilhouette)
      .unionByName(audRecall).unionByName(audEce)
      .orderBy("section", "metric")
  }

  // ---- e_phrase_search ----------------------------------------------------

  /** Pinned 3-token query phrases for [[phraseSearch]] — two present in the
    * fixture corpus, one deliberate miss. */
  private[queries] val SearchPhrases: Seq[String] =
    Seq("agg hash window", "the table line", "lorem ipsum dolor")

  /** Corpus phrase search via the shingle inverted index — the WIMBD-style
    * inspection primitive ("which documents contain this exact phrase?")
    * a data team runs constantly against a pretraining corpus: each query
    * phrase is hashed with the SAME 3-gram polynomial the dedup shingles
    * use ([[ShingleC]] over per-token [[hash31]] — one shingle definition
    * repo-wide), candidate documents come from an equi-join against the
    * shingle postings, and candidates are verified with an exact
    * token-boundary substring test — so a 2³¹-hash collision can admit a
    * candidate but never a result.
    *
    * At scale this is the whole point of the index: the corpus text is
    * NEVER scanned with a LIKE — the tiny broadcast query-hash set probes
    * the postings (the same index fuzzy dedup maintains), and only the
    * ≪corpus candidate set touches its text for the verify. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val shingled = shingleSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = spark.range(SearchPhrases.size)
      .select(element_at(array(SearchPhrases.map(lit): _*),
        col("id").cast("int") + 1).as("phrase"))
      .withColumn("th", graft.functions.GraftFunctions.hash31Tokens(tokens(col("phrase"))))
      .withColumn("h", ShingleC.zipWithIndex.map { case (c, j) =>
          element_at(col("th"), j + 1) * lit(c) % lit(IntModulus)
        }.reduce(_ + _) % lit(IntModulus))
      .select(col("phrase"), col("h"))
    val cand = shingled
      .select(col("doc_id"), explode(col("ds")).as("h"))
      .join(broadcast(q), Seq("h"))
      .select(col("phrase"), col("doc_id"))
      .distinct()
    cand.join(docs, Seq("doc_id"))
      .filter(instr(concat(lit(" "), col("text"), lit(" ")),
        concat(lit(" "), col("phrase"), lit(" "))) > 0)
      .select(col("phrase"), col("doc_id"))
      .orderBy("phrase", "doc_id")
  }

  // ---- e_feature_hash -----------------------------------------------------

  /** Hashed-feature dimensionality for [[featureHash]]. */
  private[queries] val FhDim = 16L

  /** Hashing-trick document vectors (Weinberger et al. ICML'09) — the
    * MODEL-FREE embedding a pipeline falls back on when no encoder exists
    * (or before one is trained): each token lands in bucket h mod
    * [[FhDim]] with sign (h div FhDim) mod 2, and the document's vector is
    * the signed token-count per bucket — the sparse bag-of-tokens
    * projection whose inner products approximate token-overlap kernels.
    * Emitted in LONG form (doc_id, bucket, v) — exact integers, the
    * relational shape a downstream join consumes — rather than a nested
    * array column.
    *
    * At scale: entirely scan-side — the per-bucket sums are a bounded
    * [[FhDim]]-element fold over the token-hash array inside the
    * projection, and the generator fans out FhDim slim rows per document.
    * Zero shuffles before the output sort; no vocabulary state at all
    * (the point of the hashing trick).
    *
    * Every document gets exactly [[FhDim]] rows: a null-text document has
    * no tokens, so its vector is all zeros (v = 0 in every bucket), as in
    * the oracle. */
  def featureHash(spark: SparkSession, dir: String): DataFrame =
    // all FhDim bucket sums in ONE codegen'd pass over the token-hash
    // array (round 18; the per-bucket interpreted fold walked the array
    // FhDim times per document) — posexplode's 0-based pos IS the bucket;
    // the coalesce keeps a null-text document's FhDim rows
    table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(coalesce(
          graft.functions.GraftFunctions.featureHashBuckets(
            graft.functions.GraftFunctions.hash31Tokens(tokens(col("text"))), FhDim.toInt),
          array_repeat(lit(0L), FhDim.toInt))))
      .select(col("doc_id"), col("pos").cast("long").as("bucket"),
        col("col").as("v"))
      .orderBy("doc_id", "bucket")

  // ---- e_dedup_sweep ------------------------------------------------------

  /** Jaccard thresholds (percent) swept by [[dedupSweep]]. */
  private[queries] val SweepThresholds: Seq[Long] = Seq(50L, 60L, 70L, 80L, 90L)

  /** Dedup aggressiveness sweep — the report that picks the near-dup
    * threshold before a full run: over [[minhashDedup]]'s verified J ≥ 0.5
    * pairs (every J ≥ t ≥ 0.5 pair is among them by containment), how many
    * pairs and how many affected documents each candidate threshold keeps.
    * The knee of this curve is where a curation team sets t; publishing it
    * as a graded query keeps the decision input under the cross-engine
    * gate. Composes the graded detector's derivation (and the oracle its
    * SQL), and every threshold test is the exact integer cross-multiply
    * 100·|∩| ≥ t·|∪| — no float J is ever computed.
    *
    * At scale: the swept frame is |pairs| rows (≪ corpus — the detector
    * already did the heavy work); the sweep is a |thresholds|-way broadcast
    * cross join over it and two map-side-combined aggregates. */
  def dedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashDedup(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = spark.range(SweepThresholds.size)
      .select(element_at(array(SweepThresholds.map(lit): _*),
        col("id").cast("int") + 1).as("t_pct"))
    val kept = pairs.crossJoin(broadcast(thr))
      .filter(lit(100) * col("n_inter") >= col("t_pct") * col("n_union"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val np = kept.groupBy(col("t_pct")).agg(count(lit(1)).as("n_pairs"))
    val nd = kept
      .select(col("t_pct"), explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .distinct()
      .groupBy(col("t_pct")).agg(count(lit(1)).as("n_docs"))
    thr.join(np, Seq("t_pct"), "left").join(nd, Seq("t_pct"), "left")
      .select(col("t_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("t_pct")
  }

  // ---- e_emb_stats --------------------------------------------------------

  /** Fixed-point scale (2²⁰) for quantized embedding norms — the
    * [[centroidScore]] exactness device. */
  private[queries] val EmbNormScale = 1048576.0

  /** Embedding-sanity audit — the broken-encoder detector an embedding
    * pipeline runs on every batch: per label, vector count, mean and
    * standard deviation of the L2 norm, the zero-vector count, and how
    * many vectors sit more than 2σ from their label's mean norm (an
    * encoder that NaN-ed, zeroed, or drifted shows up here before it
    * poisons a similarity index downstream).
    *
    * Determinism: the norm is quantized ONCE to an exact int64
    * (⌊norm·2²⁰ + 0.5⌋ — single rounding), so Σx and Σx² are exact
    * partition-order-invariant integer sums; mean/σ/outlier tests are then
    * fixed formulas over those exact integers (the outlier test compares
    * (x·n − Σx)² against 4·(n·Σx² − Σx²) with both sides cast long→double
    * — correctly-rounded IEEE in both engines, so no boundary can flip).
    * Σx² stays inside int64 up to ~10⁶ unit-norm vectors per label at this
    * scale; widen the shift down or shard the sum beyond that.
    *
    * At scale: one corpus scan computes the quantized norm scan-side; the
    * |labels|-row moment table broadcasts back onto the SAME persisted
    * slim (label, nfp) frame for the outlier test — no corpus-sized
    * shuffle anywhere, map-side-combined moments. */
  def embStats(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "embeddings")
      .select(col("label"),
        floor(l2norm(col("embedding")) * lit(EmbNormScale) + 0.5)
          .cast("long").as("nfp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mom = base.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("nfp")).as("s1"),
        sum(col("nfp") * col("nfp")).as("s2"),
        count(when(col("nfp") === 0, 1)).as("n_zero"))
    val dev = (col("nfp") * col("n") - col("s1")).cast("double")
    val varTimesN2 = (col("n") * col("s2") - col("s1") * col("s1")).cast("double")
    base.join(broadcast(mom), Seq("label"))
      .groupBy(col("label"))
      .agg(min(col("n")).as("n_vecs"),
        min(col("s1")).as("s1"),
        min(col("s2")).as("s2"),
        min(col("n_zero")).as("n_zero"),
        count(when(dev * dev > lit(4.0) * varTimesN2, 1)).as("n_outliers"))
      .select(col("label"), col("n_vecs"), col("n_zero"), col("n_outliers"),
        (col("s1").cast("double")
          / (col("n_vecs").cast("double") * lit(EmbNormScale))).as("mean_norm"),
        (sqrt((col("n_vecs") * col("s2") - col("s1") * col("s1")).cast("double"))
          / (col("n_vecs").cast("double") * lit(EmbNormScale))).as("std_norm"))
      .orderBy("label")
  }

  // ---- e_filter_bias ------------------------------------------------------

  /** Quality-gate BIAS audit — the C4-postmortem question (which rule eats
    * which language?) as a first-class report: per (lang, verdict), the
    * document count and its share of the language — so a rule that
    * disproportionately drops one language (the documented failure mode of
    * blanket quality heuristics on non-English text) shows up as a skewed
    * share row, and `verdict = 'keep'` rows ARE the per-language pass
    * rates. Composes [[qualitySignals]] (the graded `e_quality_filter`
    * body; the oracle composes its SQL text), so the audit can never drift
    * from the gate it audits.
    *
    * At scale: one corpus scan into a ≤|langs|·|verdicts|-key map-side-
    * combined aggregate; language totals reduce from those few rows, not
    * the corpus; the share is one exact int→double division. */
  def filterBias(spark: SparkSession, dir: String): DataFrame = {
    val per = qualitySignals(table(spark, dir, "documents"))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = per.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    per.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("verdict"), col("n"), col("n_lang"),
        (col("n").cast("double") / col("n_lang").cast("double")).as("share"))
      .orderBy("lang", "verdict")
  }

  // ---- e_pack_stats -------------------------------------------------------

  /** Packing-efficiency report — the utilization metric a training-data
    * team watches when sizing [[PackBlockTokens]]: per source, document and
    * token mass, the block count the packing produced, and utilization =
    * tokens / (blocks · block size) — the complement of the padding waste.
    * Composes [[seqPack]]'s own output (the oracle composes its SQL text):
    * blocks are `max(last_block) + 1` because packing is per-source and
    * 0-based contiguous.
    *
    * At scale: the packing's own cost dominates; the report is one
    * |sources|-row map-side-combined aggregate on top. */
  def packStats(spark: SparkSession, dir: String): DataFrame =
    seqPack(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("last_block")) + 1).as("n_blocks"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_blocks"),
        (col("n_tokens").cast("double")
          / (col("n_blocks") * lit(PackBlockTokens)).cast("double"))
          .as("utilization"))
      .orderBy("source")

  // ---- e_domain_stats -----------------------------------------------------

  /** Per-source (per-domain) corpus statistics — the rollup behind domain
    * filtering and mixture weighting: doc/token volumes, language spread, a
    * quality rate, and a pinned-threshold tier label. One hash-aggregate
    * shuffle carrying |sources| partial rows (map-side combined); the
    * distinct-lang count rides the same shuffle. Ratios are single
    * int→double divisions (bit-identical cross-engine); tier thresholds
    * compare those exact doubles against literals. */
  private[queries] val DsTierHigh = 0.9
  private[queries] val DsTierMid = 0.8

  def domainStats(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), tokens(col("text")).as("tk"))
    val q = size(col("tk")) >= QfMinTokens && size(filter(col("tk"), t => isStopword(t))) > 0
    val rate = sum(when(col("q"), 1L).otherwise(0L)).cast("double") /
      count(lit(1)).cast("double")
    toked
      .select(col("lang"), col("source"), size(col("tk")).as("n_tokens"), q.as("q"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1)).cast("double")).as("avg_tokens"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        rate.as("quality_rate"),
        when(rate >= DsTierHigh, "high").when(rate >= DsTierMid, "mid")
          .otherwise("low").as("tier"))
      .orderBy("source")
  }

  // ---- e_frame_sample -----------------------------------------------------

  /** Frame sampling over multimodal rows — the last named item of the
    * multimodal plumbing family (decode / feature-extract / frame-sample;
    * see [[graft.multimodal.MediaDecode]] for the decode stub and
    * [[multimodalCols]] for the payload-carrying struct): the operator
    * emits one row per sampled frame (every 2 s) with its timestamp and
    * frame index, planned ENTIRELY from the typed metadata struct
    * (duration, fps — derived deterministically from doc_id, like every
    * fixture synthesis here). The load-bearing property: the binary payload
    * column is never referenced, so columnar pruning keeps it on disk —
    * the scan reads doc_id alone (plan-pinned ReadSchema) and at 100 TB a
    * downstream `mapInPandas`-shaped decoder fetches only the planned
    * frames. Zero shuffles: scan → generate → output sort; all-integer
    * output. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val media = table(spark, dir, "documents")
      .select(col("doc_id"),
        struct(
          lit("video/mp4").as("mime"),
          struct(
            (lit(4L) + pmod(col("doc_id"), lit(17))).as("duration_s"),
            (lit(24L) + lit(6) * pmod(col("doc_id"), lit(2))).as("fps")).as("meta"))
          .as("media"))
    media
      .select(col("doc_id"),
        col("media.meta.duration_s").as("duration_s"),
        col("media.meta.fps").as("fps"))
      // every-2s sample times in [0, duration): Spark sequence is
      // END-INCLUSIVE, DuckDB range end-exclusive — d-1 here ≡ range(0,d,2)
      // because the step-2 grid has the same last point under both bounds
      .withColumn("frame_ts_s",
        explode(sequence(lit(0L), col("duration_s") - 1, lit(2L))))
      .select(col("doc_id"), col("duration_s"), col("fps"),
        (col("duration_s") * col("fps")).as("n_frames"),
        expr("frame_ts_s div 2").as("sample_pos"),
        col("frame_ts_s"),
        (col("frame_ts_s") * col("fps")).as("frame_idx"))
      .orderBy("doc_id", "frame_ts_s")
  }

  // ---- e_train_order ------------------------------------------------------

  /** Salt prefix for the [[trainOrder]] shuffle key — part of the pinned
    * cross-engine contract (the oracle interpolates it); change it and
    * every position changes. A per-epoch reshuffle would vary this salt. */
  private[queries] val TrainOrderSalt = "shuf1:"

  /** Segment width over hash64's [0, 2⁶⁰) key space: 2⁵² → at most 256
    * segments. A design CONSTANT, not a corpus knob: segment count bounds
    * the offsets join (|segs|² pairs) while each segment holds ~N/256 rows
    * — at 100 TB you'd widen the constant's exponent down (more segments),
    * which only grows the trivially-small offsets join. */
  private[queries] val TrainOrderSegWidth = 1L << 52

  /** Deterministic global training-order shuffle — the reproducible
    * permutation every training run needs before batching: order by a
    * salted CONTENT hash (identical bytes always land adjacent under the
    * same salt, and a re-run on re-ingested data reproduces the order
    * exactly — a row-number over arrival order would not), tie-broken by
    * doc_id. Contiguous positions come from the SAME two-level device as
    * [[packTokens]]'s prefix sums, with the level-1 prefix as a bounded
    * TRIANGULAR JOIN instead of a global window: hash-range segments
    * ([[TrainOrderSegWidth]]) give per-segment counts; each segment's
    * exclusive offset is Σ counts of lower segments (≤ 256² pairs,
    * broadcast); within-segment rank is a window whose partition is the
    * segment. No empty-partition window anywhere — the repo-wide PlanSpec
    * assertion holds — and the corpus shuffles ONCE (to its segment),
    * which is the intentional shuffle any global permutation must pay. */
  def trainOrder(spark: SparkSession, dir: String): DataFrame = {
    // PERSISTED: consumed by the per-segment counts AND the rank join —
    // unpersisted, the corpus is re-scanned and re-hashed per consumer
    val keyed = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        hash64(concat(lit(TrainOrderSalt), col("text"))).as("k"))
      .withColumn("seg", expr(s"k div $TrainOrderSegWidth"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = keyed.groupBy(col("seg")).agg(count(lit(1)).as("c"))
    val offs = cnt.as("a")
      .join(broadcast(cnt.as("b")), col("b.seg") < col("a.seg"), "left")
      .groupBy(col("a.seg").as("seg"))
      .agg(coalesce(sum(col("b.c")), lit(0L)).as("seg_off"))
    val wSeg = Window.partitionBy(col("seg"))
      .orderBy(col("k").asc, col("doc_id").asc)
    keyed
      .withColumn("r", row_number().over(wSeg))
      .join(broadcast(offs), Seq("seg"))
      .select(col("doc_id"), col("source"),
        (col("seg_off") + col("r")).as("pos"))
      .orderBy("pos")
  }

  // ---- e_shard_pack -------------------------------------------------------

  /** Number of output shards [[shardPack]] balances across. */
  private[queries] val PackShards = 8L

  /** Documents per doc-id rank segment — bounds every per-segment window
    * partition of the distributed length rank to this many rows. */
  private[queries] val ShardSegDocs = 64L

  /** Token-balanced training-shard assignment — boustrophedon (snake)
    * packing: documents are ranked globally by (n_tokens, doc_id) and dealt
    * to [[PackShards]] shards in alternating direction per round, so every
    * round of 2·S consecutive ranks gives each shard one short and one long
    * document. This is the writer-side step that keeps training shards
    * byte-balanced (a straight `pmod(doc_id, S)` balances COUNTS but not
    * tokens; greedy least-loaded-bin is sequential and not reproducible
    * under re-partitioning): snake loads differ by at most a few documents'
    * tokens regardless of the length distribution (spec-measured), and the
    * assignment is a pure function of the rank, so re-sharding the input
    * reproduces it.
    *
    * The global rank is the [[trainOrder]] two-level device on a DIFFERENT
    * key family: token counts concentrate (hash keys don't), so hash-range
    * segments would put every common length in one window. Segments here
    * are (n_tokens, doc_id div [[ShardSegDocs]]) — lexicographically
    * monotone in the sort key because the doc-seg factor `kseg` (derived
    * from the corpus max id in one scalar aggregate) strictly exceeds
    * every doc-seg index — so each window partition holds ≤ ShardSegDocs
    * rows BY CONSTRUCTION even if the whole corpus shares one length.
    * Offsets are the same triangular broadcast join; all shard arithmetic
    * is non-negative integer div/mod (the e_seq_pack floor-div contract). */
  def shardPack(spark: SparkSession, dir: String): DataFrame = {
    // PERSISTED: the kseg scalar, per-segment counts, and the rank window
    // all consume the tokenized counts — unpersisted, the corpus re-scans
    // and re-tokenizes per consumer
    val counted = table(spark, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kseg = counted.agg(expr(s"(max(doc_id) div $ShardSegDocs) + 1").as("kseg"))
    val keyed = counted.crossJoin(broadcast(kseg))
      .withColumn("seg", col("n_tokens") * col("kseg")
        + expr(s"doc_id div $ShardSegDocs"))
    val cnt = keyed.groupBy(col("seg")).agg(count(lit(1)).as("c"))
    val offs = cnt.as("a")
      .join(broadcast(cnt.as("b")), col("b.seg") < col("a.seg"), "left")
      .groupBy(col("a.seg").as("seg"))
      .agg(coalesce(sum(col("b.c")), lit(0L)).as("seg_off"))
    val wSeg = Window.partitionBy(col("seg"))
      .orderBy(col("n_tokens").asc, col("doc_id").asc)
    keyed
      .withColumn("r", row_number().over(wSeg))
      .join(broadcast(offs), Seq("seg"))
      .withColumn("pos0", col("seg_off") + col("r") - 1)
      .select(col("doc_id"), col("n_tokens"),
        (col("pos0") + 1).as("pos"),
        when(expr(s"(pos0 div $PackShards) % 2") === 0,
            pmod(col("pos0"), lit(PackShards)))
          .otherwise(lit(PackShards - 1) - pmod(col("pos0"), lit(PackShards)))
          .as("shard"))
      .orderBy("doc_id")
  }

  // ---- e_seq_pack ---------------------------------------------------------

  /** Fixed block size (in tokens) for sequence packing. */
  private[queries] val PackBlockTokens = 256L

  /** Documents per prefix-scan segment — the two-level running-sum knob:
    * level-3 window groups are at most this many rows, level-2 handles
    * |docs|/width segment rows per source. */
  private[queries] val PackSegDocs = 128L

  /** Sequence packing — the step that turns a cleaned corpus into training
    * sequences: documents are concatenated in pinned order (doc_id) and
    * chunked into fixed [[PackBlockTokens]]-token blocks (GPT-style
    * concatenation packing); each document learns its byte-offset analog
    * (start_off) and the block range it spans. Packing is PER SOURCE, which
    * is both the realistic unit (no cross-shard concatenation) and what
    * keeps the running sum distributed — the window partitions by source
    * instead of forcing a single global cumulative partition.
    *
    * All outputs are integer arithmetic over the distributed running sum
    * (cast to BIGINT oracle-side: DuckDB window sums return HUGEINT — the
    * q_sessionize lesson). One scan (persisted count frame feeds both
    * prefix-scan levels). */
  def seqPack(spark: SparkSession, dir: String): DataFrame =
    packTokens(table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens")))

  /** The packing arithmetic over a pre-counted (doc_id, source, n_tokens)
    * frame — split out so the zero-token edge is directly testable.
    *
    * GUARD (cross-engine floor-div contract): the block indices use
    * integer `div`, which truncates toward zero, while the DuckDB oracle's
    * `//` FLOORS — the two agree only on non-negative operands, and
    * `cum − 1 ≥ 0` holds exactly when every document has n_tokens ≥ 1
    * (whitespace tokenization of any string, even empty, yields ≥ 1 token,
    * so real scans satisfy this structurally; a NULL text or upstream bug
    * would not). Rather than silently diverging from the oracle, a bad row
    * raises loud with its doc_id (edge spec-pinned in SeqPackSpec). The
    * guard is a per-row `when` inside the existing projection — no extra
    * scan, shuffle, or re-tokenization.
    *
    * DISTRIBUTED PREFIX SCAN: a naive per-source running sum puts a
    * source's ENTIRE document stream through one window partition — the
    * coarse-group single-partition sort at 100 TB. This is the classic
    * two-level parallel prefix sum instead: docs land in deterministic
    * [[PackSegDocs]]-wide doc_id segments; per-(source, segment) totals
    * aggregate map-side; an EXCLUSIVE prefix over the |docs|/width segment
    * rows yields each segment's starting offset (tiny window); and the
    * within-segment cumsum is a window whose group is bounded by the
    * segment width. cum = segment offset + within-segment running sum —
    * identical integers to the single-window form (spec-pinned). The
    * offsets join is left unhinted: Catalyst broadcasts it while
    * |docs|/width fits (AQE decides at runtime), and the level-2 window's
    * per-source row count shrinks by the width factor — widen
    * [[PackSegDocs]] (or recurse) as the corpus grows. */
  private[graft] def packTokens(counts: DataFrame): DataFrame = {
    val b = PackBlockTokens
    val guarded = counts
      .select(col("doc_id"), col("source"),
        when(col("n_tokens") >= 1, col("n_tokens"))
          .otherwise(raise_error(concat(
            lit("e_seq_pack: document "), col("doc_id").cast("string"),
            lit(" has zero or NULL tokens — the cum-1 floor-div contract needs n_tokens >= 1"))))
          .as("n_tokens"))
      .withColumn("seg", expr(s"doc_id div $PackSegDocs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wSeg = Window.partitionBy(col("source")).orderBy(col("seg").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = guarded.groupBy(col("source"), col("seg"))
      .agg(sum(col("n_tokens")).as("seg_tokens"))
      .withColumn("seg_off", coalesce(sum(col("seg_tokens")).over(wSeg), lit(0L)))
      .select(col("source"), col("seg"), col("seg_off"))
    val wIn = Window.partitionBy(col("source"), col("seg"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    guarded.join(offsets, Seq("source", "seg"))
      .withColumn("cum", col("seg_off") + sum(col("n_tokens")).over(wIn))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_off"),
        expr(s"(cum - n_tokens) div $b").as("first_block"),
        expr(s"(cum - 1) div $b").as("last_block"),
        (expr(s"(cum - 1) div $b") - expr(s"(cum - n_tokens) div $b") + lit(1L))
          .as("n_blocks"))
      .orderBy("source", "doc_id")
  }

  // ---- e_freq_rank_score --------------------------------------------------

  /** Top-vocabulary size for the frequency-rank score; out-of-vocabulary
    * tokens take penalty rank [[FreqRankVocab]] + 1. */
  private[queries] val FreqRankVocab = 20

  /** Frequency-rank language-model proxy — the deterministic stand-in for
    * perplexity-based quality scoring (CCNet-style): pass 1 builds a
    * top-[[FreqRankVocab]] vocabulary ranked by corpus frequency (the
    * "model"), pass 2 scores each document by the mean rank of its tokens,
    * OOV tokens at penalty rank V+1. Real perplexity needs log-probs, whose
    * transcendental rounding differs across engines; ranks are integers and
    * the score is one int→double division — bit-identical by construction.
    *
    * At scale: the two corpus scans are the standard two-pass model-build
    * shape — pass 1 map-side-combines to \|vocab\| partials (persisting the
    * exploded token stream would cost token-volume storage for one reuse,
    * strictly worse than the re-scan); the vocab table is Zipf-bounded and
    * BROADCAST, so pass 2 never shuffles the corpus — only \|docs\| partial
    * aggregates. Vocabulary selection is `orderBy(...).limit(V)`, which
    * plans as TakeOrderedAndProject — every partition keeps its local
    * top-V and the driver merges \|partitions\|·V rows; the DISTINCT-token
    * frame (billions of rows at corpus scale) is never sorted globally.
    * Ranks are then assigned by sorting the ≤V-row result INSIDE one
    * collect_list array (posexplode position = rank − 1) — bounded by
    * construction and window-free: the plan contains no
    * empty-partition-spec Window node. PlanSpec enforces both properties —
    * a TakeOrderedAndProject/no-Window pin on this query, and a repo-wide
    * scan of every registered query's optimized plan that fails on ANY
    * Window with an empty partition spec (a global window is a
    * single-executor sort at 100 TB). */
  def freqRankScore(spark: SparkSession, dir: String): DataFrame =
    freqRankScored(table(spark, dir, "documents"), Nil).orderBy("doc_id")

  /** [[freqRankScore]]'s derivation with passthrough grouping columns
    * (e.g. `lang` for [[qualityBuckets]]' per-language tiers) — ONE
    * definition, same reason as [[shingleSetsKeeping]]: a passthrough
    * consumer must not be able to fork the scoring pipeline. Passthroughs
    * are functionally dependent on doc_id, so widening the groupBy keys
    * changes no aggregate. */
  private def freqRankScored(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val keyCols = col("doc_id") +: keep.map(col)
    val tok = docs.select(keyCols :+ explode(tokens(col("text"))).as("token"): _*)
    val topV = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(FreqRankVocab)
    val vocab = topV
      .agg(sort_array(collect_list(struct((-col("n")).as("negn"), col("token"))))
        .as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.token").as("token"), (col("pos") + 1).cast("long").as("rank"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .select(keyCols ++ Seq(
        coalesce(col("rank"), lit(FreqRankVocab + 1L)).as("r"),
        when(col("rank").isNull, 1L).otherwise(0L).as("oov")): _*)
      .groupBy(keyCols: _*)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("oov")).as("n_oov"),
        (sum(col("r")).cast("double") / count(lit(1)).cast("double")).as("mean_rank"))
  }

  // ---- e_quality_buckets --------------------------------------------------

  /** Accuracy for the per-language quantile sketch; the guard below keeps
    * the exact-oracle contract honest (see [[qualityBuckets]]). */
  private[queries] val QualityBucketAccuracy = 1 << 18

  /** CCNet-style per-language quality tiers: every document is assigned a
    * quartile bucket (1 = most fluent) of its language's [[freqRankScore]]
    * distribution — the grouping CCNet uses (by LM perplexity, per
    * language) to pick what to keep, what to re-clean, and what to drop.
    * Quartiles (0.25 / 0.5 / 0.75) are the one quantile family whose
    * percentages are binary-exact doubles, so the ⌈q·n⌉ rank arithmetic
    * cannot drift cross-engine the way an inexact 1/3 could.
    *
    * At scale the point is what this query does NOT do: no ntile, no
    * per-language sort of the corpus — tier boundaries come from a
    * one-pass Greenwald–Khanna `percentile_approx` per language (bounded
    * memory, mergeable partials), broadcast back as a |langs|-row
    * threshold table, and assignment is three comparisons per row. GK at
    * [[QualityBucketAccuracy]] ≥ per-language n degenerates to exact
    * ⌈q·n⌉ rank selection (the [[RefQueries.orderStatsApprox]] contract,
    * spec-pinned there), which is what makes the DuckDB oracle exact; a
    * bigger-than-accuracy language raises loud rather than silently
    * diverging. The scored frame is persisted: it feeds both the
    * threshold aggregate and the assignment join. */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = freqRankScored(table(spark, dir, "documents"), Seq("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = count(lit(1))
    val ps = percentile_approx(col("mean_rank"),
      array(lit(0.25), lit(0.5), lit(0.75)), lit(QualityBucketAccuracy))
    val thr = scored.groupBy(col("lang"))
      .agg(when(n <= QualityBucketAccuracy, ps)
        .otherwise(raise_error(lit(
          s"quality_buckets: language group exceeds accuracy $QualityBucketAccuracy — " +
            "GK no longer degenerates to exact rank selection; raise the accuracy or " +
            "accept sketch thresholds and drop the exact oracle")).cast("array<double>"))
        .as("ts"))
      .select(col("lang"),
        element_at(col("ts"), 1).as("t25"),
        element_at(col("ts"), 2).as("t50"),
        element_at(col("ts"), 3).as("t75"))
    scored.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("mean_rank"),
        (lit(1L) + (col("mean_rank") > col("t25")).cast("long")
          + (col("mean_rank") > col("t50")).cast("long")
          + (col("mean_rank") > col("t75")).cast("long")).as("bucket"))
      .orderBy("doc_id")
  }

  // ---- e_boilerplate ------------------------------------------------------

  /** Within-source boilerplate detection at shingle granularity — the C4
    * cleaning rule ("drop any span that occurs more than once in the
    * corpus/domain": C4 does it per three-sentence span, CCNet per
    * paragraph hash) re-expressed over the shared 3-gram shingle
    * derivation, since this corpus has no line structure. A shingle that
    * appears in ≥ 2 DISTINCT documents of the same source is domain
    * boilerplate (navigation, headers, templates repeat across a domain's
    * pages; genuine content does not); each document reports how much of
    * it is boilerplate and a keep verdict (< 50% boilerplate).
    *
    * At scale, deliberately JOIN-FREE: the within-source document
    * frequency rides a window partitioned by (source, shingle) over the
    * exploded posting stream — one shuffle on a fine-grained key (no
    * skew: a single shingle's postings are one domain's repeats), then
    * one partial-aggregated shuffle back to doc_id. The frequent-shingle
    * set is NOT broadcast anywhere because it is not vocab-bounded: at
    * 100 TB the repeated-shingle population is itself huge, and a
    * broadcast (or driver-side collect) of it would be the scale bug.
    * Shingle sets are distinct-per-doc by construction, so count(*) per
    * (source, shingle) IS document frequency.
    *
    * The shingle frame is PERSISTED for the same reason as
    * [[decontaminate]]'s, despite its single consumer: without the
    * materialization boundary, generate-filter inference pushes
    * isnotnull(ds)/size(ds)>0 below the projections and inlines the whole
    * shingle pipeline into the scan filter, re-evaluating the token-hash
    * transform per element_at (measured here: 5.9 s vs 0.5 s at sf0.001). */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val shingled = shingleSetsKeeping(table(spark, dir, "documents"), Seq("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = shingled
      .select(col("doc_id"), col("source"),
        size(col("ds")).cast("long").as("n_shingles"),
        explode(col("ds")).as("sh"))
    val wDf = Window.partitionBy(col("source"), col("sh"))
    posting
      .withColumn("df", count(lit(1)).over(wDf))
      .groupBy(col("doc_id"), col("source"), col("n_shingles"))
      .agg(sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("source"), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles").cast("double"))
          .as("boiler_frac"),
        (col("n_boiler") * 2 < col("n_shingles")).as("keep"))
      .orderBy("doc_id")
  }

  // ---- e_tfidf_terms ------------------------------------------------------

  /** Top-3 characteristic terms per document by tf·idf — the classic
    * keyword/topic signal a mixing pipeline wants next to [[langId]] and
    * [[freqRankScore]]. idf is kept a RATIONAL (tf · N / df as one
    * multiply + one divide over exact integers) rather than the textbook
    * log form: transcendental rounding differs across engines, a single
    * IEEE division does not, and the RANKING is identical either way
    * (log is monotone). Ties broken by token ascending, pinned.
    *
    * At scale: term frequency is one map-side-combined aggregate on
    * (doc, token); document frequency aggregates THAT (|vocab| rows,
    * Zipf-bounded) and BROADCASTS back — the corpus-sized tf stream never
    * reshuffles for the join (same shape as [[freqRankScore]]'s vocab);
    * N rides a 1-row broadcast cross join. The final top-3 window
    * partitions by doc_id. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double")
          / col("df").cast("double"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  // ---- e_bigram_lm --------------------------------------------------------

  /** Corpus-trained bigram language-model scoring — the CCNet-style
    * likelihood quality signal the heuristic filters ([[textStats]],
    * [[qualityFilter]]) can't express: train add-one-smoothed bigram
    * statistics over the WHOLE corpus in one pass, then score every
    * document by its own bigrams' average conditional probability
    * P(cur|prev) = (c(prev,cur)+1)/(c(prev·)+V). A document of improbable
    * token transitions (boilerplate soup, wrong-language text, mojibake)
    * scores low; fluent in-distribution text scores high.
    *
    * Deliberately LOG-FREE: real perplexity averages log-probabilities, but
    * `log` is not correctly-rounded-identical across engines (the same
    * last-ulp hazard that made [[bm25Topk]] use a rational idf), so the
    * score is the plain average probability — likelihood-monotone per
    * bigram, though document rankings can differ from true perplexity
    * (which weights improbable bigrams more heavily). Each probability is
    * one int→int division (correctly rounded), scaled by 2³⁰ (exponent
    * shift, exact) and fixed-point-quantized (the [[centroidScore]]
    * device), so the per-document sum `p_fp` is an exact, partition-order-
    * invariant int64 and `avg_prob` is two correctly-rounded IEEE ops from
    * exact integers.
    *
    * At scale: the bigram stream is hashed SCAN-SIDE — only (doc_id,
    * h_prev, h_bigram) int64 triples ever shuffle, never token text (the
    * [[chunkDedup]] discipline); both count tables are map-side-combined
    * hash aggregates; scoring re-joins the stream to the counts on the
    * same hashed keys (co-partitioned), and the vocab size is a 1-row
    * broadcast. TWO persists make "one pass over the text" literally true:
    * the tokenized frame (consumed by the bigram stream AND the vocab
    * count — unpersisted, the vocab branch re-scans and re-tokenizes the
    * whole corpus, a second full text pass at 100 TB) and the hashed
    * stream itself (consumed by both count tables and the scoring join).
    * Callers clearCache() after materializing. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLmBody(spark, dir).orderBy("doc_id")

  /** The unordered [[bigramLm]] frame — shared with [[importanceSample]]
    * (the [[pqServe]] single-definition device, so the sampler and the
    * graded score can never drift). */
  private def bigramLmBody(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // all (h_prev, h_bigram) pairs in ONE codegen'd pass (round 18; the
    // HOF form ran two interpreted md5 stacks per position; the
    // unit-separator delimiter -- "ab"+"c" and "a"+"bc" must not collide --
    // is preserved inside the kernel)
    val pairs = graft.functions.GraftFunctions.bigramHashes(col("tk"))
    val bg = toked.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.hp").as("hp"), col("p.hb").as("hb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toked.select(explode(col("tk")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val cnt1 = bg.groupBy(col("hp")).agg(count(lit(1)).as("c1"))
    val cnt2 = bg.groupBy(col("hb")).agg(count(lit(1)).as("c2"))
    val pq = floor(((col("c2") + 1).cast("double")
      / (col("c1") + col("v")).cast("double")) * lit(1073741824.0) + 0.5)
      .cast("long")
    val scored = bg.join(cnt2, Seq("hb")).join(cnt1, Seq("hp"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), pq.as("pq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("pq")).as("p_fp"))
    table(spark, dir, "documents").select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("p_fp"), lit(0L)).as("p_fp"))
      .withColumn("avg_prob", when(col("n_bigrams") > 0,
        col("p_fp").cast("double")
          / (lit(1073741824.0) * col("n_bigrams").cast("double"))))
  }

  // ---- e_pref_pairs -------------------------------------------------------

  /** Preference-pair mining — the chosen/rejected pair construction a
    * preference-tuning (DPO/RLHF reward-model) data pipeline runs over a
    * scored corpus: per source domain, CHOSEN = the most fluent document
    * under the graded [[bigramLm]] likelihood (avg per-bigram probability)
    * and REJECTED = the least fluent, with the score margin attached —
    * the contrastive pair whose margin IS the training signal, mined from
    * the same quality scalar the curriculum ([[lmBuckets]]) and sampler
    * ([[importanceSample]]) consume (one scorer, three consumers — the
    * pipeline-coherence property a data team actually wants). Sources
    * with fewer than two scoreable documents, or where best and worst
    * coincide, yield no pair (a zero-margin pair teaches nothing).
    *
    * Determinism: the ranking scalar is [[bigramLmBody]]'s `avg_prob` —
    * one IEEE divide of exact operands, bit-identical cross-engine — and
    * both argmax selections pin ties by doc_id; the margin is one
    * subtraction of those identical doubles.
    *
    * At scale: the score pass is the graded operator's own; the pair
    * pick is two map-side-combined struct extremes per source — never a
    * per-source sort, output ≤ |sources| rows. Composes the graded
    * [[bigramLm]] derivation — a harness key (oracle composes its SQL
    * text). */
  def prefPairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = bigramLmBody(spark, dir)
      .filter(col("n_bigrams") > 0)
      .join(table(spark, dir, "documents").select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("avg_prob"))
    scored.groupBy(col("source"))
      .agg(
        // lexicographic struct extremes pin the doc_id tie-break: chosen =
        // max score then SMALLER id (hence -id inside a max), rejected =
        // min score then smaller id
        max(struct(col("avg_prob"), (-col("doc_id")).as("nid"))).as("ch"),
        min(struct(col("avg_prob"), col("doc_id"))).as("rj"))
      .select(col("source"),
        (-col("ch.nid")).as("chosen_id"),
        col("ch.avg_prob").as("chosen_score"),
        col("rj.doc_id").as("rejected_id"),
        col("rj.avg_prob").as("rejected_score"),
        (col("ch.avg_prob") - col("rj.avg_prob")).as("margin"))
      .filter(col("chosen_id") =!= col("rejected_id"))
      .orderBy("source")
  }

  // ---- e_lm_buckets -------------------------------------------------------

  /** CCNet-proper curriculum tiers: per-language quartile buckets of the
    * [[bigramLm]] LIKELIHOOD score (bucket 1 = most fluent quarter) — the
    * grouping CCNet actually computes (LM score, per language), where
    * [[qualityBuckets]] uses the vocabulary-rank proxy. Sharing
    * [[bigramLmBody]] keeps the bucket boundaries and the graded score one
    * definition; the score being an EXACT int64 (`p_fp`) makes every
    * threshold comparison integer-exact — no float boundary can put a
    * document in different tiers on different engines.
    *
    * Same scale shape as [[qualityBuckets]]: no ntile, no per-language
    * corpus sort — thresholds come from the one-pass GK sketch per
    * language (accuracy-guarded so it degenerates to exact ⌈q·n⌉ rank
    * selection, raising loud past [[QualityBucketAccuracy]]), broadcast
    * back as a |langs|-row table; assignment is three integer comparisons
    * per row. The scored frame persists: thresholds and assignment both
    * consume it. */
  def lmBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = bigramLmBody(spark, dir)
      .join(table(spark, dir, "documents").select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("p_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = count(lit(1))
    val ps = percentile_approx(col("p_fp"),
      array(lit(0.25), lit(0.5), lit(0.75)), lit(QualityBucketAccuracy))
    val thr = scored.groupBy(col("lang"))
      .agg(when(n <= QualityBucketAccuracy, ps)
        .otherwise(raise_error(lit(
          s"lm_buckets: language group exceeds accuracy $QualityBucketAccuracy — " +
            "GK no longer degenerates to exact rank selection; raise the accuracy or " +
            "accept sketch thresholds and drop the exact oracle")).cast("array<bigint>"))
        .as("ts"))
      .select(col("lang"),
        element_at(col("ts"), 1).as("t25"),
        element_at(col("ts"), 2).as("t50"),
        element_at(col("ts"), 3).as("t75"))
    scored.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("p_fp"),
        (lit(1L) + (col("p_fp") > col("t25")).cast("long")
          + (col("p_fp") > col("t50")).cast("long")
          + (col("p_fp") > col("t75")).cast("long")).as("bucket"))
      .orderBy("doc_id")
  }

  // ---- e_curriculum_order -------------------------------------------------

  /** Salt for the within-stage shuffle key — distinct from
    * [[TrainOrderSalt]] so the curriculum's intra-stage order is
    * decorrelated from the flat shuffle's. */
  private[queries] val CurriculumSalt = "cur1:"

  /** Curriculum training schedule — the easy-first ordering curriculum
    * learning actually consumes: documents are STAGED by their
    * [[lmBuckets]] fluency tier (bucket 1 = most fluent quarter first) and
    * SHUFFLED within each stage by a salted content hash, yielding one
    * contiguous 1..N position stream a data loader batches directly.
    * Composes the graded tier assignment (and the oracle its SQL), so the
    * schedule can never drift from the tiers it claims to follow; the
    * within-stage hash makes the schedule reproducible under re-ingestion
    * and re-sharding (the [[trainOrder]] contract, per stage).
    *
    * The global rank is the [[trainOrder]] two-level device on the
    * composite (bucket, hash) key: segments are bucket · 256 + hash-range
    * (lexicographically monotone — the hash segment index is < 256 by
    * construction), per-segment windows are hash-uniform, and offsets are
    * the triangular broadcast join. One extra slim id-keyed join (tier →
    * text hash) on top of the tier computation's own cost. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    // PERSISTED: per-segment counts AND the rank window consume it —
    // unpersisted, the whole lmBuckets chain re-executes per consumer
    val keyed = lmBuckets(spark, dir).select(col("doc_id"), col("bucket"))
      .join(table(spark, dir, "documents").select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("bucket"),
        hash64(concat(lit(CurriculumSalt), col("text"))).as("k"))
      .withColumn("seg", col("bucket") * lit(256L)
        + expr(s"k div $TrainOrderSegWidth"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = keyed.groupBy(col("seg")).agg(count(lit(1)).as("c"))
    val offs = cnt.as("a")
      .join(broadcast(cnt.as("b")), col("b.seg") < col("a.seg"), "left")
      .groupBy(col("a.seg").as("seg"))
      .agg(coalesce(sum(col("b.c")), lit(0L)).as("seg_off"))
    val wSeg = Window.partitionBy(col("seg"))
      .orderBy(col("k").asc, col("doc_id").asc)
    keyed
      .withColumn("r", row_number().over(wSeg))
      .join(broadcast(offs), Seq("seg"))
      .select(col("doc_id"), col("bucket"),
        (col("seg_off") + col("r")).as("pos"))
      .orderBy("pos")
  }

  // ---- e_importance_sample ------------------------------------------------

  /** LM-likelihood importance sampling — the distribution-matching sampler
    * (DSIR/CCNet shape) a pretraining mix runs AFTER hard quality gates:
    * instead of a keep/drop threshold, each document is kept with
    * probability proportional to its [[bigramLm]] likelihood score, so
    * fluent text is oversampled smoothly and improbable text is damped but
    * not erased. Acceptance is EXACT-INTEGER end to end: the document's
    * salted 2²⁰-bucket fate u and the corpus-max score m are cross-
    * multiplied — keep iff u·m < p_fp·2²⁰ — so no float division or
    * rounding can diverge between engines (both sides are int64 products
    * of exact integers; p_fp ≤ 2³⁰·|bigrams| and u < 2²⁰ keep the products
    * far from overflow). Documents with no bigrams have p_fp = 0 and are
    * never kept — the sampler inherits the score's domain.
    *
    * At scale: the score derivation is [[bigramLm]]'s own dataflow (shared
    * body, not a copy); the max is a 1-row broadcast; the acceptance test
    * is a scan-side predicate — the sampler adds ZERO shuffles beyond the
    * score itself, and document fate is partition-layout-invariant
    * (re-sharding or growing the corpus keeps the same decisions for
    * unchanged scores, the [[stratifiedSample]] reproducibility
    * contract). */
  def importanceSample(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the max aggregate AND the acceptance filter both consume
    // the scored frame — unpersisted, the whole LM derivation runs twice
    val scored = bigramLmBody(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = scored.agg(max(col("p_fp")).as("m"))
    val u = pmod(hash64(concat(lit("imp:"), col("doc_id").cast("string"))),
      lit(1L << 20))
    scored.crossJoin(broadcast(mx))
      .withColumn("u", u)
      .filter(col("u") * col("m") < col("p_fp") * lit(1L << 20))
      .select(col("doc_id"), col("n_bigrams"), col("p_fp"), col("u"))
      .orderBy("doc_id")
  }

  // ---- e_domain_cap -------------------------------------------------------

  /** Per-source document cap for [[domainCap]]. */
  private[queries] val DomainCapK = 100

  /** Per-domain document capping — the anti-domination rule (C4/RefinedWeb
    * shape): no source may contribute more than [[DomainCapK]] documents,
    * and WHICH documents survive is a deterministic pseudo-random draw
    * (salted 2²⁰-bucket priority, doc_id tie-break), not arrival order —
    * so re-running on a re-sharded or appended corpus keeps a stable
    * sample rather than "first K encountered".
    *
    * Per-source selection uses the bounded-state
    * [[graft.functions.TopKByScoreAggregator]] rather than a ranking
    * window: a hot domain at 100 TB would put its entire document list on
    * one partition under `row_number().over(partitionBy(source))`, while
    * the aggregate's map-side partials cap at 4k rows per (source ×
    * partition) and only |sources|·|partitions|·k slim rows shuffle. Top-k
    * under the total order (priority ASC, doc_id ASC) is a selection from
    * the input set — merge-order-invariant, so the kept set is identical
    * on any partitioning and in the oracle's window formulation. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val pri = pmod(hash64(concat(lit("cap:"), col("doc_id").cast("string"))),
      lit(1L << 20))
    val agg = new graft.functions.TopKByScoreAggregator(DomainCapK)
    val topk = udaf(agg, agg.inputEncoder)
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), pri.as("priority"))
      // aggregator keeps score DESC — negate so low priority wins
      .groupBy(col("source"))
      .agg(topk((-col("priority")).cast("double"), col("doc_id")).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("col.id").as("doc_id"), col("source"),
        (-col("col.score")).cast("long").as("priority"),
        (col("pos") + 1).cast("int").as("rk"))
      .orderBy("doc_id")
  }

  // ---- e_zorder -----------------------------------------------------------

  /** Bits per dimension interleaved into the Z-order key (16 + 16 → a
    * 32-bit key). Shared with the oracle SQL so the two bit-weavings can
    * never drift. */
  private[queries] val ZOrderBits = 16

  /** Z-order (Morton-curve) clustering key over the events fact — the
    * multi-dimensional LAYOUT operator (Delta `OPTIMIZE ZORDER BY` /
    * Iceberg sort-order shape): interleave the low [[ZOrderBits]] bits of
    * the two pruning dimensions (user bucket, event day) so that sorting
    * by the single `zkey` co-locates rows that are close in BOTH
    * dimensions. Files written in this order carry min-max ranges that are
    * tight on user_id AND on date simultaneously, so a predicate on either
    * dimension (or both) prunes row groups — one layout serving two filter
    * columns, where a plain sort serves only its leading column.
    *
    * At scale this feeds `df.repartitionByRange($"zkey").sortWithinPartitions
    * ($"zkey").write` ([[graft.operators.Layout.clusteredWrite]]) — the
    * layout step IS the one intentional range shuffle. The key itself is
    * the fused codegen'd [[graft.functions.MortonInterleave]] expression
    * (one JIT loop instead of a 32-node shift/and/add subtree — ZorderSpec
    * pins it against an independent reference interleave, the oracle
    * against the expanded arithmetic form); day = floor(epoch_us / 86 400e6),
    * exact cross-engine because event timestamps are post-1970 (non-negative
    * micros, so `div` ≡ DuckDB `//` — same reasoning as [[packTokens]]'s
    * floor-div note, here guaranteed by the fixture's domain). */
  def zorder(spark: SparkSession, dir: String): DataFrame = {
    val dims = table(spark, dir, "events")
      .select(col("event_id"),
        pmod(col("user_id"), lit(65536L)).as("uid16"),
        pmod(expr("unix_micros(ts) div 86400000000"), lit(65536L)).as("day16"))
    dims.select(col("event_id"), col("uid16"), col("day16"),
        mortonInterleave(col("uid16"), col("day16"), ZOrderBits).as("zkey"))
      .orderBy("zkey", "event_id")
  }

  // ---- e_scan_prune -------------------------------------------------------

  /** Rows per append-order file and morton-key stride per z-order tile —
    * chosen so BOTH layouts cut the fixture into the same file count (20
    * at sf0.01), making the skip comparison apples-to-apples. */
  private[queries] val ScanPruneFileRows = 500L
  private[queries] val ScanPruneTileStride = 512L
  /** The 2-D predicate the pruning is graded under: a user-range ∧
    * day-window conjunction — the query shape z-ordering exists for. */
  private[queries] val ScanPruneUidLo = 0L
  private[queries] val ScanPruneUidHi = 40L
  private[queries] val ScanPruneDayLo = 19732L
  private[queries] val ScanPruneDayHi = 19739L

  /** FILE-SKIPPING audit — the data-skipping decision every lakehouse scan
    * planner makes from footer/manifest stats, graded as a query: cut the
    * events table into files under TWO layouts (append order = ingest
    * time; z-order tiles over [[zorder]]'s morton key), collect per-file
    * min/max stats for the two predicate dimensions, and emit per file the
    * keep/skip verdict for a fixed user-range ∧ day-window predicate plus
    * the EXACT matching-row count — so the output quantifies both the
    * skipping's correctness (a skipped file never contains a match) and
    * its efficiency (rows read per true match, the number z-ordering
    * exists to improve: append files span the full user range and can only
    * prune on time, z-order tiles bound both dimensions; at the pinned
    * equal file count the fixture reads ~23% fewer rows under z-order).
    *
    * Determinism: all-integer — ids, morton keys, epoch days, counts;
    * `div` on non-negatives both engines.
    *
    * At scale: stats collection is one map-side-combined pass (in a real
    * lake it is FREE — parquet footers already hold min/max); the pruning
    * decision itself touches |files| rows — metadata scale, the point of
    * data skipping at 100 TB. Composes the graded [[zorder]] derivation —
    * a harness key. */
  def scanPrune(spark: SparkSession, dir: String): DataFrame = {
    val z = zorder(spark, dir)
    val rows = z.select(explode(array(
        struct(lit("append").as("layout"),
          expr(s"event_id div $ScanPruneFileRows").as("file_id"),
          col("uid16"), col("day16")),
        struct(lit("zorder").as("layout"),
          expr(s"zkey div $ScanPruneTileStride").as("file_id"),
          col("uid16"), col("day16")))).as("r"))
      .select(col("r.*"))
      .withColumn("m", when(col("uid16") >= ScanPruneUidLo
          && col("uid16") < ScanPruneUidHi
          && col("day16") >= ScanPruneDayLo
          && col("day16") < ScanPruneDayHi, lit(1L)).otherwise(lit(0L)))
    rows.groupBy(col("layout"), col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("uid16")).as("uid_min"), max(col("uid16")).as("uid_max"),
        min(col("day16")).as("day_min"), max(col("day16")).as("day_max"),
        sum(col("m")).as("n_match"))
      .withColumn("kept", when(col("uid_max") >= ScanPruneUidLo
          && col("uid_min") < ScanPruneUidHi
          && col("day_max") >= ScanPruneDayLo
          && col("day_min") < ScanPruneDayHi, lit(1L)).otherwise(lit(0L)))
      .select(col("layout"), col("file_id"), col("n_rows"),
        col("uid_min"), col("uid_max"), col("day_min"), col("day_max"),
        col("kept"), col("n_match"))
      .orderBy("layout", "file_id")
  }

  // ---- e_bloom_prune ------------------------------------------------------

  /** Bloom width in bits (m) — deliberately on the small side (≈0.38 fill
    * at ~500 keys/file) so the FIXTURE exhibits the false-positive trade
    * the operator exists to measure; production sizes ~10 bits/key. */
  private[queries] val BloomBits = 2048L
  /** Pinned probe set: 8 in-fixture (uid, day) pairs + 8 pairs whose day
    * predates the fixture window — absent, but landing inside MOST files'
    * composite min-max hulls (a file whose uid-0 rows all post-date the
    * probe day legitimately zone-prunes the u = 0 probe; the spec's
    * majority pin reflects that), which is the regime where zone maps
    * keep most files and only the bloom can skip reliably. */
  private[queries] val BloomProbes: Seq[(Long, Long)] =
    (0L until 8L).map(u => (u, ScanPruneDayLo + u)) ++
      (0L until 8L).map(u => (u, 18000L + u))

  /** BLOOM-FILTER data skipping — the point-lookup half of the
    * data-skipping story, next to [[scanPrune]]'s zone maps: for a needle
    * query on a high-cardinality UNSORTED composite ("user u's events on
    * day d"), per-file min/max hulls keep essentially every file (each
    * append file spans the full user range, so every in-hull probe
    * matches the interval), while a per-file Bloom filter over the
    * composite key skips the files that provably lack it — exactly why
    * Parquet footers and Delta/Iceberg manifests carry column blooms
    * NEXT TO min/max. Emits one row per (probe, file): the zone-map
    * verdict (`kept_minmax`), the bloom verdict (`kept_bloom`, k = 2
    * hashes into [[BloomBits]] bits), and the exact match count — so the
    * output quantifies the guarantee (a bloom-skipped file NEVER holds a
    * match — no false negatives, by construction of the emitted set
    * bits) and the price (false-positive keeps, measured, not assumed).
    *
    * Determinism: bits come from the cross-engine [[hash64]] (md5-based)
    * over the canonical "tag:uid:day" string; all else integer counts.
    *
    * At scale: the per-file bloom is the |files|·(set bits) slim frame a
    * real lake reads from footers for FREE; probes broadcast; the only
    * data-proportional work is the one stats-collection pass (free in a
    * real lake) — the pruning decision itself is metadata-scale, the
    * data-skipping point at 100 TB. CACHING CONTRACT: the slim row and
    * bit frames persist (stats/bloom/truth all consume them); callers
    * should clearCache() after materializing, as with [[semanticDedup]]. */
  def bloomPrune(spark: SparkSession, dir: String): DataFrame = {
    def bbit(tag: String, uid: Column, day: Column): Column =
      pmod(hash64(concat(lit(tag), uid.cast("string"), lit(":"),
        day.cast("string"))), lit(BloomBits))
    val rows = table(spark, dir, "events")
      .select(expr(s"event_id div $ScanPruneFileRows").as("file_id"),
        pmod(col("user_id"), lit(65536L)).as("uid16"),
        pmod(expr("unix_micros(ts) div 86400000000"), lit(65536L)).as("day16"))
      .withColumn("ckey", col("uid16") * lit(100000L) + col("day16"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = rows.groupBy(col("file_id"))
      .agg(min(col("ckey")).as("ck_min"), max(col("ckey")).as("ck_max"))
    // the bloom IS the distinct (file, bit) set
    val bits = rows.select(col("file_id"),
        explode(array(bbit("bp1:", col("uid16"), col("day16")),
          bbit("bp2:", col("uid16"), col("day16")))).as("bit"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import spark.implicits._
    val probes = BloomProbes.toDF("p_uid", "p_day")
      .withColumn("p_ckey", col("p_uid") * lit(100000L) + col("p_day"))
      .withColumn("pb1", bbit("bp1:", col("p_uid"), col("p_day")))
      .withColumn("pb2", bbit("bp2:", col("p_uid"), col("p_day")))
    def hit(b: Column) = probes.join(bits, bits("bit") === b)
      .select(col("file_id"), col("p_uid"), col("p_day"))
    val keptBloom = hit(col("pb1"))
      .join(hit(col("pb2")), Seq("file_id", "p_uid", "p_day"), "left_semi")
      .withColumn("kept_bloom", lit(1L))
    val truth = rows
      .join(broadcast(probes.select(col("p_uid"), col("p_day"))),
        col("uid16") === col("p_uid") && col("day16") === col("p_day"))
      .groupBy(col("file_id"), col("p_uid"), col("p_day"))
      .agg(count(lit(1)).as("n_match"))
    stats.crossJoin(broadcast(probes.select(col("p_uid"), col("p_day"), col("p_ckey"))))
      .withColumn("kept_minmax",
        (col("p_ckey") >= col("ck_min") && col("p_ckey") <= col("ck_max"))
          .cast("long"))
      .join(keptBloom, Seq("file_id", "p_uid", "p_day"), "left")
      .na.fill(0L, Seq("kept_bloom"))
      .join(truth, Seq("file_id", "p_uid", "p_day"), "left")
      .na.fill(0L, Seq("n_match"))
      .select(col("p_uid"), col("p_day"), col("file_id"),
        col("kept_minmax"), col("kept_bloom"), col("n_match"))
      .orderBy("p_uid", "p_day", "file_id")
  }

  // ---- e_knn_graph --------------------------------------------------------

  /** Neighbors kept per node in the k-NN graph. */
  private[queries] val KnnK = 3

  /** Cell-bucketed k-nearest-neighbor GRAPH over the embedding corpus —
    * every vector is a query (the self-join shape), unlike [[cosineTopk]]
    * where a bounded external query set broadcasts. The all-pairs O(N²)
    * graph is cut to in-cell candidates with the shared [[centroids]]
    * quantizer (exactly [[cosineTopkIvfNprobe]]'s assignment, nprobe = 1
    * on both sides), then each node keeps its top-[[KnnK]] in-cell
    * neighbors by exact cosine with a pinned tie-break. The k-NN graph is
    * the substrate for graph-based dedup/clustering ([[dupClusters]]
    * consumes pair lists of exactly this shape) and for HNSW-style ANN
    * index construction.
    *
    * At scale: candidate volume is Σ|cell|² = N²/cells for balanced cells
    * — the same √N cell-count knob as [[semanticDedupCells]] (`cells`
    * parameter; the oracle entry point pins [[IvfCells]]). Only
    * (id, vector, norm, cell) shuffles on the cell key; per-node top-k is
    * the bounded-state [[graft.functions.TopKByScoreAggregator]] (as in
    * [[cosineTopkAgg]]) — with N groups of |cell| candidates each, a
    * ranking window would shuffle the whole N·|cell| scored pair stream,
    * while the aggregate's map-side partials cap at 4k per (node ×
    * partition) so only N·k rows cross the wire. A boundary-straddling
    * true neighbor is missed at nprobe = 1; raising recall is the same
    * nprobe trade measured in [[IvfRecallSpec]].
    *
    * CACHING CONTRACT: the assigned frame is persisted (both sides of the
    * in-cell self-join probe it); callers should clearCache() after
    * materializing, as with [[semanticDedup]]. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphCells(spark, dir, IvfCells)

  /** [[knnGraph]] with the cell count exposed — the √N scaling knob. */
  def knnGraphCells(spark: SparkSession, dir: String, cells: Int): DataFrame = {
    val assigned = knnAssign(table(spark, dir, "embeddings"),
        centroids(spark, dir, cells))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    knnAdjacency(assigned).orderBy("src", "rank")
  }

  /** Hard cell assignment of a `(vec_id, embedding, …)` frame against a
    * centroid table — the unlabeled sibling of [[ivfLabeledAssign]], shared
    * by [[knnGraphCells]], [[incrKnn]] and the streaming attach gate
    * ([[graft.streaming.Streaming.startKnnAttachGate]]): one assignment
    * rule, so the graph substrate cannot drift between its build paths. */
  private[graft] def knnAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    rankedCells(
        vecs.select(col("vec_id"), col("embedding").as("e"))
          .withColumn("nrm", l2norm(col("e"))), cents)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cell"))

  /** The full in-cell adjacency of an assigned frame (every node's
    * top-[[KnnK]] in-cell neighbors) — [[knnGraphCells]]'s body, exposed so
    * the attach paths can state "the standing graph" as one call. Output
    * unordered; callers own the final sort. */
  private[graft] def knnAdjacency(assigned: DataFrame): DataFrame =
    knnTopk(knnScoredPairs(assigned, assigned))

  /** TOMBSTONE REPAIR of a standing in-cell adjacency — the
    * [[indexDelete]] incremental-repair argument as ONE shared
    * definition (consumed by the graded key's audit and by
    * [[graft.streaming.Streaming]]'s delete-aware gates, so the batch
    * cascade and the mid-stream delete path cannot drift): given the
    * SURVIVOR assignment (`assignedAfter` — deleted nodes already
    * anti-joined out) and the pre-delete `standing` adjacency, drop
    * deleted nodes' own lists, rescore ONLY the nodes that LOST a top-k
    * member (in-cell against survivors — the promotion a deletion can
    * force), and carry every untouched list verbatim. `dels` is a slim
    * `(del_id)` frame (small by the GDPR-request contract — broadcast).
    * The repair ≡ rebuild-over-survivors theorem is certified by
    * `e_index_delete`'s own oracle (the full survivor rebuild). Output
    * unpersisted — callers own materialization. */
  private[graft] def knnRepairEdges(assignedAfter: DataFrame,
      standing: DataFrame, dels: DataFrame): DataFrame = {
    val touched = standing.join(broadcast(dels),
        standing("nbr") === dels("del_id"), "left_semi")
      .select(col("src")).distinct()
    val touchedAssigned = assignedAfter.join(broadcast(touched),
      assignedAfter("vec_id") === touched("src"), "left_semi")
    val repairedTouched = knnTopk(knnScoredPairs(touchedAssigned, assignedAfter))
    val kept = standing
      .join(broadcast(dels), standing("src") === dels("del_id"), "left_anti")
      .join(broadcast(touched), Seq("src"), "left_anti")
      .select(col("src"), col("nbr"), col("score"), col("rank"))
    kept.unionByName(repairedTouched)
  }

  /** Exact-cosine scored in-cell candidate pairs: every `srcs` row against
    * every SAME-CELL `pool` row (both frames `(vec_id, e, nrm, cell)`,
    * src ≠ pool id). ONE definition shared by the full build
    * ([[knnGraphCells]]: pool = srcs) and the incremental attach
    * ([[incrKnn]]: batch × existing∪batch, existing × batch) — the edge
    * score cannot drift between the build paths. */
  private def knnScoredPairs(srcs: DataFrame, pool: DataFrame): DataFrame = {
    val score = dotD(col("x.e"), col("y.e")) / (col("x.nrm") * col("y.nrm"))
    srcs.as("x")
      .join(pool.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("nbr"), score.as("score"))
  }

  /** Bounded-state per-src top-[[KnnK]] over a scored `(src, nbr, score)`
    * frame under the pinned (score DESC, nbr ASC) total order — the
    * [[cosineTopkAgg]] aggregate shape, window-free. Output unordered;
    * callers own the final sort. */
  private def knnTopk(scored: DataFrame): DataFrame = {
    val agg = new graft.functions.TopKByScoreAggregator(KnnK)
    val topk = udaf(agg, agg.inputEncoder)
    scored.groupBy(col("src"))
      .agg(topk(col("score"), col("nbr")).as("tk"))
      .select(col("src"), posexplode(col("tk")))
      .select(col("src"), col("col.id").as("nbr"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  // ---- e_incr_knn ---------------------------------------------------------

  /** Batch selector for [[incrKnn]]: vectors with vec_id ≡ 0 (mod this)
    * re-ingest as new ids (+[[VariantIdOffset]]) — the "daily embedding
    * batch" fixture, 10% of the corpus. */
  private[queries] val IncrKnnBatchMod = 10L

  /** INCREMENTAL k-NN graph maintenance — the attach step a daily-ingest
    * pipeline runs instead of rebuilding the graph from scratch: a new
    * embedding batch is assigned to the EXISTING [[centroids]] quantizer,
    * scored only against its cells' members, and the adjacency of TOUCHED
    * nodes (the batch itself + existing members of cells that received a
    * batch vector) is re-emitted; everything else's edges are untouched by
    * construction. Mirrors [[incrDedup]]'s shape (screen the batch against
    * the standing index, never re-pair the corpus with itself).
    *
    * The existing side's update needs NO rescoring of existing×existing:
    * a rebuild's top-k winner among old members must already sit in the
    * node's OLD top-k list (fewer than k candidates beat it overall, so
    * fewer than k old members do), so merging the old list with the
    * batch arrivals and re-selecting top-k IS the rebuild result — exact,
    * not approximate; the spec pins output ≡ full rebuild restricted to
    * touched nodes, and the oracle states that rebuild spec directly (the
    * `e_train_order` device).
    *
    * At scale: candidate volume is |batch|·|cell| (batch side) +
    * |touched|·(k + |batch_cell|) (merge side) — proportional to the
    * BATCH, never |corpus|²; the old adjacency is a stored table in
    * production (recomputed here via the shared [[knnScoredPairs]] chain —
    * the composition convention), the batch assignment broadcasts the
    * centroid set, and only slim (src, nbr, score) rows ever shuffle.
    * Composes the graded `e_knn_graph` derivation — a harness-key by the
    * attribution rule. */
  def incrKnn(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroids(spark, dir, IvfCells)
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpusAssigned = knnAssign(emb, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch = emb.filter(pmod(col("vec_id"), lit(IncrKnnBatchMod)) === 0)
      .select((col("vec_id") + lit(VariantIdOffset)).as("vec_id"),
        col("embedding"))
    val batchAssigned = knnAssign(batch, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the standing graph, recomputed here via the shared derivation (a
    // stored table in production — the composition convention)
    knnAttach(corpusAssigned, knnAdjacency(corpusAssigned), batchAssigned)
      .orderBy("src", "rank")
  }

  /** The incremental ATTACH core shared by [[incrKnn]] and the streaming
    * gate ([[graft.streaming.Streaming.startKnnAttachGate]]) — one
    * definition, so the daily-batch and continuous attach paths cannot
    * drift. Inputs: the assigned corpus, its standing adjacency
    * (`src, nbr, score, rank` — [[knnAdjacency]]'s shape), and the
    * assigned batch (same quantizer). Emits the TOUCHED-node adjacency —
    * batch nodes scored against their cell's members ∪ co-batch arrivals,
    * and existing members of batch-receiving cells with their OLD top-k
    * merged against the arrivals (provably the rebuild top-k — the
    * [[incrKnn]] scaladoc's exactness argument). Output unordered. */
  private[graft] def knnAttach(corpusAssigned: DataFrame, standing: DataFrame,
      batchAssigned: DataFrame): DataFrame = {
    // batch nodes: candidates = their cell's existing members + co-batch
    val batchScored = knnScoredPairs(batchAssigned,
      corpusAssigned.unionByName(batchAssigned))
    val touchedCells = batchAssigned.select(col("cell")).distinct()
    val touchedSrc = corpusAssigned
      .join(broadcast(touchedCells), Seq("cell"))
      .select(col("vec_id").as("src"))
    val oldCand = standing.join(touchedSrc, Seq("src"), "left_semi")
      .select(col("src"), col("nbr"), col("score"))
    val newCand = knnScoredPairs(corpusAssigned, batchAssigned)
    knnTopk(oldCand.unionByName(newCand))
      .unionByName(knnTopk(batchScored))
  }

  // ---- e_kcore ------------------------------------------------------------

  /** Degree threshold of the k-core peel over the MUTUAL-kNN graph.
    * K = 2 on reciprocated edges: the knn out-degree cap makes the raw
    * undirected graph degenerate for peeling (K ≤ [[KnnK]] removes
    * nothing — every node keeps its out-edges; K = [[KnnK]]+1 provably
    * cascades to an empty core on this substrate, each removal stripping
    * in-links below the bar — both measured on the fixture), while the
    * MUTUAL graph (keep an edge only when BOTH endpoints rank each other
    * top-k) has the varied degree spectrum density analysis needs; its
    * 2-core is the standard mutual-kNN noise-removal construct. */
  private[queries] val KcoreK = 2
  /** Pinned peel rounds — an oracle-stability pin like [[PageRankIters]].
    * 16 covers the measured fixpoint with margin at every fixture scale
    * (9/8/13 rounds at sf0.001/0.01/0.1). */
  private[queries] val KcoreRounds = 16

  /** k-CORE decomposition (fixed-round peel) of the MUTUAL [[knnGraph]] —
    * the dense-region extractor next to [[pageRank]] (importance) and the
    * label/modularity family (communities): keep only reciprocated
    * similarity edges (both endpoints rank each other top-[[KnnK]] — the
    * mutual-kNN construct clustering pipelines use to strip hub noise),
    * then repeatedly delete nodes with fewer than [[KcoreK]] SURVIVING
    * mutual neighbors. What survives [[KcoreRounds]] rounds is the peel's
    * fixpoint — the tightly-knit clusters a curation pipeline caps
    * (boilerplate/template farms are dense mutual cores) and the
    * well-connected regions a graph-ANN builder keeps as entry points.
    * Per node: the mutual-graph degree (`deg0`) and the `in_core`
    * verdict.
    *
    * FIXED rounds rather than peel-to-fixpoint: the oracle unrolls the
    * same rounds as generated CTE blocks (the `kmeansChainCtes` device —
    * a recursive CTE would hide the iteration count the Spark side pins);
    * the spec measures that the peel REACHES its fixpoint within the
    * pinned rounds at both gate scales, so the emitted flag is true
    * k-core membership there, and the 16-round pin carries 3+ rounds of
    * margin over the worst measured scale.
    *
    * Determinism: exact integer degrees over the exact graded adjacency —
    * no floats anywhere; the mutual edge set is a self-semi-join of the
    * directed adjacency (symmetric by construction, no dedup pass).
    *
    * At scale: the mutual edge list is ≤ |V|·k slim rows; each round is
    * two semi-joins of edges against the shrinking survivor set plus one
    * map-side-combined degree count — |rounds| passes over id-pairs,
    * never vectors or text. Delegates the peel to the general
    * [[graft.operators.Kcore]] engine (the [[graft.operators.PageRank]]
    * pattern — reusable graph operator in `operators/`, the query binds
    * it to the mutual knn graph and embedding vertex universe); the
    * loop/storage discipline and its ScalaCheck laws live there.
    * Composes the graded [[knnGraph]] derivation — a harness key. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val adj = knnGraph(spark, dir)
      .select(col("src"), col("nbr"))
    val mut = adj
      .join(adj.select(col("nbr").as("src"), col("src").as("nbr")),
        Seq("src", "nbr"), "left_semi")
      .localCheckpoint(true)
    // the knn build's dataset-level cache is superseded once mut is
    // materialized; callers release it with clearCache() (the shared
    // knnGraph caching contract)
    val deg0 = mut.groupBy(col("src")).agg(count(lit(1)).as("deg0"))
    val alive = graft.operators.Kcore.survivors(mut, KcoreK, KcoreRounds)
      .withColumnRenamed("id", "vec_id")
    table(spark, dir, "embeddings").select(col("vec_id"))
      .join(deg0.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .na.fill(0L, Seq("deg0"))
      .join(alive.withColumn("in_core", lit(1L)), Seq("vec_id"), "left")
      .na.fill(0L, Seq("in_core"))
      .orderBy("vec_id")
  }

  // ---- e_pagerank ---------------------------------------------------------

  /** Power-iteration rounds for the oracle-checked [[pageRank]] — an
    * oracle-stability pin like [[KmeansIters]]/[[PqTrainIters]]. */
  private[queries] val PageRankIters = 2

  /** Fixed-point scale for PageRank mass — the operator's own constant
    * ([[graft.operators.PageRank.Scale]]), aliased for oracle
    * interpolation. */
  private[queries] val PrScale = graft.operators.PageRank.Scale

  /** PageRank centrality over the [[knnGraph]] similarity graph — the
    * importance signal a curation pipeline uses to weight documents by how
    * central they are in the corpus's similarity structure (repetitive
    * boilerplate clusters score high and get capped; isolated outliers
    * score low and get reviewed).
    *
    * ENTIRELY INTEGER arithmetic, by construction: mass is int64
    * fixed-point ([[PrScale]]), the damping factor 0.85 is the integer
    * computation `m*85 div 100`, and per-edge contributions divide by the
    * out-degree with integer `div` — every operation is exact and
    * partition-order-invariant (the [[centroidScore]] device extended from
    * sums to the whole recurrence), so [[PageRankIters]] rounds produce
    * bit-identical int64 masses on any partitioning AND in DuckDB.
    * Truncation loses ≤1/2⁴⁰ of mass per division — bounded, deterministic,
    * and identical cross-engine (all masses are non-negative, where
    * floor and truncate agree). Dangling nodes (a cell with fewer members
    * than [[KnnK]]+1 can leave a node without out-edges) simply leak their
    * damped mass — the standard no-redistribution variant, applied
    * identically in the oracle.
    *
    * At scale: the edge list (|V|·k rows after [[knnGraph]]) is JOINED
    * WITH ITS OUT-DEGREES ONCE and persisted hash-partitioned by `src`, so
    * every iteration reuses that layout — the per-round cost is shuffling
    * the SLIM rank frame (vec_id, mass) to the edges' partitioning, one
    * map-side-combined sum of contributions by destination, and a left
    * join back to the node set for the teleport term. Nothing about the
    * corpus (vectors, text) moves after graph construction. */
  def pageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankIters(spark, dir, PageRankIters)

  /** [[pageRank]] with the round count exposed — delegates to the general
    * [[graft.operators.PageRank]] engine (the [[ConnectedComponents]]
    * pattern: the reusable graph operator lives in `operators/`, the query
    * binds it to the knn graph and the embedding vertex universe). */
  def pageRankIters(spark: SparkSession, dir: String, iters: Int): DataFrame = {
    val edges = knnGraph(spark, dir)
      .select(col("src"), col("nbr").as("dst"))
    val nodes = table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"))
    graft.operators.PageRank.ranks(edges, nodes, iters)
      .select(col("id").as("vec_id"), col("mass"),
        (col("mass").cast("double")
          / lit(graft.operators.PageRank.Scale.toDouble)).as("pr"))
      .orderBy("vec_id")
  }

  // ---- e_label_prop -------------------------------------------------------

  /** Seed-id boundary for [[labelProp]]: vectors below it keep their
    * fixture `label` as ground truth; everything above starts unlabeled. */
  private[queries] val LabelSeedMax = 100L

  /** Synchronous propagation rounds — an oracle-stability pin like
    * [[PageRankIters]]. */
  private[queries] val LabelPropIters = 3

  /** Seeded label propagation over the [[knnGraph]] similarity graph — the
    * weak-supervision operator: a trusted label subset (the first
    * [[LabelSeedMax]] vectors keep their fixture `label`) spreads to the
    * unlabeled corpus along symmetrized knn edges for [[LabelPropIters]]
    * synchronous rounds (majority vote over labeled neighbors, count DESC /
    * label ASC tie-break, seeds frozen). This is how a curation pipeline
    * turns a few thousand human-labeled documents into corpus-wide
    * domain/quality/topic assignments without a trained classifier.
    *
    * Delegates to the general [[graft.operators.LabelPropagation]] engine
    * (the [[graft.operators.PageRank]] pattern — reusable graph operator in
    * `operators/`, the query binds it to the knn graph and embedding vertex
    * universe); determinism and the scale statement live there. The oracle
    * composes the graded `e_knn_graph` SQL text as its edge list and
    * unrolls the rounds as chained CTEs. */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropParts(spark, dir)._2.orderBy("vec_id")

  /** ([[knnGraph]] edge frame PERSISTED, unordered propagated labels) —
    * the graph substrate is consumed twice inside label propagation alone
    * (both directions of the symmetrization) and a third time by
    * [[modularity]]'s canonical edge list, so sharing ONE persisted frame
    * saves two full in-cell topk builds ([[pqServe]]'s single-definition
    * device applied to the substrate, not just the derivation). */
  private[queries] def labelPropParts(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val knn = knnGraph(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kd = knn.select(col("src"), col("nbr").as("dst"))
    val edges = kd
      .unionByName(kd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val emb = table(spark, dir, "embeddings")
    val nodes = emb.select(col("vec_id").as("id"))
    val seeds = emb.filter(col("vec_id") < LabelSeedMax)
      .select(col("vec_id").as("id"), col("label"))
    (knn, graft.operators.LabelPropagation
      .propagate(edges, seeds, nodes, LabelPropIters)
      .select(col("id").as("vec_id"), col("label"), col("is_seed")))
  }

  // ---- e_cosine_topk_beam -------------------------------------------------

  /** Beam width (candidates kept per query per round) and the FIXED round
    * count for [[cosineTopkBeam]]. Bounded rounds instead of
    * search-to-convergence on purpose: the plan shape, the work per query,
    * and the result are all deterministic — the greedy-search analogue of
    * the bounded-frontier device in
    * [[graft.operators.ConnectedComponents]]. */
  private[queries] val BeamWidth = 10
  private[queries] val BeamRounds = 3

  /** Graph-based approximate top-k — the FOURTH classic ANN family next to
    * hash-bucketed ([[cosineTopkLsh]]), cell-partitioned
    * ([[cosineTopkIvf]]) and quantized ([[cosineTopkPq]]): greedy beam
    * search over the [[knnGraph]] neighborhood substrate, the HNSW layer-0
    * shape. From a pinned entry set (the [[IvfCells]] seed nodes — one per
    * graph component, since the knn graph is built in-cell), each round
    * expands the current beam by its graph neighbors, scores the candidate
    * pool against the query, and keeps the [[BeamWidth]] best; after
    * [[BeamRounds]] rounds the beam (minus the query itself) is the
    * answer. Ties and fold order are pinned everywhere (score DESC, cid
    * ASC; the [[seqSum]] dot-product fold), so the whole search
    * hash-matches the oracle's unrolled-CTE twin.
    *
    * At scale: the beam state is |queries|·[[BeamWidth]] rows; each round
    * touches ≤ |beam|·([[KnnK]]+1) candidate ids, and the only corpus
    * access is ONE broadcast-pruned lookup join per round (the id-keyed
    * point-fetch a graph-ANN serving store does natively; on Spark it is a
    * broadcast-hash join against the scan — the corpus never shuffles).
    * The graph build itself is [[knnGraph]]'s cost and is the part a real
    * deployment amortizes across queries. */
  def cosineTopkBeam(spark: SparkSession, dir: String): DataFrame =
    cosineTopkBeamParams(spark, dir, BeamWidth, BeamRounds)

  /** [[cosineTopkBeam]] with the beam width and round count as explicit
    * knobs — the recall-vs-work dials of every graph-ANN deployment (ef /
    * num_hops in HNSW terms), exposed the same way as
    * [[semanticDedupCells]]. Work per round is ≤ |queries|·width·([[KnnK]]
    * +1) candidate scorings, so both knobs bound compute linearly.
    *
    * The beam CARRIES its scores across rounds: each round scores only the
    * neighbor ids not already in the beam (anti-join), unions the carried
    * rows, and prunes — the score expression is deterministic, so a carried
    * score is bit-identical to a rescoring, and the oracle's unrolled CTEs
    * (which keep `score` in each `beam$r` block) match by construction.
    * The final ranking reuses the carried scores too — no corpus access
    * after the last round. */
  def cosineTopkBeamParams(spark: SparkSession, dir: String,
      width: Int, rounds: Int): DataFrame = {
    // PERSISTED: the adjacency is probed once per round — unpersisted, the
    // whole knn-graph pipeline would re-execute per round (the dedup-eval
    // lesson). Slim: |corpus|·KnnK id pairs.
    val adj = knnGraph(spark, dir)
      .select(col("src"), col("nbr")).persist()
    // PERSISTED: the corpus side of every per-round scoring join —
    // unpersisted, each round re-reads the parquet scan and recomputes
    // every l2 norm. Slim: (vec_id, vec, norm).
    val vecs = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
      .persist()
    val q = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("nq"))
    val score = dotD(col("qe"), col("e")) / (col("nq") * col("nrm"))
    val wBeam = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    // (qid, cid) candidates → scored per query; the corpus side is pruned
    // by the BROADCAST candidate set, never shuffled. (Pre-joining the
    // query vectors into the candidate broadcast measured 3× SLOWER here —
    // the inner join plans a shuffle inside every broadcast build.)
    def scored(cands: DataFrame): DataFrame =
      vecs.select(col("vec_id").as("cid"), col("e"), col("nrm"))
        .join(broadcast(cands), Seq("cid"))
        .join(broadcast(q), Seq("qid"))
        .select(col("qid"), col("cid"), score.as("score"))
    def prune(pairs: DataFrame): DataFrame = pairs
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") <= width)
      .select(col("qid"), col("cid"), col("score"))
    val entry = q.select(col("qid")).crossJoin(
      broadcast(vecs.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"))))
    // Beam state is |queries|·width rows — driver-scale. Collapse it to ONE
    // partition per round (the mmrSelect lesson: leaving 80 rows spread over
    // the session's shuffle partitioning makes each round hundreds of
    // near-empty tasks) and eagerly localCheckpoint so round plans stay
    // shallow; superseded beams release their blocks (IterStorage).
    var beam = prune(scored(entry)).repartition(1).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // only UNSEEN neighbor ids get scored; the carried beam contributes
      // its existing scores through the union
      val fresh = beam.join(adj, col("cid") === col("src"))
        .select(col("qid"), col("nbr").as("cid"))
        .distinct()
        .join(beam, Seq("qid", "cid"), "left_anti")
      val next = prune(beam.unionAll(scored(fresh)))
        .repartition(1).localCheckpoint(true)
      graft.operators.IterStorage.release(beam)
      beam = next
    }
    beam.filter(col("cid") =!= col("qid"))
      .withColumn("rank",
        row_number().over(wBeam).cast("int"))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_cosine_topk_pq ---------------------------------------------------

  /** PQ geometry: [[PqDim]]-dim embeddings cut into [[PqSubspaces]]
    * subvectors of [[PqSubDim]] dims, each encoded as one of [[PqCodes]]
    * codebook entries — 4 × 3 bits ≈ 2 bytes per vector instead of 256. */
  private[queries] val PqDim = 64
  /** `final`: a constant, so [[AnnCostBytesPq]], defined earlier in this
    * object, reads 4 and not the uninitialized 0. */
  private[queries] final val PqSubspaces = 4
  private[queries] val PqSubDim: Int = PqDim / PqSubspaces
  private[queries] val PqCodes = 8

  /** Product-quantization approximate top-k — the THIRD classic ANN family
    * next to the hash-bucketed ([[cosineTopkLsh]]) and cell-partitioned
    * ([[cosineTopkIvf]]) ones, attacking a different cost: memory. Each
    * corpus vector is ENCODED once as [[PqSubspaces]] small code ids
    * (nearest codebook entry per subvector, L2, pinned tie-break); a query
    * is answered from the codes alone via the asymmetric-distance lookup
    * table — dot(query_sub, code_sub) per (subspace, code), built per
    * query, [[PqCodes]]·[[PqSubspaces]] entries — so scoring never touches
    * a raw corpus vector. Scores are the cosine against the RECONSTRUCTED
    * (quantized) vector; like every ANN entry here the exact [[cosineTopk]]
    * is the graded baseline and the codebook is pinned seed subvectors
    * (first [[PqCodes]] corpus rows), deterministic where a trained one is
    * not.
    *
    * At scale: encoding is one broadcast-codebook scan + a map-side-
    * combined argmin aggregate (never a per-vector shuffle of raw data);
    * the encoded corpus — ~2 bytes/vector — is what a 100 TB ANN index
    * actually keeps hot. Scoring joins the code stream to the BROADCAST
    * LUT on (subspace, code) and folds the [[PqSubspaces]] partials per
    * (query, candidate) in pinned subspace order (collect-sort-fold, the
    * bounded-group pattern from [[freqRankScore]]), so every emitted
    * double is a sequential fold cross-engine. */
  def cosineTopkPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = pqEmb(spark, dir)
    pqServe(emb, pqSeedCodes(emb))
  }

  /** The `embeddings` scan with the PQ dimension guard — fail loud, not
    * garbage slices, if the corpus dimension ever drifts from [[PqDim]]. */
  private def pqEmb(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("vec_id"),
        when(size(col("embedding")) === PqDim, col("embedding"))
          .otherwise(raise_error(lit(
            s"e_cosine_topk_pq: embedding dim must be $PqDim"))).as("embedding"))

  private def pqSubs: Column = explode(sequence(lit(0), lit(PqSubspaces - 1))).as("sub")
  private def pqSlice(v: Column, sub: Column): Column =
    slice(v, sub * PqSubDim + 1, lit(PqSubDim))

  /** Corpus cut into per-subspace subvectors: (vec_id, sub, sv). */
  private def pqVecsub(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"), pqSubs)
      .select(col("vec_id"), col("sub"), pqSlice(col("embedding"), col("sub")).as("sv"))

  /** The PINNED seed codebook — first [[PqCodes]] corpus rows cut into
    * subvectors (code_id, sub, cv), deterministic by construction; the
    * training chain ([[pqTrainChain]]) starts from exactly this table. */
  private def pqSeedCodes(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < PqCodes)
      .select(col("vec_id").as("code_id"), col("embedding"), pqSubs)
      .select(col("code_id"), col("sub"), pqSlice(col("embedding"), col("sub")).as("cv"))

  /** Per-(subspace) squared L2 between a subvector `sv` and a codebook
    * entry `cv` — sequential fold, bit-identical cross-engine. */
  private def pqD2: Column =
    graft.functions.GraftFunctions.vecDistSq(col("sv"), col("cv"))

  /** The PQ encode + asymmetric-distance serve body against an ARBITRARY
    * codebook table (`code_id`, `sub`, `cv`) — factored out (the
    * [[ivfServe]] device) so the seed-codebook [[cosineTopkPq]] and the
    * trained-codebook [[cosineTopkPqTrained]] run the SAME dataflow. */
  private def pqServe(emb: DataFrame, codes: DataFrame): DataFrame = {
    val vecsub = pqVecsub(emb)
    // encode: nearest code per (vector, subspace) — argmin as a map-side-
    // combined min(struct) aggregate, tie-break code_id ascending
    val d2 = pqD2
    val enc = vecsub.join(broadcast(codes), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code_id"), d2.as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("code_id"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.code_id").as("code_id"))
    // per-query lookup table over (subspace, code): partial dot + partial
    // reconstructed-norm² — |Q|·M·K rows, broadcast
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("nq", l2norm(col("qe")))
    val pdot = dotD(col("qv"), col("cv"))
    val lut = q.select(col("qid"), col("nq"), col("qe"), pqSubs)
      .select(col("qid"), col("nq"), col("sub"), pqSlice(col("qe"), col("sub")).as("qv"))
      .join(codes, Seq("sub"))
      .select(col("qid"), col("nq"), col("sub"), col("code_id"),
        pdot.as("pdot"), seqSum(transform(col("cv"),
          v => v.cast("double") * v.cast("double"))).as("pn2"))
    // fold the M subspace partials in pinned sub order (bounded group)
    val parts = sort_array(collect_list(struct(col("sub"), col("pdot"), col("pn2"))))
    val scored = enc.join(broadcast(lut), Seq("sub", "code_id"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("nq"), col("vec_id"))
      .agg(parts.as("ps"))
      .select(col("qid"), col("vec_id").as("cid"),
        (aggregate(col("ps"), lit(0.0), (a, x) => a + x.getField("pdot")) /
          (col("nq") * sqrt(aggregate(col("ps"), lit(0.0),
            (a, x) => a + x.getField("pn2"))))).as("score"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 10)
      .orderBy("qid", "rank")
  }

  // ---- e_pq_train / e_pq_trained ------------------------------------------

  /** DEFAULT chained-iteration count for the oracle-checked [[pqTrain]] —
    * an oracle-stability pin like [[KmeansIters]]; [[pqTrainChain]] takes
    * the count as a knob. */
  private[queries] val PqTrainIters = 2

  /** Per-subspace L2 k-means codebook TRAINING — the trainer behind
    * [[cosineTopkPq]]'s "pinned seed subvectors standing in for a trained
    * codebook": [[PqSubspaces]] independent k-means problems (one per
    * subspace, [[PqCodes]] clusters each) run in ONE dataflow, keyed by
    * (sub, code). Each iteration assigns every subvector to its min-L2
    * codebook entry (the SAME [[pqD2]] distance the serving encoder uses —
    * shared on purpose, so training and encoding can never disagree on the
    * cell boundary), then re-estimates each entry as the member MEAN.
    *
    * Unlike the spherical [[kmeansIter]], the L2 objective wants the plain
    * mean and the distance is NOT scale-invariant, so the fed-back entry
    * must be the materialized mean itself: per (sub, code, dim) the member
    * elements are fixed-point-quantized (floor(x·2²⁰ + 0.5) as int64 — the
    * [[centroidScore]] exactness device; elements are raw float32 values,
    * exact in double, so quantization is deterministic), summed exactly and
    * order-invariantly, and `c_new` = c_fp/(2²⁰·n) is two correctly-rounded
    * IEEE ops from exact integers — bit-identical cross-engine, which makes
    * the NEXT iteration's assignment (and the final serve) hash-matchable.
    * An emptied code drops out of the codebook — the standard k-means
    * degeneracy, surfaced identically in both engines.
    *
    * Emits every iteration's update rows (`iter`, `sub`, `code_id`, `dim`,
    * `n_members`, `c_fp`, `c_new`) so convergence is auditable from the
    * result itself (member migration across iters, c_fp deltas shrinking).
    *
    * At scale each iteration is one pass over the persisted subvector
    * corpus: codebooks broadcast (M·K·subdim values — tiny), the argmin is
    * a map-side-combined min(struct) aggregate, and only |subs|·|codes|·dim
    * partial sums shuffle — never N·dim rows. The spec measures in-cell
    * distortion non-increasing over the chain. */
  def pqTrain(spark: SparkSession, dir: String): DataFrame =
    pqTrainChain(spark, dir, PqTrainIters)._1

  /** PQ serving from the TRAINED codebook — closes the train→serve loop
    * for the quantized ANN family exactly as [[cosineTopkIvfTrained]] does
    * for the cell-partitioned one: [[pqTrainChain]]'s final codebook drives
    * the SAME [[pqServe]] dataflow as [[cosineTopkPq]], so any result
    * difference vs `e_cosine_topk_pq` is attributable to the codebook
    * alone (spec-measured: trained codes cut quantization distortion). */
  def cosineTopkPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = pqEmb(spark, dir)
    pqServe(emb, pqTrainChain(spark, dir, PqTrainIters)._2)
  }

  /** The PQ training chain: (all-iterations update frame, FINAL codebook
    * table (`code_id`, `sub`, `cv`)). Returned together so [[pqTrain]] and
    * [[cosineTopkPqTrained]] share one chain definition. */
  private def pqTrainChain(spark: SparkSession, dir: String,
      iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iteration count must be >= 1, got $iters")
    // PERSISTED: every iteration (and nothing else) scans the subvector
    // corpus — unpersisted, each round re-reads the parquet and re-slices
    val vecsub = pqVecsub(pqEmb(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var codes = pqSeedCodes(pqEmb(spark, dir))
    val cNew = (col("c_fp").cast("double")
      / (lit(1048576.0) * col("n_members").cast("double")))
    val perIter = (1 to iters).map { it =>
      // argmin code per (vector, subspace), the member subvector riding
      // along in the min-struct (d2 + code_id already pick a unique winner)
      val asg = vecsub.join(broadcast(codes), Seq("sub"))
        .select(col("vec_id"), col("sub"), pqD2.as("d2"), col("code_id"), col("sv"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2"), col("code_id"), col("sv"))).as("m"))
        .select(col("sub"), col("m.code_id").as("code_id"), col("m.sv").as("sv"))
      val upd = asg
        .select(col("sub"), col("code_id"), posexplode(col("sv")))
        .select(col("sub"), col("code_id"), col("pos").as("dim"),
          col("col").cast("double").as("x"))
        .groupBy(col("sub"), col("code_id"), col("dim"))
        .agg(count(lit(1)).as("n_members"),
          sum(floor(col("x") * lit(1048576.0) + 0.5).cast("long")).as("c_fp"))
        // persisted per iteration: each update feeds BOTH the output union
        // and the next codebook — unpersisted, the assignment re-executes
        .persist()
      codes = upd
        .select(col("sub"), col("code_id"), col("dim"), cNew.as("cnew"))
        .groupBy(col("code_id"), col("sub"))
        .agg(sort_array(collect_list(struct(col("dim"), col("cnew")))).as("ds"))
        .select(col("code_id"), col("sub"),
          transform(col("ds"), s => s.getField("cnew")).as("cv"))
      upd.withColumn("iter", lit(it))
    }
    val all = perIter.reduce(_ unionAll _)
      .select(col("iter"), col("sub"), col("code_id"),
        col("dim").cast("int").as("dim"), col("n_members"), col("c_fp"),
        cNew.as("c_new"))
      .orderBy("iter", "sub", "code_id", "dim")
    (all, codes)
  }

  // ---- e_cosine_topk_ivfpq ------------------------------------------------

  /** IVF-PQ: residual product quantization inside coarse cells — the
    * production composite index (the FAISS `IVFx,PQy` shape) that welds the
    * repo's two quantization families together: the IVF quantizer
    * ([[centroids]] / [[rankedCells]] — the SAME assignment `e_cosine_topk
    * _ivf` serves from) bounds the search to the query's cell, and PQ
    * codes store each vector's RESIDUAL r = e − c(e) instead of the vector
    * itself. Residuals matter when the coarse quantizer EXPLAINS variance:
    * on a clustered corpus the residual spread is a fraction of the corpus
    * spread, so the same [[PqCodes]]-entry codebook covers it with
    * proportionally less distortion — the reason every production IVF
    * index quantizes residuals (spec-measured on a clustered synthetic
    * set). The honest converse also holds and is spec-pinned: on an
    * ISOTROPIC corpus (this fixture) residuals of near-independent vectors
    * carry ~2× the energy and residual coding does NOT help — cluster
    * structure is the precondition, which is why FAISS trains its coarse
    * quantizer before committing to IVF-PQ.
    *
    * Serving is pure ADC (asymmetric distance): with ê = c + r̂,
    *   dot(q, ê) = dot(q, c) + Σ_sub dot(q_sub, r̂_sub)
    *   ‖ê‖²      = ‖c‖² + 2·Σ_sub dot(c_sub, r̂_sub) + Σ_sub ‖r̂_sub‖²
    * so a candidate is scored from its [[PqSubspaces]] code ids and three
    * BROADCAST lookup tables — per-query codes (|Q|·M·K), per-cell
    * cross-terms (cells·M·K), per-(query, cell) scalars — no raw corpus
    * vector is touched after encoding. Subspace partials fold in pinned
    * sub order (the [[pqServe]] collect-sort-fold), every double a
    * sequential fold, bit-identical cross-engine.
    *
    * At scale: one corpus scan assigns cells and residuals (broadcast
    * centroids); encoding is the map-side-combined argmin against the
    * broadcast residual codebook; what the index KEEPS is cell id + ~2
    * bytes of codes per vector, and a query touches |cell| candidates of
    * that. The residual codebook is pinned (residuals of the first
    * [[PqCodes]] rows) — deterministic where a trained one is not; a
    * trained one plugs into the same dataflow like [[cosineTopkPqTrained]].
    * The residual frame is persisted: the codebook and the subvector
    * stream both consume it. */
  def cosineTopkIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqImpl(spark, dir, 10)

  /** [[cosineTopkIvfPq]]'s body at caller-chosen depth `k` — also the
    * shortlist stage of [[ivfPqRerank]] (the [[sqTopkImpl]] pattern: one
    * scoring body, two serving depths). */
  private def ivfPqImpl(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val cents = centroids(spark, dir, IvfCells)
    val emb = pqEmb(spark, dir)
    val vecs = emb.select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
    val resid = rankedCells(vecs, cents).filter(col("crank") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"),
        zip_with(col("e"), col("ce"),
          (x, y) => x.cast("double") - y.cast("double")).as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rcodes = resid.filter(col("vec_id") < PqCodes)
      .select(col("vec_id").as("code_id"), col("r"), pqSubs)
      .select(col("code_id"), col("sub"), pqSlice(col("r"), col("sub")).as("cv"))
    val rsub = resid.select(col("vec_id"), col("cell"), col("r"), pqSubs)
      .select(col("vec_id"), col("cell"), col("sub"),
        pqSlice(col("r"), col("sub")).as("sv"))
    val enc = rsub.join(broadcast(rcodes), Seq("sub"))
      .select(col("vec_id"), col("cell"), col("sub"), col("code_id"), pqD2.as("d2"))
      .groupBy(col("vec_id"), col("cell"), col("sub"))
      .agg(min(struct(col("d2"), col("code_id"))).as("m"))
      .select(col("vec_id"), col("cell"), col("sub"), col("m.code_id").as("code_id"))
    // per-(cell, sub, code) cross terms of the reconstruction norm
    val cc = cents.select(col("cent_id").as("cell"), col("ce"), pqSubs)
      .select(col("cell"), col("sub"), pqSlice(col("ce"), col("sub")).as("csv"))
      .join(broadcast(rcodes), Seq("sub"))
      .select(col("cell"), col("sub"), col("code_id"),
        dotD(col("csv"), col("cv")).as("pcdot"),
        seqSum(transform(col("cv"),
          v => v.cast("double") * v.cast("double"))).as("pn2"))
    // query side: probed cell + the two scalars the fold cannot carry
    val qa = rankedCells(vecs.filter(col("vec_id") < 8), cents)
      .filter(col("crank") === 1)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("nq"),
        col("cent_id").as("qcell"),
        dotD(col("e"), col("ce")).as("qcdot"),
        (col("ncent") * col("ncent")).as("cn2"))
    val lut = qa.select(col("qid"), col("qe"), pqSubs)
      .select(col("qid"), col("sub"), pqSlice(col("qe"), col("sub")).as("qv"))
      .join(broadcast(rcodes), Seq("sub"))
      .select(col("qid"), col("sub"), col("code_id"),
        dotD(col("qv"), col("cv")).as("pdot"))
    val parts = sort_array(collect_list(
      struct(col("sub"), col("pdot"), col("pcdot"), col("pn2"))))
    val scored = enc
      .join(broadcast(qa.select(col("qid"), col("qcell"), col("nq"),
        col("qcdot"), col("cn2"))), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "sub", "code_id"))
      .join(broadcast(cc), Seq("cell", "sub", "code_id"))
      .groupBy(col("qid"), col("vec_id"), col("nq"), col("qcdot"), col("cn2"))
      .agg(parts.as("ps"))
      .select(col("qid"), col("vec_id").as("cid"),
        ((col("qcdot") + aggregate(col("ps"), lit(0.0),
            (a, x) => a + x.getField("pdot")))
          / (col("nq") * sqrt(col("cn2")
            + lit(2.0) * aggregate(col("ps"), lit(0.0),
                (a, x) => a + x.getField("pcdot"))
            + aggregate(col("ps"), lit(0.0),
                (a, x) => a + x.getField("pn2"))))).as("score"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .orderBy("qid", "rank")
  }

  // ---- e_ivfpq_rerank -----------------------------------------------------

  /** Shortlist depth of [[ivfPqRerank]]'s coarse IVF-PQ pass — the same
    * `k_factor` operating point as [[SqRerankR]], pinned separately so the
    * two composites can be tuned apart. */
  private[queries] val IvfPqRerankR = 30

  /** IVF-PQ + exact refine — the production FAISS operating point
    * (`IndexIVFPQ` wrapped in `IndexRefineFlat`), welding the repo's
    * composite index to the [[sqRerank]] refine discipline: the ADC serve
    * ([[cosineTopkIvfPq]]'s body) shortlists [[IvfPqRerankR]] candidates
    * per query from cell id + ~2 bytes of codes, then ONLY those are
    * re-scored with exact full-precision cosine and the top 10 re-emitted.
    * Rank and score come from the exact pass, so PQ distortion can reorder
    * the shortlist but never mis-score the output.
    *
    * The pinned guarantee (spec + [[annRecall]]'s `recall_ivfpqr` row): a
    * truth hit the shortlist catches survives the exact re-rank — fewer
    * than k candidates can out-score it under the true metric, and those
    * are truth members themselves — so recall_ivfpqr ≥ recall_ivfpq per
    * query, the [[sqRerank]] argument verbatim.
    *
    * At scale: stage 1 touches no raw corpus vector after encoding (the
    * IVF-PQ scale story); stage 2 broadcasts the |queries|·R shortlist
    * against ONE raw-vector scan and ranks inside ≤ R-row query groups —
    * raw vectors are read for R rows per query, ~0 of a 100 TB corpus. */
  def ivfPqRerank(spark: SparkSession, dir: String): DataFrame =
    exactRefine(spark, dir,
      ivfPqImpl(spark, dir, IvfPqRerankR).select(col("qid"), col("cid")))

  /** Exact full-precision re-scoring of a `(qid, cid)` shortlist to
    * top-10 — the refine tail shared by [[sqRerank]], [[ivfPqRerank]] and
    * [[mrlRerank]] (one definition: the refine guarantee must mean the
    * same thing over every coarse index). The shortlist BROADCASTS
    * against ONE raw-vector scan; ranks run inside ≤ R-row query
    * groups. */
  private def exactRefine(spark: SparkSession, dir: String,
      short: DataFrame): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("nq", l2norm(col("qe")))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("nc", l2norm(col("ce")))
    val dot = dotD(col("qe"), col("ce"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    c.join(broadcast(short), Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("score", dot / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("score"), col("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_mrl_rerank -------------------------------------------------------

  /** Prefix width of [[mrlRerank]]'s coarse pass: the first half of the
    * embedding — the Matryoshka operating point (a nested-trained vector's
    * prefix is itself a usable embedding). */
  private[queries] val MrlDims = 32
  /** Shortlist depth of the prefix pass (the shared `k_factor`). */
  private[queries] val MrlRerankR = 30

  /** Matryoshka (MRL) two-stage serving — the third production
    * coarse→refine operating point next to [[sqRerank]] (narrower
    * ELEMENTS) and [[ivfPqRerank]] (codebook): the coarse pass scores
    * cosine over only the first [[MrlDims]] DIMENSIONS of each vector —
    * nested-representation-learned embeddings make the prefix a usable
    * embedding, so no codebook, no quantizer, and the scan reads half the
    * bytes — shortlists [[MrlRerankR]] per query via the bounded-state
    * aggregator, then the shared [[exactRefine]] re-scores only those at
    * full precision. Rank and score come from the exact pass.
    *
    * The pinned guarantee (spec): a truth hit the prefix shortlist
    * catches survives the exact re-rank — the [[sqRerank]] argument; the
    * prefix pass's loss (truth hits whose prefix cosine falls outside the
    * top R) is measured in [[annRecall]]'s `recall_mrl` row.
    *
    * Determinism: the sliced prefix is the same float elements both
    * engines read; folds are the cosine contract; total orders pinned.
    * Zero-norm PREFIXES are filtered out of the coarse pass (mirrored in
    * the oracle): the fixture pins non-zero norms only for FULL vectors,
    * and an all-zero prefix would score NaN — which this engine's
    * aggregator sorts last but DuckDB's ORDER BY sorts first, a latent
    * cross-engine divergence on foreign data. A filtered vector simply
    * cannot be shortlisted by the prefix pass (the honest semantics: a
    * zero prefix carries no direction to rank by).
    *
    * At scale: stage 1 reads [[MrlDims]]·4 B per candidate — a 2× scan
    * cut with zero auxiliary structures (the reason MRL serving is the
    * cheapest first compression step to deploy); stage 2 touches R raw
    * rows per query. Composes nothing graded — the prefix pass is its
    * own scoring body. */
  def mrlRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(MrlRerankR)
    val topk = udaf(agg, agg.inputEncoder)
    val pre = (v: Column) => slice(v, 1, MrlDims)
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), pre(col("embedding")).as("qp"))
      .withColumn("nq", l2norm(col("qp")))
      .filter(col("nq") > 0)
    val c = emb.select(col("vec_id").as("cid"), pre(col("embedding")).as("cp"))
      .withColumn("nc", l2norm(col("cp")))
      .filter(col("nc") > 0)
    val dot = dotD(col("qp"), col("cp"))
    val short = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("score", dot / (col("nq") * col("nc")))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("t"))
      .select(col("qid"), col("t.id").as("cid"))
    exactRefine(spark, dir, short)
  }

  // ---- e_chunk_dedup ------------------------------------------------------

  /** Tokens per non-overlapping chunk for [[chunkDedup]]. */
  private[queries] val ChunkTokens = 8

  /** First-occurrence chunk-level deduplication — the CCNet paragraph-hash
    * rule re-expressed over fixed [[ChunkTokens]]-token chunks (this corpus
    * has no line structure; cf. [[boilerplate]], which is the C4
    * within-DOMAIN frequency rule over overlapping shingles — this one is
    * global, non-overlapping, and keep-first rather than drop-frequent).
    * Every chunk occurrence is kept iff it is the FIRST occurrence of its
    * hash corpus-wide in (doc_id, chunk_idx) order; each document reports
    * how many of its chunks survive.
    *
    * At scale: chunk hashes are computed scan-side (pure column
    * expressions); the first-occurrence rule is a map-side-combined
    * `min(struct(doc_id, chunk_idx))` per hash — an AGGREGATE, deliberately
    * not a row_number window: a boilerplate chunk shared by millions of
    * documents lands its whole posting list on one window partition, while
    * the aggregate reduces it to one survivor row in partials. The decision
    * join back is co-partitioned on the same hash key (one shuffle,
    * reused). Only (hash, doc_id, chunk_idx) ever shuffles — never text.
    *
    * The posting frame is PERSISTED: both the survivor aggregate and the
    * decision join consume it, and without the materialization boundary
    * each branch re-runs the tokenize + per-chunk MD5 over the full corpus
    * (same rationale as [[decontaminate]]/[[boilerplate]]; single scan
    * plan-pinned). Callers should clearCache() after materializing. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val posting = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        // all chunk hashes in ONE codegen'd pass (round 18): the HOF form
        // re-ran the interpreted slice/join/md5 stack per chunk
        posexplode(graft.functions.GraftFunctions.windowHash64(
          col("tk"), ChunkTokens, ChunkTokens, clip = true)))
      .toDF("doc_id", "chunk_idx", "chash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = posting.groupBy(col("chash"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
    posting.join(first, Seq("chash"))
      .withColumn("kept",
        col("first.doc_id") === col("doc_id") &&
          col("first.chunk_idx") === col("chunk_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("kept").cast("long")).as("n_kept"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        (col("n_chunks") - col("n_kept")).as("n_dup"),
        (col("n_kept").cast("double") / col("n_chunks").cast("double"))
          .as("kept_frac"))
      .orderBy("doc_id")
  }

  // ---- e_dup_spans --------------------------------------------------------

  /** Window length (tokens) for exact-substring duplicate spans. Real
    * pipelines run ~50 (Lee et al. 2022); the fixture corpus is ~30-90-token
    * docs, so 4 exercises multi-span merging on real near-copy pairs. */
  private[queries] val DupSpanTokens = 4

  /** Exact-substring duplicate SPANS — the removal shape of "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al. 2022): every
    * OVERLAPPING [[DupSpanTokens]]-token window is hashed, every non-first
    * occurrence corpus-wide is marked, and marked windows are merged per
    * document into maximal contiguous spans (gaps-and-islands), whose token
    * count prices the rewrite. Differs from [[chunkDedup]] on all three
    * axes: windows overlap (one per token position, not disjoint chunks),
    * the mark rule is per-occurrence (not keep-first-chunk), and the output
    * is merged span extents, not chunk survival counts.
    *
    * At scale: postings (hash, doc_id, pos) shuffle once on the window hash
    * with the same map-side-combined `min(struct(doc_id, pos))` aggregate as
    * [[chunkDedup]] (never a per-hash row_number posting-list window — a hot
    * window shared by millions of docs must reduce in partials); span
    * merging is a doc_id-PARTITIONED window whose state is bounded by one
    * document's marked windows; text never crosses a shuffle. The posting
    * frame is persisted for the same two-consumer reason as [[chunkDedup]]
    * (survivor aggregate + decision join); callers clearCache() after
    * materializing. The second (cheap, projected) scan computes per-doc
    * token counts so zero-duplicate documents still report a row. */
  /** The shared detection chain of [[dupSpans]] and [[dupSpanRemoval]]:
    * (tokenized corpus, merged per-doc duplicate spans) — ONE definition so
    * the report and the rewrite can never disagree about what counts as a
    * duplicated span. Returns (toked: doc_id·tk, spans: doc_id·s·e2). */
  private def dupSpanChain(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val W = DupSpanTokens
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val posting = toked
      .filter(size(col("tk")) >= W)
      .select(col("doc_id"),
        // all sliding-window hashes in ONE codegen'd pass (round 18)
        posexplode(graft.functions.GraftFunctions.windowHash64(
          col("tk"), W, 1, clip = false)))
      .toDF("doc_id", "pos", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = posting.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val dup = posting.join(first, Seq("h"))
      .filter(!(col("first.doc_id") === col("doc_id") &&
        col("first.pos") === col("pos")))
      .select(col("doc_id"), col("pos"), (col("pos") + W - 1).as("e"))
    // gaps-and-islands: a marked window starts a new span iff it neither
    // overlaps nor touches the furthest end seen so far in its document
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMaxE = max(col("e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val marked = dup.withColumn("brk",
      when(col("pos") > coalesce(prevMaxE, lit(-2)) + 1, 1L).otherwise(0L))
    val spans = marked
      .withColumn("g", sum(col("brk"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e2"))
    (toked, spans)
  }

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val (toked, spans) = dupSpanChain(spark, dir)
    val base = toked.select(col("doc_id"), size(col("tk")).as("n_tokens"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e2") - col("s") + 1).as("dup_tokens"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  // ---- e_dup_span_removal -------------------------------------------------

  /** The REWRITE step that completes the Lee et al. 2022 shape: [[dupSpans]]
    * detects the duplicated extents, this operator cuts them out — every
    * token inside a marked span (a non-first occurrence corpus-wide) is
    * dropped and the survivors are rejoined into the cleaned text the
    * training pipeline actually ships. First occurrences stay, so each
    * duplicated passage survives exactly once across the corpus. Both
    * operators share ONE detection chain ([[dupSpanChain]]): the report and
    * the rewrite cannot disagree about what counts as a duplicate.
    *
    * Whitespace is normalized by construction (the clean text is the kept
    * token array rejoined with single spaces) — identical in both engines
    * since both rebuild from the token array, never from substring offsets.
    *
    * At scale: detection is [[dupSpans]]' postings shuffle; the rewrite adds
    * one join keyed on doc_id between the token scan and the per-doc span
    * lists (only docs WITH duplicates have a row; state per doc is its span
    * count, bounded by n_tokens/W); the span cut is a scan-side
    * filter-with-index over the token array — document text crosses the
    * doc_id exchange once, as the join's probe side, and nothing else. */
  def dupSpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val (toked, spans) = dupSpanChain(spark, dir)
    val spanArr = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e2")))).as("spans"))
    toked.join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tk"),
        coalesce(col("spans"),
          array().cast("array<struct<s:int,e2:int>>")).as("sp"))
      .withColumn("kept", filter(col("tk"), (t, i) =>
        !exists(col("sp"), r => i >= r("s") && i <= r("e2"))))
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  // ---- e_curation_funnel --------------------------------------------------

  /** The end-to-end curation FUNNEL — the composite a pretraining-data
    * pipeline actually runs, staged over one corpus with per-document drop
    * attribution: (1) exact dedup (min-id survivor per 60-bit content
    * fingerprint), (2) near-dup dedup (minhash-LSH verified pairs over the
    * stage-1 survivors, drop the higher id of each pair), (3) the Gopher
    * quality battery over what remains. Every document exits with exactly
    * one stage label — `exact_dup`, `near_dup`, `quality`, or `kept` — the
    * attrition report data teams audit before a training run.
    *
    * The fixture corpus is the realistic re-crawl mix: originals + exact
    * re-fetches (ids + 1,000,000, same bytes) + boilerplate-shifted
    * revisions (ids + 2,000,000, first 5 tokens dropped), fanned out from
    * ONE scan by a generator. Stages REUSE the graded operators' own
    * derivations — [[minhashVerifiedPairsFrom]] over a shared shingle
    * frame, [[qualitySignals]]'s single rule definition — so the funnel
    * cannot drift from the operators it composes.
    *
    * At scale: stage 1 is one hash-groupBy on (fingerprint, id) slim rows;
    * stage 2 is the minhash pipeline's banded equi-join over survivors
    * (never all-pairs); stage 3 is a zero-shuffle scan; the label assembly
    * joins id-only frames. Text crosses a shuffle only where the composed
    * operators already require it. The corpus and survivor frames are
    * persisted (each feeds ≥2 stages); callers clearCache(). */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val corpus = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        posexplode(array(
          struct(lit(0L).as("shift"), col("text").as("t")),
          struct(lit(1000000L).as("shift"), col("text").as("t")),
          struct(lit(2000000L).as("shift"),
            array_join(slice(tokens(col("text")), lit(6),
              size(tokens(col("text")))), " ").as("t")))))
      .select((col("doc_id") + col("col.shift")).as("doc_id"),
        col("lang"), col("source"), col("col.t").as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withHash = corpus.withColumn("h", hash64(col("text")))
    val exactSurv = withHash.groupBy(col("h")).agg(min(col("doc_id")).as("surv"))
    // PERSISTED (id + survivor only): each drop frame feeds its stage's
    // anti-join AND the final label assembly — unpersisted, the minhash
    // pipeline would execute twice (the dedup-eval lesson). Every dropped
    // row carries WHICH surviving document shadowed it (the min-id of its
    // exact-hash group / the kept side of its near-dup pairs) — real
    // attrition reports need the survivor for spot-audit, not just the
    // stage label.
    val dropExact = withHash.join(exactSurv, Seq("h"))
      .filter(col("doc_id") =!= col("surv"))
      .select(col("doc_id"), col("surv"))
      .persist()
    val surv1 = corpus.join(dropExact, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shd = shingleSets(surv1.select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a doc can near-dup-pair with several lower-id survivors: attribute to
    // the smallest (deterministic; in a chain the named survivor may itself
    // be a near-dup drop — the audit follows the chain, same as the drop
    // rule itself)
    val dropNear = minhashVerifiedPairsFrom(shd)
      .groupBy(col("doc_b")).agg(min(col("doc_a")).as("surv"))
      .select(col("doc_b").as("doc_id"), col("surv"))
      .persist()
    val surv2 = surv1.join(dropNear, Seq("doc_id"), "left_anti")
    val dropQual = qualitySignals(surv2)
      .filter(!col("keep")).select(col("doc_id"))
    corpus.select(col("doc_id"))
      .join(dropExact.select(col("doc_id"), col("surv").as("surv_e")), Seq("doc_id"), "left")
      .join(dropNear.select(col("doc_id"), col("surv").as("surv_n")), Seq("doc_id"), "left")
      .join(dropQual.withColumn("s3", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("surv_e").isNotNull, lit("exact_dup"))
          .when(col("surv_n").isNotNull, lit("near_dup"))
          .when(col("s3").isNotNull, lit("quality"))
          .otherwise(lit("kept")).as("stage"),
        // quality drops and kept docs have no shadowing survivor: null
        when(col("surv_e").isNotNull, col("surv_e"))
          .when(col("surv_n").isNotNull, col("surv_n"))
          .as("survivor_id"))
      .orderBy("doc_id")
  }

  // ---- e_bpe_merges -------------------------------------------------------

  /** Vocabulary-induction primitive — the first iteration of BPE tokenizer
    * training over the corpus: every adjacent character pair inside every
    * token, weighted by corpus token frequency, ranked to yield the top-20
    * merge candidates (what a BPE trainer would merge first). A real
    * trainer iterates this against its growing symbol table; the heavy,
    * corpus-sized step is exactly this weighted pair count, which is why it
    * belongs in the engine.
    *
    * At scale: token frequencies map-side-combine to |vocab| rows first, so
    * pair extraction runs over DISTINCT words (Zipf-bounded), not token
    * instances; pair counts combine again to |alphabet|² partials; the
    * top-20 is a distributed TakeOrderedAndProject with pinned ties (count
    * DESC, pair ASC). All-integer arithmetic — exact cross-engine. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val vocab = table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("wc"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"), col("wc"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)
  }

  // ---- e_bpe_train --------------------------------------------------------

  /** Number of chained BPE merge rounds [[bpeTrain]] runs — like
    * [[KmeansIters]], a knob kept small enough that the oracle's unrolled
    * CTE chain stays readable while the chaining logic is fully general. */
  private[queries] val BpeTrainRounds = 10

  /** CHAINED BPE tokenizer training — the trainer behind [[bpeMerges]]'s
    * single pair-count pass, completing the trainer family
    * ([[kmeansTrain]], [[pqTrain]]): up to [[BpeTrainRounds]] rounds of
    * count-pairs → pick-best → merge-everywhere over the corpus-frequency-
    * weighted DISTINCT vocabulary, emitting every round's chosen merge rule
    * (`iter`, `lhs`, `rhs`, `n`) — the merge table a BPE encoder replays.
    *
    * Cross-engine exactness of the MERGE APPLICATION is the crux: both
    * sides rewrite the symbol sequence through the SAME string device —
    * symbols joined with TWO spaces, then one non-overlapping left-to-right
    * `replace(" l  r ", " lr ")`, then split back. The double separator
    * makes adjacent occurrences not share boundary characters, so the
    * single-pass replace merges every occurrence exactly like the
    * sequential BPE scan ("a a a a" → "aa aa", verified in both engines);
    * with single spaces the second of two back-to-back occurrences would
    * share its leading space with the first match and survive. Symbols are
    * space-free by construction (tokens are whitespace-split), so the
    * encoding is unambiguous. Tie-breaks are pinned (count DESC, lhs ASC,
    * rhs ASC over grouped-unique pairs, strings in the engines' UTF-8 byte
    * order); all arithmetic is integer.
    *
    * An exhausted vocabulary ends the table early: one row per round that
    * found a pair, as in the oracle's chain. At scale: [[bpeChain]]. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainRounds(spark, dir, BpeTrainRounds)

  /** [[bpeTrain]] with the round count as an explicit knob: the merge
    * table of [[bpeChain]], one row per round that found a pair. The rules
    * come back from the driver already in `iter` order, so the table is a
    * local relation read as ONE partition — no range exchange, no sampling
    * job and no sort — and no vocabulary frame is built for it. */
  def bpeTrainRounds(spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    val (merges, _) = bpeChain(spark, dir, rounds)
    import spark.implicits._
    merges.toDF("iter", "lhs", "rhs", "n").coalesce(1)
  }

  /** The training chain: (merge rules in `iter` order, FINAL symbolized
    * vocabulary `(w, wc, syms)` as a local frame, built on demand — the
    * merge table alone needs none). The final vocabulary is what
    * [[bpeEncode]] and [[vocabCoverage]] serve from — returned from here so
    * training and encoding share one chain definition (the [[kmeansChain]]
    * device).
    *
    * The corpus-sized step — tokens → per-word count, map-side-combined —
    * and the symbolization (`split(w, "")`, one symbol per code point, its
    * empty strings removed) are one Spark action; their rows are collected
    * ONCE and every round runs in memory. `split` yields no null element,
    * so `array_remove` keeps exactly what an `x != ""` filter lambda
    * keeps, and unlike the lambda it keeps the word-count aggregate inside
    * whole-stage codegen. SCALE CONTRACT: the merge loop holds
    * |distinct words| rows in the Spark driver, where a single-process BPE
    * trainer keeps its word counts. Ties compare strings in the engines'
    * order, UTF-8 bytes (`binaryCompare`; UTF-16 `compareTo` differs past
    * the BMP). Rounds stop at an exhausted vocabulary, so [[bpeEncode]] then
    * serves the last one. */
  private def bpeChain(spark: SparkSession, dir: String,
      rounds: Int): (Seq[(Int, String, String, Long)], () => DataFrame) = {
    import org.apache.spark.unsafe.types.UTF8String
    require(rounds >= 1, s"round count must be >= 1, got $rounds")
    val symbolized = table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"), array_remove(split(col("w"), ""), "").as("syms"))
    val words = symbolized.collect()
    var syms = words.map(_.getSeq[String](2).toVector)
    val utf8 = Ordering.fromLessThan[UTF8String](_.binaryCompare(_) < 0)
    def bestPair(): Option[((String, String), Long)] = {
      val n = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((s, w) <- syms.zip(words); i <- 1 until s.length)
        n((s(i - 1), s(i))) = n.getOrElse((s(i - 1), s(i)), 0L) + w.getLong(1)
      n.minByOption { case ((l, r), c) =>
        (-c, UTF8String.fromString(l), UTF8String.fromString(r))
      }(Ordering.Tuple3(Ordering.Long, utf8, utf8))
    }
    val merges = (1 to rounds).iterator.map { it =>
      bestPair().map { case ((l, r), n) =>
        syms = syms.map(s => if (s.length < 2) s else
          (" " + s.mkString("  ") + " ").replace(s" $l  $r ", s" $l$r ")
            .split(" ").iterator.filter(_.nonEmpty).toVector)
        (it, l, r, n)
      }
    }.takeWhile(_.isDefined).flatten.toVector
    val vocab = () => spark.createDataFrame(
      java.util.Arrays.asList(words.indices.map(i =>
        org.apache.spark.sql.Row(words(i).get(0), words(i).get(1), syms(i))): _*),
      symbolized.schema)
    (merges, vocab)
  }

  /** BPE ENCODING from the trained merge table — closes the train→serve
    * loop like [[cosineTopkIvfTrained]] / [[cosineTopkPqTrained]]: the
    * corpus is re-tokenized against [[bpeChain]]'s final symbolized
    * vocabulary, emitting per document the raw word count, the BPE token
    * count under the learned vocab, and their ratio (one IEEE divide) —
    * the fertility metric tokenizer evaluations report.
    *
    * Sharing [[bpeChain]] means the encoder can never apply a drifted copy
    * of the rules (the oracle likewise composes the chain CTEs' final
    * state); at an exhausted vocabulary it serves the last one. At scale:
    * the merge rounds run in the Spark driver over the |distinct
    * words|-row vocabulary ([[bpeChain]]'s bound), which comes back as a
    * local frame; encoding joins corpus tokens against it on the word key — broadcast
    * when the vocab fits, hash-join otherwise; per-doc counts
    * map-side-combine. The per-word symbolization is computed ONCE in the
    * vocab, never per token instance — the same distinct-words-first
    * discipline as [[bpeMerges]]. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = bpeChain(spark, dir, BpeTrainRounds)
    val docTok = table(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    docTok
      .join(vocab().select(col("w"), size(col("syms")).as("n_syms")), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("bpe_per_word"))
      .orderBy("doc_id")
  }

  // ---- e_tok_fertility ----------------------------------------------------

  /** Per-LANGUAGE tokenizer-parity report — the multilingual fairness audit
    * run on every trained tokenizer: aggregate [[bpeEncode]]'s per-document
    * fertility over language, emitting words, BPE tokens, characters,
    * tokens-per-word (fertility) and characters-per-token (compression).
    * Languages with higher fertility burn more of a fixed context window
    * per unit of text — the number that decides whether a vocabulary is
    * re-balanced before training. Composes the graded encoder's own
    * derivation (and the oracle its SQL text), so the report can never
    * drift from the encoding it summarizes.
    *
    * At scale: the encoder's cost dominates; on top of it this is one slim
    * |docs|-row join to (lang, n_chars) and a |langs|-row map-side-combined
    * aggregate. */
  def tokFertility(spark: SparkSession, dir: String): DataFrame = {
    val enc = bpeEncode(spark, dir)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    enc.join(docs, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        (col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  // ---- e_vocab_coverage ---------------------------------------------------

  /** Per-LANGUAGE vocabulary-coverage audit of the trained BPE vocab — the
    * report that decides vocab size and re-balancing before a training
    * run: for each language, how much of its token stream the LEARNED
    * merges actually cover versus falling back to single-character units
    * (the byte-fallback path of a production tokenizer — always
    * representable, never OOV, but burning one token per character).
    * Composes [[bpeChain]]'s final symbolized vocabulary (the
    * [[bpeEncode]] device, so the audit can never grade a drifted copy of
    * the rules): per word, symbols of length > 1 are learned merges,
    * length-1 symbols are fallback units; aggregated over each language's
    * token stream into `fallback_rate` (fallback tokens per emitted
    * token) and `char_coverage` (fraction of characters inside merged
    * symbols). A language whose coverage lags the corpus average is the
    * one whose text the vocab under-serves — [[tokFertility]] reports the
    * SYMPTOM (more tokens per word); this reports the CAUSE (merges not
    * firing).
    *
    * Determinism: all-integer counts/sums until the two final divides.
    *
    * At scale: the per-word breakdown is computed ONCE on the
    * Zipf-bounded vocabulary (never per token instance), whose merge
    * rounds run in the Spark driver over |distinct words| rows
    * ([[bpeChain]]'s bound); the corpus re-tokenization joins that local
    * vocabulary on the word key (broadcast when it fits) and reduces
    * map-side to |langs| rows. Composes the graded BPE chain — a harness
    * key. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = bpeChain(spark, dir, BpeTrainRounds)
    val wstats = vocab().select(col("w"),
      size(col("syms")).as("n_syms"),
      size(filter(col("syms"), s => length(s) > 1)).as("w_merged"),
      aggregate(transform(col("syms"),
          s => when(length(s) > 1, length(s)).otherwise(lit(0))),
        lit(0), (a, x) => a + x).as("w_chars_merged"),
      length(col("w")).as("w_chars"))
    val docTok = table(spark, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
    docTok.join(wstats, Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_tokens"),
        sum(col("n_syms") - col("w_merged")).as("n_fallback"),
        sum(col("w_merged")).as("n_merged"),
        sum(col("w_chars_merged")).as("chars_covered"),
        sum(col("w_chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_fallback"),
        col("n_merged"), col("chars_covered"), col("n_chars"),
        (col("n_fallback").cast("double") / col("n_tokens").cast("double"))
          .as("fallback_rate"),
        (col("chars_covered").cast("double") / col("n_chars").cast("double"))
          .as("char_coverage"))
      .orderBy("lang")
  }

  // ---- e_snapshot_diff ----------------------------------------------------

  /** Crawl-to-crawl incremental diff — the change-data primitive an
    * ingest pipeline runs between snapshots: per document id, whether it
    * was ADDED (new id), REMOVED (id gone), CHANGED (same id, different
    * content fingerprint) or UNCHANGED. The previous snapshot is derived
    * deterministically from the fixture: ids ≡ 0 (mod 5) are withheld from
    * it (→ added now), ids ≡ 0 (mod 7) carry a first-token-dropped revision
    * (→ changed), and an id-shifted tail (+3,000,000) exists only in the
    * previous snapshot (→ removed).
    *
    * At scale: both snapshots reduce to (doc_id, content fingerprint) slim
    * rows before the ONE full-outer equi-join on doc_id — text never
    * crosses the shuffle, and the join co-partitions on the id both tables
    * would already be bucketed by in a warehouse layout. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val cur = docs.select(col("doc_id"), hash64(col("text")).as("h_cur"))
    val prevText = when(col("doc_id") % 7 === 0,
      array_join(slice(tokens(col("text")), lit(2), size(tokens(col("text")))), " "))
      .otherwise(col("text"))
    val prev = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), hash64(prevText).as("h_prev"))
      .unionAll(docs.select((col("doc_id") + 3000000L).as("doc_id"),
        hash64(concat(lit("gone:"), col("text"))).as("h_prev")))
    fingerprintDiff(cur, prev).orderBy("doc_id")
  }

  /** The snapshot-diff CORE — `(doc_id, h_cur)` vs `(doc_id, h_prev)`
    * fingerprint frames full-outer-joined into a per-id
    * added/changed/unchanged/removed changelog. ONE definition shared by
    * the batch operator ([[snapshotDiff]]) and the streaming change capture
    * ([[graft.streaming.Streaming.startChangeCapture]]), so the continuous
    * and batch CDC paths cannot drift: parity holds by construction, not by
    * test alone. Both inputs are slim id+hash frames — the join never
    * carries document bodies. */
  private[graft] def fingerprintDiff(cur: DataFrame, prev: DataFrame): DataFrame =
    cur.join(prev, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_prev").isNull, lit("added"))
          .when(col("h_cur").isNull, lit("removed"))
          .when(col("h_cur") === col("h_prev"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))

  // ---- e_rank_fusion ------------------------------------------------------

  /** Reciprocal-rank-fusion constant — the standard k = 60 of Cormack &
    * Clarke's RRF: score(d) = Σ_lists 1/(k + rank_list(d)). */
  private[queries] val RrfK = 60

  /** Rank fusion over the three approximate ANN families — the ensemble
    * step of a hybrid-search stack: the LSH, IVF and PQ top-k lists for
    * each query are fused by reciprocal-rank fusion (RRF, k = 60) into one
    * consensus ranking that is robust to any single family's blind spots
    * (a bucketing miss, a cell-boundary miss, a quantization error — the
    * three families fail independently, which is exactly when rank fusion
    * helps). Emits the fused top-10 with the per-family vote count.
    *
    * Determinism: RRF contributions are exact rationals 1/(60 + rank)
    * evaluated as single IEEE divides and folded in PINNED family order
    * (lsh, ivf, pq) via a ≤3-element sorted fold; ties break doc_id ASC.
    *
    * At scale: the fused frames are |queries|·k rows regardless of corpus
    * size — fusion costs nothing; each family's own operator carries the
    * corpus-scale story. The oracle COMPOSES the three families' SQL texts,
    * so the fusion can never drift from the rankings it fuses. */
  def rankFusion(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(Seq(
      (0, cosineTopkLsh(spark, dir)),
      (1, cosineTopkIvf(spark, dir)),
      (2, cosineTopkPq(spark, dir)),
      // the late-interaction family joins the ensemble rank-wise — RRF is
      // score-agnostic by design, which is exactly what lets a maxsim
      // ranking fuse with single-vector cosine rankings
      (3, maxsimTopk(spark, dir))))

  /** The RRF ensemble shared by [[rankFusion]] and [[hybridSearch]]: fuse
    * `(fidx, list)` ranked lists — each `(qid, cid, rank)` — into the
    * consensus top-10 per query with the per-list vote count. ONE
    * definition so the dense-only and hybrid ensembles can never fold
    * contributions differently (pinned `fidx` order via a ≤|lists|-element
    * sorted fold — the engine's partition layout can never reorder the
    * IEEE sum). */
  private def rrfFuse(fams: Seq[(Int, DataFrame)]): DataFrame = {
    val tagged = fams.map { case (fidx, df) =>
      df.select(col("qid"), col("cid"), col("rank"), lit(fidx).as("fidx"))
    }.reduce(_ unionAll _)
    val fused = tagged
      .withColumn("c", lit(1.0) / (lit(RrfK.toDouble) + col("rank").cast("double")))
      .groupBy(col("qid"), col("cid"))
      .agg(sort_array(collect_list(struct(col("fidx"), col("c")))).as("cs"),
        count(lit(1)).as("n_lists"))
      .withColumn("rrf",
        aggregate(transform(col("cs"), p => p("c")), lit(0.0), (a, x) => a + x))
      // PERSISTED: consumed by the top-k aggregate AND the n_lists join-back
      // — without it every input family pipeline executes twice (the
      // dedup-eval lesson). ≤ |queries|·|lists|·k rows; callers clearCache().
      .persist()
    val agg10 = new graft.functions.TopKByScoreAggregator(10)
    val topk = udaf(agg10, agg10.inputEncoder)
    val top = fused.groupBy(col("qid"))
      .agg(topk(col("rrf"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"),
        col("col.score").as("rrf"), (col("pos") + 1).cast("int").as("rank"))
    top.join(fused.select(col("qid"), col("cid"), col("n_lists")),
        Seq("qid", "cid"))
      .select(col("qid"), col("cid"), col("rrf"), col("n_lists"), col("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_hybrid_search ----------------------------------------------------

  /** Hybrid dense+sparse retrieval — the ensemble every RAG/curation stack
    * actually runs: the three dense ANN lists (LSH, IVF, PQ) RRF-fused with
    * [[bm25Topk]]'s lexical list. The fixture embeds document `i` as vector
    * `i`, so the dense candidate `cid` and the lexical `doc_id` share one id
    * space; the hybrid query set is the [[Bm25Queries]] qids, each paired
    * with query vector `vec_id = qid` on the dense side (the ANN families
    * already rank every `vec_id < 8`, so the dense lists are FILTERED to the
    * hybrid qids, not recomputed). A document surfaced by both modalities
    * accumulates votes from up to 4 lists; one that only matches keywords
    * (or only lives near in embedding space) still surfaces — the blind
    * spots are disjoint, which is the whole point of hybrid retrieval.
    *
    * Determinism and scale both inherit from [[rrfFuse]] and the four graded
    * operators; fusion itself touches |queries|·k rows per list. The oracle
    * composes the four families' SQL texts verbatim, so the ensemble cannot
    * drift from the lists it fuses. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val nq = Bm25Queries.size
    def dense(df: DataFrame): DataFrame = df.filter(col("qid") < nq)
    rrfFuse(Seq(
      (0, dense(cosineTopkLsh(spark, dir))),
      (1, dense(cosineTopkIvf(spark, dir))),
      (2, dense(cosineTopkPq(spark, dir))),
      (3, bm25Topk(spark, dir).select(col("qid").cast("bigint").as("qid"),
        col("doc_id").as("cid"), col("rank")))))
  }

  // ---- e_interleave -------------------------------------------------------

  /** Interleaved list depth kept per query. */
  private[queries] val InterleaveK = 10

  /** Balanced interleaving of the sparse and dense rankers (the Joachims
    * KDD'02 evaluation shape) — the ONLINE side of ranker comparison, next
    * to the offline [[annRecall]] harness: merge [[bm25Topk]]'s lexical
    * list and [[cosineTopk]]'s dense list into ONE list a user would see,
    * alternating positions (A₁ B₁ A₂ B₂ …) and crediting each document to
    * the ranker that placed it first; clicks on the blended list then
    * compare rankers without a traffic split. The randomized first-pick
    * coin is PINNED to the sparse side (determinism contract — the repo
    * has no runtime randomness), which is the documented deterministic
    * variant: team labels, not coin symmetry, carry the evaluation.
    *
    * The alternation is relational, not sequential: occurrence position is
    * `2·rank−1` (sparse) / `2·rank` (dense), a document's interleaved slot
    * is its MINIMUM position (first placement wins, duplicates collapse),
    * and parity of that minimum IS the credited team — no loop, and the
    * per-query frame is ≤ 2k rows, so the ranking window is bounded.
    *
    * At scale: both input lists are the graded operators' own |queries|·k
    * outputs; everything here joins and windows frames of that size — the
    * corpus is never touched again. The oracle composes the two graded SQL
    * texts verbatim ([[annRecall]]'s device), so the blend cannot drift
    * from the lists it blends. */
  def interleave(spark: SparkSession, dir: String): DataFrame = {
    val nq = Bm25Queries.size
    val sparse = bm25Topk(spark, dir)
      .select(col("qid").cast("bigint").as("qid"), col("doc_id").as("cid"),
        (col("rank") * 2 - 1).cast("long").as("pos"))
    val dense = cosineTopk(spark, dir).filter(col("qid") < nq)
      .select(col("qid"), col("cid"), (col("rank") * 2).cast("long").as("pos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("pos").asc)
    sparse.unionAll(dense)
      .groupBy(col("qid"), col("cid"))
      .agg(min(col("pos")).as("pos"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= InterleaveK)
      .select(col("qid"), col("rank"), col("cid"),
        when(pmod(col("pos"), lit(2L)) === 1, lit("sparse"))
          .otherwise(lit("dense")).as("team"))
      .orderBy("qid", "rank")
  }

  // ---- e_interleave_sig ---------------------------------------------------

  /** Interleaving SIGNIFICANCE readout — the verdict [[interleave]] stops
    * short of: per query, count each team's first-placement credits in the
    * blended top-[[InterleaveK]]; a query is a WIN for the team with more
    * credits (equal credits = a tie, excluded — the sign test's standard
    * treatment); the two-sided sign-test z over wins is
    * (wins_sparse − wins_dense) / √(wins_sparse + wins_dense) — the
    * binomial normal approximation at p = ½ that interleaving evaluations
    * (Joachims KDD'02; Chapelle et al. TOIS'12) read before declaring a
    * ranker better. One row: query/win/tie counts plus z.
    *
    * Determinism: integer counts end-to-end; z is [[abTest]]'s
    * exactly-rounded device — one int-difference cast, one IEEE sqrt of an
    * int-cast, one divide, each correctly rounded in both engines. The
    * DEGENERATE experiment (every query ties) pins z = NULL, not an abort
    * — spec-driven through [[interleaveSigOf]].
    *
    * At scale: the blended list is |queries|·k rows; credits, wins and z
    * are two map-side-combined aggregates over it — the readout costs
    * nothing beyond the lists it composes. Composes the graded
    * [[interleave]] operator (oracle composes its SQL text) — a harness
    * key. */
  def interleaveSig(spark: SparkSession, dir: String): DataFrame =
    interleaveSigOf(interleave(spark, dir))

  /** [[interleaveSig]]'s body over an arbitrary `(qid, team)` credit frame
    * — the spec drives the all-ties degenerate case through it. */
  private[queries] def interleaveSigOf(blended: DataFrame): DataFrame = {
    val perQ = blended.groupBy(col("qid"))
      .agg(sum(when(col("team") === "sparse", 1L).otherwise(0L)).as("c_sparse"),
        sum(when(col("team") === "dense", 1L).otherwise(0L)).as("c_dense"))
    perQ.agg(
      count(lit(1)).as("n_queries"),
      sum(when(col("c_sparse") > col("c_dense"), 1L).otherwise(0L))
        .as("n_sparse_wins"),
      sum(when(col("c_dense") > col("c_sparse"), 1L).otherwise(0L))
        .as("n_dense_wins"),
      sum(when(col("c_sparse") === col("c_dense"), 1L).otherwise(0L))
        .as("n_ties"))
      .select(col("n_queries"), col("n_sparse_wins"), col("n_dense_wins"),
        col("n_ties"),
        when(col("n_sparse_wins") + col("n_dense_wins") > 0,
          (col("n_sparse_wins") - col("n_dense_wins")).cast("double") /
            sqrt((col("n_sparse_wins") + col("n_dense_wins")).cast("double")))
          .as("z"))
  }

  // ---- e_mmr --------------------------------------------------------------

  /** Candidate-pool size / selected-list size for [[mmrSelect]]. */
  private[queries] val MmrPoolC = 20
  private[queries] val MmrK = 5

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR'98)
    * — the diversity-aware selection every retrieval-augmented curation
    * stack runs after top-k: from each query's [[MmrPoolC]]-candidate pool,
    * greedily pick [[MmrK]] documents maximizing
    * `0.5·rel(d) − 0.5·max_{s∈S} sim(d,s)` — relevance balanced against
    * redundancy with what is already selected (a near-duplicate of an
    * already-picked document is suppressed even when its raw relevance
    * ranks it second).
    *
    * Cross-engine determinism: `rel` and `sim` are the sequential-fold
    * cosine (identical doubles both engines); the MMR score is one
    * multiply/subtract on those doubles; argmax ties break on `cid` ASC.
    *
    * At scale: the pool construction is the one corpus-touching stage (the
    * same broadcast-query scan as [[cosineTopk]]); everything after runs on
    * |queries|·[[MmrPoolC]] pool rows and |queries|·[[MmrPoolC]]² pairwise
    * sims — both BOUNDED frames. Those frames COLLAPSE to a single
    * partition once built (an explicit 1-partition exchange after the pool
    * window): at |queries|·C² rows the greedy rounds are driver-scale work,
    * and leaving them spread over the session's shuffle partitioning turns
    * each of the [[MmrK]] rounds into hundreds of near-empty tasks — task
    * scheduling, not compute, was 9.5 s of bench time before the collapse
    * (grow the partition count with |queries| when the query set is not
    * bounded). Each round's selected set is eagerly localCheckpointed and
    * the superseded round released ([[graft.operators.IterStorage]]
    * discipline), so round plans stay shallow instead of nesting MmrK
    * windows+joins deep. The greedy loop never re-touches the corpus. */
  def mmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("nq", l2norm(col("qe")))
    val c = emb
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("nc", l2norm(col("ce")))
    val relDot = dotD(col("qe"), col("ce"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid").asc)
    // pool keeps each candidate's embedding+norm: the pairwise-sim join
    // below reads them without going back to the corpus
    val pool = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("rel", relDot / (col("nq") * col("nc")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MmrPoolC)
      .select(col("qid"), col("cid"), col("rel"), col("ce"), col("nc"))
      .repartition(1)
      .persist()
    val pairDot = dotD(col("ae"), col("be"))
    val pairs = pool.select(col("qid"), col("cid").as("a"), col("ce").as("ae"),
        col("nc").as("na"))
      .join(pool.select(col("qid"), col("cid").as("b"), col("ce").as("be"),
        col("nc").as("nb")), Seq("qid"))
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        (pairDot / (col("na") * col("nb"))).as("sim"))
      .persist()
    val slim = pool.select(col("qid"), col("cid"), col("rel"))

    var sel = slim.limit(0)
      .select(col("qid"), col("cid"), col("rel"),
        lit(0.0).as("mmr_score"), lit(0).as("rank"))
      .localCheckpoint(true)
    for (r <- 1 to MmrK) {
      val remaining = slim.join(sel.select("qid", "cid"), Seq("qid", "cid"), "left_anti")
      val ms = pairs.join(sel.select(col("qid"), col("cid").as("b")), Seq("qid", "b"))
        .groupBy(col("qid"), col("a").as("cid")).agg(max(col("sim")).as("maxsim"))
      val pickW = Window.partitionBy(col("qid"))
        .orderBy(col("mmr").desc, col("cid").asc)
      val pick = remaining.join(ms, Seq("qid", "cid"), "left")
        .withColumn("mmr",
          lit(0.5) * col("rel") - lit(0.5) * coalesce(col("maxsim"), lit(0.0)))
        .withColumn("rn", row_number().over(pickW))
        .filter(col("rn") === 1)
        .select(col("qid"), col("cid"), col("rel"),
          col("mmr").as("mmr_score"), lit(r).as("rank"))
      val next = sel.unionByName(pick).localCheckpoint(true)
      graft.operators.IterStorage.release(sel)
      sel = next
    }
    sel.orderBy("qid", "rank")
  }

  // ---- e_bm25_topk --------------------------------------------------------

  /** Pinned query set for [[bm25Topk]] — bounded, like the ANN query side. */
  private[queries] val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("spark", "window", "agg"),
    1 -> Seq("customer", "query", "merge"),
    2 -> Seq("vector", "hash"))

  /** BM25 lexical top-k retrieval — the sparse/keyword side of the search
    * stack, complementing the dense ANN family ([[cosineTopk]] etc.): for
    * each pinned query, the 10 highest-scoring documents under a BM25
    * scoring with k1 = 1.2, b = 0.75 and a RATIONAL idf
    * (max((N − df + 0.5)/(df + 0.5), 0) — the same no-transcendental device
    * as [[tfidfTerms]]: every FP step a single correctly-rounded IEEE op,
    * so the scores themselves hash-match cross-engine where a log-based idf
    * could not). Caveat, deliberate: the rational idf is monotone in df —
    * hence rank-equivalent to log-idf — only PER TERM; a summed multi-term
    * score can order documents differently than standard log-idf BM25
    * (x ↦ log x is not linear), so rankings here are "BM25-family", not
    * bit-for-bit Robertson BM25. The clamp at 0 matches conventional BM25
    * implementations, which floor the idf of terms with df > N/2 instead of
    * letting a ubiquitous term subtract from the score.
    *
    * Determinism: per-document scores fold per-term contributions in PINNED
    * query-term order (a ≤|terms|-element sort_array/fold — the engine's
    * partition layout can never reorder the sum); ties break doc_id ASC.
    *
    * At scale: the corpus token stream is FILTERED to the broadcast query
    * vocabulary before anything aggregates — postings are |matching terms|
    * per doc, not |tokens|; tf/df reduce map-side; df and the 1-row corpus
    * stats broadcast back; per-query top-k is the bounded-state
    * [[graft.functions.TopKByScoreAggregator]] (only |queries|·k rows per
    * partition shuffle, never the scored stream). */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
    val stats = toked.agg(count(lit(1)).as("n_docs"),
      sum(col("n")).as("total_tokens"))
    val qterms = Bm25Queries
      .flatMap { case (qid, ts) => ts.zipWithIndex.map { case (t, i) => (qid, i, t) } }
      .toDF("qid", "tidx", "term")
    val tf = toked
      .select(col("doc_id"), col("n"), explode(col("tk")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("n"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("c",
        greatest((col("n_docs").cast("double") - col("df").cast("double") + 0.5)
          / (col("df").cast("double") + 0.5), lit(0.0)) *
        ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("n").cast("double") / col("avgdl"))))))
    val scores = contrib
      .groupBy(col("qid"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("tidx"), col("c")))).as("cs"))
      .withColumn("score",
        aggregate(transform(col("cs"), p => p("c")), lit(0.0), (a, x) => a + x))
    val agg10 = new graft.functions.TopKByScoreAggregator(10)
    val topk = udaf(agg10, agg10.inputEncoder)
    scores.groupBy(col("qid"))
      .agg(topk(col("score"), col("doc_id")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  // ---- e_chunk_split ------------------------------------------------------

  /** Chunk length / stride for [[chunkSplit]] — overlap = T − S = 16. */
  private[queries] val SplitChunkTokens = 64
  private[queries] val SplitChunkStride = 48

  /** Overlapping passage chunking — the preprocessing step every
    * embedding/RAG and fixed-context pipeline runs before encoding: each
    * document is cut into [[SplitChunkTokens]]-token chunks at stride
    * [[SplitChunkStride]] (16 tokens of overlap, so no sentence is stranded at a
    * chunk boundary), with the chunk count chosen so the final chunk always
    * reaches the document's tail: ⌈max(n−T, 0)/S⌉ + 1 starts. Short docs
    * (n ≤ T) yield exactly one whole-doc chunk. Emits (doc_id, chunk_idx,
    * start_pos, n_chunk_tokens, chunk_text) — the unit of work downstream
    * encoders consume. Complements [[seqPack]]: packing concatenates whole
    * docs into fixed blocks, chunking splits within docs with overlap.
    *
    * All arithmetic is non-negative integer floor-div (`div` ≡ DuckDB `//`),
    * and chunk text is rebuilt from the token array in both engines, so the
    * oracle compare is exact by construction.
    *
    * At scale: zero shuffles before the output sort — chunks fan out
    * scan-side from a generator (~n/S rows per doc); no join, no state. */
  def chunkSplit(spark: SparkSession, dir: String): DataFrame = {
    val T = SplitChunkTokens
    val S = SplitChunkStride
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .withColumn("n_chunks",
        expr(s"(greatest(n - $T, 0) + ${S - 1}) div $S") + 1)
    toked
      .select(col("doc_id"), col("n"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1), i =>
          struct((i * S).as("start_pos"),
            least(col("n") - i * S, lit(T)).as("n_chunk_tokens"),
            array_join(slice(col("tk"), i * S + 1, lit(T)), " ")
              .as("chunk_text")))))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("pos").cast("int").as("chunk_idx"),
        col("col.start_pos").as("start_pos"),
        col("col.n_chunk_tokens").as("n_chunk_tokens"),
        col("col.chunk_text").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ---- e_triplet_mine -----------------------------------------------------

  /** Hard negatives mined per anchor for contrastive training. */
  private[queries] val TripletNegK = 3

  /** Contrastive-training triplet construction over the labeled embedding
    * corpus: for each anchor (the bounded query set, vec_id < 8) emit its
    * hardest positive (top-1 cosine among SAME-label vectors) paired with
    * its [[TripletNegK]] hardest negatives (top-k cosine among
    * DIFFERENT-label vectors) and the training margin pos−neg — the
    * in-batch hard-negative-mining shape every embedding-model data
    * pipeline runs over its corpus.
    *
    * At scale: anchors broadcast against a single corpus scan (corpus never
    * shuffles to score); both rank families come from ONE bounded-state
    * top-k aggregate grouped by (anchor, same-label) — the
    * [[graft.functions.TopKByScoreAggregator]], so per (group × partition)
    * at most 4k candidates buffer and only |anchors|·2·k rows ever
    * materialize (a ranking window here would shuffle the whole
    * |anchors|·|corpus| scored stream); the 8-row positive side broadcasts
    * back onto the ≤8·k negative rows. The tiny RANKED frame (≤ |anchors|
    * ·2·k rows) is persisted because the positive and negative selections
    * both consume it; callers clearCache() after materializing. */
  def tripletMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"))
      .withColumn("nq", l2norm(col("qe")))
    val c = emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("embedding").as("ce"))
      .withColumn("nc", l2norm(col("ce")))
    val dot = dotD(col("qe"), col("ce"))
    val agg = new graft.functions.TopKByScoreAggregator(TripletNegK)
    val topk = udaf(agg, agg.inputEncoder)
    val ranked = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("score", dot / (col("nq") * col("nc")))
      .withColumn("same", col("qlabel") === col("clabel"))
      .groupBy(col("qid"), col("same"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), col("same"), posexplode(col("tk")))
      .select(col("qid"), col("same"), col("col.id").as("cid"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pos = ranked.filter(col("same") && col("rn") === 1)
      .select(col("qid"), col("cid").as("pos_id"), col("score").as("pos_score"))
    val neg = ranked.filter(!col("same") && col("rn") <= TripletNegK)
      .select(col("qid"), col("cid").as("neg_id"),
        col("score").as("neg_score"), col("rn").as("neg_rank"))
    neg.join(broadcast(pos), Seq("qid"))
      .select(col("qid"), col("pos_id"), col("neg_id"), col("neg_rank"),
        col("pos_score"), col("neg_score"),
        (col("pos_score") - col("neg_score")).as("margin"))
      .orderBy("qid", "neg_rank")
  }

  // ---- e_vec_quantize -----------------------------------------------------

  /** Symmetric per-vector INT8 quantization of the embedding column with
    * reconstruction-quality report — the storage lever that makes
    * 100 TB-scale ANN serving workable: a float32 corpus drops 4× (plus the
    * norm) while cosine survives to ~5 nines (spec-measured). Per vector:
    * scale = max|x|/127, code_i = ⌊x_i/scale + 0.5⌋ (max element hits
    * exactly ±127, so no clipping branch exists), reconstruction
    * code_i·scale; reported are the scale, the max absolute element error
    * (≤ scale/2 by construction) and cosine(original, reconstruction).
    *
    * Determinism: every float step is a single correctly-rounded IEEE op
    * (one divide, one add, floor, one multiply per element); max-folds are
    * order-independent and sums are the shared sequential-fold contract, so
    * the DuckDB oracle reproduces the bytes. Zero shuffles: a pure
    * projected scan until the output sort. */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame = {
    val amax = aggregate(
      transform(col("embedding"), v => abs(v.cast("double"))),
      lit(0.0), (a, x) => greatest(a, x))
    val withScale = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), (amax / 127.0).as("scale"))
    val recon = transform(col("embedding"), v =>
      when(col("scale") === 0.0, lit(0.0))
        .otherwise(floor(v.cast("double") / col("scale") + 0.5).cast("double") *
          col("scale")))
    val withRecon = withScale.withColumn("recon", recon)
    val maxErr = aggregate(
      zip_with(col("embedding"), col("recon"),
        (x, r) => abs(x.cast("double") - r)),
      lit(0.0), (a, x) => greatest(a, x))
    val dt = dotD(col("embedding"), col("recon"))
    val no = l2norm(col("embedding"))
    val nr = sqrt(seqSum(transform(col("recon"), v => v * v)))
    withRecon
      .select(col("vec_id"), col("scale"), maxErr.as("max_abs_err"),
        when(no === 0.0 || nr === 0.0, lit(null).cast("double"))
          .otherwise(dt / (no * nr)).as("cos_recon"))
      .orderBy("vec_id")
  }

  // ---- e_sq_topk ----------------------------------------------------------

  /** Shortlist depth for the [[sqRerank]] refine stage: the coarse SQ pass
    * keeps this many candidates per query, the exact pass re-scores only
    * those. A serving knob (FAISS's `k_factor`), pinned as a constant so
    * the oracle interpolates one literal. */
  private[queries] val SqRerankR = 30

  /** `(id, codes)` INT8 symmetric scalar-quantized codes of the embedding
    * table — [[vecQuantize]]'s codes put to WORK as a serving index (that
    * key grades reconstruction quality; this device feeds [[sqTopk]] /
    * [[sqRerank]] retrieval). Per vector: s = max|x|/127,
    * code_i = ⌊x_i/s + 0.5⌋ — the max element lands on ±127 exactly, so no
    * clipping branch exists and no vector quantizes to all-zeros (a zero
    * vector would, but the corpus has none and cosine is undefined there
    * anyway). The scale is NOT kept: SQ cosine is scale-free (both s_q and
    * s_c cancel between numerator and norms), so scoring needs only the
    * integer code arrays — see [[sqTopkImpl]].
    *
    * Determinism: one correctly-rounded divide + floor per element (the
    * [[vecQuantize]] contract the spec proves cross-engine); everything
    * after is int64. */
  private def sqCodes(emb: DataFrame, idAs: String, codeAs: String): DataFrame =
    emb.select(col("vec_id").as(idAs), col("embedding").as("e"),
        (aggregate(transform(col("embedding"), x => abs(x.cast("double"))),
          lit(0.0), (a, x) => greatest(a, x)) / 127.0).as("s"))
      .select(col(idAs),
        transform(col("e"),
          x => floor(x.cast("double") / col("s") + 0.5).cast("long")).as(codeAs))

  /** Shared SQ-scored top-k body: codes both sides, scores every
    * (query, candidate) pair by the cosine of the INTEGER code vectors —
    * dot and both squared norms are exact int64 sums, so the only floats
    * are two sqrts and one divide of exactly-represented integers
    * (bit-identical cross-engine with no fold contract needed at all) —
    * and keeps top `k` per query via the bounded-state
    * [[graft.functions.TopKByScoreAggregator]].
    *
    * At scale: the corpus ships 64 int8 codes per vector instead of 64
    * floats (the 4× scan-bandwidth cut that makes SQ the default first
    * compression step), queries broadcast, and the per-query top-k is the
    * map-side-combining aggregate — |queries|·|partitions|·k rows cross
    * the wire, the [[cosineTopkAgg]] shape. */
  private def sqTopkImpl(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val agg = new TopKByScoreAggregator(k)
    val topk = udaf(agg, agg.inputEncoder)
    val emb = table(spark, dir, "embeddings")
    val iSum = (arr: Column) => aggregate(arr, lit(0L), (a, x) => a + x)
    val q = sqCodes(emb.filter(col("vec_id") < 8), "qid", "qc")
      .withColumn("nq2", iSum(transform(col("qc"), x => x * x)))
    val c = sqCodes(emb, "cid", "cc")
      .withColumn("nc2", iSum(transform(col("cc"), x => x * x)))
    val dot = iSum(zip_with(col("qc"), col("cc"), (x, y) => x * y))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("score", dot.cast("double")
        / (sqrt(col("nq2").cast("double")) * sqrt(col("nc2").cast("double"))))
      .groupBy(col("qid"))
      .agg(topk(col("score"), col("cid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("qid", "rank")
  }

  /** INT8 scalar-quantized cosine top-k — the SQ8 serving path (graded in
    * [[annRecall]] as `recall_sq`): [[sqTopkImpl]] at the standard k. */
  def sqTopk(spark: SparkSession, dir: String): DataFrame =
    sqTopkImpl(spark, dir, 10)

  // ---- e_sq_rerank --------------------------------------------------------

  /** Two-stage coarse→refine serving (the FAISS `IndexRefineFlat` shape,
    * the operating point every production deployment actually runs): the
    * SQ8 pass shortlists [[SqRerankR]] candidates per query on compressed
    * codes, then ONLY those are re-scored with exact full-precision cosine
    * and the top 10 re-emitted. Rank and score come from the exact pass,
    * so quantization error can reorder but never mis-score the output.
    *
    * The pinned guarantee (spec + [[annRecall]]'s `recall_sqr` row): hits
    * vs the exact baseline are ≥ the plain SQ pass's per query — any truth
    * vector the shortlist catches survives the exact re-rank, because
    * fewer than k candidates can out-score it under the true metric (the
    * ones that can are truth members themselves).
    *
    * At scale: stage 1 is [[sqTopkImpl]]'s compressed scan; stage 2
    * broadcasts the |queries|·R shortlist against ONE raw-vector scan (the
    * corpus never shuffles; only shortlisted rows are scored) and ranks
    * inside ≤ R-row query groups. Raw vectors are touched for R rows per
    * query — at 100 TB the refine stage reads ~0 of the corpus. */
  def sqRerank(spark: SparkSession, dir: String): DataFrame =
    exactRefine(spark, dir,
      sqTopkImpl(spark, dir, SqRerankR).select(col("qid"), col("cid")))

  // ---- e_split ------------------------------------------------------------

  /** Deterministic leakage-safe train/validation/test split (80/10/10).
    * The fate bucket hashes the document CONTENT (salted [[hash64]] of the
    * text), not the id: byte-identical duplicates land in the SAME split by
    * construction, so a duplicated page can never leak from train into the
    * held-out sets — the split-time guarantee a pretraining pipeline needs
    * even before dedup runs. Assignment is a pure function of content,
    * hence reproducible across re-crawls, re-shards, and cluster sizes.
    *
    * At scale: zero shuffles before the output sort — one projected scan,
    * partition-layout-invariant (spec-pinned). The salt (":split")
    * decorrelates the split fate from every other hash-fate operator
    * ([[stratifiedSample]], [[tempMix]]) so subsampling composed with
    * splitting stays unbiased. */
  /** The salted content-hash split bucket of a text column — THE split-fate
    * definition, shared by [[corpusSplit]] and the NB classifier chain so
    * a consumer can apply the fate scan-side (no join against the split
    * table) without forking the formula. */
  private[queries] def splitBucket(text: Column): Column =
    pmod(hash64(concat(text, lit(":split"))), lit(100L))

  /** Bucket → split-name assignment (80/10/10) — [[splitBucket]]'s twin. */
  private[queries] def splitName(bucket: Column): Column =
    when(bucket < 80, lit("train"))
      .when(bucket < 90, lit("val"))
      .otherwise(lit("test"))

  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        splitBucket(col("text")).as("bucket"))
      .withColumn("split", splitName(col("bucket")))
      .orderBy("doc_id")
  }

  // ---- e_split_contamination ----------------------------------------------

  /** Split-level contamination audit — the leakage report a team reads
    * before trusting held-out numbers: per train/val/test split (from the
    * leakage-safe [[corpusSplit]]), how many corpus documents share ≥ 1
    * 3-gram shingle with the benchmark set ([[decontaminate]]'s criterion),
    * and the contamination rate. A contaminated TEST split means the eval
    * was memorizable no matter how clean training was — this report is why
    * decontamination runs before splitting in a production pipeline.
    *
    * Composes the two graded operators' own derivations (and the oracle
    * composes their SQL texts), so the audit cannot drift from the split
    * and contamination definitions it reports on.
    *
    * At scale: both inputs are id-keyed slim frames (the split assignment
    * and the contaminated-id set); the report is one |splits|-row
    * aggregate, map-side combined. */
  def splitContamination(spark: SparkSession, dir: String): DataFrame = {
    val splits = corpusSplit(spark, dir)
      .select(col("doc_id"), col("split"))
      .filter(col("doc_id") >= DecontamBenchIds) // decontaminate's corpus side
    val contam = decontaminate(spark, dir)
      .select(col("doc_id"), lit(1L).as("c"))
    splits.join(contam, Seq("doc_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), count(col("c")).as("n_contaminated"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast("double") / col("n_docs").cast("double"))
      .orderBy("split")
  }

  // ---- e_centroid_score ---------------------------------------------------

  /** Nearest-centroid embedding classifier — the model-based quality/domain
    * filtering shape (a fastText-style classifier distilled to its linear
    * core): per-label mean-direction centroids are learned from the corpus,
    * every vector is scored against all of them by cosine, and the argmax
    * label, best score, top-2 margin, and agreement with the true label are
    * emitted. Low-margin rows are exactly the ones a curation pipeline
    * routes to human review or a bigger model.
    *
    * Determinism: centroid components are INTEGER sums of fixed-point
    * quantized elements (⌊v·2²⁰ + 0.5⌋ — the same single-rounded
    * floor(x+0.5) contract [[vecQuantize]] proves cross-engine; decimal
    * casts of doubles do NOT round identically across engines), so the
    * per-label sum is exact and partition-order-invariant — the one way a
    * distributed mean can hash-match a single-node oracle. Cosine is
    * scale-invariant, so the unnormalized fixed-point sum vector serves as
    * the centroid direction: no mean divide and no dequantization exist at
    * all. Sums stay inside int64 up to ~3·10¹² rows per label (|v|·2²⁰ ≈
    * 3·10⁶ each); beyond that, widen the shift or shard the sum. Every
    * double afterwards follows the sequential-fold contract.
    *
    * At scale: the explode shuffles |labels|·dim partial sums (map-side
    * combined — never N·dim rows); the |labels|-row centroid table
    * broadcasts back onto one corpus scan; per-vector ranking is a bounded
    * collect_list aggregate over exactly |labels| candidate rows (a model
    * constant), so the post-score shuffle carries N slim rows, no vectors. */
  def centroidScore(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val comp = emb
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "dim", "v")
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * lit(1048576.0) + 0.5)
        .cast("long")).cast("double").as("s"))
    val cents = comp.groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("s")))).as("pairs"))
      .select(col("label").as("clabel"),
        transform(col("pairs"), p => p("s")).as("ce"))
      .withColumn("ncent", sqrt(seqSum(transform(col("ce"), x => x * x))))
    val vecs = emb.select(col("vec_id"), col("label"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
      .filter(col("nrm") > 0.0)
    val dot = dotD(col("e"), col("ce"))
    val ranked = vecs.crossJoin(broadcast(cents))
      .withColumn("score", dot / (col("nrm") * col("ncent")))
      .groupBy(col("vec_id"), col("label"))
      .agg(sort_array(collect_list(
        struct((-col("score")).as("ns"), col("clabel")))).as("r"))
    ranked.select(col("vec_id"), col("label"),
        col("r")(0)("clabel").as("pred_label"),
        (-col("r")(0)("ns")).as("score"),
        (col("r")(1)("ns") - col("r")(0)("ns")).as("margin"),
        when(col("r")(0)("clabel") === col("label"), 1L).otherwise(0L)
          .as("correct"))
      .orderBy("vec_id")
  }

  // ---- e_nb_train / e_nb_classify / e_nb_eval -----------------------------

  /** Fixed-point scale (2³⁰) for NB token-class likelihoods — the
    * [[bigramLmBody]] device: a single floor(x·2³⁰ + 0.5) rounding makes
    * every likelihood an exact int64 both engines compare identically. */
  private[queries] val NbFpScale = 1073741824.0

  /** Token instances with their [[splitBucket]] fate attached SCAN-SIDE —
    * the shared root of the NB chain. No join against the split table:
    * the fate is a pure expression of the text, so train/test carving
    * costs nothing beyond the tokenizing scan itself. */
  private def nbToked(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        splitName(splitBucket(col("text"))).as("split"),
        explode(tokens(col("text"))).as("tok"))

  /** The trained voting table over TRAIN token instances: `votes`
    * (tok → argmax-likelihood lang, ties to the smallest lang) and the
    * 1-row unseen-token default vote. Laplace-smoothed multinomial
    * likelihoods fp(t,c) = ⌊(c(t,lang)+1)/(N_lang+V)·2³⁰+0.5⌋ are exact
    * int64, so every argmax is an integer comparison — no float boundary
    * can flip a vote between engines. The unseen default falls out of the
    * same smoothing: all classes score (0+1)/(N_lang+V), so the argmax is
    * the smallest-corpus class (deterministic, prior-free — documented
    * rather than hidden).
    *
    * At scale everything is vocab-bounded: counts and totals are map-side
    * combined aggregates over the token scan; the |vocab|×|langs| grid is
    * a broadcast of the |langs|-row totals against the distinct vocab; the
    * argmax is a groupBy-on-tok max + equi-join filter. No corpus-sized
    * shuffle appears after the initial count. */
  private def nbVotes(train: DataFrame): (DataFrame, DataFrame) = {
    val counts = train.groupBy(col("tok"), col("lang")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = train.groupBy(col("lang")).agg(count(lit(1)).as("n_c"))
    val vocab = counts.agg(countDistinct(col("tok")).as("v"))
    val grid = counts.select(col("tok")).distinct()
      .crossJoin(broadcast(totals))
      .join(counts, Seq("tok", "lang"), "left")
      .select(col("tok"), col("lang"), coalesce(col("c"), lit(0L)).as("c"),
        col("n_c"))
      .crossJoin(broadcast(vocab))
      .withColumn("fp", floor((col("c") + 1).cast("double")
        / (col("n_c") + col("v")).cast("double") * lit(NbFpScale) + 0.5)
        .cast("long"))
    val best = grid.groupBy(col("tok")).agg(max(col("fp")).as("bfp"))
    val votes = grid.join(best, Seq("tok"))
      .filter(col("fp") === col("bfp"))
      .groupBy(col("tok")).agg(min(col("lang")).as("vote"))
    val defg = totals.crossJoin(broadcast(vocab))
      .withColumn("fp", floor(lit(1.0)
        / (col("n_c") + col("v")).cast("double") * lit(NbFpScale) + 0.5)
        .cast("long"))
    val dbest = defg.agg(max(col("fp")).as("bfp"))
    val defVote = defg.crossJoin(broadcast(dbest))
      .filter(col("fp") === col("bfp"))
      .agg(min(col("lang")).as("dv"))
    (votes, defVote)
  }

  /** Naive-Bayes language-classifier TRAINING — the trained counterpart of
    * the heuristic [[langId]], and the same shape as the fastText-style
    * quality/domain classifiers curation stacks train all day: multinomial
    * token-class counts with Laplace smoothing, learned on the
    * [[corpusSplit]] train fate only (the leakage discipline — eval never
    * sees its own tokens in the counts). The graded artifact is the
    * |langs|-row model card: per class, its document/token/vocab mass and
    * how many vocabulary tokens VOTE for it under [[nbVotes]]' exact
    * fixed-point argmax — the summary a model registry stores next to the
    * count table. */
  def nbTrain(spark: SparkSession, dir: String): DataFrame = {
    val train = nbToked(spark, dir).filter(col("split") === "train")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (votes, _) = nbVotes(train)
    val stats = train.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_vocab"))
    val nv = votes.groupBy(col("vote").as("lang"))
      .agg(count(lit(1)).as("n_vote_tokens"))
    stats.join(nv, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_vocab"),
        coalesce(col("n_vote_tokens"), lit(0L)).as("n_vote_tokens"))
      .orderBy("lang")
  }

  /** Held-out NB classification — votes from the train-fate counts are
    * applied to every TEST-fate document: each token instance votes for
    * its argmax-likelihood class ([[nbVotes]] — exact integers), unseen
    * tokens fall to the smoothing default, and the document takes the
    * majority vote (ties to the smallest lang). Majority-of-token-votes is
    * deliberately NOT log-sum NB: per token the vote is rank-equivalent to
    * the likelihood, but the document-level decision can differ from the
    * product-of-likelihoods rule — stated plainly (the bm25 idf lesson)
    * and chosen because it keeps the whole decision integer-exact.
    *
    * At scale: the corpus-side token scan equi-joins the vocab-bounded
    * vote table on `tok` (broadcastable while |vocab| fits; co-partitioned
    * otherwise), the per-doc tally is a map-side-combined count over
    * ≤|langs| rows per doc, and the winner window partitions by doc over
    * those bounded groups. */
  def nbClassify(spark: SparkSession, dir: String): DataFrame = {
    val toked = nbToked(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (votes, defVote) = nbVotes(toked.filter(col("split") === "train"))
    val voted = toked.filter(col("split") === "test")
      .join(votes, Seq("tok"), "left")
      .crossJoin(broadcast(defVote))
      .select(col("doc_id"), col("lang"),
        coalesce(col("vote"), col("dv")).as("vote"))
    val tally = voted.groupBy(col("doc_id"), col("lang"), col("vote"))
      .agg(count(lit(1)).as("n"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val wWin = wDoc.orderBy(col("n").desc, col("vote").asc)
    tally
      .withColumn("rn", row_number().over(wWin))
      .withColumn("n_votes", sum(col("n")).over(wDoc))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("vote").as("pred"),
        col("n").as("n_win"), col("n_votes"),
        (col("lang") === col("vote")).as("correct"))
      .orderBy("doc_id")
  }

  /** NB classifier evaluation harness — the held-out confusion matrix over
    * [[nbClassify]]'s own output (the composition pattern: the evaluation
    * executes the graded classifier's derivation, and the oracle composes
    * its SQL text, so the matrix cannot drift from the predictions it
    * summarizes). |langs|² bounded rows; one aggregate. */
  def nbEval(spark: SparkSession, dir: String): DataFrame =
    nbClassify(spark, dir)
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")

  // ---- e_calibration ------------------------------------------------------

  /** Reliability-diagram bucket count. */
  private[queries] val CalibrationBuckets = 5L

  /** Classifier calibration report (reliability diagram) over
    * [[nbClassify]]'s held-out predictions — the "is 80 % confidence right
    * 80 % of the time" audit that decides whether a quality/language
    * classifier's scores can gate data at a threshold or only rank it:
    * per-document confidence = winning-vote share (exact integers from
    * the classifier's own n_win/n_votes), bucketed into
    * [[CalibrationBuckets]] equal-width bins; each bin reports document
    * count, empirical accuracy, mean confidence, and the calibration gap
    * (accuracy − confidence; ECE is the count-weighted |gap| sum, left to
    * the reader so every emitted number stays a per-bin fact). COMPOSES
    * the graded classifier (the [[nbEval]] device): the oracle wraps
    * `e_nb_classify`'s SQL text, so the report cannot drift from the
    * predictions it audits.
    *
    * DETERMINISM: bucket = (n_win·B) div n_votes (floor of non-negative
    * ints, clamped so share 1.0 lands in the top bin) and per-doc
    * fixed-point confidence (n_win·10⁶) div n_votes are integer-exact;
    * bin sums are int64; accuracy, mean confidence, and gap are
    * correctly-rounded IEEE ops from exact operands.
    *
    * At scale: one |test docs|-row pass over the classifier output, one
    * B-group map-side-combined aggregate — the report adds nothing to the
    * classifier's own cost profile. */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val b = CalibrationBuckets
    nbClassify(spark, dir)
      .select(col("correct"),
        least(expr(s"(n_win * $b) div n_votes"), lit(b - 1)).as("bucket"),
        expr("(n_win * 1000000) div n_votes").as("conf_fp"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("correct").cast("long")).as("n_correct"),
        sum(col("conf_fp")).as("sum_conf_fp"))
      .select(col("bucket"), col("n_docs"), col("n_correct"),
        // the exact integer confidence mass is part of the contract: ECE
        // consumers (the datasheet audit row) need |n_correct·10⁶ −
        // Σconf_fp| in EXACT longs, which the rounded mean_conf double
        // cannot be inverted back into
        col("sum_conf_fp"),
        (col("n_correct").cast("double") / col("n_docs").cast("double"))
          .as("accuracy"),
        (col("sum_conf_fp").cast("double") / col("n_docs").cast("double")
          / lit(1000000.0)).as("mean_conf"))
      .withColumn("gap", col("accuracy") - col("mean_conf"))
      .orderBy("bucket")
  }

  // ---- e_nb_threshold -----------------------------------------------------

  /** Confidence thresholds swept, in tenths (τ = t/10 for t = 0..9). */
  private[queries] val NbThresholdSteps = 10L

  /** Selective-prediction threshold sweep (risk–coverage table) over
    * [[nbClassify]]'s held-out predictions — the LAST knob of the
    * classifier family (train → classify → eval → calibrate → TUNE):
    * a data-gating classifier is deployed with an ABSTENTION threshold
    * ("act on the prediction only when confidence ≥ τ; route the rest to
    * fallback"), and this table is how τ gets picked — per threshold, how
    * many documents the gate acts on (`coverage`) and how accurate it is
    * on exactly those (`sel_accuracy`, the complement of selective risk).
    * Reading it next to [[calibration]]: calibration says whether the
    * confidence NUMBERS mean anything; this says what each cutoff BUYS.
    *
    * Determinism: the accept test is exact integers — confidence
    * n_win/n_votes ≥ t/10 evaluated as n_win·10 ≥ t·n_votes (no float
    * compare at the boundary); counts and two divides per row.
    *
    * At scale: one pass over the |test docs| prediction frame per —
    * actually, ONE pass total: each document contributes to every
    * threshold row it clears via a broadcast range join on the integer
    * accept test, then a map-side-combined count per threshold; output
    * is [[NbThresholdSteps]] rows. Composes the graded classifier — a
    * harness key (oracle composes `e_nb_classify`'s SQL text). */
  def nbThreshold(spark: SparkSession, dir: String): DataFrame = {
    // PERSISTED: the classifier's vote/join/window tail feeds BOTH the
    // total count and the per-threshold sweep — matching the oracle's
    // MATERIALIZED `preds` CTE (the vacuumPlan/serveDrift dual-consumer
    // discipline). CACHING CONTRACT: callers clearCache() after
    // materializing.
    val preds = nbClassify(spark, dir)
      .select(col("correct"), col("n_win"), col("n_votes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = spark.range(0L, NbThresholdSteps).select(col("id").as("t"))
    val totals = preds.agg(count(lit(1)).as("n_docs"))
    val acc = preds
      .join(broadcast(thr),
        col("n_win") * lit(NbThresholdSteps) >= col("t") * col("n_votes"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_accepted"),
        sum(col("correct").cast("long")).as("n_correct_acc"))
    // every threshold keeps its row — a cutoff nothing clears reports
    // coverage 0 with NULL selective accuracy (0/0 is undefined, not 0)
    thr.join(acc, Seq("t"), "left")
      .na.fill(0L, Seq("n_accepted", "n_correct_acc"))
      .crossJoin(broadcast(totals))
      .select(col("t"), col("n_docs"), col("n_accepted"), col("n_correct_acc"),
        (col("n_accepted").cast("double") / col("n_docs").cast("double"))
          .as("coverage"),
        when(col("n_accepted") === 0, lit(null).cast("double"))
          .otherwise(col("n_correct_acc").cast("double")
            / col("n_accepted").cast("double"))
          .as("sel_accuracy"))
      .orderBy("t")
  }

  // ---- e_dedup_eval -------------------------------------------------------

  /** Fuzzy-dedup evaluation harness as a first-class oracle-checked query —
    * the dedup twin of [[annRecall]]: recall and precision of the
    * signature-based families ([[minhashDedup]], [[simhashDedup]]) against
    * the EXACT ground truth (all pairs with 3-gram-shingle Jaccard ≥ 0.5,
    * found by an inverted-index postings join — never all-pairs). This is
    * the measurement run before trusting an LSH configuration's recall at a
    * new threshold; keeping it a declared query puts the recall numbers
    * themselves under the cross-engine hash gate.
    *
    * Built-in sanity: minhash VERIFIES candidates with the same exact
    * Jaccard criterion, so its predicted pairs are a subset of truth —
    * precision 1.0 and n_hit = n_pred structurally (spec-pinned). SimHash
    * answers a different contract (Hamming ≤ 1), so both its recall and
    * precision are informative.
    *
    * At scale: exact ground truth is inherently postings-join-priced
    * (candidates = pairs sharing ≥ 1 shingle), so — like every recall
    * evaluation — this harness runs on a bounded sample, while each graded
    * family's own operator carries the 100 TB path; the metric frames
    * joined here are |pairs|-sized, never corpus-sized. The one quadratic
    * knob is shingle document frequency, and it IS capped
    * ([[DedupEvalDfCap]]): candidate generation drops stop-shingles (df >
    * cap), so no single hot 3-gram can make the postings join quadratic in
    * its posting-list length. "Truth" is therefore formally "J ≥ 0.5 pairs
    * sharing ≥ 1 rare shingle" — identical to the uncapped exact truth at
    * the gate scale (cap exceeds the corpus's max df there; spec-pinned),
    * conservative by ≤ 1 % at sf0.1. */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    val shd = shingleSets(docsWithVariants(spark, dir)
        .select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Truth candidates come from an inverted-index join over RARE shingles
    // only (the shared rareShinglePostings index — df-capped so no hot
    // 3-gram can make the join quadratic), then every candidate is
    // verified with EXACT Jaccard on the FULL shingle sets — the same
    // candidate→verify shape as the minhash family itself, via the shared
    // verifiedJaccardPairs tail.
    val rare = rareShinglePostings(shd)
    val cand = rare.as("x")
      .join(rare.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val truth = verifiedJaccardPairs(cand, shd)
      .select(col("doc_a"), col("doc_b"))
      .persist()
    // ONE full-outer join per family computes all three counts in a single
    // pass, so each family's detection pipeline executes exactly once — the
    // separate count/hit formulation consumed `pred` twice and re-ran the
    // whole unpersisted family pipeline for the hit join. Truth and pred
    // pairs are unique, so the join is 1:1 and the indicator sums are exact
    // set cardinalities.
    def metrics(family: String, pred: DataFrame): DataFrame = {
      val t = truth.withColumn("in_t", lit(1L))
      val p = pred.select(col("doc_a"), col("doc_b")).withColumn("in_p", lit(1L))
      t.join(p, Seq("doc_a", "doc_b"), "full_outer")
        .agg(coalesce(sum(col("in_t")), lit(0L)).as("n_truth"),
          coalesce(sum(col("in_p")), lit(0L)).as("n_pred"),
          count(when(col("in_t").isNotNull && col("in_p").isNotNull, 1))
            .as("n_hit"))
        .select(lit(family).as("family"),
          col("n_truth"), col("n_pred"), col("n_hit"))
    }
    // the minhash family is graded THROUGH the same materialized shingle
    // frame the truth set uses — one shingling pass, and structurally the
    // same sets (a second derivation could silently drift)
    metrics("minhash", minhashVerifiedPairsFrom(shd))
      .unionAll(metrics("simhash", simhashDedup(spark, dir)))
      .select(col("family"), col("n_truth"), col("n_pred"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth").cast("double"))
          .as("recall"),
        (col("n_hit").cast("double") / col("n_pred").cast("double"))
          .as("precision"))
      .orderBy("family")
  }

  // ---- e_reservoir --------------------------------------------------------

  /** Fixed-size sample sizes: [[ReservoirGlobalK]] documents corpus-wide
    * plus [[ReservoirPerLang]] per language stratum. */
  private[queries] val ReservoirGlobalK = 200
  private[queries] val ReservoirPerLang = 50

  /** Fixed-SIZE uniform sampling — the deterministic analogue of reservoir
    * sampling, and the missing sibling of the fixed-RATE samplers
    * ([[stratifiedSample]], [[tempMix]]): "give me exactly k documents,
    * uniformly, whatever the corpus size" is what eval-set carving, spot
    * audits, and labeling budgets actually ask for, and a rate cannot
    * deliver it. Every document draws a salted 52-bit sample key (a pure
    * function of doc_id — re-runs and re-shards agree on the draw); the
    * sample is the k smallest keys. Emitted strata: `global` (k =
    * [[ReservoirGlobalK]]) and one per language (k = [[ReservoirPerLang]]
    * each — the fixed-size-per-stratum shape a balanced eval set needs).
    *
    * Keys live in [0, 2^52): exactly representable as doubles, so the
    * bounded aggregate's (score DESC, id ASC) order over NEGATED keys IS
    * (key ASC, id ASC) — no precision cliff, and the recovered key is
    * bit-exact.
    *
    * At scale: the global k-smallest is `TakeOrderedAndProject` — each
    * partition keeps its local top-k and only |partitions|·k rows reach the
    * driver-side merge, the classic distributed-selection plan. The
    * per-stratum path is the bounded-state
    * [[graft.functions.TopKByScoreAggregator]] (map-side partials cap at
    * 4k rows per partition × stratum), NOT a ranking window — a 100 TB
    * corpus never sorts, never shuffles more than |langs|·|partitions|·k
    * slim rows. */
  def reservoirSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val keyExpr = pmod(
      hash64(concat(lit("rsv:"), col("doc_id").cast("string"))), lit(1L << 52))
    val keyed = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), keyExpr.as("sample_key"))
    val global = keyed
      .orderBy(col("sample_key").asc, col("doc_id").asc)
      .limit(ReservoirGlobalK)
      .select(lit("global").as("stratum"), col("doc_id"), col("sample_key"))
    val agg = new TopKByScoreAggregator(ReservoirPerLang)
    val topk = udaf(agg, agg.inputEncoder)
    val perLang = keyed
      .groupBy(col("lang"))
      .agg(topk(-col("sample_key").cast("double"), col("doc_id")).as("tk"))
      .select(col("lang").as("stratum"), explode(col("tk")).as("s"))
      .select(col("stratum"), col("s.id").as("doc_id"),
        (-col("s.score")).cast("long").as("sample_key"))
    global.unionByName(perLang).orderBy("stratum", "doc_id")
  }

  // ---- e_scd2 -------------------------------------------------------------

  /** Slowly-changing-dimension (type 2) build: compact a daily activity
    * snapshot stream into versioned validity intervals — the nightly MERGE
    * every warehouse dimension table runs, as one declarative plan. Stage 1
    * derives the daily snapshot: each (user, day)'s dominant event type
    * (count DESC, type ASC tie-break — the [[RefQueries.topCategory]] mode
    * device). Stage 2 collapses consecutive equal-attribute days into runs
    * (lag-compare → change flag → running-sum version id) and emits one row
    * per run with `[valid_from_day, valid_to_day)` bounds (lead of the next
    * run's start; NULL + is_current on the open run).
    *
    * Days are epoch-day INTEGERS (`unix_micros div 86_400_000_000`)
    * end-to-end — the [[RefQueries.sessionize]] lesson: integers beat
    * temporal types under the cross-engine hash gate.
    *
    * At scale: the snapshot groupBy map-side-combines to |user·day·type|
    * slim partials; everything after partitions by user — per-user state is
    * that user's day count, and user_id is exactly the key a 100 TB
    * dimension build would partition on. One corpus-sized shuffle total
    * (the groupBy); the window stages reuse its user-keyed exchange. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val wMode = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("n_day").desc, col("event_type").asc)
    val snapshot = table(spark, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .groupBy(col("user_id"), col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_day"))
      .withColumn("rn", row_number().over(wMode))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("event_type").as("tier"))
    val wDays = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    val runs = snapshot
      .withColumn("chg",
        when(lag(col("tier"), 1).over(wDays).isNull ||
          lag(col("tier"), 1).over(wDays) =!= col("tier"), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        wDays.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // tier is constant within a run, so min is a deterministic pick
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("tier")).as("tier"),
        min(col("day")).as("valid_from_day"),
        count(lit(1)).as("n_days"))
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("version").asc)
    runs
      .withColumn("valid_to_day", lead(col("valid_from_day"), 1).over(wVer))
      .withColumn("is_current", col("valid_to_day").isNull)
      .select(col("user_id"), col("version"), col("tier"),
        col("valid_from_day"), col("valid_to_day"), col("n_days"),
        col("is_current"))
      .orderBy("user_id", "version")
  }

  // ---- e_rolling_agg ------------------------------------------------------

  /** Users kept in the rolling-aggregate output (a monitoring panel, not
    * the whole population — keeps verify output bounded while the window
    * semantics are exercised in full). */
  private[queries] val RollingUsers = 30L
  /** Trailing window width: 7 days in epoch micros. */
  private[queries] val RollingWindowMicros: Long = 7L * 86400000000L

  /** Time-RANGE rolling aggregates — per-user trailing-7-day event count,
    * value sum, and max at every event, the moving-window health metric
    * shape (rolling error rates, rolling spend) that neither a tumbling
    * window ([[RefQueries.filterBetween]]'s weekly rollup) nor a lag
    * ([[RefQueries.dodGrowth]]) expresses: the frame is RANGE-based over
    * event-time micros, so sparse and bursty users get the same 7-day
    * horizon, not the same row count.
    *
    * Determinism: the frame key is integer micros; count is integer; the
    * rolling sum is over `floor(value·10⁶)` fixed-point LONGS (floor is an
    * exactly-rounded IEEE op, integer sums are order-free — the
    * [[centroidScore]] device applied to a window frame); max is IEEE max.
    * RANGE peers (equal-micros events) enter the frame together in both
    * engines by SQL semantics, so ties cannot reorder results.
    *
    * At scale: one shuffle on user_id, per-user frames bounded by the
    * user's 7-day event volume — the state a streaming engine would hold
    * for the same query; Spark's range-frame window keeps a sliding buffer
    * per partition, never the whole partition in memory. */
  def rollingAgg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us").asc)
      .rangeBetween(-RollingWindowMicros, 0)
    table(spark, dir, "events")
      .filter(col("user_id") < RollingUsers)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value"))
      .withColumn("v_micro", floor(col("value") * lit(1000000.0)).cast("long"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d_micro", sum(col("v_micro")).over(w))
      .withColumn("max_7d", max(col("value")).over(w))
      .select(col("user_id"), col("event_id"), col("us"), col("n_7d"),
        col("sum_7d_micro"), col("max_7d"))
      .orderBy("user_id", "us", "event_id")
  }

  // ---- e_skyline ----------------------------------------------------------

  /** Per-language Pareto skyline of (token count, distinct-token count) —
    * the multi-objective selection shape ("longest AND most lexically
    * diverse, no document better on both") a curation pass uses when no
    * single score should decide. Dominance convention, pinned: a document
    * is dominated iff some same-language document has STRICTLY more tokens
    * and ≥ its distinct count; among equal token counts only the highest
    * distinct count (min doc_id on ties) survives. Two relational steps:
    * a (lang, n_tokens) group-max, then a RANGE frame over the strictly-
    * greater token counts (offset 1 on an integer order key ⇒ strict) —
    * the 2D skyline as one window, no self-join, no quadratic dominance
    * test. All comparisons are integer.
    *
    * At scale: one groupBy shuffle + one lang-partitioned window over the
    * |lang × distinct n_tokens| REDUCED frame (not the corpus); the
    * classic sort-based skyline, with the language key keeping partitions
    * real. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("lang"), size(col("t")).as("n_tokens"),
        size(array_distinct(col("t"))).as("n_distinct"))
    val best = toked
      .groupBy(col("lang"), col("n_tokens"))
      .agg(max(struct(col("n_distinct"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("lang"), col("n_tokens"), col("m.n_distinct").as("n_distinct"),
        (-col("m.nid")).as("doc_id"))
    val wGreater = Window.partitionBy(col("lang")).orderBy(col("n_tokens").asc)
      .rangeBetween(1, Window.unboundedFollowing)
    best
      .withColumn("max_dist_longer", max(col("n_distinct")).over(wGreater))
      .filter(col("max_dist_longer").isNull ||
        col("n_distinct") > col("max_dist_longer"))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("n_distinct"))
      .orderBy("lang", "n_tokens")
  }

  // ---- e_stickiness -------------------------------------------------------

  /** Trailing window for the stickiness denominator: 30 days. */
  private[queries] val StickinessWindowDays = 30L

  /** DAU/MAU stickiness — for every active day, the distinct users active
    * THAT day over the distinct users active in the trailing
    * [[StickinessWindowDays]] days: the engagement ratio every product
    * dashboard tracks, and a distinct-count-over-sliding-window shape that
    * neither a tumbling window nor [[rollingAgg]]'s frame (which counts
    * rows, not distinct users) expresses. The ratio is one int→double
    * divide.
    *
    * At scale: the (user, day) distinct reduces the fact table once; the
    * |days|-row calendar BROADCASTS against it (each active-pair row lands
    * in ≤ 30 windows, so the expansion is 30×|active|, never |active|²);
    * the per-window distinct is one map-side-combined countDistinct. At
    * calendar sizes where the broadcast no longer fits — decades of days —
    * [[graft.operators.RangeJoin]]'s binned equi-join replaces the
    * broadcast nested loop; same semantics. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    // PERSISTED: three consumers (calendar, DAU, the window join) —
    // unpersisted, the fact-table distinct executes three times. Slim.
    val active = table(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .persist()
    val days = active.select(col("day").as("d")).distinct()
    val dau = active.groupBy(col("day").as("d")).agg(count(lit(1)).as("dau"))
    val mau = active
      .join(broadcast(days),
        col("day") > col("d") - StickinessWindowDays && col("day") <= col("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, Seq("d"))
      .select(col("d").as("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
      .orderBy("day")
  }

  // ---- e_collocations -----------------------------------------------------

  /** Collocation selection knobs: minimum pair count (PMI is unstable on
    * rare pairs) and the report size. */
  private[queries] val CollocMinCount = 5L
  private[queries] val CollocTopK = 20

  /** Collocation mining — the corpus's top token bigrams by pointwise
    * mutual information, the classic "new york"/"machine learning"
    * detector feeding tokenizer merge rules, stopword curation and
    * phrase-index vocabularies. PMI's log is MONOTONE, so ranking by the
    * exp form `c_ab·N_u² / (N_p·c_a·c_b)` is rank-identical with NO
    * transcendental anywhere (the [[bm25Topk]] rational-idf device):
    * numerator and denominator are exact longs (both emitted), the
    * strength one int→double divide. Pairs below [[CollocMinCount]] are
    * dropped — rare-pair PMI is noise — and the report is the global
    * [[CollocTopK]] by (strength DESC, a ASC, b ASC).
    *
    * At scale: adjacent-pair extraction is scan-side (zip of two array
    * slices, exploded); pair and unigram counts map-side-combine; the
    * 1-row totals broadcast; the final selection is distributed
    * TakeOrderedAndProject ([[reservoirSample]]'s device), never a global
    * sort. Overflow: c_ab·N_u² < 2⁶³ up to ~10⁹ corpus tokens at the
    * min-count floor; widen to decimal(38,0) beyond. */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .withColumn("t1", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("t2", slice(col("t"), lit(2), size(col("t")) - 1))
    val pairs = toked
      .select(explode(arrays_zip(col("t1"), col("t2"))).as("p"))
      .select(col("p.t1").as("a"), col("p.t2").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocMinCount)
      // PERSISTED: the pair total AND the PMI join both read it —
      // unpersisted, the adjacent-pair extraction scans the corpus twice.
      .persist()
    val uni = table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .persist()
    val totals = uni.agg(sum(col("c")).as("n_uni"))
      .crossJoin(pairs.agg(sum(col("c_ab")).as("n_pairs")))
    pairs
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab") * col("n_uni") * col("n_uni")).as("pmi_num"),
        (col("n_pairs") * col("c_a") * col("c_b")).as("pmi_den"))
      .withColumn("strength",
        col("pmi_num").cast("double") / col("pmi_den").cast("double"))
      .orderBy(col("strength").desc, col("a").asc, col("b").asc)
      .limit(CollocTopK)
  }

  // ---- e_window_suite -----------------------------------------------------

  /** Users kept in the window-suite output (bounds verify size; the window
    * semantics are exercised in full). */
  private[queries] val WindowSuiteUsers = 15L

  /** The remaining rank-family and frame-navigation window functions in
    * one oracle-checked pass — percent_rank, cume_dist, first/last/nth
    * value over an unbounded frame — completing the §2.5 surface next to
    * row_number ([[RefQueries.topCategory]]), lag ([[RefQueries
    * .dodGrowth]]), lead ([[scd2]]), ntile ([[RefQueries.ntileQuartile]])
    * and range frames ([[rollingAgg]]). The order key (value, event_id) is
    * a total order, so cume_dist has no peer groups and both rank
    * fractions are single int→double divides — bit-stable cross-engine.
    *
    * At scale: one shuffle on event_type; the unbounded-frame navigation
    * values are per-partition constants Spark computes in the same pass as
    * the ranks. */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    table(spark, dir, "events")
      .filter(col("user_id") < WindowSuiteUsers)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("v_first", first(col("value")).over(wf))
      .withColumn("v_last", last(col("value")).over(wf))
      .withColumn("v_nth3", nth_value(col("value"), 3).over(wf))
      .orderBy("event_type", "event_id")
  }

  // ---- e_histogram --------------------------------------------------------

  /** Equi-width histogram bucket count. */
  private[queries] val HistogramBuckets = 10

  /** Per-type equi-width value histogram — the numeric-profile primitive
    * ([[textStats]]' numeric sibling) a datasheet or drift monitor plots:
    * [[HistogramBuckets]] equal-width bins between each type's min and
    * max, the max itself closing into the last bin. The bin expression
    * `floor((v − lo) / (hi − lo) · B)` is a fixed sequence of
    * correctly-rounded IEEE ops mirrored token-for-token in the oracle, so
    * bin assignment is bit-stable; counts are integers. A degenerate type
    * (hi = lo) collapses into bin 0 rather than dividing by zero.
    *
    * At scale: one map-side-combined bounds aggregate, |types|-row bounds
    * broadcast back, one map-side-combined (type, bin) count — two
    * corpus scans, no corpus-sized shuffle. Empty bins are absent (sparse
    * output), which is what a 10⁹-bucket profile needs anyway. */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events").select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val b = lit(HistogramBuckets)
    val bin = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(
        floor((col("value") - col("lo")) / (col("hi") - col("lo")) * b),
        lit(HistogramBuckets.toLong - 1)))
    ev.join(broadcast(bounds), Seq("event_type"))
      .groupBy(col("event_type"), bin.as("bin"))
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .select(col("event_type"), col("bin"), col("n"), col("lo"), col("hi"))
      .orderBy("event_type", "bin")
  }

  // ---- e_cube_agg ---------------------------------------------------------

  /** CUBE aggregation — every grouping-set combination of (event type,
    * epoch day) in one pass: the OLAP rollup surface ([[RefQueries
    * .rollupAgg]] covers the hierarchical ROLLUP; CUBE is the full
    * lattice, what a pivot-table backend asks the engine for). Subtotal
    * rows label their collapsed dimensions explicitly (`ALL` / −1) instead
    * of exposing grouping-id bit vectors — the fixture columns are never
    * NULL, so the labels are unambiguous, and the oracle needs no
    * engine-specific GROUPING() bit-order agreement. The summed measure is
    * fixed-point `floor(value·10⁶)` longs ([[rollingAgg]]'s device), so
    * every cell is integer-exact.
    *
    * At scale: Spark expands CUBE into one Expand + hash aggregate —
    * 4 grouping sets ⇒ 4× the input rows into a map-side-combined
    * aggregate, still one shuffle; the output is the |types|·|days| lattice
    * (+ margins). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * lit(1000000.0)).cast("long").as("v_micro"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_micro")).as("v_micro_sum"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type_g"),
        coalesce(col("day"), lit(-1L)).as("day_g"),
        col("n_events"), col("v_micro_sum"))
      .orderBy("event_type_g", "day_g")

  // ---- e_triangles --------------------------------------------------------

  /** Per-node triangle count + local clustering coefficient over the
    * [[knnGraph]] similarity graph — the graph-cohesion audit next to
    * [[pageRank]] (centrality) and [[labelProp]] (propagation): a node
    * whose neighbors also neighbor each other sits in a dense semantic
    * cluster; coefficient 0 flags hub-like or noisy embeddings. Edges are
    * undirected (the knn adjacency symmetrized, deduped, oriented
    * u < v); triangles are the classic ordered 3-join a < b < c, counted
    * once each and credited to all three corners. The coefficient is ONE
    * int→double divide: 2·T / (deg·(deg−1)).
    *
    * At scale: the ordered 3-join's cost is Σ_v deg(v)² — bounded here by
    * the knn degree cap ([[KnnK]] per direction), which is exactly why
    * triangle counting is tractable on knn graphs and not on power-law
    * webs (there you count on the degree-ordered orientation for the same
    * bound). The oracle composes the graded `e_knn_graph` SQL text. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnGraph(spark, dir)
      .select(col("src"), col("nbr"))
    val und = knn
      .unionByName(knn.select(col("nbr").as("src"), col("src").as("nbr")))
      .distinct()
      .persist()
    val edges = und.filter(col("src") < col("nbr")).persist()
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.nbr") === col("e2.src"))
      .join(edges.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.nbr") === col("e3.nbr"))
      .select(col("e1.src").as("a"), col("e1.nbr").as("b"), col("e2.nbr").as("c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("vec_id"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("deg") >= 2,
          lit(2.0) * col("n_triangles").cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("vec_id")
  }

  // ---- e_trend ------------------------------------------------------------

  /** Per-type daily-volume trend — the ordinary-least-squares slope of
    * daily event counts over the epoch-day axis, kept EXACT until the last
    * step: x (day) and y (count) are integers, so the classic closed form
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) has integer numerator and
    * denominator (both emitted for audit); the slope itself is the one
    * int→double divide. The monitoring question this answers — is error
    * volume trending up? — is [[anomalyDays]]'s longitudinal sibling, and
    * the same multiply-through trick deletes every intermediate float.
    * Overflow headroom: n·Σxy ~ |days|²·Σy·day stays under 2⁶³ for daily
    * counts to ~10⁶ over a year of epoch days; widen to decimal(38,0)
    * beyond.
    *
    * At scale: one map-side-combined daily groupBy, then a |types|-row
    * moment aggregate — nothing corpus-sized moves twice. */
  def trend(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("day")).as("sx"), sum(col("y")).as("sy"),
        sum(col("day") * col("y")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_per_day"))
      .orderBy("event_type")
  }

  // ---- e_ab_test ----------------------------------------------------------

  /** Deterministic A/B experiment readout — users split 50/50 by salted
    * hash parity (the assignment every experimentation platform derives
    * from a user id + experiment salt, so a user keeps their arm across
    * sessions and re-runs), conversion = "more purchases than errors" (a
    * per-user outcome that stays non-degenerate at every fixture scale —
    * "any purchase" saturates to 100% and zeroes the pooled variance), and
    * the two-proportion z statistic on top: n/converted/rate per arm plus
    * the pooled-variance z in ONE report row. Every float step (three rate
    * divides, the pooled products, sqrt, the final divide) is a single
    * correctly-rounded IEEE op evaluated in the same order by both
    * engines — sqrt is exactly rounded per IEEE 754, so even the
    * significance statistic hash-matches. A degenerate experiment (pooled
    * rate 0 or 1) yields z = NULL, not a divide-by-zero abort (ANSI mode).
    *
    * At scale: one map-side-combined per-user aggregate (arm is a pure
    * hash of user_id — no assignment table, no join), one |arms|-row
    * rollup, one final 1-row combine. The fact table shuffles once, on
    * user_id. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val arm = pmod(hash64(concat(lit("exp1:"), col("user_id").cast("string"))),
      lit(2L))
    val perUser = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
        sum(when(col("event_type") === "error", 1L).otherwise(0L)))
        .cast("long").as("converted"))
      .select(col("user_id"), arm.as("arm"), col("converted"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
      // PERSISTED: both arm branches read it — unpersisted, the per-user
      // aggregate over the fact table runs once per branch. 2 rows.
      .persist()
    val a = arms.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    val rateA = col("conv_a").cast("double") / col("n_a").cast("double")
    val rateB = col("conv_b").cast("double") / col("n_b").cast("double")
    val pooled = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    a.crossJoin(b)
      .select(col("n_a"), col("conv_a"), rateA.as("rate_a"),
        col("n_b"), col("conv_b"), rateB.as("rate_b"),
        when(pooled > 0.0 && pooled < 1.0,
          (rateA - rateB) /
            sqrt(pooled * (lit(1.0) - pooled) *
              (lit(1.0) / col("n_a").cast("double") +
                lit(1.0) / col("n_b").cast("double")))).as("z"))
  }

  // ---- e_transitions ------------------------------------------------------

  /** Event-type transition matrix — per user, each consecutive event pair
    * (ordered by time, event_id tie-break) counted into a from→to matrix
    * with the per-source transition probability: the first-order Markov
    * model of user behavior (what follows a view? how often does an error
    * precede churn?) that powers next-action prediction and funnel design.
    * The probability is the one int→double divide; everything upstream is
    * integer.
    *
    * At scale: the lag window partitions by user_id (per-user state = that
    * user's event count — the [[scd2]] partitioning); pair counting
    * map-side-combines to |types|² partials; the |types|-row source totals
    * broadcast back. One corpus shuffle (user_id), one |types|²-row
    * matrix. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val pairs = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_pairs"))
      // PERSISTED: the totals aggregate AND the probability join both read
      // it — unpersisted, the lead window over the fact table runs twice.
      // |types|² rows.
      .persist()
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n_pairs")).as("n_from"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_pairs"), col("n_from"),
        (col("n_pairs").cast("double") / col("n_from").cast("double"))
          .as("p_transition"))
      .orderBy("from_type", "to_type")
  }

  // ---- e_salted_join ------------------------------------------------------

  /** Salt fan-out for [[saltedJoin]] — a hot key's rows spread over this
    * many reducer partitions. */
  private[queries] val JoinSalts = 8

  /** Skew-mitigated large-table equi-join — [[graft.operators.SaltedJoin]]
    * bound to the corpus's one genuinely skewed key: `lang` (the dominant
    * language holds ~44% of documents, so an unsalted shuffle join lands
    * half the corpus on one reducer). The dim side here is the per-language
    * stats table; at fixture scale it would BROADCAST (and
    * [[RefQueries.broadcastJoin]] is the operator for that) — this query
    * pins the OTHER regime, a dim too large to broadcast, by forcing the
    * shuffle path with a merge-join hint, which is exactly when salting is
    * the only lever left. The salt never escapes: the output is
    * row-identical to the plain join (spec-pinned), ordered by doc_id.
    *
    * At scale: the big side is hashed over (lang, salt) — [[JoinSalts]]×
    * better worst-partition load on the hot key — and only the SMALL side
    * pays the [[JoinSalts]]× replication. The salt is a deterministic
    * doc_id hash, not `rand()`: retries, re-runs and the oracle all see
    * the same rows. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val stats = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_lang"), sum(col("n_chars")).as("chars_lang"))
    graft.operators.SaltedJoin.saltedEquiJoin(
        docs, stats.hint("merge"), "lang", col("doc_id"), JoinSalts)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("n_docs_lang"), col("chars_lang"))
      .orderBy("doc_id")
  }

  // ---- e_mad_outliers -----------------------------------------------------

  /** Robust outlier report — per event type, the exact nearest-rank median
    * of `value`, the median absolute deviation (MAD) around it, and how
    * many events fall outside median ± 3·MAD: the robust-statistics
    * alternative to [[winsorize]]'s percentile clipping (a handful of
    * extreme outliers cannot drag the MAD the way they drag a mean/stddev
    * band). Ranks are the ⌈n/2⌉ nearest-rank convention in INTEGER
    * arithmetic (`(n+1) div 2` — [[winsorize]]'s boundary-rounding trap);
    * the deviation `abs(value − med)` and the `3·mad` band are single
    * correctly-rounded IEEE ops, so the flag set is bit-stable
    * cross-engine.
    *
    * At scale: two per-type rank selections (each the
    * [[RefQueries.orderStats]] sort-window device — the
    * [[RefQueries.orderStatsApprox]] sketch replaces them at 10⁹
    * rows/group) and one counting pass with the |event_types|-row band
    * table broadcast back; three projected scans total, no corpus-sized
    * exchange beyond the per-type windows. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
    val wV = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val med = ev
      .withColumn("rn", row_number().over(wV))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("value"))).as("med"))
    val wD = Window.partitionBy(col("event_type"))
      .orderBy(col("dev").asc, col("event_id").asc)
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
      .withColumn("rn", row_number().over(wD))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("dev"))).as("mad"))
    ev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        count(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  // ---- e_anomaly_days -----------------------------------------------------

  /** Daily volume anomaly detection — flag the (event type, day) cells
    * whose event count deviates from the type's daily mean by more than
    * 2σ, computed ENTIRELY in integer arithmetic: |c − S/n| > 2σ is
    * squared and multiplied through by n² into
    * `(c·n − S)² > 4·(n·Q − S²)` with S = Σc, Q = Σc² — no float mean, no
    * sqrt, no division anywhere, so the flag set hash-matches the oracle
    * by construction (the strongest form of the repo's integers-beat-
    * floats contract: the whole z-test is exact). Both scaled sides are
    * emitted so the margin is auditable.
    *
    * At scale: the daily matrix is one map-side-combined groupBy of the
    * fact table; the per-type moments are a |types·days|-row aggregate;
    * the |types|-row moment table broadcasts back onto the matrix.
    * Overflow headroom: c·n and n·Q stay under 2⁶³ for daily counts up to
    * ~10⁹ over ~10³ days — beyond that, widen to decimal(38,0). */
  def anomalyDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
      // PERSISTED: the moment aggregate AND the flag join both read the
      // daily matrix — unpersisted, the fact groupBy runs twice. |types·days|.
      .persist()
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n_events")).as("s"),
        sum(col("n_events") * col("n_events")).as("q"))
    val devScaled = col("n_events") * col("n_days") - col("s")
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n_events"),
        (devScaled * devScaled).as("dev2_scaled"),
        (lit(4L) * (col("n_days") * col("q") - col("s") * col("s")))
          .as("var4_scaled"))
      .withColumn("is_anomaly", col("dev2_scaled") > col("var4_scaled"))
      .orderBy("event_type", "day")
  }

  // ---- e_retention --------------------------------------------------------

  /** Cohort retention matrix — users grouped by first-active day (their
    * cohort), counted on each later active day as an offset from that
    * cohort day, with the retention rate against the cohort's size: the
    * day-N retention table every product-analytics warehouse derives from
    * its event stream. All integer until the final rate division (one
    * int→double divide, bit-identical cross-engine); days are epoch-day
    * integers ([[scd2]]'s device).
    *
    * At scale: the (user, day) distinct and the first-seen min both shuffle
    * on user_id once and map-side combine; the cohort assignment is a
    * user-keyed equi-join of two slim |users|-scale frames (co-partitioned
    * on the same key — no second corpus exchange); the matrix itself is
    * |cohorts|·|offsets| rows. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    // PERSISTED: consumed by the cohort derivation AND the matrix join —
    // unpersisted, the fact-table distinct executes twice (the dedup-eval
    // lesson). Slim: one (user, day) pair per active user-day.
    val active = table(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .persist()
    val cohorts = active.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("n_cohort"))
    active.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("day_offset"), col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
      .orderBy("cohort", "day_offset")
  }

  // ---- e_funnel -----------------------------------------------------------

  /** The ordered funnel steps: a user converts step i only AFTER converting
    * step i−1 (strictly later event time). */
  private[graft] val FunnelSteps = Seq("view", "click", "purchase")

  /** Ordered conversion funnel — how many users progressed view → click →
    * purchase, where each step must happen strictly AFTER the previous
    * step's first conversion (a purchase before the first view does not
    * count): the sequence-matching analytics shape a plain per-type count
    * cannot express. Stage k's conversion time is the user's earliest
    * qualifying event given stage k−1's time — a chain of conditional min
    * aggregates, each a user-keyed join of the projected event stream
    * against the previous stage's slim |users|-frame.
    *
    * At scale: one projected scan per step (column-pruned, type-filtered at
    * the reader), each joined user-keyed against a frame that only ever
    * SHRINKS (converted users); all joins co-partition on user_id. The
    * output is |steps| rows. Times are epoch micros ([[scd2]]'s integer
    * lesson); the step-to-step rate is one int→double divide. */
  /** The funnel's conditional-min stage chain — one (user_id, t) frame per
    * step, t the step's conversion time. Shared by [[funnel]] (counts) and
    * [[timeToConvert]] (latency distribution) so the two reports cannot
    * disagree about who converted. Each stage frame is PERSISTED: the next
    * stage's join and every report branch read it — unpersisted, stage k's
    * whole chain re-executes inside every consumer. |converted users| rows
    * each. */
  private def funnelStages(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    // stage 1: first qualifying event of the first step type
    val first = ev.filter(col("event_type") === FunnelSteps.head)
      .groupBy(col("user_id")).agg(min(col("us")).as("t"))
      .persist()
    // each later stage: earliest step-type event strictly after the
    // previous stage's conversion time
    FunnelSteps.tail.scanLeft(first) { (prev, step) =>
      ev.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("t").as("t_prev")), Seq("user_id"))
        .filter(col("us") > col("t_prev"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t"))
        .persist()
    }
  }

  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val stages = funnelStages(spark, dir)
    // one 1-row frame holding every stage count, exploded into the tall
    // |steps|-row report in a SINGLE reference — a union of per-step
    // selects would re-execute the whole stage chain once per branch, and
    // a global lag window is the empty-partition-spec shape the repo-wide
    // plan test bans
    val wide = stages.zipWithIndex
      .map { case (df, i) => df.agg(count(lit(1)).as(s"n$i")) }
      .reduce(_ crossJoin _)
    val rows = FunnelSteps.zipWithIndex.map { case (step, i) =>
      val conv =
        if (i == 0) lit(1.0)
        else col(s"n$i").cast("double") / col(s"n${i - 1}").cast("double")
      struct(lit(i + 1).cast("int").as("step"), lit(step).as("event_type"),
        col(s"n$i").as("n_users"), conv.as("conv_from_prev"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.n_users"),
        col("r.conv_from_prev"))
      .orderBy("step")
  }

  // ---- e_time_to_convert --------------------------------------------------

  /** Time-to-convert distribution — for users who completed the funnel,
    * the latency from first-step conversion to final conversion: count,
    * min, max, and the exact nearest-rank median, in integer micros (the
    * metric that turns [[funnel]]'s "how many" into "how fast", which is
    * what a growth team actually tunes). COMPOSES [[funnelStages]] — the
    * same persisted stage frames the counts report reads, so the two
    * reports cannot disagree about who converted. The median is
    * `percentile_approx` at [[RefQueries.OrderStatsAccuracy]] with the
    * enforced group-size guard — the [[RefQueries.orderStatsApprox]]
    * device: GK degenerates to exact ⌈n/2⌉ rank selection below the
    * accuracy, matching the oracle's window-rank CTE, and a larger group
    * RAISES instead of silently diverging.
    *
    * At scale: the duration frame is |completed users| slim rows from one
    * co-keyed join of the first and last stage frames; the report is a
    * single 1-row aggregate — window-free (a global ranking window is the
    * banned empty-partition shape; GK is the aggregate-shaped selection). */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val stages = funnelStages(spark, dir)
    val durs = stages.last.select(col("user_id"), col("t").as("t_end"))
      .join(stages.head.select(col("user_id"), col("t").as("t_start")),
        Seq("user_id"))
      .select((col("t_end") - col("t_start")).as("dur_us"))
    val n = count(lit(1))
    val med = when(n <= RefQueries.OrderStatsAccuracy,
      percentile_approx(col("dur_us"), lit(0.5),
        lit(RefQueries.OrderStatsAccuracy)))
      .otherwise(raise_error(lit(
        "e_time_to_convert: group exceeds the GK accuracy — the sketch no " +
          "longer degenerates to exact rank selection")).cast("double"))
    durs.agg(n.as("n_converted"),
        min(col("dur_us")).as("min_us"), max(col("dur_us")).as("max_us"),
        med.cast("long").as("median_us"))
  }

  // ---- e_winsorize --------------------------------------------------------

  /** Winsorization report — per event type, the exact nearest-rank p05/p99
    * cut points of `value`, how many events each tail clips, and the
    * clipped-measure total: the outlier-capping step a metrics pipeline
    * runs before any mean is trusted. Ranks are the NEAREST-RANK
    * convention ⌈q·n⌉ computed in INTEGER arithmetic (`(5n+99) div 100`,
    * `(99n+99) div 100`) — no float quantile multiply (0.05·n can round
    * ACROSS the integer boundary: 2000·0.05 = 100.0000…55 in doubles, and
    * ⌈·⌉ would pick rank 101), the same trap [[RefQueries.orderStats]]
    * dodges by using only exactly-representable fractions. The clipped
    * total is fixed-point `floor(clip(value)·10⁶)` longs ([[rollingAgg]]'s
    * device), so every emitted number is integer-exact or a raw input
    * double.
    *
    * At scale: the exact form pays [[RefQueries.orderStats]]'s per-group
    * sort — right for |groups| ≪ |rows| reporting; at 10⁹ rows/group the
    * sketch path ([[RefQueries.orderStatsApprox]]) replaces stage 1 and
    * the clip join is unchanged. The cut table is |event_types| rows,
    * broadcast back — the corpus-sized side never shuffles twice. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val cuts = ev
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(5*n + 99) div 100"), col("value")))
          .as("lo"),
        max(when(col("rn") === expr("(99*n + 99) div 100"), col("value")))
          .as("hi"))
    ev.join(broadcast(cuts), Seq("event_type"))
      .withColumn("v_clip", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        count(when(col("value") < col("lo"), 1)).as("n_below"),
        count(when(col("value") > col("hi"), 1)).as("n_above"),
        sum(floor(col("v_clip") * lit(1000000.0)).cast("long"))
          .as("sum_clip_micro"))
      .orderBy("event_type")
  }

  // ---- e_priority_sample --------------------------------------------------

  /** Priority sample size. */
  private[queries] val PrioritySampleK = 100

  /** WEIGHTED sampling without replacement + unbiased subset-sum
    * estimation — priority sampling (Duffield, Lund & Thorup, JACM'07):
    * the missing sibling of the UNIFORM fixed-size sampler
    * ([[reservoirSample]]) for every "sample documents proportional to
    * length/quality/traffic, then estimate corpus totals from the sample"
    * curation task. Each document draws priority q = w·P/(h+1) — weight
    * `w` = n_chars over a deterministic uniform (h+1)/P from the salted
    * md5 hash — and the sample is the top [[PrioritySampleK]] priorities.
    * τ = the (k+1)-th priority; each sampled document carries the
    * Horvitz-Thompson-style estimate ŵ = max(w, τ), whose sample sum is
    * an unbiased estimator of Σw with near-optimal variance among k-sparse
    * estimators (the paper's main theorem). Heavy documents enter with
    * probability → 1 and keep ŵ = w; light ones enter with probability
    * w/τ and are inflated to τ.
    *
    * DETERMINISM: the priority uses only multiply and divide — both
    * CORRECTLY ROUNDED under IEEE 754, so Spark and DuckDB compute
    * bit-identical doubles (w·P ≤ 2e4·2³¹ < 2⁵³ stays exact before the
    * divide). `pow`/`ln` formulations of weighted sampling
    * (Efraimidis-Scalia keys u^(1/w)) are NOT correctly rounded and may
    * disagree cross-engine at the ulp — this scheme is chosen for being
    * exactly reproducible, not just equivalent in distribution.
    *
    * At scale: top-(k+1) via orderBy+limit is `TakeOrderedAndProject` —
    * per-partition bounded top-k, |partitions|·(k+1) slim rows to the
    * driver-side merge, NO global sort ([[reservoirSample]]'s plan shape,
    * plan-pinned there). τ is a 1-row aggregate of the 101-row frame,
    * broadcast back. The corpus is scanned once, projected to 3 columns.
    *
    * SMALL-POPULATION CASE: with n ≤ k rows the whole population is the
    * sample and DLT defines τ = 0 — there is no (k+1)-th priority, ŵ = w
    * exactly, and the estimate is the TRUE total. The count-gated CASE
    * below implements that; a min-of-population τ would inflate every
    * weight and bias the estimator upward (round-10 ADVICE). */
  def prioritySample(spark: SparkSession, dir: String): DataFrame =
    prioritySampleK(spark, dir, PrioritySampleK)

  /** [[prioritySample]] with the sample size exposed — lets the spec pin
    * the n ≤ k degenerate case (τ = 0, ŵ = w, Σŵ = Σw) without a second
    * fixture. */
  private[queries] def prioritySampleK(
      spark: SparkSession, dir: String, k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val pri = table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("w"),
        (col("n_chars").cast("double") * lit(IntModulus.toDouble) /
          (pmod(hash64(concat(lit("pri:"), col("doc_id").cast("string"))),
            lit(IntModulus)) + lit(1L)).cast("double")).as("priority"))
    // one bounded top-(k+1) pass, CONSUMED TWICE (τ + the k sample rows):
    // persisted so the corpus scan does not run again for a 101-row frame
    val top = pri.orderBy(col("priority").desc, col("doc_id").asc)
      .limit(k + 1)
      .persist()
    // τ = the (k+1)-th priority when one exists; 0 when the population
    // fit entirely in the sample (DLT's τ definition for n ≤ k)
    val tau = top.agg(
      when(count(lit(1)) === lit(k + 1), min(col("priority")))
        .otherwise(lit(0.0)).as("tau"))
    top.orderBy(col("priority").desc, col("doc_id").asc).limit(k)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("w"), col("priority"),
        greatest(col("w").cast("double"), col("tau")).as("est_w"))
      .orderBy("doc_id")
  }

  // ---- e_heavy_hitters ----------------------------------------------------

  /** Heavy-hitter threshold: report tokens with frequency > N/k. */
  private[queries] val HeavyHittersK = 50

  /** EXACT frequent-item report through a bounded-state sketch — every
    * token whose corpus frequency exceeds N/[[HeavyHittersK]], found
    * WITHOUT a full-vocabulary groupBy: pass 1 runs the Misra-Gries
    * sketch ([[graft.functions.MisraGriesAggregator]]) and the total count
    * in ONE aggregation over the token stream (k−1 counters per partial
    * buffer — the shuffle carries |partitions| sketches, not the
    * vocabulary); pass 2 recounts ONLY the ≤ k−1 surviving candidates
    * (broadcast semi-filter) and keeps freq·k > N. The sketch can admit
    * false candidates but provably never drops a true heavy hitter, so
    * the output is the exact set {token : freq·k > N} — independent of
    * sketch internals, which is why a DuckDB oracle with no sketch at all
    * can hash-match it.
    *
    * This is the OPEN-DOMAIN sibling of [[topTokens]]: top-k-by-group
    * ranks a vocabulary you can afford to group; the sketch path is for
    * domains where |distinct| rivals |rows| (URLs, ids, n-grams at 100 TB)
    * and grouping the domain IS the cost. Here the token stream re-scans
    * for pass 2 instead of persisting: the token frame is corpus-sized
    * (caching it would hold the whole input in executor memory), while a
    * second projected scan streams — the right trade at scale, and the
    * broadcast filter prunes it to candidate rows immediately.
    *
    * At scale: pass 1 state is |partitions|·(k−1) counters; pass 2 is one
    * broadcast hash join (candidate side ≤ k−1 rows) plus a (k−1)-group
    * map-side-combined count. Nothing anywhere holds or shuffles the
    * vocabulary. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MisraGriesAggregator
    val tok = table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
    val agg = new MisraGriesAggregator(HeavyHittersK)
    val mg = udaf(agg, agg.inputEncoder)
    // one pass: sketch + exact N together (a separate count would re-scan)
    val sketch = tok.agg(count(lit(1)).as("n_total"), mg(col("token")).as("cands"))
    val cands = sketch
      .select(col("n_total"), explode(col("cands")).as("token"))
    tok.join(broadcast(cands), Seq("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"), max(col("n_total")).as("n_total"))
      .filter(col("freq") * lit(HeavyHittersK.toLong) > col("n_total"))
      .select(col("token"), col("freq"), col("n_total"))
      .orderBy(col("freq").desc, col("token").asc)
  }

  // ---- e_bitext_mine ------------------------------------------------------

  /** Margin-normalization neighborhood size. */
  private[queries] val BitextK = 4
  /** The two embedding label groups mined as "source/target language". */
  private[queries] val BitextSrcLabel = 0
  private[queries] val BitextDstLabel = 1
  /** Acceptance threshold margin ≥ 21/20 = 1.05 — tested integer-side. */
  private[queries] val BitextMarginNum = 21L
  private[queries] val BitextMarginDen = 20L

  /** Margin-based parallel-pair mining (Artetxe & Schwenk, ACL'19 — the
    * ratio margin that built the WikiMatrix/CCMatrix bitext corpora):
    * for each source-side vector, its best target-side cosine match,
    * scored by margin = cos(x,y) / ((avgₖ(x)+avgₖ(y))/2) — the match's
    * similarity relative to BOTH endpoints' k-NN neighborhoods, which
    * kills hub vectors (high cos with everything ⇒ high neighborhood
    * average ⇒ margin ≈ 1) that plain cosine thresholds mis-mine. Sides
    * are the [[BitextSrcLabel]]/[[BitextDstLabel]] embedding groups;
    * emits every forward-best pair with its margin and the integer-side
    * `accepted` verdict (margin ≥ [[BitextMarginNum]]/[[BitextMarginDen]]).
    *
    * DETERMINISM (the [[centroidScore]] fixed-point device, applied to
    * ranking): cos is the sequential-fold double (bit-identical
    * cross-engine), then immediately floored to fixed-point `cfp` =
    * ⌊cos·10¹²⌋. All downstream selection (top-k, best match), the
    * neighborhood sums, and the acceptance test run on cfp LONGS — sums
    * are order-invariant, the margin test is exact integer arithmetic
    * (2k·Den·cfp ≥ Num·(Σx+Σy), valid since candidates are filtered to
    * cfp > 0 and positive sums), and the reported margin double is one
    * IEEE divide of exactly-representable longs.
    *
    * At scale: the target side broadcasts (one language's encoder output —
    * bounded per shard) and the source side never shuffles to score; the
    * scored frame is PERSISTED (three consumers: forward top-k, forward
    * best, backward top-k — unpersisted, the |X|·|Y| cosine pass runs
    * thrice); both per-side top-k reductions are the bounded-state
    * [[graft.functions.TopKByScoreAggregator]] (cfp ≤ 10¹² < 2⁵³ is exact
    * as the aggregator's double score), so only |side|·|partitions|·k slim
    * rows shuffle. For corpora where neither side broadcasts, candidate
    * generation composes the graded ANN families ([[cosineTopkLsh]]/
    * [[cosineTopkIvf]]/[[knnGraph]]) — the margin math is unchanged; the
    * exact cross-scoring here is the baseline semantics the oracle can
    * replicate. */
  def bitextMine(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val emb = table(spark, dir, "embeddings")
    def side(lbl: Int, id: String, e: String, n: String): DataFrame =
      emb.filter(col("label") === lbl)
        .select(col("vec_id").as(id), col("embedding").as(e))
        .withColumn(n, l2norm(col(e)))
    val x = side(BitextSrcLabel, "xid", "xe", "nx")
    val y = side(BitextDstLabel, "yid", "ye", "ny")
    val dot = dotD(col("xe"), col("ye"))
    val scored = x.crossJoin(broadcast(y))
      .withColumn("cfp",
        floor(dot / (col("nx") * col("ny")) * lit(1e12)).cast("long"))
      .select(col("xid"), col("yid"), col("cfp"))
      .persist()
    val agg = new TopKByScoreAggregator(BitextK)
    val topk = udaf(agg, agg.inputEncoder)
    val sumTk = aggregate(col("tk"), lit(0L),
      (a, s) => a + s.getField("score").cast("long"))
    val fwd = scored.groupBy(col("xid"))
      .agg(topk(col("cfp").cast("double"), col("yid")).as("tk"))
      .select(col("xid"), sumTk.as("sx"),
        element_at(col("tk"), 1).getField("id").as("yid"),
        element_at(col("tk"), 1).getField("score").cast("long").as("cfp"))
    val bwd = scored.groupBy(col("yid"))
      .agg(topk(col("cfp").cast("double"), col("xid")).as("tk"))
      .select(col("yid"), sumTk.as("sy"))
    fwd.join(broadcast(bwd), Seq("yid"))
      .filter(col("cfp") > 0 && col("sx") + col("sy") > 0)
      .select(col("xid").as("src_id"), col("yid").as("dst_id"),
        col("cfp").as("cos_fp"),
        ((lit(2L * BitextK) * col("cfp")).cast("double") /
          (col("sx") + col("sy")).cast("double")).as("margin"),
        (lit(2L * BitextK) * lit(BitextMarginDen) * col("cfp") >=
          lit(BitextMarginNum) * (col("sx") + col("sy"))).as("accepted"))
      .orderBy("src_id")
  }

  // ---- e_align_screen -----------------------------------------------------

  /** Alignment-screen knobs: the two modality views are the embedding's
    * halves (text encoder = dims 1–32, media encoder = dims 33–64 — the
    * paired-encoder stand-in at fixture scale; in production they are two
    * columns), neighborhoods are graded against a pinned
    * [[AlignRefSample]]-vector broadcast reference with [[AlignK]]-NN
    * averages, and a pair is `aligned` iff its margin clears
    * [[AlignMarginNum]]/[[AlignMarginDen]] — integer-side, like
    * [[bitextMine]]'s acceptance. */
  private[queries] val AlignDim = 32
  private[queries] val AlignRefSample = 64L
  private[queries] val AlignK = 4
  private[queries] val AlignMarginNum = 21L
  private[queries] val AlignMarginDen = 20L

  /** Caption↔media ALIGNMENT SCREEN — the data-quality gate every
    * paired-modality corpus needs before training on (text, media) pairs:
    * a scraped caption that doesn't describe its image poisons contrastive
    * training, and raw cosine between the two encoders' outputs cannot
    * flag it (hub vectors score high against everything). The margin
    * device is [[bitextMine]]'s (Artetxe & Schwenk): each document's OWN
    * pair cosine cos(t_i, m_i) is scored RELATIVE to its two neighborhood
    * averages — the top-[[AlignK]] cosines of t_i against a reference
    * sample of media vectors and of m_i against the reference text vectors
    * — and the pair is flagged (`aligned = false`) when
    * margin = 2k·cfp / (Σtopk_t + Σtopk_m) falls below the pinned
    * threshold: "this caption matches its media no better than it matches
    * random media".
    *
    * DETERMINISM (the bitext contract end-to-end): every cosine is the
    * sequential-fold double floored immediately to fixed-point cfp =
    * ⌊cos·10¹²⌋; neighborhood top-k selection and sums run on cfp longs
    * via the bounded-state [[graft.functions.TopKByScoreAggregator]]; the
    * verdict is exact integer arithmetic (2k·Den·cfp ≥ Num·(Σx+Σy), with
    * the Σ > 0 guard made explicit — a document whose sums are
    * non-positive is flagged, never divided by); the reported margin is
    * one IEEE divide of exactly-representable longs, null when undefined.
    *
    * At scale: the reference sample (2·[[AlignRefSample]] half-vectors)
    * BROADCASTS against one corpus scan per side; the own-pair cosine is
    * computed scan-side on the same row (no join at all); the two
    * neighborhood reductions are map-side-combined bounded aggregates
    * (|corpus|·|partitions|·k slim rows), and the final assembly joins
    * three |corpus|-row integer frames on the id they are already
    * grouped by. The corpus text/media payloads never move. */
  def alignScreen(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKByScoreAggregator
    val base = table(spark, dir, "embeddings")
      .select(col("vec_id"),
        slice(col("embedding"), 1, AlignDim).as("tv"),
        slice(col("embedding"), AlignDim + 1, AlignDim).as("mv"))
      .withColumn("nt", l2norm(col("tv")))
      .withColumn("nm", l2norm(col("mv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ref = base.filter(col("vec_id") < AlignRefSample)
      .select(col("vec_id").as("rid"),
        col("tv").as("rtv"), col("mv").as("rmv"),
        col("nt").as("rnt"), col("nm").as("rnm"))
    def cfp(a: Column, b: Column, na: Column, nb: Column): Column =
      floor(dotD(a, b) / (na * nb) * lit(1e12))
        .cast("long")
    val agg = new TopKByScoreAggregator(AlignK)
    val topk = udaf(agg, agg.inputEncoder)
    val sumTk = aggregate(col("tk"), lit(0L),
      (a, s) => a + s.getField("score").cast("long"))
    val diag = base.select(col("vec_id"),
      cfp(col("tv"), col("mv"), col("nt"), col("nm")).as("cfp"))
    val sx = base.crossJoin(broadcast(ref))
      .select(col("vec_id"), col("rid"),
        cfp(col("tv"), col("rmv"), col("nt"), col("rnm")).as("c"))
      .groupBy(col("vec_id"))
      .agg(topk(col("c").cast("double"), col("rid")).as("tk"))
      .select(col("vec_id"), sumTk.as("sx"))
    val sy = base.crossJoin(broadcast(ref))
      .select(col("vec_id"), col("rid"),
        cfp(col("mv"), col("rtv"), col("nm"), col("rnt")).as("c"))
      .groupBy(col("vec_id"))
      .agg(topk(col("c").cast("double"), col("rid")).as("tk"))
      .select(col("vec_id"), sumTk.as("sy"))
    diag.join(sx, Seq("vec_id")).join(sy, Seq("vec_id"))
      .select(col("vec_id").as("doc_id"), col("cfp").as("cos_fp"),
        col("sx"), col("sy"),
        when(col("sx") + col("sy") > 0,
          (lit(2L * AlignK) * col("cfp")).cast("double")
            / (col("sx") + col("sy")).cast("double")).as("margin"),
        (col("sx") + col("sy") > 0 &&
          lit(2L * AlignK) * lit(AlignMarginDen) * col("cfp") >=
            lit(AlignMarginNum) * (col("sx") + col("sy"))).as("aligned"))
      .orderBy("doc_id")
  }

  // ---- e_edit_join --------------------------------------------------------

  /** Edit-distance parameters for [[editJoin]]: q-gram width, distance
    * threshold, and the minimum normalized-key length that keeps trivial
    * near-empty keys out of the join (a 5-char key is within τ=8 of
    * EVERYTHING — the classic degenerate case every ed-join paper excludes).
    * Shared verbatim with the oracle SQL so the two engines define the same
    * problem. */
  private[queries] val EditQ = 3
  private[queries] val EditTau = 8
  private[queries] val EditMinKeyLen = 20

  /** String-similarity self-join under EDIT DISTANCE ≤ τ — the Ed-Join
    * formulation (Xiao, Wang, Lin, VLDB'08): the remaining classic
    * similarity-join family after set-Jaccard ([[jaccardPrefix]]) and
    * vector-cosine ([[cosineDedup]]), and the one fuzzy-dedup shape that
    * catches character-level corruption (OCR noise, encoding damage,
    * template drift) that tokenized set similarity smears away.
    *
    * Keys are case-folded ASCII projections (`[a-zA-Z ]` kept) of English
    * documents — identical normalization in the oracle, and it pins both
    * engines to byte = codepoint so their Levenshtein definitions cannot
    * diverge on multi-byte text. Candidate generation is EXACT (theorems,
    * not recall heuristics), so the oracle can be the NAIVE length-filtered
    * Levenshtein join and hash-parity proves zero false negatives:
    *
    *   1. POSITIONAL Q-GRAMS: `(g, p)` rows via one `transform(sequence)`
    *      projection — no UDF, stays in whole-stage codegen.
    *   2. PREFIX FILTER (count-filtering lemma): τ edits destroy at most
    *      q·τ q-grams, so two strings within τ share at least one of their
    *      first q·τ+1 positional grams under ANY global gram order — ours is
    *      (document frequency ASC, gram ASC, position ASC), which indexes
    *      each string's RAREST grams ([[jaccardPrefix]]'s df-ascending
    *      device; stop-grams like `'the'` never enter the index unless a
    *      string consists of little else).
    *   3. POSITIONAL FILTER (Gravano et al. VLDB'01): a q-gram match
    *      spanning > τ positions of offset implies > τ edits, so prefix
    *      collisions also require |p_a − p_b| ≤ τ — applied INSIDE the join
    *      condition, before the pair ever materializes.
    *   4. LENGTH FILTER: ||a| − |b|| ≤ τ, also in the join condition.
    *   5. VERIFY: Spark's codegen'd `levenshtein(l, r, threshold)` — the
    *      BANDED O(τ·n) form, not the full O(n·m) matrix; pairs over τ
    *      return −1 and are dropped.
    *
    * At 100 TB: the quadratic term is Σ_g df_prefix(g)² over PREFIX postings
    * only — bounded by rare-gram document frequencies, the same scale
    * behavior as [[jaccardPrefix]] — while the df dictionary is bounded by
    * the q-gram alphabet (≤ 27^q ≈ 20k rows here), hence the pinned
    * broadcast. Shuffles: the df aggregate, the per-string prefix window
    * (partitioned by doc, bounded by string length), the prefix equi-join,
    * and the two slim verify joins back to the keyed corpus.
    *
    * CACHING CONTRACT: `keyed` (the gram source and both verify sides) and
    * the prefix frame (both sides of the candidate self-join) persist;
    * callers clearCache() after materializing — the Bench/Verify teardown
    * (the file-default contract, stated here because two frames persist). */
  def editJoin(spark: SparkSession, dir: String): DataFrame = {
    val keyed = table(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^a-zA-Z ]", "")).as("k"))
      .filter(length(col("k")) >= EditMinKeyLen)
      .withColumn("len", length(col("k")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // positional q-grams: element i of the transform is substring(k, i, q),
    // so posexplode's 0-based pos maps back to string position pos + 1
    val grams = keyed
      .select(col("doc_id"), col("len"), posexplode(
        // all positional q-grams in ONE codegen'd pass (round 18; the HOF
        // form re-ran an interpreted substring per position)
        graft.functions.GraftFunctions.charQGrams(col("k"), EditQ)))
      .select(col("doc_id"), col("len"), col("col").as("g"),
        (col("pos") + 1).as("p"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = grams.join(broadcast(dfreq), Seq("g"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("g").asc, col("p").asc)))
      .filter(col("rn") <= lit(EditQ * EditTau + 1))
      .select(col("doc_id"), col("len"), col("g"), col("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.p") - col("y.p")) <= lit(EditTau) &&
          abs(col("x.len") - col("y.len")) <= lit(EditTau))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    cand
      .join(keyed.select(col("doc_id").as("a_id"), col("k").as("ka")), Seq("a_id"))
      .join(keyed.select(col("doc_id").as("b_id"), col("k").as("kb")), Seq("b_id"))
      .withColumn("dist", levenshtein(col("ka"), col("kb"), EditTau))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))
      .orderBy("a_id", "b_id")
  }

  // ---- e_domain_drift -----------------------------------------------------

  /** Token-length bucket width and cap for [[domainDrift]] — 16 buckets of
    * 32 tokens each, matching the fixture's length range; shared with the
    * oracle so both engines bucket identically. */
  private[graft] val DriftBucketTokens = 32
  private[graft] val DriftMaxBucket = 15

  /** Token-length bucket of a text column — ONE definition shared by
    * [[domainDrift]] and the streaming drift monitor
    * ([[graft.streaming.Streaming.driftWindows]]), so the online and
    * offline histograms can never bucket differently. Integer floor
    * division (token counts are far below 2⁵², so the double round-trip is
    * exact), capped at [[DriftMaxBucket]]. */
  private[graft] def lengthBucket(text: Column): Column =
    least(floor(size(tokens(text)).cast("double") / lit(DriftBucketTokens.toDouble))
      .cast("int"), lit(DriftMaxBucket))

  /** Per-source DISTRIBUTION-DRIFT monitor — "which domain's length
    * profile departs from the corpus mix" — via total-variation distance,
    * the report a data-mixing team reads before re-weighting sources (a
    * source whose length distribution drifts is re-crawled or re-chunked
    * differently, and TV bounds how much any downstream proportion can
    * move). Per source s with bucket counts o_b (dense over the CORPUS
    * bucket set — absent buckets count as 0, which is where naive
    * per-present-bucket sums go wrong):
    *
    *   TV(s) = ½ Σ_b |o_b/n_s − c_b/N| = Σ_b |o_b·N − c_b·n_s| / (2·n_s·N)
    *
    * The numerator is EXACT integer arithmetic (the engine-parity device),
    * summed over ≤16 buckets; one IEEE divide produces the reported
    * distance. The worst bucket is an integer-encoded argmax
    * (term·16 + (15−b), max, decode — deterministic tie-break toward the
    * smaller bucket without max_by's unspecified ties).
    *
    * OVERFLOW BOUND (the [[modularity]] |E| < 2³¹ convention, stated here
    * too): the argmax encoding term·16 needs each term
    * |o_b·N − c_b·n_s| < 2⁵⁹, which holds while n_s·N < 2⁵⁹ ≈ 5.8·10¹⁷ —
    * i.e. corpora up to ~7.6·10⁸ documents even when one source IS the
    * corpus. Past that, pre-scale o/c_b/n_s/N by a common divisor before
    * the encode (TV is scale-invariant, so distance and argmax are
    * unchanged); the computation's structure stays as is. The streaming
    * twin ([[graft.streaming.Streaming.windowDrift]]) carries the same
    * bound against its reference histogram.
    *
    * At scale: one corpus scan into a ≤|sources|·16-key map-side-combined
    * aggregate; everything after runs on that tiny frame (totals join is a
    * broadcast; the dense grid is |sources|·16 rows). */
  def domainDrift(spark: SparkSession, dir: String): DataFrame = {
    val osb = table(spark, dir, "documents")
      .select(col("source"), lengthBucket(col("text")).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ns = osb.groupBy(col("source")).agg(sum(col("o")).as("n_s"))
    val cb = osb.groupBy(col("b")).agg(sum(col("o")).as("c_b"))
    val tot = cb.agg(sum(col("c_b")).as("n_tot"))
    val enc = ns.crossJoin(broadcast(cb))
      .join(osb, Seq("source", "b"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
      .withColumn("term",
        abs(col("o") * col("n_tot") - col("c_b") * col("n_s")))
      .groupBy(col("source"))
      .agg(min(col("n_s")).as("n_docs"), min(col("n_tot")).as("n_tot"),
        sum(col("term")).as("tv_num"),
        max(col("term") * lit(16L) + (lit(DriftMaxBucket.toLong) - col("b")))
          .as("enc"))
    enc.select(col("source"), col("n_docs"), col("tv_num"),
      (col("tv_num").cast("double")
        / (lit(2.0) * col("n_docs").cast("double") * col("n_tot").cast("double")))
        .as("tv"),
      (lit(DriftMaxBucket) - pmod(col("enc"), lit(16L)).cast("int")).as("top_bucket"),
      expr("enc div 16").as("top_term"))
      .orderBy("source")
  }

  // ---- e_pca_power --------------------------------------------------------

  /** Fixed-point scale for [[pcaPower]]'s Gram accumulation. Element
    * products are ⌊eᵢ·eⱼ·S⌋ longs, so the per-(i,j) sum is EXACT and
    * partition-order-invariant (the [[centroidScore]] device, lifted to
    * matrix entries). Headroom: |e| < 1 here so each term is < S = 10¹²,
    * and a long holds ~9.2·10¹⁸ — room for ~9M rows at this scale; a
    * larger corpus lowers S by log₁₀(N) (the knob trades one quantization
    * digit per 10× rows, far below float noise either way). */
  private[queries] val PcaScale = 1e12
  private[queries] val PcaSteps = 12
  private[queries] val PcaDim = 64

  /** Distributed PCA top-eigenvector by POWER ITERATION over an exactly
    * accumulated Gram matrix — the linear-algebra primitive under
    * embedding whitening, spectral outlier screens, and the projection
    * views the ANN family quantizes. Two phases with opposite scale
    * characters, which is the whole design:
    *
    *   1. GRAM ACCUMULATION — the only corpus-touching phase: each
    *      (vector, row-index i) pair emits dim codegen'd fixed-point
    *      partial sums (column k accumulates G(i, i+k)), reduced by a
    *      map-side-combined hash aggregate on dim keys. Long sums are
    *      EXACT, so a 1000-executor accumulation hash-matches the
    *      single-node oracle regardless of partitioning — the property
    *      float Gram sums lack. Corpus is scanned ONCE; nothing else ever
    *      touches it.
    *   2. POWER ITERATION — [[PcaSteps]] steps as stacked projections
    *      over the ONE-row row-major Gram cell (dim², corpus-independent):
    *      w = G·v as a sequential `zip_with`-fold per row (deterministic
    *      order), renormalized via a 64-element global fold — a single
    *      shuffle-free job regardless of step count, so iteration cost is
    *      independent of corpus size. λ = ‖G·v‖ after the final step is
    *      the standard eigenvalue estimate.
    *
    * The oracle mirrors both phases CTE-for-CTE (the `kmeansChainCtes`
    * unrolled-iteration device), so parity covers the accumulation AND all
    * eight iterations. Output: one row per dimension with the exact
    * integer Gram diagonal and the unit top-eigenvector coordinate, plus
    * the shared λ estimate. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val (gUpper, vFinal) = pcaParts(spark, dir)
    gUpper.filter(col("i") === col("j"))
      .select(col("i").as("d"), col("g").as("g_diag"))
      .crossJoin(broadcast(vFinal))
      .select(col("d"), col("g_diag"),
        element_at(col("varr"), col("d") + 1).as("v_unit"), col("lambda"))
      .orderBy("d")
  }

  /** [[pcaPower]]'s two building blocks — the exact-integer upper-triangle
    * Gram frame and the single-row (varr, lambda) final iterate — factored
    * out so [[pcaProject]] composes the SAME chain it is graded against
    * (oracle side likewise shared — [[ExtOracles]]'s pca CTE block). */
  private def pcaParts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = PcaDim
    val vecs = table(spark, dir, "embeddings").select(col("embedding").as("e"))
    // GRAM ACCUMULATION (round-17 rewrite, guide §4): one row per
    // (vector, i) with d codegen'd fixed-point partial sums — the former
    // flatten/named_struct HOF generator emitted dim·(dim+1)/2 struct rows
    // per vector through an interpreted projection and a dim²-key hash
    // aggregate; the per-product arithmetic (the honest floor) is
    // UNCHANGED, but row volume through the aggregate drops dim/2 = 32×
    // and the projection whole-stage-codegens (measured: the Gram phase
    // 2.5 → 0.9 s at sf0.1). Column k of group i is G(i, i+k); the
    // i + k ≤ d−1 guard keeps element_at in range (ANSI-safe).
    val byI = vecs.select(explode(expr(s"sequence(0, ${d - 1})")).as("i"), col("e"))
    val sumCols = (0 until d).map { k =>
      sum(when(col("i") + lit(k) <= lit(d - 1), expr(
        s"""CAST(floor(CAST(element_at(e, i + 1) AS DOUBLE)
           |          * CAST(element_at(e, i + 1 + $k) AS DOUBLE)
           |          * ${PcaScale}D) AS BIGINT)""".stripMargin)))
        .as(s"s$k")
    }
    val sums = byI.groupBy(col("i")).agg(sumCols.head, sumCols.tail: _*)
    val gUpper = sums
      .select(col("i"), posexplode(array((0 until d).map(k => col(s"s$k")): _*))
        .as(Seq("k", "g")))
      .filter(col("k") < lit(d) - col("i"))
      .select(col("i"), (col("i") + col("k")).as("j"), col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gFull = gUpper.unionByName(
      gUpper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g")))
    // POWER ITERATION on ONE row (round-17 rewrite, guide §2.4): G folds
    // to a single array<array<double>> cell (row-major, j-sorted within
    // i-sorted rows — the same element order the per-row formulation
    // used), and the [[PcaSteps]] steps become stacked projections over
    // that one row — ONE job, zero per-step shuffles/broadcasts, where
    // the former crossJoin(broadcast(v)) fold paid a broadcast exchange
    // and two aggregate stages per step (measured: the iteration phase
    // 2.2 → 0.1 s). Every IEEE operation and its order is IDENTICAL
    // (sequential zip_with folds per row, i-ascending λ fold), so the
    // iterates are bit-identical — oracle-gated.
    val gMat = gFull.groupBy(col("i"))
      .agg(sort_array(collect_list(struct(col("j"), col("g")))).as("gj"))
      .select(col("i"),
        transform(col("gj"), s => s.getField("g").cast("double") / lit(PcaScale))
          .as("garr"))
      .agg(sort_array(collect_list(struct(col("i"), col("garr")))).as("rows"))
      .select(transform(col("rows"), r => r.getField("garr")).as("gmat"),
        expr(s"transform(sequence(0, ${d - 1}), x -> CAST(0.125 AS DOUBLE))")
          .as("varr"))  // v₀ = uniform 1/8 (exactly representable; unit-norm at dim 64)
    val vFinal = (1 to PcaSteps).foldLeft(gMat) { (v, _) =>
      v.withColumn("warr",
          transform(col("gmat"), garr =>
            seqSum(zip_with(garr, col("varr"), (a, b) => a * b))))
        .withColumn("lambda", sqrt(seqSum(transform(col("warr"), x => x * x))))
        .select(col("gmat"),
          transform(col("warr"), x => x / col("lambda")).as("varr"),
          col("lambda"))
    }.select(col("varr"), col("lambda"))
    (gUpper, vFinal)
  }

  /** Number of extreme-projection rows [[pcaProject]] reports. */
  private[queries] val PcaScreenK = 20

  /** SPECTRAL OUTLIER SCREEN — each embedding projected onto the corpus's
    * dominant principal direction, reporting the [[PcaScreenK]] most
    * extreme |projection| vectors: the cheap screen for hub/artifact
    * vectors (a cluster of encode-failure or boilerplate embeddings shows
    * up as an extreme leading component long before it distorts ANN
    * recall). Composes [[pcaParts]] — the SAME accumulation + iteration
    * chain `e_pca_power` grades, Spark-side and oracle-side, so the screen
    * cannot drift from the eigenpair it screens with.
    *
    * At scale: the eigenvector is a 1-row broadcast against one corpus
    * scan; the projection is a sequential `zip_with` fold per vector
    * (deterministic, bit-identical cross-engine); the extreme-k selection
    * is a distributed TakeOrdered with a pinned (|proj| DESC, vec_id ASC)
    * tie-break — no global sort, no window. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    // the trained eigenvector of the graded e_pca_power chain — one 1-row
    // frame
    val vFinal = pcaParts(spark, dir)._2
    table(spark, dir, "embeddings").select(col("vec_id"), col("embedding").as("e"))
      .crossJoin(broadcast(vFinal.select(col("varr"))))
      .select(col("vec_id"),
        dotD(col("varr"), col("e")).as("proj"))
      .orderBy(abs(col("proj")).desc, col("vec_id").asc)
      .limit(PcaScreenK)
      .orderBy("vec_id")
  }

  // ---- e_rand_walk --------------------------------------------------------

  /** Walk length (steps beyond the start node) and the pinned
    * universal-hash constants driving [[randWalk]]'s neighbor choices —
    * the same (A·x + B) mod P family as MinHash, picked afresh so walk
    * randomness and signature randomness are independent streams. */
  private[queries] val WalkSteps = 3
  private[queries] val WalkA = 1540483477L
  private[queries] val WalkB = 1013904223L

  /** DETERMINISTIC random walks over the [[knnGraph]] substrate — the
    * DeepWalk/node2vec sequence generator: one walk per corpus vector,
    * [[WalkSteps]] hops, each hop choosing uniformly among the current
    * node's knn out-edges. "Random" is a pinned universal hash of
    * (walk_id, step) — the derandomization every reproducible-pipeline
    * walk generator ships (re-running the corpus yields the same training
    * sequences), and what makes the op oracle-checkable at all. A node
    * with no out-edges (singleton cell) ends its walk early: shorter
    * walks, never self-loops invented to pad them.
    *
    * At scale: each hop is ONE equi-join of the |V|-row frontier against
    * the degree-annotated edge list on (node, picked-rank) — the edge list
    * is |V|·k rows, the frontier never grows, and the hash pick is
    * computed scan-side so exactly one edge per walker survives the join
    * (no per-node edge explosion). Steps emit as a union of the L+1
    * bounded frontiers. Composes the graded `e_knn_graph` (its oracle SQL
    * text likewise) — a harness-key by the attribution rule. */
  def randWalk(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnGraph(spark, dir)
      .select(col("src"), col("nbr"), col("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy(col("src")).agg(max(col("rank")).as("deg"))
    val e2 = edges.join(deg, Seq("src"))
    val start = table(spark, dir, "embeddings")
      .select(col("vec_id").as("walk_id"), col("vec_id").as("node"))
    def pick(t: Int): Column = pmod(
      lit(WalkA) * (col("walk_id") * lit(WalkSteps + 1) + lit(t)) + lit(WalkB),
      lit(IntModulus))
    val steps = (1 to WalkSteps).scanLeft(start) { (cur, t) =>
      cur.join(e2, cur("node") === e2("src") &&
          e2("rank") === pmod(pick(t), col("deg")) + 1)
        .select(cur("walk_id").as("walk_id"), col("nbr").as("node"))
    }
    steps.zipWithIndex.map { case (df, i) =>
      df.select(col("walk_id"), lit(i).as("step"), col("node"))
    }.reduce(_ unionAll _)
      .orderBy("walk_id", "step")
  }

  // ---- e_graph_recall -----------------------------------------------------

  /** Sampled nodes graded: `vec_id < this` ([[SilhouetteSample]]'s
    * bounded-sample device — the quadratic is the sample × corpus
    * scoring, not corpus²). */
  private[queries] val GraphRecallSample = 64L

  /** knn-graph SUBSTRATE quality — edge recall of [[knnGraph]] against
    * brute-force truth on a pinned node sample: for each sampled node, how
    * many of its true top-[[KnnK]] cosine neighbors does the graph
    * actually hold as out-edges? [[annRecall]] grades query→corpus SEARCH;
    * this grades the GRAPH every downstream consumer walks ([[randWalk]],
    * [[cosineTopkBeam]], [[hits]], [[pageRank]], [[labelProp]]) — in-cell
    * construction misses cross-cell true neighbors, and this report is
    * exactly that miss rate, per node, before it silently degrades five
    * other operators.
    *
    * DETERMINISM: the truth side is the [[cosineTopk]] fold-cosine under
    * the pinned (score DESC, cid ASC) total order via the bounded-state
    * [[graft.functions.TopKByScoreAggregator]]; hit counting and the
    * final divide are exact integers + one correctly-rounded IEEE op.
    *
    * At scale: the sample broadcasts against ONE corpus scan (the
    * [[cosineTopkAgg]] shape — |sample|·|partitions|·k slim rows shuffle,
    * window-free); the graph side filters the composed [[knnGraph]] to
    * sampled sources before the slim (qid, cid) left join. Composes the
    * graded [[knnGraph]] (oracle SQL text likewise) — a harness-key by
    * the attribution rule. */
  def graphRecall(spark: SparkSession, dir: String): DataFrame =
    graphRecallFromGraph(spark, dir, knnGraph(spark, dir))

  /** [[graphRecall]]'s body over an ALREADY-BUILT knn edge frame — the
    * [[modularityFromParts]] sibling, so [[datasheet]] grades the SAME
    * substrate its modularity row audits instead of building it twice. */
  private def graphRecallFromGraph(spark: SparkSession, dir: String,
      graph: DataFrame): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
    val q = emb.filter(col("vec_id") < GraphRecallSample)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("nq"))
    val score = dotD(col("qe"), col("e")) / (col("nq") * col("nrm"))
    val agg = new graft.functions.TopKByScoreAggregator(KnnK)
    val topk = udaf(agg, agg.inputEncoder)
    val truth = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), score.as("s"))
      .groupBy(col("qid")).agg(topk(col("s"), col("cid")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("t"))
      .select(col("qid"), col("t.id").as("cid"))
    val g = graph
      .filter(col("src") < GraphRecallSample)
      .select(col("src").as("qid"), col("nbr").as("cid"), lit(1L).as("hit"))
    truth.join(g, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("qid"), col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true").cast("double"))
          .as("recall"))
      .orderBy("qid")
  }

  // ---- e_token_budget -----------------------------------------------------

  /** Budget as a pinned fraction of corpus tokens (numerator/denominator
    * — self-scaling with the corpus, unlike an absolute constant). */
  private[queries] val BudgetNum = 1L
  private[queries] val BudgetDen = 2L

  /** Budget-constrained greedy source selection — the data-mixing decision
    * step run when a training budget is smaller than the cleaned corpus:
    * rank sources by quality (keep-rate under the SHARED
    * [[qualitySignals]] rule body — the same gate the corpus actually
    * runs, so the ranking cannot drift from the filter), then walk the
    * ranking granting each source its tokens until the
    * [[BudgetNum]]/[[BudgetDen]] corpus-token budget is exhausted; the
    * boundary source gets the remainder (`alloc_tokens < src_tokens`,
    * `taken = false`), everything after gets zero. Emits the full
    * allocation table (source, volume, quality, cumulative position,
    * allocation) — the artifact a mixing config is generated from.
    *
    * DETERMINISM: counts and cumulative sums are exact integers; the
    * keep_rate sort key is one correctly-rounded divide of exact
    * integers (bit-identical cross-engine), ties pinned by source; the
    * budget is an integer floor-division of the exact total.
    *
    * At scale: token/keep counts are one map-side-combined aggregate to
    * \|sources\| partials; the cumulative-before sum is a broadcast
    * self-join over the \|sources\|-row table — sources are a bounded
    * domain dimension (like regions), so the quadratic is \|sources\|²
    * TINY rows, chosen over a global-order window whose empty partition
    * spec would serialize a corpus-scale frame ([[PlanSpec]]'s repo-wide
    * ban); the corpus itself is touched exactly once. Composes the
    * graded [[qualitySignals]] body (oracle composes `qualityCtes`) — a
    * harness-key by the attribution rule. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val qs = qualitySignals(table(spark, dir, "documents"))
      .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("keep"))
    // |sources|-row stats, persisted for the THREE consumers (the budget
    // total and both sides of the cumulative self-join) — unpersisted,
    // the corpus-scanning quality aggregate executes three times
    val src = qs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("src_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_rate",
        col("n_keep").cast("double") / col("n_docs").cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = src.agg(sum(col("src_tokens")).as("total_tokens"))
    val ranked = src.crossJoin(broadcast(tot))
    val cum = ranked.as("a")
      .join(broadcast(ranked.as("b")),
        col("b.keep_rate") > col("a.keep_rate") ||
          (col("b.keep_rate") === col("a.keep_rate") &&
            col("b.source") < col("a.source")),
        "left")
      .groupBy(col("a.source").as("source"), col("a.n_docs").as("n_docs"),
        col("a.src_tokens").as("src_tokens"), col("a.n_keep").as("n_keep"),
        col("a.keep_rate").as("keep_rate"),
        col("a.total_tokens").as("total_tokens"))
      .agg(coalesce(sum(col("b.src_tokens")), lit(0L)).as("cum_before"))
    cum
      .withColumn("alloc_tokens",
        greatest(lit(0L), least(col("src_tokens"),
          expr(s"(total_tokens * $BudgetNum) div $BudgetDen") - col("cum_before"))))
      .select(col("source"), col("n_docs"), col("src_tokens"), col("n_keep"),
        col("keep_rate"), col("cum_before"), col("alloc_tokens"),
        (col("alloc_tokens") === col("src_tokens")).as("taken"))
      .orderBy("source")
  }

  // ---- e_modularity -------------------------------------------------------

  /** Newman-Girvan modularity audit of the [[labelProp]] partition over
    * the symmetrized [[knnGraph]] — the GRAPH sibling of [[silhouette]]
    * (which grades the k-means partition in embedding space): per cluster,
    * Q_c = e_in/m − (d_sum/2m)², the excess of internal edge mass over
    * what a degree-preserving random graph would place inside the cluster.
    * ΣQ_c near 0 means the propagated labels do not align with the
    * similarity structure (propagation overreached its seeds); strongly
    * positive means the weak supervision found real cluster structure —
    * the go/no-go audit before corpus-wide label assignments gate data.
    * Restricted to LABELED endpoints (propagation can leave nodes
    * unlabeled; a partition score is only defined over the partitioned
    * subgraph — scoped honestly, like [[silhouette]]'s sample).
    *
    * EXACT: every count (m, e_in, d_sum, degrees) is an integer; the
    * reported Q_c is ONE correctly-rounded IEEE divide of the exact
    * integers 4·m·e_in − d_sum² and 4·m² (both < 2⁶³ while |E| < 2³¹ —
    * beyond that, pre-scale by the gcd; the structure of the computation
    * is unchanged). Undirected edges are canonicalized scan-side as
    * (least, greatest) — no union-then-dedup pass.
    *
    * At scale: two joins of the slim undirected edge list against the
    * |V|-row label frame (co-partitioned on the vertex key), one
    * map-side-combined degree count, and ≤|labels|-row aggregates
    * everywhere after; m rides a 1-row broadcast. Composes the graded
    * [[labelProp]] AND [[knnGraph]] (their oracle SQL texts likewise) —
    * a harness-key by the attribution rule. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    // ONE persisted knn substrate for both the propagation and the
    // canonical edge list (labelPropParts's contract) — calling the
    // ordered labelProp surface here would build the graph twice and pay
    // an output sort the aggregate below immediately destroys
    val (knn, labs) = labelPropParts(spark, dir)
    modularityFromParts(knn, labs).orderBy("label")
  }

  /** [[modularity]]'s body over an ALREADY-BUILT (knn edges, labels) pair —
    * factored so [[datasheet]]'s audit section shares ONE persisted knn
    * substrate between this decomposition and [[graphRecallFromGraph]]
    * (the labelPropParts device, extended one composition level up). */
  private def modularityFromParts(knn: DataFrame, labs: DataFrame): DataFrame = {
    val lp = labs.filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = knn
      .select(least(col("src"), col("nbr")).as("src"),
        greatest(col("src"), col("nbr")).as("dst"))
      .distinct()
    val lab = und
      .join(lp.select(col("vec_id").as("src"), col("label").as("la")), Seq("src"))
      .join(lp.select(col("vec_id").as("dst"), col("label").as("lb")), Seq("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mRow = lab.agg(count(lit(1)).as("m"))
    val deg = lab.select(col("src").as("id"), col("la").as("label"))
      .unionByName(lab.select(col("dst").as("id"), col("lb").as("label")))
      .groupBy(col("id"), col("label")).agg(count(lit(1)).as("deg"))
    val dsums = deg.groupBy(col("label")).agg(sum(col("deg")).as("d_sum"))
    val ein = lab.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
    val nodes = lp.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    nodes
      .join(dsums, Seq("label"), "left")
      .join(ein, Seq("label"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"),
        ((lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - coalesce(col("d_sum"), lit(0L)) * coalesce(col("d_sum"), lit(0L)))
          .cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double")).as("q_c"))
  }

  // ---- e_louvain_move -------------------------------------------------------

  /** One SYNCHRONOUS modularity-ascent sweep (the Louvain phase-1 move
    * step, Blondel et al. '08) over the propagated-label partition —
    * the OPTIMIZER the [[modularity]] audit motivates: the audit says how
    * good the partition is; this says where it provably improves. For
    * every labeled node, the best neighbor community by the EXACT Louvain
    * gain ΔQ(i: a→b) = [k_ib − k_ia]/m − k_i·(Σtot_b − Σtot_a + k_i)/2m²,
    * carried as the integer numerator gain_num = ΔQ·2m² =
    * 2m·(k_ib − k_ia) − k_i·(d_sum_b − d_sum_a + k_i) — comparisons and
    * the argmax never leave int64 (the [[pageRank]] integer-recurrence
    * device applied to Louvain), with the smallest-label tie-break. A node
    * moves only on strictly positive gain; otherwise it stays with gain 0.
    * Synchronous on purpose: the classic sequential sweep is
    * visit-order-dependent (not reproducible across engines or cluster
    * topologies); the simultaneous step is deterministic, and the
    * SINGLE-move exactness theorem (applying any ONE emitted move changes
    * the [[modularity]] decomposition by exactly 2·gain_num on the
    * Q·4m² scale) is spec-pinned as exact integer arithmetic.
    *
    * Scoped to the labeled subgraph, the [[modularity]] convention — one
    * universe definition, so the move step optimizes exactly the partition
    * the audit scores.
    *
    * At scale: the labeled edge list is ≤ |V|·k slim rows; k_ic is one
    * map-side-combined count on (node, neighbor-community); degrees and
    * community totals are the modularity audit's own aggregates; the
    * argmax is a max-of-struct with bounded candidates (≤ distinct
    * neighbor communities ≤ k per node); m rides a 1-row broadcast.
    * Composes the graded [[labelProp]] and [[knnGraph]] derivations — a
    * harness key. */
  def louvainMove(spark: SparkSession, dir: String): DataFrame = {
    val (knn, labs) = labelPropParts(spark, dir)
    louvainMovesFrom(knn, labs).orderBy("vec_id")
  }

  /** [[louvainMove]]'s body without the output sort — the frame
    * [[louvainApply]]/[[louvainCollapse]] consume (the changeFeedRows
    * factoring rule). */
  private[queries] def louvainMovesFrom(
      knn: DataFrame, labs: DataFrame): DataFrame = {
    val lp = labs.filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = knn
      .select(least(col("src"), col("nbr")).as("a"),
        greatest(col("src"), col("nbr")).as("b"))
      .distinct()
    // both directions, both endpoints labeled — consumed by k_ic, degrees
    // and the edge count
    val le = und.select(col("a").as("i"), col("b").as("j"))
      .unionByName(und.select(col("b").as("i"), col("a").as("j")))
      .join(lp.select(col("vec_id").as("i"), col("label").as("li")), Seq("i"))
      .join(lp.select(col("vec_id").as("j"), col("label").as("lj")), Seq("j"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mRow = le.agg((count(lit(1)) / 2).cast("long").as("m"))
    val kic = le.groupBy(col("i"), col("lj").as("c"))
      .agg(count(lit(1)).as("k_ic"))
    val deg = le.groupBy(col("i"), col("li")).agg(count(lit(1)).as("k_i"))
    val dsum = deg.groupBy(col("li").as("c")).agg(sum(col("k_i")).as("d_sum"))
    val own = deg.select(col("i"), col("li").as("label_from"), col("k_i"))
      .join(dsum.select(col("c").as("label_from"), col("d_sum").as("dsum_a")),
        Seq("label_from"))
      .join(kic.select(col("i"), col("c"), col("k_ic").as("k_ia"))
          .withColumnRenamed("c", "label_from"),
        Seq("i", "label_from"), "left")
      .na.fill(0L, Seq("k_ia"))
    val cand = own
      .join(kic.filter(col("c").isNotNull), Seq("i"))
      .filter(col("c") =!= col("label_from"))
      .join(dsum.select(col("c"), col("d_sum").as("dsum_b")), Seq("c"))
      .crossJoin(broadcast(mRow))
      .withColumn("gain_num",
        lit(2L) * col("m") * (col("k_ic") - col("k_ia"))
          - col("k_i") * (col("dsum_b") - col("dsum_a") + col("k_i")))
    val best = cand.groupBy(col("i"))
      .agg(max(struct(col("gain_num"), (-col("c")).as("nc"))).as("mv"))
    own.join(best, Seq("i"), "left")
      .select(col("i").as("vec_id"), col("label_from"),
        when(col("mv.gain_num") > 0, -col("mv.nc")).otherwise(col("label_from"))
          .as("label_to"),
        greatest(coalesce(col("mv.gain_num"), lit(0L)), lit(0L)).as("gain_num"))
      .withColumn("moved", col("label_to") =!= col("label_from"))
  }

  // ---- e_louvain_apply ------------------------------------------------------

  /** The deterministic CONFLICT-FREE move subset [[louvainApply]] commits:
    * per source community, the single best positive-gain move (gain DESC,
    * node ASC — the [[prefPairs]] struct-extreme device), so no community
    * loses more than one node per sweep and the simultaneous application
    * stays close to the sequential semantics the gains were priced
    * under. */
  private[queries] def louvainPicked(moves: DataFrame): DataFrame =
    moves.filter(col("moved"))
      .groupBy(col("label_from"))
      .agg(max(struct(col("gain_num"), (-col("vec_id")).as("nid"),
        col("label_to"))).as("p"))
      .select((-col("p.nid")).as("vec_id"), col("label_from"),
        col("p.label_to").as("label_to"))

  /** The post-move label frame (vec_id, label) shared by
    * [[louvainApply]]'s after-decomposition and [[louvainCollapse]]'s
    * condensation — picked moves override, everyone else keeps their
    * community. */
  private def louvainNewLabs(labs: DataFrame, picked: DataFrame): DataFrame =
    labs.filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"))
      .join(broadcast(picked.select(col("vec_id"), col("label_to"))),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label_to"), col("label")).as("label"))

  /** Louvain MOVE APPLICATION + re-audit — closing the optimize loop
    * [[louvainMove]] opens, the way [[vacuumApply]] closed
    * [[vacuumPlan]]: commit the deterministic conflict-free subset of the
    * sweep's moves ([[louvainPicked]] — the best positive move per source
    * community), then RE-RUN the [[modularity]] decomposition over the
    * updated partition and emit before/after per AFFECTED community
    * (source or target of a committed move) — the realized-improvement
    * report an optimizer run hands back. Simultaneous moves interact
    * through the Σtot terms, so per-community realized ΔQ need not equal
    * the priced gain (the single-move exactness theorem holds for any ONE
    * move — [[louvainMove]]'s spec); what the apply step owes is total Q
    * NOT DECREASING on the committed subset, spec-pinned at both gate
    * scales alongside a full local recompute.
    *
    * Determinism: the pick is a struct extreme under a total order; both
    * decompositions are the audit's own exact-integer aggregates; m is
    * unchanged (moves relabel nodes, never edges).
    *
    * At scale: the pick is one ≤|communities|-row aggregate of the move
    * frame; the label override is a broadcast left join (picked is
    * ≤|communities| rows); the BEFORE decomposition is the [[modularity]]
    * audit's own two slim joins + ≤|labels|-row aggregates, and the AFTER
    * one is read off the post-move condensed graph
    * ([[louvainDecompFromCondensed]] — mass conservation, round 17; the
    * corpus-side second decomposition is gone). Composes the graded
    * [[louvainMove]]/[[labelProp]]/[[knnGraph]] derivations — a harness
    * key. */
  def louvainApply(spark: SparkSession, dir: String): DataFrame = {
    val (knn, labs) = labelPropParts(spark, dir)
    val moves = louvainMovesFrom(knn, labs)
    val picked = louvainPicked(moves)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val before = modularityFromParts(knn, labs)
      .select(col("label"), col("n_nodes").as("n_before"),
        col("e_in").as("e_in_before"), col("d_sum").as("d_sum_before"),
        col("q_c").as("q_before"))
    // the AFTER decomposition reads off the post-move condensed graph
    // (round 17, guide §2.4): by the spec-pinned mass-conservation
    // theorem [[louvainDecompFromCondensed]](cg, sizes) IS
    // modularityFromParts(knn, nl) — the corpus-side second pass this
    // body previously paid is gone. Eager localCheckpoints
    // per the [[louvainMerge]] discipline: the nl→cg chain stacked on
    // the before-decomposition's plan is otherwise Catalyst-pathological.
    val nl = louvainNewLabs(labs, picked).localCheckpoint(true)
    val cg = louvainCollapseFrom(knn, nl).localCheckpoint(true)
    val sizes = nl.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val after = louvainDecompFromCondensed(cg, sizes)
      .select(col("community").as("label"), col("n_nodes").as("n_after"),
        col("e_in").as("e_in_after"), col("d_sum").as("d_sum_after"),
        col("q_c").as("q_after"))
    val affected = picked.select(col("label_from").as("label"))
      .unionByName(picked.select(col("label_to").as("label"))).distinct()
    // every affected label exists in the before decomposition (sources and
    // targets are live communities); a source can EMPTY in the after one
    // (its only node moved) — left join + zero-fill is that community's
    // honest post-state, matching the oracle's COALESCE
    affected.join(before, Seq("label"), "left")
      .join(after, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("e_in_before"), lit(0L)).as("e_in_before"),
        coalesce(col("d_sum_before"), lit(0L)).as("d_sum_before"),
        coalesce(col("q_before"), lit(0.0)).as("q_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("e_in_after"), lit(0L)).as("e_in_after"),
        coalesce(col("d_sum_after"), lit(0L)).as("d_sum_after"),
        coalesce(col("q_after"), lit(0.0)).as("q_after"))
      .orderBy("label")
  }

  // ---- e_louvain_collapse ---------------------------------------------------

  /** Louvain PHASE-2 CONDENSATION over the post-move partition — the
    * second half of the Blondel et al. '08 phase structure: communities
    * collapse into super-nodes and the labeled edge list re-emits as the
    * weighted condensed graph the NEXT sweep runs on — (c_a, c_b) with
    * c_a ≤ c_b canonicalized, weight = exact count of original
    * undirected labeled edges between the two communities (c_a = c_b
    * rows are the self-loops carrying internal edge mass). MASS
    * CONSERVATION is the invariant that makes iterated Louvain sound:
    * Σ weight ≡ m (every labeled edge lands in exactly one condensed
    * cell), spec-pinned alongside self-loops ≡ the after-decomposition's
    * e_in.
    *
    * Determinism: integer counts over a deterministic partition;
    * canonicalization is least/greatest.
    *
    * At scale: two slim label joins (the decomposition's own) and one
    * map-side-combined count on ≤|communities|² keys — the condensed
    * graph is the NEXT iteration's input precisely because it is
    * metadata-sized next to |V|·k. Composes the graded
    * [[louvainMove]]/[[labelProp]]/[[knnGraph]] derivations — a harness
    * key. */
  def louvainCollapse(spark: SparkSession, dir: String): DataFrame =
    louvainPinned(spark, dir)._2.orderBy("c_a", "c_b")

  /** The condensation body over an already-built (knn edges, post-move
    * labels) pair — factored so [[louvainMerge]] shares ONE substrate
    * chain between the condensed table and the decompositions (the
    * modularityFromParts sharing device; built separately, the whole
    * label-prop + knn chain executes once per consumer and the composed
    * plan exhausts the heap — measured). */
  private def louvainCollapseFrom(knn: DataFrame, nl: DataFrame): DataFrame = {
    val und = knn
      .select(least(col("src"), col("nbr")).as("a"),
        greatest(col("src"), col("nbr")).as("b"))
      .distinct()
    und
      .join(nl.select(col("vec_id").as("a"), col("label").as("la")), Seq("a"))
      .join(nl.select(col("vec_id").as("b"), col("label").as("lb")), Seq("b"))
      .groupBy(least(col("la"), col("lb")).as("c_a"),
        greatest(col("la"), col("lb")).as("c_b"))
      .agg(count(lit(1)).as("weight"))
  }

  // ---- e_louvain_super ------------------------------------------------------

  /** WEIGHTED modularity-ascent sweep over the CONDENSED graph — the
    * recursion that makes Louvain hierarchical (Blondel '08 §2: after
    * phase-2 condensation, "the algorithm is then applied to the
    * resulting weighted network"): on [[louvainCollapse]]'s super-node
    * graph a move is a community MERGE, and the exact weighted gain of
    * merging a into b is Δ(Q·4m²) = 2·(2m·w_ab − d_a·d_b) — carried as
    * the integer numerator gain_num = 2m·w_ab − d_a·d_b, where w_ab is
    * the condensed edge weight, d_c the community's total degree
    * (cross-community weights + 2·self-loop — exactly the
    * after-decomposition's d_sum), and m the conserved total edge mass.
    * Per community, the best merge partner under (gain DESC, partner
    * ASC); merge only on strictly positive gain. The MERGE-EXACTNESS
    * theorem (applying any one merge to the underlying partition changes
    * the [[modularity]] decomposition by exactly 2·gain_num on the
    * Q·4m² integer scale — e_ab = e_a + e_b + w_ab, d_ab = d_a + d_b)
    * is spec-pinned as pure int64 arithmetic, with the original-graph
    * realized ΔQ as the witness.
    *
    * At scale this is the payoff of condensation: the sweep runs on
    * ≤|communities|² metadata rows — degrees, pairs, and the argmax are
    * all tiny aggregates of the condensed table; the corpus-scale work
    * was paid once in the collapse. Composes the graded
    * [[louvainCollapse]] chain — a harness key. */
  def louvainSuper(spark: SparkSession, dir: String): DataFrame =
    louvainSuperFrom(louvainPinned(spark, dir)._2).orderBy("community")

  /** The pinned substrate of one Louvain sweep: the post-move labels `nl`
    * and the condensed graph `cg` built from them, each an EAGER
    * `localCheckpoint`, not a persist. Left lazy, the move/label chain
    * under them re-plans inside every consumer, and a key that stacks the
    * weighted sweep, the condensation and the decompositions on one
    * lineage gets a pathological Catalyst plan (heap-exhausted analysis,
    * the IterStorage scaladoc's trap; measured). `nl` has |V| rows and
    * `cg` ≤|communities|²; the Bench/Verify RDD sweep releases the blocks
    * after the key materializes. Shared by [[louvainSuper]],
    * [[louvainMerge]], [[louvainLevels]] and [[louvainAssign]]. */
  private def louvainPinned(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (knn, labs) = labelPropParts(spark, dir)
    val moves = louvainMovesFrom(knn, labs)
    val nl = louvainNewLabs(labs, louvainPicked(moves)).localCheckpoint(true)
    (nl, louvainCollapseFrom(knn, nl).localCheckpoint(true))
  }

  /** The weighted sweep over an already-built (and pinned) condensed
    * table — the [[louvainCollapseFrom]] sharing rule applied one level
    * up, for [[louvainMerge]]. */
  private def louvainSuperFrom(cg: DataFrame): DataFrame = {
    val mRow = cg.agg(sum(col("weight")).as("m"))
    val deg = cg.select(explode(array(
        struct(col("c_a").as("c"),
          when(col("c_a") === col("c_b"), lit(2L) * col("weight"))
            .otherwise(col("weight")).as("d")),
        struct(col("c_b").as("c"),
          when(col("c_a") === col("c_b"), lit(0L))
            .otherwise(col("weight")).as("d")))).as("x"))
      .select(col("x.*"))
      .groupBy(col("c")).agg(sum(col("d")).as("d"))
    val pairs = cg.filter(col("c_a") =!= col("c_b"))
      .select(explode(array(
        struct(col("c_a").as("c"), col("c_b").as("p"), col("weight")),
        struct(col("c_b").as("c"), col("c_a").as("p"), col("weight")))).as("x"))
      .select(col("x.*"))
    val cand = pairs
      .join(deg.select(col("c"), col("d").as("d_c")), Seq("c"))
      .join(deg.select(col("c").as("p"), col("d").as("d_p")), Seq("p"))
      .crossJoin(broadcast(mRow))
      .withColumn("gain_num",
        lit(2L) * col("m") * col("weight") - col("d_c") * col("d_p"))
    val best = cand.groupBy(col("c"))
      .agg(max(struct(col("gain_num"), (-col("p")).as("np"), col("weight")))
        .as("mv"))
    deg.join(best, Seq("c"), "left")
      .select(col("c").as("community"),
        when(col("mv.gain_num") > 0, -col("mv.np")).otherwise(col("c"))
          .as("partner"),
        when(col("mv.gain_num") > 0, col("mv.weight")).otherwise(lit(0L))
          .as("w_ab"),
        greatest(coalesce(col("mv.gain_num"), lit(0L)), lit(0L)).as("gain_num"))
      .withColumn("merged", col("partner") =!= col("community"))
  }

  // ---- e_louvain_merge ------------------------------------------------------

  /** MUTUAL-BEST merge application — committing [[louvainSuper]]'s
    * sweep with the matching discipline multilevel methods use
    * (heavy-edge matching, Karypis & Kumar '98 / ParMETIS): a merge
    * (a, b) commits only when a and b choose EACH OTHER. Mutual-best
    * pairs form a MATCHING (each community has one best partner), and
    * disjoint merges do not interact — each committed pair's realized
    * Δ(Q·4m²) is EXACTLY 2·gain_num (e_ab = e_a + e_b + w_ab, d_ab =
    * d_a + d_b, and no other community's terms move), so unlike
    * [[louvainApply]]'s move subset the merge step's improvement is
    * exact BY CONSTRUCTION, not just non-decreasing — both spec-pinned.
    * (The tempting alternative — collapsing the whole best-merge graph
    * by connected components — chains one-sided choices into large
    * groups whose non-adjacent pairs carry negative cross terms;
    * measured on this fixture it DECREASES Q at both gate scales, which
    * is exactly why matching-based coarsening exists. Stated here
    * because the wrong subset looks plausible.)
    *
    * Emits the [[louvainApply]]-shaped before/after decomposition per
    * affected community over the POST-MOVE partition (the state the
    * merge gains price): the surviving label's after-row carries the
    * merged community, the absorbed label's carries its zero post-state.
    *
    * At scale: the mutual-pair join is a self-join of the
    * ≤|communities|-row merge table; both decompositions are read off
    * the condensed graph ([[louvainDecompFromCondensed]] — mass
    * conservation makes them the [[modularity]] audit's exact result
    * without re-touching the corpus; round-17 optimization, the corpus
    * decomposition previously ran twice per call). Composes the graded
    * [[louvainSuper]] chain — a harness key. */
  def louvainMerge(spark: SparkSession, dir: String): DataFrame = {
    // ONE pinned substrate for everything below (the louvainCollapseFrom
    // sharing contract): graph + post-move labels build once, the
    // condensed table derives from them, the sweep from it
    val (nl, cg) = louvainPinned(spark, dir)
    val sup = louvainSuperFrom(cg).filter(col("merged"))
      .select(col("community"), col("partner"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mutual = louvainMutual(sup)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // before/after read OFF the condensed graph (round 17, guide §2.4):
    // by mass conservation the decomposition of the post-move partition
    // is [[louvainDecompFromCondensed]](cg, sizes) — the spec-pinned
    // level-0 ≡ modularity theorem — and the decomposition of the MERGED
    // partition is the same read off the matching-contracted graph
    // (relabel-then-condense ≡ condense-then-contract, exact integer
    // counts either way). The previous body re-ran the |E|-row
    // [[modularityFromParts]] corpus decomposition per side (2 passes +
    // 2 persists per measured run); both sides now cost ≤|communities|²
    // metadata rows plus ONE |V|-row size count.
    val sizes = nl.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val before = louvainDecompFromCondensed(cg, sizes)
      .select(col("community").as("label"), col("n_nodes").as("n_before"),
        col("e_in").as("e_in_before"), col("d_sum").as("d_sum_before"),
        col("q_c").as("q_before"))
    val sizesAfter = sizes
      .join(broadcast(mutual.select(col("c_hi").as("community"),
        col("c_lo").as("mc"))), Seq("community"), "left")
      .groupBy(coalesce(col("mc"), col("community")).as("community"))
      .agg(sum(col("n_nodes")).as("n_nodes"))
    val after = louvainDecompFromCondensed(louvainContract(cg, mutual),
        sizesAfter)
      .select(col("community").as("label"), col("n_nodes").as("n_after"),
        col("e_in").as("e_in_after"), col("d_sum").as("d_sum_after"),
        col("q_c").as("q_after"))
    val affected = mutual.select(col("c_lo").as("label"))
      .unionByName(mutual.select(col("c_hi").as("label"))).distinct()
    affected.join(before, Seq("label"), "left")
      .join(after, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("e_in_before"), lit(0L)).as("e_in_before"),
        coalesce(col("d_sum_before"), lit(0L)).as("d_sum_before"),
        coalesce(col("q_before"), lit(0.0)).as("q_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("e_in_after"), lit(0L)).as("e_in_after"),
        coalesce(col("d_sum_after"), lit(0L)).as("d_sum_after"),
        coalesce(col("q_after"), lit(0.0)).as("q_after"))
      .orderBy("label")
  }

  // ---- e_louvain_levels -----------------------------------------------------

  /** Merge TRANSITIONS the unrolled [[louvainLevels]] hierarchy commits —
    * the key emits level reports 0..this. Pinned at 2 (the kcore/kmeans
    * unroll device): measured on the fixture, transition 1 commits
    * mutual-best merges at both gate scales and transition 2 exhibits the
    * tail of the contraction — deep enough that the hierarchy is real,
    * shallow enough that the oracle's unrolled CTE chain stays tractable. */
  private[queries] val LouvainLevels = 2

  /** Mutual-best pairs (c_lo < c_hi) of a weighted sweep's merge table —
    * the matching device shared by [[louvainMerge]] and
    * [[louvainLevels]]: a merge commits only when both communities chose
    * each other, so committed pairs form a matching and disjoint merges
    * do not interact (the merge-exactness theorem's precondition). */
  private def louvainMutual(sup: DataFrame): DataFrame =
    sup.as("x").join(sup.as("y"),
        col("x.partner") === col("y.community")
          && col("y.partner") === col("x.community")
          && col("x.community") < col("y.community"))
      .select(col("x.community").as("c_lo"), col("y.community").as("c_hi"))

  /** One contraction of the condensed graph by a committed matching:
    * relabel c_hi → c_lo through the broadcast map, re-canonicalize,
    * re-sum weights — the metadata-sized re-condense shared by
    * [[louvainLevels]] and [[louvainAssign]]. */
  private def louvainContract(cg: DataFrame, mu: DataFrame): DataFrame =
    cg
      .join(broadcast(mu.select(col("c_hi").as("c_a"), col("c_lo").as("ma"))),
        Seq("c_a"), "left")
      .join(broadcast(mu.select(col("c_hi").as("c_b"), col("c_lo").as("mb"))),
        Seq("c_b"), "left")
      .select(coalesce(col("ma"), col("c_a")).as("na"),
        coalesce(col("mb"), col("c_b")).as("nb"), col("weight"))
      .groupBy(least(col("na"), col("nb")).as("c_a"),
        greatest(col("na"), col("nb")).as("c_b"))
      .agg(sum(col("weight")).as("weight"))

  /** One partition's modularity decomposition read OFF THE CONDENSED
    * GRAPH — mass conservation ([[louvainCollapse]]'s spec-pinned
    * invariant) makes this the [[modularityFromParts]] result without
    * touching the corpus: e_in(c) = c's self-loop weight, d_sum(c) =
    * cross weights + 2·self (the [[louvainSuperFrom]] degree rule), q_c
    * the one IEEE divide of the exact integers 4·m·e_in − d_sum² and
    * 4·m² — bit-identical to the corpus-side decomposition because every
    * input integer is identical (the level-0 ≡ [[modularity]] theorem
    * [[louvainLevels]]'s spec pins). Shared by the per-level reports AND
    * [[louvainMerge]]/[[louvainApply]]'s before/after sides (round 17:
    * those previously re-ran the |E|-row corpus decomposition per side —
    * guide §2.4, the whole pass was removable). */
  private def louvainDecompFromCondensed(cg: DataFrame,
      sizes: DataFrame): DataFrame = {
    val mRow = cg.agg(sum(col("weight")).as("m"))
    val deg = cg.select(explode(array(
        struct(col("c_a").as("community"),
          when(col("c_a") === col("c_b"), lit(2L) * col("weight"))
            .otherwise(col("weight")).as("d")),
        struct(col("c_b").as("community"),
          when(col("c_a") === col("c_b"), lit(0L))
            .otherwise(col("weight")).as("d")))).as("x"))
      .select(col("x.*"))
      .groupBy(col("community")).agg(sum(col("d")).as("d_sum"))
    val ein = cg.filter(col("c_a") === col("c_b"))
      .select(col("c_a").as("community"), col("weight").as("e_in"))
    sizes
      .join(deg, Seq("community"), "left")
      .join(ein, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"),
        ((lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - coalesce(col("d_sum"), lit(0L)) * coalesce(col("d_sum"), lit(0L)))
          .cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double")).as("q_c"))
  }

  /** [[louvainDecompFromCondensed]] stamped with its hierarchy level. */
  private def louvainLevelReport(level: Int, cg: DataFrame,
      sizes: DataFrame): DataFrame =
    louvainDecompFromCondensed(cg, sizes)
      .select(lit(level.toLong).as("level"), col("community"),
        col("n_nodes"), col("e_in"), col("d_sum"), col("q_c"))

  /** MULTI-LEVEL Louvain hierarchy — the fixpoint iteration the five
    * shipped pieces exist FOR (Blondel et al. '08 §2 iterates move →
    * collapse → weighted sweep → merge "until no positive gain remains"):
    * from the post-move partition's condensed graph, each TRANSITION runs
    * the weighted sweep ([[louvainSuperFrom]]), commits the mutual-best
    * matching ([[louvainMutual]] — [[louvainMerge]]'s exactness
    * discipline), and RE-CONDENSES by relabeling the condensed graph
    * itself (c_hi → c_lo, weights re-summed) — the corpus is touched once
    * for level 0's condensation and never again; levels 1.. run entirely
    * on ≤|communities|² metadata rows. Emits (level, community, n_nodes,
    * e_in, d_sum, q_c) for levels 0..[[LouvainLevels]], each level's
    * decomposition read off its condensed graph (mass conservation —
    * level 0 therefore equals the [[modularity]] decomposition of the
    * post-move partition exactly).
    *
    * The spec pins the hierarchy's soundness: Σ weight ≡ m at every
    * level (mass conservation survives contraction), total Q
    * NON-DECREASING level-over-level (each committed matching's realized
    * ΔQ is exactly Σ 2·gain_num > 0 on the Q·4m² scale — the
    * merge-exactness theorem pair by pair), n_nodes conserved, and ≥1
    * merge committed in transition 1 at both gate scales.
    *
    * Determinism: integer weights/degrees/gains throughout; the matching
    * is a struct-extreme under a total order; q_c is the decomposition's
    * single IEEE divide.
    *
    * At scale: EAGER localCheckpoint at every level boundary (the
    * [[louvainMerge]] lesson — lazily chained, the stacked
    * sweep+condense plans are Catalyst-pathological); each level's
    * sweep/matching/re-condense runs on the metadata-sized condensed
    * table, so hierarchy depth costs ≤|communities|² rows per level,
    * never a corpus pass. Composes the graded [[louvainSuper]] chain —
    * a harness key. */
  def louvainLevels(spark: SparkSession, dir: String): DataFrame = {
    val (nl, cg0) = louvainPinned(spark, dir)
    var cg = cg0
    var sizes = nl.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes")).localCheckpoint(true)
    var out = louvainLevelReport(0, cg, sizes)
    for (l <- 1 to LouvainLevels) {
      // the sweep's merge table is checkpointed before the mutual
      // self-join reads it twice — and the level boundary truncates the
      // lineage the next level's plans root through
      val sup = louvainSuperFrom(cg).filter(col("merged"))
        .select(col("community"), col("partner")).localCheckpoint(true)
      val mu = louvainMutual(sup)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cg = louvainContract(cg, mu).localCheckpoint(true)
      sizes = sizes
        .join(broadcast(mu.select(col("c_hi").as("community"),
          col("c_lo").as("mc"))), Seq("community"), "left")
        .groupBy(coalesce(col("mc"), col("community")).as("community"))
        .agg(sum(col("n_nodes")).as("n_nodes"))
        .localCheckpoint(true)
      mu.unpersist()
      out = out.unionByName(louvainLevelReport(l, cg, sizes))
    }
    out.orderBy("level", "community")
  }

  // ---- e_louvain_assign -----------------------------------------------------

  /** HIERARCHY PROJECTION — the deliverable the whole Louvain family
    * exists to hand downstream: [[louvainLevels]] reports the hierarchy
    * per COMMUNITY, but a curation pipeline consumes clusters per NODE
    * (semantic-dedup cells, cluster-balanced mixing, per-cluster
    * sampling all key on a node→cluster column), so this key folds the
    * per-level committed matchings back onto the post-move label frame:
    * each node's final community is its level-0 label pushed through
    * every level's c_hi → c_lo map — emitted as (vec_id, label0,
    * community), the lineage pair that also lets a consumer roll BACK a
    * level. The spec pins projection ≡ hierarchy: per-community node
    * counts equal the level-[[LouvainLevels]] report's n_nodes exactly,
    * the community set matches, and the projection is a coarsening of
    * the level-0 partition (nodes sharing a label0 never split).
    *
    * Determinism: the matchings are the graded sweep's own struct
    * extremes; the fold is |levels| broadcast left joins.
    *
    * At scale: the per-level maps are ≤|communities| rows and BROADCAST
    * onto the |V|-row label frame — the projection costs |levels| slim
    * map-side joins, never a shuffle of the corpus; the sweeps run on
    * the metadata condensed graph exactly as in [[louvainLevels]].
    * Composes the graded [[louvainSuper]] chain — a harness key. */
  def louvainAssign(spark: SparkSession, dir: String): DataFrame = {
    val (nl, cg0) = louvainPinned(spark, dir)
    var cg = cg0
    var asg = nl.select(col("vec_id"), col("label").as("label0"),
      col("label").as("community"))
    for (l <- 1 to LouvainLevels) {
      val sup = louvainSuperFrom(cg).filter(col("merged"))
        .select(col("community"), col("partner")).localCheckpoint(true)
      val mu = louvainMutual(sup)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      asg = asg
        .join(broadcast(mu.select(col("c_hi").as("community"),
          col("c_lo").as("to"))), Seq("community"), "left")
        .select(col("vec_id"), col("label0"),
          coalesce(col("to"), col("community")).as("community"))
      cg = louvainContract(cg, mu).localCheckpoint(true)
      mu.unpersist()
    }
    asg.select(col("vec_id"), col("label0"), col("community"))
      .orderBy("vec_id")
  }

  // ---- e_walk_pairs -------------------------------------------------------

  /** Skip-gram co-occurrence window (±steps within a walk). */
  private[queries] val WalkPairWindow = 2

  /** Skip-gram pair extraction over the [[randWalk]] sequences — the step
    * DeepWalk/node2vec actually feed the embedding trainer: every
    * (center, context) node pair within ±[[WalkPairWindow]] steps of the
    * same walk, reduced to the weighted co-occurrence table (node, ctx,
    * n_pairs) a word2vec-style trainer consumes as its positive examples.
    * Pairs are directional (both (u,v) and (v,u) emit — the trainer's
    * convention) and a walk revisiting a node legitimately pairs it with
    * itself.
    *
    * All-integer (counts of deterministic walks) — trivially exact.
    *
    * At scale: the self-join is keyed by walk_id, and a walk is ≤
    * WalkSteps+1 rows, so the join fans out ≤ (L+1)·2w pairs per walk —
    * linear in corpus size, never quadratic; the co-occurrence reduction
    * is one map-side-combined count on (node, ctx) whose key space is
    * bounded by observed pairs ≤ |V|·(L+1)·2w. The walk frame is PERSISTED
    * for the self-join's two sides — unpersisted, the whole hop-join chain
    * (including the knn-graph build) executes twice. Composes the graded
    * [[randWalk]] (its oracle SQL text likewise) — a harness-key by the
    * attribution rule. */
  def walkPairs(spark: SparkSession, dir: String): DataFrame = {
    val walks = randWalk(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    walks.as("x").join(walks.as("y"),
        col("x.walk_id") === col("y.walk_id") &&
          col("x.step") =!= col("y.step") &&
          abs(col("x.step") - col("y.step")) <= lit(WalkPairWindow))
      .groupBy(col("x.node").as("node"), col("y.node").as("ctx"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("node", "ctx")
  }

  /** [[editJoin]]'s candidate volume (after the prefix + positional +
    * length filters) next to the NAIVE length-filtered pair count the
    * oracle verifies — exposed for the spec to grade the filters actually
    * pruning (the scale claim), not just matching the truth. */
  private[queries] def editJoinCandidateCounts(
      spark: SparkSession, dir: String): (Long, Long) = {
    val keyed = table(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^a-zA-Z ]", "")).as("k"))
      .filter(length(col("k")) >= EditMinKeyLen)
      .withColumn("len", length(col("k")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = keyed
      .select(col("doc_id"), col("len"), posexplode(
        // all positional q-grams in ONE codegen'd pass (round 18; the HOF
        // form re-ran an interpreted substring per position)
        graft.functions.GraftFunctions.charQGrams(col("k"), EditQ)))
      .select(col("doc_id"), col("len"), col("col").as("g"),
        (col("pos") + 1).as("p"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = grams.join(broadcast(dfreq), Seq("g"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("g").asc, col("p").asc)))
      .filter(col("rn") <= lit(EditQ * EditTau + 1))
      .select(col("doc_id"), col("len"), col("g"), col("p"))
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.p") - col("y.p")) <= lit(EditTau) &&
          abs(col("x.len") - col("y.len")) <= lit(EditTau))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val naive = keyed.as("a")
      .join(keyed.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= lit(EditTau))
      .count()
    keyed.unpersist()
    (cand, naive)
  }

  // ---- e_count_min --------------------------------------------------------

  /** Count-Min geometry: [[CmDepth]] independent hash rows ×
    * [[CmWidth]] counters each. Estimate error for any item is
    * ≤ 2·N/[[CmWidth]] with probability 1 − 2^−[[CmDepth]] (Cormode &
    * Muthukrishnan, J.Algorithms'05 Thm 1 at ε = 2/w, δ = 2^−d); the
    * estimate NEVER undercounts. Sizing at scale: width grows with the
    * tolerable absolute error (w ≈ 2N/ε), depth with the confidence —
    * both independent of the domain size, which is the entire point. */
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 512
  /** Probe tokens = the distinct tokens of the first [[CmProbeDocs]]
    * documents — a bounded, deterministic audit set drawn from the
    * corpus itself. */
  private[queries] val CmProbeDocs = 10L

  /** Count-Min sketch frequency estimation — the third bounded-state
    * sketch next to the HLL-style distinct counter ([[distinctSketch]])
    * and the Misra-Gries frequent-item pass ([[heavyHitters]]): it
    * answers POINT frequency queries ("how often does this token /
    * URL / n-gram occur?") over a domain too large to group, in
    * [[CmDepth]]·[[CmWidth]] integers of state, with a one-sided
    * (never-under) error guarantee. The report audits the sketch
    * against truth on the [[CmProbeDocs]]-doc probe set: (token,
    * exact, est, overcount ≥ 0) — the overcount column IS the
    * collision error the theorem bounds.
    *
    * All-integer, trivially deterministic: bucket choice is the shared
    * cross-engine [[hash64]] salted per row (`cm0:`…`cm3:`), cell
    * counts and minimums are exact.
    *
    * At scale: the sketch build is ONE pass over the token stream with
    * a map-side-combined groupBy on (row, bucket) — reducer state is
    * the d·w cell grid, NEVER the vocabulary ([[heavyHitters]]'s
    * open-domain discipline); the grid (≤ 2048 rows) then BROADCASTS
    * to the probe join. The exact recount streams the corpus once more
    * against the broadcast probe set — the audit's cost, not the
    * sketch's (production serves point queries from the grid alone).
    * In streaming, the same grid is a per-micro-batch aggregate merged
    * by cell-wise addition — CMS is linear, which is why it is the
    * sketch that survives windowed/incremental ingestion. */
  /** The [[CmDepth]] bucket values of `token`, one array column — computed
    * scan-side, fanned out by posexplode into (row, bucket) pairs. ONE
    * derivation shared by the batch sketch and the streaming windows
    * ([[graft.streaming.Streaming.countMinWindows]]), so the per-window
    * grids and the lake grid merge cell-for-cell by construction. */
  private[graft] def cmBuckets(token: Column): Column =
    cmBucketsWidth(token, CmWidth)

  /** [[cmBuckets]] with the width exposed — the sketch's ERROR knob
    * (est − exact ≤ 2N/width w.h.p.); [[CountMinWidthSpec]] measures the
    * bound being real code, not scaladoc prose. */
  private[graft] def cmBucketsWidth(token: Column, width: Int): Column =
    array((0 until CmDepth).map(r =>
      pmod(hash64(concat(lit(s"cm$r:"), token)), lit(width.toLong))): _*)

  def countMin(spark: SparkSession, dir: String): DataFrame =
    countMinWidth(spark, dir, CmWidth)

  /** [[countMin]] with the width exposed — the error/state trade dial. */
  private[queries] def countMinWidth(
      spark: SparkSession, dir: String, width: Int): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tok = docs.select(explode(tokens(col("text"))).as("token"))
    def buckets: Column = cmBucketsWidth(col("token"), width)
    val sketch = tok
      .select(posexplode(buckets))
      .select(col("pos").as("r"), col("col").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
    // bounded probe set, persisted for its two consumers (the estimate
    // join and the exact recount) — unpersisted, the filtered probe scan
    // and distinct run twice
    val probe = docs.filter(col("doc_id") < CmProbeDocs)
      .select(explode(tokens(col("text"))).as("token")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val est = probe
      .select(col("token"), posexplode(buckets))
      .select(col("token"), col("pos").as("r"), col("col").as("b"))
      .join(broadcast(sketch), Seq("r", "b"))
      .groupBy(col("token")).agg(min(col("cnt")).as("est"))
    val exact = tok.join(broadcast(probe), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("token"))
      .select(col("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy("token")
  }

  // ---- e_fim_split --------------------------------------------------------

  /** FIM sentinel tokens (PSM order: prefix, suffix, middle). */
  private[queries] val FimPre = "<|fim_pre|>"
  private[queries] val FimSuf = "<|fim_suf|>"
  private[queries] val FimMid = "<|fim_mid|>"
  /** 1-in-[[FimRate]] documents get the FIM transform (hash fate) — the
    * ~50% FIM rate the infilling recipe trains with. */
  private[queries] val FimRate = 2L

  /** Fill-in-the-middle training transform (Bavarian et al., arXiv
    * 2207.14255 — the infilling objective code models train with):
    * each selected document is split at two deterministic token cuts
    * into (prefix, middle, suffix) and re-serialized in PSM order —
    * `<|fim_pre|> P <|fim_suf|> S <|fim_mid|> M` — so an autoregressive
    * model learns to generate the middle conditioned on both sides;
    * unselected documents pass through untouched (the paper's
    * rate-mixing). Emits the cut geometry (lo, hi) alongside the
    * re-serialized text so a batch builder can audit span lengths.
    *
    * Determinism: selection and both cuts are pure functions of doc_id
    * via the salted cross-engine [[hash64]] ([[spanMask]]'s device) —
    * reproducible on any re-sharding, identical in the oracle. Cuts
    * are uniform over [0, n] and may coincide (empty middle) or touch
    * the ends (empty prefix/suffix) — the degenerate splits the recipe
    * deliberately keeps (they teach end-of-span behavior), handled by
    * empty-slice concatenation rather than special cases.
    *
    * At scale: zero shuffles below the output sort — a pure projected
    * scan emitting one row per row ([[epochMix]]'s hash-fate shape);
    * the token array is materialized ONCE per row and sliced three
    * ways (re-tokenizing per segment would triple the regex cost). */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    val toked = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
    val c1 = pmod(hash64(concat(lit("fim1:"), col("doc_id").cast("string"))),
      col("n") + 1)
    val c2 = pmod(hash64(concat(lit("fim2:"), col("doc_id").cast("string"))),
      col("n") + 1)
    val fate = pmod(hash64(concat(lit("fim:"), col("doc_id").cast("string"))),
      lit(FimRate)) === 0
    toked
      .withColumn("fim", fate && col("n") >= 2)
      .withColumn("lo", when(col("fim"), least(c1, c2)).otherwise(col("n")))
      .withColumn("hi", when(col("fim"), greatest(c1, c2)).otherwise(col("n")))
      .select(col("doc_id"), col("n").as("n_tokens"), col("fim"),
        col("lo"), col("hi"),
        when(col("fim"),
          array_join(concat(
            array(lit(FimPre)),
            slice(col("tk"), lit(1), col("lo").cast("int")),
            array(lit(FimSuf)),
            slice(col("tk"), (col("hi") + 1).cast("int"),
              (col("n") - col("hi")).cast("int")),
            array(lit(FimMid)),
            slice(col("tk"), (col("lo") + 1).cast("int"),
              (col("hi") - col("lo")).cast("int"))), " "))
          .otherwise(array_join(col("tk"), " ")).as("fim_text"))
      .orderBy("doc_id")
  }

  // ---- e_novelty ----------------------------------------------------------

  /** Per-document shingle NOVELTY — the marginal-content curve a crawl
    * pipeline reads before deciding whether another snapshot is worth
    * ingesting: for each document (in doc_id ingestion order), the
    * fraction of its distinct 3-gram shingles whose FIRST corpus
    * occurrence is this document. Early documents score ~1; as the
    * corpus saturates, novelty decays toward the genuinely-new remainder —
    * summed over ingestion order this is exactly "novel tokens per
    * ingested token", the redundancy diagnostic next to the pairwise
    * dedup family ([[minhashDedup]] finds WHO duplicates whom;
    * novelty measures HOW MUCH of each arrival is already known).
    * Composes the shared [[shingleSets]] pipeline, so the notion of
    * "content unit" cannot drift from what the dedup operators use.
    *
    * All-integer until the final per-row division (one correctly
    * rounded IEEE divide). First-occurrence attribution is min(doc_id)
    * per shingle — [[chunkDedup]]'s survivor rule at shingle
    * granularity.
    *
    * At scale: one map-side-combined min-aggregate over the posting
    * stream (reducer state = |distinct shingles|, the same bound the
    * dedup joins carry), then one join of the postings back to the
    * winners on the SAME key they just grouped by (co-partitioned —
    * AQE reuses the exchange), collapsing immediately to one row per
    * document. The shingled frame is persisted for its two consumers
    * (postings feed both the min-aggregate and the attribution join);
    * document text never shuffles — only (doc_id, shingle-hash)
    * pairs. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val shd = shingleSets(
      table(spark, dir, "documents").select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val post = shd.select(col("doc_id"),
      size(col("ds")).cast("long").as("n_shingles"), explode(col("ds")).as("sh"))
    val firstSeen = post.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    post.join(firstSeen, Seq("sh"))
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
        .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty_frac"))
      .orderBy("doc_id")
  }

  // ---- e_hits -------------------------------------------------------------

  /** Full (authority + hub) HITS rounds — an oracle-stability pin like
    * [[PageRankIters]]. */
  private[queries] val HitsIters = 3

  /** Fixed-point scale alias for oracle interpolation
    * ([[PrScale]]'s pattern). */
  private[queries] val HitsScale = graft.operators.Hits.Scale

  /** HITS hubs-and-authorities over the [[knnGraph]] similarity graph —
    * the second graph-centrality signal next to [[pageRank]], and the one
    * that SEPARATES two curation populations PageRank conflates: high
    * AUTHORITY = many representative documents' nearest neighbors point
    * here (cluster cores — canonical keeps), high HUB = this document's
    * own neighbor list spans many strong authorities (templated mixtures
    * straddling clusters — the boilerplate-suspect review queue).
    * Delegates to the general [[graft.operators.Hits]] engine (the
    * [[graft.operators.PageRank]] pattern — integer fixed-point, L1
    * normalization, determinism and the scale statement live there); the
    * oracle composes the graded `e_knn_graph` SQL text and unrolls the
    * [[HitsIters]] rounds as chained CTEs. Composes [[knnGraph]] — a
    * harness-key by the attribution rule. */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnGraph(spark, dir)
      .select(col("src"), col("nbr").as("dst"))
    val nodes = table(spark, dir, "embeddings").select(col("vec_id").as("id"))
    graft.operators.Hits.scores(edges, nodes, HitsIters)
      .select(col("id").as("vec_id"), col("auth"), col("hub"),
        (col("auth").cast("double") / lit(HitsScale.toDouble)).as("auth_score"),
        (col("hub").cast("double") / lit(HitsScale.toDouble)).as("hub_score"))
      .orderBy("vec_id")
  }

  // ---- e_frame_dedup ------------------------------------------------------

  /** Code points per frame window in [[frameDedup]]'s payload grid. FIXED
    * width (unlike [[phashSignatures]]' proportional 64-cell grid) is the
    * load-bearing choice: clipping a PREFIX of whole frames shifts the
    * frame sequence without moving any surviving window's boundaries, so
    * temporal clips keep their frame hashes — a proportional grid would
    * re-cut every cell. */
  private[queries] val FrameWindowChars = 12L

  /** Per-frame perceptual-hash space (2¹⁶ buckets) — coarse on purpose:
    * the frame hash stands in for an aHash of the decoded frame, and the
    * SEQUENCE structure (shingles of adjacent frames), not single-frame
    * identity, is what the operator matches on. */
  private[queries] val FrameHashMod = 65536L

  /** Temporal near-duplicate detection over frame SEQUENCES — the video
    * sibling of [[mediaDedup]] (which matches whole-payload signatures and
    * is blind to clips): each payload becomes its ordered list of
    * [[FrameWindowChars]]-wide frame hashes, adjacent-frame PAIRS are
    * shingled (the video-copy-detection device: a shingle survives iff two
    * consecutive frames both survive, so shared sub-sequences — re-uploads,
    * clips, intro-stripped copies — light up while bag-of-frames
    * coincidences don't), and pairs sharing a rare shingle are verified at
    * shingle-set Jaccard ≥ ½ via the SAME integer-side tail as the text
    * family ([[verifiedJaccardPairs]] — one verification criterion across
    * every dedup operator). The clip fixture: every document re-appears
    * with its first frame removed (a whole-window prefix clip), and the
    * spec pins that the banded join detects the clip pairs brute-force
    * truth contains. Code-point grid stand-in per [[phashSignatures]]'
    * note; a real decoder swaps the window source, not the pipeline.
    *
    * At scale: frame hashes and shingles are computed scan-side (the
    * payload never shuffles — only (doc_id, shingle) postings move);
    * candidates come from a document-frequency-capped postings join
    * ([[rareShinglePostings]] — Σ df² bounded by the cap, never
    * all-pairs); verification joins only candidate ids back to sets. */
  /** The media universe for the frame family: every payload plus its
    * one-frame prefix clip — the docsWithVariants generator device (ONE
    * documents scan yields both rows). Shared by [[frameDedup]] and
    * [[frameAlign]] so detector and localizer see one universe. */
  private[queries] def frameUniverse(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + lit(VariantIdOffset)).as("doc_id"),
          expr(s"substring(text, ${FrameWindowChars + 1})").as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  /** `(doc_id, fh)` — the ordered frame-hash sequence of each payload (the
    * [[FrameWindowChars]]-wide code-point grid). ONE derivation for the
    * dedup shingles and the alignment positions. */
  private[queries] def frameHashSeqs(docs: DataFrame): DataFrame = {
    val w = FrameWindowChars
    docs
      .withColumn("nf", expr(s"length(text) div $w"))
      // guard: Spark sequence(a, b) DESCENDS when b < a (DuckDB range is
      // end-exclusive-empty), so degenerate payloads (< 1 frame) must
      // short-circuit to an empty array explicitly
      .withColumn("fh", when(col("nf") >= 1,
        transform(sequence(lit(0L), col("nf") - 1), f =>
          pmod(hash64(concat(lit("fv:"),
            col("text").substr((f * lit(w) + lit(1L)).cast("int"), lit(w.toInt)))),
            lit(FrameHashMod))))
        .otherwise(array().cast("array<long>")))
      .select(col("doc_id"), col("fh"))
  }

  /** `(doc_id, ds)` — distinct adjacent-frame-pair shingle sets (< 2
    * frames ⇒ empty set, same guard rationale as [[frameHashSeqs]]). */
  private def frameShingleSets(docs: DataFrame): DataFrame =
    frameHashSeqs(docs)
      .withColumn("ds", array_distinct(when(size(col("fh")) >= 2,
        transform(sequence(lit(0L), size(col("fh")).cast("long") - 2), f =>
          pmod(hash64(concat(lit("fs:"),
            element_at(col("fh"), (f + 1).cast("int")).cast("string"), lit(":"),
            element_at(col("fh"), (f + 2).cast("int")).cast("string"))),
            lit(graft.functions.GraftFunctions.IntModulus))))
        .otherwise(array().cast("array<long>"))))
      .select(col("doc_id"), col("ds"))

  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    val sigs = frameShingleSets(frameUniverse(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = rareShinglePostings(sigs)
    val cand = rare.as("x")
      .join(rare.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccardPairs(cand, sigs).orderBy("doc_a", "doc_b")
  }

  // ---- e_frame_align ------------------------------------------------------

  /** Temporal ALIGNMENT localization for the pairs [[frameDedup]] detects —
    * the step after detection in a video-dup pipeline: knowing THAT two
    * payloads overlap is not enough to dedup them (which frames are the
    * shared footage? where does the clip start?); this operator estimates
    * the frame offset by voting — every pair of equal frame hashes across
    * the two sequences votes for its position delta, and the modal delta
    * (most votes; ties to the smallest delta) is the alignment, emitted
    * with its vote count and both sequence lengths so a consumer can judge
    * coverage (n_matches ≈ min(nf) means a full-overlap clip; ≪ means a
    * short shared segment). The clip fixture's truth is offset = +1
    * (original leads its one-frame clip by exactly one frame), which the
    * spec pins for every detected clip pair.
    *
    * Determinism: votes are exact counts; the modal pick is
    * min(struct(−votes, delta)) — the pinned (votes DESC, delta ASC) total
    * order, the same tie-break device as the mode family.
    *
    *  At scale: the vote join runs ONLY over detected pairs (|pairs| ≪
    * corpus², and the equi-join key is (pair, frame hash), so votes per
    * pair are Σ per-hash match products, not nf² — near-unique real frame
    * hashes make that ≈ |shared frames|); positions explode only for docs
    * that appear in some pair (a semi-join cut). Composes [[frameDedup]]
    * — a harness key by the attribution rule. */
  def frameAlign(spark: SparkSession, dir: String): DataFrame = {
    val pairs = frameDedup(spark, dir)
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seqs = frameHashSeqs(frameUniverse(spark, dir))
    val docsInPairs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val pos = seqs.join(docsInPairs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("fh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lens = pos.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val votes = pairs
      .join(pos.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("v")), Seq("doc_a"))
      .join(pos.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("v")), Seq("doc_b", "v"))
      .groupBy(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("delta"))
      .agg(count(lit(1)).as("n"))
    votes
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(struct((-col("n")).as("nn"), col("delta"))).as("m"),
        sum(col("n")).as("n_total_matches"))
      .select(col("doc_a"), col("doc_b"), col("m.delta").as("offset"),
        (-col("m.nn")).as("n_matches"), col("n_total_matches"))
      .join(lens.select(col("doc_id").as("doc_a"), col("nf").as("nf_a")), Seq("doc_a"))
      .join(lens.select(col("doc_id").as("doc_b"), col("nf").as("nf_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("offset"), col("n_matches"),
        col("n_total_matches"), col("nf_a"), col("nf_b"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- e_scene_cut --------------------------------------------------------

  /** Intensity-quantization divisor for [[sceneCut]]: frame hashes in
    * [0, [[FrameHashMod]]) collapse to FrameHashMod / SceneLevelDiv = 4
    * levels. The level count is the detector's sensitivity knob — more
    * levels = more cuts (a real content detector exposes exactly this
    * threshold). */
  private[queries] val SceneLevelDiv = 16384L
  /** Keyframe encoding base: key = v·2³² + pos packs (hash, position) into
    * one int64 (v < 2¹⁶, pos < 2³²), so the per-segment argmin is a plain
    * integer `min` — HashAggregate-friendly, where a min-of-struct would
    * force a SortAggregate. */
  private[queries] val SceneKeyBase = 4294967296L

  /** Temporal SEGMENTATION of media payloads — the scene-cut detector that
    * follows frame hashing in a video pipeline ([[frameDedup]] asks "do
    * two payloads share footage", this asks "where does one payload's
    * content change"): each frame of the [[FrameWindowChars]] grid gets a
    * quantized intensity level (frame hash ÷ [[SceneLevelDiv]] — the
    * stand-in for a decoded frame's luma mean, same argument as
    * [[phashSignatures]]' grid), a CUT opens wherever the level differs
    * from the previous frame's, and each maximal run of equal-level frames
    * becomes a segment with a deterministic KEYFRAME (the min-(hash, pos)
    * frame — the representative a thumbnail/sampling stage would decode).
    * Output: one row per segment with start, length, level, keyframe.
    *
    * Determinism: runs are defined by a lag + running-sum over the pinned
    * (doc_id, pos) order; the keyframe argmin rides the packed-int64 total
    * order [[SceneKeyBase]] — every value integer, no float anywhere.
    *
    * At scale: positions explode scan-side and shuffle ONCE on doc_id for
    * the per-document window (partition spec non-empty — frames per doc,
    * not corpus-wide); segments ≪ frames leave the aggregate. The window
    * state is one document's frame list, bounded by payload size, never
    * corpus-sized. */
  def sceneCut(spark: SparkSession, dir: String): DataFrame = {
    val pos = frameHashSeqs(table(spark, dir, "documents"))
      .select(col("doc_id"), posexplode(col("fh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("v"))
      .withColumn("level", expr(s"v div $SceneLevelDiv"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pos
      .withColumn("prev", lag(col("level"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNull || col("prev") =!= col("level"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("seg_id", sum(col("cut")).over(cum) - lit(1L))
      .groupBy(col("doc_id"), col("seg_id"))
      .agg(min(col("pos")).as("start_pos"), count(lit(1)).as("n_frames"),
        min(col("level")).as("level"),
        min(col("v") * lit(SceneKeyBase) + col("pos")).as("kf"))
      .select(col("doc_id"), col("seg_id"), col("start_pos"), col("n_frames"),
        col("level"), (col("kf") % lit(SceneKeyBase)).as("key_pos"),
        expr(s"kf div $SceneKeyBase").as("key_hash"))
      .orderBy("doc_id", "seg_id")
  }

  // ---- e_merge_apply ------------------------------------------------------

  /** CDC MERGE-APPLY — the lakehouse MERGE INTO primitive: apply a change
    * batch (deletes / updates / inserts keyed by doc_id) to a snapshot and
    * emit the new snapshot. The fixture synthesizes the change feed
    * deterministically from the base table (doc_id mod 7: 0 → delete,
    * 1 → update in place with a re-tagged payload, 2 → insert on a
    * collision-free key via [[VariantIdOffset]]); a production pipeline
    * reads a real CDC feed — the apply dataflow is what this operator
    * pins.
    *
    * Execution is MERGE-ON-READ shaped: base rows and change rows union
    * into one keyed stream (here via the one-scan generator device), group
    * by the merge key, and the change wins over the base under the
    * (src, …) struct order — exactly the "latest version per key" pick a
    * merge-on-read compaction runs. Deletes win their group and are
    * then dropped; update groups keep the new version; inserts are
    * singleton groups.
    *
    * Determinism: each key's group holds at most one change row, so the
    * struct max only ever decides base-vs-change — a total order.
    *
    * At scale: ONE shuffle on the merge key (the same sort a MERGE does
    * anyway, so the sort-based aggregate the struct-max forces is the
    * operation's intrinsic cost, not overhead); no broadcast assumption on
    * the change side — CDC batches can be a large fraction of the base, as
    * the fixture's 3/7 is. The oracle derives the same snapshot through
    * the independent anti-join ∪ union-all COPY-ON-WRITE formulation, so
    * the two MERGE execution strategies certify each other. */
  def mergeApply(spark: SparkSession, dir: String): DataFrame = {
    val m7 = pmod(col("doc_id"), lit(7L))
    val rows = table(spark, dir, "documents")
      .select(explode(array(
        struct(lit(0).as("src"), lit("B").as("op"), col("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")),
        struct(lit(1).as("src"),
          when(m7 === 0, lit("D")).when(m7 === 1, lit("U"))
            .when(m7 === 2, lit("I")).otherwise(lit(null)).as("op"),
          when(m7 === 2, col("doc_id") + lit(VariantIdOffset))
            .otherwise(col("doc_id")).as("doc_id"),
          when(m7 === 1, concat(lit("upd:"), col("text")))
            .when(m7 === 2, concat(lit("ins:"), col("text")))
            .otherwise(col("text")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(4L)).as("n_chars")))).as("r"))
      .select(col("r.*"))
      .filter(col("op").isNotNull)
    mergeWinners(rows).orderBy("doc_id")
  }

  /** The MERGE winner pick shared by [[mergeApply]] and
    * [[graft.streaming.Streaming.startMergeApply]]: group the keyed
    * base ∪ change stream (src 0 = base with op "B", src 1 = change),
    * let the change win under the (src, …) struct total order, drop
    * deletes, emit the next snapshot's rows. Each key's group holds at
    * most one change row (the compacted-feed contract every MERGE INTO
    * states as "no duplicate source keys"), so the struct max only ever
    * decides base-vs-change. */
  private[graft] def mergeWinners(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(max(struct(col("src"), col("op"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("w"))
      .filter(col("w.op") =!= "D")
      .select(col("doc_id"), col("w.text").as("text"), col("w.lang").as("lang"),
        col("w.source").as("source"), col("w.n_chars").as("n_chars"))

  // ---- e_txn_conflict -------------------------------------------------------

  /** Second concurrent writer's key rule for [[txnConflict]] (mod class;
    * the first writer is [[mergeApply]]'s mod-7 rule) — 5 and 7 are
    * coprime, so the write-write overlap is the CRT class grid, non-empty
    * and non-total at every fixture scale. */
  private[queries] val TxnBMod = 5L

  /** OPTIMISTIC-CONCURRENCY conflict detection — the commit-time check
    * every table format runs when two writers race the same base version
    * (Delta's ConcurrentAppend/ConcurrentDeleteRead logic, Iceberg's
    * validation): writer A is [[mergeApply]]'s change batch (the mod-7
    * D/U/I rule — one rule definition with the graded operator), writer B
    * a second keyed batch (mod-[[TxnBMod]], inserts on its OWN offset
    * range — fresh keys are writer-unique, as in production). The key
    * emits the union of both write sets with each side's operation and
    * the classification: `write_write` where both txns touch one key
    * (B must retry under write-serializable isolation), `a_only` /
    * `b_only` where the sets are disjoint (B auto-rebases and commits).
    * Deletes and updates collide on base keys by the coprime class grid;
    * inserts never collide by construction — exactly the split real OCC
    * validators exploit (appends conflict only with reads, not writes).
    *
    * Determinism: pure integer mod classes; the full-outer join key is
    * unique per side.
    *
    * At scale: two one-scan write-set generators and ONE key-shuffle of
    * slim (key, op) rows — key-level detection, the finest grain; real
    * formats COARSEN this to file/partition level from metadata alone,
    * trading false conflicts for a metadata-priced check. The spec
    * recomputes the class grid locally and pins non-degeneracy (conflicts
    * exist, and not everything conflicts) at both gate scales. */
  def txnConflict(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"))
    def writesOf(mod: Long, off: Long, opName: String): DataFrame = {
      val m = pmod(col("doc_id"), lit(mod))
      docs.select(
          when(m === 2, col("doc_id") + lit(off)).otherwise(col("doc_id"))
            .as("key"),
          when(m === 0, lit("D")).when(m === 1, lit("U"))
            .when(m === 2, lit("I")).as(opName))
        .filter(col(opName).isNotNull)
    }
    writesOf(7L, VariantIdOffset, "a_op")
      .join(writesOf(TxnBMod, 2L * VariantIdOffset, "b_op"), Seq("key"),
        "full_outer")
      .select(col("key").as("doc_id"), col("a_op"), col("b_op"),
        when(col("a_op").isNotNull && col("b_op").isNotNull,
          lit("write_write"))
          .when(col("a_op").isNotNull, lit("a_only"))
          .otherwise(lit("b_only")).as("conflict_type"))
      .orderBy("doc_id")
  }

  // ---- e_txn_rebase ---------------------------------------------------------

  /** Writer-B payload char delta, distinct from writer A's +4 so value
    * provenance in the rebased snapshot is hash-visible (a rebase that
    * accidentally let B win a conflicted key would change bytes, not just
    * a flag). */
  private[queries] val TxnBCharsDelta = 5L

  /** OPTIMISTIC-CONCURRENCY RESOLUTION — the auto-rebase every table
    * format performs after [[txnConflict]]'s validation: writer A's batch
    * (the [[mergeApply]] mod-7 D/U/I rule — one rule definition with the
    * graded operator) commits first; writer B (mod-[[TxnBMod]], own
    * insert offset and payload edit) finds its base snapshot stale and
    * REBASES — its non-conflicting ops re-apply on top of A's committed
    * snapshot (the [[mergeWinners]] body twice: base→A, then A-snapshot→
    * rebased-B), while its write-write ops are REJECTED for retry (B must
    * re-read and re-derive them — blindly replaying a write computed
    * against a stale preimage is the lost-update anomaly OCC exists to
    * prevent). Emits the rebased snapshot with per-key outcome:
    * `committed_a` (A's write survives), `committed_b` (B's rebased write
    * survives), `b_retry` (both wrote — the key carries A's value, or no
    * payload if A deleted it), `base` (untouched live row). Dead touched
    * keys keep their outcome row with NULL payload — the commit log's
    * view, where a delete is an outcome without a row.
    *
    * Determinism: pure mod classes; each merge group holds at most one
    * change row (B's rebased set is per-key unique by construction), so
    * the struct max is a total order.
    *
    * At scale: two one-scan batch generators, ONE key-shuffle per merge
    * (the serial A-then-B history's own cost — a rebase is exactly a
    * replay), a key-anti-join for the conflict drop and a slim full-outer
    * for the outcome ledger, all on the same key. The oracle replays the
    * serial copy-on-write history independently, so the gate pins rebased
    * ≡ serial A-then-B′ — the serializability argument itself. */
  def txnRebase(spark: SparkSession, dir: String): DataFrame =
    txnRebaseRows(spark, dir).orderBy("doc_id")

  /** [[txnRebase]]'s body without the output sort — the frame
    * [[txnRetry]] folds a third serial step onto (the changeFeedRows
    * factoring rule). */
  private[queries] def txnRebaseRows(
      spark: SparkSession, dir: String): DataFrame = {
    def writerBatch(mod: Long, off: Long, updPre: String, insPre: String,
        d: Long): DataFrame = {
      val m = pmod(col("doc_id"), lit(mod))
      table(spark, dir, "documents")
        .select(
          when(m === 0, lit("D")).when(m === 1, lit("U"))
            .when(m === 2, lit("I")).as("op"),
          when(m === 2, col("doc_id") + lit(off)).otherwise(col("doc_id"))
            .as("doc_id"),
          when(m === 1, concat(lit(updPre), col("text")))
            .when(m === 2, concat(lit(insPre), col("text")))
            .otherwise(col("text")).as("text"),
          col("lang"), col("source"), (col("n_chars") + lit(d)).as("n_chars"))
        .filter(col("op").isNotNull)
    }
    // A consumed three times (merge, conflict anti-join, outcome ledger),
    // B twice — persisted so each generator scans the base once
    val a = writerBatch(7L, VariantIdOffset, "upd:", "ins:", 4L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = writerBatch(TxnBMod, 2L * VariantIdOffset, "ub:", "ib:",
        TxnBCharsDelta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def asBase(df: DataFrame): DataFrame =
      df.select(lit(0).as("src"), lit("B").as("op"), col("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    def asChange(df: DataFrame): DataFrame =
      df.select(lit(1).as("src"), col("op"), col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val s1 = mergeWinners(
      asBase(table(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))
        .unionByName(asChange(a)))
    // the REBASE: B's ops on keys A wrote are dropped (retried), the rest
    // replay on A's committed snapshot
    val bReb = b.join(a.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val s2 = mergeWinners(asBase(s1).unionByName(asChange(bReb)))
    val cls = a.select(col("doc_id"), col("op").as("a_op"))
      .join(b.select(col("doc_id"), col("op").as("b_op")), Seq("doc_id"),
        "full_outer")
      .select(col("doc_id"),
        when(col("a_op").isNotNull && col("b_op").isNotNull, lit("b_retry"))
          .when(col("a_op").isNotNull, lit("committed_a"))
          .otherwise(lit("committed_b")).as("outcome"))
    s2.join(cls, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), coalesce(col("outcome"), lit("base")).as("outcome"),
        col("text"), col("lang"), col("source"), col("n_chars"))
  }

  // ---- e_txn_retry ----------------------------------------------------------

  /** OCC RETRY — the third step of the optimistic-concurrency loop
    * ([[txnConflict]] detects, [[txnRebase]] rebases and REJECTS the
    * write-write ops, this RETRIES them): writer B re-reads the rebased
    * snapshot and RE-DERIVES each rejected op against the CURRENT
    * preimage — the client-side loop every OCC system's documentation
    * prescribes after a `ConcurrentModificationException`. A retried
    * UPDATE applies B's edit to the key's current value (A's committed
    * payload — not B's stale derivation, which is the lost-update the
    * abort existed to prevent); a retried DELETE removes the key; a retry
    * against a key A already deleted has nothing to apply and DROPS
    * (MERGE WHEN MATCHED semantics — the no-op retry). Inserts never
    * conflict, so nothing re-inserts. Emits the final serial
    * base→A→B′→B″ snapshot with the ledger refined: `b_retry` keys
    * resolve to `retried_update` / `retried_delete` / `retry_noop`
    * (A had deleted the key), other outcomes carry over from
    * [[txnRebase]].
    *
    * Determinism: the retried batch is per-key unique (one conflicted op
    * per key), so the [[mergeWinners]] struct max stays a total order.
    *
    * At scale: ONE extra key-shuffle for the third merge (the serial
    * history's own cost), a semi-join to derive retried ops from the
    * rebased snapshot, and a slim ledger join — the retry costs what a
    * normal commit costs, which is why OCC retries are cheap when
    * conflicts are rare. Composes the graded [[txnRebase]] pipeline
    * (writer A's commit IS [[mergeApply]]'s) — a harness key. */
  def txnRetry(spark: SparkSession, dir: String): DataFrame = {
    // the rebased snapshot + ledger, recomputed via the graded key's own
    // body (ordered surface dropped: the merges below re-shuffle anyway)
    val rebased = txnRebaseRows(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // B's conflicted ops: the b_retry ledger rows, with B's ORIGINAL op
    // class recovered from the coprime mod rule (op on base keys only —
    // inserts never conflict, so conflicted keys are base keys)
    val m5 = pmod(col("doc_id"), lit(TxnBMod))
    val retryOps = rebased.filter(col("outcome") === "b_retry")
      .select(col("doc_id"),
        when(m5 === 0, lit("D")).otherwise(lit("U")).as("b_op"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    // re-derive against the CURRENT preimage: live keys only (text
    // non-null); a retry on an A-deleted key is the no-op
    val retried = retryOps.filter(col("text").isNotNull)
      .select(lit(1).as("src"), col("b_op").as("op"), col("doc_id"),
        when(col("b_op") === "U", concat(lit("ub:"), col("text")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"),
        when(col("b_op") === "U", col("n_chars") + lit(TxnBCharsDelta))
          .otherwise(col("n_chars")).as("n_chars"))
    val s3 = mergeWinners(
      rebased.filter(col("text").isNotNull)
        .select(lit(0).as("src"), lit("B").as("op"), col("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .unionByName(retried))
    val ledger = rebased.select(col("doc_id"),
      when(col("outcome") =!= "b_retry", col("outcome"))
        .when(col("text").isNull, lit("retry_noop"))
        .when(m5 === 0, lit("retried_delete"))
        .otherwise(lit("retried_update")).as("outcome"))
    s3.join(ledger, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), coalesce(col("outcome"), lit("base")).as("outcome"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  // ---- e_txn_readset --------------------------------------------------------

  /** Writer B's skew class for [[txnReadset]] — keys with doc_id mod 7 =
    * this are B's write set, DISJOINT from writer A's mod-7 {0, 1, 2}
    * write classes by construction (write-write validation passes — the
    * precondition of the write-skew anomaly). */
  private[queries] val TxnReadsetBClass = 3L

  /** READ-SET validation — the anomaly class the rest of the txn family
    * CANNOT see: [[txnConflict]]/[[txnRebase]]/[[txnRetry]] validate
    * write-write overlap, which is snapshot isolation, and the classic
    * anomaly SI admits is WRITE SKEW (Berenson et al. '95; Cahill's SSI,
    * what PostgreSQL SERIALIZABLE ships) — two writers with DISJOINT
    * write sets whose writes are DERIVED from overlapping READS. The
    * fixture constructs it: writer A is the graded [[mergeApply]] mod-7
    * batch (commits first); writer B updates its own disjoint
    * mod-7=[[TxnReadsetBClass]] class, each write carrying a value
    * DERIVED from a declared two-key read set {j, partner(j)} (partner =
    * j+1 for even j — a class A never writes; j−2 for odd j — A's update
    * class): n_chars_written = the SUM of both read rows, the
    * "two-account invariant" shape. Write-write validation finds NO
    * conflict and would commit every B op — embedding derivations from
    * preimages A already overwrote (the lost-derivation anomaly).
    * Backward READ-SET validation (Kung & Robinson '81 §3 — stricter
    * than SSI's dangerous-structure test: ANY committed-write ∩ read-set
    * hit aborts, no rw-cycle tracking) joins B's declared read keys
    * against A's committed write set and flags the hit ops `ssi_abort`;
    * clean ops commit. Emits the union ledger: every A op
    * (`committed_a`) and every B op with its partner key, the derived
    * value (hash-visible: what WOULD have been wrongly committed),
    * `read_stale`, and the outcome — with both B classes non-empty at
    * both gate scales (36 aborts / 35 commits), spec-pinned along with
    * write-set disjointness (the rebase-would-commit-everything claim).
    *
    * Determinism: pure mod classes, integer sums, key joins.
    *
    * At scale: one base scan per writer's generator, B's partner read is
    * ONE key-join of slim (key, partner) pairs against the base, and the
    * validation is one more key-join of B's read edges against A's write
    * keys — commit-time validation costs a metadata-sized join, which is
    * why OCC read-set validation (FoundationDB's model) scales; real
    * engines coarsen the read set to predicate/range locks, trading
    * false aborts for smaller state. Composes the graded [[mergeApply]]
    * write rule — a harness key. */
  def txnReadset(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m7 = pmod(col("doc_id"), lit(7L))
    // writer A: the graded mergeApply mod-7 rule (ledger view)
    val aOps = docs
      .select(
        when(m7 === 2, col("doc_id") + lit(VariantIdOffset))
          .otherwise(col("doc_id")).as("doc_id"),
        when(m7 === 0, lit("D")).when(m7 === 1, lit("U"))
          .when(m7 === 2, lit("I")).as("op"),
        when(m7 === 0, lit(null).cast("long"))
          .otherwise(col("n_chars") + lit(4L)).as("n_chars_written"))
      .filter(col("op").isNotNull)
    // A's committed write set on BASE keys (inserts land on offset keys —
    // a read can never have seen them)
    val aWrites = docs.filter(m7.isin(0L, 1L)).select(col("doc_id").as("w"))
    // writer B: the skew class, value derived from the declared 2-key read
    val bPairs = docs.filter(m7 === TxnReadsetBClass)
      .select(col("doc_id"), col("n_chars"),
        when(pmod(col("doc_id"), lit(2L)) === 0, col("doc_id") + 1L)
          .otherwise(col("doc_id") - 2L).as("partner_id"))
    val bDerived = bPairs
      .join(docs.select(col("doc_id").as("partner_id"),
        col("n_chars").as("p_chars")), Seq("partner_id"))
      .select(col("doc_id"), col("partner_id"),
        (col("n_chars") + col("p_chars")).as("n_chars_written"))
    // backward validation: any declared read key in A's committed writes
    // (the partner is the only read A can have invalidated — B's own-key
    // read is in B's write class, disjoint from A's by construction)
    val bOps = bDerived
      .join(broadcast(aWrites), col("partner_id") === col("w"), "left")
      .select(col("doc_id"), col("partner_id"), col("n_chars_written"),
        col("w").isNotNull.as("read_stale"))
    aOps.select(col("doc_id"), lit("a").as("writer"), col("op"),
        lit(null).cast("long").as("partner_id"), col("n_chars_written"),
        lit(false).as("read_stale"), lit("committed_a").as("outcome"))
      .unionByName(bOps.select(col("doc_id"), lit("b").as("writer"),
        lit("U").as("op"), col("partner_id"), col("n_chars_written"),
        col("read_stale"),
        when(col("read_stale"), lit("ssi_abort")).otherwise(lit("committed_b"))
          .as("outcome")))
      .orderBy("doc_id", "writer")
  }

  // ---- e_time_travel ------------------------------------------------------

  /** Number of change batches in the synthetic table history (versions
    * 1..this over the version-0 base snapshot). */
  private[queries] val TimeTravelVersions = 3

  /** Snapshot TIME TRAVEL — the `AS OF <version>` read every table format
    * ships and the lakehouse primitive next to [[scanPrune]] /
    * [[compactionPlan]]: reconstruct the table state at EVERY version of a
    * keyed change history (v0 base + [[TimeTravelVersions]] change
    * batches), one output block per version. The fixture synthesizes the
    * history deterministically from the base table (doc_id mod 9 classes:
    * per-version deletes, updates — including a key UPDATED AT EVERY
    * VERSION, so precedence is genuinely exercised — an update-then-delete
    * key, and per-version inserts on collision-free offset keys); a
    * production pipeline reads a real transaction log — the AS-OF dataflow
    * is what this operator pins.
    *
    * Execution is the LOG-STRUCTURED read (merge-on-read): the full log
    * (base ∪ all batches, one-scan generator device) joins the tiny
    * version dimension on `ver <= version`, and per (version, key) the
    * HIGHEST-version row wins under the (ver, …) struct order — deletes
    * win their group and drop. The DuckDB oracle derives every snapshot
    * through the independent SEQUENTIAL COPY-ON-WRITE replay (apply batch
    * 1 to the base, batch 2 to that, …), so the two table-format read
    * strategies certify each other — the [[mergeApply]] device extended to
    * a full history.
    *
    * Determinism: per (version, key) the candidate rows carry DISTINCT
    * versions by construction, so the struct max is a total order; all
    * payload edits are integer arithmetic and string concat.
    *
    * At scale: a production AS-OF read fixes ONE version — a ver-filter
    * over the log plus one key-shuffle ([[snapshotAsOf]], the entry the
    * spec drives); reconstructing ALL versions at once (this audit shape)
    * pays |versions|·|log| through the same single shuffle, which is the
    * honest bill of a full-history materialization. The version dimension
    * BROADCASTS; the log is scanned once. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame =
    timeTravelRows(spark, dir).orderBy("version", "doc_id")

  /** [[timeTravel]]'s body without the output sort — the all-versions
    * snapshot frame [[statsStaleness]] prices its actuals from (the
    * changeFeedRows factoring rule). */
  private[queries] def timeTravelRows(spark: SparkSession, dir: String): DataFrame = {
    val vers = spark.range(0L, TimeTravelVersions + 1L)
      .select(col("id").as("version"))
    timeTravelWinners(
      timeTravelLog(spark, dir).join(broadcast(vers), col("ver") <= col("version")),
      col("version"))
  }

  /** The production-shaped single-version read: table state AS OF version
    * `v` — one ver-filter over the log, one key-shuffle. The spec pins
    * v = 0 ≡ base, each v ≡ the all-versions table sliced, and
    * v = [[TimeTravelVersions]] ≡ the current snapshot. */
  private[queries] def snapshotAsOf(spark: SparkSession, dir: String,
      v: Int): DataFrame =
    snapshotAsOfRows(spark, dir, v).orderBy("doc_id")

  /** [[snapshotAsOf]]'s body without the output sort — the frame
    * [[feedApplyMinmax]]'s rescan step consumes (the changeFeedRows
    * factoring rule). */
  private[queries] def snapshotAsOfRows(spark: SparkSession, dir: String,
      v: Int): DataFrame = {
    require(v >= 0 && v <= TimeTravelVersions,
      s"version must be in [0, $TimeTravelVersions], got $v")
    timeTravelWinners(
      timeTravelLog(spark, dir).filter(col("ver") <= v)
        .withColumn("version", lit(v.toLong)),
      col("version"))
  }

  /** Highest-version-wins pick per (version, doc_id) — the
    * [[mergeWinners]] shape with the version as precedence. */
  private def timeTravelWinners(rows: DataFrame, version: Column): DataFrame =
    rows.groupBy(version, col("doc_id"))
      .agg(max(struct(col("ver"), col("op"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("w"))
      .filter(col("w.op") =!= "D")
      .select(col("version"), col("doc_id"), col("w.text").as("text"),
        col("w.lang").as("lang"), col("w.source").as("source"),
        col("w.n_chars").as("n_chars"))

  /** The synthesized keyed change LOG (base ∪ batches 1..N) from ONE base
    * scan — the [[mergeApply]] generator device. Classes (m = doc_id mod
    * 9): m ∈ {1,2,3} deleted at version m; m ∈ {4,5,6} updated at version
    * m−3 (and m = 4 DELETED again at version 3 — the update-then-delete
    * key); m = 7 updated at EVERY version (precedence lives); m = 0
    * inserts a fresh offset key at every version. */
  private def timeTravelLog(spark: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(9L))
    def st(ver: Long, op: String, id: Column, text: Column,
        nChars: Column) =
      struct(lit(ver).as("ver"), lit(op).as("op"), id.as("doc_id"),
        text.as("text"), col("lang").as("lang"), col("source").as("source"),
        nChars.as("n_chars"))
    def del(v: Long) = st(v, "D", col("doc_id"), col("text"), col("n_chars"))
    def upd(v: Int) = st(v.toLong, "U", col("doc_id"),
      concat(lit(s"u$v:"), col("text")), col("n_chars") + lit(3L))
    def ins(v: Int) = st(v.toLong, "I",
      col("doc_id") + lit(v * VariantIdOffset),
      concat(lit(s"i$v:"), col("text")), col("n_chars") + lit(3L))
    val base = st(0L, "B", col("doc_id"), col("text"), col("n_chars"))
    val a = when(m === 1, del(1L)).when(m === 2, del(2L)).when(m === 3, del(3L))
      .when(m === 4, upd(1)).when(m === 5, upd(2)).when(m === 6, upd(3))
    val b = when(m === 4, del(3L)).when(m === 7, upd(1)).when(m === 0, ins(1))
    val c = when(m === 7, upd(2)).when(m === 0, ins(2))
    val d = when(m === 7, upd(3)).when(m === 0, ins(3))
    table(spark, dir, "documents")
      .select(explode(array(base, a, b, c, d)).as("r"))
      .select(col("r.*"))
      .filter(col("op").isNotNull)
  }

  // ---- e_stats_staleness ----------------------------------------------------

  /** Auto-ANALYZE churn threshold as a ratio of the stats-time row count
    * — PostgreSQL's `autovacuum_analyze_scale_factor` default is 0.10. */
  private[queries] val StalenessThresholdNum = 1L
  private[queries] val StalenessThresholdDen = 10L

  /** STATISTICS STALENESS across the table history — the lifecycle leg
    * that decides WHEN the CBO family's inputs get rebuilt: the
    * equi-width histogram is built once at version 0 (the graded
    * [[rangeEstimate]] audit — its rows ARE this key's version-0 block)
    * and the table then churns through the [[timeTravel]] versions while
    * the optimizer keeps pricing the SAME pinned ranges from the STALE
    * histogram. Per (version, range) the key emits the stale estimate
    * against the AS-OF actual, alongside the cumulative churn ratio and
    * the auto-ANALYZE trigger (changed tuples ≥
    * [[StalenessThresholdNum]]/[[StalenessThresholdDen]] of the
    * stats-time rows — PostgreSQL's rule; this fixture churns ~45% per
    * version, so the trigger fires from version 1, spec-pinned exactly).
    *
    * The honest finding is WHY production triggers count churn instead
    * of watching error: observed error is QUERY-DEPENDENT — at the final
    * version the same stale histogram is nearly right on one pinned
    * range and badly wrong on another (measured |err−1| spreads ≥ 2×
    * between ranges at both gate scales, spec-pinned), and a fresh
    * histogram does not even dominate uniformly on this fixture
    * (equi-width's own edge pathology — [[rangeEstimateEqd]]'s subject),
    * so an error-watching trigger would need per-query baselines the
    * engine doesn't have. Counting changed tuples is cheap, local, and
    * query-independent.
    *
    * Determinism: integer counts; the estimate column is the graded
    * audit's exact rational; err is one guarded IEEE divide.
    *
    * At scale: the stats are ≤B metadata rows (built once); every
    * version's actuals come from ONE log pass (the [[timeTravel]]
    * interval join — the audit's deliberate cost; production checks the
    * trigger from table metadata alone and never runs this scan); churn
    * counters are one slim aggregate of the feed. Composes the graded
    * [[rangeEstimate]], [[timeTravel]] and [[changeFeed]] derivations —
    * a harness key. */
  def statsStaleness(spark: SparkSession, dir: String): DataFrame = {
    // the stale stats: the graded version-0 audit rows, persisted — the
    // ranges join every version's snapshot and the estimate repeats per
    // version block
    val est = rangeEstimateBody(spark, dir)
      .select(col("range_id"), col("qlo"), col("qhi"), col("n_est"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vers = spark.range(0L, TimeTravelVersions + 1L)
      .select(col("id").as("version"))
    // every version's actuals in ONE log pass: the graded timeTravel
    // derivation joined against the broadcast 3-range dim
    val act = timeTravelRows(spark, dir)
      .join(broadcast(est.select(col("range_id"), col("qlo"), col("qhi"))),
        col("n_chars") >= col("qlo") && col("n_chars") <= col("qhi"))
      .groupBy(col("version"), col("range_id"))
      .agg(count(lit(1)).as("n_actual"))
    // churn: changed tuples per version (updates count once — the
    // distinct collapses the feed's pre/post pair), cumulative over the
    // broadcast version dim; n0 is the stats-time row count
    val churn = changeFeedRows(spark, dir)
      .groupBy(col("version")).agg(countDistinct(col("doc_id")).as("n_ch"))
    val n0 = table(spark, dir, "documents").agg(count(lit(1)).as("n0"))
    val cum = vers.as("v")
      .join(broadcast(churn).as("c"), col("c.version") <= col("v.version"), "left")
      .groupBy(col("v.version").as("version"))
      .agg(coalesce(sum(col("n_ch")), lit(0L)).as("churn_cum"))
      .crossJoin(broadcast(n0))
      .select(col("version"), col("churn_cum"),
        (col("churn_cum").cast("double") / col("n0").cast("double"))
          .as("churn_ratio"),
        (col("churn_cum") * lit(StalenessThresholdDen) >=
          col("n0") * lit(StalenessThresholdNum)).as("reanalyze"))
    vers.crossJoin(broadcast(est))
      .join(act, Seq("version", "range_id"), "left")
      .join(broadcast(cum), Seq("version"))
      .select(col("version"), col("range_id"), col("qlo"), col("qhi"),
        col("n_est").as("n_est_stale"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        when(coalesce(col("n_actual"), lit(0L)) === 0,
            lit(null).cast("double"))
          .otherwise(col("n_est") / col("n_actual").cast("double"))
          .as("err_stale"),
        col("churn_cum"), col("churn_ratio"), col("reanalyze"))
      .orderBy("version", "range_id")
  }

  // ---- e_vacuum_plan ------------------------------------------------------

  /** Lakehouse VACUUM/retention planning over the [[timeTravel]] history —
    * the sizing report a table-format maintenance job reads before
    * compacting time travel away: choosing a retain floor v means versions
    * BELOW v stop being readable and every log entry at ver ≤ v collapses
    * into one rewritten base (the AS-OF-v snapshot), so the plan prices
    * each candidate floor with exact counts: log entries in scope
    * (`n_log`), live rows the rewritten base keeps (`n_live`), delete
    * markers eliminated (`n_tombstones`), and net reclaimable entries
    * (`n_reclaimable` = n_log − n_live — superseded versions, tombstones,
    * and the deleted bases they killed). v = 0 is the no-op floor (only
    * the base is in scope, nothing reclaims — zero by construction);
    * v = [[TimeTravelVersions]] prices full compaction to a single
    * snapshot. This is the VACUUM dry-run every table format ships,
    * sitting next to [[timeTravel]] (what vacuum destroys) and
    * [[compactionPlan]] (the file-level sibling).
    *
    * Determinism: exact integer counts over the deterministic log; the
    * winner pick is [[timeTravelWinners]] — the graded key's own.
    *
    * At scale: the log generates from ONE base scan (the [[timeTravel]]
    * device), the |versions|-row floor dimension broadcasts, and both
    * rollups are map-side-combined counts — the dry-run costs one
    * |versions|·|log| pass, far below the compaction it prices; pricing
    * ONE floor in production is a ver-filtered count plus the AS-OF read's
    * key-shuffle. Composes the graded [[timeTravel]] derivation — a
    * harness key (the oracle composes the sequential-replay CTEs, so the
    * two read strategies price the same plan). CACHING CONTRACT: the
    * scoped log frame persists (the in-scope rollup and the winners pick
    * both consume it); callers should clearCache() after materializing. */
  def vacuumPlan(spark: SparkSession, dir: String): DataFrame = {
    val vers = spark.range(0L, TimeTravelVersions + 1L)
      .select(col("id").as("version"))
    // consumed by the in-scope rollup AND the winners pick — persisted so
    // the generator runs once per floor set, not once per consumer
    val scoped = timeTravelLog(spark, dir)
      .join(broadcast(vers), col("ver") <= col("version"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inScope = scoped.groupBy(col("version"))
      .agg(count(lit(1)).as("n_log"),
        sum(when(col("op") === "D", lit(1L)).otherwise(lit(0L)))
          .as("n_tombstones"))
    val live = timeTravelWinners(scoped, col("version"))
      .groupBy(col("version")).agg(count(lit(1)).as("n_live"))
    inScope.join(live, Seq("version"))
      .select(col("version"), col("n_log"), col("n_live"), col("n_tombstones"),
        (col("n_log") - col("n_live")).as("n_reclaimable"))
      .orderBy("version")
  }

  // ---- e_vacuum_apply -----------------------------------------------------

  /** The retain floor [[vacuumApply]] executes — a MIDDLE version on
    * purpose, so the rewrite exercises both collapse (versions ≤ floor
    * compact into the base) and preservation (version 3's batch stays a
    * live log entry on top). An oracle-stability pin like
    * [[TimeTravelVersions]]. */
  private[queries] val VacuumRetainFloor = 2

  /** The POST-VACUUM log at [[VacuumRetainFloor]] — [[vacuumApply]]'s
    * rewrite, factored out so the production-shaped single-version read
    * ([[vacuumedSnapshotAsOf]]) and the full audit read share one rewrite
    * definition: every entry at ver ≤ floor collapses into ONE rewritten
    * base (the AS-OF-floor winners — [[timeTravelWinners]], the graded
    * key's own pick — re-tagged as base entries at ver = floor), and
    * entries above the floor carry over untouched. Tombstones at ver ≤
    * floor vanish WITH the keys they killed — exactly the
    * `n_reclaimable` entries [[vacuumPlan]] priced at this floor
    * (spec-pinned equality). */
  private[queries] def vacuumCompactedLog(spark: SparkSession,
      dir: String): DataFrame = {
    val floor = VacuumRetainFloor.toLong
    val log = timeTravelLog(spark, dir)
    val base = timeTravelWinners(
        log.filter(col("ver") <= floor).withColumn("version", lit(floor)),
        col("version"))
      .select(lit(floor).as("ver"), lit("B").as("op"), col("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    base.unionByName(log.filter(col("ver") > floor)
      .select(col("ver"), col("op"), col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
  }

  /** VACUUM EXECUTION + re-audit — the other half of the retention loop
    * [[vacuumPlan]] opens (the [[compactionApply]] pattern): rewrite the
    * log at the pinned floor ([[vacuumCompactedLog]]) and re-emit every
    * RETAINED version's AS-OF read from the compacted log — the
    * post-vacuum serving surface. Reads BELOW the floor fail loud
    * ([[vacuumedSnapshotAsOf]]'s require — the spec drives it); reads at
    * or above it are BYTE-IDENTICAL to the pre-vacuum [[snapshotAsOf]]
    * (read preservation, spec-pinned per version), and the rewrite
    * reclaims exactly the entries the plan priced (spec-pinned against
    * [[vacuumPlan]]'s `n_reclaimable` at the floor).
    *
    * CROSS-CERTIFICATION (the [[timeTravel]] device carried into the
    * rewrite): Spark compacts MERGE-ON-READ — the base is the
    * highest-version-wins pick over the scoped log — while the DuckDB
    * oracle compacts COPY-ON-WRITE — its base is the sequential replay's
    * snapshot at the floor, with post-floor batches replayed on top — so
    * the hash gate itself proves the two table-format vacuum strategies
    * produce the same readable history.
    *
    * Determinism: the winner pick is a total order (distinct versions per
    * key); all payload edits are integer arithmetic and string concat.
    *
    * At scale: the rewrite is ONE key-shuffle over the scoped log (the
    * AS-OF read's own cost — vacuum pays one read to delete forever), and
    * the audit's all-retained-versions materialization pays
    * |retained|·|compacted log| through one shuffle, the [[timeTravel]]
    * bill over a strictly smaller log. Composes the graded [[timeTravel]]
    * derivation — a harness key. */
  def vacuumApply(spark: SparkSession, dir: String): DataFrame = {
    val vers = spark.range(VacuumRetainFloor.toLong, TimeTravelVersions + 1L)
      .select(col("id").as("version"))
    timeTravelWinners(
      vacuumCompactedLog(spark, dir)
        .join(broadcast(vers), col("ver") <= col("version")),
      col("version"))
      .orderBy("version", "doc_id")
  }

  /** The production-shaped single-version read AFTER vacuum: AS OF `v`
    * over the compacted log. Versions below the retain floor are GONE —
    * the read fails loud instead of silently serving a wrong
    * reconstruction (the spec drives both sides of the boundary). */
  private[queries] def vacuumedSnapshotAsOf(spark: SparkSession, dir: String,
      v: Int): DataFrame = {
    require(v >= VacuumRetainFloor && v <= TimeTravelVersions,
      s"version $v is not readable after vacuum: the retain floor is " +
        s"$VacuumRetainFloor (history above ${TimeTravelVersions} never existed)")
    timeTravelWinners(
      vacuumCompactedLog(spark, dir).filter(col("ver") <= v)
        .withColumn("version", lit(v.toLong)),
      col("version"))
      .orderBy("doc_id")
  }

  // ---- e_change_feed --------------------------------------------------------

  /** CHANGE DATA FEED over the [[timeTravel]] history — the
    * `table_changes(from, to)` read every table format ships and the
    * primitive an incremental pipeline consumes instead of diffing
    * snapshots: for every change version, each log entry classified
    * against the PREVIOUS snapshot — `insert` (new payload), `delete`
    * (the removed row's content), and updates as the standard
    * preimage/postimage PAIR (the shape a downstream aggregate needs to
    * retract-then-apply). This closes the read side of the CDC loop:
    * [[mergeApply]] applies a feed, [[timeTravel]] reconstructs states,
    * this EMITS the feed between states.
    *
    * CROSS-CERTIFICATION (the [[timeTravel]] device): Spark derives each
    * version's preimages from the MERGE-ON-READ winners pick over the log
    * (one shuffle, all versions at once), while the DuckDB oracle joins
    * each batch against the SEQUENTIAL replay's previous snapshot — the
    * hash gate proves the feed is identical under both table-format read
    * strategies.
    *
    * Determinism: the winners pick is a total order; payloads are the
    * log's own (integer arithmetic + string concat); the emit is a pure
    * per-row explode.
    *
    * At scale: ONE key-shuffle joins the change entries to their previous
    * snapshots (|versions|·|log| through the same single shuffle as the
    * [[timeTravel]] audit — in production the feed is stored change files
    * and this derivation is the backfill path); output is |changes| +
    * |updates| slim rows. Composes the graded [[timeTravel]] derivation —
    * a harness key. */
  def changeFeed(spark: SparkSession, dir: String): DataFrame =
    changeFeedRows(spark, dir).orderBy("version", "doc_id", "change_type")

  /** [[changeFeed]]'s body without the output sort — the frame
    * [[feedApply]] consumes (an aggregate immediately destroys ordering,
    * so the consumer must not pay the feed's presentation sort; the
    * labelPropParts factoring rule). */
  private[queries] def changeFeedRows(
      spark: SparkSession, dir: String): DataFrame = {
    val log = timeTravelLog(spark, dir)
    val vers = spark.range(1L, TimeTravelVersions + 1L)
      .select(col("id").as("version"))
    // state BEFORE version v (entries with ver < v), keyed by v
    val prev = timeTravelWinners(
      log.join(broadcast(vers), col("ver") < col("version")), col("version"))
    val changes = log.filter(col("ver") >= 1)
    val j = changes.as("c").join(prev.as("p"),
        col("c.ver") === col("p.version") && col("c.doc_id") === col("p.doc_id"),
        "left")
      .select(col("c.ver").as("version"), col("c.op"), col("c.doc_id"),
        col("c.text").as("nt"), col("c.lang").as("nl"),
        col("c.source").as("ns"), col("c.n_chars").as("nn"),
        col("p.text").as("ot"), col("p.lang").as("ol"),
        col("p.source").as("os"), col("p.n_chars").as("on"))
    def ev(tag: String, t: Column, l: Column, s: Column, n: Column) =
      struct(lit(tag).as("change_type"), t.as("text"), l.as("lang"),
        s.as("source"), n.as("n_chars"))
    // preimage-bearing rows require the key to EXIST in the previous
    // snapshot (`ot` non-null) — the same semantics as the oracle's inner
    // join against the replay snapshot, so a malformed log entry (an
    // update/delete of an absent key) drops identically in both engines
    // instead of Spark emitting a null-payload row the oracle never sees;
    // the spec's apply-closure pin catches such a log at the gate scales
    j.select(col("version"), col("doc_id"), explode(array(
        when(col("op") === "I", ev("insert", col("nt"), col("nl"), col("ns"), col("nn"))),
        when(col("op") === "U" && col("ot").isNotNull,
          ev("update_preimage", col("ot"), col("ol"), col("os"), col("on"))),
        when(col("op") === "U", ev("update_postimage", col("nt"), col("nl"), col("ns"), col("nn"))),
        when(col("op") === "D" && col("ot").isNotNull,
          ev("delete", col("ot"), col("ol"), col("os"), col("on"))))).as("c"))
      .filter(col("c.change_type").isNotNull)
      .select(col("version"), col("c.change_type").as("change_type"),
        col("doc_id"), col("c.text").as("text"), col("c.lang").as("lang"),
        col("c.source").as("source"), col("c.n_chars").as("n_chars"))
  }

  // ---- e_feed_apply ---------------------------------------------------------

  /** The retract-then-apply SIGN of one change-feed row: +1 for
    * `insert`/`update_postimage` (⊕), −1 for `delete`/`update_preimage`
    * (⊖) — ONE rule shared by [[feedApply]] and
    * [[graft.streaming.Streaming.startFeedApply]], so the batch backfill
    * and the continuous maintenance fold the same algebra. */
  private[graft] def feedSign: Column =
    when(col("change_type").isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))

  /** CHANGE-FEED CONSUMER — incremental-aggregate MAINTENANCE, the
    * pipeline [[changeFeed]] exists to feed: a standing (lang, source)
    * aggregate (doc count, exact int64 char sum — [[incrAgg]]'s
    * commutative-monoid state, here an abelian GROUP because every element
    * has an inverse) is kept current across the table's versions by
    * folding each version's feed into the state instead of re-reading the
    * snapshot: `insert`/`update_postimage` rows apply (⊕ +1, +n_chars),
    * `delete`/`update_preimage` rows RETRACT (⊖ −1, −n_chars) — the
    * standard retract-then-apply algebra a streaming materialized view
    * runs on a CDC feed. The gate is the whole point: the DuckDB oracle
    * recomputes every version's aggregate from the AS-OF snapshot
    * (sequential copy-on-write replay), so the hash match proves
    * maintained ≡ recomputed at EVERY version — the invariant that lets a
    * 100 TB pipeline maintain dashboards from |changes| rows instead of
    * |table| rows per version.
    *
    * HONESTY (max/min columns): count and sum are invertible, so deletes
    * fold in O(1); max/min are NOT (retracting the current max forces a
    * re-scan of the group — production systems keep a heap per group or
    * fall back to recompute-on-retraction). This operator maintains
    * exactly the invertible columns; [[incrAgg]]'s max column lives in the
    * insert-only regime where max IS maintainable.
    *
    * Determinism: pure integer counts/sums of the deterministic feed; the
    * read-time mean is one IEEE divide of exact int64s.
    *
    * At scale: the feed aggregates map-side to ≤ |versions|·|groups| slim
    * delta rows; base partials are one map-side-combined aggregate of the
    * version-0 snapshot (in production: the stored state table, read not
    * computed); the cumulative fold is a broadcast join of the tiny delta
    * table against the |groups|·|versions| grid — the corpus is touched
    * once for the base state and never again, which is the entire point.
    * Groups whose count reaches zero drop from the state (matching the
    * recompute's GROUP BY, which never sees them). Composes the graded
    * [[changeFeed]] derivation — a harness key. */
  def feedApply(spark: SparkSession, dir: String): DataFrame =
    feedApplyRows(spark, dir).orderBy("version", "lang", "source")

  /** [[feedApply]]'s body without the output sort — the maintained state
    * [[mvRewrite]] answers from (the changeFeedRows factoring rule). */
  private[queries] def feedApplyRows(
      spark: SparkSession, dir: String): DataFrame = {
    val deltas = changeFeedRows(spark, dir)
      .select(col("version"), col("lang"), col("source"),
        feedSign.as("sgn"), col("n_chars"))
      .groupBy(col("version"), col("lang"), col("source"))
      .agg(sum(col("sgn")).as("d_docs"),
        sum(col("sgn") * col("n_chars")).as("d_chars"))
    val base = table(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("b_docs"), sum(col("n_chars")).as("b_chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vers = spark.range(0L, TimeTravelVersions + 1L)
      .select(col("id").as("version"))
    // group dimension: base groups ∪ any group the feed creates (the
    // fixture's inserts reuse base groups, but the fold must not assume it)
    val groups = base.select(col("lang"), col("source"))
      .unionByName(deltas.select(col("lang"), col("source"))).distinct()
    val cum = groups.crossJoin(broadcast(vers)).as("g")
      .join(broadcast(deltas).as("d"),
        col("d.lang") === col("g.lang") && col("d.source") === col("g.source")
          && col("d.version") <= col("g.version"), "left")
      .groupBy(col("g.version").as("version"), col("g.lang").as("lang"),
        col("g.source").as("source"))
      .agg(coalesce(sum(col("d.d_docs")), lit(0L)).as("c_docs"),
        coalesce(sum(col("d.d_chars")), lit(0L)).as("c_chars"))
    cum.join(broadcast(base), Seq("lang", "source"), "left")
      .select(col("version"), col("lang"), col("source"),
        (coalesce(col("b_docs"), lit(0L)) + col("c_docs")).as("n_docs"),
        (coalesce(col("b_chars"), lit(0L)) + col("c_chars")).as("sum_chars"))
      .filter(col("n_docs") > 0)
      .withColumn("avg_chars",
        col("sum_chars").cast("double") / col("n_docs").cast("double"))
  }

  // ---- e_mv_rewrite ---------------------------------------------------------

  /** MATERIALIZED-VIEW query REWRITE (Goldstein & Larson '01) — the
    * CONSUMER side of the maintenance loop [[feedApply]] runs, closing
    * it: maintaining an MV only pays off if the optimizer ANSWERS
    * queries from it, and the rewrite rule this key certifies is the
    * rollup match: an arriving per-LANG aggregate is a coarsening of
    * the MV's (lang, source) grouping set, and count/sum are
    * DECOMPOSABLE aggregates (γ_lang(T) = γ_lang(γ_{lang,source}(T))),
    * so the rewriter re-aggregates the |groups|-row maintained state and
    * never touches the corpus — avg re-derives from the re-aggregated
    * exact sum and count, which is WHY the MV stores partials, never
    * averages (an avg of avgs is wrong under unequal group sizes).
    * Emits per lang the REWRITTEN answer (from the maintained fold
    * state at the current version) next to the DIRECT answer (one
    * corpus aggregate of the AS-OF snapshot) with the `rewrite_ok`
    * equality flag; the oracle computes both paths from the sequential
    * replay, so the hash match cross-certifies the rewrite over the
    * FOLD-maintained state against an engine that never folded.
    *
    * Determinism: exact int64 partials; the rolled-up avg is one IEEE
    * divide.
    *
    * At scale: the rewrite touches |groups| metadata rows — the entire
    * point (the direct path's corpus aggregate is the audit's
    * deliberate cost, in production the query never runs); the MV read
    * is the stored state table. Composes the graded [[feedApply]] state
    * and the [[snapshotAsOf]] derivation — a harness key. */
  def mvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val mv = feedApplyRows(spark, dir)
      .filter(col("version") === lit(TimeTravelVersions.toLong))
    val rw = mv.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs_rw"),
        sum(col("sum_chars")).as("sum_chars_rw"))
      .withColumn("avg_chars_rw",
        col("sum_chars_rw").cast("double") / col("n_docs_rw").cast("double"))
    val direct = snapshotAsOfRows(spark, dir, TimeTravelVersions)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_direct"),
        sum(col("n_chars")).as("sum_chars_direct"))
    rw.join(direct, Seq("lang"), "full_outer")
      .select(col("lang"), col("n_docs_rw"), col("sum_chars_rw"),
        col("avg_chars_rw"), col("n_docs_direct"), col("sum_chars_direct"),
        (col("n_docs_rw") === col("n_docs_direct") &&
          col("sum_chars_rw") === col("sum_chars_direct")).as("rewrite_ok"))
      .orderBy("lang")
  }

  // ---- e_feed_apply_minmax --------------------------------------------------

  /** RETRACTABLE-EXTREMUM maintenance — the honesty fallback
    * [[feedApply]]'s scaladoc states and this key makes a GRADED FACT:
    * count/sum fold deletes in O(1) (abelian group), but max/min are NOT
    * invertible — retracting the current extremum says nothing about the
    * runner-up, so a production maintainer keeps the extremum LAZILY:
    * inserts fold monoid-style (new_max = max(old, inserted)); a version
    * whose feed RETRACTS a row carrying the group's current extremum
    * (delete or update_preimage with n_chars == the maintained max/min —
    * the conservative trigger: the maintainer tracks no multiplicities)
    * forces a RE-SCAN of that group from the AS-OF snapshot, and the
    * per-(version, group) `rescans` column (0..2 — max and min trigger
    * independently) makes the cost VISIBLE — the report that tells an
    * operator which groups make extremum dashboards expensive. Emptied
    * groups drop from the state without a rescan (no extremum to
    * maintain), matching the recompute's GROUP BY.
    *
    * The gate is [[feedApply]]'s: the DuckDB oracle recomputes every
    * version's extrema from the sequential-replay snapshot and derives
    * the trigger flags from the retraction aggregates against the
    * previous version's recomputed extrema — the hash match proves
    * maintained ≡ recomputed at every version (the lazy fold with
    * rescans loses nothing) AND that both engines agree on exactly WHEN
    * the re-scan fires. The fixture genuinely forces rescans
    * (spec-pinned ≥ 1 at both gate scales; the every-version-updated
    * mod-7 class alone retracts its own postimage value repeatedly).
    *
    * Determinism: integer counts/extrema; the trigger is an integer
    * equality.
    *
    * At scale: the fold is [[LouvainLevels]]-style pinned unrolling over
    * [[TimeTravelVersions]] versions — per version the state is
    * ≤\|groups\| slim rows full-outer-joined with the version's
    * ≤\|groups\|-row feed aggregate (map-side combined from the feed),
    * eagerly localCheckpointed at each version boundary; ONLY a
    * triggered version pays a corpus-log scan, and that scan is
    * semi-join-restricted to the triggered groups — the bill the
    * `rescans` column itemizes. Composes the graded [[changeFeed]] and
    * [[snapshotAsOf]] derivations — a harness key. */
  /** The per-batch delta aggregates of the lazy-extremum maintainer —
    * the signed doc delta plus the insert/retraction extremum summaries
    * the trigger reads. ONE expression list shared by the batch fold and
    * [[graft.streaming.Streaming.startFeedApplyMinmax]]. */
  private[graft] def minmaxDeltaAggs: Seq[Column] = {
    val sgn = feedSign
    Seq(sum(sgn).as("d_docs"),
      max(when(sgn > 0, col("n_chars"))).as("ins_max"),
      min(when(sgn > 0, col("n_chars"))).as("ins_min"),
      max(when(sgn < 0, col("n_chars"))).as("retr_max"),
      min(when(sgn < 0, col("n_chars"))).as("retr_min"))
  }

  /** One lazy-extremum maintenance step — the fold body shared by
    * [[feedApplyMinmax]] (snapshot = the AS-OF read) and
    * [[graft.streaming.Streaming.startFeedApplyMinmax]] (snapshot = the
    * gate's own maintained table state), so the batch backfill and the
    * continuous maintainer run ONE trigger rule: state ⊞ deltas with the
    * conservative re-scan when a retraction carries the current
    * extremum; `snap` is read ONLY for the triggered groups (semi-join
    * pushdown — the itemized bill). Returns the next state with the
    * per-group `rescans` count. */
  private[graft] def minmaxFold(state: DataFrame, deltas: DataFrame,
      snap: DataFrame): DataFrame = {
    // full outer (groups may appear OR disappear) — not broadcastable
    // by shape, but both sides are ≤|groups| metadata rows
    val j = state.join(deltas, Seq("lang", "source"), "full_outer")
    val nNew = coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))
    // the conservative trigger: a retraction carried the maintained
    // extremum (preimages always belong to a group with prior state)
    val resMax = col("retr_max") === col("max_chars")
    val resMin = col("retr_min") === col("min_chars")
    val alive = j.filter(nNew > 0)
      .select(col("lang"), col("source"), nNew.as("n_docs"),
        col("max_chars"), col("min_chars"), col("ins_max"), col("ins_min"),
        coalesce(resMax, lit(false)).as("res_max"),
        coalesce(resMin, lit(false)).as("res_min"))
    val need = alive.filter(col("res_max") || col("res_min"))
      .select(col("lang"), col("source"))
    val rescan = snap
      .join(broadcast(need), Seq("lang", "source"), "left_semi")
      .groupBy(col("lang"), col("source"))
      .agg(max(col("n_chars")).as("s_max"), min(col("n_chars")).as("s_min"))
    alive.join(broadcast(rescan), Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_docs"),
        when(col("res_max"), col("s_max"))
          .otherwise(greatest(col("max_chars"), col("ins_max")))
          .as("max_chars"),
        when(col("res_min"), col("s_min"))
          .otherwise(least(col("min_chars"), col("ins_min")))
          .as("min_chars"),
        (col("res_max").cast("long") + col("res_min").cast("long"))
          .as("rescans"))
  }

  def feedApplyMinmax(spark: SparkSession, dir: String): DataFrame = {
    val aggs = minmaxDeltaAggs
    val deltas = changeFeedRows(spark, dir)
      .groupBy(col("version"), col("lang"), col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var state = table(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_chars")).as("max_chars"),
        min(col("n_chars")).as("min_chars"))
      .localCheckpoint(true)
    def emit(v: Long, st: DataFrame, rescans: Column): DataFrame =
      st.select(lit(v).as("version"), col("lang"), col("source"),
        col("n_docs"), col("max_chars"), col("min_chars"),
        rescans.as("rescans"))
    var out = emit(0L, state, lit(0L))
    for (v <- 1 to TimeTravelVersions) {
      // the itemized bill: ONE log scan per triggered version, inside
      // the shared fold's semi-join restriction
      state = minmaxFold(state,
        deltas.filter(col("version") === v.toLong).drop("version"),
        snapshotAsOfRows(spark, dir, v))
        .localCheckpoint(true)
      out = out.unionByName(emit(v.toLong, state, col("rescans")))
    }
    out.orderBy("version", "lang", "source")
  }

  // ---- e_schema_evolve ------------------------------------------------------

  /** Generation rule for [[schemaEvolve]]: even doc_ids are generation-0
    * files (the pre-evolution schema), odd ids generation-1 (written after
    * the ADD COLUMN + RENAME). */
  private[queries] val SchemaEvolveGenMod = 2L
  /** The generation-1 writer's derived tag rule (`quality_tag`). */
  private[queries] val SchemaEvolveLongMin = 100L

  /** COLUMN-MAPPING manifest: logical column → physical name per file
    * generation — the Delta/Iceberg column-mapping record a table's
    * metadata carries so files never rewrite on rename. `length_chars` is
    * the RENAME (physical `n_chars` in generation-0 files); `quality_tag`
    * is the ADDED column (absent from generation-0 entirely). Mapping is
    * resolved at PLAN time on the driver — metadata, exactly where a table
    * format resolves it. */
  private[queries] val SchemaEvolveMapping: Seq[(String, Map[Int, String])] =
    Seq(
      "doc_id" -> Map(0 -> "doc_id", 1 -> "doc_id"),
      "text" -> Map(0 -> "text", 1 -> "text"),
      "lang" -> Map(0 -> "lang", 1 -> "lang"),
      "source" -> Map(0 -> "source", 1 -> "source"),
      "length_chars" -> Map(0 -> "n_chars", 1 -> "length_chars"),
      "quality_tag" -> Map(1 -> "quality_tag"))

  /** SCHEMA-EVOLUTION merged read — the lakehouse primitive next to
    * [[timeTravel]]/[[vacuumApply]]/[[compactionApply]]: a table whose
    * newer files were written AFTER an `ALTER TABLE` (one ADDED column,
    * one RENAMED via column mapping) is read as ONE logical table —
    * generation-0 files serve the added column as NULL (null-fill) and
    * their old physical name resolves to the renamed logical column
    * (mapping), WITHOUT rewriting a single old file. The fixture stands
    * the two file generations up from the documents table
    * ([[SchemaEvolveGenMod]]: even ids are old files with physical
    * `n_chars`; odd ids are new files with physical `length_chars` plus
    * the derived `quality_tag`); the merged read applies the
    * [[SchemaEvolveMapping]] manifest per generation and unions by the
    * LOGICAL names.
    *
    * Determinism: pure projections of the base table; the tag rule is one
    * integer comparison.
    *
    * At scale: the read is scan → per-generation projection → union —
    * ZERO joins, zero pre-sort shuffles (spec plan-pinned), no old-file
    * rewrite by construction; each generation's filter pushes to its scan.
    * This is why table formats store the mapping instead of rewriting:
    * the rename costs one metadata entry, not a 100 TB rewrite. */
  def schemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val m2 = pmod(col("doc_id"), lit(SchemaEvolveGenMod))
    // the two file generations, each under its own PHYSICAL schema (in
    // production these are distinct parquet file sets; the filters stand
    // in for the file listing)
    val gen0 = docs.filter(m2 === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val gen1 = docs.filter(m2 === 1)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars").as("length_chars"),
        when(col("n_chars") >= SchemaEvolveLongMin, lit("long"))
          .otherwise(lit("short")).as("quality_tag"))
    // the merged read: resolve each generation through the mapping
    // manifest (driver-side metadata, as a table format does at planning),
    // then union by LOGICAL name — allowMissingColumns null-fills the
    // added column for generation-0 rows
    def resolved(df: DataFrame, gen: Int): DataFrame =
      df.select(SchemaEvolveMapping.flatMap { case (logical, phys) =>
        phys.get(gen).map(p => col(p).as(logical))
      } :+ lit(gen.toLong).as("generation"): _*)
    resolved(gen0, 0)
      .unionByName(resolved(gen1, 1), allowMissingColumns = true)
      .select(col("doc_id"), col("generation"), col("text"), col("lang"),
        col("source"), col("length_chars"), col("quality_tag"))
      .orderBy("doc_id")
  }

  // ---- e_dedup_lineage ----------------------------------------------------

  /** Drop PROVENANCE across the near-dup families — the governance index
    * behind "why was my document removed": for every victim a pair
    * detector implicates (pairs are emitted doc_a < doc_b, so doc_b is the
    * would-be drop), one row per (family, victim) names the earliest kept
    * partner. Deduplication that cannot explain itself is a compliance
    * problem at corpus scale; this is the reverse index an audit consults.
    *
    * Determinism: min over partner ids per (family, victim) — a total
    * order over exact detector outputs.
    *
    * At scale: a projection + one grouped min over the detectors' pair
    * frames (|pairs| ≪ corpus², every family's own candidate bounds
    * apply); the union is by name over three slim 3-column frames.
    * Composes three graded operators — a harness key. */
  def dedupLineage(spark: SparkSession, dir: String): DataFrame = {
    def fam(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("family"), col("doc_b").as("doc_id"),
        col("doc_a").as("cand"))
    fam("minhash", minhashDedup(spark, dir))
      .unionByName(fam("simhash", simhashDedup(spark, dir)))
      .unionByName(fam("media", mediaDedup(spark, dir)))
      .groupBy(col("family"), col("doc_id"))
      .agg(min(col("cand")).as("kept_id"))
      .orderBy("family", "doc_id")
  }

  // ---- e_delete_audit -----------------------------------------------------

  /** The deletion-request fixture rule: every doc_id ≡ 0 (mod this) is
    * requested for deletion (~8% of the corpus) — orthogonal to the other
    * fixture mod rules so the audit exercises every artifact. */
  private[queries] val DeleteEveryMod = 13L

  /** Deletion-propagation audit — the right-to-be-forgotten sizing report
    * a governed corpus runs BEFORE executing a deletion batch: a delete
    * against the base table is not done until every DERIVED artifact
    * (fingerprint stores, split assignments, dedup decisions, chunk
    * indexes) stops referencing the deleted ids, so the audit counts, per
    * derived artifact, the rows that reference a requested id (variant
    * rows resolve to their base id — a near-dup cluster referencing a
    * deleted document's variant is still a reference). The output sizes
    * the deletion job artifact by artifact and is the evidence record a
    * compliance review asks for.
    *
    * Composes the graded artifacts' own derivations (and the oracle their
    * SQL texts), so the audit can never drift from the artifacts it
    * inspects.
    *
    * Determinism: exact counts; one divide per row.
    *
    * At scale: the request set is slim and BROADCASTS into each
    * artifact's id projection — the audit never shuffles an artifact; its
    * cost is the artifacts' own derivations (a harness key; in production
    * these are stored tables and the audit is |artifact| row scans). */
  def deleteAudit(spark: SparkSession, dir: String): DataFrame = {
    val dels = table(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(DeleteEveryMod)) === 0)
      .select(col("doc_id").as("del_id"))
    val baseId = when(col("doc_id") >= VariantIdOffset,
      col("doc_id") - VariantIdOffset).otherwise(col("doc_id"))
    def audit(name: String, ids: DataFrame): DataFrame = {
      val refs = ids.join(broadcast(dels), ids("bid") === dels("del_id"),
        "left_semi")
      ids.agg(count(lit(1)).as("n_rows"))
        .crossJoin(refs.agg(count(lit(1)).as("n_refs")))
        .select(lit(name).as("artifact"), col("n_rows"), col("n_refs"),
          (col("n_refs").cast("double") / col("n_rows").cast("double"))
            .as("ref_share"))
    }
    audit("chunk_dedup",
        chunkDedup(spark, dir).select(baseId.as("bid")))
      .unionByName(audit("dup_clusters",
        dupClusters(spark, dir).select(baseId.as("bid"))))
      .unionByName(audit("fingerprint",
        fingerprint(spark, dir).select(baseId.as("bid"))))
      .unionByName(audit("split",
        corpusSplit(spark, dir).select(baseId.as("bid"))))
      .orderBy("artifact")
  }

  // ---- e_delete_apply -----------------------------------------------------

  /** Deletion EXECUTION + re-audit — the other half of the loop
    * [[deleteAudit]] opens (the [[compactionApply]] pattern): the cascade
    * is applied to each derived artifact — per-document artifacts
    * (fingerprint store, split assignment, chunk index) anti-join the
    * request set; the dup-clusters artifact additionally MAINTAINS its
    * aggregate (member rows drop, surviving clusters re-count their size,
    * and a cluster left with fewer than 2 members stops being a duplicate
    * cluster at all — deleting a document can dissolve the decision that
    * referenced it). Emitted per artifact: rows before, rows after,
    * references remaining after (the compliance gate — must be zero, and
    * the oracle proves it is), and rows dropped beyond the references
    * themselves (the cascade's secondary losses: dissolved singletons).
    *
    * HONEST-GATE NOTE: `n_refs_after` is computed by semi-joining the
    * post-apply frame on the SAME (bid = del_id) key the apply just
    * anti-joined, so for the per-document artifacts it is zero BY
    * CONSTRUCTION — the column documents the invariant the apply
    * establishes rather than independently re-proving it (a resolution
    * bug in `baseId` would cancel out of both sides). The independent
    * guarantees live elsewhere: the SPEC replays the cascade against
    * hand-computed survivors (including the dissolving-cluster case), and
    * the vector-side sibling [[indexDelete]] derives its knn `n_refs_after`
    * from BOTH edge endpoints of the emitted artifact — a genuinely
    * falsifiable zero.
    *
    * Determinism: exact counts; anti-joins of exact sets.
    *
    * At scale: each apply is one anti-join of the artifact against the
    * BROADCAST request set — the same shape a MERGE DELETE compiles to;
    * the cluster re-count is a |kept-members| map-side-combined
    * aggregate. Composes the graded artifacts — a harness key. */
  def deleteApply(spark: SparkSession, dir: String): DataFrame =
    deleteApplyImpl(spark, dir, DeleteEveryMod)

  /** [[deleteApply]]'s body with the request rule as a knob — the spec
    * drives a mod that dissolves a cross-document cluster, exercising the
    * cascade's secondary loss on a fixture where the pinned mod's request
    * set happens to delete whole clusters only. */
  private[queries] def deleteApplyImpl(spark: SparkSession, dir: String,
      mod: Long): DataFrame = {
    val dels = table(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select(col("doc_id").as("del_id"))
    val baseId = when(col("doc_id") >= VariantIdOffset,
      col("doc_id") - VariantIdOffset).otherwise(col("doc_id"))
    def report(name: String, before: DataFrame, after: DataFrame): DataFrame = {
      val refsAfter = after.join(broadcast(dels),
        after("bid") === dels("del_id"), "left_semi")
      before.agg(count(lit(1)).as("n_rows_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_rows_after")))
        .crossJoin(refsAfter.agg(count(lit(1)).as("n_refs_after")))
        .select(lit(name).as("artifact"), col("n_rows_before"),
          col("n_rows_after"), col("n_refs_after"),
          (col("n_rows_before") - col("n_rows_after")).as("n_dropped"))
    }
    def perDoc(name: String, df: DataFrame): DataFrame = {
      val ids = df.select(baseId.as("bid"))
      report(name, ids,
        ids.join(broadcast(dels), ids("bid") === dels("del_id"), "left_anti"))
    }
    // cluster cascade: drop members, re-count, dissolve sub-2 clusters.
    // PERSISTED: the kept frame feeds the re-count AND the survivor join.
    val clus = dupClusters(spark, dir)
      .select(baseId.as("bid"), col("cluster_id"))
    val kept = clus.join(broadcast(dels), clus("bid") === dels("del_id"),
        "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val resized = kept.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
    val clusAfter = kept.join(broadcast(resized.select(col("cluster_id"))),
      Seq("cluster_id"), "left_semi")
    perDoc("chunk_dedup", chunkDedup(spark, dir))
      .unionByName(report("dup_clusters", clus, clusAfter))
      .unionByName(perDoc("fingerprint", fingerprint(spark, dir)))
      .unionByName(perDoc("split", corpusSplit(spark, dir)))
      .orderBy("artifact")
  }

  // ---- e_index_delete -----------------------------------------------------

  /** Deletion propagation into the ANN SUBSTRATE — the vector-side half of
    * the GDPR cascade: [[deleteApply]] purges the text-side artifacts
    * (fingerprints, splits, clusters, chunk index) but a governed corpus
    * also SERVES its deleted documents' embeddings from the IVF assignment
    * and the kNN adjacency. This key tombstones the requested vec_ids in
    * both (FAISS `remove_ids` semantics — list entries drop, the quantizer
    * stays) and re-audits, one summary row per artifact with a content
    * digest of the post-delete state:
    *
    *  - `ivf_assignment` — the cell-partitioned corpus minus the request
    *    set (assignment is per-vector independent, so tombstoning IS the
    *    rebuild); its `n_refs_after` is zero by the anti-join itself.
    *  - `knn_adjacency` — the REPAIR, not a rebuild: deleted srcs drop,
    *    and only nodes whose old top-k CONTAINED a deleted neighbor are
    *    rescored against their cell's survivors (the [[incrKnn]] exactness
    *    argument in reverse — a candidate that already lost cannot start
    *    winning because OTHER candidates left, so untouched nodes' lists
    *    are provably the rebuild lists). The DuckDB oracle states the FULL
    *    REBUILD over survivors (the `e_incr_knn` device), so the hash gate
    *    itself proves serve-after-delete ≡ serve-over-rebuilt-index; its
    *    `n_refs_after` scans BOTH edge endpoints of the emitted artifact —
    *    zero because the repair worked, not by construction.
    *  - `quantizer_params` — the honest residual: centroids derived from a
    *    deleted vector remain model parameters after `remove_ids` (FAISS
    *    keeps them too); its `n_refs_after` is deliberately NON-zero where
    *    a seed id falls in the request set — the row a compliance review
    *    reads to decide whether the retrain hook ([[kmeansTrainIters]])
    *    must run.
    *
    * Determinism: exact counts; digests are per-row [[hash31]] summed —
    * order-invariant int64 arithmetic (≤ 2³¹ per row; widen the modulus or
    * shard the digest beyond ~2³² rows).
    *
    * At scale: the request set BROADCASTS into every artifact (the
    * [[deleteApply]] shape); the repair rescores |touched|·|cell| pairs —
    * proportional to the DAMAGE, never |corpus|²; the standing adjacency
    * is a stored table in production (recomputed here via the shared
    * [[knnScoredPairs]]/[[knnTopk]] chain — the composition convention).
    * Composes the graded `e_knn_graph` derivation — a harness key. */
  def indexDelete(spark: SparkSession, dir: String): DataFrame =
    indexDeleteImpl(spark, dir, DeleteEveryMod)

  /** [[indexDelete]]'s body with the request rule as a knob — the spec
    * drives deletions that provably change a top-k answer (a promotion
    * from outside the old top-k). */
  private[queries] def indexDeleteImpl(spark: SparkSession, dir: String,
      mod: Long): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val emb = table(spark, dir, "embeddings")
    val dels = emb.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("del_id"))
    val cents = centroids(spark, dir, IvfCells)
    val vecs = emb.select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
    // PERSISTED: feeds the before-count, the tombstone, and both sides of
    // the standing-adjacency self-join
    val assigned = rankedCells(vecs, cents).filter(col("crank") === 1)
      .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cell"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // PERSISTED: feeds the after-count, the refs scan, the digest, the
    // touched-node pool and the repair's candidate side
    val assignedAfter = assigned.join(broadcast(dels),
        assigned("vec_id") === dels("del_id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // PERSISTED: feeds the before-count, the touched-node scan and the
    // untouched-edge carry-over
    val oldEdges = knnTopk(knnScoredPairs(assigned, assigned))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // PERSISTED: feeds the after-count, the endpoint refs scan and the
    // digest. The repair body is the shared [[knnRepairEdges]] (one
    // definition with the streaming delete-aware gate).
    val newEdges = knnRepairEdges(assignedAfter, oldEdges, dels)
      .persist(StorageLevel.MEMORY_AND_DISK)

    def summary(name: String, before: DataFrame, after: DataFrame,
        refs: DataFrame, digest: Column): DataFrame =
      before.agg(count(lit(1)).as("n_rows_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_rows_after")))
        .crossJoin(refs.agg(count(lit(1)).as("n_refs_after")))
        .crossJoin(after.agg(coalesce(sum(digest), lit(0L)).as("content_hash")))
        .select(lit(name).as("artifact"), col("n_rows_before"),
          col("n_rows_after"), col("n_refs_after"),
          (col("n_rows_before") - col("n_rows_after")).as("n_dropped"),
          col("content_hash"))

    val ivfRow = summary("ivf_assignment", assigned, assignedAfter,
      assignedAfter.join(broadcast(dels),
        assignedAfter("vec_id") === dels("del_id"), "left_semi"),
      hash31(concat(lit("ia:"), col("vec_id").cast("string"), lit(":"),
        col("cell").cast("string"))))
    val knnRow = summary("knn_adjacency", oldEdges, newEdges,
      newEdges.join(broadcast(dels),
        newEdges("src") === dels("del_id")
          || newEdges("nbr") === dels("del_id"), "left_semi"),
      hash31(concat(lit("ka:"), col("src").cast("string"), lit(":"),
        col("nbr").cast("string"), lit(":"), col("rank").cast("string"))))
    val qpRow = summary("quantizer_params", cents, cents,
      cents.join(broadcast(dels), cents("cent_id") === dels("del_id"),
        "left_semi"),
      hash31(concat(lit("qp:"), col("cent_id").cast("string"))))
    ivfRow.unionByName(knnRow).unionByName(qpRow).orderBy("artifact")
  }

  // ---- e_index_retrain ----------------------------------------------------

  /** Quantizer RETRAIN after deletion — closing the honest residual
    * [[indexDelete]] reports: its `quantizer_params` row stays non-zero
    * because seed centroids derived from deleted vectors remain model
    * parameters after `remove_ids` ("until the e_kmeans_train retrain hook
    * runs"). This key RUNS that hook and re-audits the whole substrate:
    *
    *  - retrain: the [[IvfCells]] smallest SURVIVING vec_ids re-seed the
    *    SAME spherical-Lloyd chain ([[kmeansChainOf]] — one trainer, bound
    *    to the survivor corpus) for [[KmeansIters]] steps, so no deleted
    *    vector's values enter the retrained parameters through the seeds
    *    OR the updates;
    *  - re-audit: one row per artifact — the survivor IVF assignment
    *    under the retrained quantizer, the rebuilt kNN adjacency over that
    *    assignment, and the retrained centroid table itself — each with
    *    `n_refs_after` against the request set (ZERO on ALL artifacts now,
    *    spec-pinned; the quantizer row's zero is the residual closing) and
    *    an order-invariant content digest (the centroid digest hashes the
    *    exact integer `c_fp` parameter vectors, not just ids — a params
    *    change is visible in the artifact);
    *  - the [[serveDrift]] row: the post-delete serve (survivors under the
    *    SEED quantizer — the standing index [[indexDelete]] leaves behind)
    *    against the post-retrain serve, overlap@10 aggregated over the
    *    surviving queries — the answer-churn bill of rolling the retrain,
    *    attached to the compliance record that mandated it.
    *
    * Determinism: the chain is the [[kmeansTrainIters]] exactness argument
    * over the survivor corpus (integer c_fp feedback, pinned assignment
    * tie-breaks); serves and adjacencies ride pinned total orders; digests
    * are summed [[hash31]] values — order-invariant int64 arithmetic.
    *
    * At scale: the request set broadcasts into the one survivor anti-join;
    * the chain is |iters| one-scan Lloyd steps over the persisted survivor
    * corpus; the adjacency rebuild is the [[knnGraph]] in-cell bill; the
    * serves broadcast the bounded query set. Composes the graded
    * [[indexDelete]] substrate and the [[kmeansTrainIters]] chain — a
    * harness key (the oracle composes the survivor chain CTEs). */
  def indexRetrain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val emb = table(spark, dir, "embeddings")
    val dels = emb.filter(pmod(col("vec_id"), lit(DeleteEveryMod)) === 0)
      .select(col("vec_id").as("del_id"))
    // PERSISTED: the survivor corpus feeds every Lloyd iteration, both
    // assignments, and both serves
    val surv = emb.join(broadcast(dels), emb("vec_id") === dels("del_id"),
        "left_anti")
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", l2norm(col("e")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // retrain seeds: the IvfCells smallest surviving ids (the seed rule
    // re-derived over survivors — TakeOrderedAndProject, bounded state)
    val survSeeds = surv.orderBy(col("vec_id")).limit(IvfCells)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"),
        col("nrm").as("ncent"))
    val seedCents = centroids(spark, dir, IvfCells)
    // PERSISTED: the retrained table feeds the assignment, the serve and
    // its own params row
    val trained = kmeansChainOf(surv, survSeeds, KmeansIters)._2
      .persist(StorageLevel.MEMORY_AND_DISK)
    def assignOf(cents: DataFrame): DataFrame =
      rankedCells(surv, cents).filter(col("crank") === 1)
        .select(col("vec_id"), col("e"), col("nrm"), col("cent_id").as("cell"))
    // PERSISTED: each assignment feeds its adjacency build and (after) the
    // count/refs/digest scans
    val assignedBefore = assignOf(seedCents).persist(StorageLevel.MEMORY_AND_DISK)
    val assignedAfter = assignOf(trained).persist(StorageLevel.MEMORY_AND_DISK)
    // the post-delete standing adjacency ≡ rebuild over survivors (the
    // indexDelete repair≡rebuild theorem — its oracle certifies this very
    // frame)
    val knnBefore = knnAdjacency(assignedBefore)
    val knnAfter = knnAdjacency(assignedAfter)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedList = ivfServeAssigned(assignedBefore)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val trainedList = ivfServeAssigned(assignedAfter)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val nullD = lit(null).cast("double")
    def row(name: String, before: DataFrame, after: DataFrame,
        refs: DataFrame, digest: Column, overlap: DataFrame): DataFrame =
      before.agg(count(lit(1)).as("n_rows_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_rows_after")))
        .crossJoin(refs.agg(count(lit(1)).as("n_refs_after")))
        .crossJoin(after.agg(coalesce(sum(digest), lit(0L)).as("content_hash")))
        .crossJoin(overlap)
        .select(lit(name).as("artifact"), col("n_rows_before"),
          col("n_rows_after"), col("n_refs_after"), col("content_hash"),
          col("overlap_at_10"))
    val noOverlap = spark.range(1).select(nullD.as("overlap_at_10"))
    def refsIn(df: DataFrame, c: Column): DataFrame =
      df.filter(pmod(c, lit(DeleteEveryMod)) === 0)

    val ivfRow = row("ivf_assignment", assignedBefore, assignedAfter,
      refsIn(assignedAfter, col("vec_id")),
      hash31(concat(lit("ia:"), col("vec_id").cast("string"), lit(":"),
        col("cell").cast("string"))), noOverlap)
    val knnRow = row("knn_adjacency", knnBefore, knnAfter,
      knnAfter.filter(pmod(col("src"), lit(DeleteEveryMod)) === 0
        || pmod(col("nbr"), lit(DeleteEveryMod)) === 0),
      hash31(concat(lit("ka:"), col("src").cast("string"), lit(":"),
        col("nbr").cast("string"), lit(":"), col("rank").cast("string"))),
      noOverlap)
    // the params digest hashes the exact integer c_fp vectors (lossless
    // long←double round-trip), so a parameter change is artifact-visible
    val qpRow = row("quantizer_params", seedCents, trained,
      refsIn(trained, col("cent_id")),
      hash31(concat(lit("qp:"), col("cent_id").cast("string"), lit(":"),
        array_join(transform(col("ce"), x => x.cast("long").cast("string")),
          ","))), noOverlap)
    val common = seedList.select(col("qid"), col("cid"))
      .join(trainedList.select(col("qid"), col("cid")), Seq("qid", "cid"),
        "left_semi")
    val overlapRow = seedList
      .agg(countDistinct(col("qid")).as("n_q"))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select((col("n_common").cast("double")
        / (col("n_q") * lit(10)).cast("double")).as("overlap_at_10"))
    val driftRow = row("serve_drift", seedList, trainedList,
      refsIn(trainedList, col("cid")),
      hash31(concat(lit("sd:"), col("qid").cast("string"), lit(":"),
        col("cid").cast("string"), lit(":"), col("rank").cast("string"))),
      overlapRow)
    ivfRow.unionByName(knnRow).unionByName(qpRow).unionByName(driftRow)
      .orderBy("artifact")
  }

  // ---- e_incr_agg ---------------------------------------------------------

  /** Fixed-point scale for [[incrAgg]]'s value sums: 2²⁰ (a binary scale,
    * so `value · 2²⁰` is EXACT — no rounding happens before the one floor).
    * Bound: |value| ≤ ~10³ and 2⁵² / 2²⁰ / 10³ ≈ 4·10⁶ rows per (day,
    * type) group before the int64 sum nears the double-exact range; at
    * 100 TB-per-day group sizes, widen to int128 partials or shard the
    * group — the SHAPE (monoid partials) is the point here. */
  private[queries] val IncrAggScale = 1L << 20

  /** Late-batch slice predicate for [[incrAgg]]: event_id % 10 ≥ 8 — a 20%
    * slice ORTHOGONAL to the (day, type) group keys, so merging genuinely
    * combines partials from both sides of every group (a date-based split
    * would make the merge a disjoint union and prove nothing). */
  private def incrAggIsBatch(c: Column): Column = pmod(c, lit(10L)) >= 8

  /** `(day, event_type) → (n_events, sum_value_fp, max_value_fp)` monoid
    * partials of one events slice — [[incrAgg]]'s stored-state shape. */
  private def incrAggPartials(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("event_type"),
        floor(col("value") * lit(IncrAggScale.toDouble) + 0.5).cast("long").as("vfp"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vfp")).as("sum_value_fp"),
        max(col("vfp")).as("max_value_fp"))

  /** Incremental aggregate maintenance — the primitive that lets a daily
    * 100 TB pipeline keep dashboards current without re-reading history:
    * aggregates are stored as COMMUTATIVE-MONOID PARTIALS (count, int64
    * fixed-point sum, max), a new batch is aggregated alone, and the two
    * partial frames merge by field-wise ⊕ (sum, sum, max) — by the monoid
    * laws the result is BYTE-IDENTICAL to a full recompute, which is
    * exactly what the DuckDB oracle states (a single-pass aggregate over
    * everything; the gate proves merge ≡ recompute, and IncrAggSpec pins
    * associativity on 3-way splits). Finalization (the mean) happens only
    * at read time: one int→double divide of exact values.
    *
    * Here the "standing state" is the 80% event slice and the "late batch"
    * the orthogonal 20% ([[incrAggIsBatch]]); in production the state is a
    * stored table and only the batch pass scans new data — merge cost is
    * |groups|, not |rows|. Sums are exact integers ([[IncrAggScale]]), so
    * partials are partition-, order-, and merge-tree-invariant: any
    * executor topology produces the same bytes.
    *
    * At scale: two map-side-combined aggregates (state once, then per
    * batch) + a |groups|-row merge; no raw row survives into state. */
  def incrAgg(spark: SparkSession, dir: String): DataFrame = {
    val events = table(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val state = incrAggPartials(events.filter(!incrAggIsBatch(col("event_id"))))
    val batch = incrAggPartials(events.filter(incrAggIsBatch(col("event_id"))))
    state.unionByName(batch)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_value_fp")).as("sum_value_fp"),
        max(col("max_value_fp")).as("max_value_fp"))
      .withColumn("avg_value", col("sum_value_fp").cast("double")
        / (col("n_events") * lit(IncrAggScale)).cast("double"))
      .orderBy("day", "event_type")
  }

  // ---- e_skew_audit -------------------------------------------------------

  /** Nominal parallelism the salt recommendation targets: a key whose
    * count exceeds rows/[[SkewTargetPartitions]] (one partition's fair
    * share) gets salt factor ⌈max_cnt · P / rows⌉ — enough sub-keys that
    * the heaviest key's shards each hold ≤ a fair share. Matches the
    * session's shuffle-partition setting. */
  private[queries] val SkewTargetPartitions = 32L

  /** Per-column key-skew audit over the events join keys — the diagnostic
    * read BEFORE choosing a join strategy at 100 TB: for each candidate
    * key column, the key count, heaviest key and its share, the max/mean
    * ratio (the skew factor AQE's skew-join threshold reasons about), and
    * the integer salt factor [[graft.operators.SaltedJoin]] would need to
    * flatten the heaviest key to a fair partition share. `skew_ratio` ≈ 1
    * means hash partitioning balances; ≫ 1 means the straggler task IS
    * the job's wall clock and salting (or broadcast, if the other side is
    * small) is mandatory.
    *
    * Determinism: counts are exact ints; the heaviest key ties break by
    * LARGEST key string (max(struct) — both engines compare (count, key)
    * structs lexicographically); the two ratios are single divides of
    * exact int64s.
    *
    * At scale: one map-side-combined count per audited column (the
    * |distinct keys| shuffle a groupBy costs anyway), then a 1-row
    * reduction per column — the audit is metadata-priced, which is why it
    * can run on every daily partition before the real join. */
  def skewAudit(spark: SparkSession, dir: String): DataFrame = {
    val events = table(spark, dir, "events")
    def audit(keyCol: String): DataFrame =
      events.select(col(keyCol).cast("string").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"),
          max(struct(col("cnt"), col("k"))).as("m"))
        .select(lit(keyCol).as("key_col"), col("n_rows"), col("n_keys"), col("max_cnt"),
          col("m.k").as("max_key"),
          (col("n_rows").cast("double") / col("n_keys").cast("double")).as("avg_cnt"),
          (col("max_cnt").cast("double") / col("n_rows").cast("double")).as("max_share"),
          ((col("max_cnt") * col("n_keys")).cast("double")
            / col("n_rows").cast("double")).as("skew_ratio"),
          // ceil-div in INTEGER arithmetic (Spark `div` ≡ DuckDB `//` on
          // non-negatives) — a double divide + cast would diverge
          // cross-engine (DuckDB's CAST rounds, Spark's truncates)
          expr(s"(max_cnt * $SkewTargetPartitions + n_rows - 1) div n_rows")
            .as("rec_salt"))
    audit("user_id").unionByName(audit("event_type")).orderBy("key_col")
  }

  // ---- e_compaction_plan --------------------------------------------------

  /** Documents per synthetic input file for [[compactionPlan]]'s inventory
    * (the fixture stand-in for a writer that emitted many small files). */
  private[queries] val CompactionFileDocs = 8L

  /** Target output-file size in bytes ([[compactionPlan]]); bins roll over
    * once their START offset crosses a multiple of this. */
  private[queries] val CompactionTargetBytes = 4096L

  /** Small-file compaction planning — the lakehouse OPTIMIZE step that
    * keeps a 100 TB table scannable: writers leave many small files per
    * partition (here: one per [[CompactionFileDocs]] doc ids, sized by
    * `n_chars`), and the planner assigns each to an output bin by GREEDY
    * CUMULATIVE ROLLOVER — walk files in key order, start a new bin when
    * the running byte offset crosses a [[CompactionTargetBytes]] multiple
    * (bin = offset_before ÷ target, an integer divide). Every bin lands
    * within [target − max_file, target + max_file] of the target except
    * the partition's last — the bound CompactionPlanSpec pins. Emitted is
    * the PLAN (one row per output bin: file range, file/doc/byte counts),
    * which is what an execution engine then feeds to per-bin rewrite
    * tasks.
    *
    * Determinism: all-integer (counts, sums, the `div`); the per-source
    * running offset is a frames-based window sum of int64s.
    *
    * At scale: planning touches ONLY file-level stats (|files| rows — at
    * 100 TB, metadata scale), partitioned by the table partition key, so
    * the window never concentrates the table on one node; the data itself
    * is read only by the rewrite tasks the plan fans out. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = table(spark, dir, "documents")
      .select(col("source"), expr(s"doc_id div $CompactionFileDocs").as("file_id"),
        col("n_chars"))
      .groupBy(col("source"), col("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    val w = Window.partitionBy(col("source")).orderBy(col("file_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $CompactionTargetBytes"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"), sum(col("n_docs")).as("n_docs"),
        sum(col("bytes")).as("bin_bytes"))
      .orderBy("source", "bin")
  }

  // ---- e_compaction_apply -------------------------------------------------

  /** The pinned audit predicate [[compactionApply]] re-grades pruning
    * under: a doc-id range — the clustered-key query shape the inventory's
    * min/max stats exist for. */
  private[queries] val CompactionAuditIdLo = 40L
  private[queries] val CompactionAuditIdHi = 200L

  /** Compaction EXECUTION + re-audit — the other half of the OPTIMIZE loop
    * [[compactionPlan]] opens: each input file is routed to its output bin
    * BY THE PLAN (an equi-join on source plus the plan's own
    * [first_file, last_file] range — the rewrite tasks a lakehouse engine
    * fans out execute exactly this routing), per-bin output-file stats are
    * the merge of member-file stats, and BOTH layouts are then graded by
    * the [[scanPrune]] stats discipline under a pinned doc-id-range
    * predicate: per file/bin, min/max id stats, the keep/skip verdict, and
    * the exact matching-row count. The output is the before/after table an
    * OPTIMIZE job logs: same bytes, ~[[CompactionFileDocs]]× fewer files,
    * pruning still effective (spec pins byte conservation, plan-count
    * agreement, skip soundness, and match-total preservation).
    *
    * Determinism: all-integer (counts, sums, min/max of ids); routing is a
    * pure function of the plan's ranges.
    *
    * At scale: the apply join touches |files| metadata rows against the
    * BROADCAST |bins| plan — the data itself would be read only inside
    * each rewrite task, which this audit prices per bin via the merged
    * stats; the re-audit is the same |files|-row metadata pass as
    * [[scanPrune]]. Composes the graded [[compactionPlan]] — a harness
    * key. */
  def compactionApply(spark: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") >= CompactionAuditIdLo &&
      col("doc_id") < CompactionAuditIdHi
    // PERSISTED: the inventory feeds the input audit rows AND the bin
    // merge — unpersisted, the corpus aggregates twice
    val files = table(spark, dir, "documents")
      .select(col("source"), expr(s"doc_id div $CompactionFileDocs").as("file_id"),
        col("doc_id"), col("n_chars"))
      .groupBy(col("source"), col("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"),
        min(col("doc_id")).as("id_min"), max(col("doc_id")).as("id_max"),
        sum(when(m, lit(1L)).otherwise(lit(0L))).as("n_match"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plan = compactionPlan(spark, dir)
      .select(col("source"), col("bin"), col("first_file"), col("last_file"))
    val comp = files.as("f").join(broadcast(plan.as("p")),
        col("f.source") === col("p.source") &&
          col("f.file_id") >= col("p.first_file") &&
          col("f.file_id") <= col("p.last_file"))
      .groupBy(col("f.source"), col("p.bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("f.n_docs")).as("n_docs"),
        sum(col("f.bytes")).as("bytes"), min(col("f.id_min")).as("id_min"),
        max(col("f.id_max")).as("id_max"), sum(col("f.n_match")).as("n_match"))
      .select(col("source"), col("bin").as("file_id"), col("n_files"),
        col("n_docs"), col("bytes"), col("id_min"), col("id_max"), col("n_match"))
      .withColumn("layout", lit("compacted"))
    val inp = files.select(col("source"), col("file_id"), lit(1L).as("n_files"),
        col("n_docs"), col("bytes"), col("id_min"), col("id_max"), col("n_match"))
      .withColumn("layout", lit("input"))
    inp.unionByName(comp)
      .withColumn("kept", when(col("id_max") >= CompactionAuditIdLo
          && col("id_min") < CompactionAuditIdHi, lit(1L)).otherwise(lit(0L)))
      .select(col("layout"), col("source"), col("file_id"), col("n_files"),
        col("n_docs"), col("bytes"), col("id_min"), col("id_max"),
        col("kept"), col("n_match"))
      .orderBy("layout", "source", "file_id")
  }

  // ---- e_manifest_prune -----------------------------------------------------

  /** Files per manifest for [[manifestPrune]]'s two-tier layout
    * (consecutive file_ids per source; 16 so the manifest tier is
    * genuinely coarser than the ~25 populated files per source). */
  private[queries] val ManifestFiles = 16L

  /** The pinned audit range for [[manifestPrune]] — narrower than the
    * compaction audit's so manifest-level pruning actually skips
    * manifests at the fixture scales (measured: 500 → 208 metadata rows
    * read, identical keep set). */
  private[queries] val ManifestPruneIdLo = 40L
  private[queries] val ManifestPruneIdHi = 120L

  /** TWO-TIER metadata pruning — the reason Iceberg has manifest LISTS
    * and Delta checkpoints carry partition-level stats: [[scanPrune]]
    * grades FILE-level skipping, but at 100 TB the file-stats table is
    * itself large (10M files × a stats row — reading all of it per
    * query is a metadata-scan bottleneck), so production formats NEST
    * the stats: manifests group [[ManifestFiles]] consecutive files and
    * carry merged min/max; a query prunes manifests first and reads
    * file stats ONLY inside surviving manifests. This key runs the
    * pinned id-range predicate both ways over the same inventory (the
    * compaction file grain) and emits one row per strategy: metadata
    * rows READ (the two-tier row counts manifests + surviving-manifest
    * file rows), files kept, and the exact matching-row count — the
    * keep set and match total are TIER-INVARIANT (merged stats can only
    * widen a bound, so manifest pruning is sound: it never skips a
    * manifest containing a keepable file — spec-pinned), while the
    * two-tier path reads a strict fraction of the metadata.
    *
    * Determinism: all-integer counts and min/max merges.
    *
    * At scale: this is a metadata-ONLY operator — both strategies touch
    * |files| + |manifests| slim rows; the payoff grows with the
    * inventory (at 10M files and 1k-file manifests, a selective query
    * reads ~10k manifest rows + survivors instead of 10M), which is
    * exactly the scaling argument manifest lists exist for. Composes
    * the [[compactionPlan]] file grain; the fraction-read claim and
    * soundness are spec-pinned. */
  def manifestPrune(spark: SparkSession, dir: String): DataFrame = {
    val lo = ManifestPruneIdLo
    val hi = ManifestPruneIdHi
    val m = col("doc_id") >= lo && col("doc_id") < hi
    val files = table(spark, dir, "documents")
      .select(col("source"),
        expr(s"doc_id div $CompactionFileDocs").as("file_id"),
        col("doc_id"))
      .groupBy(col("source"), col("file_id"))
      .agg(min(col("doc_id")).as("id_min"), max(col("doc_id")).as("id_max"),
        sum(m.cast("long")).as("n_match"))
      .withColumn("manifest", expr(s"file_id div $ManifestFiles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepF = col("id_max") >= lo && col("id_min") < hi
    val manifests = files.groupBy(col("source"), col("manifest"))
      .agg(min(col("id_min")).as("id_min"), max(col("id_max")).as("id_max"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val flat = files.agg(count(lit(1)).as("meta_rows_read"),
        sum(keepF.cast("long")).as("files_kept"),
        sum(when(keepF, col("n_match")).otherwise(lit(0L))).as("rows_matched"))
      .select(lit("flat").as("strategy"), col("meta_rows_read"),
        col("files_kept"), col("rows_matched"))
    val surv = manifests.filter(col("id_max") >= lo && col("id_min") < hi)
      .select(col("source"), col("manifest"))
    val nMan = manifests.agg(count(lit(1)).as("n_man"))
    val tier = files
      .join(broadcast(surv), Seq("source", "manifest"), "left_semi")
      .agg(count(lit(1)).as("file_rows"),
        sum(keepF.cast("long")).as("files_kept"),
        sum(when(keepF, col("n_match")).otherwise(lit(0L))).as("rows_matched"))
      .crossJoin(broadcast(nMan))
      .select(lit("two_tier").as("strategy"),
        (col("n_man") + col("file_rows")).as("meta_rows_read"),
        col("files_kept"), col("rows_matched"))
    flat.unionByName(tier).orderBy("strategy")
  }

  // ---- e_compact_conflict ---------------------------------------------------

  /** The concurrent writer's sparse touch rule for [[compactConflict]]
    * (doc_id mod class, prime): deletes on class 0, updates on class 1.
    * Chosen sparse so the conflict split is non-degenerate — measured
    * 14/43 and 15/41 bins conflicted at the gate scales (the
    * [[mergeApply]] mod-7 writer touches 2/7 of rows and would conflict
    * essentially every bin, proving nothing). */
  private[queries] val CompactConflictMod = 41L

  /** The conflicting writer's update payload delta (bytes grow by this
    * per updated row — distinct provenance, the [[TxnBCharsDelta]]
    * discipline). */
  private[queries] val CompactConflictCharsDelta = 4L

  /** COMPACTION vs CONCURRENT WRITER — the THIRD conflict class a real
    * table format validates, closing the lakehouse×OCC loop
    * ([[txnConflict]]: writer vs writer on keys; [[txnReadset]]: reads
    * vs writes; this: MAINTENANCE vs writer on FILES): OPTIMIZE
    * ([[compactionPlan]]'s bins) reads a snapshot and rewrites input
    * files; a concurrent writer (sparse [[CompactConflictMod]] rule —
    * deletes class 0, updates class 1) commits FIRST. At the
    * compaction's commit, per-bin validation runs Delta's
    * ConcurrentDeleteRead rule at bin grain: a bin whose input files
    * contain ANY row the writer deleted or updated has materialized
    * stale bytes — verdict `rebase`, and the re-run's output stats are
    * priced from the post-commit snapshot (survivors + edited payloads
    * restricted to the bin's file range); untouched bins `commit`
    * as-is (a data-unchanged rearrangement is serializable with
    * disjoint row changes). Appends never conflict BY CONSTRUCTION —
    * the plan's routing covers the base inventory, and a concurrent
    * append lands in new files outside every bin's range (why real
    * formats let OPTIMIZE race appends freely and only validate
    * delete/update overlap). Emits per (source, bin): the plan's
    * pre-state, the stale-row count, the verdict, and the post-rebase
    * doc/byte counts — the partial-retry ledger an OPTIMIZE job logs,
    * with bin-grain validation showing exactly how much work one
    * conflicting row re-queues (one bin, not the whole OPTIMIZE).
    *
    * Determinism: pure mod classes and integer sums; routing is the
    * graded plan's own ranges.
    *
    * At scale: validation joins |files| metadata rows against the
    * broadcast |bins| plan — commit-time cost is metadata-sized, which
    * is why table formats validate at file granularity from the
    * transaction log alone; only rebased bins re-read data, and the
    * ledger prices that retry per bin. Composes the graded
    * [[compactionPlan]] — a harness key. */
  def compactConflict(spark: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(CompactConflictMod))
    val files = table(spark, dir, "documents")
      .select(col("source"),
        expr(s"doc_id div $CompactionFileDocs").as("file_id"),
        col("doc_id"), col("n_chars"))
      .groupBy(col("source"), col("file_id"))
      .agg(
        sum(when(m.isin(0L, 1L), lit(1L)).otherwise(lit(0L))).as("touched"),
        sum(when(m === 0L, lit(0L)).otherwise(lit(1L))).as("docs_after"),
        sum(when(m === 0L, lit(0L))
          .when(m === 1L, col("n_chars") + lit(CompactConflictCharsDelta))
          .otherwise(col("n_chars"))).as("bytes_after"))
    val plan = compactionPlan(spark, dir)
    files.as("f").join(broadcast(plan.as("p")),
        col("f.source") === col("p.source") &&
          col("f.file_id") >= col("p.first_file") &&
          col("f.file_id") <= col("p.last_file"))
      .groupBy(col("p.source"), col("p.bin"), col("p.n_files"),
        col("p.n_docs"), col("p.bin_bytes"))
      .agg(sum(col("f.touched")).as("n_stale"),
        sum(col("f.docs_after")).as("n_docs_after"),
        sum(col("f.bytes_after")).as("bytes_after"))
      .select(col("source"), col("bin"), col("n_files"), col("n_docs"),
        col("bin_bytes").as("bytes"), col("n_stale"),
        when(col("n_stale") > 0, lit("rebase")).otherwise(lit("commit"))
          .as("verdict"),
        col("n_docs_after"), col("bytes_after"))
      .orderBy("source", "bin")
  }
}
