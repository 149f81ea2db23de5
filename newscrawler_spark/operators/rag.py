"""RAG retrieval-side operators — the batch analogs of the reference's
LLM context assembly and semantic response cache.

* :func:`assemble_context_kernel` — the reference assembles an LLM
  context by retrieving top documents, then packing their best chunks
  until a token budget is exhausted
  (``src/llm/context_assembly.py:73-190``, ``ChunkedContextStrategy`` /
  ``_truncate_to_max_tokens``).  Batch form: score every chunk against
  the query (cross-engine-exact integer kernel, operators/chunks), keep
  chunks of the top-``k_docs`` documents (max-pool retrieval), order by
  chunk relevance, and cut at the cumulative token estimate — a
  windowed cumulative-sum over a relation bounded by k_docs × chunks
  per doc (inherently tiny per query; the single-partition window is
  bounded by construction, never by the corpus).

* :func:`evaluate_responses` — the reference scores every generated
  RAG answer (``src/llm/evaluation.py:112-198``): explicit "Article i"
  citation counting against the source list, Jaccard word overlap with
  the ground truth, and a weighted quality score (0.4 relevance + 0.3
  source relevance + 0.3 citation ratio, re-weighted 50/50 with the
  ground-truth similarity).  Batch form: pure column expressions over
  (response, ground_truth) rows — all codegen, no UDF, no shuffle
  (per-row metrics); the embedding-based similarity inputs arrive as
  caller-supplied columns (the reference computes them with its
  embedding model; the deterministic twin uses the word-overlap metric
  as the ground-truth similarity).

* :func:`semantic_cache_lookup` — the reference caches LLM responses
  keyed by query embedding and serves a cached answer when a new
  query's cosine similarity to any cached query clears a threshold
  (``src/llm/response_cache.py:68-99``, default 0.92).  Batch form: a
  broadcast join of incoming queries against the (small) cache-entry
  dimension, exact cosine, best-hit-per-query via max_by, hit =
  rounded cosine ≥ threshold.  At scale the cache side stays a
  broadcast dim (a response cache is small by construction); the
  queries side streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from newscrawler_spark.functions.rounding import pinned_round

from .chunks import chunk_scores_kernel
from .politeness import scalable_row_number

# chars-per-token heuristic: the reference estimates tokens as
# len(text) / 4 before truncating to max_tokens
# (src/llm/context_assembly.py token estimate convention).
CHARS_PER_TOKEN = 4


def assemble_context_kernel(
    docs: DataFrame,
    query: list[float],
    k_docs: int = 10,
    max_tokens: int = 2000,
    dim: int = 64,
) -> DataFrame:
    """Top-k retrieve → budgeted chunk packing.

    Returns (doc_id, chunk_id, cosine, token_est, cum_tokens) — the
    chunks an LLM prompt would include, in inclusion order: chunks of
    the top-``k_docs`` docs ranked by exact-kernel cosine, kept while
    the running token estimate stays within ``max_tokens`` (whole-chunk
    granularity).

    Determinism: ordering uses the full-precision cosine (exact int64
    dot / sqrt of exact products — bit-identical cross-engine) with
    (doc_id, chunk_id) tie-breaks; the budget cut compares exact
    integers.
    """
    scored = chunk_scores_kernel(docs, query, dim)
    top_docs = (
        scored.select("doc_id", F.col("cosine_raw").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mc"))
        .orderBy(F.desc("mc"), "doc_id")
        .limit(k_docs)
        .select("doc_id")
    )
    cand = scored.join(F.broadcast(top_docs), "doc_id").withColumn(
        "token_est", (F.col("chunk_len") / CHARS_PER_TOKEN).cast("int")
    )
    # bounded relation: ≤ k_docs × chunks-per-doc rows — the global
    # window is over the per-query candidate set, not the corpus
    w = (
        Window.orderBy(F.desc("cosine_raw"), "doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = cand.withColumn("cum_tokens", F.sum("token_est").over(w))
    return (
        packed.filter(F.col("cum_tokens") <= max_tokens)
        .select(
            "doc_id",
            "chunk_id",
            pinned_round(F.col("cosine_raw"), 4).alias("cosine"),
            "token_est",
            "cum_tokens",
        )
    )


def evaluate_responses(
    df: DataFrame,
    response_col: str = "response",
    truth_col: str = "ground_truth",
    n_sources: int = 2,
    relevance_col: str | None = None,
    source_relevance_col: str | None = None,
) -> DataFrame:
    """Per-row RAG answer evaluation (reference
    ``src/llm/evaluation.py``): citation metrics (:112-141), word
    overlap vs ground truth (:141-170), weighted quality (:170-198).

    * ``citation_count``: how many of sources 1..n_sources are cited as
      ``Article i`` / ``article i`` in the response (the reference's two
      exact case variants).
    * ``word_overlap_bp``: Jaccard of the lowercased whitespace-split
      word SETS of response and ground truth (the reference's
      ``_compare_to_ground_truth``), in integer basis points; the raw
      integer intersection/union sizes are also emitted.
    * ``quality_ppm``: 0.4·relevance + 0.3·source_relevance +
      0.3·citation_ratio, then re-weighted 0.5/0.5 with the
      ground-truth similarity and clamped to [0, 1] — the reference's
      ``_calculate_quality_score`` with the word-overlap metric
      standing in for the embedding ground-truth cosine (the
      deterministic metric available cross-engine; the float-embedding
      path is the ``relevance`` / ``text_embed`` seam) — in integer
      parts-per-million.  Missing relevance columns contribute 0, as
      in the reference (absent metrics are skipped).

    Scores are integers via ``floor(x·scale + 0.5)`` rather than
    ``round(x, d)``: round() at exact decimal ties diverges across
    engines (Spark re-rounds the shortest decimal repr with BigDecimal
    HALF_UP; float engines nearbyint a scaled double), while floor of
    the identical IEEE double is bit-deterministic everywhere.

    Everything is a column expression (whole-stage codegen, per-row —
    no shuffle, no UDF): at 100 TB this is a free rider on whatever
    scan produces the responses.
    """
    resp, truth = F.col(response_col), F.col(truth_col)
    cited = [
        (
            resp.contains(F.lit(f"Article {i}"))
            | resp.contains(F.lit(f"article {i}"))
        ).cast("int")
        for i in range(1, n_sources + 1)
    ]
    citation_count = sum(cited[1:], cited[0])
    words = lambda c: F.array_distinct(  # noqa: E731
        F.filter(
        F.split(F.lower(c), r"[ \t\n\r\f\x0b]+"), lambda t: t != F.lit("")
    )
    )
    rw, tw = words(resp), words(truth)
    inter = F.size(F.array_intersect(rw, tw))
    union = F.size(F.array_union(rw, tw))
    overlap = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    rqr = F.col(relevance_col) if relevance_col else F.lit(0.0)
    asr = F.col(source_relevance_col) if source_relevance_col else F.lit(0.0)
    ratio = citation_count / F.lit(n_sources)
    base = rqr * 0.4 + asr * 0.3 + ratio * 0.3
    quality = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), base * 0.5 + overlap * 0.5)
    )
    return (
        df.withColumn("citation_count", citation_count)
        .withColumn("citation_ratio", ratio)
        .withColumn("words_inter", inter)
        .withColumn("words_union", union)
        .withColumn(
            "word_overlap_bp",
            F.floor(overlap * 10000 + F.lit(0.5)).cast("int"),
        )
        .withColumn(
            "quality_ppm",
            F.floor(quality * 1000000 + F.lit(0.5)).cast("long"),
        )
        .drop(response_col, truth_col)
    )


def summarize_prompts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    title_col: str | None = None,
    source_col: str | None = None,
    max_summary_chars: int = 400,
) -> DataFrame:
    """Batch article summarization — prompt assembly + extractive twin.

    The reference summarizes one article at a time: load the row, build
    a fixed prompt (Title / Source / Date / Content) and call an
    external LLM (``src/llm/rag.py:369-440``, ``summarize_article``).
    The batch form assembles the same prompt for EVERY row as a pure
    column expression and emits a deterministic extractive summary —
    the first two sentences (the classic lead-N extractive baseline),
    capped at ``max_summary_chars`` — so the whole pipeline is
    testable and cross-engine exact without a model in the loop.

    The generative seam: replace the ``summary`` column with
    ``predict_batch_udf``-wrapped model inference over ``prompt``
    (pyspark.ml.functions.predict_batch_udf — Arrow-batched, one model
    instance per worker); everything else (prompt text, token
    accounting, downstream writes) is unchanged.  Per-row codegen, no
    shuffle — at 100 TB this rides the scan; the LLM call is the only
    non-free stage and it parallelizes per-batch.
    """
    title = (
        F.col(title_col)
        if title_col
        else F.substring(F.col(text_col), 1, 80)
    )
    source = F.col(source_col) if source_col else F.lit("unknown")
    prompt = F.concat(
        F.lit("Please summarize the following news article:\n\nTitle: "),
        title,
        F.lit("\nSource: "),
        source,
        F.lit("\nDate: Unknown\n\nContent:\n"),
        F.col(text_col),
    )
    # lead-2-sentences extractive baseline; empty match (no sentence
    # terminator) falls back to a plain prefix cut
    two_sents = F.regexp_extract(
        F.col(text_col), r"^[^.!?]*[.!?]([^.!?]*[.!?])?", 0
    )
    summary = F.substring(
        F.when(two_sents == "", F.col(text_col)).otherwise(two_sents),
        1,
        max_summary_chars,
    )
    return df.select(
        F.col(id_col),
        prompt.alias("prompt"),
        F.floor(F.length(prompt) / CHARS_PER_TOKEN)
        .cast("int")
        .alias("prompt_tokens"),
        summary.alias("summary"),
        F.length(summary).alias("summary_chars"),
    )


def eval_metrics(
    evaluated: DataFrame,
    last_n: int | None = None,
    order_col: str = "doc_id",
) -> DataFrame:
    """Averages over the evaluation history — the reference's
    ``get_average_metrics(last_n)`` (``src/llm/evaluation.py:200-231``):
    mean of every numeric metric over the last ``last_n`` evaluations.

    ``evaluated`` is :func:`evaluate_responses` output; "last N" is the
    top-N by ``order_col`` descending (the batch stand-in for the
    evaluator's append-order history).  Averages are exact-integer sums
    over exact counts, emitted at the metrics' own integer scales via
    ``floor(x·scale + 0.5)`` — cross-engine exact.  Single tiny
    aggregate: partial (map-side) combine then one reduce row.
    """
    hist = evaluated
    if last_n is not None:
        hist = hist.orderBy(F.desc(order_col)).limit(last_n)
    scaled = lambda c, s: F.floor(F.avg(c) * s + F.lit(0.5)).cast("long")  # noqa: E731
    return hist.agg(
        F.count(F.lit(1)).alias("n_evals"),
        scaled("citation_count", 10000).alias("avg_citation_count_bp"),
        scaled("word_overlap_bp", 1).alias("avg_word_overlap_bp"),
        scaled("quality_ppm", 1).alias("avg_quality_ppm"),
    )


def semantic_cache_lookup(
    queries: DataFrame,
    cache: DataFrame,
    threshold: float = 0.92,
    query_id: str = "query_id",
    cache_id: str = "cache_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Best cache entry per query + hit flag.

    ``queries``/``cache``: (id, embedding array<float>).  Exact cosine
    via zip_with/aggregate (pure codegen); the cache side broadcasts.
    Returns (query_id, best_cache_id, cosine, cache_hit) — hit when the
    4dp-rounded cosine clears ``threshold`` (rounded-value compare so
    the threshold decision is reproducible cross-engine).
    """
    from .similarity import _dot_expr, _norm_expr

    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qv")
    )
    c = cache.select(F.col(cache_id), F.col(vec_col).alias("__cv"))
    # single copy of the cosine contract (similarity._dot_expr/_norm_expr)
    cos = pinned_round(
        F.expr(_dot_expr("__qv", "__cv"))
        / (F.expr(_norm_expr("__qv")) * F.expr(_norm_expr("__cv"))),
        4,
    )
    pairs = q.join(F.broadcast(c)).select(
        query_id, cache_id, cos.alias("cosine")
    )
    best = pairs.groupBy(query_id).agg(
        F.max(F.struct(F.col("cosine"), (-F.col(cache_id)).alias("nid"))).alias("b")
    )
    # LEFT join back to the query set: with an EMPTY cache (or a query
    # producing no pairs) the query must still surface with
    # cache_hit=false — a dropped row reads as "already answered".
    # coalesce also forces a null cosine (zero-norm vector) to a false
    # hit instead of a null flag.
    return q.select(query_id).join(best, query_id, "left").select(
        query_id,
        (-F.col("b.nid")).alias("best_cache_id"),
        F.col("b.cosine").alias("cosine"),
        F.coalesce(F.col("b.cosine") >= F.lit(threshold), F.lit(False)).alias(
            "cache_hit"
        ),
    )


MMR_LAMBDA = 0.7


def mmr_diversify(
    embeddings: DataFrame,
    n_queries: int = 4,
    k: int = 4,
    n_cand: int = 16,
    lam: float = MMR_LAMBDA,
    cache_registry: list | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) over retrieved candidates: for each query, greedily pick the
    candidate maximizing ``λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s)`` —
    the diversity pass between ANN retrieval and context assembly.

    Spark-first, NO per-query driver loop and no UDF: the k greedy
    rounds are k UNROLLED steps over one state row per cached
    (query, candidate) pair holding rel, mmr_rank/mmr_score once
    picked, and the running max penalty ``pen`` while unpicked.  A
    step reads the previous state exactly once: a per-query window
    finds the last pick, one left join to the pairwise similarities
    gives sim(c, last pick) and ``pen = greatest(pen, s)`` (a running
    max equals the max over the selected set), and a row_number over
    the unpicked rows takes the next pick — so the optimized plan
    grows linearly in k.  Every query's selection runs inside each
    step, but the operator is sized for a handful of queries: the
    candidates (n_queries × n_cand rows) and the pairwise similarities
    (up to (n_queries·n_cand)² rows) each sit in one partition, and
    the join strategy is left to the planner (AQE broadcasts the
    similarities when they are small).  A query with fewer than k
    candidates gets one rank per candidate.
    ``cache_registry`` collects the two persisted frames (candidates,
    pairwise similarities) for the caller to release.

    Cross-engine contract: every similarity is pinned-rounded at 4dp
    BEFORE any comparison and every argmax tie breaks by vec_id, so
    the DuckDB oracle replays the greedy selection decision-for-
    decision.  Queries are the first ``n_queries`` vectors; candidates
    the rest.  Output: (qid, mmr_rank, vec_id, mmr_score).
    """
    dot = lambda a, b: F.expr(  # noqa: E731
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    norm = lambda a: F.sqrt(dot(a, a))  # noqa: E731

    q = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = embeddings.where(F.col("vec_id") >= n_queries).select(
        "vec_id", F.col("embedding").alias("cv")
    )
    rel = pinned_round(dot("cv", "qv") / (norm("cv") * norm("qv")), 4)
    w_q = Window.partitionBy("qid")
    cand = (
        c.join(F.broadcast(q))
        .select("qid", "vec_id", rel.alias("rel"), "cv")
        .withColumn(
            "rn",
            F.row_number().over(w_q.orderBy(F.desc("rel"), "vec_id")),
        )
        .where(F.col("rn") <= n_cand)
        .drop("rn")
        # bounded at n_queries × n_cand rows: collapse to one partition
        # so the k unrolled stages stop paying 64-way shuffle overhead
        .repartition(1)
        .persist()
    )
    # pairwise candidate similarity over the distinct candidate pool
    # (bounded by n_queries × n_cand vectors), symmetrized
    pool = cand.select("vec_id", "cv").distinct()
    psim = pinned_round(dot("av", "bv") / (norm("av") * norm("bv")), 4)
    pd = (
        pool.select(F.col("vec_id").alias("va"), F.col("cv").alias("av"))
        .join(
            pool.select(F.col("vec_id").alias("vb"), F.col("cv").alias("bv")),
            F.col("va") < F.col("vb"),
        )
        .select("va", "vb", psim.alias("s"))
    )
    ps = (
        pd.union(
            pd.select(F.col("vb").alias("va"), F.col("va").alias("vb"), "s")
        )
        .repartition(1)  # ≤ (n_queries·n_cand)² rows
        .persist()
    )

    if cache_registry is not None:
        cache_registry.extend([cand, ps])

    # one state row per (qid, candidate): rank and score once picked,
    # the running max similarity to the picked set while unpicked
    w_pick = w_q.orderBy(F.col("mmr_rank").isNotNull(), F.desc("mmr_score"), "vec_id")
    first = F.row_number().over(w_q.orderBy(F.desc("rel"), "vec_id")) == 1
    state = cand.select(
        "qid",
        "vec_id",
        "rel",
        F.when(first, F.lit(1)).alias("mmr_rank"),
        F.when(first, pinned_round(F.lit(lam) * F.col("rel"), 4)).alias("mmr_score"),
        F.lit(None).cast("double").alias("pen"),
    )
    for step in range(2, k + 1):
        last = F.max(F.when(F.col("mmr_rank") == step - 1, F.col("vec_id"))).over(w_q)
        unpicked = F.col("mmr_rank").isNull()
        pen = F.greatest("pen", "s")
        mmr = pinned_round(F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * pen, 4)
        scored = (
            state.withColumn("last", last)
            .join(
                ps,
                (F.col("vec_id") == F.col("va")) & (F.col("last") == F.col("vb")),
                "left",
            )
            .select(
                "qid",
                "vec_id",
                "rel",
                "mmr_rank",
                F.when(unpicked, mmr).otherwise(F.col("mmr_score")).alias("mmr_score"),
                pen.alias("pen"),
            )
        )
        # unpicked rows sort first, so row 1 is the pick unless none is left
        state = scored.withColumn(
            "mmr_rank",
            F.when(unpicked & (F.row_number().over(w_pick) == 1), F.lit(step)).otherwise(
                F.col("mmr_rank")
            ),
        )
    return state.where(F.col("mmr_rank").isNotNull()).select(
        "qid", "mmr_rank", "vec_id", "mmr_score"
    )


def cache_ttl_evict(
    cache: DataFrame,
    ttl_s: int = 3600,
    max_size: int = 1000,
    evict_frac_bp: int = 1000,
    cache_registry: list | None = None,
) -> DataFrame:
    """TTL expiry + capacity eviction over a cache-entry relation — the
    batch twin of the reference's two cache policies: entries expire
    ``ttl_s`` after creation (``src/utils/cache.py:70-83``,
    ``expires_at = created_at + expiration_seconds``) and, when the live
    set reaches ``max_size``, the oldest ``max(1, int(n·10%))`` entries
    by last access are evicted (``src/utils/cache.py:104-118``
    ``_evict``; TTL default from ``src/llm/response_cache.py:20``).

    ``cache``: (cache_id, created_us, last_accessed_us) with integer
    microsecond times (Spark's unix_timestamp truncates sub-second ts —
    the T4 lesson — so the time contract is integer µs end to end).
    "now" is the max last-access in the relation (deterministic batch
    stand-in for the wall clock).

    Returns every entry with its disposition:
    (cache_id, created_us, last_accessed_us, age_s, status ∈
    {'expired','evicted','live'}).  Expired entries are decided row-
    locally; the eviction rank over the live subset is computed by
    :func:`politeness.scalable_row_number` (range-partition + two-pass
    zipWithIndex), NOT a single-partition global window — a real cache
    is bounded by max_size, but the operator ranks whatever relation
    the caller passes (the gate feeds the full events table), so the
    rank must not funnel a corpus-scaled live set through one task.
    Ties in last-access break by cache_id (the reference's dict
    iteration is insertion-stable; an explicit deterministic rule
    replaces that accident).  ``cache_registry`` releases the rank's
    internal range-partitioned persist (CLAUDE.md round-cache rule).
    """
    now_us = cache.agg(F.max("last_accessed_us").alias("__now_us"))
    aged = cache.crossJoin(F.broadcast(now_us)).select(
        "cache_id",
        "created_us",
        "last_accessed_us",
        # floor BEFORE the long cast: Spark's cast(double→long) truncates
        # but DuckDB's CAST rounds — floor() is the shared pin
        F.floor((F.col("__now_us") - F.col("created_us")) / F.lit(1_000_000))
        .cast("long")
        .alias("age_s"),
        (F.col("__now_us") > F.col("created_us") + F.lit(int(ttl_s) * 1_000_000)).alias(
            "__expired"
        ),
    )
    live = aged.where(~F.col("__expired"))
    n_live = live.agg(F.count(F.lit(1)).alias("__n_live"))
    ranked = (
        scalable_row_number(
            live.crossJoin(F.broadcast(n_live)),
            ["last_accessed_us", "cache_id"],
            "__rk",
            cache_registry=cache_registry,
        )
        .withColumn(
            "__n_evict",
            F.when(
                F.col("__n_live") >= F.lit(max_size),
                F.greatest(
                    F.lit(1),
                    F.floor(F.col("__n_live") * F.lit(evict_frac_bp) / F.lit(10000)).cast(
                        "int"
                    ),
                ),
            ).otherwise(F.lit(0)),
        )
    )
    disposed = ranked.select(
        "cache_id",
        "created_us",
        "last_accessed_us",
        "age_s",
        F.when(F.col("__rk") <= F.col("__n_evict"), "evicted")
        .otherwise("live")
        .alias("status"),
    )
    expired = aged.where(F.col("__expired")).select(
        "cache_id",
        "created_us",
        "last_accessed_us",
        "age_s",
        F.lit("expired").alias("status"),
    )
    return disposed.unionByName(expired)
