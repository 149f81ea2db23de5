"""Round-2 operators: text/hybrid search, relevance scorer, chunking,
image extraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_text_search_pagination_and_count(spark, docs):
    from newscrawler_spark.operators.search import text_search

    p1 = text_search(docs, "stream", lang="en", page=1, size=10).collect()
    p2 = text_search(docs, "stream", lang="en", page=2, size=10).collect()
    assert len(p1) == 10 and len(p2) == 10
    total = p1[0]["total_count"]
    assert all(r["total_count"] == total for r in p1 + p2)
    # recency order (doc_id DESC surrogate), pages do not overlap
    ids1 = [r["doc_id"] for r in p1]
    ids2 = [r["doc_id"] for r in p2]
    assert ids1 == sorted(ids1, reverse=True)
    assert max(ids2) < min(ids1)
    # every hit actually contains the term
    for r in p1:
        assert "stream" in docs.filter(F.col("doc_id") == r["doc_id"]).first()["text"]


def test_hybrid_search_score_blend(spark, docs, emb):
    from newscrawler_spark.operators.search import hybrid_search

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = hybrid_search(docs, emb, q, terms=["stream", "query"], semantic_weight=0.6, k=15).collect()
    assert 0 < len(out) <= 15
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(r["kw_hits"] > 0 for r in out)  # the tsquery gate
    # w=1.0 degenerates to pure cosine ranking of keyword-matching rows
    pure = hybrid_search(docs, emb, q, terms=["stream"], semantic_weight=1.0, k=5).collect()
    cosines = [r["score"] for r in pure]
    assert cosines == sorted(cosines, reverse=True)


def test_relevance_formula_terms(spark):
    from newscrawler_spark.functions.relevance import is_relevant, relevance_score

    rows = [
        # empty: base 0.1 + content paras-term only (1 para of 3 → 0.2*0.3*1/3)
        (0, ""),
        # entities + country + sentences + paragraphs
        (1, "Alice Johnson met Bob Smith in Germany. They signed. Deal done.\n\nSecond para.\n\nThird para here."),
        # topic-heavy (query_engine bank: query scan filter sort agg)
        (2, "query scan filter sort agg query scan filter"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["rel"], r["ok"])
        for r in df.select(
            "doc_id",
            relevance_score(F.col("text")).alias("rel"),
            is_relevant(F.col("text")).alias("ok"),
        ).collect()
    }
    # empty text: 0.1 base + 0.2*(0.3*min(1/3,1)) = 0.12
    assert got[0] == (pytest.approx(0.12), False)
    # doc 1: people=2 distinct 2-word spans → hmm: 'Alice Johnson','Bob Smith' (+0.01*2)
    #   countries: Germany (+0.05); orgs: distinct single caps words ≥ ... capped 0.10
    #   no topics. Entity term present → score > base+content
    assert got[1][0] > 0.15
    # doc 2: one topic bank fires → +0.1; no caps
    assert got[2][0] > 0.2
    # entity caps: flooding with names cannot exceed the 0.3 entity cap
    flood = " ".join(f"Name{i} Person{i}." for i in range(100))
    one = spark.createDataFrame([(9, flood)], "doc_id int, text string").select(
        relevance_score(F.col("text")).alias("rel")
    ).first()["rel"]
    base_content = 0.1 + 0.2 * (0.4 * min(len(flood) / 1000, 1.0) + 0.3 * (1 / 3) + 0.3 * min(100 / 10, 1.0))
    assert one <= round(base_content + 0.3, 4) + 1e-9


def test_chunking_overlap_contract(spark):
    from newscrawler_spark.operators.chunks import chunk_text

    text = "".join(chr(ord("a") + (i % 26)) for i in range(2500))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = {r["chunk_id"]: r for r in chunk_text(df).collect()}
    assert sorted(chunks) == [0, 1, 2]
    assert [chunks[i]["chunk_start"] for i in range(3)] == [0, 800, 1600]
    assert [len(chunks[i]["chunk"]) for i in range(3)] == [1000, 1000, 900]
    # consecutive chunks share exactly the 200-char overlap
    for i in range(2):
        assert chunks[i]["chunk"][800:] == chunks[i + 1]["chunk"][:200]
    # reassembly covers the document exactly
    rebuilt = chunks[0]["chunk"] + chunks[1]["chunk"][200:] + chunks[2]["chunk"][200:]
    assert rebuilt == text
    # short doc → single chunk
    short = spark.createDataFrame([(2, "tiny")], "doc_id long, text string")
    assert chunk_text(short).count() == 1


def test_chunk_ann_finds_own_doc(spark, docs):
    from newscrawler_spark.functions.embed import embed_text
    from newscrawler_spark.operators.chunks import chunked_embeddings, doc_topk_from_chunks

    sub = docs.limit(50)
    target = sub.filter(F.col("doc_id") == 7).first()
    q = embed_text(target["text"][:1000])  # the doc's own first chunk
    top = doc_topk_from_chunks(chunked_embeddings(sub), q, k=3).collect()
    assert top[0]["doc_id"] == 7
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-3)


def test_chunk_ann_kernel_matches_float_path(spark, docs, emb):
    """The integer-kernel chunk ANN (pure codegen, DuckDB-oracled) ranks
    identically to the float-UDF chunk path: cosine is scale-invariant,
    so scoring raw integer bucket counts == scoring the L2-normalized
    embeddings, modulo the 1e-4 query quantization and the embedder's
    6-decimal component rounding."""
    from newscrawler_spark.operators.chunks import (
        chunked_embeddings,
        doc_topk_from_chunks,
        doc_topk_kernel,
    )

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    sub = docs.limit(80)
    kern = doc_topk_kernel(sub, q, k=10).collect()
    flt = doc_topk_from_chunks(chunked_embeddings(sub), q, k=10).collect()
    assert kern[0]["doc_id"] == flt[0]["doc_id"]
    # same docs retrieved; allow one boundary swap at the k-th rank from
    # the two paths' different rounding granularity
    k_ids, f_ids = {r["doc_id"] for r in kern}, {r["doc_id"] for r in flt}
    assert len(k_ids & f_ids) >= 9
    fcos = {r["doc_id"]: r["cosine"] for r in flt}
    for r in kern:
        if r["doc_id"] in fcos:
            assert r["cosine"] == pytest.approx(fcos[r["doc_id"]], abs=3e-4)


def test_image_extraction_dedup_order():
    from newscrawler_spark.functions.extract import extract_page

    html = (
        b'<html><head><title>t</title></head><body>'
        b'<p>story body text here</p>'
        b'<img src="https://h.com/top.jpg">'
        b'<img src="/local/b.png" alt="x">'
        b'<img src="https://h.com/top.jpg">'  # duplicate of top image
        b"</body></html>"
    )
    rec = extract_page(html, "https://h.com/art/1.html")
    assert rec["images"] == ["https://h.com/top.jpg", "https://h.com/local/b.png"]
    # boilerplate-stripped subtrees contribute no images
    nav = b"<nav><img src='https://h.com/navlogo.png'></nav><p>x</p>"
    assert extract_page(nav, "https://h.com/a.html")["images"] == []


def test_rag_evaluate_reference_formula(spark):
    """evaluate_responses mirrors reference evaluation.py: citation
    variants (:112-141), Jaccard word sets (:141-170), weighted quality
    with 50/50 ground-truth re-weight and [0,1] clamp (:170-198)."""
    from pyspark.sql import functions as F

    from newscrawler_spark.operators.rag import evaluate_responses

    df = spark.createDataFrame(
        [
            # cites both (one per case variant); words: {a,b,c} vs {b,c,d}
            (1, "Article 1 says a b c and article 2 agrees", "b c d", 0.5, 0.5),
            # no citations; identical word sets → overlap 1.0
            (2, "x y z", "z  y x", 1.0, 1.0),
            # "Article 3" is beyond n_sources=2 → not counted
            (3, "Article 3 only", "none here", 0.0, 0.0),
        ],
        "doc_id int, response string, ground_truth string, rqr double, asr double",
    )
    out = {
        r["doc_id"]: r
        for r in evaluate_responses(
            df, "response", "ground_truth", n_sources=2,
            relevance_col="rqr", source_relevance_col="asr",
        ).collect()
    }
    r1 = out[1]
    # words(resp)={article,1,says,a,b,c,and,2,agrees} ∩ {b,c,d} = {b,c}
    assert r1["citation_count"] == 2 and r1["citation_ratio"] == 1.0
    assert (r1["words_inter"], r1["words_union"]) == (2, 10)
    assert r1["word_overlap_bp"] == 2000
    # quality = 0.5*(0.4*0.5 + 0.3*0.5 + 0.3*1.0) + 0.5*0.2 = 0.425
    assert r1["quality_ppm"] == 425000
    r2 = out[2]
    assert r2["citation_count"] == 0 and r2["word_overlap_bp"] == 10000
    # 0.5*(0.4 + 0.3 + 0) + 0.5*1.0 = 0.85
    assert r2["quality_ppm"] == 850000
    r3 = out[3]
    assert r3["citation_count"] == 0 and r3["words_inter"] == 0
    assert r3["quality_ppm"] == 0


def test_rag_summarize_prompt_and_extractive_fallback(spark):
    """summarize_prompts mirrors the reference's summarize_article
    prompt template (rag.py:369-440) and emits a deterministic
    lead-2-sentences extractive summary; rows with no sentence
    terminator fall back to a plain prefix cut."""
    from newscrawler_spark.operators.rag import summarize_prompts

    df = spark.createDataFrame(
        [
            (1, "First sentence. Second one! Third is dropped.", "feeds"),
            (2, "no terminator at all just words", "csv"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in summarize_prompts(df, source_col="source").collect()}
    r1 = out[1]
    assert r1["prompt"].startswith(
        "Please summarize the following news article:\n\nTitle: First sentence."
    )
    assert "\nSource: feeds\n" in r1["prompt"]
    assert r1["prompt"].endswith("Content:\nFirst sentence. Second one! Third is dropped.")
    assert r1["summary"] == "First sentence. Second one!"
    assert r1["prompt_tokens"] == len(r1["prompt"]) // 4
    assert out[2]["summary"] == "no terminator at all just words"
    assert out[2]["summary_chars"] == len(out[2]["summary"])


def test_rag_eval_metrics_last_n(spark):
    """eval_metrics averages the LAST N evaluations only
    (evaluation.py:200-231 get_average_metrics)."""
    from newscrawler_spark.operators.rag import eval_metrics

    hist = spark.createDataFrame(
        # doc_id, citation_count, word_overlap_bp, quality_ppm
        [(1, 0, 0, 0), (2, 1, 5000, 400000), (3, 2, 10000, 800000)],
        "doc_id long, citation_count int, word_overlap_bp int, quality_ppm long",
    )
    row = eval_metrics(hist, last_n=2).collect()[0]
    # last 2 by doc_id desc = ids {2,3}: avg citations 1.5, overlap 7500
    assert row["n_evals"] == 2
    assert row["avg_citation_count_bp"] == 15000
    assert row["avg_word_overlap_bp"] == 7500
    assert row["avg_quality_ppm"] == 600000


def test_bm25_hand_computed_and_ranked(spark):
    import math

    from pyspark.sql import Row
    from newscrawler_spark.operators.search import BM25_B, BM25_K1, bm25_rank

    texts = {
        0: "cat cat cat dog",   # tf(cat)=3, dl=4
        1: "cat mouse mouse",   # tf(cat)=1, dl=3
        2: "mouse mouse mouse", # no hit -> excluded
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    out = bm25_rank(df, ["cat"], k=10).collect()
    assert [r["doc_id"] for r in out] == [0, 1]  # tf-ordered

    n, dfreq, avgdl = 3, 2, 10 / 3
    idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def score(tf, dl):
        return idf * (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * (dl / avgdl))
        )

    assert abs(out[0]["score_bm25"] - score(3, 4)) < 1e-3
    assert abs(out[1]["score_bm25"] - score(1, 3)) < 1e-3
    assert out[0]["n_hits"] == 3


def test_bm25_rare_term_outweighs_common(spark):
    from pyspark.sql import Row
    from newscrawler_spark.operators.search import bm25_rank

    # "rare" hits 1 doc, "common" hits all: equal tf, the rare-term doc
    # must rank first (idf dominance)
    rows = [Row(doc_id=i, text="common filler words here") for i in range(9)]
    rows.append(Row(doc_id=9, text="rare filler words here"))
    df = spark.createDataFrame(rows)
    out = bm25_rank(df, ["rare", "common"], k=3).collect()
    assert out[0]["doc_id"] == 9


def test_build_postings_matches_python_spec(spark):
    import re
    from collections import Counter

    from newscrawler_spark.operators.search import build_postings

    texts = {
        1: "the cat  sat on the mat",
        2: "cat\tand bat",
        3: "",
        4: "été the\x0bété",
    }
    split_re = re.compile(r"[ \t\n\r\f\x0b]+")
    spec = {}
    df_count: Counter = Counter()
    for d, t in texts.items():
        toks = [w for w in split_re.split(t) if w]
        for w in set(toks):
            df_count[w] += 1
        for i, w in enumerate(toks, start=1):
            spec.setdefault((w, d), []).append(i)
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got = build_postings(df).collect()
    assert {(r["term"], r["doc_id"]): list(r["positions"]) for r in got} == spec
    for r in got:
        assert r["tf"] == len(spec[(r["term"], r["doc_id"])])
        assert r["df"] == df_count[r["term"]]


def test_build_postings_plan_two_exchanges_partial_agg(spark):
    from tests.test_plans import _plan

    from newscrawler_spark.operators.search import build_postings

    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    plan = _plan(build_postings(df), "simple")
    # (term, doc) aggregate shuffle + df-window shuffle over the
    # aggregate — and the first exchange must carry PARTIALLY-COMBINED
    # rows (partial aggregate below it), never raw corpus tokens
    assert plan.count("Exchange") == 2, plan
    first_exchange = plan.index("Exchange")
    assert "partial_count" in plan[first_exchange:], plan


def test_mmr_matches_python_greedy_spec(spark, emb):
    """Pure-Python greedy MMR (sequential-fold dots, pinned 4dp,
    vec_id tiebreaks) must equal the unrolled dataframe stages
    decision-for-decision."""
    import math

    from newscrawler_spark.operators.rag import mmr_diversify

    NQ, K, NCAND, LAM = 4, 4, 16, 0.7

    def pin(x):
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        dot = nn = qq = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            dot += x * y
        for x in vecs[a]:
            nn += x * x
        for y in vecs[b]:
            qq += y * y
        return pin(dot / (math.sqrt(nn) * math.sqrt(qq)))

    spec = {}
    for qid in range(NQ):
        rel = {v: cos(v, qid) for v in vecs if v >= NQ}
        cand = sorted(rel, key=lambda v: (-rel[v], v))[:NCAND]
        sel = []
        first = min(cand, key=lambda v: (-rel[v], v))
        sel.append((first, pin(LAM * rel[first])))
        for _ in range(K - 1):
            rem = [v for v in cand if v not in {s for s, _ in sel}]
            scored = {
                v: pin(LAM * rel[v] - (1.0 - LAM) * max(cos(v, s) for s, _ in sel))
                for v in rem
            }
            nxt = min(scored, key=lambda v: (-scored[v], v))
            sel.append((nxt, scored[nxt]))
        spec[qid] = sel

    got = mmr_diversify(emb, n_queries=NQ, k=K, n_cand=NCAND, lam=LAM).collect()
    assert len(got) == NQ * K
    for r in got:
        v, s = spec[r["qid"]][r["mmr_rank"] - 1]
        assert r["vec_id"] == v, (r, spec[r["qid"]])
        assert abs(r["mmr_score"] - s) < 1e-12


@pytest.mark.parametrize("n_cand, k", [(3, 5), (1, 2)])
def test_mmr_fewer_candidates_than_k(spark, emb, n_cand, k):
    """With n_cand < k every candidate is picked once (ranks 1..n_cand
    per query) and the steps past the last candidate pick nothing: the
    output equals the k = n_cand run."""
    from newscrawler_spark.operators.rag import mmr_diversify

    got = sorted(tuple(r) for r in mmr_diversify(emb, n_cand=n_cand, k=k).collect())
    want = sorted(tuple(r) for r in mmr_diversify(emb, n_cand=n_cand, k=n_cand).collect())
    assert got == want
    ranks: dict = {}
    for qid, rank, _, _ in got:
        ranks.setdefault(qid, []).append(rank)
    assert sorted(ranks) == [0, 1, 2, 3]
    assert all(sorted(r) == list(range(1, n_cand + 1)) for r in ranks.values())


def test_tfidf_topk_matches_python_spec(spark):
    import math
    import re
    from collections import Counter

    from newscrawler_spark.operators.search import tfidf_topk

    texts = {
        0: "spark shuffle join broadcast join",
        1: "spark join plan",
        2: "duck oracle gate",
        3: "broadcast shuffle spark spark",
        4: "",
    }
    split_re = re.compile(r"[ \t\n\r\f\x0b]+")
    tf = {d: Counter(w for w in split_re.split(t) if w) for d, t in texts.items()}
    tf = {d: c for d, c in tf.items() if c}
    df_c: Counter = Counter()
    for c in tf.values():
        df_c.update(set(c))
    n = len(tf)
    vec = {
        d: {t: cnt * math.log(n / df_c[t]) for t, cnt in c.items()}
        for d, c in tf.items()
    }

    def pin(x):
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    q = vec[0]
    qn = math.sqrt(sum(v * v for v in q.values()))
    sims = {}
    for d, v in vec.items():
        dot = sum(v[t] * q[t] for t in v if t in q)
        if dot:
            sims[d] = pin(dot / (math.sqrt(sum(x * x for x in v.values())) * qn))
    spec = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got = [(r["doc_id"], r["sim_tfidf"]) for r in tfidf_topk(docs).collect()]
    assert got == spec
    assert got[0] == (0, 1.0)


def test_phrase_search_matches_python_spec(spark, docs):
    """phrase_search == a naive Python token scan (third implementation
    of the adjacency spec), including multi-occurrence counts and
    overlapping matches (e.g. 'a a' in 'a a a' -> 2)."""
    import re

    from newscrawler_spark.operators.search import phrase_search

    # derive the phrase from the data (first 3 tokens of doc 0) so the
    # test holds at any sf the suite runs against
    t0 = docs.where(F.col("doc_id") == 0).select("text").collect()[0][0]
    terms = [t for t in re.split(r"[ \t\n\r\f\x0b]+", t0) if t][:3]
    phrase = " ".join(terms)
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(docs, phrase).collect()
    }
    want = {}
    for row in docs.select("doc_id", "text").collect():
        toks = [t for t in re.split(r"[ \t\n\r\f\x0b]+", row["text"] or "") if t]
        hits = [
            i + 1
            for i in range(len(toks) - len(terms) + 1)
            if toks[i : i + len(terms)] == terms
        ]
        if hits:
            want[row["doc_id"]] = (len(hits), hits[0])
    assert got == want and len(want) > 0


def test_phrase_search_overlapping_and_duplicate_terms(spark):
    from newscrawler_spark.operators.search import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a a a"),          # 'a a' matches at 1 and 2 (overlap)
            (2, "x a a y a a"),    # matches at 2 and 5
            (3, "a b a"),          # no 'a a'
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search(docs, "a a").collect()
    }
    assert got == {1: (2, 1), 2: (2, 2)}


def test_keywords_tfidf_python_spec(spark):
    import math
    import re

    from newscrawler_spark.operators.search import keywords_tfidf

    texts = {
        1: "apple apple banana common",
        2: "banana cherry common",
        3: "cherry cherry cherry common date",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["doc_id"], r["rnk"]): (r["term"], r["w_tfidf"])
        for r in keywords_tfidf(docs, top_k=2).collect()
    }
    # python spec
    toks = {d: [t for t in re.split(r"[ \t\n\r\f\x0b]+", s) if t] for d, s in texts.items()}
    df: dict[str, int] = {}
    for d, ts in toks.items():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    want = {}
    for d, ts in toks.items():
        ws = sorted(
            (
                (-math.floor(ts.count(t) * math.log(3.0 / df[t]) * 10000 + 0.5) / 10000, t)
                for t in set(ts)
            )
        )
        for i, (nw, t) in enumerate(ws[:2], start=1):
            want[(d, i)] = (t, -nw)
    assert got == want
    # 'common' appears in every doc -> ln(1) = 0 weight, never ranked 1
    assert all(t != "common" for (d, r), (t, _) in got.items() if r == 1)


def test_rrf_consistent_with_standalone_rankers(spark, sf_dir):
    """RRF ranks reproduce the standalone BM25 and cosine orderings,
    the rrf value is exactly sum(1/(60+r)), and a doc retrieved by both
    lists outscores any doc retrieved by one list at equal rank."""
    import os

    import __spark_entry__ as m
    from newscrawler_spark.operators.search import bm25_rank
    from newscrawler_spark.operators.similarity import cosine_topk

    rows = m.q_search_rrf(spark, sf_dir).collect()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qv = m._query_vec(spark, sf_dir)

    kw = bm25_rank(docs, m._BM25_TERMS, k=m._BM25_K).collect()
    kw_rank = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(kw, key=lambda r: (-r["score_bm25"], r["doc_id"]))
        )
    }
    sem = cosine_topk(emb, qv, k=20).collect()
    sem_rank = {
        r["vec_id"]: i + 1
        for i, r in enumerate(sorted(sem, key=lambda r: (-r["cosine"], r["vec_id"])))
    }
    for r in rows:
        assert r["r_kw"] == kw_rank.get(r["doc_id"])
        assert r["r_sem"] == sem_rank.get(r["doc_id"])
        want = sum(
            1.0 / (60.0 + rr) for rr in (r["r_kw"], r["r_sem"]) if rr is not None
        )
        assert abs(r["rrf"] - want) < 1e-4
    both = [r for r in rows if r["r_kw"] and r["r_sem"]]
    single = [r for r in rows if (r["r_kw"] is None) != (r["r_sem"] is None)]
    if both and single:
        assert max(r["rrf"] for r in both) > min(r["rrf"] for r in single)


def test_bm25f_title_weighting(spark):
    """A term in the title (first 60 chars) outranks the same single
    occurrence deep in the body, given equal doc shapes — the w_title=2
    field boost; a doc without the term never appears."""
    from pyspark.sql import Row

    from newscrawler_spark.operators.search import bm25f_rank

    filler = "lorem ipsum dolor sit amet " * 4          # > 60 chars
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="zebra " + filler),       # term in title
            Row(doc_id=2, text=filler + " zebra"),       # term in body
            Row(doc_id=3, text=filler),                  # no term
        ],
        "doc_id long, text string",
    )
    rows = bm25f_rank(docs, ["zebra"], k=10).collect()
    got = {r["doc_id"]: r["score_bm25f"] for r in rows}
    assert set(got) == {1, 2}
    assert got[1] > got[2]
