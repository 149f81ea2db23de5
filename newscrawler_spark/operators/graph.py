"""Connected components over the near-duplicate pair graph.

Pair-level dedup (minhash/simhash/embedding `*_pairs` operators) is not
a dedup decision yet: keep-one-per-group needs the transitive closure
of the pairs — A~B and B~C must collapse A, B, C together even though
(A, C) was never emitted.  The standard corpus pipeline therefore runs
connected components on the candidate-pair graph and keeps the minimum
doc id per component.

Spark-first implementation: min-label propagation with pointer
jumping.  Each round every node takes the min component label among
itself and its neighbors, then labels are compressed one hop
(``comp := comp[comp]``), which halves remaining path lengths — so
rounds grow O(log diameter), not O(diameter).  Each round is two
equi-joins + a groupBy on the PAIR graph, which is orders of magnitude
smaller than the corpus (only near-duplicates appear in it); the
corpus itself is touched once at the end to label isolated documents.
Lineage is truncated per round with an eager localCheckpoint, and
convergence is detected by the strictly-decreasing sum of labels (one
cheap scalar action per round — no row-level diff join).

The driver-side loop is bounded and tiny (a handful of rounds); all
row-scaled work stays distributed.  (GraphFrames' large-star/small-star
is the same idea with a 2-phase split; this 1-phase variant keeps the
dependency surface to plain DataFrames.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected `edges` graph.  Returns
    (id, component) with component = min node id reachable.  `nodes`
    (single column ``id``) adds isolated vertices; defaults to the
    vertices appearing in `edges`."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the pair graph once — its lineage (an LSH/simhash
    # candidate join) would otherwise recompute on every round
    esym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    if nodes is None:
        nodes = esym.select(F.col("a").alias("id")).distinct()
    comp = nodes.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)
    prev_sum = comp.agg(F.sum("comp")).collect()[0][0] or 0
    for _ in range(max_iter):
        msgs = esym.join(comp, esym["a"] == comp["id"]).select(
            F.col("b").alias("id"), "comp"
        )
        prop = (
            comp.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: follow the label one hop (comp := comp[comp])
        jumped = (
            prop.alias("x")
            .join(
                prop.select(
                    F.col("id").alias("jid"), F.col("comp").alias("jcomp")
                ),
                F.col("x.comp") == F.col("jid"),
                "left",
            )
            .select(
                F.col("x.id").alias("id"),
                F.coalesce("jcomp", F.col("x.comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = jumped.agg(F.sum("comp")).collect()[0][0] or 0
        comp = jumped
        if cur_sum == prev_sum:  # min-label sum strictly decreases until fixed
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    return comp


_HOST_RE = r"^[a-z]+://([^/?#]*)"


def _persist(df: DataFrame, cache_registry: list | None) -> DataFrame:
    """``df.persist()``, recorded in ``cache_registry`` (when given) so
    the caller can unpersist it once the result is consumed."""
    df = df.persist()
    if cache_registry is not None:
        cache_registry.append(df)
    return df


def host_link_edges(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """Host-level link graph from the raw pages table.

    Extracts every page's out-links with the frozen extraction contract
    (functions/extract.extract_page: first-occurrence dedup per page),
    caps them at `max_links_per_page` (the reference's link cap,
    scraper_gui.py:483-486 — same cap the crawler applies at its explode
    site), resolves each endpoint to its host, and keeps only edges
    between two DISTINCT hosts that both exist in the corpus (links to
    hosts outside the crawled universe carry no rank).  Returns
    (src, dst, w) with w = number of distinct page-level links.

    Scale shape: one mapInPandas extraction pass + one groupBy on
    (src, dst) — the same single shuffle any host-level rollup needs.
    The result is O(host-graph), orders of magnitude smaller than the
    pages table, so everything downstream is cheap.
    """
    from ..functions.extract import EXTRACT_FIELDS, extract_map_in_pandas

    meta = pages.select("url", "html")
    ext = meta.mapInPandas(
        extract_map_in_pandas, schema=f"url string, html binary, {EXTRACT_FIELDS}"
    )
    links = ext.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("src"),
        F.explode(F.slice("out_links", 1, max_links_per_page)).alias("link"),
    ).select("src", F.regexp_extract("link", _HOST_RE, 1).alias("dst"))
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    return (
        links.filter(F.col("src") != F.col("dst"))
        .join(F.broadcast(hosts), links["dst"] == hosts["host"], "left_semi")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


def host_pagerank(
    pages: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    max_links_per_page: int = 100,
    cache_registry: list | None = None,
) -> DataFrame:
    """Integer-exact PageRank over the host link graph — the classic
    frontier-prioritization signal (Page et al. 1999; OPIC, Abiteboul
    et al. WWW'03 is the on-line crawl variant).  The reference ranks
    sources by a static priority column (src/database/models.py:38-58,
    scheduler ordering scheduler.py:516-524); this derives that
    priority from the corpus's own link structure instead.

    All arithmetic is scaled-integer so any engine replays it
    bit-exactly (the repo-wide oracle rule — no double sums):

        r_0(h)   = scale
        c(h->g)  = (r_k(h) * w) div out(h)          per edge, exact
        r_k+1(g) = (scale - scale*d//100)
                   + (d * sum_h c(h->g)) div 100    d = damping_pct

    Hosts with no out-edges simply don't redistribute (no dangling
    teleport term — spelled identically in the DuckDB oracle).  The
    fixed `iterations` unrolls into K tiny self-joins over the
    PERSISTED host-edge aggregate (Catalyst re-executes unreferenced
    identical subtrees — CLAUDE.md — so the O(hosts^2)-bounded edge
    table is cached; the O(n_pages) extraction runs once).

    Scale: rank iterations run on the host graph (~10^7 rows at
    100 TB), never on pages; each iteration is a broadcast join of the
    |hosts|-row rank vector against the persisted edges plus one
    groupBy(dst) on the host graph.  ``cache_registry`` collects the
    two persisted edge frames for the caller to release.
    """
    edges = _persist(host_link_edges(pages, max_links_per_page), cache_registry)
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("outw"))
    ew = _persist(edges.join(outw, "src"), cache_registry)
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    teleport = scale - (scale * damping_pct) // 100
    ranks = hosts.select("host", F.lit(scale).cast("bigint").alias("rank"))
    for _ in range(iterations):
        contrib = (
            ew.join(
                F.broadcast(ranks.withColumnRenamed("host", "src")), "src"
            )
            .select(
                F.col("dst").alias("host"),
                F.expr("(rank * w) div outw").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = hosts.join(contrib, "host", "left").select(
            "host",
            (
                F.lit(teleport)
                + F.expr(f"({damping_pct} * coalesce(s, 0)) div 100")
            ).cast("bigint").alias("rank"),
        )
    return ranks


#: anchor extraction — group 1 = href target, group 2 = anchor text.
#: Lazy quantifiers + explicit char classes only (Java and RE2 agree;
#: the feed patterns in functions/extract.py pin the same parity).
ANCHOR_PATTERN = (
    r"""(?is)<a\b[^>]*?\bhref[ \t\n\r\f\x0b]*=[ \t\n\r\f\x0b]*"""
    r"""["']([^"'>]+)["'][^>]*>([^<]*)</a>"""
)

#: frozen explicit ASCII whitespace (never \s — see CLAUDE.md).
_WS_CLASS = r"[ \t\n\r\f\x0b]+"


def anchor_text_stats(
    pages: DataFrame, top_k: int = 5
) -> DataFrame:
    """Per-target-host anchor-text rollup: the classic web-graph
    quality/title signal (anchor text describes the TARGET page —
    search engines and LLM-pipeline URL classifiers both consume it).

    Extraction is pure column expressions — ``regexp_extract_all`` of
    the same pattern for href (group 1) and text (group 2) gives two
    index-aligned arrays (one regex pass each), zipped and exploded;
    no UDF, no Python.  Absolute http(s) targets resolve to their own
    host, everything else (relative links) to the source host — a
    host-level approximation that keeps the whole operator
    SQL-replayable (full URL resolution lives in the frozen crawl
    contract, functions/extract.resolve_link).  Anchor text is
    whitespace-collapsed with the frozen ASCII class.

    Output: top-``top_k`` anchors per target host by (count desc,
    anchor) — (dst, anchor, cnt, rnk).  One corpus scan, one
    (dst, anchor) shuffle with map-side combine, and the rank window
    runs over the AGGREGATE (host-bounded), never corpus rows.
    """
    from pyspark.sql import Window

    h = F.col("html").cast("string")
    a = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("src"),
        F.arrays_zip(
            F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 1),
            F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 2),
        ).alias("za"),
    )
    e = a.select("src", F.explode("za").alias("z")).select(
        "src",
        F.col("z.0").alias("link"),
        F.trim(F.regexp_replace(F.col("z.1"), _WS_CLASS, " ")).alias("anchor"),
    )
    dst = F.when(
        F.col("link").rlike("^https?://"),
        F.regexp_extract("link", _HOST_RE, 1),
    ).otherwise(F.col("src"))
    agg = (
        e.select(dst.alias("dst"), "anchor")
        .where((F.col("anchor") != "") & (F.col("dst") != ""))
        .groupBy("dst", "anchor")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), "anchor")
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select("dst", "anchor", "cnt", F.col("rnk").cast("int").alias("rnk"))
    )


def host_hits(
    pages: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    max_links_per_page: int = 100,
    cache_registry: list | None = None,
) -> DataFrame:
    """Integer-exact HITS hubs & authorities over the host link graph
    (Kleinberg, JACM 1999) — PageRank's companion signal: authorities
    are pointed AT by good hubs (quality targets worth crawling), hubs
    point TO good authorities (directory/seed pages worth re-visiting).

    Same cross-engine arithmetic discipline as :func:`host_pagerank`
    (no double sums anywhere):

        h_0(x)  = scale
        a'_k(g) = sum over edges (h->g, w) of h_{k-1}(h) * w
        a_k(g)  = (a'_k(g) * scale) div max_g a'_k        (0 if no in-edges)
        h'_k(x) = sum over edges (x->g, w) of a_k(g) * w
        h_k(x)  = (h'_k(x) * scale) div max_x h'_k        (0 if no out-edges)

    max-normalization (instead of the classical L2 norm, whose sqrt
    diverges cross-engine in the last ulp) keeps every score in
    [0, scale] as exact integers; the div-by-max is the standard
    power-iteration rescale and preserves the ranking.  int64 bound:
    scale * max_host_in_weight * scale must stay < 2^63 — with
    scale=1e6 that allows ~9e6 weighted in-links per host per
    iteration, and the per-step rescale stops any compounding.

    Scale shape: identical to PageRank — the O(n_pages) extraction
    builds the persisted O(host-graph) edge aggregate once; each
    unrolled iteration is two broadcast joins of the |hosts|-row score
    vector into the edges plus two host-bounded groupBys; the
    normalizing max is a whole-frame window over the AGGREGATE (never
    corpus rows — the domain_mix lesson, PLANS.md).  ``cache_registry``
    collects the persisted edge aggregate for the caller to release.
    """
    from pyspark.sql import Window

    edges = _persist(host_link_edges(pages, max_links_per_page), cache_registry)
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    whole = Window.partitionBy()
    hub = hosts.select("host", F.lit(scale).cast("bigint").alias("hub"))

    def _step(vec: DataFrame, score: str, join_on: str, group_to: str) -> DataFrame:
        raw = (
            edges.join(
                F.broadcast(
                    vec.select(F.col("host").alias(join_on), F.col(score).alias("_s"))
                ),
                join_on,
            )
            .select(F.col(group_to).alias("host"), (F.col("_s") * F.col("w")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").cast("bigint").alias("raw"))
        )
        norm = raw.select(
            "host",
            F.expr(f"(raw * {scale}) div greatest(max(raw) over (), 1)")
            .cast("bigint")
            .alias(score),
        )
        return hosts.join(norm, "host", "left").select(
            "host", F.coalesce(score, F.lit(0).cast("bigint")).alias(score)
        )

    for _ in range(iterations):
        auth = _step(hub, "hub", "src", "dst").withColumnRenamed("hub", "auth")
        hub = _step(auth, "auth", "dst", "src").withColumnRenamed("auth", "hub")
    return (
        hosts.join(auth, "host", "left")
        .join(hub, "host", "left")
        .select(
            "host",
            F.coalesce("auth", F.lit(0)).cast("bigint").alias("auth"),
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub"),
        )
    )


def host_triangles(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """Per-host triangle counts over the undirected host link graph —
    the clustering/community signal PageRank and HITS don't see (a
    link farm has high rank but near-zero triangle closure; organic
    topic clusters are triangle-dense).

    Algorithm: DEGREE-ORDERED wedge counting (the MapReduce-triangles
    construction of Suri & Vassilvitskii, WWW'11).  Every edge is
    oriented from its lower-(degree, host)-rank endpoint to the
    higher; each triangle then has exactly one vertex with two
    out-edges (its minimum-rank vertex), so enumerating wedges from
    out-edge pairs and semi-joining the closing edge counts each
    triangle once — and the wedge count is bounded by sum(out-deg²)
    under degree orientation, O(m^1.5) worst case instead of the
    hub-degree² blowup a lexicographic orientation suffers on a
    power-law web graph (a 10⁶-degree hub would otherwise emit 10¹²
    wedges from one node).

    All joins are on the host-level relations (edges/degrees —
    O(host-graph), tiny next to the pages table); the degree dim
    broadcasts.  Output ``(host, n_triangles)`` for hosts in ≥1
    triangle.
    """
    e = host_link_edges(pages, max_links_per_page).select("src", "dst")
    return triangles_from_edges(e)


def triangles_from_edges(e: DataFrame) -> DataFrame:
    """Degree-ordered triangle counting over an undirected edge
    relation ``(src, dst)`` — the core of :func:`host_triangles`,
    exposed so tests and other graphs (near-dup pair graphs, entity
    co-occurrence) can drive it directly."""
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("host"))
        .unionAll(und.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("host").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("host").alias("b"), F.col("d").alias("db"))
    j = und.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
    )
    o1, o2 = o.alias("o1"), o.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s")) & (F.col("o1.t") < F.col("o2.t")),
    ).select(
        F.col("o1.s").alias("v1"),
        F.col("o1.t").alias("v2"),
        F.col("o2.t").alias("v3"),
    )
    closing = und.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tri = wedges.join(
        closing,
        (F.least("v2", "v3") == F.col("ca"))
        & (F.greatest("v2", "v3") == F.col("cb")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("v1", "v2", "v3")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def cocitation_jaccard(
    pages: DataFrame,
    max_links_per_page: int = 100,
    max_out: int = 20,
    min_inter: int = 2,
) -> DataFrame:
    """Host co-citation similarity: Jaccard of in-link source sets —
    two hosts are related when the same sources link both (Small 1973's
    co-citation, the SimRank-0 kernel); complements triangles (local
    clustering) and rank (global authority) as the third classic graph
    signal.

    Skew discipline: a directory host linking D others emits D² pairs
    from one source row, so sources with out-degree > ``max_out`` are
    DROPPED before pairing — the max_df stopword rule transplanted to
    graphs (a link-to-everything hub carries no similarity signal, just
    like 'the' carries no topical signal).  In-degrees are computed
    over the SAME filtered edge set so the Jaccard denominator is
    consistent.  Pair shuffle is keyed on the shared source; the
    per-pair rollup is the standard (a, b) aggregate.  Output
    ``(host_a, host_b, inter, da, db, jaccard)`` for pairs co-cited ≥
    ``min_inter`` times."""
    e = host_link_edges(pages, max_links_per_page).select("src", "dst")
    keep = e.groupBy("src").agg(F.count(F.lit(1)).alias("outd")).where(
        F.col("outd") <= max_out
    )
    e2 = e.join(F.broadcast(keep.select("src")), "src")
    deg = e2.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a = e2.select("src", F.col("dst").alias("ha"))
    b = e2.select("src", F.col("dst").alias("hb"))
    pairs = (
        a.join(b, "src")
        .where(F.col("ha") < F.col("hb"))
        .groupBy("ha", "hb")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .where(F.col("inter") >= min_inter)
    )
    da = deg.select(F.col("dst").alias("ha"), F.col("d").alias("da"))
    db = deg.select(F.col("dst").alias("hb"), F.col("d").alias("db"))
    j = pairs.join(F.broadcast(da), "ha").join(F.broadcast(db), "hb")
    jac = F.col("inter").cast("double") / (
        F.col("da") + F.col("db") - F.col("inter")
    )
    from newscrawler_spark.functions.rounding import pinned_round

    return j.select(
        F.col("ha").alias("host_a"),
        F.col("hb").alias("host_b"),
        "inter",
        "da",
        "db",
        pinned_round(jac, 4).alias("jaccard"),
    )


def degree_assortativity(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """IN-degree assortativity of the directed host graph (Newman
    2002): the Pearson correlation of endpoint in-degrees over directed
    edges — positive = popular hosts link popular hosts, negative =
    hubs link leaves (the web's signature).  One summary row.
    (In-degree, not total degree: a near-complete host graph is
    degree-REGULAR — total-degree variance 0, correlation undefined —
    while in-degrees always vary with link placement.)

    Exactness contract: every moment (Σx, Σy, Σxy, Σx², Σy², n) is an
    exact BIGINT over the edge list; only the final
    r = (nΣxy − ΣxΣy) / sqrt((nΣx²−(Σx)²)(nΣy²−(Σy)²)) runs in floats
    — two IEEE sqrt (correctly rounded by spec) and one division, the
    identical tree in the DuckDB twin, pinned to 4dp; zero variance on
    either margin yields NULL (regular graph), never a crash.  Cost:
    the in-degree dim broadcast onto the edge list, one 1-row
    aggregate."""
    from newscrawler_spark.functions.rounding import pinned_round

    e = host_link_edges(pages, max_links_per_page).select("src", "dst")
    ind = e.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    dx = ind.select(F.col("host").alias("src"), F.col("d").alias("x"))
    dy = ind.select(F.col("host").alias("dst"), F.col("d").alias("y"))
    j = (
        e.join(F.broadcast(dx), "src", "left")
        .join(F.broadcast(dy), "dst", "left")
        .select(
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        num.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return s.select(
        "n", "sx", "sxy", pinned_round(r, 4).alias("assortativity")
    )


def page_link_edges(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """Page-level undirected link edges from the raw pages table:
    distinct (a, b) pairs via the frozen extraction contract (same cap
    and canonicalization as host_link_edges), both endpoints existing
    pages, self-loops dropped, symmetrized.

    Scale shape: one mapInPandas extraction pass, one distinct over the
    (page, link) pairs, one semi-join against the page-URL universe —
    the universe side is corpus-sized so the semi-join SHUFFLES on the
    url key (never broadcast; at 10^10 pages a broadcast would be the
    bug), which is the same single equi-shuffle family the frontier's
    seen anti-join uses."""
    from ..functions.extract import EXTRACT_FIELDS, extract_map_in_pandas

    ext = pages.select("url", "html").mapInPandas(
        extract_map_in_pandas, schema=f"url string, html binary, {EXTRACT_FIELDS}"
    )
    links = (
        ext.select(
            F.col("url").alias("a"),
            F.explode(F.slice("out_links", 1, max_links_per_page)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    urls = pages.select(F.col("url").alias("u")).distinct()
    e = links.join(urls, links["b"] == urls["u"], "left_semi")
    return (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )


def host_label_propagation(
    pages: DataFrame,
    iterations: int = 4,
    max_links_per_page: int = 100,
    cache_registry: list | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) over the undirected weighted host graph — community
    detection for corpus curation (topical host clusters; the
    source-grouping signal the reference keys by hand-assigned
    category, src/database/models.py:38-58).

    LPA's classic nondeterminism (random vertex order, random
    tie-breaks) is replaced by an explicit frozen rule so the DuckDB
    oracle replays it decision-for-decision: synchronous rounds; each
    host's candidate votes = Σ edge-weight per neighbor label PLUS one
    self-vote for its current label (the damping that prevents the
    bipartite oscillation of pure synchronous LPA); new label = argmax
    votes, ties by lexicographic min label.  Isolated hosts keep their
    own label via the self-vote.  Fixed ``iterations`` unroll, same
    discipline as PageRank/HITS (the oracle replays the same unroll,
    so engines agree even before convergence).

    The self-vote is a static weight-1 self-loop per host, unioned
    once into the persisted undirected host-edge aggregate, so a round
    reads the previous round's labels exactly once: one broadcast join
    of the |hosts|-row label vector against the edges + one
    groupBy(host, label) + the argmax window.  The optimized plan grows
    linearly with ``iterations``; every round is O(host-graph), never
    O(pages), and the extraction pass runs once.  ``cache_registry``
    collects the persisted edge set for the caller to release.

    Returns (host, community, community_size)."""
    from pyspark.sql import Window

    edges = host_link_edges(pages, max_links_per_page)
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), "w")
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    self_loops = hosts.select(
        F.col("host").alias("a"), F.col("host").alias("b"), F.lit(1).cast("bigint").alias("w")
    )
    voters = _persist(und.unionByName(self_loops), cache_registry)
    labels = hosts.select("host", F.col("host").alias("label"))
    pick = Window.partitionBy("host").orderBy(F.desc("votes"), F.asc("label"))
    for _ in range(iterations):
        agg = (
            voters.join(F.broadcast(labels.withColumnRenamed("host", "b")), "b")
            .groupBy(F.col("a").alias("host"), "label")
            .agg(F.sum("w").cast("bigint").alias("votes"))
        )
        labels = (
            agg.withColumn("_rk", F.row_number().over(pick))
            .filter(F.col("_rk") == 1)
            .select("host", "label")
        )
    size_w = Window.partitionBy("community")
    return labels.select("host", F.col("label").alias("community")).withColumn(
        "community_size", F.count(F.lit(1)).over(size_w).cast("long")
    )


def host_seed_depth(
    pages: DataFrame,
    seeds: DataFrame,
    hops: int = 4,
    max_links_per_page: int = 100,
    cache_registry: list | None = None,
) -> DataFrame:
    """Shortest directed link-distance from the SEED hosts, capped at
    ``hops`` — the link-graph complement of the crawl's round-depth
    report (crawl_depth_report measures when the crawler REACHED a
    page; this measures how far a host sits from the seed set in the
    web's own topology, the canonical frontier-reachability signal for
    seed-list curation: a host deep in the BFS is under-served by the
    current seeds).

    Unrolled synchronous Bellman-Ford relaxation: d_0 = 0 on seed
    hosts (ALL seed rows, active or not — a deliberately broader
    universe than the crawl's active filter, spelled identically in
    the oracle), d_k(v) = min(d_{k-1}(v), 1 + min over in-neighbors).
    The cap is part of the SEMANTICS (reachability within ``hops``),
    so unlike k-core there is no convergence to witness — hosts beyond
    the cap are absent by definition.

    The host edges carry cost 1 and every host gets a cost-0
    self-loop, so d_k(v) = min over (edges ∪ loops) of
    d_{k-1}(u) + cost: each hop reads the previous distance vector
    exactly once — one broadcast join of the |reached-hosts|-row
    vector against the edges + loops + one groupBy(host) min.
    The optimized plan grows linearly with ``hops``; the extraction
    pass runs once.  ``cache_registry`` collects the persisted
    host-edge aggregate for the caller to release.

    Returns (host, depth) for hosts reached within ``hops``."""
    edges = _persist(host_link_edges(pages, max_links_per_page), cache_registry)
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    # the loops stay lazy: their host scan is the one the seed filter
    # below runs, and the plan reuses that exchange
    hop_edges = edges.select("src", "dst", F.lit(1).cast("long").alias("cost")).unionByName(
        hosts.select(
            F.col("host").alias("src"),
            F.col("host").alias("dst"),
            F.lit(0).cast("long").alias("cost"),
        )
    )
    dist = (
        seeds.select(F.col("domain").alias("host"))
        .distinct()
        .join(hosts, "host", "left_semi")
        .select("host", F.lit(0).cast("long").alias("depth"))
    )
    for _ in range(hops):
        dist = (
            hop_edges.join(F.broadcast(dist.withColumnRenamed("host", "src")), "src")
            .groupBy(F.col("dst").alias("host"))
            .agg(F.min(F.col("depth") + F.col("cost")).cast("long").alias("depth"))
        )
    return dist


def kcore_from_edges(
    und: DataFrame,
    k: int = 4,
    iterations: int = 6,
    verify_convergence: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """k-core peel over a symmetrized distinct (a, b) edge set — the
    unrolled loop shared by :func:`page_kcore` and the synthetic-graph
    tests.  See page_kcore for semantics.

    The peel runs on the EDGE set, lazily: an edge survives a round
    while both endpoint degrees are ≥ ``k``, the two degrees coming
    from count windows partitioned by ``a`` and by ``b`` (the edge set
    is symmetric, so the count over ``b`` is b's degree).  Each round
    reads the previous edge set once and the optimized plan grows
    linearly with ``iterations``; building the frame runs no job.  The
    last round is fused with the final per-vertex aggregate: its rows
    are the core members (degree ≥ k in the previous round), each with
    ``core_degree`` = the count of its surviving edges.

    ``verify_convergence`` reads that aggregate once (the one eager
    action, persisted for the result): the members whose core degree is
    below ``k`` are exactly what one more peel would remove, so any
    such member raises.  Peeling depth grows with graph structure: a
    fixed unroll that was fixpoint-deep on the test corpus can
    silently return a SUPERSET of the true core at 100× (under-peeling
    admits link-farm chains), so non-convergence raises loudly instead
    of shipping a wrong cut.  ``cache_registry`` collects that
    persisted aggregate for the caller to release."""
    from pyspark.sql import Window

    by_a, by_b = Window.partitionBy("a"), Window.partitionBy("b")

    def _with_degrees(e: DataFrame) -> DataFrame:
        return e.withColumn("_da", F.count(F.lit(1)).over(by_a)).withColumn(
            "_db", F.count(F.lit(1)).over(by_b)
        )

    e = und.select("a", "b")
    for _ in range(iterations - 1):
        e = _with_degrees(e).where((F.col("_da") >= k) & (F.col("_db") >= k)).select("a", "b")
    # iterations=0 peels nothing: every vertex is a member, every edge survives
    cut = k if iterations > 0 else 0
    members = (
        _with_degrees(e)
        .where(F.col("_da") >= cut)
        .groupBy("a")
        .agg(F.count(F.when(F.col("_db") >= cut, 1)).cast("long").alias("core_degree"))
    )
    if verify_convergence:
        members = _persist(members, cache_registry)
        n_before, delta = members.agg(
            F.count(F.lit(1)), F.count(F.when(F.col("core_degree") < k, 1))
        ).first()
        if n_before > 0 and delta != 0:
            raise RuntimeError(
                f"k-core peel not converged after {iterations} unrolled "
                f"rounds (one more peel removed {delta} of {n_before} "
                f"vertices) — raise `iterations` for this graph"
            )
    return (
        members.where(F.col("core_degree") > 0)
        .select(F.col("a").alias("url"), "core_degree")
        .orderBy("url")
    )


def page_kcore(
    pages: DataFrame,
    k: int = 4,
    iterations: int = 6,
    max_links_per_page: int = 100,
    verify_convergence: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """k-core decomposition of the page link graph (Seidman 1983) —
    the graph-curation cut that keeps pages embedded in a densely
    interlinked neighborhood (link-farm/orphan filtering: a page whose
    neighborhood collapses under peeling carries little endorsement).

    ``iterations`` UNROLLED peel rounds: drop vertices with fewer than
    ``k`` surviving neighbors, repeat.  Peeling is monotone, so round
    i+1's core ⊆ round i's; on bounded-cascade graphs a small fixed
    unroll reaches the fixpoint, and ``verify_convergence`` (default
    on) PROVES it per run from the final aggregate, raising loudly on
    under-peel instead of returning a superset core (see
    kcore_from_edges).  The DuckDB oracle replays the SAME fixed
    unroll, so the two engines agree by construction even before the
    fixpoint.  Each round is two count windows (partitioned by either
    endpoint) and a filter over the surviving undirected edge set —
    one lazy chain whose plan grows linearly with ``iterations``;
    shuffle cost is rounds × two edge-keyed exchanges, never
    vertex-quadratic, and the witness is the only eager action.

    Returns (url, core_degree) for core members — degree counted
    within the final core."""
    return kcore_from_edges(
        page_link_edges(pages, max_links_per_page),
        k=k,
        iterations=iterations,
        verify_convergence=verify_convergence,
        cache_registry=cache_registry,
    )
