"""Web-corpus audits: URL extraction and per-domain statistics.

Extension beyond gpd_lite_toolbox (LLM-pipeline family): web-scraped
training corpora are filtered and weighted by source domain, which
needs (a) URL extraction from raw text and (b) a domain frequency
table. Both are native expressions — extraction is a zero-shuffle
regexp projection, the domain rollup is one partial-aggregated
exchange — and the URL regex sticks to the Java/RE2 intersection so
the DuckDB oracle (oracles.URL_STATS) shares it verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import scoped_release, tracked_persist

URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/%-]*)?"
DOMAIN_PATTERN = r"https?://([^/]+)"


def extract_urls(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """One row per URL occurrence: ``(id, url, domain)``. Documents
    without URLs emit nothing (explode of an empty match array)."""
    urls = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(URL_PATTERN), F.lit(0)
            )
        ).alias("url"),
    )
    return urls.withColumn(
        "domain", F.regexp_extract("url", DOMAIN_PATTERN, 1)
    )


# HTML stripping patterns, all in the Java/RE2 intersection (inline
# (?is) flags, lazy quantifiers, NO backreferences — RE2 has none, so
# script and style blocks get separate patterns instead of <(\w+)>..</\1>)
HTML_SCRIPT_PATTERN = r"(?is)<script[^>]*>.*?</script>"
HTML_STYLE_PATTERN = r"(?is)<style[^>]*>.*?</style>"
HTML_TAG_PATTERN = r"(?s)<[^>]*>"
# entity -> replacement, applied in order ("&amp;" LAST so freshly
# produced '&' never re-combines with following text into an entity)
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_to_text_expr(text: "F.Column") -> "F.Column":
    """Boilerplate-free text from raw HTML as ONE column expression:
    script/style blocks dropped, tags replaced by spaces (so adjacent
    elements don't fuse into one token), the six common entities
    decoded, whitespace runs collapsed, trimmed. The trafilatura-shape
    step of a crawl pipeline reduced to its regex core — zero-shuffle,
    streaming-legal, and the DuckDB oracle shares every pattern
    verbatim."""
    t = F.regexp_replace(text, HTML_SCRIPT_PATTERN, " ")
    t = F.regexp_replace(t, HTML_STYLE_PATTERN, " ")
    t = F.regexp_replace(t, HTML_TAG_PATTERN, " ")
    for ent, repl in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(repl))
    return F.trim(F.regexp_replace(t, r"[ \t\r\n]+", " "))


def extract_html_text(
    corpus: DataFrame, id_col: str = "id", text_col: str = "html"
) -> DataFrame:
    """(id, text, n_chars): the extracted plain text per document."""
    clean = html_to_text_expr(F.col(text_col))
    return corpus.select(
        F.col(id_col).alias("id"),
        clean.alias("text"),
        F.length(clean).alias("n_chars"),
    )


def url_stats(
    corpus: DataFrame, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Per-domain rollup ``(domain, n_urls, n_docs)`` — total URL
    occurrences and distinct documents linking the domain."""
    return (
        extract_urls(corpus, id_col=id_col, text_col=text_col)
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("id").alias("n_docs"),
        )
    )


# Anchor/resource link extraction from raw HTML. Both patterns sit in
# the Java/RE2 intersection (inline (?i), negated char class, NO
# backreference — the two quote styles are separate patterns instead
# of a (["'])...\1 backreference, which RE2 cannot run) so the DuckDB
# oracle shares them verbatim.
HREF_DQ_PATTERN = r'(?i)href="([^"]*)"'
HREF_SQ_PATTERN = r"(?i)href='([^']*)'"
# scheme test + host extraction for EXTRACTED hrefs: case-insensitive
# (markup authors uppercase schemes too) and only meaningful when
# anchored — an embedded absolute URL inside a relative link
# ('/redirect?to=https://x') must NOT donate its host.
_ABS_LINK = r"(?i)^https?://"
_ABS_DOMAIN = r"(?i)^https?://([^/]+)"


def _exploded_links(
    html_corpus: DataFrame, html_col: str, carry: list
) -> DataFrame:
    """One row per href occurrence with the ``carry`` columns kept:
    both quote-style patterns, exploded from a single projection."""
    return html_corpus.select(
        *carry,
        F.explode(
            F.concat(
                F.regexp_extract_all(
                    F.col(html_col), F.lit(HREF_DQ_PATTERN), F.lit(1)
                ),
                F.regexp_extract_all(
                    F.col(html_col), F.lit(HREF_SQ_PATTERN), F.lit(1)
                ),
            )
        ).alias("link"),
    )


def extract_links(
    html_corpus: DataFrame, id_col: str = "id", html_col: str = "html"
) -> DataFrame:
    """One row per anchor link occurrence: ``(id, link, domain)`` —
    ``domain`` is the lowercased host for absolute http(s) links
    (anchored, case-insensitive scheme) and the empty string for
    relative ones. Zero-shuffle regexp projection; documents without
    links emit nothing (explode of an empty concat)."""
    links = _exploded_links(
        html_corpus, html_col, [F.col(id_col).alias("id")]
    )
    return links.withColumn(
        "domain",
        F.lower(F.regexp_extract("link", _ABS_DOMAIN, 1)),
    )


def link_graph(
    html_corpus: DataFrame,
    id_col: str = "id",
    html_col: str = "html",
    source_col: str = "source",
) -> DataFrame:
    """Source -> target-domain edge list with link counts — the
    crawl-frontier / domain-weighting report built on `extract_links`.
    Relative links aggregate under target_domain='(relative)';
    absolute-link hosts are lowercased (DNS is case-insensitive).

    Scale shape: extraction is map-side; the only exchange is the
    edge aggregate keyed by (source, target_domain) — partial combine
    caps it at |sources| x |domains| rows per partition, so a hot
    domain (every crawl has one) never concentrates raw link rows.
    """
    links = _exploded_links(
        html_corpus, html_col, [F.col(source_col).alias("source")]
    )
    target = F.when(
        F.col("link").rlike(_ABS_LINK),
        F.lower(F.regexp_extract("link", _ABS_DOMAIN, 1)),
    ).otherwise(F.lit("(relative)"))
    return (
        links.select("source", target.alias("target_domain"))
        .groupBy("source", "target_domain")
        .agg(F.count("*").alias("n_links"))
    )


def canonical_url_expr(url: "F.Column") -> "F.Column":
    """Canonical form of an http(s) URL for URL-level dedup (the
    Common-Crawl-style pass that collapses surface variants of one
    page BEFORE any content hashing): lowercase scheme and host, strip
    the fragment, strip the scheme's default port (:80 / :443), drop a
    trailing empty query, and give bare-authority URLs the '/' path.
    Deliberately NOT done (lossy at web scale): stripping 'www.',
    sorting query parameters, or percent-decoding — those collapse
    URLs that may serve different content.

    URLs with no scheme://authority prefix (relative paths,
    protocol-relative //host forms, garbage) pass through UNCHANGED —
    canonicalizing them would collapse every such string onto one
    ':///' key and url_dedup would silently merge unrelated rows.

    Pure native regex chain (anchored patterns, so Spark's
    replace-all and DuckDB's replace-first agree); zero shuffle."""
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    nofrag = F.regexp_replace(url, r"#.*$", "")
    hostport = F.lower(
        F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = (
        F.when(
            scheme == F.lit("http"), F.regexp_replace(hostport, r":80$", "")
        )
        .when(
            scheme == F.lit("https"),
            F.regexp_replace(hostport, r":443$", ""),
        )
        .otherwise(hostport)
    )
    rest = F.regexp_extract(
        nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1
    )
    rest = F.regexp_replace(rest, r"\?$", "")
    rest = (
        F.when(rest == F.lit(""), F.lit("/"))
        .when(rest.startswith("?"), F.concat(F.lit("/"), rest))
        .otherwise(rest)
    )
    return F.when(scheme == F.lit(""), url).otherwise(
        F.concat(scheme, F.lit("://"), host, rest)
    )


def url_dedup(
    df: DataFrame, id_col: str = "id", url_col: str = "url"
) -> DataFrame:
    """URL-level dedup report: one row per canonical URL with the
    kept (min-id) document and the surface-variant count. ONE
    combinable hash exchange keyed by the canonical string — min and
    count partial-aggregate map-side, so a hot URL (every crawl has
    one) is a single post-combine row per partition at any scale."""
    d = df.select(
        F.col(id_col).alias("id"),
        canonical_url_expr(F.col(url_col)).alias("canonical_url"),
    )
    return d.groupBy("canonical_url").agg(
        F.min("id").alias("keep_id"),
        F.count("*").alias("n_variants"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted PageRank over a domain/link graph for a FIXED number
    of power iterations — the crawl-curation ranker (Common-Crawl
    publishes exactly this artifact per crawl: a domain-level rank
    table driving frontier priority and per-domain quality weights).
    A fixed ``iters`` keeps the result deterministic and
    oracle-replayable (the DuckDB gate unrolls the same iterations);
    rank mass is conserved every step (dangling mass redistributed
    uniformly), so sum(rank) == 1 is a standing invariant.

    Returns ``(node, rank)`` — rank unrounded; gate queries round.

    Scale shape (this is the one operator here that is iterative):

    - edges pre-aggregate to ``(src, dst, w)`` — partial combine
      caps a hot domain pair at one row per partition;
    - out-weight totals are one more combinable aggregate; the
      transition fraction ``w / w_out(src)`` is computed ONCE and the
      edge table with fractions persisted — every iteration reuses the
      same shuffle-ready table rather than re-deriving it;
    - each iteration is one join (ranks is |nodes|-sized — AQE
      broadcasts it under the threshold, shuffled-hash above; the
      EDGE side never re-shuffles when bucketed/pre-partitioned by
      src) plus one partial-combined aggregate keyed by dst;
    - the dangling-mass term is a ONE-ROW aggregate crossJoin'd back
      (broadcast), never a driver collect;
    - ranks are ``localCheckpoint``-ed each round: 5 iterations of
      join+agg otherwise compound into one mega-plan whose
      re-analysis dominates (same discipline as dup_groups' label
      propagation, the GraphFrames/GraphX pattern).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            w.alias("_w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("_w").alias("_w"))
    )
    # ranks are checkpointed: nothing returned reads nodes or trans
    with scoped_release():
        nodes = tracked_persist(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        outw = e.groupBy("src").agg(F.sum("_w").alias("_wout"))
        trans = tracked_persist(
            e.join(outw, "src").select(
                "src", "dst", (F.col("_w") / F.col("_wout")).alias("frac")
            )
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            return nodes.select(
                "node", F.lit(None).cast("double").alias("rank")
            )
        ranks = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("rank")
        ).localCheckpoint()
        # dangling test rides the PERSISTED transition table (its distinct
        # src set), not outw — outw's lineage re-runs the edge aggregation
        # per iteration
        has_out = trans.select(F.col("src").alias("node")).distinct()
        for _ in range(iters):
            contrib = (
                trans.join(ranks, trans["src"] == ranks["node"])
                .select("dst", (F.col("frac") * F.col("rank")).alias("_c"))
                .groupBy("dst")
                .agg(F.sum("_c").alias("_contrib"))
            )
            dangling = (
                ranks.join(has_out, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling"))
            )
            ranks = (
                nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n_nodes)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("_contrib"), F.lit(0.0))
                            + F.col("_dangling") / F.lit(float(n_nodes))
                        )
                    ).alias("rank"),
                )
                .localCheckpoint()
            )
    return ranks


# Full-anchor patterns: href + the anchor's inner text in one match,
# so the two regexp_extract_all calls (group 1 = href, group 2 = text)
# produce POSITIONALLY ALIGNED arrays from the same scan. RE2-safe (no
# backreferences), one per quote style like HREF_*_PATTERN above.
ANCHOR_DQ_PATTERN = r'(?i)<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
ANCHOR_SQ_PATTERN = r"(?i)<a\s[^>]*href='([^']*)'[^>]*>([^<]*)</a>"


def anchor_stats(
    html_corpus: DataFrame, html_col: str = "html"
) -> DataFrame:
    """Anchor-text profile per target domain: how the web DESCRIBES
    each domain — the classic relevance/quality signal (anchor text is
    a human-written label for the target, used from early web search
    through modern quality classifiers). Relative links aggregate
    under ``(relative)``, the ``link_graph`` convention.

    Columns: ``(domain, n_anchors, n_distinct_texts, top_text,
    top_text_n)`` — ``top_text`` is the most frequent trimmed anchor
    text for the domain (ties break to the lexicographically smallest
    text).

    Scale shape: extraction is map-side (two aligned extract_all
    arrays zipped then exploded); the (domain, text) aggregate
    partial-combines, so a hot domain concentrates at most
    |distinct texts| rows per task, never raw anchor rows; the
    argmax window runs over the aggregated table with map-local
    top-1 (WindowGroupLimit), and the per-domain rollup reuses the
    same aggregated input.
    """
    h = F.col(html_col)
    pairs = F.concat(
        F.arrays_zip(
            F.regexp_extract_all(h, F.lit(ANCHOR_DQ_PATTERN), F.lit(1)).alias("l"),
            F.regexp_extract_all(h, F.lit(ANCHOR_DQ_PATTERN), F.lit(2)).alias("t"),
        ),
        F.arrays_zip(
            F.regexp_extract_all(h, F.lit(ANCHOR_SQ_PATTERN), F.lit(1)).alias("l"),
            F.regexp_extract_all(h, F.lit(ANCHOR_SQ_PATTERN), F.lit(2)).alias("t"),
        ),
    )
    exploded = html_corpus.select(F.explode(pairs).alias("p")).select(
        F.col("p.l").alias("link"), F.trim(F.col("p.t")).alias("text")
    )
    domain = F.when(
        F.col("link").rlike(_ABS_LINK),
        F.lower(F.regexp_extract("link", _ABS_DOMAIN, 1)),
    ).otherwise(F.lit("(relative)"))
    per_text = (
        exploded.select(domain.alias("domain"), "text")
        .groupBy("domain", "text")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("n").desc(), F.col("text")
    )
    top = (
        per_text.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "domain",
            F.col("text").alias("top_text"),
            F.col("n").alias("top_text_n"),
        )
    )
    roll = per_text.groupBy("domain").agg(
        F.sum("n").alias("n_anchors"),
        F.count("*").alias("n_distinct_texts"),
    )
    return roll.join(top, "domain").select(
        "domain", "n_anchors", "n_distinct_texts", "top_text", "top_text_n"
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a link graph
    for a FIXED number of power iterations — the companion ranker to
    ``pagerank`` for crawl curation: authorities are the pages worth
    fetching, hubs the listing pages worth re-crawling for frontier
    expansion. Scores are L1-normalized each half-step (sum to 1,
    mirroring pagerank's mass convention), parallel edges collapse
    (HITS is defined on the unweighted adjacency), and a fixed
    ``iters`` keeps the result deterministic and oracle-replayable
    (the DuckDB gate unrolls the same iterations).

    Returns ``(node, auth, hub)`` — unrounded; gate queries round.

    Scale shape follows ``pagerank`` exactly: the distinct edge table
    is persisted and reused every iteration; each half-step is one
    join (the score frame is |nodes|-sized — AQE broadcasts it) plus
    one partial-combined aggregate; the norm is a ONE-ROW aggregate
    crossJoin'd back (broadcast); scores are ``localCheckpoint``-ed
    per iteration so the plan never compounds.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    # nothing returned reads e or nodes: both score frames are
    # checkpointed and hold every node once
    with scoped_release():
        e = tracked_persist(
            edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            ).distinct()
        )
        nodes = tracked_persist(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            return nodes.select(
                "node",
                F.lit(None).cast("double").alias("auth"),
                F.lit(None).cast("double").alias("hub"),
            )

        def _half(score: DataFrame, join_on: str, out_key: str) -> DataFrame:
            """One half-step: raw = adjacency-sum of the other score over
            ``join_on`` grouped by ``out_key``, then L1 normalize."""
            raw = (
                e.join(score, e[join_on] == score["node"])
                .groupBy(out_key)
                .agg(F.sum("s").alias("_r"))
            )
            full = nodes.join(
                raw, nodes["node"] == raw[out_key], "left"
            ).select("node", F.coalesce(F.col("_r"), F.lit(0.0)).alias("_r"))
            norm = full.agg(F.sum("_r").alias("_n"))
            return (
                full.crossJoin(F.broadcast(norm))
                .select("node", (F.col("_r") / F.col("_n")).alias("s"))
                .localCheckpoint()
            )

        hub = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("s")
        ).localCheckpoint()
        auth = hub
        for _ in range(iters):
            # auth(v) <- sum of hub over in-edges (u, v), normalized
            auth = _half(hub, "src", "dst")
            # hub(u) <- sum of auth over out-edges (u, v), normalized
            hub = _half(auth, "dst", "src")
    return (
        auth.withColumnRenamed("s", "auth")
        .join(hub.withColumnRenamed("s", "hub"), "node")
        .select("node", "auth", "hub")
    )
