"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship fuzzy-match query over sf0.001.
- ``queries()``: one callable per implemented operator (SURVEY.md §2 +
  the training-data pipeline ops).
- ``oracle_sql()``: DuckDB-equivalent SQL for every SQL-expressible query;
  fuzzy-pipeline and xxhash-based ops are rows-only checked.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# corpus-derived phrase models (documents.parquet is deterministic word-salad
# over an OLAP vocabulary; these phrases genuinely occur and OCR-style typos
# of them are exercised through the fuzzy pipeline)
# ---------------------------------------------------------------------------

FUZZY_MODEL = [
    {"phrase": "window table", "label": "win"},
    {"phrase": "customer query", "label": "cust"},
    {"phrase": "stream filter"},
    {"phrase": "merge batch"},
    {"phrase": "vector"},
]
FUZZY_CONFIG = {
    "char_match_threshold": 0.6,
    "ngram_threshold": 0.5,
    "levenshtein_threshold": 0.6,
    "max_length_variance": 3,
}

EXACT_PHRASES = ["window table", "customer query", "stream filter",
                 "merge batch", "vector", "spark"]
EXACT_CONFIG = {
    "use_word_boundaries": False,
    "char_match_threshold": 1.0,
    "ngram_threshold": 1.0,
    "levenshtein_threshold": 1.0,
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread over all cores: the sf parquet is one tiny file
    (one input split), which would serialize the Python-UDF match stage."""
    return _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# every driver sf dir carries 64-dim embeddings; passing the known dim
# avoids eager one-row .head() probes at plan-construction time
EMB_DIM = 64


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _fuzzy_model():
    from fuzzy_search_spark.model import compile_model

    return compile_model(FUZZY_MODEL, FUZZY_CONFIG)


def _exact_model():
    from fuzzy_search_spark.model import compile_model

    return compile_model(EXACT_PHRASES, EXACT_CONFIG)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full fuzzy phrase extraction over the documents table."""
    from fuzzy_search_spark.spark.job import match_documents

    docs = _docs_parallel(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    out = match_documents(docs, _fuzzy_model())
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "phrase", "variant", "string", "offset", "end",
        "char_match", "ngram_match", "levenshtein_similarity",
    ).orderBy("doc_id", "offset", "end", "phrase")


def q_token_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level fuzzy matching (the reference's FuzzyTokenSearcher)."""
    from fuzzy_search_spark.spark.job import match_documents_tokens
    from fuzzy_search_spark.token_matcher import compile_token_model

    tmodel = compile_token_model(FUZZY_MODEL, FUZZY_CONFIG)
    docs = _docs_parallel(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    out = match_documents_tokens(docs, tmodel)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "phrase", "variant", "string", "offset", "end",
        "levenshtein_similarity",
    ).orderBy("doc_id", "offset", "end", "phrase")


def q_context_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matches with ±40-char context windows attached Spark-natively
    (substring arithmetic after a join back to documents — no UDF)."""
    from fuzzy_search_spark.context import attach_context_columns
    from fuzzy_search_spark.spark.job import match_documents

    docs = _docs_parallel(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    matches = match_documents(docs, _fuzzy_model())
    out = attach_context_columns(matches, docs, context_size=40)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "phrase", "offset", "end", "prefix", "context", "suffix",
    ).orderBy("doc_id", "offset", "end", "phrase")


def q_template_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document template matching (ordered label groups) over the
    fuzzy match table via groupBy(url).applyInPandas."""
    from fuzzy_search_spark.spark.job import match_documents
    from fuzzy_search_spark.template import match_templates, parse_template

    docs = _docs_parallel(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    matches = match_documents(docs, _fuzzy_model())
    template = parse_template(["win", "cust"],
                              known_labels={"win", "cust"})
    out = match_templates(matches, template)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "template_index", "start", "end", "n_matches",
        "first_offset", "last_end",
        F.concat_ws("|", "labels").alias("labels_joined"),
    ).orderBy("doc_id", "template_index")


def q_exact_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring phrase occurrence counts (engine exact-match path,
    cross-checked against a pure-SQL substring counter)."""
    from fuzzy_search_spark.spark.job import match_documents

    docs = _docs_parallel(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    out = match_documents(docs, _exact_model())
    return (
        out.groupBy(F.col("url").cast("bigint").alias("doc_id"), "phrase")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("doc_id", "phrase")
    )


def q_match_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3C Web-Annotation sink (sinks.py:44, reference phrase_match.py:
    239-297) exercised end-to-end over deterministic exact matches: the
    first occurrence of each exact phrase per document, serialized via
    to_json(struct(...)) — byte-comparable against DuckDB's to_json."""
    from fuzzy_search_spark.sinks import to_web_annotations
    from fuzzy_search_spark.spark.job import match_documents

    docs = _docs_parallel(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    out = match_documents(docs, _exact_model())
    first = (
        out.groupBy("url", "phrase").agg(F.min("offset").alias("offset"))
        .withColumn("end", F.col("offset") + F.length("phrase"))
        .withColumn("string", F.col("phrase"))
    )
    anno = to_web_annotations(first)
    return (
        anno.select(F.col("url").cast("bigint").alias("doc_id"),
                    "offset", "annotation")
        .orderBy("doc_id", "offset", "annotation")
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.textstats import token_stats

    return token_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir)).orderBy("doc_id")


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.textstats import language_id

    return language_id(_docs(spark, sf_dir)).orderBy("doc_id")


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 A1.1): word-level features,
    per-rule booleans, composite keep.  Pure projection; regexes in the
    Java/RE2 common subset so DuckDB runs the same patterns."""
    from fuzzy_search_spark.pipeline.textstats import gopher_quality

    return gopher_quality(_docs(spark, sf_dir)).orderBy("doc_id")


def q_host_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-level quality gate over the Gopher per-document filter
    (CCNet/RefinedWeb-style): per-host doc + kept counts and an
    integer-exact keep-rate flag (kept*2 >= docs), joined back per
    document.  Hosts parse from the deterministic page URLs."""
    from fuzzy_search_spark.pipeline.textstats import (gopher_quality,
                                                       host_quality_rollup)

    gq = gopher_quality(_docs(spark, sf_dir)).select("doc_id", "keep")
    host = F.lower(F.regexp_extract(
        _page_url(F.col("doc_id")), r"^https?://([^/:]+)", 1))
    return (host_quality_rollup(gq.withColumn("host", host))
            .orderBy("doc_id"))


#: deterministic UT1-style blocklist for the admission query: exercises
#: exact-host, parent-domain-suffix and subdomain-entry matches.
URL_BLOCKLIST = ["host3.com", "sub1.host5.com", "host7.com"]


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL blocklist admission (UT1/CCNet/FineWeb URL-filter stage):
    domain-suffix blocking via the explode-suffix-chain hash join (never
    a LIKE-any nested-loop).  Pages get multi-label hosts
    sub{d%3}.host{d%10}.com so parent-suffix matching is exercised."""
    from fuzzy_search_spark.pipeline.urls import blocklist_admission

    doc = F.col("doc_id")
    url = F.concat(F.lit("https://sub"), (doc % 3).cast("string"),
                   F.lit(".host"), (doc % 10).cast("string"),
                   F.lit(".com/p/"), doc.cast("string"))
    pages = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return blocklist_admission(pages, URL_BLOCKLIST).orderBy("doc_id")


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 section 2.2):
    line-level terminal-punctuation / 5-word / javascript gates + the
    page-level sentence-count, lorem-ipsum and curly-brace drops."""
    from fuzzy_search_spark.pipeline.textstats import c4_filters

    return c4_filters(_docs(spark, sf_dir)).orderBy("doc_id")


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.textstats import fingerprints

    return fingerprints(_docs(spark, sf_dir)).orderBy("doc_id")


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-token spans (substring-level dedup /
    boilerplate detection — the Lee-et-al-style primitive document-level
    MinHash misses)."""
    from fuzzy_search_spark.pipeline.textstats import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), k=5).orderBy("span_hash")


def q_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional ExactSubstr view: maximal per-document token ranges
    covered by 5-token windows duplicated across >= 2 documents."""
    from fuzzy_search_spark.pipeline.textstats import cross_doc_spans

    return (cross_doc_spans(_docs(spark, sf_dir), k=5)
            .orderBy("doc_id", "tok_start"))


def q_strip_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal pass: cut tokens covered by cross-doc
    duplicated 5-token windows out of every document."""
    from fuzzy_search_spark.pipeline.textstats import strip_cross_doc_spans

    return (strip_cross_doc_spans(_docs(spark, sf_dir), k=5)
            .orderBy("doc_id"))


def q_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of 5-token spans that repeat across documents."""
    from fuzzy_search_spark.pipeline.textstats import boilerplate_ratio

    return boilerplate_ratio(_docs(spark, sf_dir), k=5).orderBy("doc_id")


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: top-2/3-gram occupancy and
    duplicated-5/10-gram fraction per document."""
    from fuzzy_search_spark.pipeline.textstats import repetition_signals

    return repetition_signals(_docs(spark, sf_dir)).orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 5-token
    span with the held-out benchmark slice (doc_id % 97 == 0)."""
    from fuzzy_search_spark.pipeline.textstats import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, k=5).orderBy("doc_id")


def _augmented_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic synthetic PII appended (the testdata
    word-salad contains none, which would make the oracle a 0==0 check);
    the DuckDB oracle builds the identical string."""
    d = F.col("doc_id").cast("string")
    return _docs(spark, sf_dir).withColumn("text", F.concat(
        F.col("text"),
        F.lit(" contact user"), d, F.lit("@example.com"),
        F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
        F.lit(" tel +31 20 "),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" 9"),
    ))


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counts + redacted text over deterministically PII-augmented
    documents (email / IPv4 / intl phone)."""
    from fuzzy_search_spark.pipeline.pii import pii_scan

    return pii_scan(_augmented_pii_docs(spark, sf_dir)).orderBy("doc_id")


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup groups over deterministically synthesized surface
    URLs (case, default-port, trailing-slash, fragment and query-string
    variants of ~40 canonical pages); the oracle builds identical URLs."""
    from fuzzy_search_spark.pipeline.urls import url_dup_groups

    doc = F.col("doc_id")
    url = F.concat(
        F.when(doc % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(doc % 4 < 2, F.lit("WWW.Example.COM"))
        .otherwise(F.lit("www.example.com")),
        F.when(doc % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/site/"), (doc % 40).cast("string"),
        F.when(doc % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(doc % 11 == 0, F.lit("?q=1")).otherwise(F.lit("")),
        F.when(doc % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    pages = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return url_dup_groups(pages).orderBy("canonical_url")


def _page_url(doc: F.Column) -> F.Column:
    """Deterministic source-page URL for the link-graph queries."""
    return F.concat(F.lit("https://host"), (doc % 10).cast("string"),
                    F.lit(".com/p/"), doc.cast("string"))


def _page_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents wrapped in deterministic HTML with 1-3 outlinks (mixed
    case, default port, trailing slash, fragment, relative and empty-
    anchor variants); the oracle concatenates byte-identical markup."""
    doc = F.col("doc_id")
    href1 = F.concat(
        F.when(doc % 2 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://Host"), (doc % 7).cast("string"),
        F.when(doc % 4 < 2, F.lit(".COM")).otherwise(F.lit(".com")),
        F.when(doc % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/page/"), (doc % 50).cast("string"),
        F.when(doc % 5 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    link2 = F.when(doc % 3 == 0, F.concat(
        F.lit('<a id="n" href="/rel/'), (doc % 4).cast("string"),
        F.lit('">nav</a>'))).otherwise(F.lit(""))
    link3 = F.when(doc % 4 == 0, F.lit(
        '<a href="https://cdn.example.net/asset#frag"><img/></a>')) \
        .otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"),
        F.lit('</p><a class="x" href="'), href1, F.lit('">anchor '),
        (doc % 13).cast("string"), F.lit("</a>"), link2, link3,
        F.lit("</body></html>"))
    return _docs(spark, sf_dir).select(
        "doc_id", _page_url(doc).alias("url"), html.alias("html"))


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction: per-page (href, anchor, canonical target) from
    raw HTML — one JVM regex pass, zipped positionally, no Python."""
    from fuzzy_search_spark.pipeline.weblinks import extract_links

    return (extract_links(_page_html(spark, sf_dir))
            .orderBy("doc_id", "link_pos"))


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph: (src_host, dst_host) edges with link and
    distinct-source-page counts; relative hrefs resolve to the source
    host."""
    from fuzzy_search_spark.pipeline.weblinks import domain_link_graph

    return (domain_link_graph(_page_html(spark, sf_dir))
            .orderBy("src_host", "dst_host"))


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted 3-iteration PageRank over the host link graph (fixed
    iteration count + per-iteration 10-dp rounding => cross-engine
    bit-reproducible; the oracle chains one CTE per iteration)."""
    from fuzzy_search_spark.pipeline.weblinks import (domain_link_graph,
                                                     pagerank)

    g = domain_link_graph(_page_html(spark, sf_dir))
    pr = pagerank(g, iterations=3)
    return (pr.select("node", F.round("rank", 6).alias("rank"))
            .orderBy("node"))


def q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per canonical link target: mention totals
    and the most frequent anchor (argmax via struct min over
    (-count, anchor) — no window over a hub URL's anchor set)."""
    from fuzzy_search_spark.pipeline.weblinks import anchor_text_index

    return (anchor_text_index(_page_html(spark, sf_dir))
            .orderBy("canonical_href"))


def q_crawl_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-meta flags + declared rel=canonical extraction over
    deterministic page HTML (both attribute orders, mixed case, absent
    cases); effective_canonical falls back to the fetch URL."""
    from fuzzy_search_spark.pipeline.weblinks import crawl_directives

    doc = F.col("doc_id")
    meta = (F.when(doc % 3 == 0, F.lit(
        '<meta name="robots" content="noindex, nofollow">'))
        .when(doc % 3 == 1, F.lit('<meta content="NOINDEX" name="robots">'))
        .otherwise(F.lit("")))
    link = (F.when(doc % 4 == 0, F.concat(
        F.lit('<link rel="canonical" href="HTTP://Canon.example.com:80/page/'),
        (doc % 25).cast("string"), F.lit('">')))
        .when(doc % 4 == 1, F.lit('<link href="/self" rel="canonical">'))
        .otherwise(F.lit("")))
    html = F.concat(F.lit("<html><head>"), meta, link,
                    F.lit("</head><body>x</body></html>"))
    pages = _docs(spark, sf_dir).select(
        "doc_id", _page_url(doc).alias("url"), html.alias("html"))
    return crawl_directives(pages).orderBy("doc_id")


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full WARC byte path, distributed: wrap documents into real
    member-gzip WARC/1.0 files (applyInPandas, one file per group), then
    parse them back with the streaming reader (mapInPandas, shuffle-free)
    — url/date/status/content-type and the exact payload bytes are all
    SQL-reconstructable, so the oracle checks the whole write->gzip->parse
    round-trip."""
    from fuzzy_search_spark.sources.warc import read_warc, synth_warc_files

    files = synth_warc_files(_docs(spark, sf_dir), n_files=8)
    pages = read_warc(files)
    return (pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .alias("warc_date"),
        "http_status",
        "content_type",
        F.md5(F.col("html")).alias("html_md5"),
        F.length("html").cast("long").alias("n_bytes"))
        .orderBy("url"))


MOJI_SUFFIX = "café déjà vu".encode("utf-8").decode("latin-1")


def q_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization over deterministically decomposed text:
    one third gets a combining-acute suffix, one third a combining-ring,
    one third stays ASCII.  The oracle runs DuckDB's own nfc_normalize,
    so both engines' real Unicode tables are compared."""
    from fuzzy_search_spark.pipeline.textstats import normalize_nfc

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 3
    suffixed = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(m == 0, F.lit(" café"))
                 .when(m == 2, F.lit(" ÅB"))
                 .otherwise(F.lit(""))).alias("text"))
    out = normalize_nfc(suffixed)
    return (out.select("doc_id", "changed",
                       F.md5(F.encode("text_nfc", "UTF-8"))
                       .alias("nfc_md5"))
            .orderBy("doc_id"))


def q_host_page_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-host crawl-budget cap (md5-rank selection) over
    the synthetic 10-host URL layout; cap chosen so both kept and dropped
    rows exist at every scale."""
    from fuzzy_search_spark.pipeline.urls import host_page_cap

    docs = _docs(spark, sf_dir)
    urls = docs.select(
        "doc_id", _page_url(F.col("doc_id")).alias("url"))
    return (host_page_cap(urls, max_pages_per_host=30)
            .orderBy("doc_id"))


def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair over a synthetically corrupted corpus: one third of
    docs get a UTF-8-seen-as-Latin-1 suffix (repaired), one third stay
    ASCII (untouched), one third get genuine Latin-1 accents (must NOT be
    'repaired' — their bytes are invalid UTF-8).  The corpus itself is
    ASCII, so the oracle knows each expected output exactly."""
    from fuzzy_search_spark.pipeline.textstats import fix_mojibake

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 3
    corrupted = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(m == 0, F.lit(" " + MOJI_SUFFIX))
                 .when(m == 2, F.lit(" naïve"))
                 .otherwise(F.lit(""))).alias("text"))
    out = fix_mojibake(corrupted)
    return (out.select("doc_id", "was_mojibake",
                       F.md5(F.encode("text_fixed", "UTF-8"))
                       .alias("fixed_md5"))
            .orderBy("doc_id"))


def q_robots_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt admission over synthetic per-host robots files:
    the generic agent exercises prefix rules with longest-match/allow-wins
    precedence, the specific agent exercises wildcard+anchor rules and the
    specific-group-shadows-star rule.  The oracle reconstructs decisions
    analytically from the generation formula."""
    from fuzzy_search_spark.pipeline.robots import (parse_robots,
                                                    robots_allowed)

    docs = _docs(spark, sf_dir)
    hs = (F.col("doc_id") % 10).cast("string")
    robots = docs.select(hs.alias("hs")).distinct().select(
        F.concat(F.lit("host"), F.col("hs"), F.lit(".com")).alias("host"),
        F.concat(
            F.lit("# synthetic\nUser-agent: *\nDisallow: /p/"),
            F.col("hs"), F.lit("\nAllow: /p/"), F.col("hs"),
            F.lit("0\n\nUser-agent: fuzzybot\nDisallow: /q/*7$\n")
        ).alias("robots_txt"))
    rules = parse_robots(robots)

    base = docs.select(F.col("doc_id").cast("string").alias("ids"),
                       hs.alias("hs"))
    mk = lambda kind: base.select(F.concat(  # noqa: E731
        F.lit("https://host"), F.col("hs"), F.lit(f".com/{kind}/"),
        F.col("ids")).alias("url"))
    urls = mk("p").union(mk("q"))

    star = robots_allowed(urls, rules, "*").select(
        "url", F.col("allowed").alias("allowed_star"),
        F.coalesce("matched_path", F.lit("")).alias("match_star"))
    bot = robots_allowed(urls, rules, "fuzzybot").select(
        "url", F.col("allowed").alias("allowed_bot"))
    return star.join(bot, "url").orderBy("url")


def q_lm3_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Stupid-Backoff LM scores (one step closer to CCNet's
    5-gram filter), trained on the even-doc half; recursive backoff
    decays one alpha per shortened context; integer micro-unit sums keep
    the hash compare exact."""
    from fuzzy_search_spark.pipeline.lm import (score_documents_trigram,
                                                train_trigram_lm)

    docs = _docs(spark, sf_dir)
    uni, bi, tri, tot = train_trigram_lm(
        docs.filter(F.col("doc_id") % 2 == 0))
    return (score_documents_trigram(docs, uni, bi, tri, tot)
            .orderBy("doc_id"))


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET sink round-trip: extracted text -> WARC 'conversion' records
    (member-gzip, md5-balanced file assignment) -> parse back.  Every
    output field is SQL-reconstructable, so the oracle checks the whole
    serialize->gzip->parse path including the file-assignment hash."""
    from fuzzy_search_spark.sources.warc import read_wet, write_wet

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        F.concat(F.lit("https://example.org/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.expr("TIMESTAMP '2020-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, 0, 0, doc_id)")
        .alias("warc_ts"),
        F.coalesce("text", F.lit("")).alias("text"))
    back = read_wet(write_wet(pages, n_files=8))
    return (back.select(
        "wet_file", "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .alias("warc_date"),
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"))
        .orderBy("url"))


def q_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: Stupid-Backoff bigram LM trained on
    the even-doc half of the corpus, scoring every document.  Per-token
    log10 scores are summed as integer micro-units, so the document sums
    are exact and order-independent (hash-comparable cross-engine)."""
    from fuzzy_search_spark.pipeline.lm import (score_documents,
                                                train_bigram_lm)

    docs = _docs(spark, sf_dir)
    uni, big, tot = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return (score_documents(docs, uni, big, tot)
            .orderBy("doc_id"))


def q_perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity tiers: rank every document
    within its detected language by the exact integer micro-unit LM
    score and split head/middle/tail by rank thirds.  Integer ranking
    keys end-to-end — no float comparisons cross-engine."""
    from fuzzy_search_spark.pipeline.lm import (perplexity_tiers,
                                                score_documents,
                                                train_bigram_lm)
    from fuzzy_search_spark.pipeline.textstats import language_id

    docs = _docs(spark, sf_dir)
    uni, big, tot = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scored = score_documents(docs, uni, big, tot)
    langs = language_id(docs)
    return perplexity_tiers(scored, langs).orderBy("doc_id")


def q_strip_dup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup as a transformation (RefinedWeb/C4
    style): remove paragraphs shared by >= 2 documents and reassemble.
    Pages are deterministic 2-3 paragraph builds over the corpus text
    with injected cookie-banner / footer boilerplate."""
    from fuzzy_search_spark.pipeline.textstats import strip_duplicate_paragraphs

    doc, txt = F.col("doc_id"), F.col("text")
    sep = F.lit("\n\n")
    p1 = F.substring(txt, 1, 60)
    p2 = F.when(doc % 4 == 0,
                F.lit("cookie consent banner please accept our policy")) \
        .otherwise(F.substring(txt, 61, 40))
    p3 = F.when(doc % 2 == 0,
                F.lit("copyright footer all rights reserved")) \
        .otherwise(F.lit(""))
    pages = _docs(spark, sf_dir).select(
        "doc_id", F.concat(p1, sep, p2, sep, p3).alias("text"))
    return strip_duplicate_paragraphs(pages).orderBy("doc_id")


#: cap on word types pulled to the driver for BPE training (bpe_merges,
#: bpe_token_counts) — a web corpus's billion-type tail cannot OOM the
#: driver; the rare tail contributes negligibly to early merge ranks.
BPE_MAX_TYPES = 250_000


def q_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: shard + reproducible shuffle order
    + per-shard running token sum -> context-window bin assignments
    (window partitioned by shard, never global)."""
    from fuzzy_search_spark.pipeline.mixing import packing_plan

    return (packing_plan(_docs(spark, sf_dir), max_tokens=512,
                         num_shards=8)
            .orderBy("doc_id"))


def q_subword_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style regex pre-token counts vs whitespace words, over
    documents with a deterministic punctuation/contraction/price tail
    (the word-salad alone splits 1:1); the oracle appends the same."""
    from fuzzy_search_spark.pipeline.textstats import regex_token_stats

    docs = _docs(spark, sf_dir).withColumn("text", F.concat(
        F.col("text"), F.lit(" don't overfit; cost: $"),
        (F.col("doc_id") % 100).cast("string"), F.lit(".99!")))
    return regex_token_stats(docs).orderBy("doc_id")


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE encode with the corpus-trained merge list (same
    bounded-histogram training as bpe_merges): per-doc subword counts and
    integer micro-unit fertility (exact ``div``, never a float round — the
    b/w ratio CAN land on exact decimal midpoints, e.g. 128-word docs,
    where Python's half-even and DuckDB's half-away disagree).

    Oracled by the literal-constants pattern (the IVF/PQ precedent): the
    merge table retrains driver-side bit-identically and is embedded as
    nested ``list_reduce`` merge applications; oracle_sql() verifies
    driver-side that sequential-by-rank application equals the engine's
    rank-order greedy encode on every corpus word type before emitting
    the oracle (falls back to rows-only when the corpus violates it)."""
    from fuzzy_search_spark.analysis.subtoken import (bpe_from_corpus,
                                                      bpe_token_counts)

    docs = _docs(spark, sf_dir)
    _, merges = bpe_from_corpus(docs, k=30, max_types=BPE_MAX_TYPES)
    counts = bpe_token_counts(docs, merges)
    # guard the division like the oracle's CASE WHEN: under ANSI mode (the
    # Spark 4 default) `div` by zero raises instead of returning NULL
    return (counts.select(
        "doc_id", "n_words", "n_bpe_tokens",
        F.when(F.col("n_words") == 0, F.lit(0))
        .otherwise(F.expr("n_bpe_tokens * 1000000L div n_words"))
        .cast("long").alias("fertility_micro"))
        .orderBy("doc_id"))


#: corpus-mixing fixtures: weights chosen so the normalized shares are
#: exact binary floats (4/8, 2/8, 1/8, 1/8) — rate arithmetic is then
#: bit-identical between Spark and the DuckDB oracle.
MIX_WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0}
MIX_BUDGET = 2000
SAMPLE_RATES = {"src0": 0.75, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture plan: per-source totals -> sampling rates."""
    from fuzzy_search_spark.pipeline.mixing import mixture_plan

    return mixture_plan(_docs(spark, sf_dir), MIX_WEIGHTS,
                        MIX_BUDGET).orderBy("source")


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (retry/repartition-stable) stratified hash sample."""
    from fuzzy_search_spark.pipeline.mixing import corpus_sample

    return corpus_sample(_docs(spark, sf_dir),
                         SAMPLE_RATES).orderBy("doc_id")


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir)).orderBy("text_hash")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.dedup import minhash_signatures

    sig = minhash_signatures(_docs(spark, sf_dir))
    return sig.select(
        "doc_id", F.concat_ws("|", "sig").alias("sig_joined")
    ).orderBy("doc_id")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir)).orderBy("id_a", "id_b")


def q_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup composite: MinHash-LSH candidates verified
    by exact shingle Jaccard (only candidate pairs are scored)."""
    from fuzzy_search_spark.pipeline.dedup import near_duplicates

    return near_duplicates(_docs(spark, sf_dir)).orderBy("id_a", "id_b")


def q_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric daily-increment dedup: new batch (doc_id % 10 == 0)
    LSH-screened against the existing corpus (the rest) — the corpus
    never self-joins."""
    from fuzzy_search_spark.pipeline.dedup import incremental_near_duplicates

    docs = _docs(spark, sf_dir)
    return (incremental_near_duplicates(
                docs.filter(F.col("doc_id") % 10 == 0),
                docs.filter(F.col("doc_id") % 10 != 0))
            .orderBy("new_id", "corpus_id"))


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical dedup groups: connected components (iterative min-label
    propagation, localCheckpointed rounds) over the verified near-dup
    pairs — transitively linked docs collapse to one group keyed by the
    smallest member."""
    from fuzzy_search_spark.pipeline.dedup import near_dup_groups

    return near_dup_groups(_docs(spark, sf_dir)).orderBy("group_id",
                                                         "doc_id")


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data cleaning chain (pipeline/clean.py):
    exact dedup -> near-dup group dedup (LSH + Jaccard + connected
    components) -> quality gate; kept docs with language guess."""
    from fuzzy_search_spark.pipeline.clean import corpus_clean

    return corpus_clean(_docs(spark, sf_dir)).orderBy("doc_id")


def q_best_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup group: argmax of
    round(alpha_ratio - punct_ratio, 6) via a lexicographic struct max
    (ties -> longer text -> smaller id); no window over group members."""
    from fuzzy_search_spark.pipeline.clean import best_representatives

    return best_representatives(_docs(spark, sf_dir)).orderBy("group_id")


def q_corpus_clean_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning chain with quality-aware near-dup retention: group
    survivors are the best_representatives argmax instead of min id."""
    from fuzzy_search_spark.pipeline.clean import corpus_clean

    return (corpus_clean(_docs(spark, sf_dir),
                         representative="best_quality")
            .orderBy("doc_id"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable md5-based SimHash — bit-identical to the DuckDB oracle."""
    from fuzzy_search_spark.pipeline.dedup import simhash64_portable

    return simhash64_portable(_docs(spark, sf_dir)).orderBy("doc_id")


def q_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64-based SimHash (the JVM-native scale path; rows-only check
    since xxhash64 is not portable to the oracle engine)."""
    from fuzzy_search_spark.pipeline.dedup import simhash64

    return simhash64(_docs(spark, sf_dir)).orderBy("doc_id")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard near-duplicate pairs (the verifier for
    the MinHash/LSH candidate set)."""
    from fuzzy_search_spark.pipeline.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=3,
                               threshold=0.5).orderBy("id_a", "id_b")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline)."""
    from fuzzy_search_spark.pipeline.ann import cosine_pairs

    return cosine_pairs(_embeddings(spark, sf_dir),
                        threshold=0.45).orderBy("id_a", "id_b")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means-cluster the embeddings,
    drop every vector with a lower-id same-cluster neighbor at cosine
    >= 0.40.  The oracle retrains the quantizer driver-side
    (ivf_train_local is bit-identical to the distributed trainer) and
    re-derives assignment + intra-cluster pairs in SQL."""
    from fuzzy_search_spark.pipeline.ann import semantic_dedup

    return semantic_dedup(_embeddings(spark, sf_dir), n_clusters=8,
                          iters=2, threshold=0.40).orderBy("vec_id")


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level metadata over an opaque binary media column
    (magic-number sniff, size, portable content hash) via mapInPandas."""
    from fuzzy_search_spark.pipeline.multimodal import (media_metadata,
                                                        synth_payload)

    docs = synth_payload(_docs(spark, sf_dir)).withColumn(
        "url", F.col("doc_id").cast("string"))
    return (
        media_metadata(docs)
        .select("url", "media_type", "n_bytes", "content_md5")
        .orderBy("url")
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode end-to-end: encode a valid PNG per document (pixel
    stream = sha256(text) repeated), ship it as a binary column, decode
    it with the stdlib inflate+unfilter codec, extract features.  Oracle-
    checkable because the expected pixel statistics are computable from
    sha256(text) alone (see oracle_sql)."""
    from fuzzy_search_spark.pipeline.multimodal import (image_features,
                                                        synth_png_payload)

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    feats = image_features(synth_png_payload(docs))
    return feats.select(
        "url", "media_type", "height", "width",
        F.round(F.element_at("mean_rgb", 1), 6).alias("mean_r"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
    ).orderBy("url")


def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode end-to-end: encode a valid full-frame APNG per
    document (frame i's pixels = sha256(text|i) repeated), ship it as a
    binary column, frame-sample it with the stdlib APNG decoder, extract
    per-frame features.  Oracle-checkable from sha256(text|i); real
    video containers (mp4/webm) keep the documented fake sampler."""
    from fuzzy_search_spark.pipeline.multimodal import (
        synth_apng_payload,
        video_frame_features,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    feats = video_frame_features(synth_apng_payload(docs, n_frames=3),
                                 n_frames=3)
    return feats.select(
        "url", "n_frames", "frame_index", "height", "width",
        F.round(F.element_at("mean_rgb", 1), 6).alias("mean_r"),
    ).orderBy("url", "frame_index")


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap.xml extraction over deterministic per-document sitemaps:
    two <url> entries (one with lastmod, one without) plus a nested
    <sitemap> index reference for every fourth document — the oracle
    reconstructs every row analytically."""
    from fuzzy_search_spark.pipeline.weblinks import parse_sitemaps

    docs = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    ids = doc.cast("string")
    hs = (doc % 10).cast("string")
    day = F.lpad((1 + doc % 28).cast("string"), 2, "0")
    idx = F.when(doc % 4 == 0, F.concat(
        F.lit("<sitemap><loc>https://host"), hs,
        F.lit(".com/maps/"), ids, F.lit(".xml</loc></sitemap>")))\
        .otherwise(F.lit(""))
    xml = F.concat(
        F.lit('<?xml version="1.0"?>\n<urlset>\n<url><loc> https://host'),
        hs, F.lit(".com/p/"), ids,
        F.lit(" </loc><lastmod>2024-01-"), day,
        F.lit("</lastmod></url>\n<url><loc>https://host"), hs,
        F.lit(".com/q/"), ids, F.lit("</loc></url>\n"), idx,
        F.lit("</urlset>"))
    sm = docs.select(F.concat(F.lit("host"), hs, F.lit(".com"))
                     .alias("host"), xml.alias("sitemap_xml"))
    return parse_sitemaps(sm).orderBy("loc", "kind")


def q_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment (md5 buckets with
    cumulative thresholds) — stable under retries, repartitioning and
    corpus growth, unlike randomSplit."""
    from fuzzy_search_spark.pipeline.mixing import assign_splits

    return (assign_splits(_docs(spark, sf_dir),
                          {"train": 0.9, "validation": 0.05,
                           "test": 0.05})
            .orderBy("doc_id"))


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl snapshot diff: old = docs with id % 5 != 0,
    new = docs with id % 3 != 0, text mutated for id % 7 == 0 — so all
    four statuses (added/removed/changed/unchanged) occur at every
    scale and the oracle derives each analytically."""
    from fuzzy_search_spark.pipeline.urls import crawl_delta

    docs = _docs(spark, sf_dir).select(
        _page_url(F.col("doc_id")).alias("url"), "doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 3 != 0).select(
        "url", "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")).alias("text"))
    return crawl_delta(old, new).orderBy("url")


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus snapshot profile: counts, exact token-length
    quantiles (interpolated percentile == SQL quantile_cont), language
    spread, majority-language share."""
    from fuzzy_search_spark.pipeline.textstats import corpus_profile

    return corpus_profile(_docs(spark, sf_dir))


def q_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-metadata parse over BOTH modern video containers:
    ISO BMFF (mp4) stubs via the box-tree walk and webm stubs via the
    EBML tree walk (Segment > Info duration, Tracks > Video dimensions,
    CodecID) — the resolution/length gate a video pipeline applies
    before any codec-bound frame decode.  All fields derive analytically
    from doc_id, so the oracle needs no digest machinery."""
    from fuzzy_search_spark.pipeline.multimodal import (synth_mp4_payload,
                                                        synth_webm_payload,
                                                        video_metadata)

    docs = _docs(spark, sf_dir)
    mp4 = synth_mp4_payload(docs.filter(F.col("doc_id") % 10 == 7))
    webm = synth_webm_payload(docs.filter(F.col("doc_id") % 10 == 1))
    return (video_metadata(mp4.unionByName(webm))
            .orderBy("url"))


def q_avi_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode end-to-end: each document gets an
    AVI/MJPEG file whose frame i is a constant-block grayscale JPEG from
    sha256(text|vi)[:4] — RIFF walk + huffman + IDCT reproduce the frame
    pixels exactly, so a real video container is hash-checkable."""
    from fuzzy_search_spark.pipeline.multimodal import (
        synth_avi_payload,
        video_frame_features,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 3)
    feats = video_frame_features(synth_avi_payload(docs, n_frames=3),
                                 n_frames=3)
    return feats.select(
        "url", "n_frames", "frame_index", "height", "width",
        F.round(F.element_at("mean_rgb", 1), 6).alias("mean_r"),
    ).orderBy("url", "frame_index")


def q_mp4_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL modern-container decode end-to-end: each document gets a
    Motion-JPEG mp4 (ISO BMFF with a full stsd/stts/stsc/stsz/stco
    sample table) whose frame i is the same DC-exact constant-block
    grayscale JPEG as the AVI fixture — the box-tree walk + huffman +
    IDCT reproduce the pixels exactly, so a real mp4 is hash-checkable;
    only codec-bound payloads (H.264/VP9) remain faked."""
    from fuzzy_search_spark.pipeline.multimodal import (
        synth_mp4_mjpeg_payload,
        video_frame_features,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 9)
    feats = video_frame_features(synth_mp4_mjpeg_payload(docs, n_frames=3),
                                 n_frames=3)
    return feats.select(
        "url", "n_frames", "frame_index", "height", "width",
        F.round(F.element_at("mean_rgb", 1), 6).alias("mean_r"),
    ).orderBy("url", "frame_index")


def q_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode end-to-end through a LOSSY format: each document gets
    a baseline grayscale JPEG of four constant 8x8 blocks (values =
    first four sha256(text) bytes).  Constant blocks are DC-only and the
    all-ones quantization keeps DC exact, so the huffman+IDCT round-trip
    reproduces the pixels EXACTLY — oracle-computable from sha256."""
    from fuzzy_search_spark.pipeline.multimodal import (image_features,
                                                        synth_jpeg_payload)

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 1)
    feats = image_features(synth_jpeg_payload(docs))
    return feats.select(
        "url", "media_type", "height", "width",
        F.round(F.element_at("mean_rgb", 1), 6).alias("mean_r"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
    ).orderBy("url")


def q_gif_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode end-to-end: encode a valid animated GIF89a per
    document (frame i = 16x16 grayscale raster of sha256(text|gi)
    repeated; grayscale palette maps index k to (k,k,k)), ship it as a
    binary column, frame-sample it with the stdlib LZW decoder, extract
    per-frame features.  Oracle-checkable from sha256 alone."""
    from fuzzy_search_spark.pipeline.multimodal import (
        synth_gif_payload,
        video_frame_features,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 5)
    feats = video_frame_features(synth_gif_payload(docs, n_frames=3),
                                 n_frames=3)
    return feats.select(
        "url", "n_frames", "frame_index", "height", "width",
        F.round(F.element_at("mean_rgb", 1), 6).alias("mean_r"),
    ).orderBy("url", "frame_index")


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode end-to-end: encode a valid 16-bit mono WAV per
    document (PCM = sha256(text) repeated as LE int16), decode it with
    the stdlib RIFF parser, extract RMS/zero-crossing features.  Oracle-
    checkable from sha256(text) (see oracle_sql)."""
    from fuzzy_search_spark.pipeline.multimodal import (
        audio_features,
        synth_wav_payload,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return audio_features(synth_wav_payload(docs)).orderBy("url")


def q_ngram_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.analysis.freq import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=50)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-5 keywords (rounded-score ranking so
    sub-1e-6 libm drift cannot flip the cut)."""
    from fuzzy_search_spark.analysis.freq import tfidf_topk

    return (tfidf_topk(_docs(spark, sf_dir), k=5)
            .orderBy("doc_id", "rank"))


def q_ngram_probabilities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLE / Laplace / conditional probabilities for the top bigrams."""
    from fuzzy_search_spark.analysis.freq import ngram_probabilities

    out = ngram_probabilities(_docs(spark, sf_dir), max_n=2)
    return (
        out.filter(F.col("n") == 2)
        .select("gram", "freq", "p_mle", "p_laplace", "p_conditional",
                "p_cond_laplace")
        .orderBy(F.desc("freq"), "gram").limit(100)
    )


def q_llr_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.analysis.freq import log_likelihood_ratio

    docs = _docs(spark, sf_dir)
    out = log_likelihood_ratio(docs.filter(F.col("lang") == "en"),
                               docs.filter(F.col("lang") != "en"))
    return out.orderBy(F.desc("llr"), "gram").limit(20)


_ENTITY_PATTERNS = {
    "query_subject": {
        "pattern": r"(?:customer|window|vector) (?:query|table|scan)",
        "type": "entity"},
    "pipeline_verb": {
        "pattern": r"(?:merge|stream|filter) (?:batch|filter|join)",
        "type": "entity"},
}


def _context_pattern_specs() -> dict:
    """The combined patterns-in-context registry shared by the Spark query
    and the DuckDB oracle: the reference's four combinators (parity
    semantics, including the '.{d}' literal-interpolation quirk) plus the
    corrected-distance _near_ variants over corpus-appropriate base
    patterns and the context word 'table'."""
    from fuzzy_search_spark.patterns import (
        context_near_pattern,
        make_search_context_patterns,
        pattern_near_context,
    )

    base = {
        "subject": {"pattern": r"(?:query|scan|join)", "type": "entity"},
        "verb": {"pattern": r"(?:merge|stream|filter)", "type": "entity"},
    }
    combined = make_search_context_patterns(
        "table", list(base), pattern_definitions=base)
    for name, spec in base.items():
        combined.append(pattern_near_context(name, spec, "table", 10))
        combined.append(context_near_pattern(name, spec, "table", 10))
    return {spec["name"]: {"pattern": spec["pattern"],
                           "type": spec.get("type") or "context"}
            for spec in combined}


_CONTEXT_PATTERN_SPECS = _context_pattern_specs()


def q_patterns_in_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patterns-in-context extraction (reference fuzzy_patterns.py:114-231
    combinators): combined regexes built driver-side, ONE scan with a
    regexp_extract_all projection per combined pattern, counted per doc."""
    from fuzzy_search_spark.patterns import extract_patterns

    docs = _docs(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    out = extract_patterns(docs, patterns=_CONTEXT_PATTERN_SPECS)
    return (
        out.groupBy(F.col("url").cast("bigint").alias("doc_id"),
                    "pattern_name", F.col("match").alias("match_text"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "pattern_name", "match_text")
    )


def q_regex_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pattern-library extraction (the reference's fuzzy_patterns
    combinators, patterns.py) with corpus-appropriate word patterns —
    non-overlapping regexp_extract_all per pattern, counted per doc."""
    from fuzzy_search_spark.patterns import extract_patterns

    docs = _docs(spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string"))
    out = extract_patterns(docs, patterns=_ENTITY_PATTERNS)
    return (
        out.groupBy(F.col("url").cast("bigint").alias("doc_id"),
                    "pattern_name", "pattern_type",
                    F.col("match").alias("match_text"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "pattern_name", "match_text")
    )


def q_spelling_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpellingCompare's linking stage: dropped words paired with risen
    words by skipgram-cosine similarity (the reference links via trained
    embeddings, spelling_compare.py:200-259; this engine substitutes the
    deterministic skipgram similarity so results are reproducible and
    oracle-checkable without an external model)."""
    from fuzzy_search_spark.analysis.spelling import spelling_shifts

    docs = _docs(spark, sf_dir)
    # deterministic "later corpus": an er->or spelling drift, so the
    # drop->jump linking has real work to do (the en/non-en split of this
    # synthetic corpus is lexically uniform -> all words 'stable')
    drifted = docs.withColumn("text",
                              F.regexp_replace(F.col("text"), "er", "or"))
    out = spelling_shifts(docs, drifted, similarity_threshold=0.3)
    return out.orderBy("drop_word", "jump_word")


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Vocabulary (term <-> int id bidirectional map,
    tokenization/vocabulary.py:8-125) as a deterministic table: ids are
    dense ranks in lexicographic term order, so the map is reproducible by
    any engine and stable under re-runs (a requirement the reference's
    insertion-order ids cannot give a distributed build).

    Scale shape: dense ids come from a range-partitioned parallel sort +
    zipWithIndex (fuzzy_search_spark/analysis/vocabulary.py), NOT a
    partition-less Window.orderBy — no single-task WindowExec."""
    from fuzzy_search_spark.analysis.vocabulary import vocabulary_table

    return vocabulary_table(_docs(spark, sf_dir)).orderBy("term_id")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 30 BPE merges over the corpus token histogram.  The histogram
    is a distributed groupBy; the merge loop is inherently sequential and
    tiny, so it runs on the driver (SURVEY §2.7: k iterations x shuffle is
    the wrong shape for Spark).

    The driver collect is BOUNDED: only the top ``BPE_MAX_TYPES`` most
    frequent word types come back (TakeOrderedAndProject, deterministic
    tie-break on the word), mirroring the reference FrequencyTracker's
    prune-below-threshold behavior — a web corpus's billion-type tail
    cannot OOM the driver, and the rare tail contributes negligibly to
    early merge ranks anyway.  On the test corpora the type count is far
    below the bound, so the merges are byte-identical to the unbounded run.

    Oracled since round 5 by the literal-constants pattern: the merge
    table retrains driver-side from the raw parquet (pure-Python
    histogram mirror + the same deterministic trainer) and embeds as
    VALUES literals — pinning the distributed-histogram half exactly as
    the IVF centroid literals pin the distributed trainer.
    """
    from fuzzy_search_spark.analysis.subtoken import train_bpe

    hist = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+"))
                .alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.col("w"))
        .limit(BPE_MAX_TYPES)
        .collect()
    )
    _vocab, merges = train_bpe({r["w"]: r["c"] for r in hist}, 30)
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank int, left string, right string, merged string")


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding table with a
    per-row dequantization-cosine audit (codes are elementwise IEEE
    arithmetic -> bit-identical cross-engine; joined to a string for the
    hash compare like minhash_signatures)."""
    from fuzzy_search_spark.pipeline.ann import quantize_embeddings_int8

    # sort the SCAN, then project: orderBy after the projection would
    # evaluate the interpreted quantize tree twice (range-boundary
    # sampling pass + sort pass)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .orderBy("vec_id")
    out = quantize_embeddings_int8(emb)
    return out.select("vec_id", "scale",
                      F.concat_ws(",", F.col("qvec").cast("array<string>"))
                      .alias("qvec_joined"),
                      "recon_cosine")


def q_ann_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.ann import cosine_topk

    emb = _embeddings(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    return cosine_topk(emb.filter(F.col("vec_id") != 0), [float(x) for x in query],
                       k=10)


def q_ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for similarity search: OR-amplified multi-table
    random-hyperplane LSH (4 tables x 6 planes) restricting the exact
    cosine ranking to the union of the query's buckets.  Approximate by
    design -> rows-only check; every returned cosine is exact."""
    from fuzzy_search_spark.pipeline.ann import lsh_topk_multi

    emb = _embeddings(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    return lsh_topk_multi(emb.filter(F.col("vec_id") != 0),
                          [float(x) for x in query], k=10,
                          num_planes=6, num_tables=4)


def q_ann_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second ANN scale path: IVF — a deterministic Lloyd-trained
    coarse quantizer, probe the clusters nearest the query, exact cosine
    ranking inside them.  Despite being approximate the query IS oracle-
    checkable: training rounds means/distances so ivf_train_local
    reproduces the quantizer bit-for-bit, and the oracle embeds those
    centroids as literals (the ann_lsh_top10 pattern)."""
    from fuzzy_search_spark.pipeline.ann import ivf_topk

    emb = _embeddings(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    return ivf_topk(emb.filter(F.col("vec_id") != 0),
                    [float(x) for x in query], k=10,
                    n_clusters=16, n_probes=6, iters=2)


#: sf_dir -> trained codebooks.  Codebook training is a BUILD step, not
#: a per-query step — deterministic on the data (seeded by md5 ids,
#: per-iteration rounding), so an index consumer trains once and every
#: encode/ADC query reuses the artifact; the cache models exactly that.
_PQ_BOOKS_CACHE: dict = {}


def _pq_books(spark: SparkSession, sf_dir: str):
    """Shared PQ codebooks for the two PQ queries: trained on the
    deterministic 40% md5-bucket sample (codebooks train on a sample at
    scale — the full pass is the encode, not the train)."""
    from fuzzy_search_spark.pipeline.ann import pq_train
    from fuzzy_search_spark.pipeline.mixing import _bucket

    emb = _embeddings(spark, sf_dir)
    books = _PQ_BOOKS_CACHE.get(sf_dir)
    if books is None:
        train = emb.filter(_bucket("vec_id", "pq-v1") < 400_000)
        books = pq_train(train, m=8, k=16, iters=2, dim=64)
        _PQ_BOOKS_CACHE[sf_dir] = books
    return emb, books


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: every embedding as 8 codebook
    indices (the 32x-compressed IVF-PQ storage row).  Integer-only
    output — exactly hash-comparable; the oracle retrains the codebooks
    driver-side (pq_train_local is bit-identical) and re-derives the
    nearest-codeword argmin in SQL.  Codes are emitted as a joined
    string (the quantize_embeddings pattern): the driver canonicalizer
    pandas-sorts every column and cannot hash an array<int> cell."""
    from fuzzy_search_spark.pipeline.ann import pq_encode

    emb, books = _pq_books(spark, sf_dir)
    # arrow engine: the encode is the full corpus pass at scale, and the
    # JVM expression tree runs interpreted (CodegenFallback) — the numpy
    # path is A/B-pinned bit-identical (test_pq_engines_agree)
    return pq_encode(emb, books, engine="arrow").orderBy("vec_id").select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>"))
        .alias("codes_joined"))


def q_ann_pq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10: asymmetric PQ distance (per-subspace lookup-table
    sums) from the vec-0 query to every other vector — the
    memory-bound ANN scan shape (the scan touches only the code
    column)."""
    from fuzzy_search_spark.pipeline.ann import pq_topk

    emb, books = _pq_books(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    return pq_topk(emb.filter(F.col("vec_id") != 0),
                   [float(x) for x in query], books, k=10,
                   engine="arrow")


def q_ann_centroid_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.pipeline.ann import pairwise_topk

    return pairwise_topk(_embeddings(spark, sf_dir), k=5,
                         dim=EMB_DIM).orderBy("centroid_label", "rank")


def _vocab_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct words of documents.text plus part.p_name (richer lexicon)."""
    docs = _docs(spark, sf_dir).select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"))
    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.explode(F.split(F.lower(F.col("p_name")), r"\s+")).alias("term"))
    return (
        docs.unionAll(parts).filter(F.length("term") > 0)
        .distinct()
    )


def q_skipgram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkipgramSimilarity top-5 (trigram cosine within a +/-2 length band).

    Uses the BUCKETED variant — the length band is the join key, so a hot
    gram cannot fan out quadratically inside one shuffle key (identical
    output; see skipgram_similarity_topk_bucketed)."""
    from fuzzy_search_spark.analysis.similarity import (
        skipgram_similarity_topk_bucketed,
    )

    return skipgram_similarity_topk_bucketed(
        _vocab_terms(spark, sf_dir), k=5).orderBy("term", "rank")


def q_close_term_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.analysis.similarity import close_term_pairs

    return close_term_pairs(_vocab_terms(spark, sf_dir), max_distance=2) \
        .orderBy("term_a", "term_b")


def q_close_pairs_begin_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close-term pairs scored with begin/end edit similarity of the
    first/last 3 chars (reference similarity.py:51-93) — pure column
    expressions over the band-join candidates."""
    from fuzzy_search_spark.analysis.similarity import (
        begin_end_similarity,
        close_term_pairs,
    )

    pairs = close_term_pairs(_vocab_terms(spark, sf_dir), max_distance=2)
    return begin_end_similarity(pairs).orderBy("term_a", "term_b")


def q_word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzy_search_spark.analysis.similarity import word_cooccurrence

    return word_cooccurrence(_docs(spark, sf_dir), window=2, min_freq=5) \
        .orderBy("w1", "w2")


def q_spelling_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency change levels between the en and non-en corpora
    (SpellingCompare's classification stage)."""
    from fuzzy_search_spark.analysis.spelling import frequency_change

    docs = _docs(spark, sf_dir)
    out = frequency_change(docs.filter(F.col("lang") == "en"),
                           docs.filter(F.col("lang") != "en"), min_freq=5)
    return out.orderBy("word")


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap, counted per user."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional seconds: events carry microsecond precision, and the 1800 s
    # inactivity cutoff must see them (unix_timestamp truncates to whole
    # seconds, so a gap in (1800, 1801) would classify differently from the
    # oracle's fractional epoch()).  ts is TIMESTAMP_NTZ -> go via unix_micros.
    epoch_s = lambda c: F.unix_micros(c.cast("timestamp_ltz")) / F.lit(1e6)  # noqa: E731
    gap = epoch_s(F.col("ts")) - epoch_s(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0))
    sess = with_flag.withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def q_events_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum of event values (window aggregation)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.select("user_id", "event_id",
                  F.round(F.sum("value").over(w), 6).alias("running_value"))
        .orderBy("user_id", "event_id")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001."""
    return q_fuzzy_match(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered for driver CORRECTNESS coverage: the gate records only
    the first 50 dict entries, so queries the driver has never (or
    least recently) verified come first — (A) the 2 never-checked
    ExactSubstr ops, (B) the 39 queries last checked in r3 (r4's gate
    covered positions 1-50 of the r4 ordering; these sat at 51-91),
    (C) queries changed or first-touched this round (pq_codes output
    reshaped, PQ/semantic-dedup kernels revised), (D) r4-green fillers,
    weblinks-drift watchlist first, then the r4-green remainder.
    Rotation invariant: CORRECTNESS_r5 ∪ r4 must cover all oracled
    queries."""
    return {
        # -- (A) never driver-checked (r4 verdict item 2) ------------------
        "cross_doc_spans": q_cross_doc_spans,
        "strip_cross_doc_spans": q_strip_cross_doc_spans,
        # -- (A2) new in round 5: must be inside the driver's first-50 ----
        "host_quality_rollup": q_host_quality_rollup,
        "url_blocklist": q_url_blocklist,
        # -- (B) last driver-checked in r3, ascending cost -----------------
        "strip_dup_paragraphs": q_strip_dup_paragraphs,
        "normalize_nfc": q_normalize_nfc,
        "bpe_token_counts": q_bpe_token_counts,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "language_id": q_language_id,
        "fingerprints": q_fingerprints,
        "pii_scan": q_pii_scan,
        "wet_roundtrip": q_wet_roundtrip,
        "token_fuzzy_match": q_token_fuzzy_match,
        "exact_match_counts": q_exact_match_counts,
        "match_annotations": q_match_annotations,
        "warc_ingest": q_warc_ingest,
        "robots_admission": q_robots_admission,
        "fuzzy_match": q_fuzzy_match,
        "context_matches": q_context_matches,
        "template_matches": q_template_matches,
        "exact_dup_groups": q_exact_dup_groups,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "simhash_fast": q_simhash_fast,
        "lm_doc_scores": q_lm_doc_scores,
        "pagerank_hosts": q_pagerank_hosts,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "decontaminate": q_decontaminate,
        "duplicate_spans": q_duplicate_spans,
        "embedding_near_dup": q_embedding_near_dup,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "media_metadata": q_media_metadata,
        "image_features": q_image_features,
        "boilerplate_ratio": q_boilerplate_ratio,
        "incremental_near_dups": q_incremental_near_dups,
        "near_duplicates": q_near_duplicates,
        "lm3_doc_scores": q_lm3_doc_scores,
        "repetition_signals": q_repetition_signals,
        "near_dup_groups": q_near_dup_groups,
        "best_representatives": q_best_representatives,
        "corpus_clean": q_corpus_clean,
        "corpus_clean_best": q_corpus_clean_best,
        # -- (C) changed this round (need a fresh driver row) --------------
        "pq_codes": q_pq_codes,
        "ann_pq_top10": q_ann_pq_top10,
        "semantic_dedup": q_semantic_dedup,
        "quantize_embeddings": q_quantize_embeddings,
        # -- (D) r4-green fillers: weblinks drift watchlist first ----------
        "extract_links": q_extract_links,
        "link_graph": q_link_graph,
        "anchor_text_index": q_anchor_text_index,
        "url_dedup": q_url_dedup,
        "host_page_cap": q_host_page_cap,
        # ------------------------ driver window ends at 50 ----------------
        "corpus_sample": q_corpus_sample,
        "fix_mojibake": q_fix_mojibake,
        "subword_token_stats": q_subword_token_stats,
        "crawl_directives": q_crawl_directives,
        "perplexity_tiers": q_perplexity_tiers,
        "gopher_quality": q_gopher_quality,
        "c4_filters": q_c4_filters,
        "mp4_frame_features": q_mp4_frame_features,
        "video_frame_features": q_video_frame_features,
        "gif_frame_features": q_gif_frame_features,
        "jpeg_features": q_jpeg_features,
        "avi_frame_features": q_avi_frame_features,
        "video_metadata": q_video_metadata,
        "audio_features": q_audio_features,
        "corpus_profile": q_corpus_profile,
        "crawl_delta": q_crawl_delta,
        "assign_splits": q_assign_splits,
        "sitemap_entries": q_sitemap_entries,
        "tfidf_topk": q_tfidf_topk,
        "ann_ivf_top10": q_ann_ivf_top10,
        "mixture_plan": q_mixture_plan,
        "packing_plan": q_packing_plan,
        "ngram_top50": q_ngram_top50,
        "llr_keywords": q_llr_keywords,
        "ngram_probabilities": q_ngram_probabilities,
        "skipgram_similarity": q_skipgram_similarity,
        "close_term_pairs": q_close_term_pairs,
        "close_pairs_begin_end": q_close_pairs_begin_end,
        "word_cooccurrence": q_word_cooccurrence,
        "spelling_changes": q_spelling_changes,
        "bpe_merges": q_bpe_merges,
        "vocabulary": q_vocabulary,
        "spelling_links": q_spelling_links,
        "regex_entities": q_regex_entities,
        "patterns_in_context": q_patterns_in_context,
        "ann_cosine_top10": q_ann_cosine_top10,
        "ann_lsh_top10": q_ann_lsh_top10,
        "ann_centroid_top5": q_ann_centroid_top5,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_running_value": q_events_running_value,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_EXACT_PHRASE_VALUES = ", ".join(f"('{p}')" for p in EXACT_PHRASES)

_STOPWORD_SQL = {
    "en": ["the", "of", "and", "to", "in", "is", "was", "that"],
    "nl": ["de", "het", "een", "van", "den", "der", "met", "voor"],
    "de": ["der", "die", "das", "und", "nicht", "ein", "ist", "zu"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "et"],
    "es": ["el", "la", "los", "las", "que", "es", "una", "por"],
}


def _votes_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _STOPWORD_SQL[lang])
    return (f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
            f"w -> list_contains([{lst}], w)))")


def oracle_sql() -> dict[str, str]:
    votes = {lang: _votes_sql(lang) for lang in _STOPWORD_SQL}
    best = "greatest(" + ", ".join(f"votes_{l}" for l in _STOPWORD_SQL) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN votes_{l} = {best} THEN '{l}'" for l in sorted(_STOPWORD_SQL)
    ) + " END"

    shingle_cte = """
        words AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents
        ), shingles AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(w[i:i+2], ' ')
                           for i in range(1, greatest(len(w) - 2, 1) + 1)])
                     AS shingle
            FROM words)
          WHERE length(shingle) > 0
        )"""

    def _h60(expr: str) -> str:
        return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"

    # deterministic page HTML mirror of _page_html (link-extraction queries)
    page_html_cte = """
        pages AS (
          SELECT doc_id,
                 'https://host' || CAST(doc_id % 10 AS VARCHAR)
                   || '.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                 '<html><body><p>' || text || '</p><a class="x" href="'
                 || (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END)
                 || '://Host' || CAST(doc_id % 7 AS VARCHAR)
                 || (CASE WHEN doc_id % 4 < 2 THEN '.COM' ELSE '.com' END)
                 || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
                 || '/page/' || CAST(doc_id % 50 AS VARCHAR)
                 || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                 || '">anchor ' || CAST(doc_id % 13 AS VARCHAR) || '</a>'
                 || (CASE WHEN doc_id % 3 = 0
                          THEN '<a id="n" href="/rel/'
                               || CAST(doc_id % 4 AS VARCHAR) || '">nav</a>'
                          ELSE '' END)
                 || (CASE WHEN doc_id % 4 = 0
                          THEN '<a href="https://cdn.example.net/asset#frag">'
                               || '<img/></a>'
                          ELSE '' END)
                 || '</body></html>' AS html
          FROM documents
        )"""

    link_re = '<a [^>]*href="([^"]*)"[^>]*>([^<]*)'
    url_re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^#]*)"
    # canonical_url mirror over a relation carrying (.., href): fragment
    # strip -> scheme/host/rest split -> default-port + trailing-slash
    # normalization -> schemeless fallback
    canon_href = f"""
        parts AS (
          SELECT *, regexp_replace(href, '#.*$', '') AS cu FROM links
        ), ext AS (
          SELECT *,
                 lower(regexp_extract(cu, '{url_re}', 1)) AS scheme,
                 lower(regexp_extract(cu, '{url_re}', 2)) AS host0,
                 regexp_extract(cu, '{url_re}', 3) AS rest0
          FROM parts
        ), canon AS (
          SELECT *, CASE WHEN host = '' THEN lower(cu)
                         ELSE scheme || '://' || host || rest END
                      AS canonical_href
          FROM (
            SELECT *,
                   CASE WHEN scheme = 'http'
                          THEN regexp_replace(host0, ':80$', '')
                        WHEN scheme = 'https'
                          THEN regexp_replace(host0, ':443$', '')
                        ELSE host0 END AS host,
                   CASE WHEN strpos(rest0, '?') = 0
                          THEN regexp_replace(rest0, '/+$', '')
                        ELSE rest0 END AS rest
            FROM ext
          )
        )"""

    # pages -> exploded hrefs -> canonical -> aggregated host graph `g`
    # (the SQL mirror of domain_link_graph over _page_html)
    graph_cte = f"""{page_html_cte},
        links AS (
          SELECT doc_id,
                 'host' || CAST(doc_id % 10 AS VARCHAR) || '.com'
                   AS src_host,
                 unnest(regexp_extract_all(html, '{link_re}', 1)) AS href
          FROM pages
        ), {canon_href},
        edges AS (
          SELECT doc_id, src_host,
                 CASE WHEN host = '' THEN src_host ELSE host END
                   AS dst_host
          FROM canon
        ), g AS (
          SELECT src_host, dst_host, count(*) AS n_links,
                 count(DISTINCT doc_id) AS n_src_pages
          FROM edges GROUP BY src_host, dst_host
        )"""

    # fixed-iteration weighted PageRank chain: one CTE per iteration,
    # per-iteration round(_, 10) exactly as the Spark loop does.  Double
    # literals are spelled to full precision so DuckDB's decimal literal
    # arithmetic cannot diverge from Python/Spark float semantics.
    pr_iters, pr_prev = "", "r0"
    for _i in (1, 2, 3):
        pr_iters += f""", r{_i} AS (
          SELECT n.node,
                 round(CAST(0.15000000000000002 AS DOUBLE)
                         / (SELECT n FROM nn)
                       + CAST(0.85 AS DOUBLE) * (
                           coalesce(s.s, CAST(0 AS DOUBLE))
                           + (SELECT coalesce(sum(rank), 0)
                              FROM {pr_prev}
                              WHERE node NOT IN
                                (SELECT src_host FROM outw))
                             / (SELECT n FROM nn)), 10) AS rank
          FROM nodes n LEFT JOIN (
            SELECT gg.dst_host AS node,
                   sum(r.rank * gg.n_links / o.w_out) AS s
            FROM g gg JOIN {pr_prev} r ON gg.src_host = r.node
                      JOIN outw o ON gg.src_host = o.src_host
            GROUP BY 1) s ON n.node = s.node
        )"""
        pr_prev = f"r{_i}"

    # the engine's MinHash family: affine transforms of one 32-bit
    # md5-derived base hash (pipeline/dedup.py MINHASH_P/_minhash_ab) —
    # mirrored here term for term so signatures stay bit-identical
    from fuzzy_search_spark.pipeline.dedup import MINHASH_P, _minhash_ab

    _mh_base = "CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)"

    def _mh_min(i: int) -> str:
        a, b = _minhash_ab(8)[i]
        return f"min(({a} * {_mh_base} + {b}) % {MINHASH_P})"

    minhash_sig = """
        WITH {cte}
        SELECT doc_id, {mins} AS sig_joined
        FROM shingles GROUP BY doc_id
    """.format(cte=shingle_cte, mins=" || '|' || ".join(
        _mh_min(i) for i in range(8)))

    lsh_cte = """
        WITH {cte}, sig AS (""".format(cte=shingle_cte) + """
          SELECT doc_id, {cols}
          FROM shingles GROUP BY doc_id
        ), banded AS (
          SELECT doc_id, band, band_hash FROM (
            {bands}
          )
        ), kept_buckets AS (
          -- mirror of the engine's max_bucket_size cap
          -- (pipeline/dedup.py minhash_lsh_pairs): degenerate buckets are
          -- dropped on BOTH sides, keeping oracle and engine in lockstep
          -- even on template-cluster data
          SELECT band, band_hash FROM banded
          GROUP BY band, band_hash
          HAVING count(*) BETWEEN 2 AND 10000
        ), cands AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS n_bands
          FROM banded a
          JOIN kept_buckets k
            ON a.band = k.band AND a.band_hash = k.band_hash
          JOIN banded b
            ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
    """.format(
        cols=", ".join(f"{_mh_min(i)} AS h{i}" for i in range(8)),
        bands=" UNION ALL ".join(
            "SELECT doc_id, {b} AS band, md5(h{r0} || '|' || h{r1}) AS band_hash "
            "FROM sig".format(b=b, r0=b * 2, r1=b * 2 + 1)
            for b in range(4)),
    )

    lsh_pairs = lsh_cte + """
        SELECT id_a, id_b, n_bands FROM cands ORDER BY id_a, id_b
    """

    near_dups_verified = lsh_cte + """
        , sizes AS (
          SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
        ), inter AS (
          SELECT c.id_a, c.id_b, c.n_bands, count(*) AS i
          FROM cands c
          JOIN shingles sa ON sa.doc_id = c.id_a
          JOIN shingles sb ON sb.doc_id = c.id_b
                          AND sa.shingle = sb.shingle
          GROUP BY 1, 2, 3
        )
        SELECT id_a, id_b, n_bands,
               round(i / (na.n + nb.n - i), 6) AS jaccard
        FROM inter JOIN sizes na ON id_a = na.doc_id
                   JOIN sizes nb ON id_b = nb.doc_id
        WHERE i / (na.n + nb.n - i) >= 0.5
        ORDER BY id_a, id_b
    """

    incremental_near_dups_sql = lsh_cte + """
        , cbuckets AS (
          SELECT band, band_hash FROM banded WHERE doc_id % 10 <> 0
          GROUP BY band, band_hash HAVING count(*) <= 10000
        ), icands AS (
          SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
                 count(*) AS n_bands
          FROM banded n
          JOIN banded c ON n.band = c.band AND n.band_hash = c.band_hash
          JOIN cbuckets kb
            ON c.band = kb.band AND c.band_hash = kb.band_hash
          WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
          GROUP BY 1, 2
        ), isizes AS (
          SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
        ), iinter AS (
          SELECT ic.new_id, ic.corpus_id, ic.n_bands, count(*) AS i
          FROM icands ic
          JOIN shingles sn ON sn.doc_id = ic.new_id
          JOIN shingles sc ON sc.doc_id = ic.corpus_id
                          AND sn.shingle = sc.shingle
          GROUP BY 1, 2, 3
        )
        SELECT new_id, corpus_id, n_bands,
               round(i / (nn.n + nc.n - i), 6) AS jaccard
        FROM iinter JOIN isizes nn ON new_id = nn.doc_id
                    JOIN isizes nc ON corpus_id = nc.doc_id
        WHERE i / (nn.n + nc.n - i) >= 0.5
        ORDER BY new_id, corpus_id
    """

    # connected components over the verified near-dup pairs: recursive
    # label reachability, min label per node = component id (diameter of
    # near-dup clusters is tiny, so the recursion is shallow)
    near_dup_groups_sql = near_dups_verified.replace(
        "WITH ", "WITH RECURSIVE ", 1).replace(
        """
        SELECT id_a, id_b, n_bands,
               round(i / (na.n + nb.n - i), 6) AS jaccard
        FROM inter JOIN sizes na ON id_a = na.doc_id
                   JOIN sizes nb ON id_b = nb.doc_id
        WHERE i / (na.n + nb.n - i) >= 0.5
        ORDER BY id_a, id_b
    """,
        """
        , verified AS (
          SELECT id_a, id_b
          FROM inter JOIN sizes na ON id_a = na.doc_id
                     JOIN sizes nb ON id_b = nb.doc_id
          WHERE i / (na.n + nb.n - i) >= 0.5
        ), cc_edges AS (
          SELECT id_a AS a, id_b AS b FROM verified
          UNION ALL
          SELECT id_b AS a, id_a AS b FROM verified
        ), reach(node, label) AS (
          SELECT a, a FROM cc_edges
          UNION
          SELECT e.b, r.label FROM reach r JOIN cc_edges e ON e.a = r.node
        ), cc AS (
          SELECT node AS doc_id, min(label) AS group_id
          FROM reach GROUP BY node
        )
        SELECT doc_id, group_id,
               count(*) OVER (PARTITION BY group_id) AS group_size
        FROM cc ORDER BY group_id, doc_id
    """)

    # the composite cleaning chain shares the connected-components CTEs:
    # drop non-representative group members and exact dups (keep min id
    # per content hash), gate on quality, attach the language guess
    corpus_clean_sql = near_dup_groups_sql.replace(
        """
        SELECT doc_id, group_id,
               count(*) OVER (PARTITION BY group_id) AS group_size
        FROM cc ORDER BY group_id, doc_id
    """,
        """
        , nd_dropped AS (
          SELECT doc_id FROM cc WHERE doc_id <> group_id
        ), exact_keep AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ), lv AS (
          SELECT doc_id, {vote_cols} FROM documents
        ), quality AS (
          SELECT doc_id, length(text) AS n_chars,
                 length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                 length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
                 length(regexp_replace(text, '[^ \\t\\n]', '', 'g')) AS space,
                 greatest(length(text), 1) AS n
          FROM documents
        )
        SELECT d.doc_id, {lang_case} AS lang_guess, q.n_chars
        FROM documents d
        JOIN exact_keep ON exact_keep.doc_id = d.doc_id
        JOIN quality q ON q.doc_id = d.doc_id
        JOIN lv ON lv.doc_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM nd_dropped)
          AND q.n_chars >= 100 AND q.alpha / q.n >= 0.6
          AND (q.n_chars - q.alpha - q.digit - q.space) / q.n <= 0.1
        ORDER BY d.doc_id
    """.format(
            vote_cols=", ".join(f"{votes[l]} AS votes_{l}"
                                for l in _STOPWORD_SQL),
            lang_case=lang_case))

    corpus_clean_best_sql = corpus_clean_sql.replace('\n        , nd_dropped AS (\n          SELECT doc_id FROM cc WHERE doc_id <> group_id\n        ), exact_keep AS (',
        "\n        , q2 AS (\n          SELECT doc_id,\n                 round(round(alpha / n, 6)\n                       - round((n_chars - alpha - digit - space) / n, 6), 6)\n                   AS score,\n                 n_chars\n          FROM (\n            SELECT doc_id, length(text) AS n_chars,\n                   length(regexp_replace(text, '[^A-Za-z]', '', 'g'))\n                     AS alpha,\n                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,\n                   length(regexp_replace(text, '[^ \\t\\n]', '', 'g'))\n                     AS space,\n                   greatest(length(text), 1) AS n\n            FROM documents)\n        ), ranked AS (\n          SELECT cc.group_id, cc.doc_id,\n                 row_number() OVER (PARTITION BY cc.group_id\n                                    ORDER BY q2.score DESC,\n                                             q2.n_chars DESC,\n                                             cc.doc_id ASC) AS rn\n          FROM cc JOIN q2 ON cc.doc_id = q2.doc_id\n        ), nd_dropped AS (\n          SELECT doc_id FROM ranked WHERE rn > 1\n        ), exact_keep AS (", 1)

    # quality-aware representative selection shares the CC CTEs: join the
    # quality projection onto the group table and take the per-group
    # argmax of (score, n_chars, -doc_id)
    best_reps_sql = near_dup_groups_sql.replace(
        """
        SELECT doc_id, group_id,
               count(*) OVER (PARTITION BY group_id) AS group_size
        FROM cc ORDER BY group_id, doc_id
    """,
        """
        , q AS (
          SELECT doc_id,
                 round(round(alpha / n, 6)
                       - round((n_chars - alpha - digit - space) / n, 6), 6)
                   AS score,
                 n_chars
          FROM (
            SELECT doc_id, length(text) AS n_chars,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     AS alpha,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
                   length(regexp_replace(text, '[^ \t\n]', '', 'g'))
                     AS space,
                   greatest(length(text), 1) AS n
            FROM documents)
        ), ranked AS (
          SELECT cc.group_id, cc.doc_id, q.score, q.n_chars,
                 row_number() OVER (PARTITION BY cc.group_id
                                    ORDER BY q.score DESC, q.n_chars DESC,
                                             cc.doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cc.group_id) AS n_members
          FROM cc JOIN q ON cc.doc_id = q.doc_id
        )
        SELECT group_id, doc_id AS keep_id, n_members, score AS best_score
        FROM ranked WHERE rn = 1 ORDER BY group_id
    """)

    # ann_lsh_top10 IS oracle-expressible despite being "approximate": the
    # hyperplanes are fixed seeded constants, so the bucket disjunction is
    # a deterministic predicate DuckDB can evaluate with the same literal
    # planes (list_dot_product sign + list_cosine_similarity ranking)
    from fuzzy_search_spark.pipeline.ann import _hyperplanes

    def _bucket_sql(col: str, seed: int) -> str:
        planes = _hyperplanes(64, 6, seed)
        return " + ".join(
            "CASE WHEN list_dot_product({c}, [{p}]) >= 0 "
            "THEN {v} ELSE 0 END".format(
                c=col, p=",".join(repr(x) for x in plane), v=1 << pi)
            for pi, plane in enumerate(planes))

    ann_lsh_sql = """
        WITH q AS (
          SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
        ), body AS (
          SELECT vec_id, embedding::DOUBLE[] AS e
          FROM embeddings WHERE vec_id <> 0
        )
        SELECT vec_id, round(list_cosine_similarity(e, qe), 6) AS cosine
        FROM body, q
        WHERE {cond}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """.format(cond=" OR ".join(
        "(({b}) = ({qb}))".format(b=_bucket_sql("e", 7 + 1000 * t),
                                  qb=_bucket_sql("qe", 7 + 1000 * t))
        for t in range(4)))

    # ann_ivf_top10 follows the same literal-constants pattern: the
    # quantizer is retrained driver-side by ivf_train_local — bit-identical
    # to the distributed trainer because both round per-iteration means to
    # 6 decimals and assignment distances to 9 — and embedded as VALUES
    # literals; assignment, probe choice and the exact cosine ranking then
    # re-derive in pure SQL.  The driver's gate runs at sf0.01; override
    # SPARK_GRAFT_ORACLE_SF_DIR to oracle-check another scale.
    ann_ivf_sql = None
    try:
        import pyarrow.parquet as pq

        from fuzzy_search_spark.pipeline.ann import ivf_probes, ivf_train_local

        _sfdir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                "/root/testdata/sf0.01")
        _emb = pq.read_table(f"{_sfdir}/embeddings.parquet",
                             columns=["vec_id", "embedding"])
        _eids = _emb.column("vec_id").to_pylist()
        _evecs = _emb.column("embedding").to_pylist()
        _body = [(i, v) for i, v in zip(_eids, _evecs) if i != 0]
        _cents = ivf_train_local([b[0] for b in _body],
                                 [b[1] for b in _body],
                                 n_clusters=16, iters=2)
        _q = next([float(x) for x in v]
                  for i, v in zip(_eids, _evecs) if i == 0)
        _probes = ivf_probes(_cents, _q, 6)
        _cent_values = ", ".join(
            "({cid}, [{v}]::DOUBLE[])".format(
                cid=cid, v=",".join(repr(float(x)) for x in c))
            for cid, c in enumerate(_cents))
        ann_ivf_sql = """
            WITH cents(cid, cvec) AS (VALUES {cent_values}),
            body AS (
              SELECT vec_id, embedding::DOUBLE[] AS e
              FROM embeddings WHERE vec_id <> 0
            ), dist AS (
              SELECT vec_id, cid,
                     round(list_sum(list_transform(range(1, 65),
                           i -> (e[i] - cvec[i]) * (e[i] - cvec[i]))), 9)
                       AS d2
              FROM body, cents
            ), assigned AS (
              SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cid) AS rn
                FROM dist)
              WHERE rn = 1
            ), q AS (
              SELECT embedding::DOUBLE[] AS qe
              FROM embeddings WHERE vec_id = 0
            )
            SELECT b.vec_id,
                   round(list_cosine_similarity(b.e, qe), 6) AS cosine
            FROM body b JOIN assigned a ON a.vec_id = b.vec_id, q
            WHERE a.cid IN ({probes})
            ORDER BY cosine DESC, b.vec_id LIMIT 10
        """.format(cent_values=_cent_values,
                   probes=", ".join(str(p) for p in _probes))
    except Exception:  # embeddings table absent: skip this oracle entry
        ann_ivf_sql = None

    # semantic_dedup: same literal-centroid pattern, but the quantizer is
    # trained over ALL vectors (no query row excluded) with the query's
    # (n_clusters=8, iters=2); assignment, intra-cluster pairs and the
    # greedy-by-id keep rule re-derive in pure SQL.  The threshold
    # compares the raw cosine exactly as the Spark side does.
    semdedup_sql = None
    try:
        import pyarrow.parquet as pq

        from fuzzy_search_spark.pipeline.ann import ivf_train_local

        _sfdir2 = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                 "/root/testdata/sf0.01")
        _emb2 = pq.read_table(f"{_sfdir2}/embeddings.parquet",
                              columns=["vec_id", "embedding"])
        _cents2 = ivf_train_local(_emb2.column("vec_id").to_pylist(),
                                  _emb2.column("embedding").to_pylist(),
                                  n_clusters=8, iters=2)
        _cent_values2 = ", ".join(
            "({cid}, [{v}]::DOUBLE[])".format(
                cid=cid, v=",".join(repr(float(x)) for x in c))
            for cid, c in enumerate(_cents2))
        semdedup_sql = """
            WITH cents(cid, cvec) AS (VALUES {cent_values}),
            body AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), dist AS (
              SELECT vec_id, cid,
                     round(list_sum(list_transform(range(1, 65),
                           i -> (e[i] - cvec[i]) * (e[i] - cvec[i]))), 9)
                       AS d2
              FROM body, cents
            ), assigned AS (
              SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cid) AS rn
                FROM dist)
              WHERE rn = 1
            ), m AS (
              SELECT b.vec_id, b.e, a.cid
              FROM body b JOIN assigned a USING (vec_id)
            ), ok AS (
              -- oversized-cluster cap mirror (no-op on these fixtures)
              SELECT cid FROM assigned GROUP BY cid
              HAVING count(*) <= 100000
            ), wit AS (
              SELECT a.vec_id, min(b.vec_id) AS dup_of
              FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id > b.vec_id
                   JOIN ok ON ok.cid = a.cid
              WHERE list_cosine_similarity(a.e, b.e) >= 0.40
                -- zero-norm guard: undefined cosine is never a duplicate
                AND list_sum(list_transform(a.e, x -> x * x)) > 0
                AND list_sum(list_transform(b.e, x -> x * x)) > 0
              GROUP BY 1
            )
            SELECT m.vec_id, m.cid, w.dup_of IS NULL AS keep,
                   CAST(w.dup_of AS BIGINT) AS dup_of
            FROM m LEFT JOIN wit w ON w.vec_id = m.vec_id
            ORDER BY m.vec_id
        """.format(cent_values=_cent_values2)
    except Exception:  # embeddings table absent: skip this oracle entry
        semdedup_sql = None

    # PQ family: codebooks retrain driver-side on the same deterministic
    # 40% md5-bucket sample (pq_train_local is bit-identical to the
    # distributed trainer), embedded as triple-nested DOUBLE literals;
    # the nearest-codeword argmin (d2 rounded 9, first-minimum tie rule
    # via list_position) and the ADC lookup-table sum re-derive in SQL.
    pq_codes_sql = ann_pq_sql = None
    try:
        import hashlib

        import pyarrow.parquet as pq

        from fuzzy_search_spark.pipeline.ann import pq_train_local

        _sfdir3 = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                 "/root/testdata/sf0.01")
        _emb3 = pq.read_table(f"{_sfdir3}/embeddings.parquet",
                              columns=["vec_id", "embedding"])
        _ids3 = _emb3.column("vec_id").to_pylist()
        _vecs3 = _emb3.column("embedding").to_pylist()
        _train3 = [(i, v) for i, v in zip(_ids3, _vecs3)
                   if int(hashlib.md5(f"pq-v1:{i}".encode())
                          .hexdigest()[:15], 16) % 1_000_000 < 400_000]
        _books3 = pq_train_local([t[0] for t in _train3],
                                 [t[1] for t in _train3],
                                 m=8, k=16, iters=2)
        _cb_lit = "[" + ", ".join(
            "[" + ", ".join(
                "[" + ",".join(repr(float(x)) for x in cw) + "]"
                for cw in sub_book) + "]"
            for sub_book in _books3) + "]::DOUBLE[][][]"
        _pq_code_core = """
            WITH cb(cbs) AS (SELECT {cb_lit}),
            body AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), coded AS (
              SELECT vec_id,
                     list_transform(range(0, 8), s -> CAST(
                       list_position(
                         list_transform(cbs[s+1], cw ->
                           round(list_sum(list_transform(range(1, 9),
                             j -> (e[s*8+j] - cw[j]) * (e[s*8+j] - cw[j])
                           )), 9)),
                         list_min(
                           list_transform(cbs[s+1], cw ->
                             round(list_sum(list_transform(range(1, 9),
                               j -> (e[s*8+j] - cw[j]) * (e[s*8+j] - cw[j])
                             )), 9)))
                       ) - 1 AS INTEGER)) AS codes
              FROM body, cb
            )
        """.format(cb_lit=_cb_lit)
        # array_to_string on an empty list is NULL in DuckDB where Spark's
        # concat_ws gives '' — coalesce per the CLAUDE.md empty-list trap
        # (codes is always length m=8, but keep the guard uniform).
        pq_codes_sql = _pq_code_core + """
            SELECT vec_id,
                   coalesce(array_to_string(
                     list_transform(codes, c -> CAST(c AS VARCHAR)), ','),
                     '') AS codes_joined
            FROM coded ORDER BY vec_id"""
        _q3 = next([float(x) for x in v]
                   for i, v in zip(_ids3, _vecs3) if i == 0)
        _lut3 = [[round(sum((_q3[s * 8 + j] - cw[j]) ** 2
                            for j in range(8)), 9)
                  for cw in _books3[s]] for s in range(8)]
        _lut_lit = "[" + ", ".join(
            "[" + ",".join(repr(v) for v in row) + "]"
            for row in _lut3) + "]::DOUBLE[][]"
        ann_pq_sql = _pq_code_core + """
            SELECT vec_id,
                   round(list_sum(list_transform(range(0, 8),
                         s -> lut[s+1][codes[s+1]+1])), 9) AS adc_d2
            FROM coded, (SELECT {lut_lit} AS lut)
            WHERE vec_id <> 0
            ORDER BY adc_d2, vec_id LIMIT 10
        """.format(lut_lit=_lut_lit)
    except Exception:  # embeddings table absent: skip these oracle entries
        pq_codes_sql = ann_pq_sql = None

    # bpe_token_counts: the literal-constants pattern once more — the merge
    # table retrains driver-side (bit-identical histogram + train_bpe) and
    # the encode re-derives in SQL as 30 nested single-merge applications,
    # each a list_reduce whose accumulator merges (a, b) -> a||b greedily
    # left-to-right (the merged symbol can never equal `a` again within
    # the pass, so the reduce IS the scan).  Sequential-by-rank application
    # equals the engine's rank-order greedy encode only when no later merge
    # recreates an earlier merge's component string; instead of assuming
    # that property we VERIFY both encoders agree on every corpus word type
    # driver-side — and that DuckDB's ASCII `\s` split matches Python's
    # .split() on every document — and emit the oracle only then.
    bpe_counts_sql = bpe_merges_sql = None
    try:
        import re as _re

        import pyarrow.parquet as pq

        from fuzzy_search_spark.analysis.subtoken import (encode_bpe,
                                                          train_bpe)

        _sfdir4 = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                 "/root/testdata/sf0.01")
        _txt4 = pq.read_table(f"{_sfdir4}/documents.parquet",
                              columns=["text"]).column("text").to_pylist()
        # histogram mirror of bpe_from_corpus: Java-\s+ ASCII class + lower
        # + (freq desc, token) order + type cap
        _java_ws = _re.compile(r"[ \t\n\x0b\x0c\r]+")
        _re2_ws = _re.compile(r"[ \t\n\f\r]+")  # RE2 \s: NO \x0b
        _hist4: dict = {}
        for _s4 in _txt4:
            _lo = (_s4 or "").lower()
            if [w for w in _re2_ws.split(_lo) if w] != _lo.split():
                raise ValueError("corpus whitespace defeats the SQL split")
            for _w4 in _java_ws.split(_lo):
                if _w4:
                    _hist4[_w4] = _hist4.get(_w4, 0) + 1
        _hist4 = dict(sorted(_hist4.items(),
                             key=lambda kv: (-kv[1], kv[0]))[:BPE_MAX_TYPES])
        _, _merges4 = train_bpe(_hist4, 30)
        _rank4 = {p: i for i, p in enumerate(_merges4)}

        def _apply_seq(syms, a, b):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        for _w4 in {w for s in _txt4 for w in (s or "").lower().split()}:
            _seq = list(_w4) + [" "]
            for _a4, _b4 in _merges4:
                _seq = _apply_seq(_seq, _a4, _b4)
            if _seq != encode_bpe(_w4, _merges4, _rank=_rank4):
                raise ValueError("sequential != rank-order on this corpus")

        def _lit4(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        # bpe_merges rides the same retrain: the independent content is
        # the HISTOGRAM (pure-Python from the raw parquet, Java-\s split
        # + code-point tie order, vs Spark's distributed groupBy) — the
        # merge loop itself is the same deterministic pure function, so
        # this oracle pins the distributed half of the query, like the
        # IVF centroid literals pin the distributed trainer.
        _merge_rows = ", ".join(
            f"({i}, {_lit4(a)}, {_lit4(b)}, {_lit4(a + b)})"
            for i, (a, b) in enumerate(_merges4))
        bpe_merges_sql = f"""
            SELECT CAST(merge_rank AS INTEGER) AS merge_rank,
                   "left", "right", merged
            FROM (VALUES {_merge_rows})
                 AS t(merge_rank, "left", "right", merged)
            ORDER BY merge_rank
        """

        _enc4 = ("list_append(list_transform(range(1, length(w) + 1), "
                 "i -> substr(w, i, 1)), ' ')")
        for _a4, _b4 in _merges4:
            _enc4 = (
                "list_reduce(list_transform({prev}, s -> [s]), "
                "(acc, x) -> CASE WHEN acc[-1] = {a} AND x[1] = {b} "
                "THEN list_append(acc[1:-2], {ab}) "
                "ELSE list_concat(acc, x) END)"
            ).format(prev=_enc4, a=_lit4(_a4), b=_lit4(_b4),
                     ab=_lit4(_a4 + _b4))
        bpe_counts_sql = f"""
            WITH words AS (
              SELECT doc_id, w FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(text), '\\s+'))
                         AS w
                FROM documents)
              WHERE w <> ''
            ), enc AS (
              SELECT w, len({_enc4}) AS n_syms
              FROM (SELECT DISTINCT w FROM words)
            ), agg AS (
              SELECT doc_id,
                     count(*) AS n_words,
                     sum(n_syms) AS n_bpe
              FROM words JOIN enc USING (w)
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_words, 0) AS INTEGER) AS n_words,
                   CAST(coalesce(a.n_bpe, 0) AS INTEGER) AS n_bpe_tokens,
                   CAST(CASE WHEN coalesce(a.n_words, 0) = 0 THEN 0
                        ELSE (CAST(a.n_bpe AS BIGINT) * 1000000)
                             // CAST(a.n_words AS BIGINT) END AS BIGINT)
                     AS fertility_micro
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY d.doc_id
        """
    except Exception:  # corpus defeats the SQL mirror: stay rows-only
        bpe_counts_sql = bpe_merges_sql = None

    simhash_bits = 60
    simhash_votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(simhash_bits))
    simhash_pack = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(simhash_bits))
    simhash_sql = rf"""
        WITH words AS (
          SELECT DISTINCT doc_id, word FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS word
            FROM documents)
          WHERE length(word) > 0
        ), h AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h
          FROM words
        ), votes AS (
          SELECT doc_id, {simhash_votes} FROM h GROUP BY doc_id
        )
        SELECT doc_id, CAST({simhash_pack} AS BIGINT) AS simhash
        FROM votes ORDER BY doc_id
    """

    ngram_jaccard = """
        WITH {cte}, sizes AS (
          SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM shingles a JOIN shingles b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard
        FROM inter JOIN sizes na ON id_a = na.doc_id
                   JOIN sizes nb ON id_b = nb.doc_id
        WHERE i / (na.n + nb.n - i) >= 0.5
        ORDER BY id_a, id_b
    """.format(cte=shingle_cte)

    def spelling_base_for(text1: str, where1: str,
                          text2: str, where2: str) -> str:
        return r"""
            WITH w1 AS (
              SELECT word, count(*) AS freq FROM (
                SELECT unnest(regexp_split_to_array(lower({t1}), '\s+')) AS word
                FROM documents {f1}) u
              WHERE length(word) > 0 GROUP BY word
            ), w2 AS (
              SELECT word, count(*) AS freq FROM (
                SELECT unnest(regexp_split_to_array(lower({t2}), '\s+')) AS word
                FROM documents {f2}) u
              WHERE length(word) > 0 GROUP BY word
            ), tot AS (""".format(t1=text1, f1=where1, t2=text2, f2=where2) \
            + r"""
              SELECT (SELECT sum(freq) FROM w1)::double AS t1,
                     (SELECT sum(freq) FROM w2)::double AS t2
            ), j AS (
              SELECT coalesce(w1.word, w2.word) AS word,
                     coalesce(w1.freq, 0) AS freq_1,
                     coalesce(w2.freq, 0) AS freq_2,
                     coalesce(w1.freq, 0) / t1 AS frac_1,
                     coalesce(w2.freq, 0) / t2 AS frac_2
              FROM w1 FULL OUTER JOIN w2 ON w1.word = w2.word, tot
              WHERE coalesce(w1.freq, 0) >= 5 OR coalesce(w2.freq, 0) >= 5
            )
    """

    spelling_case = r"""CASE
                     WHEN (frac_2 = 0 AND frac_1 > 0)
                       OR (frac_2 > 0 AND (frac_1 - frac_2) / frac_2 > 5.0)
                       THEN 'disappear'
                     WHEN frac_2 > 0 AND (frac_1 - frac_2) / frac_2 > 0.5
                       THEN 'decrease'
                     WHEN (frac_1 = 0 AND frac_2 > 0)
                       OR (frac_1 > 0 AND (frac_2 - frac_1) / frac_1 > 5.0)
                       THEN 'emerge'
                     WHEN frac_1 > 0 AND (frac_2 - frac_1) / frac_1 > 0.5
                       THEN 'increase'
                     ELSE 'stable'
                   END"""

    media_prefix_case = """CASE doc_id % 5
             WHEN 0 THEN from_hex('89504E470D0A1A0A')
             WHEN 1 THEN from_hex('FFD8FFE0')
             WHEN 2 THEN from_hex('474946383961')
             WHEN 3 THEN from_hex('524946460000000057415645')
             ELSE encode('')
           END"""

    d = {
        "exact_match_counts": f"""
            WITH phrases(phrase) AS (VALUES {_EXACT_PHRASE_VALUES})
            SELECT doc_id, phrase,
                   CAST((length(text) - length(replace(text, phrase, '')))
                     / length(phrase) AS BIGINT) AS n_matches
            FROM documents CROSS JOIN phrases
            WHERE length(text) <> length(replace(text, phrase, ''))
            ORDER BY doc_id, phrase
        """,
        "match_annotations": f"""
            WITH phrases(phrase) AS (VALUES {_EXACT_PHRASE_VALUES}),
            m AS (
              SELECT d.doc_id, CAST(d.doc_id AS VARCHAR) AS url, p.phrase,
                     strpos(d.text, p.phrase) - 1 AS "offset"
              FROM documents d CROSS JOIN phrases p
              WHERE strpos(d.text, p.phrase) > 0
            )
            SELECT doc_id, "offset",
                   to_json(struct_pack(
                     "@context" := 'http://www.w3.org/ns/anno.jsonld',
                     id := md5(url || '|' || phrase || '|'
                               || CAST("offset" AS VARCHAR) || '|'
                               || CAST("offset" + length(phrase) AS VARCHAR)),
                     "type" := 'Annotation',
                     motivation := 'classifying',
                     created := '1970-01-01T00:00:00Z',
                     target := struct_pack(
                       source := url,
                       selector := [struct_pack(
                         "type" := 'TextPositionSelector',
                         start := "offset",
                         "end" := "offset" + length(phrase))]),
                     body := struct_pack(
                       value := phrase,
                       "type" := 'Dataset',
                       exact := phrase)
                   )) AS annotation
            FROM m ORDER BY doc_id, "offset", annotation
        """,
        "token_stats": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '\w+')) AS n_tokens,
                   len(list_distinct(regexp_extract_all(text, '\w+'))) AS n_distinct,
                   round(len(list_distinct(regexp_extract_all(text, '\w+')))
                         / greatest(len(regexp_extract_all(text, '\w+')), 1), 6) AS ttr,
                   round(list_sum(list_transform(regexp_extract_all(text, '\w+'),
                                                 w -> length(w)))
                         / greatest(len(regexp_extract_all(text, '\w+')), 1), 6)
                     AS mean_token_len
            FROM documents ORDER BY doc_id
        """,
        "quality_scores": r"""
            WITH q AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
                     length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS space,
                     greatest(length(text), 1) AS n
              FROM documents
            )
            SELECT doc_id, n_chars,
                   round(alpha / n, 6) AS alpha_ratio,
                   round(digit / n, 6) AS digit_ratio,
                   round((n_chars - alpha - digit - space) / n, 6) AS punct_ratio,
                   round(space / n, 6) AS space_ratio,
                   (n_chars >= 100 AND alpha / n >= 0.6
                    AND (n_chars - alpha - digit - space) / n <= 0.1) AS keep
            FROM q ORDER BY doc_id
        """,
        "language_id": f"""
            WITH v AS (
              SELECT doc_id,
                     {", ".join(f"{votes[l]} AS votes_{l}" for l in _STOPWORD_SQL)}
              FROM documents
            )
            SELECT doc_id,
                   {", ".join(f"votes_{l}" for l in _STOPWORD_SQL)},
                   {lang_case} AS lang_guess
            FROM v ORDER BY doc_id
        """,
        "gopher_quality": r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> length(x) > 0) AS ws,
                     list_filter(regexp_split_to_array(text, '\n'),
                                 ln -> length(trim(ln)) > 0) AS lns
              FROM documents
            ), feat AS (
              SELECT doc_id,
                     len(ws) AS n_words,
                     round(coalesce(
                             list_sum(list_transform(ws, x -> length(x))),
                             0)
                           / greatest(len(ws), 1), 6) AS mean_word_len,
                     round(len(list_filter(ws, x ->
                             contains(x, '#') OR contains(x, '...')
                             OR contains(x, chr(8230))))
                           / greatest(len(ws), 1), 6) AS symbol_ratio,
                     round(len(list_filter(lns, ln ->
                             regexp_matches(trim(ln),
                               '^[' || chr(8226) || '\-\*]')))
                           / greatest(len(lns), 1), 6) AS bullet_ratio,
                     round(len(list_filter(lns, ln ->
                             regexp_matches(trim(ln),
                               '(\.\.\.|' || chr(8230) || ')$')))
                           / greatest(len(lns), 1), 6) AS ellipsis_ratio,
                     round(len(list_filter(ws, x ->
                             regexp_matches(x, '[A-Za-z]')))
                           / greatest(len(ws), 1), 6) AS alpha_ratio,
                     CAST(
                       (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'the') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'be') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'to') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'of') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'and') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'that') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'have') THEN 1 ELSE 0 END)
                     + (CASE WHEN list_contains(list_transform(ws, x -> lower(x)),
                                                'with') THEN 1 ELSE 0 END)
                       AS INTEGER) AS n_stopwords
              FROM w
            )
            SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                   bullet_ratio, ellipsis_ratio, alpha_ratio, n_stopwords,
                   (n_words >= 50 AND n_words <= 100000)
                     AS rule_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                     AS rule_mean_word_len,
                   (symbol_ratio <= 0.1) AS rule_symbol_ratio,
                   (bullet_ratio <= 0.9) AS rule_bullet_lines,
                   (ellipsis_ratio <= 0.3) AS rule_ellipsis_lines,
                   (alpha_ratio >= 0.8) AS rule_alpha_words,
                   (n_stopwords >= 2) AS rule_stopwords,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
                    AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
                    AND n_stopwords >= 2) AS keep
            FROM feat ORDER BY doc_id
        """,
        "c4_filters": r"""
            WITH l AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\n'),
                                 ln -> length(trim(ln)) > 0) AS lns
              FROM documents
            ), k AS (
              SELECT doc_id, text, lns,
                     list_filter(lns, ln ->
                       regexp_matches(trim(ln), '[.!?"'']$')
                       AND len(list_filter(
                             regexp_split_to_array(trim(ln), '\s+'),
                             w -> length(w) > 0)) >= 5
                       AND NOT contains(lower(trim(ln)), 'javascript'))
                       AS kept
              FROM l
            ), c AS (
              SELECT doc_id, text, lns, kept,
                     coalesce(array_to_string(kept, chr(10)), '')
                       AS clean_text
              FROM k
            )
            SELECT doc_id,
                   len(lns) AS n_lines,
                   len(kept) AS n_lines_kept,
                   clean_text,
                   CAST(CASE WHEN length(clean_text) = 0 THEN 0
                        ELSE len(list_filter(
                               regexp_split_to_array(clean_text, '[.!?]'),
                               s -> length(trim(s)) > 0)) END
                        AS INTEGER) AS n_sentences,
                   contains(lower(text), 'lorem ipsum')
                     AS has_lorem_ipsum,
                   contains(text, '{') AS has_curly_brace,
                   ((CASE WHEN length(clean_text) = 0 THEN 0
                     ELSE len(list_filter(
                            regexp_split_to_array(clean_text, '[.!?]'),
                            s -> length(trim(s)) > 0)) END) >= 3
                    AND NOT contains(lower(text), 'lorem ipsum')
                    AND NOT contains(text, '{')) AS keep
            FROM c ORDER BY doc_id
        """,
        "fingerprints": r"""
            WITH n AS (
              SELECT doc_id, text,
                     regexp_split_to_array(
                       regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS w,
                     regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
              FROM documents
            )
            SELECT doc_id,
                   md5(text) AS md5_exact,
                   md5(norm) AS md5_normalized,
                   list_min([md5(array_to_string(w[i:i+4], ' '))
                             for i in range(1, greatest(len(w) - 4, 1) + 1)])
                     AS winnow_min
            FROM n ORDER BY doc_id
        """,
        "cross_doc_spans": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), g AS (
              SELECT doc_id,
                     unnest([i - 1 for i in
                             range(1, greatest(len(w) - 4, 0) + 1)]) AS pos,
                     unnest([array_to_string(w[i:i+4], ' ')
                             for i in range(1, greatest(len(w) - 4, 0) + 1)])
                       AS gram
              FROM words WHERE len(w) >= 5
            ), h AS (
              SELECT doc_id, pos,
                     CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                       AS span_hash
              FROM g WHERE length(gram) > 0
            ), flagged AS (
              SELECT span_hash FROM h
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ), d AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS prev
              FROM h SEMI JOIN flagged USING (span_hash)
            ), isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev IS NULL OR pos - prev > 5
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM d
            )
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS tok_start,
                   CAST(max(pos) + 5 AS BIGINT) AS tok_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM isl GROUP BY doc_id, island
            ORDER BY doc_id, tok_start
        """,
        "strip_cross_doc_spans": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), g AS (
              SELECT doc_id,
                     unnest([i - 1 for i in
                             range(1, greatest(len(w) - 4, 0) + 1)]) AS pos,
                     unnest([array_to_string(w[i:i+4], ' ')
                             for i in range(1, greatest(len(w) - 4, 0) + 1)])
                       AS gram
              FROM words WHERE len(w) >= 5
            ), h AS (
              SELECT doc_id, pos,
                     CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                       AS span_hash
              FROM g WHERE length(gram) > 0
            ), flagged AS (
              SELECT span_hash FROM h
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ), d AS (
              SELECT doc_id, pos
              FROM h SEMI JOIN flagged USING (span_hash)
            ), worig AS (
              SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
              FROM documents
            ), toks AS (
              SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
                     unnest(w) AS tok
              FROM worig
            ), kept AS (
              SELECT t.doc_id, t.pos, t.tok
              FROM toks t
              WHERE NOT EXISTS (
                SELECT 1 FROM d
                WHERE d.doc_id = t.doc_id
                  AND t.pos >= d.pos AND t.pos < d.pos + 5)
            )
            SELECT worig.doc_id,
                   CAST(len(worig.w) AS BIGINT) AS n_tokens,
                   CAST(len(worig.w) - count(kept.tok) AS BIGINT)
                     AS n_removed,
                   coalesce(string_agg(kept.tok, ' ' ORDER BY kept.pos),
                            '') AS clean_text
            FROM worig LEFT JOIN kept USING (doc_id)
            GROUP BY worig.doc_id, worig.w
            ORDER BY worig.doc_id
        """,
        "duplicate_spans": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), g AS (
              SELECT doc_id,
                     unnest([array_to_string(w[i:i+4], ' ')
                             for i in range(1, greatest(len(w) - 4, 0) + 1)])
                       AS gram
              FROM words WHERE len(w) >= 5
            )
            SELECT CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                     AS span_hash,
                   gram,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occ
            FROM g WHERE length(gram) > 0
            GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
            ORDER BY span_hash
        """,
        "boilerplate_ratio": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), g AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                       AS span_hash
              FROM (
                SELECT doc_id,
                       unnest([array_to_string(w[i:i+4], ' ')
                               for i in range(1, greatest(len(w) - 4, 0) + 1)])
                         AS gram
                FROM words WHERE len(w) >= 5
              ) WHERE length(gram) > 0
            ), dup AS (
              SELECT span_hash FROM g
              GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
            )
            SELECT g.doc_id,
                   count(*) AS n_spans,
                   CAST(sum(CASE WHEN dup.span_hash IS NULL THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_dup_spans,
                   round(sum(CASE WHEN dup.span_hash IS NULL THEN 0 ELSE 1 END)
                         / greatest(count(*), 1), 6) AS dup_ratio
            FROM g LEFT JOIN dup ON g.span_hash = dup.span_hash
            GROUP BY g.doc_id ORDER BY g.doc_id
        """,
        "repetition_signals": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), g AS (
              SELECT doc_id, n,
                     CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gh,
                     count(*) AS c
              FROM (
                SELECT doc_id, 2 AS n,
                       unnest([array_to_string(w[i:i+1], ' ')
                               for i in range(1, greatest(len(w) - 1, 0) + 1)])
                         AS gram
                FROM words WHERE len(w) >= 2
                UNION ALL
                SELECT doc_id, 3,
                       unnest([array_to_string(w[i:i+2], ' ')
                               for i in range(1, greatest(len(w) - 2, 0) + 1)])
                FROM words WHERE len(w) >= 3
                UNION ALL
                SELECT doc_id, 5,
                       unnest([array_to_string(w[i:i+4], ' ')
                               for i in range(1, greatest(len(w) - 4, 0) + 1)])
                FROM words WHERE len(w) >= 5
                UNION ALL
                SELECT doc_id, 10,
                       unnest([array_to_string(w[i:i+9], ' ')
                               for i in range(1, greatest(len(w) - 9, 0) + 1)])
                FROM words WHERE len(w) >= 10
              ) WHERE length(gram) > 0
              GROUP BY doc_id, n, gh
            ), p AS (
              SELECT doc_id,
                     sum(CASE WHEN n = 2 THEN c END) AS g2,
                     max(CASE WHEN n = 2 THEN c END) AS m2,
                     sum(CASE WHEN n = 3 THEN c END) AS g3,
                     max(CASE WHEN n = 3 THEN c END) AS m3,
                     sum(CASE WHEN n = 5 THEN c END) AS g5,
                     sum(CASE WHEN n = 5 AND c > 1 THEN c END) AS d5,
                     sum(CASE WHEN n = 10 THEN c END) AS g10,
                     sum(CASE WHEN n = 10 AND c > 1 THEN c END) AS d10
              FROM g GROUP BY doc_id
            )
            SELECT d.doc_id,
                   len(regexp_split_to_array(lower(d.text), '\s+'))
                     AS n_tokens,
                   round(coalesce(m2 / g2, 0), 6) AS top2_frac,
                   round(coalesce(m3 / g3, 0), 6) AS top3_frac,
                   round(coalesce(d5 / g5, 0), 6) AS dup5_frac,
                   round(coalesce(d10 / g10, 0), 6) AS dup10_frac
            FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
            ORDER BY d.doc_id
        """,
        "decontaminate": r"""
            WITH words AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), g AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)
                       AS span_hash
              FROM (
                SELECT doc_id,
                       unnest([array_to_string(w[i:i+4], ' ')
                               for i in range(1, greatest(len(w) - 4, 0) + 1)])
                         AS gram
                FROM words WHERE len(w) >= 5
              ) WHERE length(gram) > 0
            ), bench AS (
              SELECT DISTINCT span_hash FROM g WHERE doc_id % 97 = 0
            ), corpus AS (
              SELECT DISTINCT doc_id, span_hash FROM g WHERE doc_id % 97 <> 0
            ), hits AS (
              SELECT c.doc_id, count(*) AS n_bench_spans
              FROM corpus c JOIN bench b USING (span_hash)
              GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.n_bench_spans, 0) AS n_bench_spans,
                   coalesce(h.n_bench_spans, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
            WHERE d.doc_id % 97 <> 0
            ORDER BY d.doc_id
        """,
        "pii_scan": r"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com'
                          || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                          || ' tel +31 20 '
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' 9' AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS n_emails,
                   len(regexp_extract_all(text,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
                   len(regexp_extract_all(text,
                       '\+[0-9][0-9() .-]{6,}[0-9]')) AS n_phones,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(text,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
                   + len(regexp_extract_all(text,
                       '\+[0-9][0-9() .-]{6,}[0-9]')) AS n_pii,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                       '\+[0-9][0-9() .-]{6,}[0-9]', '<PHONE>', 'g')
                     AS redacted_text
            FROM aug ORDER BY doc_id
        """,
        "subword_token_stats": r"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' don''t overfit; cost: $'
                          || CAST(doc_id % 100 AS VARCHAR) || '.99!' AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_split_to_array(text, '\s+')) AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
                     AS n_subword_tokens,
                   round(len(regexp_extract_all(text,
                       '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
                         / greatest(len(regexp_split_to_array(text, '\s+')),
                                    1), 6) AS subword_ratio
            FROM aug ORDER BY doc_id
        """,
        "mixture_plan": r"""
            WITH w(source, w) AS (
              SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.25),
                                    ('src2', 0.125), ('src3', 0.125))
            ), s AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len(regexp_split_to_array(text, '\s+')))
                          AS BIGINT) AS n_tokens
              FROM documents GROUP BY source
            )
            SELECT s.source, n_docs, n_tokens,
                   round(CAST(w.w AS DOUBLE) * 2000.0, 6) AS target_tokens,
                   round(least(1.0, round(CAST(w.w AS DOUBLE) * 2000.0, 6)
                                    / n_tokens), 6)
                     AS rate
            FROM s JOIN w ON s.source = w.source
            ORDER BY s.source
        """,
        "corpus_sample": r"""
            WITH rates(source, rate) AS (
              SELECT * FROM (VALUES ('src0', 0.75), ('src1', 0.5),
                                    ('src2', 0.25), ('src3', 0.1))
            ), b AS (
              SELECT doc_id, source,
                     CAST('0x' || substr(md5('mix-v1:'
                           || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 1000000 AS bucket
              FROM documents
            )
            SELECT b.doc_id, b.source, b.bucket
            FROM b JOIN rates USING (source)
            WHERE bucket < CAST(floor(rate * 1000000) AS BIGINT)
            ORDER BY b.doc_id
        """,
        "packing_plan": r"""
            WITH b AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5('pack-v1:'
                       || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       AS o,
                     CAST(len(regexp_split_to_array(text, '\s+'))
                          AS BIGINT) AS n_tokens
              FROM documents
            ), w AS (
              SELECT doc_id, o % 8 AS shard, o, n_tokens,
                     row_number() OVER (PARTITION BY o % 8
                                        ORDER BY o, doc_id) - 1 AS pos,
                     CAST(sum(n_tokens) OVER (PARTITION BY o % 8
                                              ORDER BY o, doc_id
                                              ROWS UNBOUNDED PRECEDING)
                          - n_tokens AS BIGINT) AS start_tok
              FROM b
            )
            SELECT doc_id, shard, pos, n_tokens, start_tok,
                   CAST(floor(start_tok / 512) AS BIGINT) AS bin_id,
                   CAST(start_tok % 512 AS BIGINT) AS bin_offset
            FROM w ORDER BY doc_id
        """,
        "url_dedup": r"""
            WITH pages AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS'
                           ELSE 'https' END)
                     || '://'
                     || (CASE WHEN doc_id % 4 < 2 THEN 'WWW.Example.COM'
                              ELSE 'www.example.com' END)
                     || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
                     || '/site/' || CAST(doc_id % 40 AS VARCHAR)
                     || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN doc_id % 11 = 0 THEN '?q=1' ELSE '' END)
                     || (CASE WHEN doc_id % 7 = 0 THEN '#section-2'
                              ELSE '' END) AS url
              FROM documents
            ), parts AS (
              SELECT doc_id, regexp_replace(url, '#.*$', '') AS u
              FROM pages
            ), ext AS (
              SELECT doc_id, u,
                     lower(regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^#]*)', 1))
                       AS scheme,
                     lower(regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^#]*)', 2))
                       AS host0,
                     regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^#]*)', 3)
                       AS rest0
              FROM parts
            ), canon AS (
              SELECT doc_id,
                     CASE WHEN host = '' THEN lower(u)
                          ELSE scheme || '://' || host || rest END
                       AS canonical_url
              FROM (
                SELECT doc_id, u, scheme,
                       CASE WHEN scheme = 'http'
                              THEN regexp_replace(host0, ':80$', '')
                            WHEN scheme = 'https'
                              THEN regexp_replace(host0, ':443$', '')
                            ELSE host0 END AS host,
                       CASE WHEN strpos(rest0, '?') = 0
                              THEN regexp_replace(rest0, '/+$', '')
                            ELSE rest0 END AS rest
                FROM ext
              )
            )
            SELECT canonical_url, min(doc_id) AS keep_id,
                   count(*) AS n_pages
            FROM canon GROUP BY canonical_url HAVING count(*) >= 2
            ORDER BY canonical_url
        """,
        "extract_links": f"""
            WITH {page_html_cte},
            lx AS (
              SELECT doc_id,
                     regexp_extract_all(html, '{link_re}', 1) AS hrefs,
                     regexp_extract_all(html, '{link_re}', 2) AS anchors
              FROM pages
            ), links AS (
              SELECT doc_id, u.link_pos, u.href, u.anchor FROM (
                SELECT doc_id,
                       unnest([{{'link_pos': i - 1, 'href': hrefs[i],
                                 'anchor': anchors[i]}}
                               for i in range(1, len(hrefs) + 1)]) AS u
                FROM lx)
            ), {canon_href}
            SELECT doc_id, link_pos, href, anchor, canonical_href
            FROM canon ORDER BY doc_id, link_pos
        """,
        "link_graph": f"""
            WITH {graph_cte}
            SELECT src_host, dst_host, n_links, n_src_pages
            FROM g ORDER BY src_host, dst_host
        """,
        "pagerank_hosts": f"""
            WITH {graph_cte},
            nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src_host AS node FROM g
                UNION ALL SELECT dst_host FROM g)
            ), nn AS (SELECT count(*) AS n FROM nodes),
            outw AS (
              SELECT src_host, CAST(sum(n_links) AS DOUBLE) AS w_out
              FROM g GROUP BY src_host
            ), r0 AS (
              SELECT node,
                     round(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), 10)
                       AS rank
              FROM nodes
            ){pr_iters}
            SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node
        """,
        "anchor_text_index": f"""
            WITH {page_html_cte},
            lx AS (
              SELECT doc_id,
                     regexp_extract_all(html, '{link_re}', 1) AS hrefs,
                     regexp_extract_all(html, '{link_re}', 2) AS anchors
              FROM pages
            ), links AS (
              SELECT doc_id, u.href, u.anchor FROM (
                SELECT doc_id,
                       unnest([{{'href': hrefs[i], 'anchor': anchors[i]}}
                               for i in range(1, len(hrefs) + 1)]) AS u
                FROM lx)
            ), {canon_href},
            counts AS (
              SELECT canonical_href, anchor, count(*) AS c
              FROM canon WHERE length(anchor) > 0
              GROUP BY canonical_href, anchor
            ), ranked AS (
              SELECT canonical_href, anchor, c,
                     row_number() OVER (PARTITION BY canonical_href
                                        ORDER BY c DESC, anchor ASC) AS rn,
                     CAST(sum(c) OVER (PARTITION BY canonical_href)
                          AS BIGINT) AS n_mentions,
                     count(*) OVER (PARTITION BY canonical_href)
                       AS n_anchors
              FROM counts
            )
            SELECT canonical_href, n_mentions, n_anchors,
                   anchor AS top_anchor, c AS top_count
            FROM ranked WHERE rn = 1 ORDER BY canonical_href
        """,
        "crawl_directives": f"""
            WITH pages AS (
              SELECT doc_id,
                     'https://host' || CAST(doc_id % 10 AS VARCHAR)
                       || '.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                     '<html><head>'
                     || (CASE WHEN doc_id % 3 = 0
                              THEN '<meta name="robots" content="noindex, nofollow">'
                              WHEN doc_id % 3 = 1
                              THEN '<meta content="NOINDEX" name="robots">'
                              ELSE '' END)
                     || (CASE WHEN doc_id % 4 = 0
                              THEN '<link rel="canonical" href="HTTP://Canon.example.com:80/page/'
                                   || CAST(doc_id % 25 AS VARCHAR) || '">'
                              WHEN doc_id % 4 = 1
                              THEN '<link href="/self" rel="canonical">'
                              ELSE '' END)
                     || '</head><body>x</body></html>' AS html
              FROM documents
            ), mx AS (
              SELECT doc_id, url,
                     lower(coalesce(
                       nullif(regexp_extract(html,
                         '<meta [^>]*name="robots"[^>]*content="([^"]*)"', 1), ''),
                       nullif(regexp_extract(html,
                         '<meta [^>]*content="([^"]*)"[^>]*name="robots"', 1), ''),
                       '')) AS robots,
                     coalesce(
                       nullif(regexp_extract(html,
                         '<link [^>]*rel="canonical"[^>]*href="([^"]*)"', 1), ''),
                       nullif(regexp_extract(html,
                         '<link [^>]*href="([^"]*)"[^>]*rel="canonical"', 1), ''),
                       '') AS rel_canonical
              FROM pages
            ), links AS (
              SELECT doc_id, robots, rel_canonical,
                     CASE WHEN rel_canonical <> '' THEN rel_canonical
                          ELSE url END AS href
              FROM mx
            ), {canon_href}
            SELECT doc_id,
                   contains(robots, 'noindex') AS noindex,
                   contains(robots, 'nofollow') AS nofollow,
                   rel_canonical,
                   canonical_href AS effective_canonical
            FROM canon ORDER BY doc_id
        """,
        "warc_ingest": """
            WITH pages AS (
              SELECT 'https://example.org/' || CAST(doc_id AS VARCHAR)
                       AS url,
                     strftime(TIMESTAMP '2020-01-01 00:00:00'
                              + to_seconds(doc_id),
                              '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
                     CAST(200 AS INT) AS http_status,
                     'text/html; charset=utf-8' AS content_type,
                     '<html><body><p>'
                     || replace(replace(replace(coalesce(text, ''),
                          '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                     || '</p></body></html>' AS html
              FROM documents
            )
            SELECT url, warc_date, http_status, content_type,
                   md5(html) AS html_md5, strlen(html) AS n_bytes
            FROM pages ORDER BY url
        """,
        "normalize_nfc": """
            SELECT doc_id,
                   (doc_id % 3 <> 1) AS changed,
                   md5(nfc_normalize(text || CASE doc_id % 3
                         WHEN 0 THEN ' café'
                         WHEN 2 THEN ' ÅB'
                         ELSE '' END)) AS nfc_md5
            FROM documents ORDER BY doc_id
        """,
        "host_page_cap": """
            WITH u AS (
              SELECT doc_id,
                     'https://host' || CAST(doc_id % 10 AS VARCHAR)
                       || '.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                     'host' || CAST(doc_id % 10 AS VARCHAR) || '.com'
                       AS host
              FROM documents
            ), r AS (
              SELECT doc_id, url, host,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY md5(url), url, doc_id)
                       AS host_rank
              FROM u
            )
            SELECT doc_id, url, host, host_rank,
                   host_rank <= 30 AS kept
            FROM r ORDER BY doc_id
        """,
        "fix_mojibake": """
            SELECT doc_id,
                   (doc_id % 3 = 0) AS was_mojibake,
                   md5(text || CASE doc_id % 3
                                 WHEN 0 THEN ' café déjà vu'
                                 WHEN 2 THEN ' naïve'
                                 ELSE '' END) AS fixed_md5
            FROM documents ORDER BY doc_id
        """,
        "robots_admission": """
            WITH u AS (
              SELECT doc_id, CAST(doc_id % 10 AS VARCHAR) AS hs,
                     CAST(doc_id AS VARCHAR) AS ids, 'p' AS kind
              FROM documents
              UNION ALL
              SELECT doc_id, CAST(doc_id % 10 AS VARCHAR),
                     CAST(doc_id AS VARCHAR), 'q'
              FROM documents
            )
            SELECT 'https://host' || hs || '.com/' || kind || '/' || ids
                     AS url,
                   CASE WHEN kind = 'q' THEN true
                        WHEN starts_with(ids, hs || '0') THEN true
                        WHEN starts_with(ids, hs) THEN false
                        ELSE true END AS allowed_star,
                   CASE WHEN kind = 'p' AND starts_with(ids, hs || '0')
                          THEN '/p/' || hs || '0'
                        WHEN kind = 'p' AND starts_with(ids, hs)
                          THEN '/p/' || hs
                        ELSE '' END AS match_star,
                   CASE WHEN kind = 'q' THEN (doc_id % 10) <> 7
                        ELSE true END AS allowed_bot
            FROM u ORDER BY url
        """,
        "wet_roundtrip": """
            SELECT 'part-' || lpad(CAST(
                     CAST('0x' || substr(md5('https://example.org/'
                            || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 8 AS VARCHAR), 5, '0') || '.warc.wet.gz'
                     AS wet_file,
                   'https://example.org/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   strftime(TIMESTAMP '2020-01-01 00:00:00'
                            + to_seconds(doc_id),
                            '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
                   md5(coalesce(text, '')) AS text_md5
            FROM documents ORDER BY url
        """,
        "lm3_doc_scores": r"""
            WITH tr AS (
              SELECT regexp_extract_all(lower(text), '\w+') AS t
              FROM documents WHERE doc_id % 2 = 0
            ), pp AS (
              SELECT list_prepend('<s>', list_prepend('<s>', t)) AS p
              FROM tr
            ), uni AS (
              SELECT u AS w, count(*)::BIGINT AS c
              FROM tr, unnest(t) AS z(u) GROUP BY 1
            ), tot AS (
              SELECT (SELECT sum(c) FROM uni) AS T,
                     (SELECT count(*) FROM uni) AS V,
                     (SELECT count(*) FROM tr) AS ndocs
            ), bi AS (
              SELECT g, count(*)::BIGINT AS c12
              FROM (SELECT unnest([p[i] || ' ' || p[i+1]
                                   for i in range(1, greatest(len(p), 1))])
                             AS g FROM pp)
              GROUP BY 1
            ), tri AS (
              SELECT g, count(*)::BIGINT AS c123
              FROM (SELECT unnest([p[i] || ' ' || p[i+1] || ' ' || p[i+2]
                                   for i in range(1,
                                       greatest(len(p) - 1, 1))])
                             AS g FROM pp)
              GROUP BY 1
            ), bic AS (
              SELECT b.g, b.c12, coalesce(u.c, t.ndocs) AS c1
              FROM bi b
              LEFT JOIN uni u ON u.w = split_part(b.g, ' ', 1)
              CROSS JOIN tot t
            ), tric AS (
              SELECT r.g, r.c123, coalesce(b.c12, t.ndocs) AS c12
              FROM tri r
              LEFT JOIN bi b
                ON b.g = split_part(r.g, ' ', 1) || ' '
                         || split_part(r.g, ' ', 2)
              CROSS JOIN tot t
            ), grams AS (
              SELECT doc_id,
                     unnest([p[i] || ' ' || p[i+1] || ' ' || p[i+2]
                             for i in range(1, greatest(len(p) - 1, 1))])
                       AS g
              FROM (SELECT doc_id,
                           list_prepend('<s>', list_prepend('<s>',
                             regexp_extract_all(lower(text), '\w+'))) AS p
                    FROM documents)
            ), scored AS (
              SELECT doc_id,
                     CAST(round((CASE
                       WHEN t3.c123 IS NOT NULL
                         THEN log10(t3.c123 / t3.c12::DOUBLE)
                       WHEN b2.c12 IS NOT NULL
                         THEN log10(0.4 * b2.c12 / b2.c1)
                       WHEN u3.c IS NOT NULL
                         THEN log10((0.4 * 0.4) * (u3.c + 1)
                                    / (tt.T + tt.V + 1.0))
                       ELSE log10((0.4 * 0.4) / (tt.T + tt.V + 1.0))
                     END) * 1000000.0) AS BIGINT) AS micro
              FROM grams
              LEFT JOIN tric t3 ON t3.g = grams.g
              LEFT JOIN bic b2
                ON b2.g = split_part(grams.g, ' ', 2) || ' '
                          || split_part(grams.g, ' ', 3)
              LEFT JOIN uni u3 ON u3.w = split_part(grams.g, ' ', 3)
              CROSS JOIN tot tt
            ), agg AS (
              SELECT doc_id, count(*)::BIGINT AS n_scored,
                     sum(micro)::BIGINT AS sum_logp_micro
              FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.n_scored, 0) AS n_scored,
                   coalesce(a.sum_logp_micro, 0) AS sum_logp_micro,
                   (CASE WHEN coalesce(a.n_scored, 0) > 0
                         THEN CAST(round(a.sum_logp_micro
                                         / a.n_scored::DOUBLE) AS BIGINT)
                         ELSE 0 END) / 1000000.0 AS avg_logp,
                   round(pow(10.0,
                     -((CASE WHEN coalesce(a.n_scored, 0) > 0
                             THEN CAST(round(a.sum_logp_micro
                                             / a.n_scored::DOUBLE)
                                       AS BIGINT)
                             ELSE 0 END) / 1000000.0)), 4) AS perplexity
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
            ORDER BY d.doc_id
        """,
        "lm_doc_scores": r"""
            WITH tr AS (
              SELECT regexp_extract_all(lower(text), '\w+') AS t
              FROM documents WHERE doc_id % 2 = 0
            ), uni AS (
              SELECT u AS w, count(*)::BIGINT AS c
              FROM tr, unnest(t) AS z(u) GROUP BY 1
            ), tot AS (
              SELECT (SELECT sum(c) FROM uni) AS T,
                     (SELECT count(*) FROM uni) AS V,
                     (SELECT count(*) FROM tr) AS ndocs
            ), trp AS (
              SELECT list_prepend('<s>', t) AS p FROM tr
            ), big AS (
              SELECT g, count(*)::BIGINT AS c12
              FROM (SELECT unnest([p[i] || ' ' || p[i+1]
                                   for i in range(1, greatest(len(p), 1))])
                             AS g
                    FROM trp)
              GROUP BY 1
            ), bigc AS (
              SELECT b.g, b.c12, coalesce(u.c, t.ndocs) AS c1
              FROM big b
              LEFT JOIN uni u ON u.w = split_part(b.g, ' ', 1)
              CROSS JOIN tot t
            ), pairs AS (
              SELECT doc_id,
                     unnest([p[i] || ' ' || p[i+1]
                             for i in range(1, greatest(len(p), 1))]) AS g
              FROM (SELECT doc_id,
                           list_prepend('<s>',
                             regexp_extract_all(lower(text), '\w+')) AS p
                    FROM documents)
            ), scored AS (
              SELECT doc_id,
                     CAST(round((CASE
                       WHEN b.c12 IS NOT NULL
                         THEN log10(b.c12 / b.c1::DOUBLE)
                       WHEN u2.c IS NOT NULL
                         THEN log10(0.4 * (u2.c + 1) / (t.T + t.V + 1.0))
                       ELSE log10(0.4 / (t.T + t.V + 1.0))
                     END) * 1000000.0) AS BIGINT) AS micro
              FROM pairs
              LEFT JOIN bigc b ON b.g = pairs.g
              LEFT JOIN uni u2 ON u2.w = split_part(pairs.g, ' ', 2)
              CROSS JOIN tot t
            ), agg AS (
              SELECT doc_id, count(*)::BIGINT AS n_scored,
                     sum(micro)::BIGINT AS sum_logp_micro
              FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.n_scored, 0) AS n_scored,
                   coalesce(a.sum_logp_micro, 0) AS sum_logp_micro,
                   (CASE WHEN coalesce(a.n_scored, 0) > 0
                         THEN CAST(round(a.sum_logp_micro
                                         / a.n_scored::DOUBLE) AS BIGINT)
                         ELSE 0 END) / 1000000.0 AS avg_logp,
                   round(pow(10.0,
                     -((CASE WHEN coalesce(a.n_scored, 0) > 0
                             THEN CAST(round(a.sum_logp_micro
                                             / a.n_scored::DOUBLE) AS BIGINT)
                             ELSE 0 END) / 1000000.0)), 4) AS perplexity
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
            ORDER BY d.doc_id
        """,
        "strip_dup_paragraphs": f"""
            WITH pg AS (
              SELECT doc_id,
                     substring(text, 1, 60)
                     || chr(10) || chr(10)
                     || (CASE WHEN doc_id % 4 = 0
                              THEN 'cookie consent banner please accept'
                                   || ' our policy'
                              ELSE substring(text, 61, 40) END)
                     || chr(10) || chr(10)
                     || (CASE WHEN doc_id % 2 = 0
                              THEN 'copyright footer all rights reserved'
                              ELSE '' END) AS text
              FROM documents
            ), pl AS (
              SELECT doc_id,
                     string_split(text, chr(10) || chr(10)) AS l
              FROM pg
            ), ph AS (
              SELECT doc_id, u.pos, u.para,
                     {_h60('u.para')} AS phash
              FROM (
                SELECT doc_id,
                       unnest([{{'pos': i - 1, 'para': l[i]}}
                               for i in range(1, len(l) + 1)]) AS u
                FROM pl)
              WHERE length(u.para) > 0
            ), dup AS (
              SELECT phash FROM ph
              GROUP BY phash HAVING count(DISTINCT doc_id) >= 2
            ), agg AS (
              SELECT ph.doc_id,
                     count(*) AS n_paras,
                     CAST(count(*) FILTER (WHERE dup.phash IS NULL)
                          AS BIGINT) AS n_kept,
                     coalesce(string_agg(ph.para, chr(10) || chr(10)
                                         ORDER BY ph.pos)
                              FILTER (WHERE dup.phash IS NULL), '')
                       AS clean_text
              FROM ph LEFT JOIN dup ON ph.phash = dup.phash
              GROUP BY ph.doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.n_paras, 0) AS n_paras,
                   coalesce(a.n_kept, 0) AS n_kept,
                   coalesce(a.clean_text, '') AS clean_text
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
            ORDER BY d.doc_id
        """,
        "exact_dup_groups": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1 HAVING count(*) > 1
            ORDER BY text_hash
        """,
        "minhash_signatures": minhash_sig + " ORDER BY doc_id",
        "minhash_lsh_pairs": lsh_pairs,
        "near_duplicates": near_dups_verified,
        "incremental_near_dups": incremental_near_dups_sql,
        "near_dup_groups": near_dup_groups_sql,
        "corpus_clean": corpus_clean_sql,
        "best_representatives": best_reps_sql,
        "corpus_clean_best": corpus_clean_best_sql,
        "simhash": simhash_sql,
        "ngram_jaccard_pairs": ngram_jaccard,
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)
                     AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.45
            ORDER BY id_a, id_b
        """,
        "media_metadata": f"""
            WITH p AS (
              SELECT CAST(doc_id AS VARCHAR) AS url, doc_id % 5 AS m,
                     {media_prefix_case} || encode(text) AS payload
              FROM documents
            )
            SELECT url,
                   CASE m WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                          WHEN 2 THEN 'image/gif' WHEN 3 THEN 'audio/wav'
                          ELSE 'application/octet-stream' END AS media_type,
                   octet_length(payload) AS n_bytes,
                   md5(lower(hex(payload))) AS content_md5
            FROM p ORDER BY url
        """,
        # image/audio features are REAL decodes of valid PNG/WAV payloads
        # whose content is sha256(text) repeated (multimodal.synth_png_
        # payload / synth_wav_payload) — so the oracle predicts every
        # decoded statistic from sha256(text) without any codec:
        # - mean_r: each RGB channel's 256 pixels cover the 32 digest
        #   bytes uniformly (gcd(3,32)=1), so the channel mean IS the
        #   digest-byte mean;
        # - e0: first pixel / 255 in float32 (one REAL-cast division
        #   emulates numpy's float32 arithmetic bit-for-bit).
        "image_features": """
            WITH docs AS (
              SELECT doc_id, sha256(text) AS sha FROM documents
              WHERE doc_id % 5 = 0
            ), bytes AS (
              SELECT doc_id, j,
                     CAST('0x' || substr(sha, 1 + 2*j, 2) AS INT) AS b
              FROM docs, (SELECT unnest(generate_series(0, 31)) AS j)
            )
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   'image/png' AS media_type,
                   16 AS height, 16 AS width,
                   round(avg(b), 6) AS mean_r,
                   round(CAST(CAST(
                       CAST(min(CASE WHEN j = 0 THEN b END) AS DOUBLE)
                       / 255.0 AS REAL) AS DOUBLE), 6) AS e0
            FROM bytes GROUP BY doc_id ORDER BY url
        """,
        # APNG frames: frame i's pixel stream is sha256(text || '|' || i)
        # repeated — per-frame channel means cover the 32 digest bytes
        # uniformly, exactly like the still-image case above
        "video_frame_features": """
            WITH docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
            ), fr AS (
              SELECT doc_id,
                     CAST(f AS INT) AS f,
                     sha256(text || '|' || CAST(f AS VARCHAR)) AS sha
              FROM docs, (SELECT unnest(generate_series(0, 2)) AS f)
            ), bytes AS (
              SELECT doc_id, f,
                     CAST('0x' || substr(sha, 1 + 2*j, 2) AS INT) AS b
              FROM fr, (SELECT unnest(generate_series(0, 31)) AS j)
            )
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   3 AS n_frames, f AS frame_index,
                   16 AS height, 16 AS width,
                   round(avg(b), 6) AS mean_r
            FROM bytes GROUP BY doc_id, f ORDER BY url, frame_index
        """,
        "sitemap_entries": """
            WITH d AS (
              SELECT doc_id,
                     'host' || CAST(doc_id % 10 AS VARCHAR) || '.com'
                       AS host,
                     CAST(doc_id % 10 AS VARCHAR) AS hs,
                     CAST(doc_id AS VARCHAR) AS ids,
                     lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS day
              FROM documents
            ), rows_ AS (
              SELECT host, 0 AS pos, 'url' AS kind,
                     'https://host' || hs || '.com/p/' || ids AS loc,
                     '2024-01-' || day AS lastmod
              FROM d
              UNION ALL
              SELECT host, 1, 'url',
                     'https://host' || hs || '.com/q/' || ids, NULL
              FROM d
              UNION ALL
              SELECT host, 2, 'sitemap',
                     'https://host' || hs || '.com/maps/' || ids
                       || '.xml', NULL
              FROM d WHERE doc_id % 4 = 0
            )
            SELECT host, pos, kind, loc, lastmod
            FROM rows_ ORDER BY loc, kind
        """,
        "assign_splits": """
            WITH b AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5('split-v1:'
                            || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 1000000 AS bucket
              FROM documents
            )
            SELECT doc_id, bucket,
                   CASE WHEN bucket < 900000 THEN 'train'
                        WHEN bucket < 950000 THEN 'validation'
                        ELSE 'test' END AS split
            FROM b ORDER BY doc_id
        """,
        "crawl_delta": """
            WITH base AS (
              SELECT 'https://host' || CAST(doc_id % 10 AS VARCHAR)
                       || '.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                     doc_id, text
              FROM documents
            ), o AS (
              SELECT url, md5(text) AS old_md5 FROM base
              WHERE doc_id % 5 <> 0
            ), n AS (
              SELECT url,
                     md5(CASE WHEN doc_id % 7 = 0
                              THEN text || ' [rev2]' ELSE text END)
                       AS new_md5
              FROM base WHERE doc_id % 3 <> 0
            )
            SELECT coalesce(o.url, n.url) AS url,
                   CASE WHEN o.url IS NULL THEN 'added'
                        WHEN n.url IS NULL THEN 'removed'
                        WHEN old_md5 = new_md5 THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   old_md5, new_md5
            FROM o FULL OUTER JOIN n ON o.url = n.url
            ORDER BY url
        """,
        "corpus_profile": r"""
            WITH d AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '\w+')) AS n_tokens,
                     length(text) AS n_chars, lang
              FROM documents
            ), top AS (
              SELECT count(*) AS top_lang_docs, lang AS top_lang
              FROM d GROUP BY lang
              ORDER BY top_lang_docs DESC, lang DESC LIMIT 1
            )
            SELECT count(*) AS docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(avg(n_tokens), 6) AS mean_tokens,
                   quantile_cont(n_tokens, 0.5) AS p50_tokens,
                   quantile_cont(n_tokens, 0.9) AS p90_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   count(DISTINCT lang) AS n_langs,
                   (SELECT top_lang FROM top) AS top_lang,
                   round((SELECT top_lang_docs FROM top)
                         / CAST(count(*) AS DOUBLE), 6) AS top_lang_share
            FROM d
        """,
        "video_metadata": """
            SELECT * FROM (
              SELECT CAST(doc_id AS VARCHAR) AS url,
                     'video/mp4' AS media_type,
                     CAST(1000 + doc_id AS BIGINT) AS duration_ms,
                     CAST(16 * (1 + doc_id % 4) AS INT) AS width,
                     CAST(16 * (1 + doc_id % 3) AS INT) AS height,
                     CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'vp09' END
                       AS codec
              FROM documents WHERE doc_id % 10 = 7
              UNION ALL
              SELECT CAST(doc_id AS VARCHAR) AS url,
                     'video/webm' AS media_type,
                     CAST(2000 + doc_id AS BIGINT) AS duration_ms,
                     CAST(16 * (1 + doc_id % 4) AS INT) AS width,
                     CAST(16 * (1 + doc_id % 3) AS INT) AS height,
                     CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_VP8' END
                       AS codec
              FROM documents WHERE doc_id % 10 = 1
            ) ORDER BY url
        """,
        # AVI/MJPEG frames: frame i is a constant-block grayscale JPEG of
        # sha256(text|vi)[:4]; DC-exact round-trip -> mean = mean of the
        # four digest bytes
        "avi_frame_features": """
            WITH docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3
            ), fr AS (
              SELECT doc_id, CAST(f AS INT) AS f,
                     sha256(text || '|v' || CAST(f AS VARCHAR)) AS sha
              FROM docs, (SELECT unnest(generate_series(0, 2)) AS f)
            ), b AS (
              SELECT doc_id, f,
                     CAST('0x' || substr(sha, 1, 2) AS INT) AS b0,
                     CAST('0x' || substr(sha, 3, 2) AS INT) AS b1,
                     CAST('0x' || substr(sha, 5, 2) AS INT) AS b2,
                     CAST('0x' || substr(sha, 7, 2) AS INT) AS b3
              FROM fr
            )
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   3 AS n_frames, f AS frame_index,
                   16 AS height, 16 AS width,
                   round((b0 + b1 + b2 + b3) / 4.0, 6) AS mean_r
            FROM b ORDER BY url, frame_index
        """,
        # Motion-JPEG-in-MP4: identical per-frame construction to the AVI
        # fixture (sha256(text|vi)[:4] constant blocks, DC-exact), packed
        # in an ISO BMFF sample table instead of a RIFF movi list
        "mp4_frame_features": """
            WITH docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9
            ), fr AS (
              SELECT doc_id, CAST(f AS INT) AS f,
                     sha256(text || '|v' || CAST(f AS VARCHAR)) AS sha
              FROM docs, (SELECT unnest(generate_series(0, 2)) AS f)
            ), b AS (
              SELECT doc_id, f,
                     CAST('0x' || substr(sha, 1, 2) AS INT) AS b0,
                     CAST('0x' || substr(sha, 3, 2) AS INT) AS b1,
                     CAST('0x' || substr(sha, 5, 2) AS INT) AS b2,
                     CAST('0x' || substr(sha, 7, 2) AS INT) AS b3
              FROM fr
            )
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   3 AS n_frames, f AS frame_index,
                   16 AS height, 16 AS width,
                   round((b0 + b1 + b2 + b3) / 4.0, 6) AS mean_r
            FROM b ORDER BY url, frame_index
        """,
        # JPEG: 16x16 grayscale of four constant 8x8 blocks (first four
        # digest bytes); DC-only blocks + all-ones quantization round-trip
        # exactly, so the lossy decode is still hash-checkable
        "jpeg_features": """
            WITH docs AS (
              SELECT doc_id, sha256(text) AS sha FROM documents
              WHERE doc_id % 5 = 1
            ), b AS (
              SELECT doc_id,
                     CAST('0x' || substr(sha, 1, 2) AS INT) AS b0,
                     CAST('0x' || substr(sha, 3, 2) AS INT) AS b1,
                     CAST('0x' || substr(sha, 5, 2) AS INT) AS b2,
                     CAST('0x' || substr(sha, 7, 2) AS INT) AS b3
              FROM docs
            )
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   'image/jpeg' AS media_type,
                   16 AS height, 16 AS width,
                   round((b0 + b1 + b2 + b3) / 4.0, 6) AS mean_r,
                   round(CAST(CAST(CAST(b0 AS DOUBLE) / 255.0 AS REAL)
                              AS DOUBLE), 6) AS e0
            FROM b ORDER BY url
        """,
        # GIF frames: frame i is a grayscale raster of sha256(text|gi)
        # repeated; palette maps index k -> (k,k,k), so the decoded
        # channel mean equals the digest-byte mean
        "gif_frame_features": """
            WITH docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5
            ), fr AS (
              SELECT doc_id,
                     CAST(f AS INT) AS f,
                     sha256(text || '|g' || CAST(f AS VARCHAR)) AS sha
              FROM docs, (SELECT unnest(generate_series(0, 2)) AS f)
            ), bytes AS (
              SELECT doc_id, f,
                     CAST('0x' || substr(sha, 1 + 2*j, 2) AS INT) AS b
              FROM fr, (SELECT unnest(generate_series(0, 31)) AS j)
            )
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   3 AS n_frames, f AS frame_index,
                   16 AS height, 16 AS width,
                   round(avg(b), 6) AS mean_r
            FROM bytes GROUP BY doc_id, f ORDER BY url, frame_index
        """,
        # WAV PCM stream: digest bytes as little-endian int16 pairs,
        # repeated to 1024 samples; RMS/zero-crossings recomputed from
        # the same integers (all intermediate doubles are exact dyadic
        # rationals, so summation order cannot diverge)
        "audio_features": """
            WITH docs AS (
              SELECT doc_id, sha256(text) AS sha FROM documents
              WHERE doc_id % 10 = 0
            ), samp AS (
              SELECT doc_id, i,
                     CAST('0x' || substr(sha, 1 + 2*((2*i) % 32), 2) AS INT)
                     + 256 * CAST('0x' || substr(sha, 1 + 2*((2*i + 1) % 32),
                                                 2) AS INT) AS u
              FROM docs, (SELECT unnest(generate_series(0, 1023)) AS i)
            ), pcm AS (
              SELECT doc_id, i,
                     (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)
                       / 32768.0 AS x
              FROM samp
            ), flags AS (
              SELECT doc_id, x,
                     CASE WHEN lag(x) OVER w IS NULL THEN 0
                          WHEN (x < 0) <> (lag(x) OVER w < 0) THEN 1
                          ELSE 0 END AS c
              FROM pcm WINDOW w AS (PARTITION BY doc_id ORDER BY i)
            )
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   CAST(count(*) AS INT) AS n_samples,
                   8000 AS sample_rate,
                   round(sqrt(avg(x * x)), 6) AS rms,
                   CAST(sum(c) AS INT) AS zero_crossings
            FROM flags GROUP BY doc_id ORDER BY url
        """,
        "ann_centroid_top5": """
            WITH dims AS (
              SELECT unnest(generate_series(1, 64)) AS i
            ), cent AS (
              SELECT label AS centroid_label, i,
                     avg(embedding[i]::DOUBLE) AS c
              FROM embeddings, dims GROUP BY 1, 2
            ), centv AS (
              SELECT centroid_label, list(c ORDER BY i) AS centroid
              FROM cent GROUP BY 1
            ), scored AS (
              SELECT centroid_label, vec_id,
                     round(list_cosine_similarity(embedding::DOUBLE[],
                                                  centroid), 6) AS cosine
              FROM embeddings, centv
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY centroid_label
                                           ORDER BY cosine DESC, vec_id)
                          AS rank
              FROM scored
            )
            SELECT centroid_label, vec_id, cosine, rank FROM ranked
            WHERE rank <= 5 ORDER BY centroid_label, rank
        """,
        "ngram_top50": r"""
            WITH words AS (
              SELECT regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), grams AS (
              SELECT unnest([array_to_string(w[i:i+1], ' ')
                             for i in range(1, greatest(len(w) - 1, 0) + 1)])
                       AS gram
              FROM words WHERE len(w) >= 2
            )
            SELECT gram, count(*) AS freq FROM grams
            WHERE length(gram) > 0
            GROUP BY gram ORDER BY freq DESC, gram LIMIT 50
        """,
        "llr_keywords": r"""
            WITH t AS (
              SELECT u.gram, count(*) AS freq_t FROM (
                SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS gram
                FROM documents WHERE lang = 'en') u
              WHERE length(gram) > 0 GROUP BY 1
            ), r AS (
              SELECT u.gram, count(*) AS freq_r FROM (
                SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS gram
                FROM documents WHERE lang <> 'en') u
              WHERE length(gram) > 0 GROUP BY 1
            ), j AS (
              SELECT coalesce(t.gram, r.gram) AS gram,
                     coalesce(freq_t, 0) AS freq_t,
                     coalesce(freq_r, 0) AS freq_r
              FROM t FULL OUTER JOIN r ON t.gram = r.gram
            ), tot AS (
              SELECT sum(freq_t)::double AS ta, sum(freq_r)::double AS tb FROM j
            )
            SELECT gram, freq_t, freq_r,
                   round(CASE WHEN freq_t / ta >= freq_r / tb THEN 1 ELSE -1 END
                     * 2.0 * (
                       CASE WHEN freq_t > 0 THEN
                         freq_t * ln(freq_t / (ta * (freq_t + freq_r) / (ta + tb)))
                       ELSE 0 END +
                       CASE WHEN freq_r > 0 THEN
                         freq_r * ln(freq_r / (tb * (freq_t + freq_r) / (ta + tb)))
                       ELSE 0 END), 6) AS llr
            FROM j, tot
            WHERE freq_t + freq_r >= 5
            ORDER BY llr DESC, gram LIMIT 20
        """,
        "ann_lsh_top10": ann_lsh_sql,
        **({"ann_ivf_top10": ann_ivf_sql} if ann_ivf_sql else {}),
        "quantize_embeddings": """
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS e,
                     list_max(list_transform(embedding::DOUBLE[],
                                             x -> abs(x))) AS am
              FROM embeddings
            ), qz AS (
              SELECT vec_id, e, am,
                     CASE WHEN am = 0
                          THEN list_transform(e, x -> 0)
                          ELSE list_transform(e, x ->
                            CAST(floor(x / am * 127.0 + 0.5) AS INT)) END
                       AS qvec
              FROM base
            )
            SELECT vec_id,
                   round(am / 127.0, 9) AS scale,
                   array_to_string(qvec, ',') AS qvec_joined,
                   CASE WHEN am = 0 THEN 1.0
                        ELSE round(list_cosine_similarity(e,
                          list_transform(qvec, c -> c * am / 127.0)), 6)
                        END AS recon_cosine
            FROM qz ORDER BY vec_id
        """,
        "ann_cosine_top10": """
            WITH q AS (
              SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qe), 6)
                     AS cosine
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "tfidf_topk": r"""
            WITH pairs AS (
              SELECT doc_id, term, count(*) AS tf FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(text), '\s+'))
                         AS term
                FROM documents)
              WHERE length(term) > 0
              GROUP BY doc_id, term
            ), dfreq AS (
              SELECT term, count(*) AS df FROM pairs GROUP BY term
            ), nd AS (
              SELECT count(DISTINCT doc_id) AS n FROM documents
            ), scored AS (
              SELECT p.doc_id, p.term, p.tf, d.df,
                     round(p.tf * (ln((nd.n + 1.0) / (d.df + 1.0)) + 1.0),
                           6) AS score
              FROM pairs p JOIN dfreq d USING (term), nd
            ), ranked AS (
              SELECT doc_id, term, tf, df, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term ASC)
                       AS rank
              FROM scored
            )
            SELECT doc_id, rank, term, tf, df, score
            FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
        """,
        "ngram_probabilities": r"""
            WITH words AS (
              SELECT regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), uni AS (
              SELECT gram, count(*) AS freq FROM (
                SELECT unnest(w) AS gram FROM words)
              WHERE length(gram) > 0 GROUP BY gram
            ), bi AS (
              SELECT gram, count(*) AS freq FROM (
                SELECT unnest([array_to_string(w[i:i+1], ' ')
                               for i in range(1, greatest(len(w) - 1, 0) + 1)])
                         AS gram
                FROM words WHERE len(w) >= 2)
              WHERE length(gram) > 0 GROUP BY gram
            ), tot AS (
              SELECT (SELECT sum(freq) FROM uni) AS t1,
                     (SELECT sum(freq) FROM bi) AS t2,
                     (SELECT count(*) FROM uni) AS v
            )
            SELECT bi.gram, bi.freq,
                   round(bi.freq / t2, 9) AS p_mle,
                   round((bi.freq + 1) / (t2 + v), 9) AS p_laplace,
                   round(bi.freq / uni.freq, 9) AS p_conditional,
                   round((bi.freq + 1.0) / (uni.freq + 1.0 * v), 9)
                     AS p_cond_laplace
            FROM bi JOIN uni
              ON uni.gram = split_part(bi.gram, ' ', 1), tot
            ORDER BY bi.freq DESC, bi.gram LIMIT 100
        """,
        "skipgram_similarity": r"""
            WITH terms AS (
              SELECT DISTINCT term FROM (
                SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term
                FROM documents
                UNION ALL
                SELECT unnest(regexp_split_to_array(lower(p_name), '\s+')) AS term
                FROM part) u
              WHERE length(term) > 0
            ), gc AS (
              SELECT term, gram, count(*) AS freq FROM (
                SELECT term,
                       unnest(CASE WHEN length(term) <= 3 THEN [term]
                              ELSE [substr(term, i, 3)
                                    for i in range(1, length(term) - 1)]
                              END) AS gram
                FROM terms)
              GROUP BY term, gram
            ), norms AS (
              SELECT term, sqrt(sum(freq * freq)) AS norm FROM gc GROUP BY term
            ), dots AS (
              SELECT a.term AS term, b.term AS similar_term,
                     sum(a.freq * b.freq) AS dot
              FROM gc a JOIN gc b ON a.gram = b.gram AND a.term <> b.term
               AND abs(length(a.term) - length(b.term)) <= 2
              GROUP BY 1, 2
            ), cos AS (
              SELECT d.term, d.similar_term,
                     round(dot / (na.norm * nb.norm), 6) AS cosine
              FROM dots d
              JOIN norms na ON d.term = na.term
              JOIN norms nb ON d.similar_term = nb.term
            )
            SELECT term, similar_term, cosine, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY term ORDER BY cosine DESC, similar_term) AS rank
              FROM cos)
            WHERE rank <= 5 ORDER BY term, rank
        """,
        "close_term_pairs": r"""
            WITH terms AS (
              SELECT DISTINCT term FROM (
                SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term
                FROM documents
                UNION ALL
                SELECT unnest(regexp_split_to_array(lower(p_name), '\s+')) AS term
                FROM part) u
              WHERE length(term) > 0
            )
            SELECT a.term AS term_a, b.term AS term_b,
                   levenshtein(a.term, b.term) AS distance
            FROM terms a JOIN terms b ON a.term < b.term
            WHERE abs(length(a.term) - length(b.term)) <= 2
              AND levenshtein(a.term, b.term) <= 2
            ORDER BY term_a, term_b
        """,
        "close_pairs_begin_end": r"""
            WITH terms AS (
              SELECT DISTINCT term FROM (
                SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS term
                FROM documents
                UNION ALL
                SELECT unnest(regexp_split_to_array(lower(p_name), '\s+')) AS term
                FROM part) u
              WHERE length(term) > 0
            ), pairs AS (
              SELECT a.term AS term_a, b.term AS term_b,
                     levenshtein(a.term, b.term) AS distance
              FROM terms a JOIN terms b ON a.term < b.term
              WHERE abs(length(a.term) - length(b.term)) <= 2
                AND levenshtein(a.term, b.term) <= 2
            )
            SELECT term_a, term_b, distance,
                   round(1 - levenshtein(substr(term_a, 1, 3),
                                         substr(term_b, 1, 3))
                         / greatest(length(substr(term_a, 1, 3)),
                                    length(substr(term_b, 1, 3))), 6)
                     AS begin_similarity,
                   round(1 - levenshtein(substr(term_a, greatest(length(term_a) - 2, 1), 3),
                                         substr(term_b, greatest(length(term_b) - 2, 1), 3))
                         / greatest(length(substr(term_a, greatest(length(term_a) - 2, 1), 3)),
                                    length(substr(term_b, greatest(length(term_b) - 2, 1), 3))), 6)
                     AS end_similarity
            FROM pairs ORDER BY term_a, term_b
        """,
        "word_cooccurrence": r"""
            WITH t AS (
              SELECT regexp_split_to_array(lower(text), '\s+') AS w
              FROM documents
            ), pos AS (
              SELECT w, unnest(range(1, len(w) + 1)) AS i FROM t
            ), pairs AS (
              SELECT w[i] AS w1, unnest(w[i+1:i+2]) AS w2
              FROM pos WHERE i < len(w)
            )
            SELECT w1, w2, count(*) AS freq FROM pairs
            WHERE length(w1) > 0 AND length(w2) > 0
            GROUP BY w1, w2 HAVING count(*) >= 5
            ORDER BY w1, w2
        """,
        "spelling_changes": spelling_base_for(
            "text", "WHERE lang = 'en'", "text", "WHERE lang <> 'en'") + r"""
            SELECT word, freq_1, freq_2,
                   round(frac_1, 9) AS frac_1,
                   round(frac_2, 9) AS frac_2,
                   round(CASE WHEN frac_2 > 0
                              THEN (frac_1 - frac_2) / frac_2 END, 6)
                     AS pct_diff_1,
                   round(CASE WHEN frac_1 > 0
                              THEN (frac_2 - frac_1) / frac_1 END, 6)
                     AS pct_diff_2,
                   """ + spelling_case + r""" AS change_level
            FROM j ORDER BY word
        """,
        "spelling_links": spelling_base_for(
            "text", "", "replace(text, 'er', 'or')", "") + r"""
            , cls AS (
              SELECT word, """ + spelling_case + r""" AS change_level FROM j
            ), drops AS (
              SELECT word AS drop_word, change_level AS drop_level FROM cls
              WHERE change_level IN ('decrease', 'disappear')
            ), jumps AS (
              SELECT word AS jump_word, change_level AS jump_level FROM cls
              WHERE change_level IN ('increase', 'emerge')
            ), terms AS (
              SELECT drop_word AS term FROM drops
              UNION SELECT jump_word FROM jumps
            ), gc AS (
              SELECT term, gram, count(*) AS freq FROM (
                SELECT term,
                       unnest(CASE WHEN length(term) <= 3 THEN [term]
                              ELSE [substr(term, i, 3)
                                    for i in range(1, length(term) - 1)]
                              END) AS gram
                FROM terms)
              GROUP BY term, gram
            ), norms AS (
              SELECT term, sqrt(sum(freq * freq)) AS norm
              FROM gc GROUP BY term
            ), sims AS (
              SELECT d.drop_word, jmp.jump_word, d.drop_level,
                     jmp.jump_level, sum(a.freq * b.freq) AS dot
              FROM drops d
              JOIN gc a ON a.term = d.drop_word
              JOIN gc b ON b.gram = a.gram
              JOIN jumps jmp ON jmp.jump_word = b.term
              WHERE abs(length(d.drop_word) - length(jmp.jump_word)) <= 2
              GROUP BY 1, 2, 3, 4
            )
            SELECT drop_word, jump_word, drop_level, jump_level,
                   round(dot / (na.norm * nb.norm), 6) AS similarity,
                   CASE WHEN drop_level = 'disappear' THEN 'replace'
                        ELSE 'shift' END AS change_type
            FROM sims JOIN norms na ON na.term = drop_word
                      JOIN norms nb ON nb.term = jump_word
            WHERE round(dot / (na.norm * nb.norm), 6) > 0.3
            ORDER BY drop_word, jump_word
        """,
        "patterns_in_context": """
            SELECT doc_id, pattern_name, match_text, count(*) AS n
            FROM (
              {parts}
            )
            GROUP BY 1, 2, 3
            ORDER BY doc_id, pattern_name, match_text
        """.format(parts=" UNION ALL ".join(
            "SELECT doc_id, '{name}' AS pattern_name, "
            "unnest(regexp_extract_all(text, '{pat}')) AS match_text "
            "FROM documents".format(
                name=name, pat=spec["pattern"].replace("'", "''"))
            for name, spec in _CONTEXT_PATTERN_SPECS.items())),
        "regex_entities": """
            SELECT doc_id, pattern_name, pattern_type, match_text,
                   count(*) AS n
            FROM (
              {parts}
            )
            GROUP BY 1, 2, 3, 4
            ORDER BY doc_id, pattern_name, match_text
        """.format(parts=" UNION ALL ".join(
            "SELECT doc_id, '{name}' AS pattern_name, "
            "'{ptype}' AS pattern_type, "
            "unnest(regexp_extract_all(text, '{pat}')) AS match_text "
            "FROM documents".format(
                name=name, ptype=spec["type"],
                pat=spec["pattern"].replace("'", "''"))
            for name, spec in _ENTITY_PATTERNS.items())),
        "vocabulary": r"""
            SELECT row_number() OVER (ORDER BY term) - 1 AS term_id,
                   term, freq
            FROM (
              SELECT term, count(*) AS freq FROM (
                SELECT unnest(regexp_split_to_array(lower(text), '\s+'))
                         AS term
                FROM documents) u
              WHERE length(term) > 0 GROUP BY term
            ) ORDER BY term_id
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "events_sessions": """
            WITH lagged AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
              FROM events
            ), flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN prev IS NULL
                          OR epoch(ts) - epoch(prev) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM lagged
            ), sess AS (
              SELECT user_id,
                     sum(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                       AS session_id
              FROM flagged
            )
            SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM sess GROUP BY user_id ORDER BY user_id
        """,
        "events_running_value": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING), 6)
                     AS running_value
            FROM events ORDER BY user_id, event_id
        """,
    }
    if semdedup_sql:
        d["semantic_dedup"] = semdedup_sql
    if pq_codes_sql:
        d["pq_codes"] = pq_codes_sql
        d["ann_pq_top10"] = ann_pq_sql
    if bpe_counts_sql:
        d["bpe_token_counts"] = bpe_counts_sql
    if bpe_merges_sql:
        d["bpe_merges"] = bpe_merges_sql
    # host_quality_rollup composes the gopher_quality oracle verbatim as
    # a CTE (the perplexity_tiers pattern); the rate test is the same
    # integer cross-multiplication as the Spark side — no float rates.
    d["host_quality_rollup"] = f"""
        WITH gq AS ({d["gopher_quality"]}),
        tagged AS (
          SELECT doc_id, keep,
                 lower(regexp_extract(
                   'https://host' || CAST(doc_id % 10 AS VARCHAR)
                     || '.com/p/' || CAST(doc_id AS VARCHAR),
                   '^https?://([^/:]+)', 1)) AS host
          FROM gq
        ), stats AS (
          SELECT host,
                 COUNT(*) AS host_docs,
                 SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS host_kept
          FROM tagged GROUP BY host
        )
        SELECT t.doc_id, t.host,
               CAST(s.host_docs AS BIGINT) AS host_docs,
               CAST(s.host_kept AS BIGINT) AS host_kept,
               (s.host_docs >= 1 AND s.host_kept * 2 >= s.host_docs * 1)
                 AS host_keep
        FROM tagged t JOIN stats s USING (host)
        ORDER BY t.doc_id
    """
    # url_blocklist: suffix semantics re-derived as host = domain OR
    # host LIKE '%.domain' over the literal list — equivalent to the
    # Spark side's explode-suffix equi-join.
    _bl = ", ".join("('" + b + "')" for b in URL_BLOCKLIST)
    d["url_blocklist"] = f"""
        WITH t AS (
          SELECT doc_id,
                 'https://sub' || CAST(doc_id % 3 AS VARCHAR) || '.host'
                   || CAST(doc_id % 10 AS VARCHAR) || '.com/p/'
                   || CAST(doc_id AS VARCHAR) AS url
          FROM documents
        ), th AS (
          SELECT doc_id, url,
                 lower(regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
          FROM t
        ), hit AS (
          SELECT doc_id, min(domain) AS matched_domain
          FROM th, (VALUES {_bl}) b(domain)
          WHERE th.host = b.domain OR th.host LIKE '%.' || b.domain
          GROUP BY doc_id
        )
        SELECT th.doc_id, th.url, th.host, h.matched_domain,
               h.matched_domain IS NULL AS allowed
        FROM th LEFT JOIN hit h USING (doc_id)
        ORDER BY th.doc_id
    """
    # perplexity_tiers composes the lm_doc_scores and language_id oracles
    # verbatim as CTE subqueries (DuckDB allows a WITH inside a
    # parenthesized CTE body), then ranks on the exact integer micro-unit
    # mean — the same no-float-comparison contract as the Spark side.
    # floor() and row_number() outputs are cast so the result schema
    # carries only BIGINT/INTEGER/VARCHAR (oracle-typing lint).
    d["perplexity_tiers"] = f"""
        WITH lm AS ({d["lm_doc_scores"]}),
        lg AS ({d["language_id"]}),
        slim AS (
          SELECT lm.doc_id, lg.lang_guess AS lang,
                 CASE WHEN lm.n_scored > 0
                      THEN CAST(round(lm.sum_logp_micro
                                      / lm.n_scored::DOUBLE) AS BIGINT)
                      ELSE 0 END AS avg_logp_micro
          FROM lm JOIN lg ON lm.doc_id = lg.doc_id
        ), ranked AS (
          SELECT doc_id, lang, avg_logp_micro,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY avg_logp_micro DESC, doc_id)
                   AS lang_rank,
                 count(*) OVER (PARTITION BY lang) AS n_lang
          FROM slim
        )
        SELECT doc_id, lang, avg_logp_micro,
               CAST(lang_rank AS BIGINT) AS lang_rank,
               CAST(n_lang AS BIGINT) AS n_lang,
               CAST(floor(3.0 * (lang_rank - 1) / n_lang) AS INTEGER)
                 AS tier_idx,
               CASE CAST(floor(3.0 * (lang_rank - 1) / n_lang) AS INTEGER)
                 WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
               END AS tier
        FROM ranked ORDER BY doc_id
    """
    return d
