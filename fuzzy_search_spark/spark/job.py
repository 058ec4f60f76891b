"""The distributed extraction + fuzzy-match job.

Plan shape (all narrow until the write — Catalyst keeps this a single
pipelined stage per group):

    scan parquet/Iceberg-style table
      -> [optional] repartition on xxhash64(url) (salting: giant-document
         skew is defused by spreading documents uniformly; within-document
         work is never split, so results are partitioning-invariant)
      -> mapInPandas(extract_html + find_matches)   [one Arrow-batched pass]
      -> write matches, partitioned by bucket

The compiled phrase model is broadcast once per job (`sc.broadcast`) — the
classic broadcast-hash-join shape: the tiny build side (phrases) probes
against the huge stream side (documents) inside the UDF.

Resumability: the job processes the input in ``num_groups`` deterministic
url-hash groups; each group commits its output directory plus a manifest
line (group id, model fingerprint, row counts, wall time).  A restarted job
re-reads the manifest and anti-joins the done groups.  A model/config change
changes the fingerprint and invalidates old groups.

Lineage/metrics: a dict accumulator collects per-*partition* rows
(docs, chars, matches, wall_ms) from inside the UDF; the driver persists
them per group under ``_metrics/``.  (Accumulator caveat: Spark re-counts
retried tasks; metrics are observability, not accounting.)
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator, List, Optional

import pandas as pd

from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_search_spark.extract import extract_html
from fuzzy_search_spark.matcher import find_matches
from fuzzy_search_spark.model import CompiledModel

def read_pages(spark: SparkSession, input_path: str,
               table_format: str = "parquet") -> DataFrame:
    """Read the web-pages table.  ``table_format``:

    - ``parquet`` (default): a parquet directory path.
    - ``iceberg``: an Iceberg table identifier (``catalog.db.table``) or
      path, read via the Iceberg Spark runtime.  The sandbox ships no
      Iceberg jars, so this branch is exercised only on clusters whose
      session carries the Iceberg catalog config; the plan shape
      (scan -> narrow map -> write) is identical, plus snapshot-based
      incremental reads become available upstream of this function.
    - ``warc``: a directory of raw WARC/1.0 archives (Common Crawl
      layout, member-gzip or plain), parsed distributed by
      :func:`fuzzy_search_spark.sources.warc.read_warc` — one file per
      partition, shuffle-free.  ``text`` comes back NULL so the match
      stage extracts from ``html`` in the same pass (pair with
      ``extractor=sources.warc.extract_sniffed`` for charset-sniffed
      decoding instead of plain UTF-8).
    """
    if table_format == "warc":
        from fuzzy_search_spark.sources.warc import read_warc

        files = spark.read.format("binaryFile").load(input_path)
        return read_warc(files).select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"))
    if table_format == "iceberg":
        try:
            if "/" in input_path:
                return spark.read.format("iceberg").load(input_path)
            return spark.read.table(input_path)
        except Exception as exc:  # pragma: no cover - needs iceberg jars
            raise RuntimeError(
                "table_format='iceberg' needs the Iceberg Spark runtime on "
                "the cluster (org.apache.iceberg:iceberg-spark-runtime) and "
                "a configured catalog") from exc
    if table_format != "parquet":
        raise ValueError(f"unknown table_format {table_format!r}")
    return spark.read.parquet(input_path)


def write_matches(matches: DataFrame, target: str,
                  table_format: str = "parquet") -> None:
    """Write one group's matches idempotently.

    Parquet overwrites the group directory, so a re-run of an uncommitted
    group replaces any partial output.  Iceberg uses
    ``overwritePartitions()`` (dynamic partition overwrite): the incoming
    rows' ``group`` partition value replaces that partition's previous
    rows atomically, so a crash between the table commit and the manifest
    line cannot leave duplicates when the group re-runs — the job-level
    manifest only tells resume which groups to *skip*, it is not the
    dedup mechanism."""
    if table_format == "iceberg":
        matches.writeTo(target).overwritePartitions()
        return
    matches.write.mode("overwrite").parquet(target)


MATCH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("phrase", T.StringType()),
    T.StructField("variant", T.StringType()),
    T.StructField("string", T.StringType()),
    T.StructField("offset", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("label", T.ArrayType(T.StringType())),
    T.StructField("ignorecase", T.BooleanType()),
    T.StructField("char_match", T.DoubleType()),
    T.StructField("ngram_match", T.DoubleType()),
    T.StructField("levenshtein_similarity", T.DoubleType()),
])

_MATCH_COLUMNS = [f.name for f in MATCH_SCHEMA.fields]


class _MetricsParam(AccumulatorParam):
    """Accumulates {partition_id: [docs, chars, matches, wall_ms]}."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for key, vals in b.items():
            if key in a:
                a[key] = [x + y for x, y in zip(a[key], vals)]
            else:
                a[key] = list(vals)
        return a


def _label_list(label) -> Optional[List[str]]:
    if label is None:
        return None
    if isinstance(label, str):
        return [label]
    return list(label)


def salt_by_url(df: DataFrame, num_partitions: int,
                url_col: str = "url") -> DataFrame:
    """Spread documents uniformly over partitions by url hash — defuses the
    giant-document straggler tail without changing per-document results."""
    return df.repartition(num_partitions, F.xxhash64(F.col(url_col)))


def _map_matches(df: DataFrame, model, match_fn, ignorecase: bool,
                 url_col: str, text_col: str, html_col: Optional[str],
                 extractor, metrics_acc=None) -> DataFrame:
    """The mapInPandas body both matchers share: broadcast ``model``, then
    per Arrow batch extract NULL ``text_col`` values from ``html_col``,
    match every non-empty text with ``match_fn(text, model)`` and assemble
    the MATCH_SCHEMA frame.  ``metrics_acc`` (a _MetricsParam accumulator)
    receives one [docs, chars, matches, wall_ms] row per partition."""
    bc_model = df.sparkSession.sparkContext.broadcast(model)
    use_html = html_col is not None
    extract_fn = extractor if extractor is not None else extract_html
    cols = [url_col, text_col] + ([html_col] if use_html else [])

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        compiled = bc_model.value
        t0 = time.monotonic()
        docs = chars = matched = 0
        for pdf in batches:
            out = {c: [] for c in _MATCH_COLUMNS}
            urls = pdf[url_col].tolist()
            texts = pdf[text_col].tolist()
            htmls = pdf[html_col].tolist() if use_html else None
            for ri, url in enumerate(urls):
                text = texts[ri]
                if text is None and use_html:
                    text = extract_fn(htmls[ri])
                if not text:
                    continue
                docs += 1
                chars += len(text)
                for m in match_fn(text, compiled):
                    out["url"].append(url)
                    out["phrase"].append(m.phrase)
                    out["variant"].append(m.variant)
                    out["string"].append(m.string)
                    out["offset"].append(m.offset)
                    out["end"].append(m.end)
                    out["label"].append(_label_list(m.label))
                    out["ignorecase"].append(ignorecase)
                    out["char_match"].append(m.char_match)
                    out["ngram_match"].append(m.ngram_match)
                    out["levenshtein_similarity"].append(m.levenshtein_similarity)
            matched += len(out["url"])
            if not out["url"]:
                continue  # pandas 2.x types empty frames float64, which
                # Arrow cannot convert to the list<string> label column
            yield pd.DataFrame(out)
        if metrics_acc is not None:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else -1
            wall_ms = int((time.monotonic() - t0) * 1000)
            metrics_acc.add({pid: [docs, chars, matched, wall_ms]})

    return df.select(*cols).mapInPandas(process, MATCH_SCHEMA)


def match_documents(df: DataFrame, model: CompiledModel,
                    url_col: str = "url", text_col: str = "text",
                    html_col: Optional[str] = None,
                    chunk_chars: Optional[int] = None,
                    extractor=None,
                    metrics_acc=None) -> DataFrame:
    """Run the fuzzy-match pipeline over a documents DataFrame.

    Returns the exploded matches table (MATCH_SCHEMA).  When ``html_col`` is
    given, rows with NULL ``text_col`` are extracted from html in the same
    pass (no extra stage).  ``chunk_chars`` bounds per-document memory for
    giant documents via exactness-preserving chunked matching
    (matcher.find_matches_chunked).  ``extractor`` overrides the payload->
    text function (default :func:`extract.extract_html`; alternatives:
    ``extract.extract_main_content`` for DOM-heuristic boilerplate
    removal, ``extract.extract_payload`` for mixed HTML/PDF/plain tables —
    must be a deterministic top-level callable, it ships to executors).
    """
    from fuzzy_search_spark.matcher import find_matches_chunked

    def match(text: str, compiled: CompiledModel):
        if chunk_chars and len(text) > chunk_chars:
            return find_matches_chunked(text, compiled, chunk_chars)
        return find_matches(text, compiled)

    return _map_matches(df, model, match, model.config.ignorecase, url_col,
                        text_col, html_col, extractor, metrics_acc)


def match_documents_tokens(df: DataFrame, token_model,
                           url_col: str = "url", text_col: str = "text",
                           html_col: Optional[str] = None,
                           extractor=None) -> DataFrame:
    """Token-level fuzzy match over a documents DataFrame (the fast,
    slightly-less-exhaustive pipeline).  Same broadcast + mapInPandas body
    as match_documents; char/ngram scores are NULL by design (the token
    searcher computes only the Levenshtein ratio)."""
    from fuzzy_search_spark.token_matcher import find_token_matches

    return _map_matches(df, token_model, find_token_matches, False, url_col,
                        text_col, html_col, extractor)


def run_extraction_job(spark: SparkSession, input_path: str, output_path: str,
                       model: CompiledModel, *, num_groups: int = 4,
                       salt_partitions: Optional[int] = None,
                       resume: bool = True,
                       url_col: str = "url", text_col: str = "text",
                       html_col: Optional[str] = "html",
                       chunk_chars: Optional[int] = None,
                       table_format: str = "parquet",
                       extractor=None) -> dict:
    """End-to-end resumable job: read -> (extract) -> match -> write.

    Output layout:
        <output>/matches/group=G/*.parquet
        <output>/_metrics/group=G.json     per-partition lineage rows
        <output>/_manifest.jsonl           one line per committed group
    """
    fingerprint = model.fingerprint()
    if extractor is not None:
        # a different payload->text function changes every downstream row:
        # resume must not skip groups committed under another extractor
        fingerprint += f":{extractor.__module__}.{extractor.__qualname__}"
    manifest_path = os.path.join(output_path, "_manifest.jsonl")
    metrics_dir = os.path.join(output_path, "_metrics")
    os.makedirs(metrics_dir, exist_ok=True)

    done = set()
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            for line in fh:
                entry = json.loads(line)
                if entry.get("fingerprint") == fingerprint:
                    done.add(entry["group"])

    df = read_pages(spark, input_path, table_format)
    if salt_partitions is None:
        salt_partitions = spark.sparkContext.defaultParallelism * 2
    group_expr = F.pmod(F.xxhash64(F.col(url_col)), F.lit(num_groups))

    summary = {"groups": num_groups, "skipped": sorted(done), "ran": [],
               "fingerprint": fingerprint, "docs": 0, "matches": 0}
    for group in range(num_groups):
        if group in done:
            continue
        t0 = time.monotonic()
        acc = spark.sparkContext.accumulator({}, _MetricsParam())
        part = df.filter(group_expr == group)
        part = salt_by_url(part, salt_partitions, url_col)
        matches = match_documents(part, model, url_col=url_col,
                                  text_col=text_col, html_col=html_col,
                                  chunk_chars=chunk_chars,
                                  extractor=extractor, metrics_acc=acc)
        if table_format == "iceberg":
            write_matches(matches.withColumn("group", F.lit(group)),
                          output_path, table_format)
        else:
            group_dir = os.path.join(output_path, "matches",
                                     f"group={group}")
            write_matches(matches, group_dir)
        wall = time.monotonic() - t0

        partition_metrics = [
            {"partition_id": pid, "docs": v[0], "chars": v[1],
             "matches": v[2], "wall_ms": v[3]}
            for pid, v in sorted(acc.value.items())
        ]
        docs = sum(m["docs"] for m in partition_metrics)
        nmatches = sum(m["matches"] for m in partition_metrics)
        with open(os.path.join(metrics_dir, f"group={group}.json"), "w") as fh:
            json.dump({"group": group, "fingerprint": fingerprint,
                       "wall_s": wall, "docs": docs, "matches": nmatches,
                       "partitions": partition_metrics}, fh, indent=1)
        with open(manifest_path, "a") as fh:
            fh.write(json.dumps({
                "group": group, "fingerprint": fingerprint, "docs": docs,
                "matches": nmatches, "wall_s": round(wall, 3)}) + "\n")
        summary["ran"].append(group)
        summary["docs"] += docs
        summary["matches"] += nmatches
    return summary


def write_bucketed(df: DataFrame, table: str, bucket_col: str = "url",
                   num_buckets: int = 256, sort: bool = True,
                   mode: str = "overwrite",
                   table_format: str = "parquet") -> None:
    """Persist a table bucketed (and sorted) by ``bucket_col`` so every
    later equi-join or aggregation on that key is CO-LOCATED: both scans
    read pre-hashed buckets and the join plans with ZERO Exchange
    operators (pinned by test) instead of reshuffling 10^12 rows per
    query.

    This is the storage-layout half of the engine's scale story: the
    pages table, the matches table and every per-url derived table share
    one bucketing scheme, so url-keyed joins between them never shuffle
    again — the shuffle is paid ONCE, at write time.  Requires a catalog
    (`saveAsTable`); plain `.parquet(path)` cannot record bucket
    metadata.  ``num_buckets`` should be sized so a bucket of the
    largest table fits an executor's task comfortably (at 10^12 rows and
    ~2 GB/task that is tens of thousands of buckets — bucket counts only
    need to match between tables that join each other)."""
    writer = df.write.bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.mode(mode).format(table_format).saveAsTable(table)
