"""Benchmark of the shipped CLI job, ``python -m fuzzy_search_spark``.

    python3 clibench/run.py --workload crawl_phrase --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run starts one Spark session on
``local[nproc]`` and drives ``fuzzy_search_spark.__main__.main(argv,
spark=...)`` in a closed loop: one job in flight at a time, at least two
timed jobs, no new job started after ``--seconds``.  Every timed job reads
pages no earlier job of the run has seen (the kernels' LRU caches live on
in reused Python workers, so repeated pages would get cheaper), written as
2 x nproc parquet files like a sharded crawl.

Workloads (each makes a different layer dominant):

- ``crawl_phrase``: html-only pages with a 1% tail of 200k-char giants,
  README model, one group: extract + phrase matcher dominate.
- ``dict_token``: text pages, 1000-phrase token model, ``--token-mode``:
  the token probe and chain loop and the output assembly dominate.
- ``cli_default``: short text pages, README model, the CLI's defaults
  except the group count: the per-group loop and the writes dominate.
  It runs 4 groups, not the default 64: one 64-group job takes over a
  minute on 4 cores, longer than a whole run may last.

``--trace 0`` prints the end-to-end metrics: ``docs_per_s`` (median over
timed jobs), ``setup_s`` (session start + warm-up job, which pays model
compile and broadcast, Python worker start-up and imports) and
``peak_worker_rss_mb`` (highest VmHWM of Spark's Python workers).
``--trace 1`` prints the per-layer metrics from the same timed jobs plus
an in-process traced pass and ``noop`` variant jobs (see inproc.py and
sparkside.py).  Every run checks each url's output rows against the
in-process rows and the warm-up job's row hash against pins.json.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import glob
import hashlib
import io
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from typing import Dict, List, NamedTuple, Optional, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

perf = time.perf_counter


class Workload(NamedTuple):
    mode: str                 # "phrase" | "token"
    spec: gen.PageSpec
    pages_per_job: int
    warmup_pages: int
    html_only: bool           # text NULL: every page goes through extract
    cli_args: List[str]       # CLI flags beyond input/output/phrases
    num_groups: Optional[int]  # the job's group count (None: token mode)
    premise: str              # the share that must dominate


CLI_DEFAULT_GROUPS = 4

WORKLOADS: Dict[str, Workload] = {
    "crawl_phrase": Workload(
        "phrase", gen.PageSpec(2000, 1.0, 50_000, giants_per_100=1),
        pages_per_job=800, warmup_pages=50, html_only=True,
        cli_args=["--num-groups", "1"], num_groups=1,
        premise="job.kernel_cpu_share"),
    "dict_token": Workload(
        "token", gen.PageSpec(1200, 0.5, 8_000),
        pages_per_job=120, warmup_pages=40, html_only=False,
        cli_args=["--token-mode"], num_groups=None,
        premise="token_matcher core-s / job.cpu_s"),
    "cli_default": Workload(
        "phrase", gen.PageSpec(600, 0.5, 3_000),
        pages_per_job=200, warmup_pages=50, html_only=False,
        cli_args=["--num-groups", str(CLI_DEFAULT_GROUPS)],
        num_groups=CLI_DEFAULT_GROUPS,
        premise="(job.wall_s - job.udf_s) / job.wall_s"),
}

TOKEN_PHRASES = 1000
E2E_UNITS = {"docs_per_s": "1/s", "setup_s": "s", "peak_worker_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s", "model.compile_s": "s",
    "model.pickle_bytes": "bytes", "job.cold_s": "s", "job.wall_s": "s",
    "job.scan_s": "s", "job.group_loop_s": "s", "job.rescan_s": "s",
    "job.udf_s": "s", "job.udf_overhead_s": "s", "job.write_s": "s",
    "job.kernel_share": "ratio", "job.cpu_s": "s", "job.jvm_cpu_s": "s",
    "job.worker_cpu_s": "s", "job.driver_cpu_s": "s",
    "job.kernel_cpu_share": "ratio", "job.straggle_ratio": "ratio",
    "job.groups": "count",
    "job.output_rows": "count", "job.output_bytes": "bytes",
    "extract.core_s": "s", "extract.mb_per_s": "MB/s",
    "matcher.core_s": "s", "matcher.self_s": "s",
    "kernels.scan_s": "s", "kernels.snap_s": "s",
    "kernels.snap_calls": "count", "kernels.score_s": "s",
    "kernels.score_calls": "count", "kernels.score_cache_hit_rate": "ratio",
    "matcher.matches": "count", "matcher.emit_per_snap": "ratio",
    "matcher.giant_share": "ratio",
    "token_matcher.core_s": "s", "token_matcher.self_s": "s",
    "kernels.tokenize_s": "s", "kernels.indel_s": "s",
    "kernels.indel_calls": "count", "token_matcher.matches": "count",
    "token_matcher.emit_per_scored": "ratio",
    "trace.overhead_ratio": "ratio", "premise.share": "ratio",
}


def model_files(wl: Workload, work: str):
    """Write the workload's phrases and config JSON; return their paths
    and contents."""
    readme = [p["phrase"] for p in gen.README_PHRASES]
    if wl.mode == "token":
        phrases, config = gen.token_phrases(TOKEN_PHRASES, wl.spec,
                                            readme), {}
    else:
        phrases, config = gen.README_PHRASES, gen.README_CONFIG
    paths = (os.path.join(work, "phrases.json"),
             os.path.join(work, "config.json"))
    for path, obj in zip(paths, (phrases, config)):
        with open(path, "w") as fh:
            json.dump(obj, fh)
    return paths, json.dumps(phrases), json.dumps(config)


def write_pages(path: str, pages: List[gen.Page], html_only: bool,
                n_files: int) -> None:
    """Pages as ``n_files`` parquet files, round-robin: a crawl arrives
    sharded, and each file is one scan partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for f in range(n_files):
        shard = pages[f::n_files]
        table = pa.table({
            "url": pa.array([p.url for p in shard], pa.string()),
            "html": pa.array([p.html for p in shard], pa.binary()),
            "text": pa.array([None if html_only else p.text for p in shard],
                             pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"),
                       row_group_size=256)


def read_rows(output: str) -> Dict[str, Counter]:
    """Every parquet row under ``output`` (group directories included),
    as a multiset per url."""
    import pyarrow.parquet as pq

    rows: Dict[str, Counter] = {}
    for path in sorted(glob.glob(os.path.join(output, "**", "*.parquet"),
                                 recursive=True)):
        for r in pq.read_table(path).to_pylist():
            label = r["label"]
            row = (r["url"], r["phrase"], r["variant"], r["string"],
                   r["offset"], r["end"],
                   None if label is None else tuple(label), r["ignorecase"],
                   r["char_match"], r["ngram_match"],
                   r["levenshtein_similarity"])
            rows.setdefault(r["url"], Counter())[row] += 1
    return rows


def row_hash(rows: Dict[str, Counter]) -> str:
    h = hashlib.sha256()
    for url in sorted(rows):
        for row in sorted(rows[url].elements(), key=repr):
            h.update(repr(row).encode())
    return h.hexdigest()


def output_bytes(output: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(output, "**", "*.parquet"), recursive=True))


def run_pool(tasks: List[dict], nproc: int) -> List[dict]:
    import inproc

    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(nproc) as pool:
        results = pool.map(inproc.match_chunk, tasks, chunksize=1)
        pool.close()
        pool.join()
    return results


def chunk_tasks(pages, nproc: int, base: dict, spans_dir=None) -> List[dict]:
    """Split (page_id, url, html, text) tuples into balanced chunks,
    longest pages first so giants do not straggle."""
    n_chunks = max(1, min(len(pages), nproc * 4))
    order = sorted(pages, key=lambda p: -len(p[2]))
    chunks = [[] for _ in range(n_chunks)]
    loads = [0] * n_chunks
    for page in order:
        i = loads.index(min(loads))
        chunks[i].append(page)
        loads[i] += len(page[2])
    tasks = []
    for i, chunk in enumerate(c for c in chunks if c):
        task = dict(base, pages=chunk)
        if spans_dir:
            task["spans_path"] = os.path.join(spans_dir, f"spans-{i:03d}.tsv")
        tasks.append(task)
    tasks.sort(key=lambda t: -sum(len(p[2]) for p in t["pages"]))
    return tasks


def host_record(nproc: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(
            ROOT, "fuzzy_search_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            src.update(fh.read())
    return {"nproc": nproc, "load_before": os.getloadavg(),
            "busy_before": busy_share(), "calib_s": calibrate(),
            "commit": commit,
            "source_sha256": src.hexdigest()[:16]}


def straggle(output: str) -> float:
    """Slowest partition's match wall time over the mean, from the job's
    own ``_metrics`` files (1.0 when the job writes none)."""
    walls = []
    for path in glob.glob(os.path.join(output, "_metrics", "*.json")):
        with open(path) as fh:
            walls += [p["wall_ms"] for p in json.load(fh)["partitions"]]
    return max(walls) / statistics.mean(walls) if walls and any(walls) \
        else 1.0


def calibrate() -> float:
    """Best of three timings of a fixed pure-Python loop: the host's
    single-core speed when the run starts."""
    best = float("inf")
    for _ in range(3):
        t0 = perf()
        sum(i * i for i in range(1_000_000))
        best = min(best, perf() - t0)
    return best


def busy_share(window: float = 0.5) -> float:
    """Share of the host's CPU time that was busy over ``window`` seconds
    (the load average lags by a minute, so it would blame a quiet host
    for the previous run)."""
    def sample():
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]  # total, idle + iowait

    total0, idle0 = sample()
    time.sleep(window)
    total1, idle1 = sample()
    return 1.0 - (idle1 - idle0) / max(1, total1 - total0)


class Job(NamedTuple):
    pages: List[gen.Page]
    first_id: int             # page id of pages[0] in the in-process pass
    output: str
    wall: Optional[float]     # None: the job raised
    cpu: Tuple[float, ...]    # CPU seconds of (JVM, Python workers, driver)


def cli_job(main, spark, argv: List[str]) -> float:
    t0 = perf()
    with contextlib.redirect_stdout(io.StringIO()):
        main(argv, spark=spark)
    return perf() - t0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def compile_seconds(mode: str, phrases_json: str, config_json: str):
    """Median wall time of three model compiles, and the compiled model."""
    if mode == "token":
        from fuzzy_search_spark.token_matcher import compile_token_model as c
    else:
        from fuzzy_search_spark.model import compile_model as c
    phrases, config = json.loads(phrases_json), json.loads(config_json)
    times = []
    for _ in range(3):
        t0 = perf()
        model = c(phrases, config)
        times.append(perf() - t0)
    return median(times), model


class Run:
    """One benchmark run of one workload: Spark phase, in-process pass,
    correctness check and, when traced, the layer split."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool):
        self.name, self.seed, self.seconds, self.trace = \
            name, seed, seconds, trace
        self.wl = WORKLOADS[name]
        self.nproc = os.cpu_count() or 1
        self.work = os.path.join(ROOT, ".bench_work", name)
        self.readme = [p["phrase"] for p in gen.README_PHRASES]
        self.layer: Dict[str, float] = {}
        self.problems: List[str] = []
        self.phases: Dict[str, float] = {}
        self._t0 = perf()

    def phase(self, name: str) -> None:
        """Record the seconds since the previous phase ended."""
        now = perf()
        self.phases[name] = now - self._t0
        self._t0 = now

    # -- inputs --------------------------------------------------------
    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            # spark-submit's launcher JVM: no perf-data file in /tmp
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_GRAFT_CPUS": str(self.nproc),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
        })
        self.host = host_record(self.nproc)
        (self.phrases_path, self.config_path), self.phrases_json, \
            self.config_json = model_files(self.wl, self.work)
        self.phase("prepare")

    def new_input(self, tag: str, page_seed: int, n: int):
        pages = gen.make_pages(page_seed, n, self.wl.spec,
                               f"{self.name}/{tag}", self.readme)
        path = os.path.join(self.work, "in", tag)
        write_pages(path, pages, self.wl.html_only, 2 * self.nproc)
        return pages, path

    def argv(self, input_path: str, output_path: str) -> List[str]:
        argv = ["--input", input_path, "--output", output_path,
                "--phrases", self.phrases_path] + self.wl.cli_args
        if self.wl.mode == "phrase":
            argv += ["--config", self.config_path]
        return argv

    # -- Spark phase ---------------------------------------------------
    def spark_phase(self) -> None:
        from fuzzy_search_spark.__main__ import main as cli_main

        import sparkside

        wl = self.wl
        self.warm_pages, warm_in = self.new_input(
            "warmup", gen.FIXED_SEED, wl.warmup_pages)
        self.warm_out = os.path.join(self.work, "out", "warmup")
        self.jobs: List[Job] = []
        next_id = len(self.warm_pages)
        spark, self.layer["session.start_s"] = sparkside.start_session(
            self.nproc, self.work)
        try:
            with sparkside.WorkerRssSampler() as rss:
                self.layer["job.cold_s"] = cli_job(
                    cli_main, spark, self.argv(warm_in, self.warm_out))
                t_end = perf() + self.seconds
                while len(self.jobs) < 2 or perf() < t_end:
                    tag = f"job{len(self.jobs):03d}"
                    pages, path = self.new_input(tag, self.seed,
                                                 wl.pages_per_job)
                    out = os.path.join(self.work, "out", tag)
                    cpu0 = sparkside.spark_cpu_seconds()
                    try:
                        wall = cli_job(cli_main, spark, self.argv(path, out))
                    except Exception:
                        traceback.print_exc()
                        wall = None
                    cpu = tuple(b - a for a, b in zip(
                        cpu0, sparkside.spark_cpu_seconds()))
                    self.jobs.append(Job(pages, next_id, out, wall, cpu))
                    next_id += len(pages)
            self.peak_rss_mb = rss.peak_kb / 1024.0
            self.phase("timed")
            if self.trace:
                self.variant_phase(spark, cli_main)
                self.phase("variants")
        finally:
            sparkside.stop_session(spark)
        self.phase("stop")

    def variant_phase(self, spark, cli_main) -> None:
        """Layer variants over fresh pages, then the CLI job over the same
        pages: its wall time less the match variant is the write layer,
        and its per-partition metrics the variants must reproduce."""
        import pickle

        import sparkside

        self.layer["model.compile_s"], model = compile_seconds(
            self.wl.mode, self.phrases_json, self.config_json)
        self.layer["model.pickle_bytes"] = len(pickle.dumps(model))
        self.v_pages, v_in = self.new_input("variant", self.seed,
                                            self.wl.pages_per_job)
        self.variants = sparkside.run_variants(
            spark, self.wl.mode, v_in, model, self.wl.num_groups)
        self.v_out = os.path.join(self.work, "out", "variant")
        self.variants["job_s"] = cli_job(cli_main, spark,
                                         self.argv(v_in, self.v_out))

    # -- in-process pass and correctness ------------------------------
    def page_tuples(self, pages, first_id: int):
        return [(first_id + i, p.url, p.html,
                 None if self.wl.html_only else p.text)
                for i, p in enumerate(pages)]

    def base_task(self) -> dict:
        config = json.loads(self.config_json)
        return {"mode": self.wl.mode, "phrases_json": self.phrases_json,
                "config_json": self.config_json,
                "ignorecase": bool(config.get("ignorecase", False))}

    def check(self) -> None:
        pages = self.page_tuples(self.warm_pages, 0)
        for job in self.jobs:
            pages += self.page_tuples(job.pages, job.first_id)
        results = run_pool(chunk_tasks(pages, self.nproc, self.base_task()),
                           self.nproc)
        self.expected = {url: Counter(rows) for r in results
                         for url, rows in r["rows"].items()}
        # page id -> (page_id, chars, extract_s, match_s, rows)
        self.page_times = {t[0]: t for r in results for t in r["pages"]}

        warm_rows = read_rows(self.warm_out)
        if any(warm_rows.get(p.url, Counter()) != self.expected[p.url]
               for p in self.warm_pages):
            self.problems.append("warm-up rows differ from in-process rows")
        self.warm_hash = row_hash(warm_rows)
        with open(os.path.join(HERE, "pins.json")) as fh:
            pinned = json.load(fh).get(self.name)
        if self.warm_hash != pinned:
            self.problems.append(
                f"warm-up row hash {self.warm_hash} != pinned {pinned}")
        self.attempted = self.failed = 0
        for job in self.jobs:
            self.attempted += len(job.pages)
            if job.wall is None:
                self.failed += len(job.pages)
                continue
            got = read_rows(job.output)
            self.failed += sum(got.get(p.url, Counter()) != self.expected[p.url]
                               for p in job.pages)
        self.phase("check")

    def kernel_core_s(self, job: Job) -> float:
        return sum(self.page_times[job.first_id + i][2]
                   + self.page_times[job.first_id + i][3]
                   for i in range(len(job.pages)))

    # -- layer split ----------------------------------------------------
    def trace_phase(self) -> None:
        job = self.jobs[0]
        pages = self.page_tuples(job.pages, job.first_id)
        spans_dir = os.path.join(self.work, "spans")
        os.makedirs(spans_dir)
        traced = run_pool(chunk_tasks(pages, self.nproc, self.base_task(),
                                      spans_dir), self.nproc)
        spans: Dict[str, list] = {}
        hits = misses = 0
        for r in traced:
            for name, (inc, self_s, calls) in r["spans"].items():
                agg = spans.setdefault(name, [0.0, 0.0, 0])
                agg[0] += inc
                agg[1] += self_s
                agg[2] += calls
            hits += r["score_cache"][0]
            misses += r["score_cache"][1]
        self.plan_guard()
        self.layer.update(self.layer_metrics(spans, hits, misses, traced,
                                             pages))
        self.phase("trace")

    def plan_guard(self) -> None:
        """The variants' documents per group and partition must equal the
        job's own ``_metrics/group=G.json``."""
        v = self.variants
        if self.wl.mode == "token":
            seen = sum(v["loop_docs"][0].values())
            if seen != len(self.v_pages):
                self.problems.append(
                    f"variant scan saw {seen} docs, input has "
                    f"{len(self.v_pages)}")
            return
        job_docs = {}
        for path in glob.glob(os.path.join(self.v_out, "_metrics", "*.json")):
            with open(path) as fh:
                m = json.load(fh)
            job_docs[m["group"]] = {p["partition_id"]: p["docs"]
                                    for p in m["partitions"] if p["docs"]}
        for label in ("loop_docs", "match_docs"):
            if v[label] != job_docs:
                self.problems.append(
                    f"variant plan {label} {v[label]} != job metrics "
                    f"{job_docs}")

    def layer_metrics(self, spans, hits, misses, traced, pages) -> dict:
        """Per-layer metrics: Spark layers from the timed jobs and the
        variants, kernel layers from the traced pass over ``pages``."""
        nproc = self.nproc
        v = self.variants

        def inc(name):
            return spans.get(name, [0.0, 0.0, 0])[0]

        def self_s(name):
            return spans.get(name, [0.0, 0.0, 0])[1]

        def calls(name):
            return spans.get(name, [0.0, 0.0, 0])[2]

        done = [j for j in self.jobs if j.wall is not None]
        kernel = median([self.kernel_core_s(j) for j in done])
        wall = median([j.wall for j in done])
        cpu = median([sum(j.cpu) for j in done])
        m = {"job.wall_s": wall, "job.cpu_s": cpu,
             "job.jvm_cpu_s": median([j.cpu[0] for j in done]),
             "job.worker_cpu_s": median([j.cpu[1] for j in done]),
             "job.driver_cpu_s": median([j.cpu[2] for j in done]),
             "job.kernel_cpu_share": kernel / cpu,
             "job.scan_s": v["scan_s"],
             "job.group_loop_s": v["group_loop_s"],
             "job.rescan_s": v["group_loop_s"] - v["scan_s"],
             "job.udf_s": v["match_s"] - v["group_loop_s"],
             "job.write_s": v["job_s"] - v["match_s"],
             "job.kernel_share": kernel / (wall * nproc),
             "job.straggle_ratio": median([straggle(j.output) for j in done])}
        m["job.udf_overhead_s"] = m["job.udf_s"] - kernel / nproc
        group_dirs = glob.glob(os.path.join(self.v_out, "matches", "group=*"))
        m["job.groups"] = len(group_dirs) or 1
        m["job.output_rows"] = sum(sum(c.values()) for c in
                                   read_rows(self.v_out).values())
        m["job.output_bytes"] = output_bytes(self.v_out)

        html_mb = sum(len(p[2]) for p in pages) / 1e6
        m["extract.core_s"] = inc("extract")
        m["extract.mb_per_s"] = html_mb / inc("extract") \
            if inc("extract") else 0.0
        rows = sum(t[4] for r in traced for t in r["pages"])
        phrase = self.wl.mode == "phrase"
        m["matcher.core_s"] = inc("matcher")
        m["matcher.self_s"] = self_s("matcher")
        m["kernels.scan_s"] = inc("kernels.scan")
        m["kernels.snap_s"] = inc("kernels.snap")
        m["kernels.snap_calls"] = calls("kernels.snap")
        m["kernels.score_s"] = inc("kernels.score")
        m["kernels.score_calls"] = calls("kernels.score")
        m["kernels.score_cache_hit_rate"] = hits / (hits + misses) \
            if hits + misses else 0.0
        m["matcher.matches"] = rows if phrase else 0
        m["matcher.emit_per_snap"] = rows / calls("kernels.snap") \
            if phrase and calls("kernels.snap") else 0.0
        untraced = sorted((self.page_times[p[0]] for p in pages),
                          key=lambda t: -t[1])
        match_total = sum(t[3] for t in untraced)
        top = untraced[:max(1, len(untraced) // 100)]
        m["matcher.giant_share"] = sum(t[3] for t in top) / match_total \
            if phrase and match_total else 0.0
        m["token_matcher.core_s"] = inc("token_matcher")
        m["token_matcher.self_s"] = self_s("token_matcher")
        m["kernels.tokenize_s"] = inc("kernels.tokenize")
        m["kernels.indel_s"] = inc("kernels.indel")
        m["kernels.indel_calls"] = calls("kernels.indel")
        m["token_matcher.matches"] = 0 if phrase else rows
        m["token_matcher.emit_per_scored"] = rows / calls("kernels.indel") \
            if not phrase and calls("kernels.indel") else 0.0
        untraced_core = sum(t[2] + t[3] for t in untraced)
        traced_core = inc("extract") + inc("matcher") + inc("token_matcher")
        m["trace.overhead_ratio"] = traced_core / untraced_core
        if self.name == "cli_default":
            m["premise.share"] = (wall - m["job.udf_s"]) / wall
        else:
            m["premise.share"] = m["job.kernel_cpu_share"]
        return m

    # -- result ---------------------------------------------------------
    def result(self) -> dict:
        walls = [j.wall for j in self.jobs if j.wall is not None]
        self.host["load_after"] = os.getloadavg()
        self.host["loaded"] = self.host["busy_before"] > 0.25
        e2e = {
            "docs_per_s": median([len(j.pages) / j.wall for j in self.jobs
                                  if j.wall is not None]),
            "setup_s": self.layer["session.start_s"]
            + self.layer["job.cold_s"],
            "peak_worker_rss_mb": self.peak_rss_mb,
        }
        report = {"workload": self.name, "seed": self.seed,
                  "host": self.host, "job_walls_s": walls,
                  "job_cpu_s": [j.cpu for j in self.jobs],
                  "job_kernel_s": [self.kernel_core_s(j) for j in self.jobs],
                  "job_straggle": [straggle(j.output) for j in self.jobs],
                  "pages_per_job": self.wl.pages_per_job,
                  "attempted": self.attempted, "failed": self.failed,
                  "warmup_row_hash": self.warm_hash,
                  "problems": self.problems, "phases_s": self.phases,
                  "end_to_end": e2e}
        if self.trace:
            report["per_layer"] = self.layer
        with open(os.path.join(self.work, "report.json"), "w") as fh:
            json.dump(report, fh, indent=1)
        return report

    def cleanup(self) -> None:
        for sub in ("in", "out", "tmp"):
            shutil.rmtree(os.path.join(self.work, sub), ignore_errors=True)


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that ``reap_descendants`` can wait for
    every one of them, e.g. Python workers whose JVM has gone."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_descendants(timeout: float = 30.0) -> None:
    """Stop every process this run started and wait until each has ended.

    The pools' resource tracker would otherwise outlive the run: it exits
    only when its pipe closes, after this process has exited.  Anything
    still running after that is killed."""
    import sparkside
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        with contextlib.suppress(OSError):
            stop()  # closes the tracker's pipe and waits for it
    deadline = time.monotonic() + timeout
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        live = sparkside.descendants(os.getpid())
        if not live or time.monotonic() > deadline:
            return
        for pid in live:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def print_report(report: dict, trace: bool) -> dict:
    """Human-readable report on stdout; returns the metrics block."""
    host = report["host"]
    print(f"workload {report['workload']} seed {report['seed']}: "
          f"{len(report['job_walls_s'])} timed jobs of "
          f"{report['pages_per_job']} pages")
    print(f"host: nproc={host['nproc']} busy_before="
          f"{host['busy_before']:.2f} load_before={host['load_before']} "
          f"load_after={host['load_after']} commit={host['commit']} "
          f"source={host['source_sha256']}"
          + ("  WARNING: started on a loaded host" if host["loaded"] else ""))
    print(f"correctness: {report['failed']}/{report['attempted']} urls "
          f"differ, warm-up row hash {report['warmup_row_hash'][:16]}")
    for problem in report["problems"]:
        print(f"PROBLEM: {problem}")
    if trace:
        layer = report["per_layer"]
        units = LAYER_UNITS
        values = {k: layer.get(k, 0.0) for k in units}
        share = values["premise.share"]
        print(f"premise ({WORKLOADS[report['workload']].premise}): "
              f"{share:.3f}" + ("" if share > 0.5 else
                                "  FLAG: the stated layer no longer dominates"))
    else:
        units, values = E2E_UNITS, report["end_to_end"]
    for name, unit in units.items():
        print(f"  {name:32s} {values[name]:14.4f} {unit}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import fuzzy_search_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    # a SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.prepare()
        run.spark_phase()
        run.check()
        if run.trace:
            run.trace_phase()
        report = run.result()
    finally:
        run.cleanup()
        reap_descendants()
    metrics = print_report(report, run.trace)
    ok = not report["problems"] and report["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
