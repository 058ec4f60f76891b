"""Spark-side helpers: the session's lifetime, Python-worker memory, and
the ``noop`` variant jobs that split a CLI job into layers from outside.

The variant jobs rebuild the job's own plan (``spark/job.py``) one layer
at a time, each ending in the ``noop`` sink:

- scan: ``read_pages`` + identity ``mapInPandas``;
- group loop: per group, the job's url-hash filter + ``salt_by_url`` +
  an identity map that counts documents per partition;
- match: per group, ``match_documents`` (token mode:
  ``match_documents_tokens`` over the whole input, which has no groups).

The job's wall time minus the match variant is the write layer.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from typing import Dict, List, Optional, Tuple

perf = time.perf_counter


def start_session(nproc: int, work: str):
    """``get_spark`` on ``local[nproc]`` with every temp file under
    ``work``; returns (session, seconds)."""
    from fuzzy_search_spark.spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    t0 = perf()
    spark = get_spark(master=f"local[{nproc}]", app_name="clibench",
                      conf=conf)
    seconds = perf() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as fh:
        stat = fh.read()
    return stat[stat.rindex(")") + 2:].split()


def spark_cpu_seconds() -> Tuple[float, float, float]:
    """CPU seconds used so far by (the JVM, its Python workers including
    exited ones their parent has reaped, this driver process)."""
    root = jvm_pid()
    hz = os.sysconf("SC_CLK_TCK")
    jvm = workers = 0
    for pid in [root] + descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        if pid == root:
            jvm = int(f[11]) + int(f[12])
        else:
            workers += sum(int(x) for x in f[11:15])
    own = os.times()
    return jvm / hz, workers / hz, own.user + own.system


def _python_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            if not fh.read().startswith("python"):
                return 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class WorkerRssSampler:
    """Samples the peak resident set (VmHWM) of the JVM's Python workers
    every ``interval`` seconds on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = jvm_pid()
        while not self._stop.is_set():
            for pid in descendants(root):
                self.peak_kb = max(self.peak_kb, _python_hwm_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_session(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] == "Z"
    except OSError:
        return True


def _noop(df) -> float:
    t0 = perf()
    df.write.format("noop").mode("overwrite").save()
    return perf() - t0


def _sum_param():
    from pyspark.accumulators import AccumulatorParam

    class DictSum(AccumulatorParam):
        """{key: [numbers]} summed element-wise."""

        def zero(self, value):
            return {}

        def addInPlace(self, a, b):
            for key, vals in b.items():
                a[key] = [x + y for x, y in zip(a[key], vals)] \
                    if key in a else list(vals)
            return a

    return DictSum()


def _counting_identity(acc):
    from pyspark import TaskContext

    def identity(batches):
        docs = 0
        for pdf in batches:
            docs += len(pdf)
            yield pdf
        acc.add({TaskContext.get().partitionId(): [docs]})

    return identity


def _docs_by_partition(acc) -> Dict[int, int]:
    return {pid: v[0] for pid, v in acc.value.items() if v[0]}


def run_variants(spark, mode: str, input_path: str, model,
                 num_groups: Optional[int]) -> dict:
    """Time the layer variants over ``input_path``; returns seconds per
    variant and the documents per group and partition each plan saw.

    Scan and group loop touch no kernel cache, so each takes the best of
    two runs; the match variant runs once, the first pass over the pages,
    like the job's."""
    from pyspark.sql import functions as F

    from fuzzy_search_spark.spark import job

    sc = spark.sparkContext
    df = job.read_pages(spark, input_path)
    cols = ["url", "text", "html"]
    schema = df.select(*cols).schema

    def counted(frame):
        """Best-of-two identity map to ``noop``, and docs per partition."""
        best, docs = float("inf"), None
        for _ in range(2):
            acc = sc.accumulator({}, _sum_param())
            best = min(best, _noop(frame.select(*cols).mapInPandas(
                _counting_identity(acc), schema)))
            docs = _docs_by_partition(acc)
        return best, docs

    scan_s, scan_docs = counted(df)
    out = {"scan_s": scan_s}
    if mode == "token":
        # token mode has no groups: its plan is the scan itself
        out.update(group_loop_s=scan_s, loop_docs={0: scan_docs},
                   match_docs=None, match_s=_noop(job.match_documents_tokens(
                       df, model, html_col="html")))
        return out

    salt = sc.defaultParallelism * 2
    group_expr = F.pmod(F.xxhash64(F.col("url")), F.lit(num_groups))
    loop_s = match_s = 0.0
    loop_docs, match_docs = {}, {}
    for group in range(num_groups):
        part = job.salt_by_url(df.filter(group_expr == group), salt)
        seconds, loop_docs[group] = counted(part)
        loop_s += seconds
        acc = sc.accumulator({}, _sum_param())
        match_s += _noop(job.match_documents(part, model, html_col="html",
                                             metrics_acc=acc))
        match_docs[group] = _docs_by_partition(acc)
    out.update(group_loop_s=loop_s, match_s=match_s, loop_docs=loop_docs,
               match_docs=match_docs)
    return out
