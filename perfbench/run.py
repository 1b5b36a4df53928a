"""spark-ir benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload build|serve_tail --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout of the repository. ``--seconds`` is the
length of the serve_tail traffic window; build does a fixed amount of work.
It uses only the engine's public entry points with their defaults:
``session.get_spark`` with ``SPARK_GRAFT_CPUS`` set to the usable CPU
count, ``IndexConfig()`` and ``RetrieveConfig()``.

Workloads (inputs made from ``--seed`` by perfbench/gen.py):

- ``build``: the operator's write path. A bulk build of a web-pages table
  (``webpages.index_webpages``) in a fresh JVM, then a micro-batch through
  ``incremental.append_batch`` followed by ``maybe_compact``, which fires a
  tiered compaction.
- ``serve_tail``: the searcher's read path. Open-loop traffic into
  ``service.make_app`` called in-process: evenly spaced arrivals at a fixed
  rate, at most one request in flight per CPU, 90% ``/query/`` with 1-4
  mid/tail-frequency terms at k=10 and 10% ``/doc/<url>``. Each latency is
  timed from the request's due time.

End-to-end metrics (``--trace 0``) mean the same kind of thing on both
workloads: ``setup_s`` (session start and the first index build, plus the
warm-up requests on serve_tail), ``index_docs_per_s`` (that build),
``op_p50_s`` (build: one micro-batch, append plus maybe_compact; serve_tail:
one request), ``good_frac`` (build: checks passed; serve_tail: requests
correct and within ``LATENCY_LIMIT_S``) and ``index_bytes_per_html_byte``.
perfbench/README.md maps each per-layer metric to the end-to-end metric it
should move.

``--trace 1`` runs the measured phase twice, without and with spans, then
probes every layer the workload does not reach by itself, and prints the
per-layer metrics. The spans go to perfbench/.work/.

Correctness is checked outside the timed region: rankings against the
brute-force BM25 of perfbench/oracle.py, extraction byte identity on a
sample of urls, served documents against their source text, and the
manifest's document count.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# build
N_BULK = 1000
N_APPEND = 200
APPENDS = 1
# serve_tail: about a third of what 4 threads sustain at the parent commit
# on a 4-CPU host (2.7-3 req/s measured), so queueing stays light
N_SERVE = 1000
RATE_PER_S = 0.9
DOC_SHARE = 0.1
SERVE_K = 10
LATENCY_LIMIT_S = 5.0
N_WARM_REQUESTS = 48
SETTLE_S = 6
# oracle and probes
N_ORACLE_HEAD = 10
N_EXTRACT_SAMPLE = 50
N_PROBE_HEAD = 200


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "serve_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def prepare_env(run_dir: str, trace: bool) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # workers import patapsco_spark by name; they do not inherit sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"


def adopt_orphans() -> None:
    """Make this process the reaper of every orphan below it (Linux
    PR_SET_CHILD_SUBREAPER), so a worker whose parent has exited stays in
    reach of stop_processes."""
    import ctypes
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark JVM and every other process this run started, and
    wait until each has ended.

    PySpark leaves its JVM running after ``spark.stop()``: the JVM exits
    when its standard input closes, which by default happens only as this
    process exits, so it would outlive the run. Here the Py4J gateway is
    shut and the pipe closed; whatever is still below this process then
    gets SIGTERM, and SIGKILL once ``grace_s`` has passed."""
    from pyspark import SparkContext

    from spans import descendants
    gw = SparkContext._gateway
    if gw is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gw.shutdown()
        except Exception:  # the JVM may be gone already
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    while True:
        reap()
        left = descendants()
        if not left:
            return
        late = time.monotonic() > deadline
        for pid in left:
            if late or pid not in termed:
                termed.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def cpu_ticks() -> list[int]:
    """Host CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def pctl(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Run:
    """State of one benchmark run."""

    def __init__(self, args, run_dir: str):
        import numpy as np

        import gen
        self.run_dir = run_dir
        self.spark = None
        self.corpus = gen.Corpus(args.seed)
        self.rng = np.random.default_rng([args.seed, 2])
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, tuple[float, str]] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def start_spark(self):
        from patapsco_spark.session import get_spark
        from spans import Tracer
        self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext, False)

    def pages(self, part: int, n: int):
        import gen
        return gen.cached_pages(WORK, self.corpus, part, n)

    # ---- engine calls, each in a span --------------------------------------

    def build(self, pages_dir: str, index: str) -> dict:
        from patapsco_spark.sources.webpages import index_webpages
        with self.tracer.span("indexer.build_index"):
            return index_webpages(self.spark, self.spark.read.parquet(pages_dir), index)

    def append(self, pages_dir: str, index: str, max_frag: int) -> str | None:
        from patapsco_spark.sources.webpages import extract_pages
        from patapsco_spark.streaming.incremental import append_batch, maybe_compact
        docs = extract_pages(self.spark.read.parquet(pages_dir))
        with self.tracer.span("incremental.append_batch"):
            append_batch(self.spark, docs, index, id_col="url")
        with self.tracer.span("incremental.maybe_compact"):
            mode, _ = maybe_compact(self.spark, index, max_frag_shards=max_frag)
        return mode

    def search(self, index: str, queries: list[list[str]], k: int | None = None):
        """Ranked (url, score) lists per query, via process_queries + search."""
        from patapsco_spark.config import RetrieveConfig, TextConfig
        from patapsco_spark.operators.retrieve import process_queries, search
        texts = [(f"q{i:05d}", " ".join(q)) for i, q in enumerate(queries)]
        cfg = RetrieveConfig() if k is None else RetrieveConfig(k=k)
        with self.tracer.span("retrieve.search_texts"):
            with self.tracer.span("retrieve.process_queries"):
                plans = process_queries(texts, TextConfig())
            with self.tracer.span("retrieve.search.define"):
                df = search(self.spark, index, plans, cfg)
            with self.tracer.span("retrieve.search.execute"):
                rows = df.collect()
        out: dict[str, list[tuple[str, float]]] = {q: [] for q, _ in texts}
        for r in rows:
            out[r["query_id"]].append((r["doc_id"], float(r["score"])))
        return [out[q] for q, _ in texts]

    # ---- correctness -------------------------------------------------------

    def check_rankings(self, bm25, queries, got, k: int) -> None:
        import oracle
        for q, ranking in zip(queries, got):
            want, scores = bm25.top(q, k)
            bad = oracle.compare(ranking, want, scores)
            self.attempted += 1
            if bad:
                self.fail(f"query {q}: {bad}")

    def check_extraction(self, pages_dir: str) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from patapsco_spark.sources.webpages import extract_pages
        t = pq.read_table(pages_dir, columns=["url", "text"])
        idx = self.rng.choice(t.num_rows, min(N_EXTRACT_SAMPLE, t.num_rows), replace=False)
        want = {t.column("url")[int(i)].as_py(): t.column("text")[int(i)].as_py() for i in idx}
        rows = (extract_pages(self.spark.read.parquet(pages_dir))
                .where(F.col("url").isin(list(want))).select("url", "text").collect())
        got = {r["url"]: r["text"] for r in rows}
        for url, text in want.items():
            self.attempted += 1
            if got.get(url) != text:
                self.fail(f"extraction of {url} differs from its source text")

    def check_num_docs(self, index: str, expected: int) -> None:
        from patapsco_spark.operators.retrieve import load_index_meta
        self.attempted += 1
        n = int(load_index_meta(index)["num_docs"])
        if n != expected:
            self.fail(f"manifest num_docs {n}, expected {expected}")

    def bm25_over(self, index: str, extra_tables: list[str] = ()):
        """The oracle over analyzed/ plus appended tables, whose documents
        append_batch does not write to analyzed/: their terms are the words
        of their text (gen.py keeps every word a non-stopword)."""
        import pyarrow.parquet as pq

        import oracle
        docs = oracle.read_analyzed(index)
        for path in extra_tables:
            t = pq.read_table(path, columns=["url", "text"])
            docs.update((u, x.split()) for u, x in zip(t.column("url").to_pylist(),
                                                     t.column("text").to_pylist()))
        return oracle.BM25(docs)

    # ---- per-layer probes (traced run only) ---------------------------------

    def probe_extract_analyze(self, pages_dir: str, n: int) -> None:
        from patapsco_spark.config import TextConfig
        from patapsco_spark.functions.analyze import analyze_documents
        from patapsco_spark.sources.webpages import extract_pages
        with self.tracer.span("webpages.extract_pages") as sp:
            extract_pages(self.spark.read.parquet(pages_dir)).write.format("noop").mode(
                "overwrite").save()
        self.put("webpages.extract_pages.docs_per_s", n / sp["s"], "1/s")
        src = self.spark.read.parquet(pages_dir).select("url", "text", "lang")
        with self.tracer.span("analyze.analyze_documents") as sp:
            analyze_documents(src, TextConfig(), id_col="url").write.format("noop").mode(
                "overwrite").save()
        self.put("analyze.analyze_documents.docs_per_s", n / sp["s"], "1/s")

    def put(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def run_build(run: Run, seconds: float, trace: bool) -> dict:
    bulk = run.pages(0, N_BULK)
    appends = [run.pages(1 + i, N_APPEND) for i in range(APPENDS)]

    t0 = time.perf_counter()
    run.start_spark()
    run.tracer.enabled = trace
    base = os.path.join(run.run_dir, "base")
    t = time.perf_counter()
    run.build(bulk, base)
    build_s = time.perf_counter() - t
    # the bulk build runs the kernels the micro-batches reuse, so it is
    # also their warm-up
    setup_s = time.perf_counter() - t0
    log(f"build: bulk build {build_s:.1f}s, set-up done in {setup_s:.1f}s")
    if trace:
        put_indexer(run, base)

    def micro_batches(index: str) -> dict:
        batch_s, modes = [], []
        for a in appends:
            t = time.perf_counter()
            # each append strands one part-filled shard; the policy fires
            # a tiered compaction once all micro-batches have landed (at
            # once, with a single one: the bulk build fills its shard)
            modes.append(run.append(a, index, APPENDS - 1))
            batch_s.append(time.perf_counter() - t)
        log(f"build: micro-batches {[round(x, 1) for x in batch_s]}")
        return {"index": index, "batch_s": batch_s, "modes": modes}

    runs = []
    if trace:
        run.tracer.enabled = False
        plain = os.path.join(run.run_dir, "plain")
        shutil.copytree(base, plain)
        runs.append(micro_batches(plain))
        run.tracer.enabled = True
    runs.append(micro_batches(base))
    m = runs[-1]

    # correctness, outside the timed region
    run.attempted += 1
    if m["modes"][-1] != "tiered" or any(m["modes"][:-1]):
        run.fail(f"compaction modes {m['modes']}, expected one tiered at the end")
    run.check_num_docs(m["index"], N_BULK + APPENDS * N_APPEND)
    run.check_extraction(bulk)
    bm25 = run.bm25_over(m["index"], appends)
    import gen
    queries = gen.head_queries(run.corpus, N_ORACLE_HEAD, run.rng)
    run.tracer.enabled = False
    run.check_rankings(bm25, queries, run.search(m["index"], queries), 1000)
    run.tracer.enabled = trace
    log("build: outputs checked")

    out = {"setup_s": setup_s,
           "index_docs_per_s": N_BULK / build_s,
           "op_p50_s": statistics.median(m["batch_s"]),
           "index_bytes_per_html_byte": dir_bytes(m["index"]) / sum(
               dir_bytes(p) for p in [bulk, *appends]),
           "good_frac": 1 - run.failed / run.attempted}
    if trace:
        run.put("trace.overhead_frac", sum(m["batch_s"]) / sum(runs[0]["batch_s"]) - 1,
                "frac")
        layer_build(run, m["index"], bm25)
    return out


def layer_build(run: Run, index: str, bm25) -> None:
    import gen
    put_incremental(run, index)
    head = gen.head_queries(run.corpus, N_PROBE_HEAD, run.rng)
    put_retrieve(run, head, run.search(index, head), bm25)
    probe_service(run, index, gen.tail_queries(run.corpus, 4, run.rng), run.pages(0, N_BULK))
    run.probe_extract_analyze(run.pages(0, N_BULK), N_BULK)


# ---------------------------------------------------------------------------
# serve_tail
# ---------------------------------------------------------------------------

def make_requests(run: Run, seconds: float, urls: list[str]) -> list[tuple[float, str, object]]:
    """(due time, path, expectation) for ``seconds`` of arrivals at a
    constant RATE_PER_S, the same times for every seed.

    Arrivals are open-loop but evenly spaced, not Poisson. A fixed Poisson
    realization bunched a few requests together; the bunched ones ran
    overlapped at nearly twice the latency of the others, and the median
    of a dozen latencies jumped between the two groups from run to run.
    Only what is sent varies with the seed; the /doc share is fixed."""
    import numpy as np

    import gen
    rng = run.rng
    n = max(1, round(RATE_PER_S * seconds))
    due = (np.arange(n) + 0.5) * (seconds / n)
    is_doc = np.zeros(n, dtype=bool)
    is_doc[rng.choice(n, round(DOC_SHARE * n), replace=False)] = True
    out = []
    for t, doc in zip(due, is_doc):
        if doc:
            u = urls[int(rng.integers(0, len(urls)))]
            out.append((float(t), "/doc/" + quote(u, safe=""), ("doc", u)))
        else:
            q = gen.tail_queries(run.corpus, 1, rng)[0]
            out.append((float(t), "/query/" + quote(" ".join(q), safe=""), ("query", q)))
    return out


def call_app(app, path: str, k: int) -> tuple[str, bytes]:
    status = {}

    def start_response(s, headers):
        status["s"] = s
    body = b"".join(app({"PATH_INFO": path, "QUERY_STRING": f"k={k}"}, start_response))
    return status["s"], body


def open_loop(run: Run, app, requests, cpus: int) -> list[dict]:
    """Send each request at its due time, whether or not earlier ones have
    finished; at most ``cpus`` run at once and the rest wait in a queue."""
    lock = threading.Lock()
    inflight = {"now": 0, "max": 0}
    results: list[dict] = [{} for _ in requests]

    def one(i: int, t0: float) -> None:
        due, path, exp = requests[i]
        started = time.perf_counter()
        with lock:
            inflight["now"] += 1
            inflight["max"] = max(inflight["max"], inflight["now"])
        kind = exp[0]
        try:
            with run.tracer.span(f"service.{kind}"):
                status, body = call_app(app, path, SERVE_K)
            res = {"status": status, "body": body}
        except Exception as e:  # a failed request is counted, not fatal
            res = {"status": f"error {type(e).__name__}: {e}", "body": b""}
        done = time.perf_counter()
        with lock:
            inflight["now"] -= 1
        res.update(latency=done - (t0 + due), late=started - (t0 + due), kind=kind, exp=exp)
        results[i] = res

    with ThreadPoolExecutor(max_workers=cpus) as ex:
        t0 = time.perf_counter()
        futures = []
        for i, (due, _, _) in enumerate(requests):
            delay = t0 + due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            futures.append(ex.submit(one, i, t0))
        for f in futures:
            f.result()
    for r in results:
        r["inflight_max"] = inflight["max"]
    return results


def judge(run: Run, results: list[dict], bm25, texts: dict[str, tuple[str, str]]) -> list[bool]:
    """Per request: succeeded and correct (counted in attempted/failed)."""
    import oracle
    ok = []
    for r in results:
        run.attempted += 1
        good = r["status"].startswith("200")
        if good:
            payload = json.loads(r["body"])
            if r["kind"] == "doc":
                url = r["exp"][1]
                good = (payload.get("id") == url
                        and (payload.get("lang"), payload.get("text")) == texts[url])
                why = f"doc {url} differs from its source"
            else:
                q = r["exp"][1]
                want, scores = bm25.top(q, SERVE_K)
                got = [(h["doc_id"], h["score"]) for h in payload]
                why = oracle.compare(got, want, scores)
                good = why is None
        else:
            why = r["status"]
        if not good:
            run.fail(f"{r['kind']} request: {why}")
        ok.append(good)
    return ok


def run_serve(run: Run, seconds: float, trace: bool) -> dict:
    import pyarrow.parquet as pq

    from patapsco_spark.service import make_app
    cpus = len(os.sched_getaffinity(0))
    pages = run.pages(0, N_SERVE)
    t = pq.read_table(pages, columns=["url", "text", "lang"])
    urls = t.column("url").to_pylist()
    texts = dict(zip(urls, zip(t.column("lang").to_pylist(), t.column("text").to_pylist())))
    warm_reqs = make_requests(run, N_WARM_REQUESTS / RATE_PER_S, urls)
    settle_reqs = make_requests(run, SETTLE_S, urls)
    passes = [make_requests(run, seconds, urls) for _ in range(1 + trace)]

    t0 = time.perf_counter()
    run.start_spark()
    run.tracer.enabled = trace
    index = os.path.join(run.run_dir, "index")
    t = time.perf_counter()
    run.build(pages, index)
    build_s = time.perf_counter() - t
    log(f"serve_tail: index built in {build_s:.1f}s")
    if trace:
        put_indexer(run, index)
    run.tracer.enabled = False
    app = make_app(run.spark, index)
    # first searches in a fresh JVM are several times slower than later
    # ones, and the query planner keeps speeding up for dozens more; a
    # burst keeps every CPU busy warming it
    open_loop(run, app, [(0.0, p, e) for _, p, e in warm_reqs], cpus)
    # the first requests at the measured rate after the burst run slower
    # than the rest, by a share that differs from run to run
    open_loop(run, app, settle_reqs, cpus)
    setup_s = time.perf_counter() - t0
    log(f"serve_tail: set-up done in {setup_s:.1f}s")

    outs = []
    for i, reqs in enumerate(passes):
        run.tracer.enabled = trace and i == len(passes) - 1
        outs.append(open_loop(run, app, reqs, cpus))
        log(f"serve_tail: pass {i}: {len(reqs)} requests")
    run.tracer.enabled = trace
    bm25 = run.bm25_over(index)
    goods = [judge(run, r, bm25, texts) for r in outs]
    res, good = outs[-1], goods[-1]

    n_good = sum(g and r["latency"] <= LATENCY_LIMIT_S for g, r in zip(good, res))
    out = {"setup_s": setup_s,
           "index_docs_per_s": N_SERVE / build_s,
           "op_p50_s": statistics.median(r["latency"] for r in res),
           "index_bytes_per_html_byte": dir_bytes(index) / dir_bytes(pages),
           "good_frac": n_good / max(1, len(res)),
           "requests": len(res),
           "latencies_s": [round(r["latency"], 2) for r in res]}
    if trace:
        plain = statistics.median(r["latency"] for r in outs[0])
        run.put("trace.overhead_frac", out["op_p50_s"] / plain - 1, "frac")
        put_service(run, res)
        layer_serve(run, index, pages, bm25)
    return out


def layer_serve(run: Run, index: str, pages: str, bm25) -> None:
    import gen
    tail = gen.tail_queries(run.corpus, 8, run.rng)
    got = run.search(index, tail, k=SERVE_K)
    put_retrieve(run, tail, got, bm25)
    # one append without a compaction, which the build workload times
    run.append(run.pages(1, N_APPEND), index, 1)
    put_incremental(run, index)
    run.probe_extract_analyze(pages, N_SERVE)


# ---------------------------------------------------------------------------
# per-layer metrics shared by both workloads
# ---------------------------------------------------------------------------

def put_indexer(run: Run, index: str) -> None:
    import pyarrow.parquet as pq
    sp = run.tracer.named("indexer.build_index")[-1]
    run.put("indexer.build_index.s", sp["s"], "s")
    run.put("indexer.build_index.spark_jobs", sp["spark_jobs"], "count")
    run.put("indexer.build_index.tasks", sp["tasks"], "count")
    rows = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, fs in os.walk(os.path.join(index, "postings"))
               for f in fs if f.endswith(".parquet"))
    run.put("indexer.postings_rows", rows, "count")
    for part in ("analyzed", "postings", "norms", "term_stats"):
        run.put(f"indexer.index_bytes.{part}", dir_bytes(os.path.join(index, part)), "bytes")


def put_incremental(run: Run, index: str) -> None:
    from patapsco_spark.operators.retrieve import load_index_meta
    tr = run.tracer
    app, comp = tr.named("incremental.append_batch"), tr.named("incremental.maybe_compact")
    run.put("incremental.append_batch.s", statistics.median(s["s"] for s in app), "s")
    run.put("incremental.append_batch.spark_jobs",
            statistics.median(s["spark_jobs"] for s in app), "count")
    run.put("incremental.maybe_compact.s", sum(s["s"] for s in comp), "s")
    run.put("incremental.compactions", sum(s["spark_jobs"] > 0 for s in comp), "count")
    meta = load_index_meta(index)
    dead = sum(int(b) - int(a) for a, b in meta.get("dead_ranges", []) or [])
    run.put("incremental.live_shards",
            int(meta["num_shards"]) - int(meta.get("shard_base", 0)) - dead, "count")


def put_retrieve(run: Run, queries, got, bm25) -> None:
    tr = run.tracer
    define, ex = tr.named("retrieve.search.define")[-1], tr.named("retrieve.search.execute")[-1]
    run.put("retrieve.process_queries.s", tr.named("retrieve.process_queries")[-1]["s"], "s")
    run.put("retrieve.search.define_s", define["s"], "s")
    run.put("retrieve.search.execute_s", ex["s"], "s")
    both = (define, ex)
    run.put("retrieve.search.spark_jobs", sum(s["spark_jobs"] for s in both), "count")
    run.put("retrieve.search.tasks", sum(s["tasks"] for s in both), "count")
    examined = sum(bm25.df(t) for t in {t for q in queries for t in q})
    run.put("retrieve.postings_examined", examined, "count")
    run.put("retrieve.postings_per_hit", examined / max(1, sum(map(len, got))), "ratio")


def put_event_log(run: Run, log_dir: str) -> None:
    """Per-layer figures that only the event log has, read after the
    session has stopped and flushed it."""
    tr = run.tracer
    tr.attach_event_log(log_dir)
    build = tr.named("indexer.build_index")[-1]
    run.put("indexer.build_index.shuffle_write_bytes", build["shuffle_write_bytes"], "bytes")
    run.put("indexer.build_index.spill_bytes", build["spill_bytes"], "bytes")
    run.put("retrieve.scorer_task_s",
            tr.named("retrieve.search.execute")[-1]["cogroup_task_s"], "s")
    run.put("spark.failed_tasks",
            sum(max(s["failed_tasks"], s["failed_tasks_log"]) for s in tr.spans), "count")


def probe_service(run: Run, index: str, tail, pages_dir: str) -> None:
    """A few in-process requests, for the service metrics of a workload
    that does not serve by itself."""
    import pyarrow.parquet as pq

    from patapsco_spark.service import make_app
    app = make_app(run.spark, index)
    t = pq.read_table(pages_dir, columns=["url"])
    urls = t.column("url").to_pylist()[:2]
    paths = ([("/query/" + quote(" ".join(q), safe=""), ("query", q)) for q in tail]
             + [("/doc/" + quote(u, safe=""), ("doc", u)) for u in urls])
    reqs = [(i / RATE_PER_S, p, e) for i, (p, e) in enumerate(paths)]
    put_service(run, open_loop(run, app, reqs, len(os.sched_getaffinity(0))))


def put_service(run: Run, res: list[dict]) -> None:
    for name in ("service.query", "service.doc"):
        run.put(f"{name}.s", statistics.median(
            s["s"] for s in run.tracer.named(name)), "s")
    run.put("loadgen.late_p90_s", pctl([r["late"] for r in res], 0.9), "s")
    run.put("loadgen.inflight_max", res[0]["inflight_max"], "count")


# ---------------------------------------------------------------------------

def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "patapsco_spark", "__init__.py")):
        print(f"patapsco_spark not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    from spans import RssSampler

    adopt_orphans()
    # a SIGTERM unwinds through the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args, run_dir)
    ticks0 = cpu_ticks()
    try:
        with RssSampler() as rss:
            body = run_build if args.workload == "build" else run_serve
            e2e = body(run, args.seconds, bool(args.trace))
            if args.trace:
                run.tracer.self_times()
        run.put("process.peak_rss_mb", rss.peak_bytes / 2**20, "MB")
        run.spark.stop()
        run.spark = None
        if args.trace:
            put_event_log(run, os.path.join(run_dir, "eventlog"))
            span_file = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
            run.tracer.dump(span_file)
    finally:
        try:
            if run.spark is not None:
                run.spark.stop()
        finally:
            stop_processes()
            shutil.rmtree(run_dir, ignore_errors=True)

    for p in run.problems:
        print(f"FAILED: {p}", file=sys.stderr)
    load1, load5, _ = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(run.layer.items())}
    else:
        units = {"setup_s": "s", "index_docs_per_s": "1/s", "op_p50_s": "s",
                 "index_bytes_per_html_byte": "ratio", "good_frac": "frac"}
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "nproc": len(os.sched_getaffinity(0)),
                      "loadavg": [load1, load5], "cpu_steal_frac": ticks[7] / max(1, sum(ticks)),
                      "problems": run.problems[:5],
                      **({"span_file": os.path.relpath(span_file, ROOT)} if args.trace else {}),
                      **{k: e2e[k] for k in ("requests", "latencies_s") if k in e2e}}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
