#!/usr/bin/env python3
"""Benchmark of the fulltext engine (``information_retrieval_images_spark``).

Run from the repository root:

    python3 perfbench/run.py --workload build|search --seed N \
        --seconds S --trace 0|1 [--smoke]

One process, ``local[4]``. The workload's pages and queries are generated
from ``--seed`` (with ``fixtures``) before the clock starts; the engine only
ever sees the generated inputs. The timed loop runs for ``--seconds``; every
timed result is then checked against an exhaustive reference scorer.

The last stdout line is the result object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics of
``BENCHMARK.json``, with ``--trace 1`` its per-layer metrics. The line before
it is a report with the environment, sample counts, correctness checks and
the per-workload metric names of the README. ``--smoke`` shrinks every size
so the whole run takes seconds of work (used by ``test_smoke.py``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("build", "search")
PAGE_KB = 16  # heavy pages for the build workload (real pages are 50-100 KB)
SIZES = {
    "full": {
        "build_pages": 2000,
        "warm_build_pages": 100,
        "index_pages": 6000,
        "query_pool": 24,
        "clients": 4,
        "ref_queries": 50,
        "probe_queries": 6,
        "probe_batch": 100,
        "probe_append": 100,
    },
    "smoke": {
        "build_pages": 150,
        "warm_build_pages": 60,
        "index_pages": 400,
        "query_pool": 8,
        "clients": 4,
        "ref_queries": 10,
        "probe_queries": 3,
        "probe_batch": 10,
        "probe_append": 40,
    },
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes; checks the output shape only")
    return ap.parse_args(argv)


def pin_env(work: str) -> dict:
    """Environment the engine reads at import/launch time. Must run before
    pyspark or the engine's session module is imported."""
    env = {
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_SHUFFLE": "8",
        # session.py defaults the driver heap to 48g; stay well inside a
        # 15 GB box shared with other work
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # python workers import the engine; they do not inherit sys.path
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def source_fingerprint() -> dict:
    """git sha when run from a clone, plus a hash of the engine sources (the
    benchmark also runs from plain exports)."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "information_retrieval_images_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "source_sha1": h.hexdigest()}


# --- loop + stats -------------------------------------------------------------


def closed_loop(clients: int, seconds: float, op, min_ops: int = 1) -> tuple[list[dict], float]:
    """``clients`` callers, each sending its next request only after the
    previous reply, until ``seconds`` have passed and each has sent
    ``min_ops``. ``op(client, i)`` returns a record with at least ``lat`` (s)
    and ``items``. Returns (records, wall)."""
    t0 = time.time()
    deadline = t0 + seconds
    recs: list[list[dict]] = [[] for _ in range(clients)]

    def client(c: int) -> None:
        i = 0
        while time.time() < deadline or i < min_ops:
            recs[c].append(op(c, i))
            i += 1

    if clients == 1:
        client(0)
    else:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    return [r for rs in recs for r in rs], time.time() - t0


def guarded(fn):
    """Run one op; an exception becomes a failed record instead of a crash."""
    t0 = time.time()
    try:
        rec = fn()
    except Exception as e:  # counted in `failed`, reported in the report line
        return {"lat": time.time() - t0, "items": 0, "error": f"{type(e).__name__}: {e}"[:300]}
    rec.setdefault("lat", time.time() - t0)
    return rec


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """Highest of p99/p95/p90/p80/p75 with at least 10 samples beyond it."""
    import numpy as np

    for p in (99, 95, 90, 80, 75):
        if len(values) * (100 - p) / 100 >= 10:
            return p, float(np.percentile(values, p))
    return None


def med(values):
    return statistics.median(values) if values else float("nan")


# --- the run ------------------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.sizes = SIZES["smoke" if args.smoke else "full"]
        self.trace = bool(args.trace)
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.env = pin_env(self.work)
        self.excluded_s = 0.0  # input generation + reference precompute (not set-up)
        self.checks: dict[str, list[int]] = {}  # name -> [attempted, failed]
        self.records: list[dict] = []
        self.layers: dict[str, float] = {}
        self.named: dict[str, dict] = {}
        self.marks: list[tuple[str, float]] = [("start", T_PROCESS)]
        self.spark = None
        self.tracer = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, phase: str) -> None:
        """End of a wall-clock phase (inputs, session, warm-up, ...); the
        report lists each phase's seconds."""
        self.marks.append((phase, time.time()))

    def phases(self) -> dict[str, float]:
        return {m[0]: round(m[1] - p[1], 3) for p, m in zip(self.marks, self.marks[1:])}

    def check(self, name: str, ok: bool) -> None:
        c = self.checks.setdefault(name, [0, 0])
        c[0] += 1
        c[1] += 0 if ok else 1

    def start_session(self) -> None:
        from information_retrieval_images_spark.session import get_spark

        from tracing import Tracer

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.env['TMPDIR']}",
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                }
            )
        t0 = time.time()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.time() - t0
        self.mark("session")
        self.tracer = Tracer(self.spark.sparkContext, self.trace)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def timed_phases(self, clients: int, op) -> float:
        """The measured loop: ``clients`` closed-loop callers for --seconds,
        each sending at least two requests. A build takes about as long as
        the window, and runs that time one build in some seeds and two in
        others spread more than runs that always time two.
        In a traced run every second op of each caller is traced, so traced
        and untraced ops share one window and the tracing overhead is the
        difference of their medians."""
        def call(c, i):
            traced = self.trace and i % 2 == 1
            rec = op(c, i, traced)
            rec["traced"] = traced
            return rec

        self.records, wall = closed_loop(clients, self.args.seconds, call, min_ops=2)
        if self.trace:
            lat = {t: med([r["lat"] for r in self.records if r["traced"] == t and "error" not in r]) for t in (False, True)}
            self.layers["trace.overhead_ratio"] = lat[True] / lat[False]
            self.named["trace_overhead_ms"] = {"value": (lat[True] - lat[False]) * 1000, "unit": "ms"}
        return wall

    # --- workloads ------------------------------------------------------------

    def build_index_at(self, pages_path: str, wh: str, name: str, traced: bool) -> dict:
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators.index_build import build_index

        with self.tracer.op(name) if traced else _null() as rec:
            pages = self.spark.read.parquet(pages_path)
            m = build_index(
                self.spark, pages, Catalog(self.spark, wh), engine="arrow", n_buckets=2, bucket_concurrency=2
            )
        if rec is not None:
            rec["n_docs"] = m["n_docs"]
            rec["bucket_wall_s_max"] = max(b["wall_ms"] for b in m["buckets"].values()) / 1000.0
        return m

    def prepare_index_inputs(self):
        """Light pages for the search index + the reference scorer."""
        import numpy as np

        from information_retrieval_images_spark import fixtures
        from inputs import write_pages
        from refcheck import RefIndex, dense_ids

        t0 = time.time()

        pages = fixtures.make_pages_batch(np.arange(self.sizes["index_pages"]), seed=self.args.seed)
        path = write_pages(pages, self.path("pages"))
        docs = dense_ids(pages)
        ref = RefIndex(docs)
        self.excluded_s += time.time() - t0
        return pages, docs, path, ref

    def run_build(self):
        import numpy as np

        from information_retrieval_images_spark import fixtures
        from inputs import write_pages
        from refcheck import RefIndex, dense_ids

        s = self.sizes
        t0 = time.time()
        pages = fixtures.make_pages_batch(np.arange(s["build_pages"]), seed=self.args.seed, page_kb=PAGE_KB)
        path = write_pages(pages, self.path("pages"))
        warm = fixtures.make_pages_batch(np.arange(s["warm_build_pages"]), seed=self.args.seed + 7919, page_kb=PAGE_KB)
        warm_path = write_pages(warm, self.path("pages_warm"))
        docs = dense_ids(pages)
        ref = RefIndex(docs)
        queries = fixtures.make_queries_pandas(self.args.seed, s["ref_queries"])
        self.excluded_s += time.time() - t0
        self.mark("inputs")

        self.start_session()
        self.build_index_at(warm_path, self.path("wh_warm"), "warmup_build", False)
        setup_end = time.time()
        self.mark("warmup")

        counter = iter(range(10**6))

        def op(c, i, traced):
            wh = self.path(f"wh_{next(counter)}")

            def one():
                t = time.time()
                m = self.build_index_at(path, wh, "build", traced)
                return {"lat": time.time() - t, "items": m["n_docs"], "wh": wh}

            return guarded(one)

        wall = self.timed_phases(1, op)
        self.mark("timed")

        from tracing import index_bytes

        # correctness: every built index answers the reference query set
        # exactly like the reference scorer, over the expected document count
        ratios = []
        for r in self.records:
            if "error" in r:
                continue
            ok = r["items"] == ref.n_docs and self.batch_matches(r["wh"], queries, ref)
            r["ok"] = ok
            self.check("build_reference_queries", ok)
            ratios.append(index_bytes(r["wh"]) / ref.text_bytes)
        good = [r for r in self.records if "error" not in r]
        self.e2e = {
            "throughput_per_s": sum(r["items"] for r in good) / wall,
            "latency_p50_ms": med([r["lat"] for r in good]) * 1000,
            "index_bytes_per_text_byte": med(ratios),
            "setup_s": setup_end - T_PROCESS - self.excluded_s,
        }
        self.named.update(
            build_docs_per_s={"value": self.e2e["throughput_per_s"], "unit": "docs/s"},
            build_p50_s={"value": self.e2e["latency_p50_ms"] / 1000, "unit": "s", "samples": len(good)},
            index_bytes_per_text_byte={"value": self.e2e["index_bytes_per_text_byte"], "unit": "ratio"},
            indexed_docs={"value": ref.n_docs, "unit": "docs"},
            reference_tie_swaps={"value": ref.tie_swaps, "unit": "count"},
        )
        if self.trace:
            last = good[-1]["wh"]
            self.layer_probe(last, pages, docs, ref)

    def batch_matches(self, wh: str, queries, ref) -> bool:
        """Run a query frame through the batch path on ``wh``; True iff every
        query matches the reference (:meth:`refcheck.RefIndex.matches`)."""
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators.bm25 import attach_urls, bm25_topk_wand

        cat = Catalog(self.spark, wh)
        rows = attach_urls(bm25_topk_wand(self.spark, cat, queries), cat).collect()
        got = group_rows(rows)
        return all(
            ref.matches(text, got.get(qid, []), k)
            for qid, text, k in zip(queries["query_id"], queries["query_text"], queries["k"])
        )

    def run_search(self):
        from information_retrieval_images_spark import fixtures
        from information_retrieval_images_spark.serving import SearchSession

        s = self.sizes
        pages, docs, path, ref = self.prepare_index_inputs()
        t0 = time.time()
        pool = list(fixtures.make_queries_pandas(self.args.seed, s["query_pool"])["query_text"])
        self.excluded_s += time.time() - t0
        self.mark("inputs")

        self.start_session()
        wh = self.path("wh")
        self.build_index_at(path, wh, "setup_build", self.trace)
        self.mark("index_build")
        session = SearchSession(self.spark, wh)
        clients = s["clients"]
        # The warm-up replays the pool once, so every timed query takes the
        # warm path (term dfs cached). First-pass queries run about twice
        # the jobs, and how many of them a short run sees depends on the seed.
        warm_it = iter(pool)
        lock = threading.Lock()

        def warm_client(c):
            while True:
                with lock:
                    q = next(warm_it, None)
                if q is None:
                    return
                session.search(q)

        threads = [threading.Thread(target=warm_client, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        setup_end = time.time()
        self.mark("warmup")

        def op(c, i, traced):
            q = pool[(c + clients * i) % len(pool)]

            def one():
                with self.tracer.op("search", concurrent=True) if traced else _null() as rec:
                    t = time.time()
                    res = session.search(q)
                    lat = time.time() - t
                return {"lat": lat, "items": 1, "q": q, "res": res, "group": rec and rec["group"]}

            return guarded(one)

        wall = self.timed_phases(clients, op)
        self.mark("timed")
        time.sleep(0.5 if self.trace else 0)  # let the status store see the last task ends

        for r in self.records:
            if "error" in r:
                continue
            got = [(x["doc_id"], x["url"], x["bm25_score"]) for x in r["res"]]
            r["ok"] = ref.matches(r["q"], got)
            self.check("search_results", r["ok"])
        good = [r for r in self.records if "error" not in r]
        lats_ms = [r["lat"] * 1000 for r in good]
        self.e2e = {
            "throughput_per_s": len(good) / wall,
            "latency_p50_ms": med(lats_ms),
            "index_bytes_per_text_byte": index_ratio(wh, ref),
            "setup_s": setup_end - T_PROCESS - self.excluded_s,
        }
        self.named.update(
            search_qps={"value": self.e2e["throughput_per_s"], "unit": "queries/s", "clients": clients},
            search_p50_ms={"value": self.e2e["latency_p50_ms"], "unit": "ms", "samples": len(good)},
            reference_tie_swaps={"value": ref.tie_swaps, "unit": "count"},
        )
        tail = tail_percentile(lats_ms)
        if tail:
            self.named[f"search_p{tail[0]}_ms"] = {"value": tail[1], "unit": "ms", "samples": len(good)}
        if self.trace:
            counts = [self.tracer.group_counts(r["group"]) for r in good if r.get("traced")]
            self.named["search_counts_per_query"] = {
                k: med([c[k] for c in counts]) for k in ("jobs", "stages", "tasks", "failed_tasks")
            }
            self.layers["serving.search_jobs_per_query"] = med([c["jobs"] for c in counts])
            self.layer_probe(wh, pages, docs, ref, session)

    # --- traced run: one call into each layer -------------------------------

    def layer_probe(self, wh: str, pages, docs, ref, session=None) -> None:
        from layers import probe

        probe(self, wh, pages, docs, ref, session)

    def finish_trace(self) -> None:
        """After the SparkContext stopped: attribute event-log jobs to ops."""
        from layers import event_log_metrics

        event_log_metrics(self)


class _null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


def group_rows(rows) -> dict[int, list[tuple[int, str, float]]]:
    """Result rows -> query_id -> [(doc_id, url, score)] in rank order."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), r["url"], float(r["bm25_score"])))
    return out


def index_ratio(wh: str, ref) -> float:
    from tracing import index_bytes

    return index_bytes(wh) / ref.text_bytes


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    spec = load_spec()
    try:
        import information_retrieval_images_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        try:
            getattr(run, f"run_{args.workload}")()
        finally:
            run.stop_session()
        run.mark("checks_and_stop")
        if run.trace:
            run.finish_trace()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass

    attempted = sum(c[0] for c in run.checks.values()) + sum(1 for r in run.records if "error" in r)
    failed = sum(c[1] for c in run.checks.values()) + sum(1 for r in run.records if "error" in r)
    values = run.layers if run.trace else run.e2e
    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": os.cpu_count(),
        "env": {k: v for k, v in run.env.items() if k.startswith("SPARK")},
        **source_fingerprint(),
        "sizes": run.sizes,
        "phases_s": run.phases(),
        "samples": len(run.records),
        "op_latencies_s": [round(r["lat"], 4) for r in run.records],
        "errors": [r["error"] for r in run.records if "error" in r][:5],
        "error_rate": failed / max(attempted, 1),
        "checks": {k: {"attempted": a, "failed": f} for k, (a, f) in run.checks.items()},
        "named": run.named,
        "end_to_end": run.e2e,
        "per_layer": run.layers if run.trace else None,
    }
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
