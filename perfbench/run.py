"""Search-traffic benchmark for deusu-spark.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 15 --trace 0

Run from the repository root. One run:

  1. set-up, in a child process (perfbench/indexer.py): generate the
     seeded corpus, start Spark at local[nproc], build the index with
     ``build.build_index``; after the build, untimed, the oracle computes
     the expected answers on the same corpus
  2. set-up, here: confine this (serving) process to one core, open the
     serving ``LocalSearcher`` on the built version and warm it (serve_hot:
     the popular-query pool; both: 30 requests of the workload's own mix)
  3. correctness probes (untimed): the F2 probe queries against the oracle
  4. closed loop: one client serves the workload's fixed request list back
     to back (sized to about a 12 s run) -> render_mean_ms and serve_qps
  5. checks (untimed): repeated requests answered identically, sampled
     requests equal to the oracle

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. A traced run also drives ``SearchEngine.search_many`` and
one ingest cycle in the set-up child with Spark's event log on, measures
the tracing overhead, and serves an open loop for 1/3 of ``--seconds``
(arrivals at the workload's frozen rate, one server thread, latency from
each request's due time). Exits non-zero on any failed or incorrect
operation.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import loadgen  # noqa: E402
import spans as tr  # noqa: E402
import workloads as wls  # noqa: E402

OPEN_SHARE = 1 / 3  # of --seconds, traced run only; the closed loop is a fixed list
ORACLE_SAMPLE = 12  # requests per op checked against the oracle
TRACED_REQUESTS = 150  # fixed request list of the untraced/traced passes
WARM_REQUESTS = 30  # served before any timed phase (part of set-up)
BATCH_QUERIES = 32  # SearchEngine.search_many batch (traced run)
CHILD_TIMEOUT_S = 150


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Inputs:
    """Everything a run feeds the engine, derived from (workload, seed)."""

    schedule: list[float]
    open_reqs: list[wls.Request]
    closed_reqs: list[wls.Request]
    warm_reqs: list[wls.Request]
    traced_reqs: list[wls.Request]
    sample_search: list[wls.Request] = field(default_factory=list)
    sample_render: list[wls.Request] = field(default_factory=list)


def make_inputs(wl: wls.Workload, seed: int, open_s: float, trace_on: bool) -> Inputs:
    used: set[str] = set()  # distinct workloads never repeat a string
    schedule = wls.arrival_schedule(wl.rate, open_s, seed)
    inp = Inputs(
        schedule=schedule,
        open_reqs=wls.RequestStream(wl, seed, "open", used).take(len(schedule)),
        closed_reqs=wls.closed_list(wl, seed, used),
        warm_reqs=wls.RequestStream(wl, seed, "warm", used).take(WARM_REQUESTS),
        traced_reqs=wls.RequestStream(wl, seed, "traced", used).take(TRACED_REQUESTS)
        if trace_on else [],
    )
    for r in inp.closed_reqs:
        lst = inp.sample_search if r.op == "search" else inp.sample_render
        if len(lst) < ORACLE_SAMPLE and r.query not in {x.query for x in lst}:
            lst.append(r)
    return inp


class Server:
    """Answers requests against one LocalSearcher and keeps the first
    answer to every distinct request; a repeat answered differently fails."""

    def __init__(self, searcher, serving):
        self.s = searcher
        self.serving = serving
        self.answers: dict[tuple, list] = {}

    def __call__(self, req: wls.Request) -> bool:
        if req.op == "search":
            got = self.s.search(req.query, k=10, mode=req.mode)
        else:
            page = self.serving.search_render(
                self.s, req.query, startwith=1 + 10 * (req.page - 1), highlight=True
            )
            got = [r.doc_id for r in page]
        return self.answers.setdefault(req.key, got) == got


def stop_child(p: subprocess.Popen) -> None:
    """Stop whatever is left of a child's process group (Spark's JVM and
    its Python workers run there) and wait until the group is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        try:
            os.killpg(p.pid, sig)
            while time.monotonic() < deadline:
                if p.poll() is None:
                    time.sleep(0.05)
                    continue
                os.killpg(p.pid, 0)  # raises once no member is left
                time.sleep(0.05)
        except ProcessLookupError:
            break
    p.wait()


def pin_serving() -> int:
    """Confine this process to one core, with pyarrow's CPU and I/O pools
    at one thread each: one server thread on one core. With the default
    pools (4 + 8 threads on 4 cores) a request hands work between threads
    many times, and on a shared host each hand-off waits on the scheduler:
    back-to-back passes of serve_tail's list then ranged 45-75 requests/s,
    against 58-63 on one core. Returns the core."""
    import pyarrow as pa

    cpu = max(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpu})
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    return cpu


def run_indexer(spec_path: str, scratch: str, env: dict) -> dict:
    """Run ``perfbench/indexer.py SPEC OUT`` in its own process group with
    its output logged to the scratch dir; returns what it wrote to OUT."""
    out_path = os.path.join(scratch, "indexer_out.json")
    logf = os.path.join(scratch, "indexer.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "indexer.py"), spec_path, out_path],
            cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    try:
        p.wait(timeout=CHILD_TIMEOUT_S)
    finally:
        stop_child(p)
    if p.returncode != 0 or not os.path.exists(out_path):
        with open(logf) as lf:
            tail = lf.read()[-4000:]
        raise RuntimeError(f"{os.path.basename(logf)}: exit {p.returncode}\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def same_rows(got, want, mode: str) -> bool:
    """deusu: exact integer scores; bm25: same doc ids, scores within 1e-5
    (tests/test_rank_identity.py)."""
    if mode == "deusu":
        return got == [tuple(x) for x in want]
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(x - y) < 1e-5 for (_, x), (_, y) in zip(got, want)
    )


def finite(v: float) -> float | None:
    """A latency statistic, or None when a failed request made it +inf."""
    return None if v == float("inf") else v


def pct(values, q) -> float | None:
    return finite(loadgen.percentile(values, q))


def open_loop_summary(res: loadgen.OpenLoopResult) -> str:
    """One line on the open loop: latency from due time per op at the
    highest percentile with ten samples beyond it, queueing, lateness."""
    parts = [f"open loop {len(res.samples)} requests:"]
    for op in ("search", "render"):
        lat = [x * 1e3 for x in res.latencies(op)]
        q = loadgen.highest_percentile(len(lat))
        if q is None:
            continue
        tail = f" p{q * 100:g} {loadgen.percentile(lat, q):.2f} ms" if q > 0.5 else ""
        parts.append(f"{op} p50 {loadgen.percentile(lat, 0.5):.2f} ms{tail} (n={len(lat)});")
    waits = [x.queue_wait * 1e3 for x in res.samples]
    parts.append(
        f"queue wait mean {statistics.fmean(waits):.2f} ms; "
        f"generator late max {max(res.late, default=0.0) * 1e3:.3f} ms"
    )
    return " ".join(parts)


class Run:
    def __init__(self, args, wl: wls.Workload, scratch: str):
        from deusu_spark import query_local, serving

        self.query_local, self.serving = query_local, serving
        self.args, self.wl, self.seed = args, wl, args.seed
        self.cpus = len(os.sched_getaffinity(0))
        self.trace_on = bool(args.trace)
        self.scratch = scratch
        self.open_s = args.seconds * OPEN_SHARE
        self.inp = make_inputs(wl, self.seed, self.open_s, self.trace_on)
        self.failures: list[str] = []
        self.open_summary = ""
        self.attempted = 0
        self.failed_ops = 0

    # -- set-up ------------------------------------------------------------
    def spec(self) -> dict:
        inp = self.inp
        ss, sr = inp.sample_search, inp.sample_render
        return {
            "n_conv": wls.N_CONV,
            "corpus_seed": wls.corpus_seed(self.seed),
            "fancy_threshold": wls.FANCY_THRESHOLD,
            "scratch": self.scratch,
            "trace": int(self.trace_on),
            "oracle_deusu": sorted(
                set(wls.F2_PROBES)
                | {r.query for r in ss if r.mode == "deusu"}
                | {r.query for r in sr}
            ),
            "oracle_bm25": sorted(
                set(wls.F2_BM25_PROBES) | {r.query for r in ss if r.mode == "bm25"}
            ),
            "oracle_top1000": sorted({r.query for r in sr}),
            "batch_queries": list(wls.F2_PROBES)
            + [r.query for r in inp.open_reqs[: BATCH_QUERIES - len(wls.F2_PROBES)]],
            "append_convs": wls.APPEND_CONVS,
            "rare_every": wls.RARE_EVERY,
            "delete_convs": list(wls.DELETE_CONVS),
            "probes": ["linux", "w0001 w0002", "google java"],
        }

    def env(self) -> dict:
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        )
        # Spark at local[nproc]; package importable on its Python workers
        env["SPARK_GRAFT_CPUS"] = str(self.cpus)
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.scratch, "spark-local")
        env["TMPDIR"] = os.path.join(self.scratch, "tmp")
        # every JVM (spark-submit's launcher and Spark's own) keeps its temp
        # files in the scratch dir and writes no hsperfdata file to /tmp
        env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
        env.pop("SPARK_GRAFT_SHUFFLE", None)
        return env

    def searcher(self):
        """A LocalSearcher on the built version, warmed: serve_hot with every
        pool query in both modes (the top-1000 a render reads is the deusu
        entry), both workloads with WARM_REQUESTS requests of their own mix
        so that lazy set-up in the serving process is done before timing."""
        s = self.query_local.LocalSearcher(self.b["index_dir"], version=self.b["version"])
        if not self.wl.distinct:
            for q in wls.query_pool():
                s.search(q, k=10, mode="deusu")
                s.search(q, k=10, mode="bm25")
        srv = Server(s, self.serving)
        for r in self.inp.warm_reqs:
            srv(r)
        return s

    def setup(self) -> None:
        spec_path = os.path.join(self.scratch, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(self.spec(), f)
        t0 = time.perf_counter()
        self.b = run_indexer(spec_path, self.scratch, self.env())
        self.oracle = self.b["oracle"]
        self.failures += self.b["failures"]
        log(f"set-up: {time.perf_counter() - t0:.1f}s wall, build "
            f"{self.b['build_s']:.1f}s; oracle {self.b['oracle_s']:.1f}s (untimed)")
        # untimed: write back the build's dirty pages now rather than while
        # the serving phases are timed
        os.sync()
        self.core = pin_serving()
        t0 = time.perf_counter()
        self.open_times = []
        for _ in range(3):
            t = time.perf_counter()
            self.query_local.LocalSearcher(self.b["index_dir"], version=self.b["version"])
            self.open_times.append(time.perf_counter() - t)
        self.s = self.searcher()
        self.setup_s = self.b["setup_s"] + time.perf_counter() - t0

    # -- checks --------------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def probes(self) -> None:
        """F2 probes on a separate searcher (the measured one's caches stay
        as set-up left them)."""
        probe = self.query_local.LocalSearcher(self.b["index_dir"], version=self.b["version"])
        ora = self.oracle
        for q in wls.F2_PROBES:
            self.check(same_rows(probe.search(q, k=10), ora["deusu"][q], "deusu"),
                       f"F2 probe {q!r} != oracle")
        for q in wls.F2_BM25_PROBES:
            self.check(same_rows(probe.search(q, k=10, mode="bm25"), ora["bm25"][q], "bm25"),
                       f"F2 bm25 probe {q!r} != oracle")

    def check_served(self, srv: Server) -> None:
        """Sampled served answers against the oracle: search top-10 exactly,
        render pages drawn from the oracle's top-1000."""
        ora = self.oracle
        for r in self.inp.sample_search:
            self.check(same_rows(srv.answers[r.key], ora[r.mode][r.query], r.mode),
                       f"search {r.query!r} ({r.mode}) != oracle")
        for r in self.inp.sample_render:
            self.check(
                same_rows(self.s.search(r.query, k=10), ora["deusu"][r.query], "deusu")
                and set(srv.answers[r.key]) <= set(ora["top1000"][r.query]),
                f"render {r.query!r} page {r.page} not from the oracle's top-1000",
            )

    def count(self, samples) -> None:
        self.attempted += len(samples)
        self.failed_ops += sum(1 for s in samples if not s.ok)

    # -- measured phases ------------------------------------------------------
    def open_loop(self, srv: Server) -> loadgen.OpenLoopResult:
        reqs = self.inp.open_reqs
        res = loadgen.run_open_loop(
            self.inp.schedule, [r.op for r in reqs], lambda i: srv(reqs[i])
        )
        self.count(res.samples)
        return res

    def closed_loop(self, srv: Server):
        reqs = self.inp.closed_reqs
        samples, elapsed = loadgen.run_closed_loop(
            len(reqs), [r.op for r in reqs], lambda i: srv(reqs[i])
        )
        self.count(samples)
        return samples, elapsed

    def end_to_end(self) -> dict:
        srv = Server(self.s, self.serving)
        closed, elapsed = self.closed_loop(srv)
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.check_served(srv)
        render = [x.latency * 1e3 for x in closed if x.op == "render"]
        b = self.b
        return {
            "setup_s": (self.setup_s, "s", 1),
            "index_bytes_per_posting": (b["layout"]["bytes"] / b["n_postings"], "B/posting", 1),
            # a mean, not a median: see perfbench/NOTES.md, "Noise"
            "render_mean_ms": (finite(statistics.fmean(render)), "ms", len(render)),
            "serve_qps": (len(closed) / elapsed, "1/s", len(closed)),
            "rss_mb": (rss_mb, "MB", 1),
        }

    def traced(self) -> dict:
        """Per-layer metrics: the set-up child's spans, lineage and event
        log; an untraced and a traced pass over the same fixed request list
        on two fresh searchers (their difference is the tracing overhead);
        and a traced open loop on the traced searcher."""
        from deusu_spark import codec, highlight

        ql, serving = self.query_local, self.serving
        reqs = self.inp.traced_reqs

        def one_pass(s, tracer=None):
            srv = Server(s, serving)
            times = {"search": [], "render": [], "failed": []}
            search_roots = []
            for i, r in enumerate(reqs):
                if tracer:
                    tracer.request = i
                    first = len(tracer.spans)
                t = time.perf_counter()
                try:
                    ok, err = srv(r), ""
                except Exception as e:  # a failed request, not a crash
                    ok, err = False, f": {e!r}"
                times[r.op if ok else "failed"].append(time.perf_counter() - t)
                self.check(ok, f"traced pass: {r.key} failed or answered differently{err}")
                if tracer and r.op == "search":
                    search_roots.append(
                        [sp.id for sp in tracer.spans[first:] if sp.parent is None]
                    )
            return srv, times, search_roots

        a_srv, untraced, _ = one_pass(self.searcher())
        s = self.searcher()
        tracer = tr.Tracer()
        LS = ql.LocalSearcher
        tracer.wrap(serving, "search_render", "serving.render")
        tracer.wrap(LS, "search", "query_local.search")
        tracer.wrap(LS, "fetch_results", "query_local.fetch_results")
        tracer.wrap(LS, "term_df", "query_local.term_df")
        tracer.wrap(LS, "_term_postings", "query_local.postings_read")
        tracer.wrap(ql, "compile_query", "queryplan.compile")
        tracer.wrap(codec, "decode", "codec.decode",
                    lambda a, r: {"bytes": len(a[0]), "postings": len(r[0])})
        tracer.wrap(serving, "adjust_ranking", "rerank.adjust_ranking")
        tracer.wrap(serving, "post_process", "rerank.post_process")
        tracer.wrap(highlight, "highlight_results", "highlight.highlight")
        c0 = (s.term_cache_hits, s.term_cache_misses, s.term_cache_evictions,
              s.cache_hits, s.cache_misses)
        try:
            b_srv, traced, roots = one_pass(s, tracer)
            pass_spans = list(tracer.spans)
            c1 = (s.term_cache_hits, s.term_cache_misses, s.term_cache_evictions,
                  s.cache_hits, s.cache_misses)
            srv = Server(s, serving)
            res = self.open_loop(srv)
        finally:
            tracer.restore()
        self.open_summary = open_loop_summary(res)
        self.check(a_srv.answers == b_srv.answers, "traced pass answers != untraced")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{self.wl.name}-seed{self.seed}-spans.jsonl"))

        lt = tr.layer_totals(pass_spans)
        st = tr.self_times(pass_spans)
        kids = tr.children(pass_spans)
        # every span of a search request lies under its root span: the sum
        # of their self times is the request's traced latency
        tree = [sum(tr.tree_self_sum(st, kids, rid) for rid in rts) for rts in roots]
        th, tm, tev, rh, rm = (y - x for x, y in zip(c0, c1))
        dec = [sp for sp in pass_spans if sp.name == "codec.decode"]
        b, bs, ing = self.b, self.b["spans"], self.b["ingest"]
        bev = b["events"].get("build", {})
        qev = b["events"].get("query", {})
        mean = statistics.fmean
        qwait = [x.queue_wait * 1e3 for x in res.samples]
        service = [x.service * 1e3 for x in res.samples]
        n_open, n_search = len(res.samples), len(traced["search"])

        def self_s(name):
            return lt.get(name, (0.0, 0))[0]

        def child(name, key="self_s"):
            return bs.get(name, {}).get(key, 0)

        m = {
            "session.start_s": (b["session_start_s"], "s"),
            "build.docs_s": (b["lineage"].get("docs", 0.0), "s"),
            "build.docmeta_s": (b["lineage"].get("docmeta", 0.0), "s"),
            "build.lexicon_s": (b["lineage"].get("lexicon", 0.0), "s"),
            "build.segments_s": (b["lineage"].get("segments", 0.0), "s"),
            "build.publish_s": (b["lineage"].get("publish", 0.0), "s"),
            "build.spark_tasks": (bev.get("tasks", 0), "count"),
            "build.failed_tasks": (bev.get("failed_tasks", 0), "count"),
            "build.task_cpu_s": (bev.get("cpu_s", 0.0), "s"),
            "build.gc_s": (bev.get("gc_s", 0.0), "s"),
            "build.shuffle_write_mb": (bev.get("shuffle_write_mb", 0.0), "MB"),
            "build.spill_mb": (bev.get("spill_mb", 0.0), "MB"),
            "build.postings_per_s": (b["n_postings"] / b["build_s"], "postings/s"),
            "build.compressed_bytes_per_posting": (b["compressed_bytes"] / b["n_postings"], "B/posting"),
            "query.open_s": (b["query_open_s"], "s"),
            "query.search_many_s": (b["search_many_s"], "s"),
            "query.batch_qps": (b["batch_queries"] / b["search_many_s"], "1/s"),
            "query.spark_jobs": (qev.get("jobs", 0), "count"),
            "query.spark_tasks": (qev.get("tasks", 0), "count"),
            "query.task_cpu_s": (qev.get("cpu_s", 0.0), "s"),
            "queryplan.compile_s": (self_s("queryplan.compile"), "s"),
            "queryplan.compile_calls": (lt.get("queryplan.compile", (0, 0))[1], "count"),
            "query_local.open_s": (statistics.median(self.open_times), "s"),
            "query_local.search_self_s": (self_s("query_local.search"), "s"),
            "query_local.postings_read_s": (self_s("query_local.postings_read"), "s"),
            "query_local.term_df_s": (self_s("query_local.term_df"), "s"),
            "query_local.fetch_results_s": (self_s("query_local.fetch_results"), "s"),
            "query_local.term_cache_hits": (th, "count"),
            "query_local.term_cache_lookups": (th + tm, "count"),
            "query_local.term_cache_hit_ratio": (th / max(th + tm, 1), "ratio"),
            "query_local.term_cache_evictions": (tev, "count"),
            "query_local.result_cache_hits": (rh, "count"),
            "query_local.result_cache_lookups": (rh + rm, "count"),
            "query_local.result_cache_hit_ratio": (rh / max(rh + rm, 1), "ratio"),
            "codec.decode_s": (self_s("codec.decode"), "s"),
            "codec.decode_calls": (len(dec), "count"),
            "codec.postings_decoded": (sum(sp.attrs["postings"] for sp in dec), "count"),
            "codec.bytes_decoded": (sum(sp.attrs["bytes"] for sp in dec), "B"),
            "rerank.adjust_ranking_s": (self_s("rerank.adjust_ranking"), "s"),
            "rerank.post_process_s": (self_s("rerank.post_process"), "s"),
            "highlight.highlight_s": (self_s("highlight.highlight"), "s"),
            "serving.render_self_s": (self_s("serving.render"), "s"),
            "tableio.publish_s": (child("tableio.publish"), "s"),
            "tableio.publish_calls": (child("tableio.publish", "calls"), "count"),
            "incremental.update_s": (child("incremental.update"), "s"),
            "incremental.delete_s": (child("incremental.delete"), "s"),
            "ingest.docs_per_s": (ing["appended_docs"] / ing["append_s"], "docs/s"),
            "ingest.fresh_s": (ing["fresh_s"], "s"),
            "ingest.takedown_s": (ing["takedown_s"], "s"),
            "index.postings_files": (ing["layout_after"]["postings_files"], "count"),
            "index.bytes": (ing["layout_after"]["bytes"], "B"),
            # p75: serve_hot's 5 s open loop offers 90 requests
            "serve.queue_wait_p75_ms": (pct(qwait, 0.75), "ms"),
            "serve.service_p50_ms": (pct(service, 0.5), "ms"),
            "serve.service_p75_ms": (pct(service, 0.75), "ms"),
            "loadgen.late_max_ms": (max(res.late, default=0.0) * 1e3, "ms"),
            "trace.search_untraced_ms": (mean(untraced["search"]) * 1e3, "ms"),
            "trace.search_traced_ms": (mean(traced["search"]) * 1e3, "ms"),
            "trace.search_self_sum_ms": (mean(tree) * 1e3, "ms"),
            "trace.overhead_search_ms": ((mean(traced["search"]) - mean(untraced["search"])) * 1e3, "ms"),
            "trace.overhead_render_ms": ((mean(traced["render"]) - mean(untraced["render"])) * 1e3, "ms"),
        }
        n = {"serve.": n_open, "trace.search": n_search}
        return {
            k: (None if v is None else float(v), u,
                next((c for p, c in n.items() if k.startswith(p)), 1))
            for k, (v, u) in m.items()
        }

    # -- run ---------------------------------------------------------------------
    def execute(self) -> int:
        load_start = os.getloadavg()[0]
        self.setup()
        self.probes()
        metrics = self.traced() if self.trace_on else self.end_to_end()
        for f in self.failures:
            log(f"FAIL: {f}")
        failed = self.failed_ops + len(self.failures)
        print(
            f"workload={self.wl.name} seed={self.seed} seconds={self.args.seconds:g} "
            f"trace={int(self.trace_on)} cpus={self.cpus} serving_core={self.core} "
            f"loadavg_1m start={load_start:.2f} end={os.getloadavg()[0]:.2f}"
        )
        print(
            f"corpus {self.b['n_docs']} docs / {self.b['n_postings']} postings "
            f"(term cache holds 4194304); attempted {self.attempted}, failed {failed}"
        )
        if self.open_summary:
            print(self.open_summary)
        for k, (v, unit, cnt) in metrics.items():
            shown = "inf" if v is None else f"{v:.6g}"
            print(f"  {k:<36} {shown:>14} {unit:<11} n={cnt}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
        }))
        return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wls.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "deusu_spark", "build.py")):
        log(f"deusu_spark not found under {ROOT}: run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_tmp")
    scratch = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        return Run(args, wls.WORKLOADS[args.workload], scratch).execute()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
