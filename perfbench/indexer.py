"""Set-up child of the benchmark: generate the corpus, start Spark, build
the index; then, untimed, compute the oracle's answers.

Runs as its own process so that the serving process's peak RSS holds no
corpus and no Spark state. The timed build is the JVM's first: there is
no warm-up build (see perfbench/NOTES.md, "Budget"). After it, with Spark
idle and outside every timed figure, the pure-Python reference port
(``deusu_spark/oracle``) answers the run's check queries on the same
corpus. In the traced run it also drives the distributed batch path and
one ingest cycle (append, takedown, reopen) with Spark's event log on.

    python3 perfbench/indexer.py SPEC.json OUT.json
"""

from __future__ import annotations

import json
import os
import sys
import time

T_START = time.perf_counter()

from pyspark.sql import SparkSession  # noqa: E402

from deusu_spark import build, incremental, query, synth, tableio  # noqa: E402
from deusu_spark.oracle import oracle  # noqa: E402
from deusu_spark.query_local import LocalSearcher  # noqa: E402
from deusu_spark.session import get_spark  # noqa: E402

import spans as tr  # noqa: E402  (perfbench/spans.py)


def index_layout(root: str) -> dict:
    """Files and bytes of the published tables of the CURRENT version,
    counting each inode once (versions share files via hard links)."""
    vdir = build.current_index_dir(root)
    seen: set[tuple[int, int]] = set()
    total, postings_files = 0, 0
    for sub in ("docmeta", "lexicon", "postings", "tombstones"):
        for dirpath, _dirs, files in os.walk(os.path.join(vdir, sub)):
            for fn in files:
                st = os.stat(os.path.join(dirpath, fn))
                if (st.st_dev, st.st_ino) in seen:
                    continue
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
                if sub == "postings" and fn.endswith(".parquet"):
                    postings_files += 1
    return {"bytes": total, "postings_files": postings_files}


def oracle_answers(corpus, spec: dict) -> dict:
    oi = oracle.build_index(corpus, fancy_threshold=spec["fancy_threshold"])
    return {
        "deusu": {q: oracle.search(oi, q, k=10) for q in spec["oracle_deusu"]},
        "bm25": {q: oracle.search_bm25(oi, q, k=10) for q in spec["oracle_bm25"]},
        "top1000": {
            q: [d for d, _ in oracle.search(oi, q, k=1000)]
            for q in spec["oracle_top1000"]
        },
    }


class Windows:
    """Wall-clock windows (epoch s) of the Spark-driving calls, for
    attributing event-log jobs that carry no job group."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.w: dict[str, tuple[float, float]] = {}

    def run(self, group: str, fn, *a, **kw):
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.time()
        try:
            return fn(*a, **kw)
        finally:
            self.w[group] = (t0, time.time())
            self.spark.sparkContext.setJobGroup("idle", "idle")


def ingest_cycle(spark, win, root, spec, out, failures):
    """One append of a marker-carrying batch and one takedown, reopening
    the searcher after each; checks the marker and the takedown."""
    n_conv = spec["n_conv"]
    batch = synth.gen_transcripts(
        spec["append_convs"], seed=spec["corpus_seed"] + 1, start=n_conv,
        rare_every=spec["rare_every"],
    )
    bpath = os.path.join(spec["scratch"], "append.parquet")
    synth.write_parquet(batch, bpath)
    before = LocalSearcher(root)
    old_n = before.n_docs
    gone = [f"conv{c:08d}" for c in spec["delete_convs"]]
    gone_docs = {
        d for c in gone for d, _ in before.search(f"host:{c}", k=1000)
    }
    # the first appended turn carries the marker r<conv>x0 (rare_every)
    marker = f"r{n_conv}x0"

    t0 = time.perf_counter()
    win.run("incremental", incremental.incremental_update, spark, root,
            spark.read.parquet(bpath))
    t_app = time.perf_counter() - t0
    s = LocalSearcher(root)
    hit = s.search(marker, k=10)
    out["fresh_s"] = time.perf_counter() - t0
    out["append_s"] = t_app
    out["appended_docs"] = len(batch)
    if not hit or hit[0][0] != old_n:
        failures.append(f"append: marker {marker} not found as doc {old_n}: {hit}")

    t0 = time.perf_counter()
    win.run("delete", incremental.delete_conversations, spark, root, gone)
    s = LocalSearcher(root)
    out["takedown_s"] = time.perf_counter() - t0
    for c in gone:
        if s.search(f"host:{c}", k=10):
            failures.append(f"delete: deleted {c} still returned")
    for q in spec["probes"]:
        if gone_docs & {d for d, _ in s.search(q, k=1000)}:
            failures.append(f"delete: deleted doc returned for {q!r}")
    if s.search(marker, k=10) != hit:
        failures.append("delete: marker result changed")
    out["layout_after"] = index_layout(root)


def main(spec_path: str, out_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    scratch = spec["scratch"]
    trace_on = bool(spec["trace"])
    out: dict = {}
    failures: list[str] = []

    corpus = synth.gen_transcripts(spec["n_conv"], seed=spec["corpus_seed"])
    cpath = os.path.join(scratch, "corpus.parquet")
    synth.write_parquet(corpus, cpath)

    extra = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_on:
        os.makedirs(os.path.join(scratch, "events"), exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + os.path.join(scratch, "events")
        extra["spark.eventLog.compress"] = "false"
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", extra=extra)
    out["session_start_s"] = time.perf_counter() - t0

    tracer = tr.Tracer() if trace_on else None
    if tracer:
        tracer.wrap(tableio.TableIO, "publish", "tableio.publish")
        tracer.wrap(build, "build_index", "build.build_index")
        tracer.wrap(incremental, "incremental_update", "incremental.update")
        tracer.wrap(incremental, "delete_conversations", "incremental.delete")
        tracer.wrap(query.SearchEngine, "search_many", "query.search_many")

    root = os.path.join(scratch, "index")
    win = Windows(spark)
    t0 = time.perf_counter()
    m = win.run(
        "build", build.build_index, spark, spark.read.parquet(cpath), root,
        fancy_threshold=spec["fancy_threshold"],
    )
    out["build_s"] = time.perf_counter() - t0
    out["setup_s"] = time.perf_counter() - T_START
    out["n_docs"] = int(m["n_docs"])
    out["n_postings"] = int(m["n_postings"])
    out["compressed_bytes"] = int(m["compressed_bytes"])
    out["index_dir"] = root
    out["version"] = m["version"]
    out["layout"] = index_layout(root)
    steps: dict[str, float] = {}
    with open(m["lineage"]) as f:
        for line in f:
            rec = json.loads(line)
            name = "segments" if rec["step"].startswith("segments") else rec["step"]
            steps[name] = steps.get(name, 0.0) + float(rec.get("wall_s", 0.0))
    out["lineage"] = steps

    t0 = time.perf_counter()
    out["oracle"] = oracle_answers(corpus, spec)
    out["oracle_s"] = time.perf_counter() - t0

    if trace_on:
        # distributed batch path: one SearchEngine.search_many over the
        # batch must equal the serving engine query by query
        t0 = time.perf_counter()
        eng = win.run("query_open", query.SearchEngine, spark, root)
        out["query_open_s"] = time.perf_counter() - t0
        batch = spec["batch_queries"]
        t0 = time.perf_counter()
        got = win.run("query", eng.search_many, batch, k=10)
        out["search_many_s"] = time.perf_counter() - t0
        ls = LocalSearcher(root)
        for q, rows in zip(batch, got):
            if rows != ls.search(q, k=10):
                failures.append(f"search_many != LocalSearcher for {q!r}")
        out["batch_queries"] = len(batch)
        ingest = {}
        ingest_cycle(spark, win, root, spec, ingest, failures)
        out["ingest"] = ingest

    spark.stop()

    if tracer:
        tracer.restore()
        out["spans"] = {
            k: {"self_s": v[0], "calls": v[1]}
            for k, v in tr.layer_totals(tracer.spans).items()
        }
        ev_dir = os.path.join(scratch, "events")
        logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
        out["events"] = tr.spark_event_totals(
            logs[0], {g: w for g, w in win.w.items() if g in ("build", "query")}
        ) if logs else {}

    out["failures"] = failures
    with open(out_path, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
