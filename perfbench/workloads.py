"""Workload definitions and seeded input generation for the search-traffic
benchmark.

Everything a run feeds the engine is a pure function of (workload, seed):
the corpus comes from ``synth.gen_transcripts(seed=corpus_seed(seed))`` and
the request streams from ``random.Random`` seeded with the command-line
seed, so the same seed gives the same inputs. The engine only ever sees the
generated strings.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass

# FIXTURES F2 probe queries (the shapes pinned by tests/test_rank_identity.py):
# every run checks them against the oracle on the run's own corpus.
F2_PROBES = (
    "linux",
    "w0042",
    "linux ubuntu",
    "linux and java",
    "linux -google",
    "linux nicht google",
    "der linux die",
    "w0100 w0005 linux",
    "intitle:assistant linux",
    "inurl:conv00000017 linux",
    "host:conv00000017",
    "host:conv00000017 linux",
    "über straße",
    "w0001 w0002 w0003 w0004 w0005 w0006 w0007 w0008 w0009 w0010 w0011",
    "-linux",
    "nosuchterm12345",
    "w0007 -w0002",
    "google w0003",
    "google java",
    "linux ubuntu java",
    "w0001 w0002",
)
F2_BM25_PROBES = ("linux", "linux ubuntu", "linux -google", "w0042", "host:conv00000017")

N_CONV = 2000  # corpus: ~20k docs (turns), ~0.84M postings
FANCY_THRESHOLD = 300

# Traffic mix. These values are assumptions, not fitted to any query log:
# the repository has none, and the reference publishes only a mean latency.
# perfbench/NOTES.md gives the reason for each value.
RENDER_SHARE = 0.3  # of requests; the rest search top-10
BM25_SHARE = 0.2  # of searches
HOT_SHARE = 0.3  # of query terms: one of the five HOT terms
TERM_COUNTS = (1, 2, 2, 3)  # terms per query, drawn uniformly (mean 2.0)
NOT_SHARE, INTITLE_SHARE, HOST_SHARE = 0.15, 0.10, 0.08  # operator per query
POOL_SIZE = 120  # serve_hot's popular queries
ZIPF_S = 1.1  # serve_hot's open-loop popularity skew over the pool

# ingest cycle of the traced run: one appended batch whose every 7th turn
# carries a unique marker token (synth rare_every), and one takedown
APPEND_CONVS = 50
RARE_EVERY = 7
DELETE_CONVS = (3, 11)

HOT = ("linux", "google", "java", "ubuntu", "firefox")
VOCAB = 5000  # synth.VOCAB_SIZE


@dataclass(frozen=True)
class Workload:
    name: str
    distinct: bool  # True: every request is a new query string
    closed_requests: int  # fixed request list of the closed loop
    rate: float  # open-loop offered rate (requests/s)


# The closed-loop lists take about a 12 s run and the open-loop rates
# are about half the single-client closed-loop capacity, both as measured on
# the parent commit (4-core host, serving process on one core); they are
# frozen so every later commit is compared on the same work at the same load.
WORKLOADS = {
    "serve_hot": Workload("serve_hot", distinct=False, closed_requests=3 * POOL_SIZE, rate=18.0),
    "serve_tail": Workload("serve_tail", distinct=True, closed_requests=660, rate=30.0),
}


@dataclass(frozen=True)
class Request:
    op: str  # "search" | "render"
    query: str
    mode: str  # "deusu" | "bm25" (render is always deusu)
    page: int  # render page 1..3 (search: 1)

    @property
    def key(self) -> tuple:
        return (self.op, self.query, self.mode, self.page)


def corpus_seed(seed: int) -> int:
    """Corpus seed for synth.gen_transcripts, derived from the run seed."""
    return 1000 + seed


# Vocabulary rank bands [2^i - 1, 2^(i+1) - 1): the synthetic corpus draws
# word w<r> with probability ~ 1/(r+1)^1.1, so df varies at most ~2x within
# a band and by orders of magnitude across bands.
BANDS = [(2**i - 1, min(2 ** (i + 1) - 1, VOCAB)) for i in range(VOCAB.bit_length())]


def _band(rng: random.Random, head: bool) -> int:
    """A rank band for one vocabulary term: drawn with the probability of
    the head of the Zipf vocabulary (rank ~ 1/u, capped at 500) or of a
    word drawn uniformly from all of it."""
    if head:
        r = min(int(1 / max(rng.random(), 1e-9)), 500) - 1
    else:
        r = rng.randrange(VOCAB)
    return next(i for i, (lo, hi) in enumerate(BANDS) if lo <= r < hi)


def _shape(rng: random.Random, head: bool) -> tuple:
    """A query's shape: for each of its 1-3 terms, a hot term (None) or a
    vocabulary rank band; and its operator (none, ``-term``, ``intitle:``,
    ``host:``)."""
    n = rng.choice(TERM_COUNTS)
    terms = tuple(None if rng.random() < HOT_SHARE else _band(rng, head) for _ in range(n))
    r = rng.random()
    c1 = NOT_SHARE
    c2 = c1 + INTITLE_SHARE
    c3 = c2 + HOST_SHARE
    op = "not" if r < c1 and n >= 2 else "intitle" if r < c2 else "host" if r < c3 else ""
    return terms, op


def make_query(rng: random.Random, head: bool, shape: tuple | None = None) -> str:
    """A query string of ``shape`` (drawn from ``rng`` when not given) with
    its words drawn from ``rng``: a hot term, or a word of the term's band."""
    bands, op = shape or _shape(rng, head)
    terms = [
        rng.choice(HOT) if b is None else f"w{rng.randrange(*BANDS[b]):04d}"
        for b in bands
    ]
    if op == "not":
        terms[-1] = "-" + terms[-1]
    elif op == "intitle":
        terms.insert(0, "intitle:" + rng.choice(("user", "assistant", "system", "tool")))
    elif op == "host":
        terms.insert(0, f"host:conv{rng.randrange(N_CONV):08d}")
    return " ".join(terms)


def query_pool() -> list[str]:
    """serve_hot's popular queries, in popularity order. Fixed across seeds,
    like the head of a query log: each query's render cost depends tenfold
    on its result count, and a pool redrawn per seed moved render_p50_ms by
    25% between seeds."""
    rng = random.Random("pool:serve_hot")
    pool: list[str] = []
    while len(pool) < POOL_SIZE:
        q = make_query(rng, head=True)
        if q not in pool:
            pool.append(q)
    return pool


class RequestStream:
    """Seeded request generator; ``phase`` names independent sub-streams
    (the open loop, the closed loop, the traced pass) so that each phase's
    requests do not depend on how many another phase drew.

    serve_hot draws from the pool with Zipf popularity. serve_tail never
    repeats a string within the ``used`` set its phases share; the k-th
    request of a phase has the same shape (hot terms, word rank bands,
    operator), op and mode on every seed and only its words change, so
    every run carries the same mix of heavy and light queries."""

    def __init__(self, wl: Workload, seed: int, phase: str, used: set[str] | None = None):
        self.wl = wl
        self.rng = random.Random(f"{phase}:{wl.name}:{seed}")
        self.shape_rng = random.Random(f"{phase}:{wl.name}") if wl.distinct else self.rng
        self.used = used if used is not None else set()
        if not wl.distinct:
            self.pool = query_pool()
            self.cum = list(itertools.accumulate(1.0 / (i + 1) ** ZIPF_S for i in range(POOL_SIZE)))

    def next(self, op: str | None = None) -> Request:
        """The next request; its op is drawn with RENDER_SHARE unless given."""
        if op is None:
            op = "render" if self.shape_rng.random() < RENDER_SHARE else "search"
        mode = "bm25" if op == "search" and self.shape_rng.random() < BM25_SHARE else "deusu"
        if not self.wl.distinct:
            i = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
            q = self.pool[min(i, POOL_SIZE - 1)]
        else:
            # a render shows one vocabulary word's results (distinct random
            # 2-3 word ANDs over the whole vocabulary are mostly empty, and
            # an empty page costs nothing to compose)
            shape = ((_band(self.shape_rng, False),), "") if op == "render" else _shape(self.shape_rng, False)
            for _ in range(20):
                q = make_query(self.rng, False, shape)
                if q not in self.used:
                    break
            else:  # a shape with few strings (a hot term, a narrow band) is used up
                while q in self.used:
                    q = make_query(self.rng, False, ((_band(self.rng, False),), "") if op == "render" else None)
            self.used.add(q)
        page = self.rng.randint(1, 3) if op == "render" else 1
        return Request(op, q, mode, page)

    def take(self, n: int) -> list[Request]:
        """``n`` requests with exactly round(n * RENDER_SHARE) renders, so
        per-op sample counts are fixed."""
        n_render = round(n * RENDER_SHARE)
        ops = ["render"] * n_render + ["search"] * (n - n_render)
        self.shape_rng.shuffle(ops)
        return [self.next(op) for op in ops]


def closed_list(wl: Workload, seed: int, used: set[str]) -> list[Request]:
    """The closed loop's fixed request list. serve_tail: distinct queries
    with a fixed op count. serve_hot: the pool shuffled, each query once as a
    render and twice as a deusu search, so every run serves the same mix.
    The pool's bm25 entries stay out of this list: with them the pool's keys
    fill the result cache's 2048 direct-mapped slots twice as densely, and
    the share of searches that miss on a slot collision approaches 10%,
    which would put the searches' p90 on the hit/miss boundary."""
    if wl.distinct:
        return RequestStream(wl, seed, "closed", used).take(wl.closed_requests)
    rng = random.Random(f"closed:{wl.name}:{seed}")
    pool = query_pool()
    reqs = [Request("render", q, "deusu", rng.randint(1, 3)) for q in pool]
    reqs += [Request("search", q, "deusu", 1) for q in pool] * 2
    rng.shuffle(reqs)
    return reqs


def arrival_schedule(rate: float, seconds: float, seed: int) -> list[float]:
    """Open-loop arrival offsets (s from window start): a Poisson process
    at ``rate`` conditioned on its expected count, i.e. round(rate *
    seconds) sorted uniform times, so every run of a workload offers the
    same number of requests."""
    rng = random.Random(f"arrivals:{seed}")
    return sorted(rng.uniform(0.0, seconds) for _ in range(round(rate * seconds)))
