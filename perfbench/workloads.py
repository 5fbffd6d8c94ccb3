"""The benchmark's workloads, run in a child process of ``run.py``.

Usage (``run.py`` sets the environment and calls this):
    python3 perfbench/workloads.py --workload interactive_qa --seed 1 \
        --seconds 10 --trace 0 --workdir <dir> [--tiny]

Prints one JSON object as its last line of standard output:
{"correct", "attempted", "failed", "metrics", "layers"}.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracle as O
from tracing import Tracer

COLL = "docs"

# interactive_qa sizes. At 2,000 docs driver-side plan build, py4j and
# per-job scheduling dominate every request on 4 cores (the regime this
# workload exists to measure); the query pool of 40 with a Zipf(1.0) draw
# repeats the head queries within a run.
QA_DOCS = 2000
QA_POOL = 40
# The reference app loop's settings (rag_ui.py:104-147).
QA_ALPHA = 0.25
QA_RERANK_TOPK = 3
QA_TOKEN_THRESHOLD = 2500
LIMIT = 10
# Facade verbs, and the eight requests of one closed-loop cycle in a seeded
# order. rag_answer (the app's user turn) and the exact hybrid search (the
# reference's default search) are sent twice. With this mix the median is
# the mean of two exact-hybrid latencies and the 90th percentile lies
# between the two rag_answer ones, whatever the number of cycles, so the
# quantiles neither rest on one sample nor jump between verbs.
QA_VERBS = ["keyword", "vector_ivf", "hybrid_exact", "hybrid_ivf",
            "rerank", "rag"]
QA_CYCLE = QA_VERBS + ["hybrid_exact", "rag"]

# ingest_mixed sizes: a 2,000-doc standing collection, 250-doc batches
# (a realistic micro-batch that is still small against the corpus, so a
# per-batch cost that scales with the corpus shows), 25 deletes per cycle
# (10% churn, enough to build tombstone debt between compactions), and a
# compaction every 2 cycles.
INGEST_BASE = 2000
INGEST_BATCH = 250
INGEST_DELETES = 25
COMPACT_EVERY = 2

# order of untraced (False) and traced (True) steps in a traced run
ABBA = [False, True, True, False]

TINY = {"QA_DOCS": 300, "INGEST_BASE": 300, "INGEST_BATCH": 40,
        "INGEST_DELETES": 5}


def _p90(xs):
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    n_files = n_bytes = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            n_bytes += os.path.getsize(os.path.join(dp, f))
            n_files += f.endswith(".parquet")
    return n_files, n_bytes


def _user_bytes(rows) -> int:
    """Live user payload: 8 bytes of id plus the UTF-8 text of each doc."""
    return sum(8 + len(t.encode()) for _, t in rows)


class Bench:
    """State of one run: session, facade client, tracer, per-op records and
    the correctness tally."""

    def __init__(self, args) -> None:
        self.args = args
        self.workdir = args.workdir
        self.root = os.path.join(self.workdir, "warehouse")
        self.rng = np.random.default_rng(args.seed)
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latency: dict[bool, list[tuple[str, float]]] = {False: [], True: []}
        # tombstoned ids found just before each traced compaction
        self.tombstone_debt: list[int] = []

    # -- lifecycle -------------------------------------------------------

    def start(self) -> None:
        import vectorsearch_applications_spark.client  # noqa: F401  (layers)
        from vectorsearch_applications_spark.session import get_spark

        # an untraced run leaves the library unpatched
        if self.args.trace:
            self.tracer.install()
            self.tracer.enabled = True
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t
        from vectorsearch_applications_spark.client import SparkSearchClient

        self.client = SparkSearchClient(self.spark, self.root)

    def write_parquet(self, path: str, rows) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table = pa.table({
            "doc_id": pa.array([d for d, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
        })
        pq.write_table(table, path)
        return path

    def frame(self, rows, schema: str = "doc_id long, text string"):
        from vectorsearch_applications_spark.sources.io import one_slice_df

        return one_slice_df(self.spark, rows, schema)

    def setup(self, src_path: str) -> dict[str, float]:
        """Create the collection and build its text and IVF indexes. Done
        once per run: the first, cold set-up is the one a user pays, and
        a warm repeat would cost ~5 s of the run's time budget."""
        t0 = time.perf_counter()
        self.client.create_collection(COLL, self.spark.read.parquet(src_path))
        t1 = time.perf_counter()
        self.client.build_text_index(COLL)
        self.client.build_ann_index(COLL, kind="ivf")
        t2 = time.perf_counter()
        return {"create_s": t1 - t0, "index_s": t2 - t1, "total_s": t2 - t0}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # -- one timed operation ---------------------------------------------

    def op(self, kind: str, build, traced: bool):
        """Build a facade plan, run it, return its rows. The latency covers
        plan build, compile and the action. In traced mode the jobs are
        tagged with a job group and compile is timed apart from the
        action."""
        tr = self.tracer
        tr.enabled = traced
        if not traced:
            t0 = time.perf_counter()
            rows = build().collect()
            self.latency[False].append((kind, time.perf_counter() - t0))
            self.attempted += 1
            return rows
        group = tr.begin_op(self.spark, kind)
        t0 = time.perf_counter()
        with tr.span(f"op.{kind}"):
            df = build()
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
        t3 = time.perf_counter()
        self.latency[True].append((kind, t3 - t0))
        self.attempted += 1
        tr.end_op(self.spark, group, kind, len(rows), t2 - t1, t3 - t2)
        return rows

    def window(self, step) -> None:
        """The closed loop: call ``step(traced)`` until the window is used
        up. A traced run gives the untraced and the traced phase a full
        window each, alternating in ABBA order so that neither side gets
        all the later, warmer steps; the overhead then compares like with
        like."""
        spent = {False: 0.0, True: 0.0} if self.args.trace else {False: 0.0}
        i = 0
        while min(spent.values()) < self.args.seconds:
            traced = ABBA[i % 4] if self.args.trace else False
            i += 1
            if spent[traced] >= self.args.seconds:
                continue
            t = time.perf_counter()
            step(traced)
            spent[traced] += time.perf_counter() - t
        self.tracer.enabled = False

    def timed(self, fn, traced: bool, span: str | None = None):
        """An eager write-path call, timed. Facade verbs trace themselves;
        ``span`` adds a benchmark-side span around other calls."""
        self.tracer.enabled = traced
        t0 = time.perf_counter()
        with self.tracer.span(span) if span else contextlib.nullcontext():
            fn()
        return time.perf_counter() - t0

    # -- results ---------------------------------------------------------

    def overhead_ratio(self) -> float:
        """Traced against untraced latency: sum over op kinds of the median
        traced latency over the same for untraced ops."""
        def med(traced):
            by: dict[str, list[float]] = {}
            for k, s in self.latency[traced]:
                by.setdefault(k, []).append(s)
            return {k: statistics.median(v) for k, v in by.items()}

        u, t = med(False), med(True)
        kinds = sorted(set(u) & set(t))
        return sum(t[k] for k in kinds) / sum(u[k] for k in kinds)

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers of the traced phase: mean self time per call
        for every span, py4j round trips of the facade verbs, and the
        Spark stage metrics averaged over the traced read operations."""
        from vectorsearch_applications_spark.operators import bm25

        tr = self.tracer
        out: dict[str, float] = {}
        for name, s in sorted(tr.summary().items()):
            if name.startswith("op."):
                continue
            out[f"{name}_s"] = s["self_s"]
            out[f"{name}.calls"] = s["calls"]
            if name.startswith("client."):
                out[f"{name.removesuffix('.build')}.py4j_calls"] = s["py4j"]
        reads = tr.ops
        n = max(len(reads), 1)
        for field in ("jobs", "tasks", "compile_s", "action_s",
                      "executor_run_s", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
            out[f"spark.{field}"] = sum(o.get(field, 0) for o in reads) / n
        results = sum(o["result_rows"] for o in reads)
        out["spark.shuffle_records_per_result"] = (
            sum(o.get("shuffle_read_records", 0) for o in reads) / max(results, 1))
        builds = [s for s in tr.spans if "end" in s and s["name"].startswith("client.")
                  and s["parent"] is not None
                  and tr.spans[s["parent"]]["name"].startswith("op.")]
        out["client.build_s"] = sum(s["end"] - s["start"] for s in builds) / n
        out["client.py4j_calls"] = sum(s["py4j"] for s in builds) / n
        out["bm25.stats_builds"] = sum(
            1 for s in tr.spans if s["name"] == "bm25.build_stats" and tr.under_op(s))
        out["bm25.cache_entries"] = len(bm25._INDEX_CACHE)
        n_files, n_bytes = _dir_stats(self.root)
        out["collections.files"] = n_files
        out["collections.bytes_written"] = n_bytes
        from vectorsearch_applications_spark.sources.index_catalog import index_inventory

        inv = index_inventory(self.spark, self.root).collect()
        out["index_catalog.tombstone_rows"] = max(
            [sum(r["tombstoned_ids"] for r in inv), *self.tombstone_debt])
        out["trace.overhead_ratio"] = self.overhead_ratio()
        return out


# ---------------------------------------------------------------------------
# interactive_qa
# ---------------------------------------------------------------------------


def interactive_qa(b: Bench) -> dict[str, float]:
    c = b.client
    docs = inputs.make_docs(b.rng, QA_DOCS)
    pool = [q for _, q, _ in inputs.golden_queries(b.rng, docs, QA_POOL)]
    src = b.write_parquet(os.path.join(b.workdir, "inputs", "qa.parquet"), docs)

    built = b.setup(src)
    verbs = {
        "keyword": lambda q: c.keyword_search(COLL, q, limit=LIMIT),
        "vector_ivf": lambda q: c.vector_search(COLL, q, limit=LIMIT, backend="ivf"),
        "hybrid_exact": lambda q: c.hybrid_search(COLL, q, alpha=QA_ALPHA, limit=LIMIT),
        "hybrid_ivf": lambda q: c.hybrid_search(
            COLL, q, alpha=QA_ALPHA, limit=LIMIT, backend="ivf"),
        "rerank": lambda q: c.rerank_search(COLL, q),
        "rag": lambda q: c.rag_answer(
            COLL, q, alpha=QA_ALPHA, rerank_topk=QA_RERANK_TOPK,
            token_threshold=QA_TOKEN_THRESHOLD),
    }
    # untimed warm-up on a query outside the pool: the first rag_answer
    # starts the Python workers of the exact-kNN and completion UDFs, which
    # costs seconds; later first calls of the other verbs cost only a few
    # tenths, below the median. A full warm-up cycle measured no steadier.
    t = time.perf_counter()
    warm = " ".join(docs[0][1].split()[:4])
    b.op("rag", lambda: verbs["rag"](warm), traced=False)
    warmup_s = time.perf_counter() - t
    b.latency[False].clear()
    b.attempted = 0

    record = []

    def cycle(traced: bool) -> None:
        for name in b.rng.permutation(QA_CYCLE):
            q = inputs.zipf_stream(b.rng, pool, 1)[0]
            rows = b.op(str(name), lambda: verbs[str(name)](q), traced)
            record.append((str(name), q, rows))

    b.window(cycle)

    # untimed checks on a seeded sample: one request of every verb
    orc = O.Oracle(docs)
    live = {d for d, _ in docs}
    for name in QA_VERBS:
        picks = [r for r in record if r[0] == name]
        _, q, rows = picks[int(b.rng.integers(0, len(picks)))]
        b.check(_check_qa(orc, live, name, q, rows), f"{name}: {q!r}")

    reads = [s for _, s in b.latency[False]]
    return {
        "setup_s": b.session_s + built["total_s"] + warmup_s,
        "read_p50_s": statistics.median(reads),
        "read_p90_s": _p90(reads),
        "_index_build_s": built["index_s"],
        "ingest_docs_per_s": len(docs) / built["total_s"],
        "disk_bytes_per_user_byte": _dir_stats(b.root)[1] / _user_bytes(docs),
        "peak_rss_mb": b.peak_rss_mb(),
        "_samples": len(reads),
        "_session_s": b.session_s,
        "_warmup_s": warmup_s,
        "_reads_s": b.latency[False],
    }


def _ranked(rows, col: str) -> list[tuple[int, float]]:
    return [(r["doc_id"], r[col]) for r in sorted(rows, key=lambda r: r["rank"])]


def _check_qa(orc: O.Oracle, live: set[int], verb: str, q: str, rows) -> bool:
    if verb == "keyword":
        return O.same_ranking(_ranked(rows, "score"), orc.keyword(q, LIMIT))
    if verb == "vector_ivf":
        return O.ann_consistent(_ranked(rows, "distance"), orc.distances(q), LIMIT)
    if verb == "hybrid_exact":
        return O.same_ranking(_ranked(rows, "score"), orc.hybrid(q, QA_ALPHA, LIMIT))
    if verb == "hybrid_ivf":
        return O.fused_consistent(_ranked(rows, "score"), live, LIMIT)
    if verb == "rerank":
        return O.same_ranking(_ranked(rows, "cross_score"), orc.rerank(q, 50, 5))
    if verb == "rag":
        if len(rows) != 1:
            return False
        r = rows[0]
        want = orc.rag(q, QA_ALPHA, 5, QA_RERANK_TOPK, QA_TOKEN_THRESHOLD)
        return (r["n_context"], r["prompt"], r["completion"]) == want
    raise ValueError(verb)


# ---------------------------------------------------------------------------
# ingest_mixed
# ---------------------------------------------------------------------------


def ingest_mixed(b: Bench) -> dict[str, float]:
    c = b.client
    vocab = inputs.vocabulary()
    base = inputs.make_docs(b.rng, INGEST_BASE, 0, vocab)
    src = b.write_parquet(os.path.join(b.workdir, "inputs", "base.parquet"), base)
    built = b.setup(src)
    stream_dir = os.path.join(b.workdir, "stream")
    ckpt = os.path.join(b.workdir, "checkpoint")
    os.makedirs(stream_dir)

    live: dict[int, str] = dict(base)
    deleted: set[int] = set()
    next_id = INGEST_BASE
    # untimed-phase write-path seconds per cycle (ingest, ANN append, two
    # deletes) and per compaction
    cycle_write_s: list[tuple[float, ...]] = []
    compact_s: list[float] = []

    def read(kind, q, traced, fn):
        rows = b.op(kind, lambda: fn(q), traced)
        b.check(O.none_deleted(rows, deleted),
                f"deleted id returned by {kind}({q!r})")
        return rows

    def kw(q, traced):
        return read("keyword", q, traced,
                    lambda q: c.keyword_search(COLL, q, limit=LIMIT))

    def vec(q, traced):
        return read("vector_ivf", q, traced,
                    lambda q: c.vector_search(COLL, q, limit=LIMIT, backend="ivf"))

    def cycle(n: int, traced: bool) -> None:
        nonlocal next_id
        token = inputs.planted_token(b.args.seed, n)
        rows, planted = inputs.ingest_batch(b.rng, next_id, INGEST_BATCH, token, vocab)
        next_id += INGEST_BATCH
        b.write_parquet(os.path.join(stream_dir, f"batch-{n:04d}.parquet"), rows)
        batch_df = b.frame(rows)

        def ingest():
            c.stream_ingest(COLL, stream_dir, ckpt, ["doc_id", "text"]).awaitTermination()

        s1 = b.timed(ingest, traced, span="streaming.ingest_batch")
        s2 = b.timed(lambda: c.append_to_ann_index(COLL, batch_df), traced)
        live.update(rows)
        # delete seeded older docs (never this batch's planted doc)
        pool = sorted(set(live) - deleted - {planted})
        victims = [int(x) for x in b.rng.choice(pool, INGEST_DELETES, replace=False)]
        ids = b.frame([(v,) for v in victims], "doc_id long")
        s3 = b.timed(lambda: c.delete_from_text_index(COLL, ids), traced)
        s4 = b.timed(lambda: c.delete_from_ann_index(COLL, ids), traced)
        deleted.update(victims)
        if not traced:
            cycle_write_s.append((s1, s2, s3, s4))
        # index-backed reads of the fresh state
        got = kw(token, traced)
        b.check(O.planted_first(got, planted),
                f"planted doc {planted} not at rank 1 for {token!r}")
        q = " ".join(live[victims[0]].split()[:5])
        return q, (kw(q, traced), vec(q, traced))

    def compact(traced: bool, q: str, before) -> None:
        """Compact both indexes; the reads ``before`` (of the last cycle,
        for a just-deleted doc's words) must come back the same after."""
        if traced:
            from vectorsearch_applications_spark.sources.index_catalog import (
                index_inventory,
            )

            b.tombstone_debt.append(sum(
                r["tombstoned_ids"] for r in index_inventory(b.spark, b.root).collect()))
        s1 = b.timed(lambda: c.compact_text_index(COLL), traced)
        s2 = b.timed(lambda: c.compact_ann_index(COLL), traced)
        if not traced:
            compact_s.append(s1 + s2)
        after = (kw(q, traced), vec(q, traced))
        same = all(
            O.same_ranking(_ranked(a, col), _ranked(p, col))
            for a, p, col in zip(after, before, ("score", "distance")))
        b.check(same, f"compaction changed answers for {q!r}")

    def round_(traced: bool) -> None:
        for _ in range(COMPACT_EVERY):
            last = cycle(next(cycle_no), traced)
        compact(traced, *last)

    cycle_no = itertools.count()
    b.window(round_)

    live_rows = [(d, t) for d, t in live.items() if d not in deleted]
    reads = [s for _, s in b.latency[False]]
    write_s = sum(map(sum, cycle_write_s)) + sum(compact_s)
    return {
        "setup_s": b.session_s + built["total_s"],
        "read_p50_s": statistics.median(reads),
        "read_p90_s": _p90(reads),
        "_index_build_s": built["index_s"],
        "ingest_docs_per_s": INGEST_BATCH * len(cycle_write_s) / write_s,
        "disk_bytes_per_user_byte": _dir_stats(b.root)[1] / _user_bytes(live_rows),
        "peak_rss_mb": b.peak_rss_mb(),
        "_compact_s": compact_s,
        "_samples": len(reads),
        "_session_s": b.session_s,
        "_cycle_write_s": cycle_write_s,
        "_reads_s": b.latency[False],
    }


WORKLOADS = {"interactive_qa": interactive_qa, "ingest_mixed": ingest_mixed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)
    if args.tiny:
        globals().update(TINY)

    b = Bench(args)
    b.start()
    try:
        e2e = WORKLOADS[args.workload](b)
        layers = b.layer_metrics() if args.trace else {}
    finally:
        b.spark.stop()
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "failures": b.failures[:10],
        "metrics": e2e,
        "layers": layers,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
