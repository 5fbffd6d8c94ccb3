"""Per-layer tracing from outside the library.

The library is not edited: a :class:`Tracer` replaces the public functions
of each layer with timing wrappers, both on the module that defines them and
on every module that bound the same function object at import time (for
example ``client.py`` imports ``knn_search`` and ``hybrid_search as _fuse``
when it loads). A span records its name, start, end, parent span and the
py4j round trips made inside it. Spark work is attributed to an operation
by tagging the operation's jobs with ``setJobGroup`` and reading the stage
metrics of that group from the status store afterwards, which works with
the UI off.

Spans stay in memory; :meth:`Tracer.summary` folds them into per-layer self
times (a span's duration minus the part its child spans cover) when the run
ends.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict

import py4j.clientserver as _cs
import py4j.java_gateway as _jg

PKG = "vectorsearch_applications_spark"

# (module, attribute, span name). Lazily built functions (they return a
# DataFrame) record plan-build time; eager ones record their whole run.
FUNCTION_LAYERS = [
    ("operators.bm25", "bm25_search_indexed", "bm25.search_indexed.build"),
    ("operators.bm25", "bm25_search_multifield", "bm25.search_multifield.build"),
    ("operators.bm25", "bm25_build_stats", "bm25.build_stats"),
    ("operators.bm25", "bm25_save_index", "bm25.save_index"),
    ("operators.bm25", "bm25_index_append_persisted", "bm25.append"),
    ("operators.bm25", "bm25_index_delete", "bm25.delete"),
    ("operators.bm25", "bm25_index_compact", "bm25.compact"),
    ("operators.knn", "knn_search", "knn.search.build"),
    ("operators.hybrid", "hybrid_search", "hybrid.fuse.build"),
    ("operators.rerank", "rerank_overlap", "rerank.overlap.build"),
    ("operators.prompts", "assemble_prompts", "prompts.assemble.build"),
    ("operators.llm", "llm_complete", "llm.complete.build"),
    ("functions.embed", "hash_embed_ids", "embed.hash_embed_ids.build"),
    ("operators.ann", "ivf_save_index", "ann.ivf_save_index"),
    ("operators.ann", "ivf_search_indexed", "ann.ivf_search_indexed.build"),
    ("operators.ann", "ivf_index_append", "ann.ivf_append"),
    ("operators.ann", "ivf_index_delete", "ann.ivf_delete"),
    ("operators.ann", "ivf_index_compact", "ann.ivf_compact"),
    ("sources.collections", "create_collection", "collections.create"),
    ("sources.collections", "batch_append", "collections.batch_append"),
]

# Facade verbs wrapped on the class; a span per call named client.<verb>,
# with a .build suffix for the read verbs, which return a lazy DataFrame.
READ_VERBS = [
    "keyword_search", "vector_search", "hybrid_search", "rerank_search",
    "rag_answer",
]
CLIENT_VERBS = READ_VERBS + [
    "create_collection", "build_text_index", "build_ann_index",
    "append_to_text_index", "append_to_ann_index", "delete_from_text_index",
    "delete_from_ann_index", "compact_text_index", "compact_ann_index",
    "stream_ingest",
]

# Stage metrics read per operation from the status store.
STAGE_FIELDS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1000.0,
    "input_bytes": lambda s: s.inputBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_records": lambda s: s.shuffleReadRecords(),
    "spill_bytes": lambda s: s.diskBytesSpilled() + s.memoryBytesSpilled(),
}


class Tracer:
    """Span and counter collector. ``enabled`` gates everything: while it
    is false the wrappers call straight through, so one process can
    alternate untraced and traced phases to measure the overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.py4j_calls = 0
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []

    # -- py4j round trips ------------------------------------------------

    def _count_py4j(self, orig):
        tracer = self

        @functools.wraps(orig)
        def send_command(conn, *a, **k):
            tracer.py4j_calls += 1
            return orig(conn, *a, **k)

        return send_command

    # -- install ---------------------------------------------------------

    def install(self) -> None:
        """Patch py4j and the library layers. Import the library first:
        the bound-name sweep only sees modules that are already loaded."""
        import importlib

        for cls in (_cs.ClientServerConnection, _jg.GatewayConnection):
            cls.send_command = self._count_py4j(cls.send_command)
        for mod_name, attr, span in FUNCTION_LAYERS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            wrapper = self._wrap(orig, span)
            for loaded in [m for n, m in list(sys.modules.items())
                           if n == PKG or n.startswith(PKG + ".")]:
                for name, val in list(vars(loaded).items()):
                    if val is orig:
                        setattr(loaded, name, wrapper)
        client = importlib.import_module(f"{PKG}.client").SparkSearchClient
        for verb in CLIENT_VERBS:
            span = f"client.{verb}" + (".build" if verb in READ_VERBS else "")
            setattr(client, verb, self._wrap(getattr(client, verb), span))

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            if not tracer.enabled:
                return fn(*a, **k)
            with tracer.span(span_name):
                return fn(*a, **k)

        return traced

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": len(self.ops),
            "start": time.perf_counter(),
            "py4j0": self.py4j_calls,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")

    # -- Spark metrics per operation -------------------------------------

    def begin_op(self, spark, kind: str) -> str:
        group = f"op{len(self.ops)}"
        spark.sparkContext.setJobGroup(group, kind)
        return group

    def end_op(self, spark, group: str, kind: str, result_rows: int,
               compile_s: float, action_s: float) -> None:
        """Read the stage metrics of ``group``'s jobs. Runs outside every
        span, so its own py4j calls are charged to no layer."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        # job-end events reach the status store through the listener bus
        # asynchronously; wait until every job of the group has ended
        deadline = time.perf_counter() + 5.0
        while True:
            infos = [tracker.getJobInfo(j)
                     for j in tracker.getJobIdsForGroup(group)]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos) or time.perf_counter() > deadline:
                break
            time.sleep(0.02)
        stages: set[int] = set()
        tasks = 0
        sums: dict[str, float] = defaultdict(float)
        for info in infos:
            for sid in info.stageIds if info is not None else ():
                if sid in stages:
                    continue
                stages.add(sid)
                data = store.stageData(sid, False, sc._jvm.java.util.ArrayList(),
                                       False, empty)
                for k in range(data.length()):
                    s = data.apply(k)
                    if s.status().toString() != "COMPLETE":
                        continue
                    tasks += s.numTasks()
                    for field, get in STAGE_FIELDS.items():
                        sums[field] += get(s)
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append({
            "kind": kind,
            "jobs": len(infos),
            "tasks": tasks,
            "compile_s": compile_s,
            "action_s": action_s,
            "result_rows": result_rows,
            **sums,
        })

    # -- summary ---------------------------------------------------------

    def under_op(self, span: dict) -> bool:
        """Whether ``span`` ran inside a timed operation (op.* span)."""
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            if span["name"].startswith("op."):
                return True
        return False

    def self_times(self) -> dict[str, list[float]]:
        """Self time of every span, grouped by span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if "end" in s:
                out[s["name"]].append(s["end"] - s["start"] - child[i])
        return out

    def summary(self) -> dict[str, dict]:
        """{span name: {calls, self_s (mean self time per call), py4j (mean
        round trips per call, children included)}}."""
        out = {}
        for name, vals in self.self_times().items():
            spans = [s for s in self.spans if s["name"] == name and "end" in s]
            out[name] = {
                "calls": len(vals),
                "self_s": sum(vals) / len(vals),
                "py4j": sum(s["py4j"] for s in spans) / len(spans),
            }
        return out
