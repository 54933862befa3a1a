"""Layer tracing from outside the engine.

The benchmark replaces selected module-level functions of
``textindex_spark`` with timing wrappers (every module attribute bound
to the original object is rebound, so intra-module calls and
``from x import y`` aliases are both seen). Each wrapper records a
span — name, layer, start, end, parent span, op id — and tags the Spark
jobs its thread submits with a job group naming the span.

DataFrame builders return lazily, so a span's wall time alone does not
say where Spark work went. After every benchmark operation the tracer
reads the jobs and SQL executions that operation launched from the
driver's status stores (these work with ``spark.ui.enabled=false``):

* a job is claimed by the span whose job group it carries; jobs of a
  full build are further split by the table their SQL execution writes
  (segments, docs, postings, terms, stats);
* a job no span claimed is kept with its Spark call site;
* stage metrics give executor run/CPU time, shuffle and spill bytes and
  GC time; the SQL metrics of the ``MapInPandas`` nodes give the Python
  kernel time and the Arrow bytes sent to and from the kernels.

Spans and job records stay in memory until the run ends.
"""
from __future__ import annotations

import functools
import itertools
import re
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

# module → {function: layer}
WRAPPED = {
    "textindex_spark.build": {
        "build_index": "build",
        "normalize_input": "build.segments",
        "mint_doc_ids": "build.segments",
        "tokenize_segments": "build.segments",
        "finalize_index": "build.finalize",
        "build_postings": "build.postings",
        "write_postings_bucketed": "build.postings",
        "terms_from_postings": "build.terms",
        "range_ts": "build.docs_write",
        "write_stats_row": "build.stats",
        "append_batch": "build.append",
        "maybe_compact": "build.compact",
    },
    "textindex_spark.manifest": {"commit": "manifest.commit"},
    "textindex_spark.query": {
        "search": "query",
        "cached_stats": "query.expand",
        "expand_patterns": "query.expand",
        "_dead_ids_capped": "query.restrict",
        "_exclusion_ids": "query.restrict",
        "_scope_nonmatch_ids": "query.restrict",
        "_ts_allowed_ranges": "query.restrict",
        "_search_local": "query.local_score",
        "_block_meta": "query.fetch",
        "_fetch_blocks": "query.fetch",
        "_decoded_postings": "query.plan",
        "_pruned_decode": "query.plan",
    },
    "textindex_spark.boolquery": {"search_bool": "query"},
}

# table written by a full build's job → layer
_WRITE_LAYER = {
    "segments": "build.segments",
    "docs": "build.docs_write",
    "range_ts": "build.docs_write",
    "postings": "build.postings",
    "terms": "build.terms",
    "stats": "build.stats",
}
_KERNELS = {
    "extract_tokenize_batches": "tokenize",
    "_encode_kernel": "encode",
    "_decode_kernel": "decode",
    "_decode_pos_kernel": "decode",
}


def _cache_keys() -> set:
    from textindex_spark import query

    with query._cache_lock:
        return set(query._block_cache)


def _fetch_counts(out, before: set) -> dict:
    """Block-cache accounting of one ``_fetch_blocks`` call: the
    (term, range) keys it returned, how many were resident before the
    call, and the postings those blocks hold."""
    if len(out) == 0:
        return {"keys": 0, "hits": 0, "postings": 0}
    keys = set(zip(out["term"], out["range_id"].astype(int)))
    hits = len(keys & {(k[1], k[2]) for k in before})
    return {"keys": len(keys), "hits": hits, "postings": int(out["n_docs"].sum())}


# function → (state before the call, counts from (result, state))
_OBSERVE = {
    "query._fetch_blocks": (_cache_keys, _fetch_counts),
    "query.expand_patterns": (
        lambda: None,
        lambda out, _: {"terms": int(out["term"].nunique()) if len(out) else 0},
    ),
}
# the write's output path in the formatted physical plan
_INSERT_RE = re.compile(r"InsertIntoHadoopFsRelationCommand[^\n]*\n(?:[^\n]*\n)*?Arguments: (\S+?),")
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_metric(text: str) -> float:
    """Spark's rendered SQL metric ('2.0 s', '859.7 KiB', '15,753', or
    the multi-task 'total (min, med, max ...)\\n3.0 s (...)') → seconds,
    bytes or a count."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2), 1.0)


def table_of(path: str) -> str:
    """'file:/x/idx/postings_append_12_v3' → 'postings'."""
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return re.split(r"_(?:append|compact|backfill|consolidated)", base)[0]


class Tracer:
    """Span recorder and Spark job attributor; records nothing until
    ``install`` (which is for the life of the process)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.enabled = False
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.kernels: list[dict] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: dict | None = None
        self._job_seen = self.next_job_id()
        self._exec_seen = self._sql.executionsCount()

    def resume(self) -> None:
        """Trace again from now on; work done while disabled is skipped."""
        self._job_seen = self.next_job_id()
        self._exec_seen = self._sql.executionsCount()
        self.enabled = True

    # -- job counting (cheap; also used untraced for path assertions)
    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    # -- wrappers ------------------------------------------------------
    def install(self) -> None:
        for mod_name, funcs in WRAPPED.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            for fn_name, layer in funcs.items():
                orig = getattr(mod, fn_name)
                wrapper = self._wrap(orig, f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}", layer)
                for m in list(sys.modules.values()):
                    if not getattr(m, "__name__", "").startswith("textindex_spark"):
                        continue
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapper)
        self.resume()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn, name: str, layer: str):
        observe = _OBSERVE.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer) as sp:
                before = observe[0]() if observe else None
                out = fn(*args, **kwargs)
                if observe:
                    sp.update(observe[1](out, before))
                return out

        return wrapper

    @contextmanager
    def span(self, name: str, layer: str):
        """A span in the current thread; its jobs carry its group."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        sp = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": self._op["op"] if self._op else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sp['id']}")
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            outer = stack[-1] if stack else None
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"pb{outer['id']}" if outer else None
            )

    @contextmanager
    def op(self, kind: str, shape: str = "", phase: str = "measure"):
        """One benchmark operation (a build, a query, an append batch).
        Traced: a root span, then the jobs it launched are attributed."""
        if not self.enabled:
            yield None
            return
        sp = {
            "id": next(self._ids), "name": kind, "layer": "op", "parent": None,
            "op": None, "kind": kind, "shape": shape, "phase": phase,
            "start": time.time(), "end": None,
        }
        sp["op"] = sp["id"]
        self.spans.append(sp)
        self._op = sp
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sp['id']}")
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None
            t = time.perf_counter()
            self.collect(sp)
            self.bookkeeping_s += time.perf_counter() - t

    # -- attribution -----------------------------------------------------
    def collect(self, op: dict) -> None:
        """Attribute every job and SQL execution since the last call to
        ``op``."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        targets: dict[int, str] = {}
        n_exec = self._sql.executionsCount()
        if n_exec > self._exec_seen:
            execs = self._sql.executionsList(self._exec_seen, n_exec - self._exec_seen)
            for i in range(execs.size()):
                self._read_execution(execs.apply(i), op, targets)
            self._exec_seen = n_exec
        by_id = {s["id"]: s for s in self.spans if s["op"] == op["op"]}
        store = self._jsc.statusStore()
        last = self.next_job_id()
        for jid in range(self._job_seen, last):
            try:
                job = store.job(jid)
            except Py4JError:
                continue
            group = job.jobGroup()
            group = group.get() if group.isDefined() else None
            span = by_id.get(int(group[2:])) if group and group.startswith("pb") else None
            rec = {
                "op": op["op"],
                "call_site": job.name(),
                "span": span["id"] if span else None,
                "layer": self._job_layer(span, targets.get(jid)),
                "start": job.submissionTime().get().getTime() / 1000.0,
                "end": job.completionTime().get().getTime() / 1000.0,
                "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input": 0,
            }
            stages = job.stageIds()
            for k in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(k))
                except Py4JError:
                    continue  # skipped stage (shuffle reuse)
                rec["run_s"] += st.executorRunTime() / 1e3
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["shuffle_write"] += st.shuffleWriteBytes()
                rec["shuffle_read"] += st.shuffleReadBytes()
                rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["input"] += st.inputBytes()
            self.jobs.append(rec)
        self._job_seen = last

    def _read_execution(self, e, op: dict, targets: dict[int, str]) -> None:
        m = _INSERT_RE.search(e.physicalPlanDescription() or "")
        if m:
            it = e.jobs().keysIterator()
            while it.hasNext():
                targets[int(it.next())] = table_of(m.group(1))
        graph = self._sql.planGraph(e.executionId())
        nodes = graph.allNodes()
        values = None
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != "MapInPandas":
                continue
            kernel = next((k for f, k in _KERNELS.items() if f"{f}(" in node.desc()), None)
            if kernel is None:
                continue
            if values is None:
                values = self._sql.executionMetrics(e.executionId())
            rec = {"op": op["op"], "kernel": kernel, "python_s": 0.0,
                   "bytes_in": 0.0, "bytes_out": 0.0, "rows": 0.0}
            metrics = node.metrics()
            for j in range(metrics.size()):
                mt = metrics.apply(j)
                v = values.get(mt.accumulatorId())
                if not v.isDefined():
                    continue
                key = {
                    "time to run Python workers": "python_s",
                    "data sent to Python workers": "bytes_in",
                    "data returned from Python workers": "bytes_out",
                    "number of output rows": "rows",
                }.get(mt.name())
                if key:
                    rec[key] += parse_metric(v.get())
            self.kernels.append(rec)

    @staticmethod
    def _job_layer(span: dict | None, target: str | None) -> str:
        if span is None or span["layer"] == "op":
            return _WRITE_LAYER.get(target, "unclaimed") if target else "unclaimed"
        if span["layer"] in ("build", "build.finalize"):
            # inline writes of a full build: split by the written table;
            # the remaining finalize job is the stats aggregate
            if target in _WRITE_LAYER:
                return _WRITE_LAYER[target]
            return "build.stats" if span["layer"] == "build.finalize" else "build.segments"
        return span["layer"]
