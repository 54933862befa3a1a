"""Metrics of one run: the end-to-end numbers a user sees (untraced
runs) and the per-layer numbers from the trace (traced runs)."""
from __future__ import annotations

import json
import os
import statistics
from collections import Counter, defaultdict

from perfbench.workloads import Run


def _declared(kind: str) -> dict[str, str]:
    """name → unit of the ``kind`` metrics BENCHMARK.json declares (it
    sits at the root of the checkout, next to ``perfbench/``)."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# every workload reports every one of them
END_TO_END = _declared("end_to_end")
PER_LAYER = _declared("per_layer")
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile with at
    least ``TAIL_BEYOND`` samples above it. Below 2×TAIL_BEYOND samples
    no percentile at or above the median qualifies, and the median is
    reported (percentile 50)."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return statistics.median(values), 50, n
    pct = int(100 * (1 - TAIL_BEYOND / n))
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct, n


def latency_samples(run: Run, traced: bool | None = None) -> list[float]:
    """The workload's query latencies: warm resident queries (serve),
    or every query on a fresh snapshot, the marker poll included
    (ingest)."""
    phases = ("poll", "fresh") if run.workload == "ingest" else ("measure",)
    return [
        s.ms for s in run.samples
        if s.phase in phases and (traced is None or s.traced == traced)
    ]


def end_to_end(run: Run) -> dict[str, float]:
    lat = latency_samples(run)
    su = run.setup
    shape = run.info["shape"]
    return {
        "setup_s": su["session_s"] + su["corpus_s"] + su["build_s"] + su["warm_s"],
        "build_docs_per_s": run.info["base_n_docs"] / su["build_s"],
        "latency_p50_ms": statistics.median(lat),
        "index_bytes_per_doc": shape["index_bytes_per_doc"],
        "peak_rss_mb": run.info["peak_rss_mb"],
    }


def workload_extras(run: Run) -> dict[str, tuple[float, str]]:
    """End-to-end numbers printed but not gated by BENCHMARK.json: the
    latency tail and the wide queries' latency (on a shared 4-core VM
    their run-to-run spread exceeds any bound the contract allows), the
    ones not every workload has, and each resident shape's share of the
    measured requests."""
    t, pct, n = tail(latency_samples(run))
    out: dict[str, tuple[float, str]] = {f"latency_tail_ms(p{pct},n={n})": (t, "ms")}
    wide = [s.ms for s in run.samples if s.phase == "wide"]
    if wide:
        # the cycle's shapes differ in cost, so their median would be
        # one query's time; the mean spreads over the whole cycle
        out["wide_mean_ms"] = (statistics.mean(wide), "ms")
    if run.workload == "ingest":
        out["visible_s"] = (statistics.median(run.info["visible_s"]), "s")
        out["docs_per_s"] = (statistics.median(run.info["append_docs_per_s"]), "docs/s")
        out["batches"] = (run.info["batches"], "count")
    out["error_rate"] = (len(run.failures) / max(1, run.attempted), "ratio")
    phases = ("fresh",) if run.workload == "ingest" else ("measure",)
    shapes = Counter(s.shape for s in run.samples if s.phase in phases)
    total = sum(shapes.values())
    for shape, n in sorted(shapes.items()):
        out[f"share.{shape}"] = (n / total, "ratio")
    return out


# ---------------------------------------------------------------- layers
def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class _Ops:
    """Spans, jobs and kernel records grouped by benchmark operation."""

    def __init__(self, run: Run):
        tr = run.tracer
        self.ops = [s for s in tr.spans if s["layer"] == "op"]
        self.spans = defaultdict(list)
        self.jobs = defaultdict(list)
        self.kernels = defaultdict(list)
        for s in tr.spans:
            if s["layer"] != "op" and s["op"] is not None:
                self.spans[s["op"]].append(s)
        for j in tr.jobs:
            self.jobs[j["op"]].append(j)
        for k in tr.kernels:
            self.kernels[k["op"]].append(k)

    def select(self, kind: str, phases: tuple[str, ...]) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind and o["phase"] in phases]

    def layer_time(self, op: dict, layer: str, jobs: bool = True) -> float:
        iv = [(s["start"], s["end"]) for s in self.spans[op["id"]] if s["layer"] == layer]
        if jobs:
            iv += [(j["start"], j["end"]) for j in self.jobs[op["id"]] if j["layer"] == layer]
        return _union(iv)

    def job_sum(self, op: dict, key: str, layer: str | None = None) -> float:
        return sum(j[key] for j in self.jobs[op["id"]] if layer is None or j["layer"] == layer)

    def kernel_sum(self, op: dict, kernel: str, key: str) -> float:
        return sum(k[key] for k in self.kernels[op["id"]] if k["kernel"] == kernel)

    def span_sum(self, op: dict, name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in self.spans[op["id"]] if s["name"] == name)


_BUILD_LAYERS = (
    "build.segments", "build.postings", "build.terms", "build.docs_write",
    "build.stats", "manifest.commit",
)


def layer_report(run: Run) -> tuple[dict[str, float], dict]:
    """(per-layer metrics, detail for the trace file)."""
    g = _Ops(run)
    builds = g.select("build", ("setup",))
    queries = g.select("query", ("measure", "poll", "fresh", "wide"))
    appends = g.select("append", ("measure",))
    compacts = [o for o in g.select("compact", ("measure",)) if g.jobs[o["id"]]]
    m: dict[str, float] = {}
    m["session.start_s"] = run.setup["session_s"]
    m["session.warm_s"] = run.setup["warm_s"]

    def per_build(fn) -> float:
        return _mean(fn(o) for o in builds)

    for kernel, key, name in (
        ("tokenize", "python_s", "kernels.tokenize.python_s"),
        ("tokenize", "bytes_in", "kernels.tokenize.arrow_bytes_in"),
        ("tokenize", "bytes_out", "kernels.tokenize.arrow_bytes_out"),
        ("tokenize", "rows", "kernels.tokenize.rows"),
    ):
        m[name] = per_build(lambda o: g.kernel_sum(o, kernel, key))
    for layer in ("build.segments", "build.postings", "build.terms", "build.docs_write", "build.stats"):
        m[f"{layer}.wall_s"] = per_build(lambda o: g.layer_time(o, layer))
    m["build.segments.exec_run_s"] = per_build(lambda o: g.job_sum(o, "run_s", "build.segments"))
    m["build.segments.exec_cpu_s"] = per_build(lambda o: g.job_sum(o, "cpu_s", "build.segments"))
    m["build.postings.shuffle_write_bytes"] = per_build(lambda o: g.job_sum(o, "shuffle_write", "build.postings"))
    m["build.postings.spill_bytes"] = per_build(lambda o: g.job_sum(o, "spill", "build.postings"))
    m["build.jobs"] = per_build(lambda o: len(g.jobs[o["id"]]))
    m["build.gc_s"] = per_build(lambda o: g.job_sum(o, "gc_s"))

    def build_unattributed(o) -> float:
        iv = [(s["start"], s["end"]) for s in g.spans[o["id"]] if s["layer"] in _BUILD_LAYERS]
        iv += [(j["start"], j["end"]) for j in g.jobs[o["id"]] if j["layer"] in _BUILD_LAYERS]
        return (o["end"] - o["start"]) - _union(iv)

    m["build.unattributed_s"] = per_build(build_unattributed)
    shape = run.info["shape"]
    m["codec.bytes_per_posting"] = shape["bytes_per_posting"]
    m["codec.pos_bytes_per_posting"] = shape["pos_bytes_per_posting"]
    traced_added = sum(b["added"] for b in run.info.get("batch_log", []) if b["traced"])
    append_s = sum(o["end"] - o["start"] for o in appends)
    m["build.append.docs_per_s"] = traced_added / append_s if appends else 0.0
    m["build.append.jobs"] = _mean(len(g.jobs[o["id"]]) for o in appends)
    m["build.compactions"] = float(len(compacts))
    m["build.compact.bytes_rewritten"] = _mean(g.job_sum(o, "input") for o in compacts)
    commits = [s for o in g.ops for s in g.spans[o["id"]] if s["layer"] == "manifest.commit"]
    m["manifest.commit.wall_s"] = _mean(s["end"] - s["start"] for s in commits)
    m["manifest.postings_dirs"] = float(shape["postings_dirs"])

    m["query.expand.wall_ms"] = 1e3 * _mean(g.layer_time(o, "query.expand", False) for o in queries)
    m["query.terms_per_query"] = _mean(g.span_sum(o, "query.expand_patterns", "terms") for o in queries)
    fetch = [g.layer_time(o, "query.fetch", False) for o in queries]
    local = [g.layer_time(o, "query.local_score", False) for o in queries]
    m["query.fetch.wall_ms"] = 1e3 * _mean(fetch)
    keys = sum(g.span_sum(o, "query._fetch_blocks", "keys") for o in queries)
    hits = sum(g.span_sum(o, "query._fetch_blocks", "hits") for o in queries)
    m["query.block_cache.hit_ratio"] = hits / keys if keys else 0.0
    m["query.zero_job_share"] = _mean(float(not g.jobs[o["id"]]) for o in queries)
    # scoring self time: the fetch spans nest inside _search_local
    m["query.local_score.wall_ms"] = 1e3 * (_mean(local) - _mean(fetch))
    m["query.plan.wall_ms"] = 1e3 * _mean(g.layer_time(o, "query", False) for o in queries)
    m["query.collect.wall_ms"] = 1e3 * _mean(g.layer_time(o, "query.collect", False) for o in queries)
    m["query.spark_jobs_per_query"] = _mean(len(g.jobs[o["id"]]) for o in queries)
    m["query.exec_run_s"] = _mean(g.job_sum(o, "run_s") for o in queries)
    m["query.shuffle_bytes"] = _mean(g.job_sum(o, "shuffle_write") for o in queries)
    decoded = sum(g.kernel_sum(o, "decode", "rows") for o in queries)
    m["kernels.decode.python_s"] = _mean(g.kernel_sum(o, "decode", "python_s") for o in queries)
    m["kernels.decode.rows"] = decoded / max(1, len(queries))
    fetched = sum(g.span_sum(o, "query._fetch_blocks", "postings") for o in queries)
    n_results = sum(len(got) for _, _, got in run.answers) or 1
    m["query.postings_decoded_per_result"] = (decoded + fetched) / n_results
    cold = [s.ms for s in run.samples if s.cold and s.traced]
    m["query.cold_first_ms"] = statistics.median(cold) if cold else 0.0

    # layer accounting: op wall minus the union of its top-level layer
    # spans and the jobs a layer claimed
    unattr, op_wall = 0.0, 0.0
    for o in g.ops:
        iv = [(s["start"], s["end"]) for s in g.spans[o["id"]] if s["parent"] == o["id"]]
        iv += [(j["start"], j["end"]) for j in g.jobs[o["id"]] if j["layer"] != "unclaimed"]
        w = o["end"] - o["start"]
        op_wall += w
        unattr += max(0.0, w - _union(iv))
    m["trace.unattributed_share"] = unattr / op_wall if op_wall else 0.0
    traced = latency_samples(run, traced=True)
    untraced = latency_samples(run, traced=False)
    m["trace.overhead_share"] = (
        statistics.median(traced) / statistics.median(untraced) - 1.0
        if traced and untraced else 0.0
    )

    # times of layers that idle in one workload (reported there as 0,
    # so the contract carries rates and counts instead) and per-shape
    # latencies
    by_shape = defaultdict(list)
    for s in run.samples:
        if s.phase in ("measure", "fresh", "poll", "wide"):
            by_shape[s.shape].append(s.ms)
    detail = {
        # full builds persist the encoded blocks, and Spark keeps no SQL
        # metrics for a cached plan's kernel: often 0 on that path
        "kernels.encode.python_s": per_build(lambda o: g.kernel_sum(o, "encode", "python_s")),
        "build.append.wall_s": _mean(o["end"] - o["start"] for o in appends),
        "build.compact.wall_s": _mean(o["end"] - o["start"] for o in compacts),
        "query.p50_ms": {k: statistics.median(v) for k, v in sorted(by_shape.items())},
        "unattributed_s": unattr,
        "op_wall_s": op_wall,
        "tracing_bookkeeping_s": run.tracer.bookkeeping_s,
        "unclaimed_jobs_by_call_site": dict(
            Counter(j["call_site"] for j in run.tracer.jobs if j["layer"] == "unclaimed")
        ),
        "jobs_by_layer": dict(Counter(j["layer"] for j in run.tracer.jobs)),
    }
    return {k: m[k] for k in PER_LAYER}, detail
