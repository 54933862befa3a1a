"""The two workloads, their set-up, and the metrics they report.

Every workload is one client in a closed loop (it sends the next
request only after the previous answer arrived), the shape of the
reference's interactive REPL. Every run starts the same way: start the
Spark session, generate the seeded corpus, build the base index once
into a fresh directory, then warm up. Full-build throughput is measured
on that build: the build a fresh ``spark-submit`` job runs, JIT
compilation and the first touch of the JVM's and Python workers'
memory included (about two thirds of it on a 4-core VM).

* ``serve``  — for ``seconds``, a repeated mix of resident query
  shapes, each an equal share of requests: once warm, every one must
  run on the query node with zero Spark jobs. Then one cycle of broad infix wildcards on the
  distributed plan: every one must launch Spark jobs, bypassing the
  resident block cache.
* ``ingest`` — append a batch (with re-crawled urls) while serving.
  The batch's marker page must become visible, the first query after
  each commit must run cold, and compaction must fire. After each of
  the two commits (the append, then the compaction) the fresh snapshot
  serves a fixed number of passes of the resident mix: a cold pass,
  then ``warm_passes(seconds)`` warm ones, so every run has the same
  share of cold first runs. Its latency is that of every query on a
  fresh snapshot (the marker poll included); the batch's visibility
  time, from the start of ``append_batch`` until a query returns the
  marker page, is one sample a run and is printed, not gated.
"""
from __future__ import annotations

import itertools
import os
import tempfile
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.dataset as ds

from perfbench import inputs as I
from perfbench import oracle_check
from perfbench.tracer import Tracer

WORKLOADS = ("serve", "ingest")
CPUS = 4
DRIVER_MEM = "2g"       # JVM heap; the engine's default (8g) is sized for local[32]
COMPACT_AT_DIRS = 2     # maybe_compact threshold: fires after every batch
MARKER_TIMEOUT_S = 30.0
# resident rounds of warm-up before measuring: with 8 rounds, the JIT
# was still settling in the first 4-8 s of serve's loop (per-second
# medians fell by up to a fifth), by a different amount in each run;
# with 30 they are flat from the first second
WARM_ROUNDS = 30


@dataclass
class Sample:
    shape: str
    ms: float
    jobs: int
    phase: str
    traced: bool
    cold: bool = False  # first query after an index-changing commit


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    n_rows: int = I.BASE_ROWS
    spark: object = None
    tracer: Tracer | None = None
    inp: I.Inputs | None = None
    index: str = ""
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    samples: list[Sample] = field(default_factory=list)
    answers: list[tuple[int, I.Query, list]] = field(default_factory=list)
    # per commit after the base build: (batch rows, the engine's live
    # url → doc_id map after it); a compaction adds no rows
    snapshots: list[tuple[list[dict], dict[str, int]]] = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    commits: int = 0          # bumps on every index-changing call
    _cold_commit: int = -1    # commit the last query ran after
    _next: int = 0            # position in ``inp.sequence``

    def fail(self, why: str) -> None:
        self.failures.append(why)


# ---------------------------------------------------------------- session
def start_session(root: str):
    """Spark local[4], with every scratch directory inside ``root``."""
    from textindex_spark.session import get_spark

    tmp = f"{root}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["TEXTINDEX_DRIVER_MEM"] = DRIVER_MEM
    # no /tmp/hsperfdata_* files from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # get_spark makes /dev/shm/spark-local whenever /dev/shm is
    # writable; spark.local.dir points into ``root`` instead, so hide
    # /dev/shm from that check and nothing is written outside ``root``
    real_access = os.access
    os.access = lambda path, mode, **kw: path != "/dev/shm" and real_access(path, mode, **kw)
    try:
        spark = get_spark(
            "perfbench",
            cpus=CPUS,
            shuffle_partitions=2 * CPUS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"{root}/spark-local",
                "spark.driver.extraJavaOptions": (
                    f"-XX:+UseParallelGC -Xms{DRIVER_MEM} -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}"
                ),
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "40000",
                "spark.sql.ui.retainedExecutions": "20000",
            },
        )
    finally:
        os.access = real_access
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------- engine calls
def _search_call(run: Run, q: I.Query):
    from textindex_spark import boolquery, query

    if q.kind == "bool":
        return boolquery.search_bool(
            run.spark, run.index, q.bool_expr, k=q.k, with_urls=False
        )
    return query.search(
        run.spark, run.index, list(q.terms), k=q.k, mode=q.mode,
        prune=q.prune, with_urls=False, exclude=list(q.exclude) or None,
        scope=q.scope, local_score=False if q.distributed else None,
    )


def run_query(
    run: Run, q: I.Query, phase: str, snapshot: int | None = None
) -> list[tuple[int, float]] | None:
    """One timed request: the call until ``collect()`` returns.
    ``snapshot`` is the index of the snapshot it reads (default: the
    latest one the benchmark has recorded)."""
    tr = run.tracer
    run.attempted += 1
    cold = run._cold_commit != run.commits
    run._cold_commit = run.commits
    jobs0 = tr.next_job_id()
    with tr.op("query", q.shape, phase):
        t0 = time.perf_counter()
        try:
            df = _search_call(run, q)
            with tr.span("benchmark.collect", "query.collect"):
                rows = df.collect()
        except Exception as e:  # a failed request is counted, not fatal
            run.fail(f"{q.shape}: {type(e).__name__}: {e}"[:300])
            return None
        ms = (time.perf_counter() - t0) * 1e3
    got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    run.samples.append(Sample(q.shape, ms, tr.next_job_id() - jobs0, phase, tr.enabled, cold))
    run.answers.append((len(run.snapshots) if snapshot is None else snapshot, q, got))
    return got


def build_base(run: Run, corpus_dir: str) -> float:
    from textindex_spark import build

    idx = f"{run.root}/index"
    run.attempted += 1
    with run.tracer.op("build", phase="setup"):
        t0 = time.perf_counter()
        with run.tracer.span("benchmark.read_input", "build.segments"):
            docs = run.spark.read.parquet(corpus_dir)
        stats = build.build_index(run.spark, docs, idx)
        wall = time.perf_counter() - t0
    run.commits += 1
    run.index = idx
    run.info["stats"] = stats
    return wall


# ---------------------------------------------------------------- index files
def _manifest(run: Run) -> dict:
    from textindex_spark import manifest

    return manifest.current_manifest(run.spark, run.index) or {"tables": {}}


def _table_dirs(run: Run, name: str, man: dict | None = None) -> list[str]:
    man = man or _manifest(run)
    return [f"{run.index}/{rel}" for rel in man["tables"].get(name, [])]


def _read_dirs(dirs: list[str], columns: list[str]):
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return None
    files = [
        os.path.join(dp, f)
        for d in dirs
        for dp, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    ]
    return ds.dataset(files, format="parquet").to_table(columns=columns)


def live_docs(run: Run) -> dict[str, int]:
    """url → doc_id of every live doc in the current snapshot. Two
    live docs with one url (a missed tombstone) fail the run."""
    man = _manifest(run)
    docs = _read_dirs(_table_dirs(run, "docs", man), ["doc_id", "url"])
    dead_t = _read_dirs(_table_dirs(run, "deleted", man), ["doc_id"])
    dead = set(dead_t.column("doc_id").to_pylist()) if dead_t is not None else set()
    pairs = [
        (u, d)
        for d, u in zip(docs.column("doc_id").to_pylist(), docs.column("url").to_pylist())
        if d not in dead
    ]
    live = dict(pairs)
    if len(live) != len(pairs):
        run.fail(f"{len(pairs) - len(live)} live docs share a url with another live doc")
    return live


def index_shape(run: Run) -> dict:
    """Bytes of every table in the live manifest, and posting counts."""
    man = _manifest(run)
    total = 0
    for rels in man["tables"].values():
        for rel in rels:
            for dp, _, fs in os.walk(f"{run.index}/{rel}"):
                total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    post = _read_dirs(
        _table_dirs(run, "postings", man),
        ["n_docs", "doc_gaps", "tf_bytes", "dl_bytes", "pos_bytes"],
    )
    n_post = pc.sum(post.column("n_docs")).as_py()

    def nbytes(col: str) -> int:
        return pc.sum(pc.binary_length(post.column(col))).as_py() or 0

    stats = run.info["stats"]
    return {
        "n_docs": int(stats["n_docs"]),
        "vocab_size": int(stats["vocab_size"]),
        "postings": int(n_post),
        "index_bytes": total,
        "index_bytes_per_doc": total / max(1, int(stats["n_docs"])),
        "bytes_per_posting": sum(nbytes(c) for c in ("doc_gaps", "tf_bytes", "dl_bytes")) / max(1, n_post),
        "pos_bytes_per_posting": nbytes("pos_bytes") / max(1, n_post),
        "postings_dirs": len(man["tables"].get("postings", [])),
    }


# ---------------------------------------------------------------- workloads
def _timed_loop(run: Run, body) -> None:
    """Call ``body(i)`` for i = 0, 1, ... until ``run.seconds`` have
    passed. A traced run times the first half untraced, so the two
    halves give the tracing overhead."""
    t0 = time.perf_counter()
    tr = run.tracer
    if run.trace:
        tr.enabled = False
    i = 0
    while time.perf_counter() - t0 < run.seconds or (run.trace and not tr.enabled):
        if run.trace and not tr.enabled and i and time.perf_counter() - t0 >= run.seconds / 2:
            tr.resume()
        body(i)
        i += 1


def wide_cycle(run: Run) -> None:
    """One pass over the distributed-plan shapes; a traced run makes an
    untraced pass first, for the tracing overhead."""
    traced = run.tracer.enabled
    for enabled in ([False, True] if traced else [False]):
        run.tracer.enabled = False
        if enabled:
            run.tracer.resume()
        for q in run.inp.wide:
            run_query(run, q, "wide")


def next_query(run: Run) -> I.Query:
    """The next resident request of the seeded mix."""
    seq = run.inp.sequence
    q = run.inp.queries[seq[run._next % len(seq)]]
    run._next += 1
    return q


def warm(run: Run, wide: bool) -> None:
    """``WARM_ROUNDS`` rounds of the distinct resident queries (the
    resident path caches per query), and with ``wide`` one wide query
    for the distributed plan's JIT."""
    t0 = time.perf_counter()
    for q in run.inp.queries * WARM_ROUNDS + run.inp.wide[: int(wide)]:
        run_query(run, q, "warm")
    run.setup["warm_s"] = time.perf_counter() - t0


def serve(run: Run) -> None:
    warm(run, wide=True)
    _timed_loop(run, lambda i: run_query(run, next_query(run), "measure"))
    wide_cycle(run)


def warm_passes(seconds: float) -> int:
    """Warm passes after each commit, as a count so that host speed
    does not change the mix. On a 4-core VM a cold pass takes 2-6 s and
    a warm one about 0.5 s, so the two commits' passes take about 1 to
    1.5 × ``seconds``."""
    return max(1, round(seconds / 2))


def fresh_passes(run: Run) -> None:
    """Passes of the resident mix on the snapshot the last commit
    published: a cold one, then the warm ones. Every pass holds each
    distinct query once."""
    for _ in range((1 + warm_passes(run.seconds)) * len(run.inp.queries)):
        run_query(run, next_query(run), "fresh")


def ingest(run: Run) -> None:
    from textindex_spark import build

    warm(run, wide=False)
    live = live_docs(run)
    run.info["visible_s"], run.info["append_docs_per_s"] = [], []
    run.info["compactions"] = 0
    # one batch a run; a traced run needs an untraced and a traced one
    n_batches = 2 if run.trace else 1
    for batch in range(n_batches):
        if run.trace:
            # even batches untraced, odd ones traced: the pairs give the
            # tracing overhead
            if batch % 2 == 0:
                run.tracer.enabled = False
            else:
                run.tracer.resume()
        urls = sorted(u for u in live if not u.startswith(I.MARKER_SITE))
        rows = I.ingest_batch(run.seed, run.inp.vocab, batch, urls, run.n_rows)
        bdir = I.write_parquet(rows, f"{run.root}/batch{batch}")
        marker = I.marker_token(run.seed, batch)
        tr = run.tracer
        run.attempted += 1
        t_start = time.perf_counter()
        with tr.op("append", phase="measure"):
            try:
                with tr.span("benchmark.read_input", "build.append"):
                    docs = run.spark.read.parquet(bdir)
                build.append_batch(run.spark, docs, run.index, replace_by_url=True)
            except Exception as e:
                run.fail(f"append_batch: {type(e).__name__}: {e}"[:300])
                return
            t_app = time.perf_counter() - t_start
        run.commits += 1
        seen = None
        while time.perf_counter() - t_start < MARKER_TIMEOUT_S:
            seen = run_query(
                run, I.Query("marker", "search", (marker,)), "poll",
                snapshot=len(run.snapshots) + 1,
            )
            if seen:
                break
        if not seen:
            run.fail(f"batch {batch}: marker {marker} not visible")
            return
        visible = time.perf_counter() - t_start
        # the engine's view of the new snapshot; check_answers compares
        # it with the oracle's, built from the batch rows alone
        now = live_docs(run)
        run.snapshots.append((rows, now))
        fresh_passes(run)
        run.attempted += 1
        jobs0 = tr.next_job_id()
        with tr.op("compact", phase="measure"):
            t_c = time.perf_counter()
            try:
                build.maybe_compact(run.spark, run.index, max_postings_dirs=COMPACT_AT_DIRS)
            except Exception as e:
                run.fail(f"maybe_compact: {type(e).__name__}: {e}"[:300])
                return
            t_c = time.perf_counter() - t_c
        if tr.next_job_id() > jobs0:
            run.commits += 1
            run.info["compactions"] += 1
            run.snapshots.append(([], live_docs(run)))
            fresh_passes(run)
        added = sum(1 for u, d in now.items() if live.get(u) != d)
        run.info["stats"] = dict(run.info["stats"], n_docs=len(now))
        live = now
        run.info["visible_s"].append(visible)
        run.info["append_docs_per_s"].append(added / (t_app + t_c))
        run.info.setdefault("batch_log", []).append({"added": added, "traced": tr.enabled})
        if batch == 0:
            run.info["shape"] = index_shape(run)
    run.info["batches"] = n_batches


# ---------------------------------------------------------------- checks
def check_answers(run: Run) -> int:
    """Compare every answer with the oracle of its snapshot; returns the
    number of mismatches (each also recorded as a failure). Oracle time
    is outside every metric.

    The oracle indexes every generated row and decides on its own which
    rows survive the filters and which live docs a re-crawl replaces. A
    row keeps the doc_id the engine minted for its url; a row the
    engine lacks gets a placeholder id, so a lost doc changes n_docs,
    the scores and the url → doc_id map, which is compared with the
    engine's after every commit."""
    placeholders = itertools.count(-1, -1)
    seen_ids: set[int] = set()

    def with_ids(rows: list[dict], live: dict[str, int]) -> list[dict]:
        out = []
        for r in rows:
            d = live.get(r["url"])
            if d is None or d in seen_ids:  # lost, or an old id reused
                d = next(placeholders)
            out.append(dict(r, doc_id=d))
        seen_ids.update(r["doc_id"] for r in out)
        return out

    def same_docs(oracle: oracle_check.SnapshotOracle, live: dict[str, int], where: str) -> None:
        want = {doc["url"]: d for d, doc in oracle.docs.items()}
        if want != live:
            lost = sum(1 for u in want if u not in live)
            extra = sum(1 for u in live if u not in want)
            moved = sum(1 for u in want if u in live and live[u] != want[u])
            run.fail(
                f"{where}: live docs differ from the oracle's "
                f"({lost} lost, {extra} extra, {moved} with another doc_id)"
            )

    oracle = oracle_check.SnapshotOracle.build(
        with_ids(run.inp.base_rows, run.info["base_docs"])
    )
    same_docs(oracle, run.info["base_docs"], "base index")
    if oracle.n_docs != run.info["base_n_docs"]:
        run.fail(f"oracle indexes {oracle.n_docs} docs, engine stats {run.info['base_n_docs']}")
    by_snapshot: dict[int, list] = {}
    for s, q, got in run.answers:
        by_snapshot.setdefault(s, []).append((q, got))
    bad = 0
    for s in range(len(run.snapshots) + 1):
        if s:
            rows, live = run.snapshots[s - 1]
            oracle_check.apply_batch(oracle, with_ids(rows, live))
            same_docs(oracle, live, f"snapshot {s}")
        golden: dict[str, list] = {}
        for q, got in by_snapshot.get(s, ()):
            if q.key() not in golden:
                golden[q.key()] = oracle_check.answer(oracle, q)
            why = oracle_check.mismatch(got, golden[q.key()], q.k)
            if why:
                bad += 1
                run.fail(f"{q.shape} {q.terms or q.bool_expr} @snapshot {s}: {why}")
    return bad


def check_paths(run: Run) -> None:
    """Each workload must exercise its path; a routing change that
    moves it to another path fails the run."""
    idle = [s for s in run.samples if s.phase == "wide" and not s.jobs]
    if idle:
        run.fail(f"{len(idle)} wide queries launched no Spark job (distributed plan expected)")
    if run.workload == "serve":
        busy = [s for s in run.samples if s.phase == "measure" and s.jobs]
        if busy:
            run.fail(f"{len(busy)} warm resident queries launched Spark jobs (zero expected)")
    else:
        cold = [s for s in run.samples if s.cold and s.phase in ("poll", "fresh")]
        if any(s.jobs == 0 for s in cold):
            run.fail("a first query after a commit ran without Spark jobs (stale cache)")
        if not run.info.get("compactions"):
            run.fail("compaction never fired")
