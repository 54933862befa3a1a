"""The benchmark's own tests, at tiny size.

The end-to-end test runs ``perfbench/run.py`` in a subprocess per
workload (its Spark JVM must not share this process with other tests).
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle_check, report, workloads  # noqa: E402


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[subprocess.CompletedProcess, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--rows", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc, json.loads(lines[-1]) if lines else {}


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], 0) for w in _contract()["workloads"]] + [("ingest", 1)],
)
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    proc, out = _run(workload, trace)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = _contract()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    for name, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        # every metric is also printed as a `name value unit` line
        assert any(line.startswith(f"{name} ") and line.endswith(f" {v['unit']}")
                   for line in proc.stdout.splitlines()), name


def _small_oracle():
    _, rows = inputs.base_rows(seed=5, n_rows=300)
    rows = [dict(r, doc_id=i) for i, r in enumerate(sorted(rows, key=lambda r: r["url"]))]
    return oracle_check.SnapshotOracle.build(rows)


def test_oracle_check_flags_a_perturbed_answer():
    oracle = _small_oracle()
    q = inputs.Query("or_unpruned", "search", ("spark", "index"), mode="or")
    expected = oracle_check.answer(oracle, q)
    good = expected[: q.k]
    assert len(good) == q.k
    assert oracle_check.mismatch(good, expected, q.k) is None
    # distinct scores at ranks 0 and 1, so swapping them is wrong
    assert good[0][1] != good[1][1]
    perturbed = {
        "swapped ranks": [good[1], good[0]] + good[2:],
        "score off": [(good[0][0], good[0][1] * (1 + 1e-6))] + good[1:],
        "missing doc": good[:-1],
        "foreign doc": good[:-1] + [(10**9, good[-1][1])],
        "duplicate doc": good[:-1] + [good[0]],
    }
    for why, got in perturbed.items():
        assert oracle_check.mismatch(got, expected, q.k) is not None, why


def test_oracle_accepts_any_order_within_a_tie():
    expected = [(7, 2.0), (3, 1.0), (5, 1.0), (9, 1.0), (1, 0.5)]
    assert oracle_check.mismatch([(7, 2.0), (5, 1.0)], expected, 2) is None
    assert oracle_check.mismatch([(7, 2.0), (9, 1.0), (3, 1.0)], expected, 3) is None
    assert oracle_check.mismatch([(7, 2.0), (1, 1.0)], expected, 2) is not None


def test_tombstoned_versions_keep_their_df_until_purge():
    oracle = _small_oracle()
    term = "spark"
    before = oracle.df(term)
    victim = next(iter(oracle.postings[term]))
    recrawl = {
        "url": oracle.docs[victim]["url"], "doc_id": 10**6,
        "warc_ts": oracle.docs[victim]["warc_ts"], "lang": "en", "text": "",
        "html": b"<html><body><p>other words</p></body></html>",
    }
    oracle_check.apply_batch(oracle, [recrawl])
    assert victim not in oracle.docs and 10**6 in oracle.docs
    assert oracle.df(term) == before  # live df - 1, ghost df + 1


def _check_docs(inp, base_docs, snapshots=()) -> list[str]:
    run = workloads.Run("ingest", 5, 1.0, False, "", n_rows=300, inp=inp)
    run.info.update(base_docs=base_docs, base_n_docs=len(base_docs))
    run.snapshots = list(snapshots)
    workloads.check_answers(run)
    return run.failures


def test_oracle_check_flags_lost_and_stale_docs():
    inp = inputs.make_inputs("ingest", 5, 300)
    full = oracle_check.SnapshotOracle.build(
        [dict(r, doc_id=i) for i, r in enumerate(inp.base_rows)]
    )
    live = {doc["url"]: d for d, doc in full.docs.items()}
    assert _check_docs(inp, live) == []
    lost = dict(live)
    lost.pop(min(lost))
    assert _check_docs(inp, lost)

    # a re-crawl batch, as the engine should apply it: every row that
    # survives the filters gets a fresh id and replaces its url's old doc
    batch = inputs.ingest_batch(5, inp.vocab, 0, sorted(live), 300)
    first = max(live.values()) + 1
    indexed = oracle_check.OracleIndex.build(
        [dict(r, doc_id=first + j) for j, r in enumerate(batch)]
    )
    after = dict(live)
    after.update({doc["url"]: d for d, doc in indexed.docs.items()})
    assert _check_docs(inp, live, [(batch, after)]) == []
    recrawled = next(u for u in sorted(indexed.docs[d]["url"] for d in indexed.docs) if u in live)
    stale = dict(after, **{recrawled: live[recrawled]})  # old version kept
    assert _check_docs(inp, live, [(batch, stale)])
    dropped = dict(after)
    dropped.pop(next(u for u in sorted(after) if u not in live))  # new page lost
    assert _check_docs(inp, live, [(batch, dropped)])


def test_same_seed_same_fingerprint():
    for w in workloads.WORKLOADS:
        a, b = inputs.make_inputs(w, 11, 200), inputs.make_inputs(w, 11, 200)
        assert a.fingerprint() == b.fingerprint()
        assert a.fingerprint() != inputs.make_inputs(w, 12, 200).fingerprint()


def test_tail_percentile_has_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]
    v, pct, n = report.tail(values)
    assert (pct, n) == (90, 100)
    assert sum(x > v for x in values) >= report.TAIL_BEYOND
    assert report.tail([3.0, 1.0, 2.0]) == (2.0, 50, 3)
