"""Seeded benchmark inputs: the base corpus, the ingest batches and the
query mixes, all derived from ``textindex_spark.corpus`` and one seed.

Nothing here touches Spark: the rows are generated on the driver with
``make_row`` and written as parquet with pyarrow, so the engine only
ever sees the generated files.
"""
from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from textindex_spark.corpus import (
    EPOCH,
    HOT_TERMS,
    N_SITES,
    make_row,
    make_vocab,
    site_topic_word,
)

# Base corpus rows (about 90% survive the name/content filters). Sized
# so that one run of every workload fits the benchmark's time budget on
# a 4-core machine; see BENCHMARK.json.
BASE_ROWS = 2000
BATCH_ROWS = 300          # rows per ingest batch, marker page included
RECRAWL_SHARE = 0.1       # share of a batch that re-fetches a live url
INPUT_FILES = 8           # parquet files per input: one scan task each
_COLS = ("url", "warc_ts", "html", "text", "lang")
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass(frozen=True)
class Query:
    """One distinct query. ``kind`` selects the public entry point:
    ``search`` (flat patterns) or ``bool`` (boolean tree)."""

    shape: str
    kind: str
    terms: tuple[str, ...] = ()
    mode: str = "and"
    prune: bool = False
    exclude: tuple[str, ...] = ()
    scope: str | None = None
    must: tuple[str, ...] = ()
    should: tuple[str, ...] = ()
    must_not: tuple[str, ...] = ()
    distributed: bool = False   # route to the distributed plan
    k: int = 10

    @property
    def bool_expr(self) -> str:
        parts = list(self.must)
        if self.should:
            parts.append("(" + " OR ".join(self.should) + ")")
        parts += [f"NOT {t}" for t in self.must_not]
        return " AND ".join(parts)

    def key(self) -> str:
        return repr(self)


@dataclass
class Inputs:
    seed: int
    vocab: list[str]
    base_rows: list[dict]
    queries: list[Query]        # resident shapes
    wide: list[Query]           # distributed-plan shapes, one cycle
    sequence: list[int] = field(default_factory=list)  # resident request order

    def fingerprint(self) -> str:
        """Content hash of the generated corpus and the query list: a
        change to the generator reads as a changed workload."""
        h = hashlib.sha256()
        for r in self.base_rows:
            h.update(_row_bytes(r))
        for q in self.queries + self.wide:
            h.update(q.key().encode())
        h.update(repr(self.sequence).encode())
        return h.hexdigest()[:16]


def _row_bytes(r: dict) -> bytes:
    return b"\x00".join(
        [
            r["url"].encode(),
            r["warc_ts"].isoformat().encode(),
            r["html"] or b"",
            (r["text"] or "").encode(),
            r["lang"].encode(),
        ]
    )


def base_rows(seed: int, n_rows: int = BASE_ROWS) -> tuple[list[str], list[dict]]:
    vocab = make_vocab(seed)
    rows = [make_row(i, vocab, seed) for i in range(n_rows)]
    for r in rows:
        del r["doc_id"]  # input_hint shape: the engine mints ids
    return vocab, rows


def write_parquet(rows: list[dict], out_dir: str, n_files: int = INPUT_FILES) -> str:
    """Url-sorted rows → ``n_files`` parquet files (host-batched
    delivery, one scan task per file)."""
    rows = sorted(rows, key=lambda r: r["url"])
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    step = max(1, -(-len(rows) // n_files))
    for f, lo in enumerate(range(0, len(rows), step)):
        chunk = rows[lo : lo + step]
        cols = {c: [r[c] for r in chunk] for c in _COLS}
        cols["warc_ts"] = [t.replace(tzinfo=None) for t in cols["warc_ts"]]
        pq.write_table(
            pa.table(cols, schema=schema), f"{out_dir}/part-{f:03d}.parquet"
        )
    return out_dir


def _ts_window(rng: random.Random, n_rows: int) -> str:
    lo = rng.randrange(0, n_rows // 2)
    hi = lo + n_rows // 4
    a = (EPOCH + timedelta(seconds=13 * lo)).strftime("%Y-%m-%dT%H:%M:%S")
    b = (EPOCH + timedelta(seconds=13 * hi)).strftime("%Y-%m-%dT%H:%M:%S")
    return f"ts:{a}..{b}"


# Query terms are picked by popularity rank, not at random, so every
# seed's queries touch postings of the same sizes: the seed changes the
# words, not the work.
_COMMON_RANK, _RARE_RANK = 40, 400


def hot_queries(rng: random.Random, vocab: list[str], n_rows: int) -> list[Query]:
    """Resident serving shapes: every candidate set fits the serving
    cap, so warm queries run on the query node without Spark jobs."""
    h1, h2 = HOT_TERMS[0], HOT_TERMS[1]
    w, r = vocab[_COMMON_RANK], vocab[_RARE_RANK]
    site = rng.randrange(N_SITES)
    return [
        Query("ref_wild_and", "search", (ref_prefix(vocab) + "*", h1)),
        Query("hot_and", "search", (h1, h2)),
        Query("rare_hot_and", "search", (site_topic_word(site), h1)),
        Query("or_unpruned", "search", (h1, w), mode="or"),
        Query("or_pruned", "search", (h1, w), mode="or", prune=True),
        Query("exclude", "search", (h2,), exclude=(w,)),
        Query("lang_scope", "search", (w, h1), scope="lang:" + rng.choice(["de", "en", "fr"])),
        Query("ts_scope", "search", (h2,), scope=_ts_window(rng, n_rows)),
        Query("bool", "bool", must=(h1,), should=(w, r), must_not=(h2,)),
        Query("fuzzy", "search", (r + "~1",)),
        Query("absent", "search", ("zqabsent" + _LETTERS[rng.randrange(26)], h1)),
    ]


_WIDE_MASS = 0.2   # target share of vocabulary-word occurrences per infix
_REF_MASS = 0.03   # and per reference prefix


def _by_mass(vocab: list[str], grams: set[str], matches, target: float) -> list[str]:
    """``grams`` ordered by how close the share of vocabulary-word
    occurrences they match is to ``target``. ``make_row`` draws
    vocabulary rank r = floor(n·u³), so rank r has probability
    ((r+1)/n)^⅓ − (r/n)^⅓; ranking by that mass gives every seed
    patterns that match postings lists of the same total size."""
    n = len(vocab)
    p = [((r + 1) / n) ** (1 / 3) - (r / n) ** (1 / 3) for r in range(n)]
    mass = {g: sum(p[r] for r, w in enumerate(vocab) if matches(g, w)) for g in grams}
    return sorted(mass, key=lambda g: (abs(mass[g] - target), g))


def wide_infixes(vocab: list[str]) -> list[str]:
    """Word-initial two-letter infixes, closest to ``_WIDE_MASS`` first."""
    return _by_mass(vocab, {w[:2] for w in vocab}, lambda g, w: g in w, _WIDE_MASS)


def ref_prefix(vocab: list[str]) -> str:
    """The three-letter prefix closest to ``_REF_MASS``: the reference
    wildcard expands to postings of about the same size for every
    seed."""
    return _by_mass(vocab, {w[:3] for w in vocab}, lambda g, w: w.startswith(g), _REF_MASS)[0]


def wide_queries(vocab: list[str]) -> list[Query]:
    """Broad infix wildcards on the distributed plan: each pattern
    matches about a fifth of the corpus's vocabulary-word occurrences,
    so every query decodes a large share of the postings and runs
    Spark jobs, bypassing the resident block cache."""
    a, b, c = (f"*{g}*" for g in wide_infixes(vocab)[:3])
    return [
        Query("wide_and", "search", (a, b), distributed=True),
        Query("wide_or", "search", (a, c), mode="or", distributed=True),
        Query("wide_or_pruned", "search", (b, c), mode="or", prune=True, distributed=True),
    ]


def uniform_rounds(rng: random.Random, n_distinct: int, length: int) -> list[int]:
    """Request order over ``n_distinct`` queries: back-to-back seeded
    permutations, so every shape gets the same share of requests and a
    speed-up on any one shape moves the median alike. No public query
    log gives this engine's shape mix, so the benchmark assumes none."""
    out: list[int] = []
    while len(out) < length:
        out += rng.sample(range(n_distinct), n_distinct)
    return out[:length]


def make_inputs(workload: str, seed: int, n_rows: int = BASE_ROWS) -> Inputs:
    vocab, rows = base_rows(seed, n_rows)
    rng = random.Random(seed * 1_000_003 + sum(map(ord, workload)))
    queries = hot_queries(rng, vocab, n_rows)
    return Inputs(
        seed, vocab, rows, queries, wide_queries(vocab),
        uniform_rounds(rng, len(queries), 4096),
    )


MARKER_SITE = "https://marker.example/"


def marker_url(seed: int, batch: int) -> str:
    return f"{MARKER_SITE}{seed}/{batch}.html"


def marker_token(seed: int, batch: int) -> str:
    """Alphabetic, unique per (seed, batch), absent from the corpus
    vocabulary (which is built from two-letter-or-longer syllables
    that never start with 'zq')."""
    s, b = seed % 26**3, batch
    return "zqmk" + "".join(_LETTERS[(s // 26**i) % 26] for i in range(3)) + _LETTERS[b // 26 % 26] + _LETTERS[b % 26]


def ingest_batch(
    seed: int, vocab: list[str], batch: int, live_urls: list[str], n_base: int,
    n_rows: int = BATCH_ROWS,
) -> list[dict]:
    """One crawl delivery: fresh pages continuing the base row index
    (unique urls), a share of re-fetched live urls with new content,
    and one marker page carrying a unique token."""
    rng = random.Random(seed * 7919 + batch)
    start = n_base + batch * n_rows
    n_recrawl = int(n_rows * RECRAWL_SHARE)
    rows = [make_row(start + i, vocab, seed) for i in range(n_rows - n_recrawl - 1)]
    for j, url in enumerate(rng.sample(live_urls, n_recrawl)):
        # new content for an existing url: an html page generated for a
        # row index no other page uses
        i = 10_000_000 + batch * n_rows + j
        r = make_row(i, vocab, seed)
        while not r["url"].endswith(".html"):
            i += 1_000_003
            r = make_row(i, vocab, seed)
        r["url"] = url
        rows.append(r)
    tok = marker_token(seed, batch)
    rows.append(
        {
            "url": marker_url(seed, batch),
            "warc_ts": EPOCH + timedelta(seconds=13 * start),
            "html": f"<html><body><p>{tok} spark index</p></body></html>".encode(),
            "text": "",
            "lang": "en",
        }
    )
    for r in rows:
        r.pop("doc_id", None)
    return rows
