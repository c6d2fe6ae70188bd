"""Seeded benchmark inputs, sampled from the repository's test fixture.

``fixture/`` holds byte-for-byte copies of fixture tables (TESTDATA.md,
FIXTURES.md): the sf0.01 star schema with ``events``, and the sf0.1
``documents`` and ``embeddings``. Every input is a pure function of the
seed and those files, so the same seed always writes the same parquet
files; values are the fixture's own, only rows are drawn and ids offset.

Keys are offset by 10^9 per copy, as ``tools/replica.py`` does for its
replicas: a fact row drawn twice becomes two rows with distinct keys, and a
corpus shard's ids never collide with another shard's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
STAR = os.path.join(FIXTURE, "sf0.01")
CORPUS = os.path.join(FIXTURE, "sf0.1")
ID_OFFSET = 10**9
DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
HEAD_WORDS = 6  # documents sharing their first six words form one duplicate group


def _read(src: str, name: str) -> pa.Table:
    return pq.read_table(os.path.join(src, f"{name}.parquet"))


def _write(out: str, name: str, tbl: pa.Table) -> None:
    pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def _offset(tbl: pa.Table, col: str, add: np.ndarray) -> pa.Table:
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, col, pc.add(tbl[col], pa.array(add, tbl.schema.field(col).type)))


def _copy_index(draws: np.ndarray) -> np.ndarray:
    """For each draw, how many earlier draws picked the same row."""
    order = np.argsort(draws, kind="stable")
    s = draws[order]
    start = np.r_[0, np.flatnonzero(s[1:] != s[:-1]) + 1]
    run_start = np.repeat(start, np.diff(np.r_[start, len(s)]))
    copy = np.empty_like(draws)
    copy[order] = np.arange(len(s)) - run_start
    return copy


def star(out: str, seed: int, factor: float) -> None:
    """The fixture's star schema with its fact tables resampled: ``orders``
    and ``events`` rows are drawn with replacement, ``factor`` times their
    row count, and each drawn order brings its line items under its new
    key. Dimension tables are copied unchanged, so join fan-out and value
    grids stay the fixture's."""
    rng = np.random.default_rng([seed, 1])
    for name in DIMENSIONS:
        _write(out, name, _read(STAR, name))

    orders, li = _read(STAR, "orders"), _read(STAR, "lineitem")
    draws = rng.integers(0, orders.num_rows, int(factor * orders.num_rows))
    copy = _copy_index(draws)
    _write(out, "orders", _offset(orders.take(draws), "o_orderkey", copy * ID_OFFSET))

    okeys = orders["o_orderkey"].to_numpy()
    by_key = np.argsort(okeys)
    owner = by_key[np.searchsorted(okeys, li["l_orderkey"].to_numpy(), sorter=by_key)]
    grouped = np.argsort(owner, kind="stable")  # line items grouped by owning order row
    first = np.searchsorted(owner[grouped], np.arange(orders.num_rows))
    n = np.bincount(owner, minlength=orders.num_rows)[draws]
    within = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)
    rows = grouped[np.repeat(first[draws], n) + within]
    _write(out, "lineitem", _offset(li.take(rows), "l_orderkey", np.repeat(copy, n) * ID_OFFSET))

    events = _read(STAR, "events")
    draws = rng.integers(0, events.num_rows, int(factor * events.num_rows))
    _write(out, "events", _offset(events.take(draws), "event_id", _copy_index(draws) * ID_OFFSET))


def shard(out: str, seed: int, index: int, n_docs: int) -> None:
    """One corpus shard of about ``n_docs`` fixture documents and as many
    embeddings, chosen by (seed, index), with ids offset by index * 10^9.

    Documents are drawn a duplicate group at a time: the fixture's near
    duplicates are a document plus a word and its exact duplicates repeat
    one, so both share their first words, and drawing whole groups keeps
    the fixture's duplicate rate in the shard. Embeddings are drawn row by
    row, so each shard keeps the fixture's label clusters."""
    rng = np.random.default_rng([seed, 2, index])
    docs = _read(CORPUS, "documents")
    groups: dict[str, list[int]] = {}
    for row, text in enumerate(docs["text"].to_pylist()):
        groups.setdefault(" ".join(text.lower().split()[:HEAD_WORDS]), []).append(row)
    members = list(groups.values())
    rows: list[int] = []
    for g in rng.permutation(len(members)):
        if len(rows) >= n_docs:
            break
        rows += members[g]
    rows.sort()
    base = index * ID_OFFSET
    _write(out, "documents", _offset(docs.take(rows), "doc_id", np.full(len(rows), base)))

    emb = _read(CORPUS, "embeddings")
    pick = np.sort(rng.choice(emb.num_rows, min(n_docs, emb.num_rows), replace=False))
    _write(out, "embeddings", _offset(emb.take(pick), "vec_id", np.full(len(pick), base)))


def lines(seed: int, index: int, n: int) -> list[str]:
    """``n`` fixture document texts drawn with replacement: word-count input."""
    rng = np.random.default_rng([seed, 3, index])
    texts = _read(CORPUS, "documents")["text"].to_pylist()
    return [texts[i] for i in rng.integers(0, len(texts), n)]
