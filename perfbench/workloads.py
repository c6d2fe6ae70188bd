"""The benchmark's three workloads: their inputs, their ops and the
expected value each op's result is checked against.

A workload hands the runner one input per pass (``pass_input``) and a
fixed op list. Each op is called the way a consumer calls the engine:
registered queries through ``__spark_entry__.queries()`` in their declared
order, the curation pass through ``pipeline.curate`` and the reference API
through ``operators.mapreduce``. Expected values are computed untimed from
the same sampled input: the DuckDB oracle of ``oracle_sql()`` compared
with the repo's strict ``compare_frames`` for registered queries, SQL
recounts of the audit for ``curate`` and plain Python for the
``map_reduce`` jobs.
"""

from __future__ import annotations

import math
import os
import shutil
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

import inputs
from tools.replica import ensure_replica


@dataclass
class Op:
    name: str
    layer: str  # the engine module the op's call enters
    kind: str  # "query" | "curate" | "mapreduce"


@dataclass
class Input:
    label: str
    path: str = ""  # an sf-style directory of parquet tables
    data: dict = field(default_factory=dict)  # in-memory data (map_reduce)


def _layer(fn_module: str) -> str:
    """operators.text, streaming.windows, functions.udfs, ..."""
    return fn_module.split("mapreduce_framework_simple_spark.", 1)[1]


class Workload:
    name = ""
    query_names: tuple[str, ...] = ()
    PASSES = 1  # timed passes of an untraced run

    def __init__(self, cache: str, seed: int, n_passes: int):
        self.cache, self.seed, self.n_passes = cache, seed, n_passes
        self._expected: dict[tuple[str, str], object] = {}
        self._duck: dict[str, object] = {}

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def warm_input(self) -> Input:
        raise NotImplementedError

    def pass_input(self, i: int) -> Input:
        raise NotImplementedError

    # -- ops --------------------------------------------------------------
    def ops(self, queries: dict) -> list[Op]:
        """Registered queries in their declared (``queries()``) order."""
        from mapreduce_framework_simple_spark import registry

        return [
            Op(n, _layer(registry.QUERIES[n].__module__), "query")
            for n in queries if n in self.query_names
        ]

    def run(self, op: Op, spark, queries: dict, inp: Input, clock):
        """Execute one op; returns (result, plan_s, exec_s). ``clock`` is
        the runner's hook for phase boundaries (job tags, spans)."""
        clock("plan")
        df = queries[op.name](spark, inp.path)
        t_plan = clock("exec")
        tbl = df.toArrow()
        t_exec = clock(None)
        return tbl, t_plan, t_exec

    # -- checks -----------------------------------------------------------
    def _duckdb(self, inp: Input):
        if inp.path not in self._duck:
            from tests.oracle_harness import duck_connection

            con = duck_connection(inp.path)
            con.execute("SET threads TO 2")
            self._duck = {inp.path: con}  # one input's connection at a time
        return self._duck[inp.path]

    def expected(self, op: Op, inp: Input):
        key = (op.name, inp.label)
        if key not in self._expected:
            self._expected[key] = self._compute_expected(op, inp)
        return self._expected[key]

    def _compute_expected(self, op: Op, inp: Input):
        from __spark_entry__ import oracle_sql

        return self._duckdb(inp).execute(oracle_sql()[op.name]).df()

    def check(self, op: Op, inp: Input, result) -> list[str]:
        """Mismatch descriptions; empty when the result is right."""
        from tests.oracle_harness import compare_frames

        return compare_frames(result.to_pandas(), self.expected(op, inp), strict=True)


# ---------------------------------------------------------------------------


class SqlAnalytics(Workload):
    """Relational, temporal and window ops on one star-schema copy that
    every pass reuses, so after the first pass every memo and dispatch
    probe of the session hits."""

    name = "sql_analytics"
    PASSES = 3  # the first pass fills the session's memos; the other two hit them
    FACTOR = 2.0  # fact rows drawn per fixture row: an sf0.02-sized copy
    WARM_FACTOR = 0.1
    query_names = (
        "q01_pricing_summary", "q03_top_revenue", "q05_join_chain",
        "q07_broadcast_brand", "q13_window_topk", "q22_math_funcs", "q26_case_null",
        "q27_range_join", "q50_tumbling_window", "q82_asof_join",
    )

    def prepare(self) -> None:
        self._dir, self._warm = (
            ensure_replica(os.path.join(self.cache, f"star-x{f}-seed{self.seed}"),
                           lambda d, f=f: inputs.star(d, self.seed, f))
            for f in (self.FACTOR, self.WARM_FACTOR)
        )

    def warm_input(self) -> Input:
        return Input("warm", self._warm)

    def pass_input(self, i: int) -> Input:
        return Input("star", self._dir)


# ---------------------------------------------------------------------------


class LlmCuration(Workload):
    """Text, dedup, similarity and codec ops plus one parquet-
    writing ``curate`` pass; each pass reads a shard no earlier pass (and
    no memo of the session) has seen."""

    name = "llm_curation"
    DOCS = 500  # rows per shard
    WARM_DOCS = 200
    query_names = (
        "q30_word_count", "q105_bigram_lm",
        "q35_dedup_exact", "q36_ngram_jaccard", "q38_minhash_lsh_pairs",
        "q108_bloom_decontaminate",
        "q130_png_codec_roundtrip",
        "q40_cosine_topk",
    )

    def _shard(self, i: int, n_docs: int) -> str:
        return ensure_replica(
            os.path.join(self.cache, f"corpus-n{n_docs}-seed{self.seed}", f"shard{i}"),
            lambda d: inputs.shard(d, self.seed, i, n_docs),
        )

    def prepare(self) -> None:
        self._warm = self._shard(0, self.WARM_DOCS)
        self._shards = [self._shard(i, self.DOCS) for i in range(1, self.n_passes + 1)]
        self.curated_dir = os.path.join(self.cache, "curated-out")

    def warm_input(self) -> Input:
        return Input("warm", self._warm)

    def pass_input(self, i: int) -> Input:
        return Input(f"shard{i + 1}", self._shards[i])

    def ops(self, queries: dict) -> list[Op]:
        return super().ops(queries) + [Op("curate", "pipeline", "curate")]

    def run(self, op: Op, spark, queries: dict, inp: Input, clock):
        if op.kind != "curate":
            return super().run(op, spark, queries, inp, clock)
        from mapreduce_framework_simple_spark import pipeline

        shutil.rmtree(self.curated_dir, ignore_errors=True)
        clock("exec")
        report = pipeline.curate(spark, inp.path, self.curated_dir)
        return report, 0.0, clock(None)

    def _compute_expected(self, op: Op, inp: Input):
        if op.name == "curate":
            return self._curate_counts(inp)
        return super()._compute_expected(op, inp)

    def _curate_counts(self, inp: Input) -> dict:
        """The audit's stage counts recomputed in DuckDB from the oracle
        SQL of the stages' own queries (q98 gate, q35 hash, q79
        components) and the pipeline's contamination rule."""
        from __spark_entry__ import oracle_sql

        from mapreduce_framework_simple_spark.operators.dedup import DUCK_NORM
        from mapreduce_framework_simple_spark.pipeline import CONTAMINATION_MAX

        con, orc = self._duckdb(inp), oracle_sql()
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        con.execute(f"CREATE OR REPLACE TEMP TABLE gate AS {orc['q98_gopher_rules']}")
        con.execute(
            "CREATE OR REPLACE TEMP TABLE exact_docs AS SELECT d.* FROM documents d "
            "JOIN (SELECT min(d.doc_id) AS doc_id FROM documents d JOIN gate g "
            f"ON d.doc_id = g.doc_id AND g.keep GROUP BY md5({DUCK_NORM})) k "
            "ON d.doc_id = k.doc_id"
        )
        comp = orc["q79_dedup_components"].replace("FROM documents", "FROM exact_docs")
        con.execute(
            "CREATE OR REPLACE TEMP TABLE neardup_free AS SELECT * FROM exact_docs "
            f"WHERE doc_id NOT IN (SELECT doc_id FROM ({comp}) WHERE doc_id <> component)"
        )
        shingles = (
            "SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN "
            "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] "
            "|| ' ' || toks[i+2]) ELSE [] END) AS shingle FROM (SELECT doc_id, "
            "list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+'), "
            "t -> t <> '') AS toks FROM {src})"
        )
        exp = {
            "n_total": one("SELECT count(*) FROM documents"),
            "n_after_quality": one("SELECT count(*) FROM gate WHERE keep"),
            "n_after_exact_dedup": one("SELECT count(*) FROM exact_docs"),
            "n_after_neardup": one("SELECT count(*) FROM neardup_free"),
            "dropped_contaminated": one(
                f"WITH probe AS (SELECT DISTINCT shingle FROM ({shingles.format(src='documents')}) "
                "WHERE doc_id % 97 = 0), s AS ("
                f"{shingles.format(src='neardup_free')}) SELECT count(*) FROM ("
                "SELECT s.doc_id FROM s LEFT JOIN probe p ON s.shingle = p.shingle "
                f"GROUP BY s.doc_id HAVING count(p.shingle) / count(*) > {CONTAMINATION_MAX})"
            ),
        }
        exp["n_curated"] = exp["n_after_neardup"] - exp["dropped_contaminated"]
        return exp

    def check(self, op: Op, inp: Input, result) -> list[str]:
        if op.name == "curate":
            import pyarrow.parquet as pq

            want = self.expected(op, inp)
            bad = [f"{k}: {result[k]} != {v}" for k, v in want.items() if result[k] != v]
            written = pq.read_table(self.curated_dir).num_rows
            if written != result["n_curated"]:
                bad.append(f"written rows {written} != n_curated {result['n_curated']}")
            return bad
        return super().check(op, inp, result)


# ---------------------------------------------------------------------------


def _is_prime(n: int) -> bool:
    if n < 2:
        return False
    return all(n % d for d in range(2, math.isqrt(n) + 1))


class MapReduceParity(Workload):
    """The reference's own ``map_reduce`` surface on seeded in-memory data
    (numbers, fixture texts, a prime range): RDD, cloudpickle and Python
    workers with a driver-side reduce, beside the registered DataFrame
    ports of the same examples."""

    name = "mapreduce_parity"
    PASSES = 6
    query_names = ("q60_mapreduce_basic", "q61_prime_sum")
    JOBS = ("mr_average", "mr_word_count", "mr_prime_sum")
    CHUNKS = 4
    LINES = 400  # fixture document texts per word count
    PRIME_SPAN = 30_000

    def _data(self, i: int) -> dict:
        rng = np.random.default_rng([self.seed, 4, i])
        lo = 1_000_001 + int(rng.integers(0, 10**6))  # q61's range, shifted
        return {
            # t/01_basic.t: 4 chunks x 1000 numbers (integers: exact sums)
            "numbers": [rng.integers(0, 1000, 1000).tolist() for _ in range(self.CHUNKS)],
            "lines": inputs.lines(self.seed, i, self.LINES),
            "primes": (lo, lo + self.PRIME_SPAN),
        }

    def prepare(self) -> None:
        self._inputs = [Input(f"data{i}", data=self._data(i)) for i in range(self.n_passes + 1)]

    def warm_input(self) -> Input:
        return self._inputs[0]

    def pass_input(self, i: int) -> Input:
        return self._inputs[i + 1]

    def ops(self, queries: dict) -> list[Op]:
        return [Op(j, "operators.mapreduce", "mapreduce") for j in self.JOBS] + super().ops(queries)

    def run(self, op: Op, spark, queries: dict, inp: Input, clock):
        if op.kind != "mapreduce":
            return super().run(op, spark, queries, inp, clock)
        from mapreduce_framework_simple_spark.operators import mapreduce

        d, spans = inp.data, {}
        mapper, reducer = _JOBS[op.name](spans)
        clock("exec")
        if op.name == "mr_average":
            res = mapreduce.map_reduce(d["numbers"], mapper, reducer, self.CHUNKS,
                                       spark=spark, pre_chunked=True)
        elif op.name == "mr_word_count":
            res = mapreduce.map_reduce(d["lines"], mapper, reducer, self.CHUNKS,
                                       spark=spark, method="volume_uniform")
        else:
            res = mapreduce.MapReduceEngine(spark).map_reduce_iter(
                range(*d["primes"]), mapper, reducer, num_partitions=self.CHUNKS)
        t = clock(None)
        return (res, spans), 0.0, t

    def _compute_expected(self, op: Op, inp: Input):
        d = inp.data
        if op.name == "mr_average":
            flat = [x for c in d["numbers"] for x in c]
            return {"sum": sum(flat), "num": len(flat)}
        if op.name == "mr_word_count":
            return dict(Counter(w for line in d["lines"] for w in line.split()))
        if op.name == "mr_prime_sum":
            return sum(n for n in range(*d["primes"]) if _is_prime(n))
        return super()._compute_expected(op, inp)

    def check(self, op: Op, inp: Input, result) -> list[str]:
        if op.kind != "mapreduce":
            return super().check(op, inp, result)
        got, want = result[0], self.expected(op, inp)
        if op.name == "mr_average":
            got = {k: got[k] for k in ("sum", "num")}
            if got["sum"] / got["num"] != want["sum"] / want["num"]:
                return [f"avg {got} != {want}"]
        return [] if got == want else [f"{op.name}: {got!r:.200} != {want!r:.200}"]


def _timed(fn, spans: dict, key: str):
    """Wrap a reducer so the driver-side reduce time lands in ``spans``."""
    import time

    def run(x):
        t0 = time.perf_counter()
        try:
            return fn(x)
        finally:
            spans[key] = time.perf_counter() - t0

    return run


def _job_average(spans: dict):
    # mappers are nested functions so cloudpickle ships them by value:
    # executors do not have the benchmark's directory on their path
    def mapper(chunk):
        import time

        t0 = time.perf_counter()
        out = {"sum": sum(chunk), "num": len(chunk)}
        return out, time.perf_counter() - t0

    def reducer(mapped):
        spans["mapper_s"] = max((m[1] for m in mapped), default=0.0)
        s, n = sum(m[0]["sum"] for m in mapped), sum(m[0]["num"] for m in mapped)
        return {"sum": s, "num": n, "avg": s / n if n else 0.0}

    return mapper, _timed(reducer, spans, "reduce_s")


def _job_word_count(spans: dict):
    def mapper(chunk):
        import time
        from collections import Counter

        t0 = time.perf_counter()
        out = Counter(w for line in chunk for w in line.split())
        return dict(out), time.perf_counter() - t0

    def reducer(mapped):
        from collections import Counter

        spans["mapper_s"] = max((m[1] for m in mapped), default=0.0)
        total = Counter()
        for m, _ in mapped:
            total.update(m)
        return dict(total)

    return mapper, _timed(reducer, spans, "reduce_s")


def _job_prime_sum(spans: dict):
    def mapper(part):
        import math
        import time

        t0 = time.perf_counter()
        s = sum(n for n in part if n > 1 and all(n % d for d in range(2, math.isqrt(n) + 1)))
        return s, time.perf_counter() - t0

    def reducer(mapped):
        spans["mapper_s"] = max((m[1] for m in mapped), default=0.0)
        return sum(m[0] for m in mapped)

    return mapper, _timed(reducer, spans, "reduce_s")


_JOBS = {"mr_average": _job_average, "mr_word_count": _job_word_count,
         "mr_prime_sum": _job_prime_sum}

WORKLOADS = {w.name: w for w in (SqlAnalytics, LlmCuration, MapReduceParity)}
