"""The three benchmark workloads.

Each workload has one client running a closed loop of one kind of op in
one process.  A workload stages its seeded inputs, optionally prepares its
oracle (excluded from set-up time), runs ops, checks each op's output
outside the timed region, and turns the spans of a traced op into the
per-layer metrics of its layers.
"""

from __future__ import annotations

import os
import sys
from contextlib import nullcontext
from time import perf_counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import dask_patternsearch_spark as dps
from dask_patternsearch_spark.operators import dedup
from dask_patternsearch_spark.queries import all_oracles, all_queries
from dask_patternsearch_spark.sources import io as sources_io

from . import inputs, objective
from .trace import JobCounter, duration, self_time, total

# the package re-exports ``search`` the function under the submodule's name
search_mod = sys.modules["dask_patternsearch_spark.search"]

# the corpus-query mix, in pass order, with each query's layer family
QUERY_MIX = {
    "minhash_near_dups": "operators.dedup",
    "cosine_topk": "operators.similarity",
    "tfidf_top_terms": "operators.text",
    "quality_scores": "operators.text",
    "q1_pricing_summary": "queries.relational",
    "q21_blamed_supplier": "queries.relational",
}
FAMILIES = ("operators.dedup", "operators.similarity", "operators.text",
            "queries.relational")


def layer_metric_names() -> list[str]:
    """Every per-layer metric, in report order.  Each workload prints all
    of them; a layer the workload bypasses reads 0."""
    names = ["session.start_s", "session.warm_s", "inputs.gen_s",
             "session.jvm_hwm_mb",
             "search.rounds", "search.evals", "search.jobs",
             "search.accept_frac", "search.driver_self_s",
             "evaluator.calls", "evaluator.busy_s", "evaluator.round_s",
             "evaluator.evals_per_s", "evaluator.parallel_eff"]
    for q in QUERY_MIX:
        names += [f"query.{q}.s", f"query.{q}.jobs"]
    names += [f"{f}.s" for f in FAMILIES]
    names += ["sources.scan_s",
              "ingest.batch_s", "ingest.jobs", "ingest.compact_s",
              "ingest.compactions", "ingest.read_s",
              "state.bytes_per_doc", "state.write_amp", "state.files",
              "host.steal_pct", "host.loadavg",
              "trace.overhead_s", "trace.ops", "trace.counts_repeat"]
    return names


LAYER_UNITS = {
    "session.jvm_hwm_mb": "MB", "host.steal_pct": "%", "host.loadavg": "procs",
    "search.accept_frac": "ratio", "evaluator.parallel_eff": "ratio",
    "evaluator.evals_per_s": "1/s", "state.bytes_per_doc": "B",
    "state.write_amp": "ratio", "trace.counts_repeat": "bool",
}


def layer_unit(name: str) -> str:
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    return "s" if name.endswith("_s") or name.endswith(".s") else "count"


class Workload:
    name = ""
    unit = ""           # what one completed unit of work is
    throughput = ""     # the workload's own throughput metric, as named
    per_seconds = 60.0  # ... and its time base
    warmup_ops = 1      # untimed ops at the end of set-up

    def __init__(self, spark, seed: int, run_dir: str, cores: int,
                 seconds: float):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.cores = cores
        self.seconds = seconds
        self.data_dir = os.path.join(run_dir, "data")
        self.tracer = None
        self._job_counter = JobCounter(spark)

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext({})

    def _jobs(self):
        return self._job_counter.group() if self.tracer else nullcontext({})

    def stage(self) -> None:
        """Generate and write the seeded inputs (part of set-up)."""

    def oracle(self) -> None:
        """Prepare reference answers (excluded from set-up time)."""

    def bootstrap(self) -> None:
        """State the ops need before the first one (part of set-up)."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        raise NotImplementedError

    def units(self, out) -> int:
        raise NotImplementedError

    def full_check(self) -> bool:
        """A full comparison with the oracle, run once after the first
        warm-up op (untimed; excluded from set-up time like the oracle)."""
        return True

    def final_check(self) -> bool:
        """A check of the state the ops left behind, after the window."""
        return True

    def max_ops(self) -> int | None:
        return None

    def report(self) -> list[str]:
        """Extra lines for the readable report."""
        return []

    def scan(self, tracer) -> None:
        """Traced run only: ``read_table(...).count()`` of each input."""

    def install(self, tracer) -> None:
        """Record spans from now on: wrap the layer boundaries the
        workload crosses."""
        self.tracer = tracer

    def uninstall(self) -> None:
        self.tracer.restore()
        self.tracer = None

    def layer_metrics(self, tracer, op_id: int, out) -> dict:
        return {}

    def exact_counts(self, metrics: dict) -> dict:
        """The per-op counts that must repeat exactly for one seed."""
        return {}


# ---- search_portfolio -------------------------------------------------------

class SearchPortfolio(Workload):
    """One ``search_multi_start`` portfolio of ``cores`` seeded starts on the
    Spark evaluator (default ``pipeline_depth``).  The seed places the
    argmin; each start sits at a fixed offset from it, so every seed runs
    the same search trace and costs the same rounds."""

    name = "search_portfolio"
    unit = "converged starts"
    throughput = "solves_per_min"
    STEPSIZE = 1.0
    STOPRATIO = 0.25
    SEARCH_SEED = 7

    def stage(self) -> None:
        rng = np.random.default_rng([self.seed, 0])
        self.center = rng.integers(-50, 51, objective.DIMS).astype(float)
        # two coordinates off by one or two steps: 5-7 poll rounds a start
        offsets = np.random.default_rng(20211)
        self.x0s = []
        for _ in range(self.cores):
            d = np.zeros(objective.DIMS)
            idx = offsets.choice(objective.DIMS, 2, replace=False)
            d[idx] = offsets.choice([-2.0, -1.0, 1.0, 2.0], 2)
            self.x0s.append(self.center + d)
        # single-thread cost of one evaluation, for evaluator.parallel_eff
        pts = np.tile(self.center, (64, 1))
        t = perf_counter()
        objective.shifted_quadratic(pts, self.center)
        self.eval_cost_s = (perf_counter() - t) / len(pts)

    def op(self, i: int):
        # looked up at call time, so the traced run sees the wrapper
        return dps.search_multi_start(
            objective.shifted_quadratic, self.x0s,
            np.full(objective.DIMS, self.STEPSIZE), self.spark,
            args=(self.center,), vectorize=True, seed=self.SEARCH_SEED,
            stopratio=self.STOPRATIO, max_workers=self.cores,
        )

    def _converged(self, run) -> bool:
        best, results = run
        tol = 2 * self.STOPRATIO * self.STEPSIZE
        return (bool(np.all(np.abs(best.point - self.center) <= tol))
                and best.result == min(results.values()))

    def check(self, i: int, out) -> bool:
        global_best, runs = out
        return (len(runs) == len(self.x0s)
                and all(self._converged(r) for r in runs)
                and global_best.result == min(r[0].result for r in runs))

    def units(self, out) -> int:
        return sum(self._converged(r) for r in out[1])

    def install(self, tracer) -> None:
        super().install(tracer)
        tracer.wrap(dps, "search_multi_start", "search_multi_start")
        # search_multi_start resolves ``search`` from its module globals
        tracer.wrap(search_mod, "search", "search")
        tracer.wrap(search_mod.SparkEvaluator, "evaluate", "evaluate")

    def layer_metrics(self, tracer, op_id: int, out) -> dict:
        spans = tracer.of_op(op_id)
        runs = out[1]
        evals = sum(len(r[1]) for r in runs)
        calls = [s for s in spans if s["name"] == "evaluate"]
        busy = sum(duration(s) for s in calls)
        accepted = sum(tp.is_accepted for r in runs for tp in r[1])
        return {
            "search.rounds": sum(r[1].rounds for r in runs),
            "search.evals": evals,
            "search.jobs": sum(r[1].jobs for r in runs),
            "search.accept_frac": accepted / evals,
            "search.driver_self_s": sum(
                self_time(s, spans) for s in spans if s["name"] == "search"),
            "evaluator.calls": len(calls),
            "evaluator.busy_s": busy,
            "evaluator.round_s": busy / len(calls),
            "evaluator.evals_per_s": evals / busy,
            "evaluator.parallel_eff":
                evals * self.eval_cost_s
                / (busy * self.spark.sparkContext.defaultParallelism),
        }

    def exact_counts(self, m: dict) -> dict:
        return {k: m[k] for k in ("search.rounds", "search.evals",
                                  "search.jobs", "evaluator.calls")}


# ---- corpus_query -----------------------------------------------------------

def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(got, want) -> bool:
    """Row count, column names and every value (order-insensitive)."""
    import pandas as pd

    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    try:
        pd.testing.assert_frame_equal(_normalize(got), _normalize(want),
                                      check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def _duckdb_with_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


class CorpusQuery(Workload):
    """One pass, in fixed order, over a read-only mix of registry queries,
    each materialized by ``count()``."""

    name = "corpus_query"
    unit = "queries"
    throughput = "queries_per_min"
    # pass time keeps falling over the first passes of a fresh JVM
    # (measured: 18.7 s, then 6.4, 5.8, 4.8, 4.9, 5.0 s); set-up runs two
    # passes, with the full oracle comparison (which runs every query of
    # the mix once more) between them
    warmup_ops = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        registry = all_queries()
        self.fns = {q: registry[q] for q in QUERY_MIX}
        self.query_s: dict[str, list[float]] = {q: [] for q in QUERY_MIX}

    def stage(self) -> None:
        self.rows = inputs.write_query_inputs(self.seed, self.data_dir)

    def oracle(self) -> None:
        sqls = all_oracles()
        with _duckdb_with_views(self.data_dir, self.rows) as con:
            self.want = {q: con.sql(sqls[q]).df() for q in QUERY_MIX}

    def op(self, i: int) -> dict:
        out = {}
        for q, fn in self.fns.items():
            t = perf_counter()
            with self._span(f"query.{q}") as rec, self._jobs() as g:
                with self._span(f"build.{q}"):
                    df = fn(self.spark, self.data_dir)
                with self._span(f"count.{q}"):
                    out[q] = df.count()
            rec["jobs"] = g.get("jobs")
            self.query_s[q].append(perf_counter() - t)
        return out

    def check(self, i: int, out) -> bool:
        return all(out[q] == len(self.want[q]) for q in QUERY_MIX)

    def units(self, out) -> int:
        return len(out)

    def report(self) -> list[str]:
        return [f"{q}: " + ", ".join(f"{t:.3f}" for t in ts)
                for q, ts in self.query_s.items()]

    def full_check(self) -> bool:
        """Each result compared in full with its DuckDB oracle."""
        return all(
            frames_equal(fn(self.spark, self.data_dir).toPandas(), self.want[q])
            for q, fn in self.fns.items())

    def scan(self, tracer) -> None:
        for t in sorted(self.rows):
            with tracer.span("sources.read_table"):
                sources_io.read_table(
                    self.spark, os.path.join(self.data_dir, f"{t}.parquet")).count()

    def layer_metrics(self, tracer, op_id: int, out) -> dict:
        spans = tracer.of_op(op_id)
        m = {f"{f}.s": 0.0 for f in FAMILIES}
        for s in spans:
            if s["name"].startswith("query."):
                q = s["name"][len("query."):]
                m[f"query.{q}.s"] = duration(s)
                m[f"query.{q}.jobs"] = s["jobs"]
                m[f"{QUERY_MIX[q]}.s"] += duration(s)
        return m

    def exact_counts(self, m: dict) -> dict:
        return {f"query.{q}.jobs": m[f"query.{q}.jobs"] for q in QUERY_MIX}


# ---- corpus_ingest ----------------------------------------------------------

def _union_find_keepers(docs: pa.Table, pairs) -> list[tuple]:
    """From-scratch keepers over ``docs``: connected components of the
    candidate pairs (cluster = min doc_id), keeper = highest ``n_chars``
    with ties to the lowest doc_id."""
    ids = docs.column("doc_id").to_pylist()
    quality = dict(zip(ids, docs.column("n_chars").to_pylist()))
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for d in ids:
        clusters.setdefault(find(d), []).append(d)
    out = []
    for members in clusters.values():
        kept = max(members, key=lambda d: (quality[d], -d))
        out.append((min(members), kept, quality[kept], len(members)))
    return sorted(out)


class CorpusIngest(Workload):
    """Set-up bootstraps ``init_dedup_state`` over the base corpus; each op
    ingests the next fixed-size batch, runs the compaction trigger and
    counts the resolved keepers."""

    name = "corpus_ingest"
    unit = "docs"
    throughput = "docs_per_s"
    per_seconds = 1.0
    # compact once a third of a delta log is superseded rows; the template
    # feed crosses that on every batch, so every op does the same work
    GAP_RATIO = 1.5

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # enough batches for one op every two seconds, plus the warm-up
        self.n_batches = 2 + int(self.seconds // 2)
        self.state_dir = os.path.join(self.run_dir, "state")
        self.keeper_counts: dict[int, int] = {}
        self._op_state: dict[int, tuple] = {}

    def stage(self) -> None:
        base, batches = inputs.ingest_corpus(self.seed, self.n_batches)
        self.base, self.batches = base, batches
        os.makedirs(self.data_dir, exist_ok=True)
        self.base_path = os.path.join(self.data_dir, "base.parquet")
        pq.write_table(base, self.base_path)
        self.batch_paths = []
        for i, b in enumerate(batches):
            path = os.path.join(self.data_dir, f"batch-{i:03d}.parquet")
            pq.write_table(b, path)
            self.batch_paths.append(path)

    def oracle(self) -> None:
        """DuckDB's replay of the MinHash LSH candidates over the union
        corpus; pairs never depend on the rest of the corpus, so any
        prefix's pairs are the ones with both ends in it."""
        union = pa.concat_tables([self.base, *self.batches])
        path = os.path.join(self.data_dir, "union.parquet")
        pq.write_table(union, path)
        with _duckdb_with_views(self.data_dir, []) as con:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            pairs = con.sql(all_oracles()["minhash_near_dups"]).fetchall()
        self.pairs = [(int(a), int(b)) for a, b, _est in pairs]

    def _prefix(self, n_batches: int) -> tuple[pa.Table, list]:
        docs = pa.concat_tables([self.base, *self.batches[:n_batches]])
        hi = docs.num_rows  # doc ids are 0..n-1 in corpus order
        return docs, [(a, b) for a, b in self.pairs if a < hi and b < hi]

    def bootstrap(self) -> None:
        dedup.init_dedup_state(self.spark.read.parquet(self.base_path),
                               self.state_dir)

    def max_ops(self) -> int:
        return len(self.batch_paths)

    def op(self, i: int) -> int:
        before = _dir_stats(self.state_dir) if self.tracer else None
        new = self.spark.read.parquet(self.batch_paths[i])
        with self._jobs() as g:
            dedup.ingest_batch(new, self.state_dir)
        dedup.maybe_compact_dedup_state(self.spark, self.state_dir,
                                        gap_ratio=self.GAP_RATIO, min_log_rows=0)
        with self._span("resolved_read"):
            _labels, keepers = dedup.load_cluster_state(self.spark, self.state_dir)
            n = keepers.count()
        if self.tracer:
            self._op_state[i] = (g["jobs"], before, _dir_stats(self.state_dir))
        return n

    def check(self, i: int, out) -> bool:
        self.keeper_counts[i] = out
        return out == len(_union_find_keepers(*self._prefix(i + 1)))

    def units(self, out) -> int:
        return inputs.INGEST_BATCH_DOCS

    def final_check(self) -> bool:
        """Resolved keepers equal a from-scratch build over the union of
        the base corpus and every ingested batch."""
        n = len(self.keeper_counts)
        _labels, keepers = dedup.load_cluster_state(self.spark, self.state_dir)
        got = sorted((r["cluster"], r["kept_doc_id"], r["kept_quality"],
                      r["cluster_size"]) for r in keepers.collect())
        return got == _union_find_keepers(*self._prefix(n))

    def scan(self, tracer) -> None:
        for path in [self.base_path, *self.batch_paths]:
            with tracer.span("sources.read_table"):
                sources_io.read_table(self.spark, path).count()

    def install(self, tracer) -> None:
        super().install(tracer)
        tracer.wrap(dedup, "ingest_batch", "ingest_batch")
        tracer.wrap(dedup, "maybe_compact_dedup_state", "maybe_compact")
        tracer.wrap(dedup, "compact_dedup_state", "compact")
        tracer.wrap(dedup, "load_cluster_state", "load_cluster_state")

    def layer_metrics(self, tracer, op_id: int, out) -> dict:
        spans = tracer.of_op(op_id)
        jobs, (bytes0, _f0), (bytes1, files1) = self._op_state[op_id]
        docs = self.base.num_rows + inputs.INGEST_BATCH_DOCS * (op_id + 1)
        batch = total(spans, "ingest_batch")
        compact = total(spans, "maybe_compact")
        read = total(spans, "resolved_read")
        return {
            "ingest.batch_s": batch,
            "ingest.jobs": jobs,
            "ingest.compact_s": compact,
            "ingest.compactions": sum(s["name"] == "compact" for s in spans),
            "ingest.read_s": read,
            "state.bytes_per_doc": bytes1 / docs,
            "state.write_amp":
                (bytes1 - bytes0) / os.path.getsize(self.batch_paths[op_id]),
            "state.files": files1,
            "operators.dedup.s": batch + compact + read,
        }

    def exact_counts(self, m: dict) -> dict:
        return {k: m[k] for k in ("ingest.jobs", "ingest.compactions")}


def _dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
            except FileNotFoundError:  # a compaction swap in flight
                continue
            files += 1
    return size, files


WORKLOADS = {w.name: w for w in (SearchPortfolio, CorpusQuery, CorpusIngest)}
