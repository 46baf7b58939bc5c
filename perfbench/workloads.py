"""The benchmark's workloads: whole engine pipelines, run through the
public functions a user calls (``plans.registry.queries()``,
``operators.*``, ``sources.sinks.*``).

Each workload is a closed loop with one client thread: the next
operation starts when the previous one has returned. A workload is a
list of passes; :func:`plan_passes` derives every pass's operations
from the seed alone, so the same seed replays the same sequence.
"""

from __future__ import annotations

import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np

from perfbench.oracle import Expected, Oracle, mismatch, summarize

TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    tables: tuple[str, ...]
    # registry query the set-up runs cold, as the JVM's first query
    warm_query: str
    # registry queries whose oracle results the passes are checked against
    oracle_queries: tuple[str, ...]
    # untimed passes before the timed ones: pass times keep falling for a
    # few passes (JIT compilation of the planner and operator code); this
    # is the measured count after which they stop falling
    warm_passes: int = 2


QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_rank_orders",
    "company_issue_summary",
    "export_envelope",
)
EXPORT_QUERY = "flagship_roles_resolved"
EXPORT_KEY = "company_id"
# per keyed_export pass: one full tree write, then update batches and
# point reads in seeded order
UPDATE_BATCHES = 1
UPDATE_SHARE = 0.10
POINT_READS = 2

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "query_mix",
            0.01,
            TPCH,
            "q1_pricing_summary",
            QUERY_MIX,
        ),
        Workload(
            "keyed_export",
            0.0005,
            ("customer", "orders"),
            EXPORT_QUERY,
            (EXPORT_QUERY,),
            warm_passes=1,
        ),
        Workload(
            "er_pipeline",
            0.01,
            ("customer", "nation"),
            "er_records",
            ("er_records", "er_links"),
        ),
        # 2,500 documents; at sf0.1 the DuckDB oracle's shingle self-join
        # alone takes ~19 s and ~5 GB, more than a run can spend
        Workload(
            "corpus_curation",
            0.05,
            ("documents",),
            "training_shards",
            ("training_shards", "corpus_curation"),
        ),
    )
}


@dataclass(frozen=True)
class OpSpec:
    """One operation of a pass: ``kind`` is what the latency is filed
    under (query, write, read or pipeline), ``arg`` its parameter."""

    op_id: str
    kind: str
    arg: tuple = ()


def plan_passes(workload: str, seed: int, n_passes: int, keys=()) -> list[list[OpSpec]]:
    """The first ``n_passes`` passes of a workload for ``seed``.

    ``keys`` are the keyed_export tree's keys in sorted order (they
    come from the generated inputs); the other workloads ignore them.
    """
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    passes = []
    for _ in range(n_passes):
        if workload == "query_mix":
            order = rng.permutation(len(QUERY_MIX))
            ops = [OpSpec(QUERY_MIX[i], "query", (QUERY_MIX[i],)) for i in order]
        elif workload == "keyed_export":
            keys = sorted(keys)
            size = max(1, round(UPDATE_SHARE * len(keys)))
            tail = [
                OpSpec(
                    f"update{b}",
                    "write",
                    tuple(int(k) for k in sorted(rng.choice(keys, size, replace=False))),
                )
                for b in range(UPDATE_BATCHES)
            ] + [
                OpSpec(f"read{r}", "read", (int(rng.choice(keys)),))
                for r in range(POINT_READS)
            ]
            ops = [OpSpec("full_write", "write", ())] + [
                tail[i] for i in rng.permutation(len(tail))
            ]
        elif workload == "er_pipeline":
            ops = [OpSpec("er_links_export", "pipeline")]
        elif workload == "corpus_curation":
            ops = [OpSpec("curation_export", "pipeline")]
        else:
            raise ValueError(f"unknown workload {workload!r}")
        passes.append(ops)
    return passes


@dataclass
class OpResult:
    rows: int
    value: object


class Runner:
    """Executes one workload's operations against a live session.

    ``execute`` is what the benchmark times; ``check`` compares the
    outcome with the oracle and runs outside the timed region.
    """

    def __init__(self, workload: Workload, data_dir: str, out_dir: str, tracer):
        self.w = workload
        # a live session and the registry's query table, set by each set-up
        self.spark = None
        self.queries: dict = {}
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.expected: dict[str, Expected] = {}
        self.expected_by_key: dict[int, Expected] = {}

    # -- oracle ---------------------------------------------------------
    def load_expected(self, oracle, oracle_sql: dict[str, str]) -> None:
        for name in self.w.oracle_queries + (self.w.warm_query,):
            frame = oracle.frame(oracle_sql[name])
            self.expected[name] = summarize(frame)
            if name == EXPORT_QUERY:
                self.expected_by_key = {
                    int(k): summarize(g) for k, g in frame.groupby(EXPORT_KEY)
                }

    def keys(self) -> list[int]:
        return sorted(self.expected_by_key)

    # -- building blocks ------------------------------------------------
    def _build(self, name: str):
        with self.tracer.span(name, "plans"):
            return self.queries[name](self.spark, self.data_dir)

    def _collect(self, df):
        with self.tracer.span("exec.action", "exec") as s:
            pdf = df.toPandas()
            if s is not None:
                s.attrs["catalyst_ms"] = catalyst_ms(df)
        return pdf

    def _parquet_write(self, df, path: str, partition_by=None) -> None:
        from pac_spark.sources import sinks

        with self.tracer.span("sinks.parquet_write", "sinks"):
            sinks.parquet_write(df, path, partition_by=partition_by)

    def _parquet_read(self, path: str):
        with self.tracer.span("sinks.parquet_read", "sinks"):
            return self._collect(self.spark.read.parquet(path))

    @property
    def tree(self) -> str:
        return os.path.join(self.out_dir, "tree")

    # -- operations -----------------------------------------------------
    def warm(self) -> OpResult:
        pdf = self._collect(self._build(self.w.warm_query))
        return OpResult(len(pdf), pdf)

    def check_warm(self, res: OpResult) -> str | None:
        return mismatch(summarize(res.value), self.expected[self.w.warm_query])

    def execute(self, op: OpSpec) -> OpResult:
        # the root span of the operation: its op id tags every span inside
        with self.tracer.span(op.op_id, "op", op_id=op.op_id):
            return self._execute(op)

    def _execute(self, op: OpSpec) -> OpResult:
        if op.kind == "query":
            pdf = self._collect(self._build(op.arg[0]))
            return OpResult(len(pdf), pdf)
        if op.kind == "write":
            from pac_spark.sources import sinks
            from pyspark.sql import functions as F

            df = self._build(EXPORT_QUERY)
            if op.arg:
                df = df.filter(F.col(EXPORT_KEY).isin(list(op.arg)))
            with self.tracer.span("sinks.json_tree_write", "sinks") as s:
                report = sinks.json_tree_write(self.spark, df, self.tree, EXPORT_KEY)
                if s is not None:
                    s.attrs["keys_written"] = report.keys_written
            return OpResult(report.rows_written, report)
        if op.kind == "read":
            from pac_spark.sources import sinks

            with self.tracer.span("sinks.json_tree_read", "sinks"):
                pdf = self._collect(sinks.json_tree_read(self.spark, self.tree, key=str(op.arg[0])))
            return OpResult(len(pdf), pdf)
        if self.w.name == "er_pipeline":
            path = os.path.join(self.out_dir, "er_links")
            self._parquet_write(self._build("er_links"), path)
            pdf = self._parquet_read(path)
            return OpResult(len(pdf), {"er_links": pdf})
        curated = os.path.join(self.out_dir, "curated")
        shards = os.path.join(self.out_dir, "shards")
        self._parquet_write(self._build("corpus_curation"), curated)
        self._parquet_write(self._build("training_shards"), shards, partition_by=["shard_id"])
        got = {"corpus_curation": self._parquet_read(curated)}
        got["training_shards"] = self._parquet_read(shards)
        return OpResult(sum(len(p) for p in got.values()), got)

    def check(self, op: OpSpec, res: OpResult) -> str | None:
        if op.kind == "query":
            return mismatch(summarize(res.value), self.expected[op.arg[0]])
        if op.kind == "write":
            report = res.value
            want = len(op.arg) if op.arg else len(self.expected_by_key)
            if not report.verified:
                return "write not verified by read-back"
            if (report.rows_written, report.keys_written) != (want, want):
                return f"wrote {report.rows_written} rows / {report.keys_written} keys, want {want}"
            return None
        if op.kind == "read":
            pdf = res.value.drop(columns=["__key"])
            return mismatch(summarize(pdf), self.expected_by_key[op.arg[0]])
        for name, pdf in res.value.items():
            err = mismatch(summarize(pdf), self.expected[name])
            if err:
                return f"{name}: {err}"
        return None

    @property
    def verifies_tree(self) -> bool:
        return self.w.name == "keyed_export"

    def verify_tree(self) -> str | None:
        """Read the whole keyed tree back after the last keyed_export
        pass: every key present once, every value equal to the oracle.
        The other workloads read their sink output back inside the
        operation."""
        from pac_spark.sources import sinks

        back = sinks.json_tree_read(self.spark, self.tree).toPandas()
        keys = sorted(int(k) for k in back["__key"])
        if keys != self.keys():
            return f"tree holds {len(keys)} keys, want {len(self.expected_by_key)}"
        return mismatch(summarize(back.drop(columns=["__key"])), self.expected[EXPORT_QUERY])

    def reset_outputs(self) -> None:
        """Every pass starts from empty sink outputs."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir, exist_ok=True)


def oracle_expected(workload: str, data_dir: str) -> tuple[dict, dict]:
    """A workload's expected results on ``data_dir``, from DuckDB: by
    query, and for the keyed export also by key."""
    from pac_spark.plans import registry

    runner = Runner(WORKLOADS[workload], data_dir, "", None)
    oracle = Oracle(data_dir)
    try:
        runner.load_expected(oracle, registry.oracle_sql())
    finally:
        oracle.close()
    return runner.expected, runner.expected_by_key


def catalyst_ms(df) -> dict[str, int]:
    """Catalyst phase durations of the query execution behind ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            out[phase] = summary.get().durationMs()
    return out


def disk_usage(path: str) -> tuple[int, int, int]:
    """(files, allocated bytes, data bytes) under ``path``; data bytes
    count only the ``part-`` files that hold rows."""
    files = allocated = data = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            st = os.stat(os.path.join(dirpath, name))
            files += 1
            allocated += st.st_blocks * 512
            if name.startswith("part-"):
                data += st.st_size
    return files, allocated, data
