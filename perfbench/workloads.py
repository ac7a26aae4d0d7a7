"""The workloads: what one operation does, its inputs, and how
its outputs are checked.

Each workload is a closed loop with one client: the next operation
starts when the previous one returns.  ``prepare`` makes the inputs
from the seed; ``op`` is one operation: the first ends set-up, the next
``run.SETTLE_OPS`` run untimed until the JVM has compiled its hot paths,
and the rest are timed; ``check`` runs outside the timed window and
returns the ids of operations whose output was wrong.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import os
import random
from collections import Counter

from . import catalogs, corpus, oracle_check, rule_oracle
from .tracing import Tracer

DB = "bench_db"


class AuditInteractive:
    """The reference's own use, as the CLI runs it with CSV export on:
    audit one small catalog, print the report, write the CSV."""

    name = "audit_interactive"
    # Tables per catalog, cycled: every run sees the same sizes in the
    # same order, so runs with different seeds do the same work.
    sizes = (4, 20, 12, 36, 8, 28, 16, 32, 24)
    pool = 36  # distinct catalogs per run, cycled

    def __init__(self, seed: int, tracer: Tracer):
        self.seed, self.tracer = seed, tracer
        self.outputs: dict[str, tuple[int, str, str, str]] = {}
        self.kinds: dict[str, str] = {}

    def prepare(self, work_dir: str) -> None:
        self.work_dir = work_dir
        rng = random.Random(self.seed)
        self.catalogs = [
            catalogs.generate(rng.getrandbits(32), self.sizes[k % len(self.sizes)], db=DB)
            for k in range(self.pool)
        ]

    def op(self, spark, op_id: str, i: int) -> None:
        from rdbms_metadata_manager_spark.catalog.fixtures import _local_df
        from rdbms_metadata_manager_spark.catalog.schemas import (
            COLUMNS_META_SCHEMA, FOREIGN_KEYS_META_SCHEMA, INDEXES_META_SCHEMA)
        from rdbms_metadata_manager_spark.rules import detect_schema_flaws
        from rdbms_metadata_manager_spark.sinks import print_report, write_csv

        self.kinds[op_id] = "audit"
        k = i % self.pool
        cols, idx, fks = self.catalogs[k]
        t = self.tracer
        with t.span(op_id, "catalog"):
            frames = (_local_df(spark, cols, COLUMNS_META_SCHEMA),
                      _local_df(spark, idx, INDEXES_META_SCHEMA),
                      _local_df(spark, fks, FOREIGN_KEYS_META_SCHEMA))
        with t.span(op_id, "rules"):
            issues = detect_schema_flaws(*frames)
        buf = io.StringIO()
        with t.span(op_id, "sinks.report"), contextlib.redirect_stdout(buf):
            text = print_report(issues, DB)
        csv_dir = os.path.join(self.work_dir, "exports", f"{op_id}.csv")
        with t.span(op_id, "sinks.csv"):
            write_csv(issues, csv_dir)
        self.outputs[op_id] = (k, text, buf.getvalue(), csv_dir)

    def columns(self, op_id: str) -> int:
        return len(self.catalogs[self.outputs[op_id][0]][0])

    def csv_bytes(self, op_id: str) -> int:
        return sum(os.path.getsize(p) for p in _parts(self.outputs[op_id][3]))

    def check(self, spark, op_ids) -> list[str]:
        """The report text, returned and printed, and the CSV rows as a
        multiset, against the rule oracle."""
        bad = []
        for op_id in op_ids:
            k, text, printed, csv_dir = self.outputs[op_id]
            issues = rule_oracle.detect(*self.catalogs[k])
            want = rule_oracle.report_text(issues, DB)
            if (text != want or printed != want + "\n"
                    or _csv_rows(csv_dir) != Counter(rule_oracle.csv_rows(issues))):
                bad.append(op_id)
        return bad


def _parts(csv_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(csv_dir, "part-*")))


def _csv_rows(csv_dir: str) -> Counter | None:
    """Rows of a Spark CSV export as a multiset; ``None`` when a part
    file lacks the reference's header."""
    rows: Counter = Counter()
    for path in _parts(csv_dir):
        with open(path, newline="", encoding="utf-8") as f:
            reader = csv.reader(f)
            if tuple(next(reader, ())) != rule_oracle.CSV_HEADER:
                return None
            rows.update(tuple(r) for r in reader)
    return rows


# The analytics sample: HEADLINE queries of bench.py that have an oracle,
# one from the queries/ package and one from llm/.  Fixed so that runs
# with different seeds run the same mix; the seed drives the data and the
# order of the queries within a pass.  Two queries keep a run inside the
# benchmark's time budget; between them they cover an eager kernel (jobs
# at build time), a memoised model (an IVF codebook trained on first use),
# broadcast and shuffle exchanges, and task CPU.
ANALYTICS_SAMPLE = {
    "queries": ["exact_median_two_pass"],
    "llm": ["similarity_ivf_search"],
}


class AnalyticsMix:
    """Registered queries from the 389-query engine at sf0.1, noop sink.
    One operation is one pass over the sample, so its latency follows
    every query's typical run rather than the gap between them."""

    name = "analytics_mix"
    sf = 0.1

    def __init__(self, seed: int, tracer: Tracer):
        self.seed, self.tracer = seed, tracer
        self.pkg = {n: pkg for pkg, names in ANALYTICS_SAMPLE.items() for n in names}
        self.order = sorted(self.pkg)
        random.Random(seed).shuffle(self.order)
        self.kinds: dict[str, str] = {}

    def load_registry(self) -> None:
        from rdbms_metadata_manager_spark.registry import all_oracles, all_queries

        self.queries, self.oracles = all_queries(), all_oracles()

    def prepare(self, work_dir: str) -> None:
        self.sf_dir = os.path.join(work_dir, "sf")
        corpus.generate(self.sf_dir, self.seed, self.sf)

    def op(self, spark, op_id: str, i: int) -> None:
        self.kinds[op_id] = "pass"
        for name in self.order:
            pkg = self.pkg[name]
            with self.tracer.span(op_id, f"{pkg}.build"):
                df = self.queries[name](spark, self.sf_dir)
            with self.tracer.span(op_id, f"{pkg}.exec"):
                df.write.mode("overwrite").format("noop").save()

    def columns(self, op_id: str) -> int:
        return 0

    def csv_bytes(self, op_id: str) -> int:
        return 0

    def check(self, spark, op_ids) -> list[str]:
        """Check each query of the sample once against its DuckDB oracle;
        if one mismatches, every measured pass fails."""
        bad = False
        for name in self.order:
            reason = oracle_check.mismatch(self.queries[name](spark, self.sf_dir),
                                           self.oracles[name], self.sf_dir)
            if reason is not None:
                print(f"oracle mismatch: {name}: {reason}")
                bad = True
        return list(op_ids) if bad else []


WORKLOADS = {w.name: w for w in (AuditInteractive, AnalyticsMix)}
