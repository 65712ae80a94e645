"""The graph pass of `refresh_batch`: the iterative graph operators.

A pass runs two catalog entries, always in this order (an entry is
slower when it comes first, so a drawn order would add its own spread):
`doc_dedup_tiers` (`tiered_dedup`, whose near-duplicate tier runs
`connected_components_star`) and `emb_knn_pagerank` (`knn_graph_int` →
`pagerank_int`), each through the catalog's own function, so with the
catalog's constants.  Each entry is timed in two phases: the build,
which calls the operators (they iterate on the driver and run their own
jobs until they converge), and the execution, which collects the
result.
The inputs are the fixture tables as they are.

In a traced pass every operator call is a span of its own, so its build
time and its Spark jobs are read per operator.  The spans wrap the
operator functions where the catalog looks them up; the package itself
is not changed.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import traceback

import pyarrow.parquet as pq

from metrics_service_spark.catalog import all_queries
from metrics_service_spark.operators import closure, dedup, similarity
from metrics_service_spark.testing.oracle import run_oracle

import inputs
from canon import digest

ORACLE_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")
ENTRIES = ("doc_dedup_tiers", "emb_knn_pagerank")
TABLES = ("documents", "embeddings")
# (module, function): the span name is the module's layer and the function
OPERATORS = (
    (closure, "connected_components_star", "closure.connected_components_star"),
    (closure, "pagerank_int", "closure.pagerank_int"),
    (dedup, "tiered_dedup", "dedup.tiered_dedup"),
    (similarity, "knn_graph_int", "similarity.knn_graph_int"),
)
# per-layer metric: (entry, operator span) whose build time it sums
OPERATOR_METRICS = {
    "closure.pagerank_s": ("emb_knn_pagerank", "closure.pagerank_int"),
    "dedup.tiered_s": ("doc_dedup_tiers", "dedup.tiered_dedup"),
    "similarity.knn_s": ("emb_knn_pagerank", "similarity.knn_graph_int"),
}


def oracle_digests(data: str) -> dict[str, str]:
    """The digest of every entry's DuckDB oracle over `data`."""
    specs = all_queries()
    return {e: digest(*run_oracle(specs[e].oracle, data)) for e in ENTRIES}


def _traced(tracer, name: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call


class GraphPass:
    op_spans = tuple(f"graph.{e}" for e in ENTRIES)

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.data = inputs.GRAPH_DIR
        self.specs = all_queries()
        self.results: dict[str, str] = {}

    def size(self) -> tuple[int, int]:
        """Rows and bytes of the input tables."""
        rows = size = 0
        for t in TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            rows += pq.ParquetFile(path).metadata.num_rows
            size += os.path.getsize(path)
        return rows, size

    def install(self) -> None:
        """Wrap every operator in a span of its own."""
        for module, fn, name in OPERATORS:
            setattr(module, fn, _traced(self.tracer, name, getattr(module, fn)))

    def run(self) -> list[tuple[str, float, bool]]:
        tr = self.tracer
        ops = []
        for entry in ENTRIES:
            t0 = time.perf_counter()
            try:
                with tr.span(f"graph.{entry}"):
                    with tr.span("graph.build"):
                        df = self.specs[entry].fn(self.spark, self.data)
                    with tr.span("graph.execute"):
                        rows = [tuple(r) for r in df.collect()]
                self.results[entry] = digest(list(df.columns), rows)
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
            ops.append((f"graph.{entry}", time.perf_counter() - t0, ok))
        return ops

    def checks(self) -> list[tuple[str, bool]]:
        """The last pass's result of every entry, compared with the
        result of the entry's DuckDB oracle over the same fixture
        tables.  The oracles take about a minute in DuckDB, longer than
        a run may, so their results are recorded, as digests, by
        record_digests.py; the inputs are fixed, so they do not depend
        on the seed."""
        with open(ORACLE_DIGESTS) as fh:
            expected = json.load(fh)
        out = []
        for entry in ENTRIES:
            ok = entry in self.results and self.results[entry] == expected.get(entry)
            if not ok:
                print(f"{entry}: result differs from its oracle", file=sys.stderr)
            out.append((entry, ok))
        return out

    def layers(self, spans: list, cycles: int) -> dict[str, float]:
        n = max(cycles, 1)
        by_id = {s.id: s for s in spans}

        def entry_of(s) -> str:
            return by_id[s.op].name.removeprefix("graph.")

        out = {
            metric: sum(s.duration for s in spans if s.name == op and entry_of(s) == entry) / n
            for metric, (entry, op) in OPERATOR_METRICS.items()
        }
        for layer in ("closure", "dedup"):
            out[f"{layer}.jobs"] = (
                sum(s.counters["jobs"] for s in spans if s.name.startswith(layer + ".")) / n
            )
        return out
