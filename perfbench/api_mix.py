"""`api_mix`: one client in a closed loop on the public query path.

Each cycle sends one request of each of the 8 MetricsRequest shapes, in
a seeded order and with seeded ids and month ranges, through
`MetricsRequestPlanner.response` against events, identifiers and
citations built once at set-up.  A closed loop fits because the REST
layer outside the engine calls the dispatcher synchronously.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

import pyarrow.parquet as pq

from metrics_service_spark.catalog import all_queries
from metrics_service_spark.catalog import request as catalog
from metrics_service_spark.catalog.request import (
    citations_view,
    identifiers_view,
    metrics_event_view,
)
from metrics_service_spark.plans.metrics_request import (
    MetricsRequestPlanner,
    MetricsTables,
)
from metrics_service_spark.sources.tables import load_table

import inputs
from canon import matches_oracle

REQUEST_SPAN = "metrics_request.request"
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
# the catalog's 8 request entries, by the request each one sends
CATALOG_REQUESTS = {
    "metrics_request_landing": catalog.LANDING_REQUEST,
    "metrics_request_daily_country": catalog.DAILY_COUNTRY_REQUEST,
    "metrics_request_user": catalog.USER_REQUEST,
    "metrics_request_group": catalog.GROUP_REQUEST,
    "metrics_request_repository": catalog.REPOSITORY_REQUEST,
    "metrics_request_portal": catalog.PORTAL_REQUEST,
    "metrics_request_package": catalog.PACKAGE_REQUEST,
    "metrics_request_catalog_summary": catalog.CATALOG_SUMMARY_REQUEST,
}


def response_digest(response: dict) -> str:
    return hashlib.sha256(
        json.dumps(response, sort_keys=True, default=str).encode()
    ).hexdigest()[:24]


class TracedPlanner(MetricsRequestPlanner):
    """The planner with a span around each public build step; the rest
    of `response` (the collect and the reshaping) is the request span's
    self time."""

    def __init__(self, spark, tables, tracer):
        super().__init__(spark, tables)
        self.tracer = tracer

    def plan(self, request):
        with self.tracer.span("metrics_request.build"):
            return super().plan(request)

    def catalog_summary_frame(self, request):
        with self.tracer.span("metrics_request.build"):
            return super().catalog_summary_frame(request)


class ApiMix:
    op_spans = (REQUEST_SPAN,)
    measured_cycles = 2

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.data = inputs.EVENTS_DIR
        self.cycles = inputs.request_cycles(seed)
        # without a recorded digest every response fails its check
        self.expected = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as fh:
                self.expected = json.load(fh)
        self.digests: list[str] = []

    def generate(self) -> tuple[int, int]:
        # the events fixture as it is: one file, as the catalog's
        # loaders and oracles expect
        path = os.path.join(self.data, "events.parquet")
        return pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path)

    def prepare(self) -> None:
        ev = metrics_event_view(load_table(self.spark, self.data, "events"))
        top = inputs.N_PIDS - 1
        tables = MetricsTables(
            events=ev,
            identifiers=identifiers_view(self.spark, top),
            citations=citations_view(self.spark, top),
        )
        self.planner = MetricsRequestPlanner(self.spark, tables)
        self.traced = TracedPlanner(self.spark, tables, self.tracer)
        # the warm-up: the 8 catalog requests on these tables, whose
        # results are checked after the measured requests
        self.catalog_results = {}
        for name, request in CATALOG_REQUESTS.items():
            df = self._catalog_frame(name, request)
            self.catalog_results[name] = (df.columns, [tuple(r) for r in df.collect()])

    def cycle(self) -> list[tuple[str, float, bool]]:
        tr = self.tracer
        planner = self.traced if tr.enabled else self.planner
        ops = []
        for shape, request in next(self.cycles):
            if tr.enabled:
                self._family_probe(request)
            t0 = time.perf_counter()
            try:
                with tr.span(REQUEST_SPAN):
                    response = planner.response(request)
            except Exception:
                traceback.print_exc()
                ops.append((shape, time.perf_counter() - t0, False))
                continue
            dt = time.perf_counter() - t0
            digest = response_digest(response)
            self.digests.append(digest)
            ok = self.expected.get(inputs.request_key(request)) == digest
            if not ok:
                print(f"api_mix: response digest mismatch for {request}", file=sys.stderr)
            ops.append((shape, dt, ok))
        return ops

    def _family_probe(self, request: dict) -> None:
        """Run the identifier-family expansion of `request` on its own,
        as a sibling span outside the timed request."""
        scope = request["filterBy"][0]
        kind, values = scope["filterType"], scope["values"]
        if kind in ("repository", "portal"):
            return
        with self.tracer.span("metrics_request.family"):
            if kind == "catalog":
                self.planner.family_map(kind, values).collect()
            else:
                self.planner.family_pids(kind, values).collect()

    def checks(self) -> list[tuple[str, bool]]:
        """The 8 catalog requests of the warm-up, each compared with its
        DuckDB oracle."""
        specs = all_queries()
        return [
            (name, matches_oracle(cols, rows, specs[name].oracle, self.data, name))
            for name, (cols, rows) in self.catalog_results.items()
        ]

    def _catalog_frame(self, name: str, request: dict):
        if name == "metrics_request_catalog_summary":
            return self.planner.catalog_summary_frame(request)
        return self.planner.plan(request)

    def op_samples(self, cycles: list[list[tuple[str, float, bool]]]) -> list[float]:
        """Every request: `op_p50_ms` is the request p50."""
        return [dt for ops in cycles for _, dt, _ in ops]

    def summary(self) -> dict:
        """The order-insensitive digest of every response of the run."""
        joined = "\n".join(sorted(self.digests)).encode()
        return {"responses": len(self.digests), "digest": hashlib.sha256(joined).hexdigest()}

    def layers(self, spans: list, cycles: int) -> dict[str, float]:
        requests = [s for s in spans if s.name == REQUEST_SPAN]
        probes = [s for s in spans if s.name == "metrics_request.family"]
        n = max(len(requests), 1)
        build = sum(
            c.duration for s in requests for c in self.tracer.children(s)
            if c.name == "metrics_request.build"
        )
        inclusive = [self.tracer.inclusive(s) for s in requests]
        return {
            "metrics_request.family_s": sum(s.duration for s in probes) / max(len(probes), 1),
            "metrics_request.build_s": build / n,
            "metrics_request.collect_s": (sum(s.duration for s in requests) - build) / n,
            "metrics_request.jobs_per_request": sum(c["jobs"] for c in inclusive) / n,
            "metrics_request.stages_per_request": sum(c["stages"] for c in inclusive) / n,
        }
