"""`refresh_batch`: the nightly gold refresh over a replicated event log.

Each cycle is one night, in six timed steps:

1. the star: `metrics_star` written with `overwrite_table`;
2. the 7 mat-views: `build_matview` over the written star, each written;
3. the `sushi_instances` report, written;
4. the sessions: `sessionize` + `session_bounds`, written;
5. one new day of events folded into the star through
   `incremental_star_refresh(table_format="manifest")`, which recomputes
   the day's month from the silver directory and merges it with
   `merge_table`;
6. the graph pass (graphs.py): tiered dedup and k-NN PageRank, each a
   catalog entry of its own, over the fixture tables.

The new day lands in a month of its own, so every night folds the same
amount of work; the previous night's day file leaves the silver
directory before the next one arrives.  The first night's fold also
takes in the whole silver directory, so the streaming checkpoint holds
the base events before any timed night.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
import traceback
from functools import partial

import duckdb
import numpy as np
from pyspark.sql import functions as F

from metrics_service_spark.catalog import all_queries
from metrics_service_spark.operators.sessionize import session_bounds, sessionize
from metrics_service_spark.plans.gold import MATVIEWS, build_matview, metrics_star
from metrics_service_spark.plans.sushi import sushi_instances
from metrics_service_spark.sources.eventlog import counter_filter, eventlog_view
from metrics_service_spark.sources.merge_table import (
    current_version,
    overwrite_table,
    read_table,
    vacuum,
)
from metrics_service_spark.sources.tables import load_table
from metrics_service_spark.streaming.gold_refresh import incremental_star_refresh

import inputs
from graphs import GraphPass

COPIES = 2
WARM_UP_NIGHTS = 1
NEW_DAY = np.datetime64("2024-03-01T00:00:00", "us")


def _manifest_files(table_dir: str) -> list[str]:
    """Data files of the newest committed version of a manifest table."""
    v = current_version(table_dir)
    with open(os.path.join(table_dir, "_manifests", f"v{v}.json")) as fh:
        return [os.path.join(table_dir, e["path"]) for e in json.load(fh)["files"]]


REFRESH_STEPS = ("gold.star", "gold.matviews", "sushi.report", "sessionize.bounds", "gold_refresh.fold")


class RefreshBatch:
    op_spans = REFRESH_STEPS + GraphPass.op_spans
    measured_cycles = 1

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        d = partial(os.path.join, work)
        self.data, self.day_data = d("data"), d("day")
        self.silver, self.day_silver, self.checkpoint = d("silver"), d("day_silver"), d("ckpt")
        self.star, self.sushi, self.sessions = d("gold", "star"), d("gold", "sushi"), d("gold", "sessions")
        self.matviews = {name: d("gold", "mv", name) for name in MATVIEWS}
        self.nights = 0
        self.day_file: str | None = None
        self.graph = GraphPass(spark, tracer)

    # -- set-up ---------------------------------------------------------
    def generate(self) -> tuple[int, int]:
        base = inputs.events()
        rows, size = inputs.write(
            inputs.replicate(base, COPIES, self.seed), os.path.join(self.data, "events.parquet")
        )
        inputs.write(
            inputs.new_day(base, COPIES, self.seed, NEW_DAY),
            os.path.join(self.day_data, "events.parquet"),
        )
        return rows, size

    def prepare(self) -> None:
        spark = self.spark
        eventlog_view(load_table(spark, self.data, "events")).write.mode(
            "overwrite"
        ).parquet(self.silver)
        eventlog_view(load_table(spark, self.day_data, "events")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self.day_silver)
        (self._staged_day,) = glob.glob(os.path.join(self.day_silver, "part-*.parquet"))
        self.graph.install()
        for _ in range(WARM_UP_NIGHTS):
            self.cycle()

    # -- the night ------------------------------------------------------
    def cycle(self) -> list[tuple[str, float, bool]]:
        steps = (self._star, self._matviews, self._sushi, self._sessions)
        ops = [self._step(name, step) for name, step in zip(REFRESH_STEPS, steps)]
        self._land_day()
        ops.append(self._step("gold_refresh.fold", self._fold))
        for table in (self.star, self.sushi, self.sessions, *self.matviews.values()):
            vacuum(table, retention_seconds=0)
        return ops + self.graph.run()

    def _step(self, name: str, step) -> tuple[str, float, bool]:
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name) as span:
                step(span)
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        return name, time.perf_counter() - t0, ok

    def _land_day(self) -> None:
        if self.day_file:
            os.remove(self.day_file)
        self.nights += 1
        self.day_file = os.path.join(self.silver, f"day-{self.nights:04d}.parquet")
        shutil.copyfile(self._staged_day, self.day_file + ".tmp")
        os.replace(self.day_file + ".tmp", self.day_file)

    def _load_events(self):
        with self.tracer.span("sources.load"):
            return load_table(self.spark, self.data, "events")

    def _write(self, df, table_dir: str, partition_cols=None) -> None:
        with self.tracer.span("sources.write") as span:
            overwrite_table(df, table_dir, partition_cols=partition_cols)
        if span is not None:
            span.attrs["bytes"] = sum(os.path.getsize(f) for f in _manifest_files(table_dir))

    def _star(self, span) -> None:
        star = metrics_star(eventlog_view(self._load_events()))
        self._write(star, self.star, ["year", "month"])

    def _matviews(self, span) -> None:
        with self.tracer.span("sources.load"):
            star = read_table(self.spark, self.star)
        for name, table_dir in self.matviews.items():
            self._write(build_matview(self.spark, star, name), table_dir)

    def _sushi(self, span) -> None:
        report = sushi_instances(counter_filter(eventlog_view(self._load_events())))
        self._write(report, self.sushi)

    def _sessions(self, span) -> None:
        ev = self._load_events()
        sessions = sessionize(ev, "user_id", "ts", gap_minutes=60, order_tiebreak=["event_id"])
        bounds = session_bounds(sessions, "user_id", "ts").select(
            "user_id",
            F.col("session_seq").cast("long").alias("session_seq"),
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
        self._write(bounds, self.sessions)

    def _fold(self, span) -> None:
        before = set(_manifest_files(self.star)) if span is not None else set()
        query = incremental_star_refresh(
            self.spark, self.silver, self.star, self.checkpoint, table_format="manifest"
        )
        self.tracer.add_group(span, str(query.runId))
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"gold refresh failed: {query.exception()}")
        if span is not None:
            span.attrs["bytes"] = sum(
                os.path.getsize(f) for f in set(_manifest_files(self.star)) - before
            )

    # -- output checks --------------------------------------------------
    def checks(self) -> list[tuple[str, bool]]:
        """Compare the last night's tables with the catalog's DuckDB
        oracles, run over the generated events.  The mat-views, report
        and sessions were built before the fold, the star after it."""
        specs = all_queries()
        base = os.path.join(self.data, "events.parquet", "*.parquet")
        day = os.path.join(self.day_data, "events.parquet", "*.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{base}')")
            pairs = [(f"matview_{n}", d) for n, d in self.matviews.items()]
            pairs += [("sushi_instances", self.sushi), ("ev_sessionize", self.sessions)]
            out = [(name, _matches(con, specs[name].oracle, d, name)) for name, d in pairs]
            con.execute(
                f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet(['{base}', '{day}'])"
            )
            out.append(("metrics_star", _matches(con, specs["metrics_star"].oracle, self.star, "metrics_star")))
        finally:
            con.close()
        return out + self.graph.checks()

    def op_samples(self, cycles: list[list[tuple[str, float, bool]]]) -> list[float]:
        """The full rebuild of each night, steps 1-4: `op_p50_ms` is
        its median.  The fold and the graph
        pass are timed in `cycle_s` and per layer only: one of each per
        run spread by a quarter of their median over ten runs, as much
        as any bound may allow, while the rebuild spread by a tenth."""
        rebuild = set(REFRESH_STEPS[:4])
        return [sum(dt for name, dt, _ in ops if name in rebuild) for ops in cycles]

    def summary(self) -> dict:
        rows, size = self.graph.size()
        return {"nights": self.nights, "graph_input_rows": rows, "graph_input_bytes": size}

    def layers(self, spans: list, cycles: int) -> dict[str, float]:
        n = max(cycles, 1)

        def total(name: str) -> float:
            return sum(s.duration for s in spans if s.name == name) / n

        written = sum(
            s.attrs.get("bytes", 0) for s in spans if s.name in ("sources.write", "gold_refresh.fold")
        )
        return {
            "sources.load_s": total("sources.load"),
            "sources.write_s": total("sources.write"),
            "sources.bytes_written": written / n,
            "gold.star_s": total("gold.star"),
            "gold.matviews_s": total("gold.matviews"),
            "sushi.report_s": total("sushi.report"),
            "sessionize.bounds_s": total("sessionize.bounds"),
            "gold_refresh.fold_s": total("gold_refresh.fold"),
            **self.graph.layers(spans, cycles),
        }


def _matches(con, oracle_sql: str, table_dir: str, name: str) -> bool:
    """True when the table's rows equal the oracle's as multisets."""
    files = "[" + ", ".join(f"'{f}'" for f in _manifest_files(table_dir)) + "]"
    written = f"read_parquet({files}, hive_partitioning = true)"
    o_cols = [d[0] for d in con.execute(f"SELECT * FROM ({oracle_sql}) LIMIT 0").description]
    s_cols = [d[0] for d in con.execute(f"SELECT * FROM {written} LIMIT 0").description]
    if sorted(o_cols) != sorted(s_cols):
        print(f"{name}: columns {sorted(s_cols)} != oracle {sorted(o_cols)}", file=sys.stderr)
        return False
    cols = ", ".join(f'"{c}"' for c in sorted(o_cols))
    extra, missing, rows = con.execute(
        f"""WITH o AS ({oracle_sql}), s AS (SELECT {cols} FROM {written})
        SELECT (SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL SELECT {cols} FROM o)),
               (SELECT count(*) FROM (SELECT {cols} FROM o EXCEPT ALL SELECT {cols} FROM s)),
               (SELECT count(*) FROM o)"""
    ).fetchone()
    if extra or missing or not rows:
        print(f"{name}: {extra} extra and {missing} missing rows of {rows}", file=sys.stderr)
        return False
    return True
