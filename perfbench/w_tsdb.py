"""tsdb_query: interactive reads of one series family, the reference's
core use. Loads ``plans.sugar`` (parse + plan), Catalyst, the parquet
scan of ``sources.seriesfamily`` and ``operators.timeseries``; bypasses
the dedup/text/similarity operators and streaming.

A pass is a fixed, seeded and shuffled mix of small-result query
classes. Every seed gives the same multiset of classes and range kinds;
the seed picks series, thresholds, time ranges and order.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np
from pyspark.sql import functions as F

import datagen
from harness import Op, compare_rows

# class -> range kinds of its ops in one pass ("1h": one recent hour,
# "6h": six recent hours, "full": the whole family). Dialect classes go
# through sugar.parse + sugar.plan; the rest call operators.timeseries.
MIX = {
    "point_range": ("1h",),
    "group_agg": ("full",),
    "window_rank": ("6h",),
    "order_limit": ("full",),
    "param_rebind": ("1h",),
    "bucket_agg": ("full",),
    "rate": ("1h",),
    "asof_join": ("6h",),
}
DIALECT = {"point_range", "group_agg", "window_rank", "order_limit", "param_rebind"}
NS = 1_000


def _sql(cls: str, s: str, thr: float) -> str:
    """The boost-dialect statement of a dialect-class op."""
    if cls == "point_range":
        return f"SELECT {s}.host, {s} AS v FROM tsdb.metrics WHERE {s} > {thr}"
    if cls == "group_agg":
        return (
            f"SELECT floor({s} / 10) AS bin, count(*) AS n, max({s}) AS peak "
            "FROM tsdb.metrics GROUP BY bin"
        )
    if cls == "window_rank":
        return (
            f"SELECT {s}.host, {s} AS v, "
            f"rank() OVER (PARTITION BY {s}.dc ORDER BY {s} DESC) AS r "
            "FROM tsdb.metrics"
        )
    if cls == "order_limit":
        return f"SELECT {s}.host, {s} AS v FROM tsdb.metrics ORDER BY v DESC LIMIT 10"
    if cls == "param_rebind":
        return f"SELECT {s}.host, {s} AS v FROM tsdb.metrics WHERE {s} > :thr"
    raise ValueError(cls)


def _oracle_sql(spec: dict) -> str:
    """DuckDB statement over the written family that must return the
    same rows as the op."""
    cls, s, thr = spec["cls"], spec["series"], spec["thr"]
    rng = f"epoch_us(ts) >= {spec['start'] // NS} AND epoch_us(ts) < {spec['end'] // NS}"
    one = f"series = '{s}' AND {rng}"
    if cls in ("point_range", "param_rebind"):
        return f"SELECT host, value AS v FROM fam WHERE {one} AND value > {thr}"
    if cls == "group_agg":
        return (
            "SELECT floor(value / 10) AS bin, count(*) AS n, max(value) AS peak "
            f"FROM fam WHERE {one} GROUP BY bin"
        )
    if cls == "window_rank":
        return (
            "SELECT host, value AS v, "
            "rank() OVER (PARTITION BY dc ORDER BY value DESC) AS r "
            f"FROM fam WHERE {one}"
        )
    if cls == "order_limit":
        return f"SELECT host, value AS v FROM fam WHERE {one} ORDER BY v DESC LIMIT 10"
    if cls == "bucket_agg":
        return (
            "SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket, series, "
            f"count(*) AS n, max(value) AS peak FROM fam WHERE {one} GROUP BY ALL"
        )
    if cls == "rate":
        return (
            "SELECT t, value, CASE WHEN dt > 0 THEN dv / (dt / 1000000.0) END "
            "FROM (SELECT epoch_us(ts) AS t, value, "
            "value - lag(value) OVER w AS dv, "
            "CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS DOUBLE) AS dt "
            f"FROM fam WHERE {one} WINDOW w AS (PARTITION BY series ORDER BY ts))"
        )
    if cls == "asof_join":
        r = f"series = '{spec['series2']}' AND {rng}"
        return (
            "SELECT l.ts, l.value, r.v2 FROM (SELECT dc, ts, value FROM fam "
            f"WHERE {one}) l ASOF LEFT JOIN (SELECT dc, ts, value AS v2 FROM fam "
            f"WHERE {r}) r ON l.dc = r.dc AND l.ts >= r.ts"
        )
    raise ValueError(cls)


class TsdbQuery:
    #: Typical wall of one pass on a 4-core host; ``--seconds`` divided
    #: by it gives the number of measured passes.
    nominal_pass_s = 4.0
    #: Time inside a pass that is not the program's (none here).
    untimed_s = 0.0

    def __init__(self, b):
        from boostdb_spark.plans import sugar
        from boostdb_spark.sources.seriesfamily import SeriesFamily

        self.b = b
        self.sugar = sugar
        self.fam = SeriesFamily(b.spark, "tsdb", "metrics", os.path.join(b.root, "data"))
        self.binding = sugar.SeriesFamilyBinding(view=self.fam.view_name)
        self.parsed: dict[str, object] = {}
        self.oracle: dict[tuple, list] = {}
        self.specs = self._specs(b.seed)
        self.layer = {}
        self.con = None

    # ---------------------------------------------------------------- setup
    def setup_data(self) -> None:
        """Generate the family in a child process, write it with
        ``SeriesFamily.write`` and register it. Timed as
        ``seriesfamily.write_s`` (Spark ingest only)."""
        raw = os.path.join(self.b.root, "raw")
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "datagen.py"),
             "family", "--seed", str(self.b.seed), "--out", raw],
            check=True,
        )
        df = self.b.spark.read.parquet(os.path.join(raw, "family.parquet"))
        t0 = time.perf_counter()
        self.fam.write(df, mode="overwrite")
        write_s = time.perf_counter() - t0
        self.fam.register()
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(self.fam.path)
            for f in fs
            if f.endswith(".parquet")
        ]
        rows = datagen.N_SERIES * datagen.POINTS_PER_SERIES
        self.layer = {
            "seriesfamily.write_s": write_s,
            "seriesfamily.files_written": len(files),
            "seriesfamily.stored_bytes_per_row": sum(map(os.path.getsize, files)) / rows,
            "seriesfamily.ingest_rows_per_s": rows / write_s,
        }
        self.total_files = len(files)

    def _specs(self, seed: int) -> list[dict]:
        rng = np.random.default_rng([seed, 10])
        t0, t1 = datagen.family_span_us()
        last_hour = (t1 - t0) // datagen.HOUR_US - 6
        specs = []
        for cls, kinds in MIX.items():
            for kind in kinds:
                sid = int(rng.integers(0, datagen.N_SERIES))
                # recent data is read most: hours back ~ exponential(24)
                back = min(int(rng.exponential(24.0)), last_hour)
                end = t1 - back * datagen.HOUR_US
                span = {"1h": 1, "6h": 6}.get(kind)
                start = t0 if span is None else end - span * datagen.HOUR_US
                if kind == "full":
                    end = t1
                thr = 99.0 if (kind == "full" and cls == "point_range") else round(
                    float(rng.uniform(0.0, 90.0)), 2
                )
                specs.append(
                    {
                        "cls": cls,
                        "kind": kind,
                        "series": datagen.series_names()[sid],
                        "series2": datagen.series_names()[(sid + 4) % datagen.N_SERIES],
                        "thr": thr,
                        "start": start * NS,
                        "end": end * NS,
                    }
                )
        order = rng.permutation(len(specs))
        return [specs[i] for i in order]

    def pass_ops(self) -> list[Op]:
        return [Op(f"{i}:{s['cls']}", s["cls"], s) for i, s in enumerate(self.specs)]

    # ---------------------------------------------------------------- ops
    def _build(self, op: Op):
        tr, spec = self.b.tracer, op.spec
        sugar = self.sugar
        if op.cls in DIALECT:
            if op.cls == "param_rebind":
                key = spec["series"]
                if key not in self.parsed:
                    with tr.span("sugar.parse"):
                        self.parsed[key] = sugar.parse(_sql(op.cls, key, 0.0))
                q, params = self.parsed[key], {"thr": spec["thr"]}
            else:
                with tr.span("sugar.parse"):
                    q = sugar.parse(_sql(op.cls, spec["series"], spec["thr"]))
                params = None
            with tr.span("sugar.plan"):
                return sugar.plan(
                    self.b.spark, q, self.binding,
                    start=spec["start"], end=spec["end"], params=params,
                )
        from boostdb_spark.operators import timeseries as ts_ops
        from boostdb_spark.sources.seriesfamily import apply_time_range

        def fetch(series):
            df = self.b.spark.table(self.fam.view_name).filter(F.col("series") == series)
            return apply_time_range(df, spec["start"], spec["end"])

        with tr.span("timeseries.call"):
            if op.cls == "bucket_agg":
                return ts_ops.bucket_agg(
                    fetch(spec["series"]), 3600, ["series"],
                    [F.count(F.lit(1)).alias("n"), F.max("value").alias("peak")],
                ).select("bucket", "series", "n", "peak")
            if op.cls == "rate":
                df = fetch(spec["series"]).withColumn("t", F.unix_micros("ts"))
                return ts_ops.rate(
                    df, ts_col="t", ticks_per_second=1e6
                ).select("t", "value", "rate")
            if op.cls == "asof_join":
                left = fetch(spec["series"]).select("dc", "ts", "value")
                right = fetch(spec["series2"]).select(
                    "dc", "ts", F.col("value").alias("v2")
                )
                return ts_ops.asof_join(left, right, on=["dc"]).select(
                    "ts", "value", "v2"
                )
        raise ValueError(op.cls)

    def run_pass(self, ops: list[Op]) -> None:
        b, tr = self.b, self.b.tracer
        for op in ops:
            plan_group = f"{op.op_id}/{'plan' if op.cls in DIALECT else 'build'}"
            op.groups = [plan_group, f"{op.op_id}/exec"]
            t0 = time.perf_counter()
            with tr.span("op", op.op_id):
                try:
                    b.ledger.set_group(plan_group)
                    df = self._build(op)
                    b.ledger.set_group(op.groups[1])
                    with tr.span("catalyst.physical_plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec"):
                        op.result = df.collect()
                        tr.count("rows", len(op.result))
                    op.df = df
                except Exception as e:  # a failed op is counted, not fatal
                    op.error = repr(e)
            op.latency_ms = (time.perf_counter() - t0) * 1e3
        b.ledger.clear_group()

    # ---------------------------------------------------------------- checks
    def check(self, ops: list[Op]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            "CREATE OR REPLACE VIEW fam AS SELECT * FROM read_parquet("
            f"'{self.fam.path}/*/*.parquet', hive_partitioning = true)"
        )
        for op in ops:
            if op.error:
                continue
            key = tuple(sorted(op.spec.items()))
            if key not in self.oracle:
                self.oracle[key] = self.con.sql(_oracle_sql(op.spec)).fetchall()
            op.problems = compare_rows(
                op.result, self.oracle[key], ordered=op.cls == "order_limit"
            )

    def close(self) -> None:
        if self.con is not None:
            self.con.close()

    def traced_metrics(self, ops: list[Op], spans: list[dict]) -> dict[str, float]:
        """Per-pass layer counters only the traced run reads."""
        from harness import scanned_files

        scans = [scanned_files(op.df) for op in ops if op.error is None]
        files = sum(f for s in scans for f in s)
        return {
            "seriesfamily.files_scanned_per_query": files / max(len(scans), 1),
            "seriesfamily.scan_file_ratio": files
            / max(sum(len(s) for s in scans) * self.total_files, 1),
        }
